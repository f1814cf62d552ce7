package graft.perfbench

import graft.plans.DerivationCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared state of one benchmark run. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val seconds: Double, val work: java.io.File, val fixture: String, val res: Result) {
  val sc = spark.sparkContext

  def withResult(other: Result): Run = new Run(spark, tracer, seed, seconds, work, fixture, other)

  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  /** The measurement harness's cleanup between operations: unpersist
    * every RDD a finished operation left cached, except the shared
    * derivations `DerivationCache` owns. */
  def dropOrphans(): Unit = span("plans.orphan_drop")(DerivationCache.dropOrphans(sc))

  def evictAll(): Unit = span("plans.evict")(DerivationCache.evictAll())

  /** A fresh, empty directory under the run's work dir. */
  def freshDir(name: String): java.io.File = {
    val d = new java.io.File(work, name)
    Run.deleteTree(d)
    d.mkdirs()
    d
  }

  /** How many units of work a run measures: enough to fill `seconds` at
    * the unit's nominal duration, and at least `min`. A fixed count per
    * `--seconds` keeps the sample size, and so the tail percentile the
    * sample supports, the same on every run. */
  def units(nominalS: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominalS).toInt)
}

object Run {
  def ms[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Row count and an order-insensitive content hash: the exact sum of a
    * 64-bit hash of each row's string rendering. */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map("c" + _): _*)
    val row = named.agg(count(lit(1)),
      sum(xxhash64(struct(named.columns.toIndexedSeq.map(col): _*).cast("string"))
        .cast("decimal(20,0)"))).head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(files)
    else if (f.isFile) Seq(f) else Nil

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
    ()
  }
}
