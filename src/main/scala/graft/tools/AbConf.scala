package graft.tools

import graft.{Bench, GraftSession}

/** In-JVM A/B of a runtime SQL conf over declared queries (dev tool,
  * guide §1): one session, per-query codegen warm, then interleaved
  * reps with the conf set to A and B — same JVM, same caches, so the
  * delta is the conf and not fresh-JVM jitter. Usage:
  *   sbt "runMain graft.tools.AbConf <q1,q2,...> <confKey> <valA> <valB> [reps] [sfDir]"
  */
object AbConf {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val key = args(1)
    val valA = args(2)
    val valB = args(3)
    val reps = if (args.length > 4) args(4).toInt else 4
    val dir = if (args.length > 5) args(5) else "/root/testdata/sf0.1"
    // "evict" as 7th arg: evict the shared derivations before every rep
    // (the bench steady-block protocol) so the A/B covers the BUILD
    // cost of DerivationCache-backed inventories, not just their reuse
    val evict = args.length > 6 && args(6) == "evict"
    val spark = GraftSession.create()
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    var lastGc = 0L
    def once(name: String): Double = {
      if (evict) {
        graft.plans.DerivationCache.evictAll()
        graft.plans.DerivationCache.dropOrphans(spark.sparkContext)
      }
      val g0 = gcMs
      val t = Bench.runOnce(spark, name, dir)
      lastGc = gcMs - g0
      t
    }
    names.foreach { n =>
      once(n); once(n) // codegen + derivation warm (both plans compile below anyway)
      val as = collection.mutable.ArrayBuffer.empty[Double]
      val bs = collection.mutable.ArrayBuffer.empty[Double]
      val ag = collection.mutable.ArrayBuffer.empty[Long]
      val bg = collection.mutable.ArrayBuffer.empty[Long]
      for (_ <- 1 to reps) {
        spark.conf.set(key, valA); as += once(n); ag += lastGc
        spark.conf.set(key, valB); bs += once(n); bg += lastGc
      }
      def stats(xs: Seq[Double], gs: Seq[Long]) =
        f"min=${xs.min}%5.2f med=${xs.sorted.apply(xs.size / 2)}%5.2f gc=${gs.sum / gs.size}%4dms"
      println(s"ABCONF $n  A($valA): ${stats(as.toSeq, ag.toSeq)}   B($valB): ${stats(bs.toSeq, bg.toSeq)}")
    }
    spark.stop()
  }
}
