package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.DerivationCache

/** The measurement and correctness-dump entry points the mains share:
  * `Verify.dump` (correctness dump, optionally restricted to named queries)
  * and `Bench.runOnce` (the one timing loop and its cache hygiene). */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

  test("Verify.dump with two names writes exactly those result dirs and their oracle SQL") {
    val names = Set("q55_udf_vowels", "q56_udaf_geomean")
    val out = tmp("graft_verify_dump")
    Verify.dump(spark, dir, out.toString, Some(names))
    val entries = Files.list(out).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(entries == names + "oracle_sql.json")
    names.foreach(n => assert(Files.exists(out.resolve(n).resolve("_SUCCESS")),
      s"$n: result parquet not committed"))
    // the hand-rolled escaper must produce JSON a real parser accepts
    // (the oracle SQL carries newlines and quotes), value for value
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(out.resolve("oracle_sql.json").toFile,
        classOf[java.util.Map[String, String]])
    assert(parsed.asScala.toMap == SparkEntry.oracleSql.filter(kv => names(kv._1)))
    assert(parsed.size == 2)
  }

  test("Verify.dump rejects an unknown name before any query runs") {
    val out = tmp("graft_verify_unknown").resolve("out")
    val e = intercept[IllegalArgumentException] {
      Verify.dump(spark, dir, out.toString,
        Some(Set("q55_udf_vowels", "q0_no_such_query")))
    }
    assert(e.getMessage.contains("q0_no_such_query"))
    assert(!Files.exists(out), "a query ran before the name check")
  }

  test("Bench.runOnce leaves only DerivationCache-owned RDDs persisted") {
    val sc = spark.sparkContext
    // non-vacuous: building q166 eagerly checkpoints a frame no cache owns
    SparkEntry.queries("q166_cohort_ltv")(spark, dir)
    assert(sc.getPersistentRDDs.keySet.exists(id => !DerivationCache.ownedRddIds(id)),
      "q166 no longer checkpoints: pick another ckpt() query")
    // q43 builds the cache-owned pair graph; q166 its orphaned checkpoint
    Seq("q43_ngram_jaccard", "q166_cohort_ltv").foreach { name =>
      assert(Bench.runOnce(spark, name, dir) > 0.0)
      val owned = DerivationCache.ownedRddIds
      val persisted = sc.getPersistentRDDs.keySet
      assert(persisted.subsetOf(owned),
        s"$name left orphaned RDDs persisted: ${persisted -- owned}")
      assert(owned.exists(persisted), s"$name dropped the owned derivations")
    }
  }
}
