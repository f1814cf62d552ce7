package graft.tools

import graft.{Bench, GraftSession}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale check: synthesizes 10× (documents) / 5× (embeddings) corpora
  * with the fixture schemas into /tmp and times the operators whose
  * cost could grow super-linearly (candidate-pair dedup, similarity
  * search), printing 1× vs N× wall-clock so scaling exponents are
  * measured, not guessed. Results land in SCALE.md. Each rep is one
  * [[graft.Bench.runOnce]], the bench's own timing loop. Usage:
  *   sbt "runMain graft.tools.ScaleSmoke"
  *
  * Synthesis is fully expression-based (no driver-side data) and
  * deterministic (xxhash64-derived), so runs are comparable.
  */
object ScaleSmoke {

  private val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "window", "spark", "order",
    "data", "column", "join", "small", "line", "customer", "query", "the",
    "a", "big", "stream", "filter", "sort", "dedup", "shard")

  def synthesize(spark: SparkSession, dir: String, nDocs: Long, nVecs: Long): Unit = {
    val vocabArr = array(vocab.map(lit): _*)
    spark.range(nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", expr(
          s"""transform(sequence(1, 40 + CAST(pmod(xxhash64(id), 40) AS INT)),
             | i -> element_at(${"v"}, 1 + CAST(pmod(xxhash64(concat(CAST(id AS STRING), '_', CAST(i AS STRING))), ${vocab.size}) AS INT)))""".stripMargin
            .replace("v", s"array(${vocab.map(w => s"'$w'").mkString(",")})"))).as("text"),
        element_at(array(lit("en"), lit("de"), lit("es"), lit("fr"), lit("zh")),
          (pmod(xxhash64(col("id") + 7), lit(5)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    spark.range(nVecs)
      .select(col("id").as("vec_id"),
        expr(
          """transform(sequence(1, 64),
            | i -> CAST(CAST(pmod(xxhash64(concat(CAST(id AS STRING), '#', CAST(i AS STRING))), 2000) AS DOUBLE) / 1000.0 - 1.0 AS FLOAT))""".stripMargin)
          .as("embedding"),
        pmod(col("id"), lit(3)).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    val base = "/root/testdata/sf0.1"
    val big = "/tmp/graft_scale"
    synthesize(spark, big, nDocs = 50000L, nVecs = 10000L)

    val ops = Seq("q41_dedup_exact_groups", "q43_ngram_jaccard", "q44_minhash_lsh",
      "q45_simhash", "q46_text_quality", "q48_fingerprint",
      "q49_cosine_topk", "q50_embedding_neardup", "q51_ann_lsh")

    def run(name: String, dir: String): Double = Bench.runOnce(spark, name, dir)
    println(f"${"op"}%-26s ${"1x(sf0.1)"}%10s ${"10x-docs/5x-vecs"}%16s ${"ratio"}%7s")
    ops.foreach { name =>
      run(name, base) // warm: whole-stage codegen compiles once, untimed
      val t1 = run(name, base)
      val t2 = run(name, big)
      println(f"SCALE $name%-26s $t1%10.2f $t2%16.2f ${t2 / t1}%7.1f")
    }
    spark.stop()
  }
}
