package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Usage: runMain graft.Verify <sfDir> <outDir> [q1,q2,...] — the
    * optional comma list restricts the dump (results and oracle SQL) to
    * the named queries, so tools/check_oracle.py can pre-flight just
    * the queries under work. */
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(sf, out) => (sf, out, None)
      case Array(sf, out, names) => (sf, out, Some(names.split(',').toSet))
      case _ => throw new IllegalArgumentException(
        "usage: graft.Verify <sfDir> <outDir> [q1,q2,...]")
    }
    val spark = GraftSession.create()
    try dump(spark, sfDir, outDir, only) finally spark.stop()
  }

  /** Writes `outDir/<name>` parquet for every declared query (or only
    * those in `only`) and the matching `outDir/oracle_sql.json`. A
    * failing query is logged and skipped; an unknown name in `only` is
    * rejected before any query runs. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    val queries = SparkEntry.queries
    val unknown = only.getOrElse(Set.empty) -- queries.keySet
    require(unknown.isEmpty,
      s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      if (wanted(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
