package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.execution.FormattedMode

/** Scratch main behind PLANS.md: prints the formatted physical plan of
  * the query names passed as args (default: the newest operators). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.create()
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q73_decontaminate", "q74_pii_scrub", "q75_repetition_stats",
        "q76_stratified_sample", "q77_vocab_oov", "q78_token_rarity",
        "q70_dedup_clusters")
    names.foreach { n =>
      println(s"===== $n")
      println(SparkEntry.queries(n)(spark, d).queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
