package graft.tools

import graft.{Bench, GraftSession}

/** Time a single declared query N times on a fixture dir (dev tool). */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.create()
    for (i <- 1 to reps) {
      val t = Bench.runOnce(spark, name, dir)
      println(f"BENCHONE $name rep$i $t%7.2f s")
    }
    spark.stop()
  }
}
