package graft.tools

import graft.{Bench, GraftSession}
import org.apache.spark.JobExecutionStatus
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-stage time attribution for a declared query (dev tool, guide §1):
  * runs the query once to warm codegen/caches, then once more under a
  * listener that records every stage's wall duration, summed task time,
  * task count and name — printed slowest-first so the optimization
  * target is the first line. Usage:
  *   sbt "runMain graft.tools.ProfileOne q110_dup_ngram_fraction,q44_minhash_lsh [sfDir]"
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.create()
    names.foreach(profile(spark, dir, _))
    spark.stop()
  }

  /** How long the listener bus may lag behind the measured run before
    * the profile is refused as incomplete. */
  private val drainTimeoutMs = 60000L

  private def profile(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): Unit = {
    val sc = spark.sparkContext
    val group = s"graft-profile-$name"

    final case class StageRec(id: Int, name: String, tasks: Int,
        taskTimeMs: Long, wallMs: Long, maxTaskMs: Long)
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val taskTime = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val maxTask = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val groupStages = mutable.Set.empty[Int]
    val endedJobs = mutable.Set.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
        // SQL broadcast jobs inherit the group through the captured
        // local properties, so the group names every job of the query
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          groupStages ++= j.stageIds
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
        endedJobs += j.jobId
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        val ms = Option(t.taskInfo).map(_.duration).getOrElse(0L)
        taskTime(t.stageId) += ms
        if (ms > maxTask(t.stageId)) maxTask(t.stageId) = ms
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
        val i = s.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(0L)
        stages += StageRec(i.stageId, i.name.takeWhile(_ != '\n'), i.numTasks,
          taskTime(i.stageId), wall, maxTask(i.stageId))
      }
    }

    val warm1 = Bench.runOnce(spark, name, dir) // codegen + shared-derivation warm
    val warm2 = Bench.runOnce(spark, name, dir)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, s"ProfileOne $name")
    val t = try Bench.runOnce(spark, name, dir) finally sc.clearJobGroup()
    // Drain the async listener bus BEFORE detaching: events still queued
    // at removal are silently dropped and the profile would under-report
    // stages. A job's task and stage events are delivered before its
    // JobEnd, so the listener has everything once it has seen JobEnd for
    // every job of the group. The fence job makes the group's id list
    // complete: job ids are monotonic and each bus queue delivers in
    // order, so once both this listener and the status store have seen
    // the fence finish, they have seen every measured job start.
    val fence = sc.submitJob(sc.parallelize(Seq(0), 1),
      (_: Iterator[Int]) => (), Seq(0), (_: Int, _: Unit) => (), ())
    scala.concurrent.Await.ready(fence, scala.concurrent.duration.Duration.Inf)
    val fenceId = fence.jobIds.head
    def drained: Boolean =
      listener.synchronized(endedJobs.contains(fenceId)) &&
        sc.statusTracker.getJobInfo(fenceId)
          .exists(_.status == JobExecutionStatus.SUCCEEDED) &&
        sc.statusTracker.getJobIdsForGroup(group)
          .forall(id => listener.synchronized(endedJobs.contains(id)))
    val deadline = System.currentTimeMillis() + drainTimeoutMs
    while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(20)
    sc.removeSparkListener(listener)
    if (!drained)
      throw new IllegalStateException(s"ProfileOne $name: the listener bus " +
        s"did not deliver every JobEnd of the measured run within " +
        s"${drainTimeoutMs / 1000} s; refusing to print a short profile")
    val measured = listener.synchronized(stages.filter(s => groupStages(s.id)).toSeq)
    println(f"PROFILE $name warm1=$warm1%.2f warm2=$warm2%.2f measured=$t%.2f s, ${measured.size} stages")
    val sorted = measured.sortBy(-_.wallMs)
    sorted.take(25).foreach { s =>
      println(f"PROFILE  stage=${s.id}%4d wall=${s.wallMs}%6d ms task_sum=${s.taskTimeMs}%6d ms max_task=${s.maxTaskMs}%6d ms tasks=${s.tasks}%4d  ${s.name.take(90)}")
    }
    println(f"PROFILE  total_stage_wall=${sorted.map(_.wallMs).sum}%d ms (overlaps possible)")
  }
}
