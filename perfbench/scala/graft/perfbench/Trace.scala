package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Work counted for one span from listener events: the jobs, stages and
  * tasks whose job was submitted while the span was innermost, plus the
  * Catalyst phases of the queries executed in it. */
final class Work {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuMs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  /** Parquet schema-inference jobs, recognised by their call site. */
  var schemaJobs, schemaMs = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  def catalystMs: Long = analysisMs + optimizationMs + planningMs

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskRunMs += o.taskRunMs; taskCpuMs += o.taskCpuMs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; schemaJobs += o.schemaJobs; schemaMs += o.schemaMs
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
  }

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuMs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "schema_jobs" -> schemaJobs, "schema_ms" -> schemaMs,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs)
}

/** One layer call. The layer is the name's first dot-separated part. */
final class Span(val id: Int, val name: String, val parent: Int, val op: String,
    val startNs: Long) {
  var endNs: Long = startNs
  /** Time spent draining the listener bus at this span's children's ends. */
  var traceNs: Long = 0L
  val work = new Work
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the program, with listener
  * counters attributed to the innermost open span through a job-local
  * property. Disabled, `span` only runs its body: no listener is
  * attached and nothing is drained. Spans stay in memory until the run
  * writes them out. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  private val root = new Span(0, "unattributed", -1, "", System.nanoTime())
  val spans = mutable.ArrayBuffer(root)
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  byId.put(0, root)
  private var stack = List(root)
  private var currentOp = ""
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val schemaJobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  private var drainNs = 0L
  private var drainNsAtMark = 0L

  private def spanOf(m: java.util.concurrent.ConcurrentHashMap[Int, Span], k: Int): Span =
    Option(m.get(k)).getOrElse(root)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(id => Option(byId.get(id.toInt))).getOrElse(root)
      jobSpan.put(e.jobId, s)
      e.stageIds.foreach(stageSpan.put(_, s))
      s.work.jobs += 1
      if (e.stageInfos.exists(_.name.contains("Tables.scala"))) {
        s.work.schemaJobs += 1
        schemaJobStart.put(e.jobId, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      Option(schemaJobStart.remove(e.jobId)).foreach { t0 =>
        spanOf(jobSpan, e.jobId).work.schemaMs += e.time - t0
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { spanOf(stageSpan, e.stageInfo.stageId).work.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val w = spanOf(stageSpan, e.stageId).work
      w.tasks += 1
      if (e.reason != org.apache.spark.Success) w.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.taskRunMs += m.executorRunTime
        w.taskCpuMs += m.executorCpuTime / 1000000L
        w.gcMs += m.jvmGCTime
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      executions.add(qe); ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
      executions.add(qe); ()
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Names the operation the following spans belong to (a query, a cycle). */
  def op[T](name: String)(f: => T): T = {
    val saved = currentOp
    currentOp = name
    try f finally currentOp = saved
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.head
      val s = Tracer.this.synchronized {
        val s = new Span(spans.size, name, parent.id, currentOp, System.nanoTime())
        spans += s
        byId.put(s.id, s)
        s
      }
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, if (parent.id == 0) null else parent.id.toString)
        org.apache.spark.perfbench.Bus.drain(sc)
        var qe = executions.poll()
        while (qe != null) {
          val phases = qe.tracker.phases
          def phase(n: String) = phases.get(n).map(_.durationMs).getOrElse(0L)
          s.work.analysisMs += phase("analysis")
          s.work.optimizationMs += phase("optimization")
          s.work.planningMs += phase("planning")
          qe = executions.poll()
        }
        val dt = System.nanoTime() - s.endNs
        parent.traceNs += dt
        drainNs += dt
      }
    }

  /** Starts the measured part of the run; returns the first span id in it. */
  def mark(): Int = { drainNsAtMark = drainNs; spans.size }

  def measured(mark: Int): Seq[Span] = spans.drop(mark).toSeq

  /** Client time spent draining the bus since `mark`: the tracing cost. */
  def drainMs(mark: Int): Double = (drainNs - drainNsAtMark) / 1e6

  def close(): Unit = if (enabled) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  private def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span time not covered by child spans, schema jobs, Catalyst phases
    * or bus drains: the span's own layer's share. */
  def selfMs(s: Span): Double =
    s.ms - children(s).map(_.ms).sum - s.traceNs / 1e6 -
      s.work.schemaMs - s.work.catalystMs

  /** Self time per layer over the spans `of`; schema jobs are the
    * `tables` layer and Catalyst phases the `catalyst` layer. */
  def layerSelfMs(of: Seq[Span]): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    of.foreach { s =>
      m(s.layer) += selfMs(s)
      m("tables") += s.work.schemaMs
      m("catalyst") += s.work.catalystMs
    }
    m.toMap
  }

  def spanJson: Seq[Map[String, Any]] = spans.drop(1).map { s =>
    Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> (s.startNs - root.startNs) / 1e6, "end_ms" -> (s.endNs - root.startNs) / 1e6,
      "self_ms" -> selfMs(s)) ++ s.work.fields.filter(_._2 != 0)
  }.toSeq

  /** One ledger row per operation, summed over its repetitions: the
    * layer split of its wall time and the work the program's jobs did
    * (the harness's checks left out). */
  def ledger(mark: Int): Seq[(String, Map[String, Double])] = {
    val ms = measured(mark)
    ms.map(_.op).filter(_.nonEmpty).distinct.map { o =>
      val ss = ms.filter(_.op == o)
      val top = ss.filter(s => byId.get(s.parent).op != o)
      val w = new Work
      ss.filter(_.layer != "harness").foreach(s => w += s.work)
      def dur(layer: String) = ss.filter(_.layer == layer).map(_.ms).sum
      def self(layer: String) = ss.filter(_.layer == layer).map(selfMs).sum
      o -> (Map(
        "wall_ms" -> top.map(_.ms).sum,
        "build_ms" -> dur("operators"), "sink_ms" -> dur("exec"),
        "harness_ms" -> self("harness"), "plans_ms" -> dur("plans"),
        "tables_ms" -> w.schemaMs.toDouble, "catalyst_ms" -> w.catalystMs.toDouble) ++
        w.fields.map { case (k, v) => k -> v.toDouble })
    }
  }
}
