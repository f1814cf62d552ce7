package graft.perfbench

import graft.GraftSession

/** Runs one workload and writes its raw measurements as JSON.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --fixture DIR
  *      --expected FILE --work DIR --out FILE
  * Main --record-expected FILE --fixture DIR --work DIR
  * Main --selftest
  * }}}
  *
  * `perfbench/run.py` builds this, launches it and reduces the output;
  * see `perfbench/README.md`. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.headOption.contains("--selftest")) sys.exit(if (SelfTest.run()) 0 else 1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val load0 = loadAvg
    val spark = GraftSession.create(cpus)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    try {
      val tracer = new Tracer(spark, a.getOrElse("trace", "0") == "1")
      val res = new Result
      val r = new Run(spark, tracer, a.getOrElse("seed", "1").toLong,
        a.getOrElse("seconds", "10").toDouble, new java.io.File(a("work")), a("fixture"), res)
      a.get("record-expected") match {
        case Some(path) => QueryMix.record(r, path)
        case None       => measure(r, Workloads(a("workload"), a("expected")), sessionS, load0,
          cpus, a("workload"), a("out"))
      }
    } finally spark.stop()
  }

  private def measure(r: Run, w: Workload, sessionS: Double, load0: String, cpus: String,
      name: String, out: String): Unit = {
    val res = r.res
    val prepS = (1 to w.prepareReps).map(_ => Run.ms(r.span("harness.prepare")(w.prepare(r)))._2 / 1000)
    // one unit warms code generation and class loading; its correctness
    // checks count, its timings do not
    val warm = new Result
    val warmS = Run.ms(r.span("harness.warm")(w.warm(r.withResult(warm))))._2 / 1000
    res.countFailures(warm)
    res.setupS ++= prepS.map(_ + sessionS + warmS)
    val units = r.units(w.nominalUnitS, 1)
    val mark = r.tracer.mark()
    val (_, measuredMs) = Run.ms(w.measure(r, units))
    w.close(r)
    val layers = if (r.tracer.enabled) Layers(r.tracer, mark, units, measuredMs, res, sessionS) else Map.empty
    r.tracer.close()
    val doc = Map[String, Any](
      "workload" -> name, "seed" -> r.seed, "trace" -> r.tracer.enabled,
      "unit" -> w.unit, "units" -> units, "op" -> w.op, "measured_s" -> measuredMs / 1000,
      "env" -> Map("nproc" -> cpus, "loadavg_start" -> load0, "loadavg_end" -> loadAvg,
        "java" -> System.getProperty("java.version"), "spark" -> r.spark.version,
        "scala" -> scala.util.Properties.versionNumberString),
      "setup_s" -> res.setupS, "session_s" -> sessionS, "warm_s" -> warmS, "prepare_s" -> prepS,
      "ops" -> res.opsMs.map { case (n, ms) => Map("op" -> n, "ms" -> ms) },
      "named" -> res.named.map { case (k, (u, v)) => k -> Map("unit" -> u, "samples" -> v) },
      "attempted" -> res.attempted, "failed" -> res.failed, "failures" -> res.failures,
      "per_layer" -> layers,
      "ledger" -> (if (r.tracer.enabled) r.tracer.ledger(mark).map { case (o, m) =>
        Map("workload" -> name, "op" -> o, "seed" -> r.seed) ++ m.map { case (k, v) => k -> v / units }
      } else Nil),
      "spans" -> (if (r.tracer.enabled) r.tracer.spanJson else Nil))
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValue(new java.io.File(out), doc)
  }

  private def loadAvg: String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim finally src.close()
    } catch { case _: java.io.IOException => "" }
}

/** The per-layer metrics of a traced run, per measured unit. */
object Layers {
  val SelfLayers = Seq("session", "tables", "operators", "plans", "catalyst", "exec",
    "extract", "curation", "ivf", "harness", "trace")

  def apply(t: Tracer, mark: Int, units: Int, measuredMs: Double, res: Result,
      sessionS: Double): Map[String, Double] = {
    val spans = t.measured(mark)
    val u = units.toDouble
    def named(n: String) = spans.filter(_.name == n)
    def ms(n: String) = named(n).map(_.ms).sum / u
    def work(p: Span => Boolean) = { val w = new Work; spans.filter(p).foreach(s => w += s.work); w }
    // the program's work: the harness's own checks are left out
    val all = work(_.layer != "harness")
    val self = t.layerSelfMs(spans)
    val counter = (k: String) => res.counters.getOrElse(k, 0.0)
    val appends = named("ivf.append")
    Map(
      "tables.schema_jobs" -> all.schemaJobs / u,
      "tables.schema_ms" -> all.schemaMs / u,
      "operators.build_ms" -> ms("operators.build"),
      "operators.build_jobs" -> work(_.layer == "operators").jobs / u,
      "plans.derivation_rdds" -> counter("plans.derivation_rdds"),
      "plans.orphan_drop_ms" -> ms("plans.orphan_drop"),
      "catalyst.analysis_ms" -> all.analysisMs / u,
      "catalyst.optimization_ms" -> all.optimizationMs / u,
      "catalyst.planning_ms" -> all.planningMs / u,
      "exec.sink_ms" -> ms("exec.sink"),
      "exec.jobs" -> all.jobs / u,
      "exec.stages" -> all.stages / u,
      "exec.tasks" -> all.tasks / u,
      "exec.tasks_per_stage" -> (if (all.stages == 0) 0.0 else all.tasks.toDouble / all.stages),
      "exec.task_run_ms" -> all.taskRunMs / u,
      "exec.task_cpu_ms" -> all.taskCpuMs / u,
      "exec.gc_ms" -> all.gcMs / u,
      "exec.shuffle_read_bytes" -> all.shuffleReadBytes / u,
      "exec.shuffle_write_bytes" -> all.shuffleWriteBytes / u,
      "exec.spill_bytes" -> all.spillBytes / u,
      "exec.failed_tasks" -> all.failedTasks / u,
      "exec.parallelism" -> all.taskRunMs / measuredMs,
      "extract.bounds_ms" -> ms("extract.bounds"),
      "extract.fetch_ms" -> ms("extract.fetch"),
      "extract.write_ms" -> ms("extract.write"),
      "extract.partitions" -> counter("extract.partitions"),
      "extract.files" -> counter("extract.files"),
      "extract.rows_per_file" -> counter("extract.rows_per_file"),
      "extract.bytes_written" -> counter("extract.bytes_written"),
      "curation.jobs" -> work(_.layer == "curation").jobs / u,
      "curation.stages_computed" -> counter("curation.stages_computed"),
      "curation.frontier_files" -> counter("curation.frontier_files"),
      "curation.frontier_bytes" -> counter("curation.frontier_bytes"),
      "ivf.construct_ms" -> ms("ivf.construct"),
      "ivf.append_ms" -> (if (appends.isEmpty) 0.0 else appends.map(_.ms).sum / appends.size),
      "ivf.compact_ms" -> ms("ivf.compact"),
      "ivf.restore_ms" -> ms("ivf.restore"),
      "ivf.search_ms" -> ms("ivf.search"),
      "ivf.log_files" -> counter("ivf.log_files"),
      "ivf.log_bytes" -> counter("ivf.log_bytes"),
      "ivf.rebuilds" -> counter("ivf.rebuilds"),
      "session.create_ms" -> sessionS * 1000,
      "harness.overhead_ms" -> self.getOrElse("harness", 0.0) / u,
      "trace.overhead_ratio" -> t.drainMs(mark) / measuredMs
    ) ++ SelfLayers.map(l => s"$l.self_ms" -> (l match {
      case "session" => sessionS * 1000
      case "trace"   => t.drainMs(mark) / u
      case _         => self.getOrElse(l, 0.0) / u
    }))
  }
}
