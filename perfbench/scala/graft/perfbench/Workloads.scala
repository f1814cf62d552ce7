package graft.perfbench

import graft.{Q, SparkEntry}
import graft.etl.{Extract, TableJob}
import graft.operators.{IvfAnn, PipelineOps}
import graft.plans.DerivationCache
import graft.streaming.Streaming.IvfMaintainer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One benchmark workload: `prepare` builds its inputs from the seed
  * (timed as set-up, repeated `prepareReps` times), `warm` runs its code
  * paths once unmeasured, and `measure` runs `units` units of work. */
trait Workload {
  /** What one measured unit is, for the per-unit layer metrics. */
  def unit: String
  /** The operation whose latency is the workload's `op_*` metrics. */
  def op: String
  /** A unit's duration on a 4-core host, which sizes a run. */
  def nominalUnitS: Double
  def prepareReps: Int = 3
  def prepare(r: Run): Unit
  def warm(r: Run): Unit = measure(r, 1)
  def measure(r: Run, units: Int): Unit
  def close(r: Run): Unit = ()
}

object Workloads {
  def apply(name: String, expectedPath: String): Workload = name match {
    case "query_mix"        => new QueryMix(expectedPath)
    case "extract_sharded"  => new ExtractSharded
    case "durable_logs"     => new DurableLogs
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Production queries from the registry, run once each per pass through
  * the `noop` sink in an order drawn from the seed. Every run seed times
  * the same queries, [[QueryMix.Sample]].
  * Every pass starts from an empty `DerivationCache`, so derivations are
  * shared within a pass and never across passes. Each measured result is
  * checked against the row count and content hash recorded for the
  * fixture. */
final class QueryMix(expectedPath: String) extends Workload {
  import QueryMix._
  val unit = "pass"
  val op = "query"
  val nominalUnitS = 5.0
  private val expected = loadExpected(expectedPath)
  private var sample: Seq[Q] = Nil

  def prepare(r: Run): Unit = {
    val byName = production.map(q => q.name -> q).toMap
    sample = Gen.shuffle(Sample, r.seed).map(byName)
  }

  /** One unchecked pass compiles the sample's code. */
  override def warm(r: Run): Unit = pass(r, check = false)

  def measure(r: Run, units: Int): Unit = (1 to units).foreach(_ => pass(r, check = true))

  private def pass(r: Run, check: Boolean): Unit = {
    r.evictAll()
    r.dropOrphans()
    var wallMs = 0.0
    val ok = sample.map { q =>
      r.tracer.op(q.name) {
        r.span("harness.op") {
          try r.res.attempt(op) { val ms = runQuery(r, q, check); wallMs += ms; ms }
          finally r.dropOrphans()
        }
      }
    }.forall(identity)
    if (ok) r.res.sample("mix_wall_s", "s", wallMs / 1000)
    r.res.counters("plans.derivation_rdds") = DerivationCache.ownedRddIds.size.toDouble
  }

  private def runQuery(r: Run, q: Q, check: Boolean): Double = {
    val (df, buildMs) = Run.ms(r.span("operators.build")(q.fn(r.spark, r.fixture)))
    val (_, sinkMs) = Run.ms(r.span("exec.sink")(Run.noop(df)))
    if (check) r.span("harness.check") {
      val want = expected(q.name)
      val (rows, hash) = Run.digest(df)
      want.rows.foreach(n => Result.ensure(rows == n, s"${q.name}: $rows rows, expected $n"))
      want.hash.foreach(h => Result.ensure(hash == h, s"${q.name}: content hash $hash, expected $h"))
    }
    buildMs + sinkMs
  }
}

object QueryMix {
  /** The middle query of each of 8 cost strata over the 309 production
    * queries, by the costs in `expected/query_mix.tsv` when the benchmark
    * was defined: cheapest stratum first. Fixed, so that re-recording the
    * expected results never changes the work measured. */
  val Sample = Seq("q100_doc_chunks", "q42_dedup_exact_survivors", "q96_interval_join",
    "q298_contamination_extent", "q79_data_mixture", "q08_full_outer_join",
    "q235_min_price_supplier", "q205_concurrency_peak")
  final case class Expected(rows: Option[Long], hash: Option[String], ms: Double)

  def production: Seq[Q] = SparkEntry.registry.filter(_.scaleClass == Q.Production)

  /** `name rows hash ms` per line; `-` marks a value that differed
    * between the two recording passes and is therefore not checked. */
  def loadExpected(path: String): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(n, rows, hash, ms) = l.split("\t")
      n -> Expected(Some(rows).filter(_ != "-").map(_.toLong), Some(hash).filter(_ != "-"),
        ms.toDouble)
    }.toMap
    finally src.close()
  }

  /** Records every production query's row count, content hash and
    * build-plus-sink milliseconds on the fixture, from two passes over
    * an empty `DerivationCache`; the faster pass's time is kept. */
  def record(r: Run, path: String): Unit = {
    def once(q: Q): Either[String, (Long, String, Double)] =
      try {
        val (df, ms) = Run.ms { val df = q.fn(r.spark, r.fixture); Run.noop(df); df }
        val (rows, hash) = Run.digest(df)
        Right((rows, hash, ms))
      } catch { case e: Throwable => Left(e.toString) }
      finally DerivationCache.dropOrphans(r.sc)
    val passes = (1 to 2).map { _ =>
      DerivationCache.evictAll()
      production.map(q => q.name -> once(q)).toMap
    }
    val lines = production.map(_.name).sorted.flatMap { n =>
      (passes(0)(n), passes(1)(n)) match {
        case (Right((r0, h0, t0)), Right((r1, h1, t1))) =>
          Some(Seq(n, if (r0 == r1) r0.toString else "-", if (h0 == h1) h0 else "-",
            f"${math.min(t0, t1)}%.1f").mkString("\t"))
        case (a, b) =>
          System.err.println(s"[perfbench] not recorded, $n failed: ${a.left.toOption.orElse(b.left.toOption).get}")
          None
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      ("# name\trows\thash\tms\n" + lines.mkString("\n") + "\n").getBytes("UTF-8"))
    ()
  }
}

/** The reference's pipeline: two embedded Derby shards with disjoint key
  * ranges in the reference row shape, extracted by `runShardedJob` with
  * 10k-key strides into Snappy Parquet with at most 100k rows per file.
  * The sink is checked against the source's row count and content hash
  * and against the file count the stride plan implies. */
final class ExtractSharded extends Workload {
  import ExtractSharded._
  val unit = "job"
  val op = "extract"
  val nominalUnitS = 1.0
  override val prepareReps = 2
  private var urls: Seq[String] = Nil
  private var source: (Long, String) = (0L, "")
  private var prepared = 0

  private def props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  private def job(out: String) = TableJob(Table, out, "ID", urls.head, stride = Stride,
    maxRecordsPerFile = PerFile, properties = props)

  def prepare(r: Run): Unit = {
    prepared += 1
    urls = (0 until 2).map { shard =>
      val url = s"jdbc:derby:${new java.io.File(r.work, s"derby/p$prepared/shard$shard")};create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        conn.setAutoCommit(false)
        conn.createStatement().execute(
          s"CREATE TABLE $Table (ID BIGINT NOT NULL PRIMARY KEY, DATA VARCHAR(255))")
        val ps = conn.prepareStatement(s"INSERT INTO $Table VALUES (?, ?)")
        val first = shard * RowsPerShard + 1L
        (first until first + RowsPerShard).foreach { id =>
          ps.setLong(1, id)
          ps.setString(2, Gen.payload(r.seed, id))
          ps.addBatch()
          if (id % 5000 == 0) ps.executeBatch()
        }
        ps.executeBatch()
        conn.commit()
      } finally conn.close()
      url.stripSuffix(";create=true")
    }
    source = Run.digest(Extract.unionShards(urls.map(r.spark.read.jdbc(_, Table, props))))
  }

  /** The first jobs of a JVM run slower until the JIT settles. */
  override def warm(r: Run): Unit = measure(r, 6)

  def measure(r: Run, units: Int): Unit = (1 to units).foreach { i =>
    val out = r.freshDir("extract_out").toString
    r.tracer.op(s"extract_$i") {
      r.span("harness.op") {
        r.res.attempt(op) {
          val (_, ms) = Run.ms(if (r.tracer.enabled) traced(r, out) else
            Extract.runShardedJob(r.spark, job(out), urls))
          r.span("harness.check")(check(r, out))
          r.res.sample("extract_rows_per_s", "rows/s", 2 * RowsPerShard / (ms / 1000))
          ms
        }
      }
    }
  }

  /** `runShardedJob`'s steps, called one by one so each is its own span;
    * the read is also run once into `noop` so fetch and write separate. */
  private def traced(r: Run, out: String): Unit = {
    val shards = urls.map { u =>
      val full = r.spark.read.jdbc(u, Table, props)
      val (lo, hi) = r.span("extract.bounds")(Extract.keyBounds(full, "ID")).get
      Extract.jdbcRangeRead(r.spark, job(out).copy(url = u), lo, hi)
    }
    val frame = Extract.normalizeBinary(Extract.unionShards(shards))
    r.res.counters("extract.partitions") = frame.rdd.getNumPartitions.toDouble
    r.span("extract.fetch")(Run.noop(frame))
    r.span("extract.write")(Extract.writeParquet(frame, out, PerFile))
  }

  private def check(r: Run, out: String): Unit = {
    val sink = Run.digest(r.spark.read.parquet(out))
    Result.ensure(sink == source, s"sink (rows, hash) $sink, source $source")
    val files = Run.files(new java.io.File(out)).filter(_.getName.endsWith(".parquet"))
    // Spark splits each shard's key span into min(ceil(span/stride), 20)
    // even ranges, and no range here exceeds the per-file row limit
    val wanted = 2 * math.min((RowsPerShard + Stride - 1) / Stride, 20L)
    Result.ensure(files.size == wanted, s"${files.size} parquet files, expected $wanted")
    r.res.counters("extract.files") = files.size.toDouble
    r.res.counters("extract.rows_per_file") = 2.0 * RowsPerShard / files.size
    r.res.counters("extract.bytes_written") = files.map(_.length).sum.toDouble
  }

  override def close(r: Run): Unit =
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true").close()
    catch { case _: java.sql.SQLException => () } // a clean shutdown always throws
}

object ExtractSharded {
  val Table = "BIG_TABLE_1"
  val RowsPerShard = 50000L
  val Stride = 10000L
  val PerFile = 100000L
}

/** The engine's two crash-consistent log writers, each run once per
  * cycle; the op is the whole cycle.
  *
  *  - Curation: a cold `curationRun` into a fresh run dir, with survivors,
  *    mixture and shards forced, then a second invocation that resumes
  *    from the completed frontiers. The documents are a seeded 90% sample
  *    of the fixture's. The resumed outputs must equal an in-memory run's,
  *    made once after the first measured cycle.
  *  - IVF: a persistent `IvfMaintainer` seeded from the fixture's
  *    embeddings takes `Batches` appended batches of 250 seeded 64-d
  *    vectors, compacts its log, and is restored from it. The restored
  *    corpus must hold every vector, and its top-k answers must equal the
  *    live maintainer's. */
final class DurableLogs extends Workload {
  import DurableLogs._
  val unit = "cycle"
  val op = "cycle"
  val nominalUnitS = 20.0
  override val prepareReps = 2
  private var dir = ""
  private var reference: Seq[(Long, String)] = Nil
  private var seedCorpus: DataFrame = _
  private var batches: Seq[DataFrame] = Nil
  private var queries: DataFrame = _

  private def outputs(c: PipelineOps.CurationRun): Seq[DataFrame] =
    Seq(c.survivors, c.mixture, c.shards)

  // plain local frames, not checkpoints: the harness's orphan drop
  // between cycles unpersists every checkpoint the program does not own
  def prepare(r: Run): Unit = {
    import r.spark.implicits._
    val d = r.freshDir("curation_fixture")
    graft.Tables.names.filter(_ != "documents").foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(r.fixture, s"$t.parquet"),
        new java.io.File(d, s"$t.parquet").toPath)
    }
    graft.Tables.documents(r.spark, r.fixture)
      .filter(pmod(xxhash64(col("doc_id"), lit(r.seed)), lit(10L)) =!= 0)
      .coalesce(1).write.parquet(new java.io.File(d, "documents.parquet").toString)
    dir = d.toString
    seedCorpus = IvfAnn.fullCorpus(r.spark, r.fixture)
    batches = (0 until Batches).map { b =>
      Gen.vectors(r.seed, b, FirstId + b * BatchSize, BatchSize, Dim).toDF("vec_id", "embedding")
    }
    queries = Gen.vectors(r.seed, -1, 0L, 16, Dim).toDF("vec_id", "embedding")
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("qe"))
      .withColumn("qn", sqrt(aggregate(col("qe"), lit(0.0), (a, x) => a + x * x)))
  }

  /** A durable curation run and its resume in a throwaway run dir, and
    * appends on a throwaway maintainer. IVF compaction, restore and
    * search stay cold, as in a restarted process. */
  override def warm(r: Run): Unit = {
    curation(r, "curation_warm")
    val m = new IvfMaintainer(seedCorpus, rebuildWhen = _ => false,
      persistPath = Some(r.freshDir("ivf_warm").toString))
    batches.take(WarmAppends).zipWithIndex.foreach { case (b, id) => m.applyBatch(b, id.toLong) }
    r.dropOrphans()
  }

  def measure(r: Run, units: Int): Unit = (1 to units).foreach { i =>
    r.tracer.op(s"cycle_$i") {
      r.span("harness.op") {
        try r.res.attempt(op) {
          val (curationMs, resumed) = curation(r, "curation_run")
          val ms = curationMs + ivf(r)
          r.span("harness.check") {
            if (reference.isEmpty) {
              DerivationCache.evictAll()
              reference = outputs(PipelineOps.curationRun(r.spark, dir, None)).map(Run.digest)
            }
            Result.ensure(resumed == reference, s"resumed outputs $resumed, in-memory $reference")
          }
          ms
        }
        finally r.dropOrphans()
      }
    }
  }

  /** Cold run plus resume in a fresh run dir: their milliseconds, and the
    * digests of the resumed outputs. */
  private def curation(r: Run, name: String): (Double, Seq[(Long, String)]) = {
    r.evictAll()
    r.dropOrphans()
    val runDir = r.freshDir(name)
    val rd = runDir.toString
    def invoke(span: String): (Seq[DataFrame], Double) = Run.ms(r.span(span) {
      val frames = outputs(PipelineOps.curationRun(r.spark, dir, Some(rd)))
      frames.foreach(df => r.span("exec.sink")(Run.noop(df)))
      frames
    })
    def marked = (1 to 5).count(n => new java.io.File(runDir, s"stage_$n/_SUCCESS").exists)
    Result.ensure(marked == 0, "fresh run dir already holds frontiers")
    val (_, cold) = invoke("curation.cold")
    val computed = marked
    Result.ensure(computed == 5, s"cold run completed $computed of 5 frontiers")
    val (frames, resume) = invoke("curation.resume")
    val resumed = r.span("harness.check")(frames.map(Run.digest))
    val frontier = Run.files(runDir).filter(_.getPath.contains("stage_"))
    r.res.counters("curation.stages_computed") = computed.toDouble
    r.res.counters("curation.frontier_files") = frontier.size.toDouble
    r.res.counters("curation.frontier_bytes") = frontier.map(_.length).sum.toDouble
    r.res.sample("curation_cold_s", "s", cold / 1000)
    r.res.sample("curation_resume_s", "s", resume / 1000)
    (cold + resume, resumed)
  }

  /** Construction, appends, compaction and restore, in milliseconds. */
  private def ivf(r: Run): Double = {
    val log = r.freshDir("ivf_log").toString
    val (m, constructMs) = Run.ms(r.span("ivf.construct")(
      new IvfMaintainer(seedCorpus, rebuildWhen = _ => false, persistPath = Some(log))))
    val appendMs = batches.zipWithIndex.map { case (b, id) =>
      val (_, ms) = Run.ms(r.span("ivf.append")(m.applyBatch(b, id.toLong)))
      r.res.sample("ivf_append_p50_ms", "ms", ms)
      ms
    }.sum
    val (_, compactMs) = Run.ms(r.span("ivf.compact")(m.compactLog()))
    val files = Run.files(new java.io.File(log))
    val (restored, restoreMs) = Run.ms(r.span("ivf.restore")(
      IvfMaintainer.restore(r.spark, log, _ => false, persistRebuild = false)))
    r.span("harness.check") {
      val n = restored.corpus.count()
      val want = seedCorpus.count() + batches.size * BatchSize
      Result.ensure(n == want, s"restored corpus holds $n vectors, expected $want")
      val live = r.span("ivf.search")(m.searchTopK(queries, 5))
      val back = r.span("ivf.search")(restored.searchTopK(queries, 5))
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      Result.ensure(rows(back) == rows(live), "restored top-k differs from the live answer")
    }
    r.res.counters("ivf.log_files") = files.size.toDouble
    r.res.counters("ivf.log_bytes") = files.map(_.length).sum.toDouble
    r.res.counters("ivf.rebuilds") = (m.rebuilds + restored.rebuilds).toDouble
    r.res.sample("ivf_restore_s", "s", restoreMs / 1000)
    constructMs + appendMs + compactMs + restoreMs
  }
}

object DurableLogs {
  val Batches = 8
  val WarmAppends = 2
  val BatchSize = 250
  val Dim = 64
  val FirstId = 1000000L
}
