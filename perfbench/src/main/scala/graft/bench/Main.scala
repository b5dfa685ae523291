package graft.bench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.sources.{JsonDecoder, MsgpackDecoder}
import graft.tables.{GenericFloat, NwicFloatReports}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cache: Path, out: Path, pins: Path)

/** A workload: inputs made from the seed, a warm-up that is part of set-up,
  * the measured part, and the traced replay. Instances hold one run's state. */
trait Workload {
  /** Generates inputs (excluded from set-up time); returns their sizes.
    * `session` starts a session for generators that need one. */
  def prepare(o: Opts, session: () => Ctx): Map[String, Any]
  def warmUp(ctx: Ctx, o: Opts): Unit
  /** The timed part plus its output checks (outside the timed regions). */
  def measure(ctx: Ctx, o: Opts): (Seq[Metric], CheckResult)
  /** Per-layer metrics; runs after [[measure]] in the same session. */
  def trace(ctx: Ctx, o: Opts): (Seq[Metric], CheckResult)
  def exclusions: Map[String, String] = Map.empty
  /** Raw samples behind the metrics, written to the run record. */
  val series = scala.collection.mutable.LinkedHashMap.empty[String, Any]
}

object Main {
  val SetupRepeats = 3
  val Cores: Int = Runtime.getRuntime.availableProcessors

  /** The session geometry of the program's bench harness: local[nproc],
    * nproc shuffle partitions, AQE on, 256m kryo buffer, UTC. Scratch and
    * warehouse paths stay inside the benchmark's work directory. */
  def session(o: Opts): Ctx = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.kryoserializer.buffer.max", "256m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new Ctx(spark)
  }

  private val VolatileConf = Set("spark.app.id", "spark.app.startTime", "spark.driver.host",
    "spark.driver.port", "spark.executor.id", "spark.app.submitTime", "spark.driver.extraJavaOptions",
    "spark.executor.extraJavaOptions")

  def heapUsedMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("work")).toAbsolutePath, Paths.get(kv("cache")).toAbsolutePath,
      Paths.get(kv("out")), Paths.get(kv("pins")))
    val wl: Workload = o.workload match {
      case "stream_float_json" => new StreamFloatJson
      case "backlog_nwic_msgpack" => new BacklogNwicMsgpack
      case "queries_sf001" => new QueriesSf001
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    RecordingDb.register
    Files.createDirectories(o.work)

    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    var ctx: Ctx = null
    val inputs = wl.prepare(o, () => { if (ctx == null) ctx = session(o); ctx })
    phase("gen")
    val setups = (1 to SetupRepeats).map { _ =>
      if (ctx != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      ctx = session(o)
      wl.warmUp(ctx, o)
      (System.nanoTime() - t0) / 1e9
    }
    val conf = ctx.spark.sparkContext.getConf.getAll.toMap -- VolatileConf
    phase("setup")

    val (measured, check) = wl.measure(ctx, o)
    val heap = heapUsedMb()
    phase("measure_and_check")
    val (traced, traceCheck) = if (o.trace) wl.trace(ctx, o) else (Nil, CheckResult(0, 0, Nil))
    phase("trace")
    ctx.spark.stop()
    phase("stop")

    // Only the first set-up starts cold (class loading, object initialisation,
    // first code generation), as a real start does; the warm restarts after it
    // stay in the record.
    val e2e = Metric("setup_s", setups.head, "s", "first (cold) set-up", 1) +: measured :+ Metric("heap_mb_end", heap, "MB", "after forced GC", 1)
    val all = check + traceCheck
    val failFrac = all.failed.toDouble / math.max(1L, all.attempted)
    val record = Map(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "machine" -> Map("nproc" -> Cores, "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION),
      "spark_conf" -> conf, "inputs" -> inputs, "phase_s" -> phases, "setup_samples_s" -> setups,
      "exclusions" -> wl.exclusions, "fail_frac" -> failFrac, "check_notes" -> all.notes,
      "series" -> wl.series,
      "metrics" -> (e2e ++ traced))
    val result = Map(
      "correct" -> (all.failed == 0), "attempted" -> all.attempted, "failed" -> all.failed,
      "end_to_end" -> e2e.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
      "per_layer" -> traced.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap,
      "record" -> record)
    Files.writeString(o.out, Util.json(result))
  }
}

/** Shared shape of the two sink workloads. */
abstract class SinkWorkload extends Workload {
  def spec: SinkSpec
  protected var corpus: Corpus = _
  protected var files: IndexedSeq[Path] = _
  private var warmDir: Path = _
  private var warmRuns = 0

  protected def generate(seed: Long, n: Int): Corpus

  protected def prepareFiles(o: Opts, n: Int, nFiles: Int, dir: String): Map[String, Any] = {
    corpus = generate(o.seed, n)
    files = Landing.write(corpus, nFiles, o.work.resolve(dir))
    warmDir = o.work.resolve("warm")
    Landing.write(generate(o.seed ^ 0x5eedL, 400), 4, warmDir)
    Map("generator" -> corpus.summary, "files" -> nFiles,
      "file_bytes" -> files.map(Files.size(_)).sum)
  }

  /** One small drain through the whole pipeline into the recording sink.
    * Its micro-batches hold 100 messages each, so their durations are the
    * fixed per-batch cost of the workload's plan; the record keeps them. */
  def warmUp(ctx: Ctx, o: Opts): Unit = {
    warmRuns += 1
    val run = SinkRunner.drain(ctx, spec, warmDir, 1, o.work.resolve(s"ckpt-warm-$warmRuns"))
    series("warm_batch_rows_and_ms") = batchRowsAndMs(run)
  }

  protected def batchRowsAndMs(run: StreamRun): Seq[Seq[Long]] =
    run.progress.map(p => Seq(p.numInputRows, p.durationMs.get("triggerExecution").longValue))

  protected def pipelineMetrics(run: StreamRun): Seq[Metric] = {
    val ps = run.progress
    def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val batch = d("triggerExecution")
    val q = math.max(1, ps.size / 4)
    def p50(name: String, xs: Seq[Double]) = Metric(name, Stats.median(xs), "ms", "p50", xs.size)
    Seq(
      Metric("pipeline.batches", ps.size, "count", "total", ps.size),
      Metric("pipeline.rows_per_batch_p50", Stats.median(ps.map(_.numInputRows.toDouble)),
        "count", "p50", ps.size),
      p50("pipeline.batch_ms_p50", batch),
      Metric("pipeline.batch_ms_p95", Stats.pct(batch, 95), "ms", "p95", ps.size),
      p50("pipeline.add_batch_ms_p50", d("addBatch")),
      p50("pipeline.query_planning_ms_p50", d("queryPlanning")),
      p50("pipeline.wal_commit_ms_p50", d("walCommit")),
      p50("pipeline.commit_offsets_ms_p50", d("commitOffsets")),
      p50("pipeline.latest_offset_ms_p50", d("latestOffset")),
      p50("pipeline.get_batch_ms_p50", d("getBatch")),
      Metric("pipeline.jobs_per_batch", run.jobs.toDouble / ps.size, "count", "mean", ps.size),
      Metric("pipeline.batch_ms_drift",
        Stats.median(batch.takeRight(q)) / Stats.median(batch.take(q)), "ratio",
        "p50 of last quarter / p50 of first quarter", ps.size))
  }

  /** Stage-by-stage replay of all inputs; per-layer metrics plus the
    * replayed write's own output check. `e2eS` is the untraced time the
    * same inputs took, the base of `trace.overhead_ratio`. */
  protected def replayMetrics(ctx: Ctx, e2eS: Double): (Seq[Metric], CheckResult) = {
    val r = SinkRunner.replay(ctx, spec, files)
    val db = RecordingDb.counters
    val g = ctx.layer.group _
    val dead = g("sources").deadLetters
    val check = SinkCheck("replay", corpus, dead)
    def s(name: String, v: Double) = Metric(name, v, "s", "one replay", 1)
    def c(name: String, v: Double) = Metric(name, v, "count", "one replay", 1)
    def ratio(name: String, a: Double, b: Double) =
      Metric(name, if (b > 0) a / b else 0.0, "ratio", "one replay", 1)
    val busy = r("decode_s") + r("map_s") + r("dedup_s") + r("write_s")
    (Seq(
      s("sources.decode_s", r("decode_s")), s("sources.decode_cpu_s", g("sources").cpuNs / 1e9),
      c("sources.dead_letters", dead), ratio("sources.ok_ratio", r("decoded_rows"), r("raw_rows")),
      s("tables.map_s", r("map_s")), s("tables.map_cpu_s", g("tables").cpuNs / 1e9),
      c("tables.rows_out", r("mapped_rows")),
      ratio("tables.keep_ratio", r("mapped_rows"), r("decoded_rows")),
      s("sinks.dedup_s", r("dedup_s")),
      Metric("sinks.dedup_shuffle_bytes", g("sinks.dedup").shuffleWriteBytes, "bytes", "one replay", 1),
      ratio("sinks.dedup_keep_ratio", r("deduped_rows"), r("mapped_rows")),
      s("sinks.write_s", r("write_s")),
      Metric("sinks.write_shuffle_bytes", g("sinks.write").shuffleWriteBytes, "bytes", "one replay", 1),
      c("sinks.rows_bound", db("binds")), c("sinks.flushes", db("flushes")),
      c("sinks.connections", db("connections")), c("sinks.commits", db("commits")),
      Metric("trace.overhead_ratio", busy / e2eS, "ratio", "replayed layer time / untraced time", 1)),
      check)
  }
}

/** Open loop over GenericFloat JSON: files released at a fixed rate into a
  * landing directory read by `Pipeline.run` with `ProcessingTime(0)`. The
  * first `RampS` seconds of releases warm the query up and are not counted;
  * the next `--seconds` seconds give the latency samples. */
class StreamFloatJson extends SinkWorkload {
  val spec = SinkSpec(new GenericFloat("perfbench-float"), JsonDecoder, "seq")
  val PerFile = 16
  val RampS = 6
  private var rate = 25.0 // files per second
  private var nRamp = 0
  private var run: StreamRun = _
  private var late: IndexedSeq[Double] = _

  protected def generate(seed: Long, n: Int): Corpus =
    MessageGen.genericFloatJson(seed, n, MessageGen.Scattered(0.10, 20 * PerFile), 0.01)

  def prepare(o: Opts, session: () => Ctx): Map[String, Any] = {
    // At least 200 counted files, so that ten samples lie beyond p95.
    rate = math.max(rate, 200.0 / o.seconds)
    nRamp = (rate * RampS).toInt
    val nFiles = nRamp + (rate * o.seconds).ceil.toInt
    prepareFiles(o, nFiles * PerFile, nFiles, "staging") + ("release_rate_files_per_s" -> rate) +
      ("messages_per_file" -> PerFile) + ("ramp_files" -> nRamp)
  }

  def measure(ctx: Ctx, o: Opts): (Seq[Metric], CheckResult) = {
    val (r, scheduled, lateMs) = SinkRunner.openLoop(ctx, spec, files, files.size / rate,
      o.work.resolve("landing"), o.work.resolve("ckpt-stream"))
    run = r; late = lateMs
    val ends = files.map(run.endOf)
    val lat = ends.zip(scheduled).drop(nRamp).collect { case (Some(e), s) => e - s }
    val lost = ends.count(_.isEmpty)
    series("latency_ms") = lat
    series("batch_rows_and_ms") = batchRowsAndMs(run)
    val check = SinkCheck("stream", corpus, run.deadLetters)
    // With ProcessingTime(0) the sink is never idle: batches grow until they
    // take in what arrived during the last one, so messages per busy second
    // only echo the release rate. Commits per busy second are the program's.
    val firstCounted = run.batchOfFile.getOrElse(files(nRamp).getFileName.toString, Long.MaxValue)
    val counted = run.progress.filter(p => p.batchId >= firstCounted && p.numInputRows > 0)
    val busyS = counted.map(_.durationMs.get("triggerExecution").toDouble).sum / 1000.0
    (Seq(
      Metric("latency_ms_p50", Stats.median(lat), "ms", "p50 release-to-commit per file", lat.size),
      Metric("latency_ms_p95", Stats.pct(lat, 95), "ms", "p95 release-to-commit per file", lat.size),
      Metric("ops_per_s", if (counted.isEmpty) 0.0 else counted.size / busyS, "1/s",
        "micro-batches committed after the ramp / their summed batch time", counted.size)),
      check.copy(failed = check.failed + lost,
        notes = check.notes ++ (if (lost > 0) Seq(s"stream: $lost files never committed") else Nil)))
  }

  def trace(ctx: Ctx, o: Opts): (Seq[Metric], CheckResult) = {
    val busyS = run.progress.map(_.durationMs.get("triggerExecution").toDouble).sum / 1000.0
    val landed = files.map(f => o.work.resolve("landing").resolve(f.getFileName))
    files = landed
    val (layers, check) = replayMetrics(ctx, busyS)
    (layers ++ pipelineMetrics(run) :+
      Metric("gen.release_late_ms_p95", Stats.pct(late, 95), "ms", "p95", late.size), check)
  }
}

/** Closed loop over a NwicFloatReports msgpack backlog: repeated
  * `Trigger.AvailableNow` drains of the same landed files, in batches large
  * enough that per-message work, not the fixed cost of a batch, sets most
  * of the drain time. */
class BacklogNwicMsgpack extends SinkWorkload {
  val spec = SinkSpec(new NwicFloatReports("perfbench-nwic"), MsgpackDecoder, "values_seq")
  val Messages = 60000
  val Files_ = 48
  val FilesPerBatch = 16
  val MinDrains = 2
  private var last: StreamRun = _
  private var drainS: Seq[Double] = Nil

  protected def generate(seed: Long, n: Int): Corpus =
    MessageGen.nwicFloatReportsMsgpack(seed, n, MessageGen.ReplayRange(0.10), 0.01)

  def prepare(o: Opts, session: () => Ctx): Map[String, Any] =
    prepareFiles(o, Messages, Files_, "backlog") + ("files_per_batch" -> FilesPerBatch)

  def measure(ctx: Ctx, o: Opts): (Seq[Metric], CheckResult) = {
    val dir = o.work.resolve("backlog")
    val lat = Seq.newBuilder[Double]
    val walls = Seq.newBuilder[Double]
    var check = CheckResult(0, 0, Nil)
    def drain(i: Int): StreamRun = {
      val run = SinkRunner.drain(ctx, spec, dir, FilesPerBatch, o.work.resolve(s"ckpt-drain-$i"))
      val lost = files.count(run.endOf(_).isEmpty)
      val c = SinkCheck(s"drain $i", corpus, run.deadLetters)
      check = check + c.copy(failed = c.failed + lost)
      run
    }
    // Checked but not timed: the first drain is the first to run batches of
    // this size, and its code is still cold.
    drain(0)
    val t0 = System.nanoTime()
    var i = 0
    while (i < MinDrains || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      i += 1
      val run = drain(i)
      val ends = files.flatMap(run.endOf)
      walls += (ends.max - run.startMs) / 1000.0
      lat ++= ends.map(_ - run.startMs)
      last = run
    }
    drainS = walls.result()
    series("drain_s") = drainS
    series("batch_rows_and_ms") = batchRowsAndMs(last)
    val l = lat.result()
    (Seq(
      Metric("latency_ms_p50", Stats.median(l), "ms", "p50 drain-start-to-commit per file", l.size),
      Metric("latency_ms_p95", Stats.pct(l, 95), "ms", "p95 drain-start-to-commit per file", l.size),
      Metric("ops_per_s", Messages / Stats.median(drainS), "1/s",
        "messages / p50 drain wall", drainS.size)),
      check)
  }

  def trace(ctx: Ctx, o: Opts): (Seq[Metric], CheckResult) = {
    val (layers, check) = replayMetrics(ctx, Stats.median(drainS))
    (layers ++ pipelineMetrics(last), check)
  }
}

/** Closed loop, one session: the fixed query list over a generated
  * sf0.01-sized corpus, each query forced with a noop write. */
class QueriesSf001 extends Workload {
  val Scale = 0.01
  val CorpusSeed = 42L
  /** One pass gives one sample per query, too few for a steady median. */
  val MinPasses = 2
  private var dir: String = _
  private var warmDirQ: String = _
  private var passS: Seq[Double] = Nil

  override def exclusions: Map[String, String] = Queries.Excluded

  private def corpus(o: Opts, session: () => Ctx, scale: Double): String = {
    val d = o.cache.resolve(s"corpus-$CorpusSeed-$scale")
    if (!Files.exists(d.resolve("_COMPLETE"))) {
      Util.deleteTree(d)
      QueryCorpus.generate(session().spark, d.toString, CorpusSeed, scale)
      Files.createFile(d.resolve("_COMPLETE"))
    }
    d.toString
  }

  def prepare(o: Opts, session: () => Ctx): Map[String, Any] = {
    Queries.validate()
    dir = corpus(o, session, Scale)
    warmDirQ = corpus(o, session, Scale / 10)
    Map("corpus_seed" -> CorpusSeed, "scale" -> Scale, "queries" -> Queries.List.map(_._2),
      "corpus_bytes" -> Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_))
        .mapToLong(Files.size(_)).sum)
  }

  /** The list's fastest query, once, on the sf0.001 corpus. */
  def warmUp(ctx: Ctx, o: Opts): Unit = Queries.force(ctx.spark, Queries.WarmUp, warmDirQ)

  def measure(ctx: Ctx, o: Opts): (Seq[Metric], CheckResult) = {
    var attempted, failed = 0L
    val notes = Seq.newBuilder[String]
    // Check pass, untimed: it also primes every listed query's plan and code.
    val pins = Pins.read(o.pins)
    val found = Queries.List.map { case (_, q) =>
      q -> (try Some(Queries.fingerprint(Queries.frame(ctx.spark, q, dir)))
            catch { case scala.util.control.NonFatal(_) => None })
    }.toMap
    found.foreach { case (q, got) =>
      attempted += 1
      if (got.isEmpty || pins.get(q) != got) {
        failed += 1; notes += s"$q: result ${got.getOrElse("error")} != pinned ${pins.get(q)}"
      }
    }

    val rng = new scala.util.Random(o.seed)
    val samples = Seq.newBuilder[Double]
    val perQuery = scala.collection.mutable.Map.empty[String, List[Double]]
    val passes = Seq.newBuilder[Double]
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinPasses || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      n += 1
      var total = 0.0
      rng.shuffle(Queries.List).foreach { case (_, q) =>
        attempted += 1
        try {
          val s = Queries.force(ctx.spark, q, dir)
          samples += s; total += s; perQuery(q) = s :: perQuery.getOrElse(q, Nil)
        }
        catch { case scala.util.control.NonFatal(e) =>
          failed += 1; notes += s"$q failed: ${e.getMessage}" }
      }
      passes += total
    }
    passS = passes.result()
    val s = samples.result()
    series("query_s") = perQuery.map { case (q, ts) => q -> ts.reverse }
    series("pass_s") = passS
    (Seq(
      Metric("latency_ms_p50", Stats.median(s) * 1000, "ms", "p50 per-query wall", s.size),
      Metric("latency_ms_p95", Stats.pct(s, 95) * 1000, "ms", "p95 per-query wall", s.size),
      Metric("ops_per_s", s.size / s.sum, "1/s", "queries / summed query wall", s.size),
      Metric("queries_s", Stats.median(passS), "s", "p50 summed wall of the list", passS.size)),
      CheckResult(attempted, failed, notes.result()))
  }

  def trace(ctx: Ctx, o: Opts): (Seq[Metric], CheckResult) = {
    val sc = ctx.spark.sparkContext
    ctx.layer.reset()
    val walls = Queries.Modules.map { m =>
      sc.setJobGroup(s"queries.$m", m)
      try m -> Queries.List.filter(_._1 == m).map { case (_, q) => Queries.force(ctx.spark, q, dir) }.sum
      finally sc.clearJobGroup()
    }
    ctx.drainEvents()
    val metrics = walls.flatMap { case (m, wall) =>
      val g = ctx.layer.group(s"queries.$m")
      val p = s"queries.$m"
      def one(name: String, v: Double, unit: String) = Metric(s"$p.$name", v, unit, "one traced pass", 1)
      Seq(one("wall_s", wall, "s"), one("jobs", g.jobs, "count"), one("tasks", g.tasks, "count"),
        one("executor_cpu_s", g.cpuNs / 1e9, "s"),
        one("shuffle_write_bytes", g.shuffleWriteBytes, "bytes"),
        one("spill_bytes", g.spillBytes, "bytes"),
        one("busy_ratio", g.runMs / 1000.0 / (wall * Main.Cores), "ratio"))
    }
    (metrics :+ Metric("trace.overhead_ratio", walls.map(_._2).sum / Stats.median(passS), "ratio",
      "traced pass / untraced p50 pass", 1), CheckResult(0, 0, Nil))
  }
}

/** Pinned row counts and result hashes of the listed queries. */
object Pins {
  def read(p: Path): Map[String, (Long, String)] = {
    if (!Files.exists(p)) return Map.empty
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile).get("queries")
    val b = Map.newBuilder[String, (Long, String)]
    n.fields.forEachRemaining(e =>
      b += e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText))
    b.result()
  }
}
