package graft.bench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}

import graft.core.TableMapping
import graft.sinks.{JdbcSink, UpsertSink}
import graft.sources.MessageDecoder
import graft.streaming.Pipeline

/** Wall clock in fractional epoch milliseconds (monotonic within a run). */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One sink-path configuration: the mapping, the decoder, and where the
  * sequence number lands in the mapped `values` column. */
final case class SinkSpec(mapping: TableMapping[_ <: Product], decoder: MessageDecoder,
    seqKey: String) {
  val columns: Seq[String] = mapping.encoder.schema.fieldNames.toSeq
  val keys: Seq[String] = mapping.upsertKeys.get
  def sink: JdbcSink = new JdbcSink(RecordingDb.UrlPrefix + "table", new java.util.Properties())
  def resetTable(): Unit = RecordingDb.configure(columns, keys, seqKey)
}

/** Kafka-shaped parquet files (`key`, `value` bytes, `offset`). */
object Landing {
  val schema: StructType = new StructType()
    .add("key", StringType).add("value", BinaryType).add("offset", LongType)

  private val parquetSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    "message kafka { optional binary key (STRING); optional binary value; optional int64 offset; }")

  /** Writes `corpus` as `nFiles` parquet files of consecutive offsets,
    * named `00000.parquet`, ... in `dir`, with modification times
    * increasing in offset order (the file source takes the oldest first). */
  def write(corpus: Corpus, nFiles: Int, dir: Path): IndexedSeq[Path] = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    Files.createDirectories(dir)
    val per = math.ceil(corpus.messages.size.toDouble / nFiles).toInt
    val baseMs = System.currentTimeMillis() - 3600 * 1000L
    val groups = new SimpleGroupFactory(parquetSchema)
    (0 until nFiles).map { i =>
      val f = dir.resolve(f"$i%05d.parquet")
      val w = ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(f))
        .withType(parquetSchema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try corpus.messages.slice(i * per, (i + 1) * per).foreach { m =>
        w.write(groups.newGroup().append("key", m.key)
          .append("value", org.apache.parquet.io.api.Binary.fromConstantByteArray(m.value))
          .append("offset", m.offset))
      } finally w.close()
      f.toFile.setLastModified(baseMs + i * 10L)
      f
    }
  }

  /** File name -> micro-batch id, from the file source's metadata log in
    * the query's checkpoint (compacted and per-batch log files alike). */
  def batchOfFile(checkpoint: Path): Map[String, Long] = {
    val log = checkpoint.resolve("sources").resolve("0")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.list(log).iterator.asScala.toSeq
      .filter(p => p.getFileName.toString.matches("\\d+(\\.compact)?"))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1)) // first line: version
      .filter(_.trim.nonEmpty)
      .map { line =>
        val n = mapper.readTree(line)
        new java.io.File(new java.net.URI(n.get("path").asText)).getName -> n.get("batchId").asLong
      }
      .groupMapReduce(_._1)(_._2)(math.min)
  }
}

/** Outcome of the output checks: operations attempted and failed. */
final case class CheckResult(attempted: Long, failed: Long, notes: Seq[String]) {
  def +(o: CheckResult): CheckResult =
    CheckResult(attempted + o.attempted, failed + o.failed, notes ++ o.notes)
}

object SinkCheck {
  /** The recording table against the generator's record: every valid key
    * committed with its highest offset, nothing else committed, and one
    * dead letter per planted decode reject. */
  def apply(label: String, corpus: Corpus, deadLetters: Long): CheckResult = {
    val table = RecordingDb.table
    val wrong = corpus.expected.count { case (k, s) =>
      val got = table.get(k); got == null || got.longValue != s
    }
    val extra = table.keySet.asScala.count(k => !corpus.expected.contains(k))
    val deadDiff = math.abs(deadLetters - corpus.decodeRejects)
    val notes = Seq(
      if (wrong > 0) Some(s"$label: $wrong keys missing or not last-wins") else None,
      if (extra > 0) Some(s"$label: $extra unexpected keys committed") else None,
      if (deadDiff > 0) Some(s"$label: dead letters $deadLetters != planted ${corpus.decodeRejects}")
      else None).flatten
    CheckResult(corpus.messages.size, wrong + extra + deadDiff, notes)
  }
}

/** What one streaming query run left behind for the metrics. */
final case class StreamRun(startMs: Double, progress: Seq[StreamingQueryProgress],
    batchOfFile: Map[String, Long], jobs: Long, deadLetters: Long) {
  /** Epoch ms at which each micro-batch ended. */
  val batchEndMs: Map[Long, Double] = progress.map(p => p.batchId ->
    (Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").toDouble)).toMap
  def endOf(file: Path): Option[Double] =
    batchOfFile.get(file.getFileName.toString).flatMap(batchEndMs.get)
}

object SinkRunner {
  private def stream(ctx: Ctx, spec: SinkSpec, source: DataFrame, checkpoint: Path,
      trigger: Trigger)(body: org.apache.spark.sql.streaming.StreamingQuery => Unit): StreamRun = {
    spec.resetTable()
    ctx.layer.reset(); ctx.progress.reset()
    val start = Clock.nowMs
    val q = Pipeline.run(source, spec.mapping, spec.sink, checkpoint.toString, spec.decoder, trigger)
    try body(q) finally q.stop()
    q.exception.foreach(e => throw e)
    ctx.drainEvents()
    StreamRun(start, ctx.progress.batches, Landing.batchOfFile(checkpoint),
      ctx.layer.all.jobs, ctx.layer.all.deadLetters)
  }

  /** Drains the files already in `dir` with `Trigger.AvailableNow`. */
  def drain(ctx: Ctx, spec: SinkSpec, dir: Path, maxFilesPerTrigger: Int,
      checkpoint: Path): StreamRun =
    stream(ctx, spec, ctx.spark.readStream.schema(Landing.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toLong).parquet(dir.toString),
      checkpoint, Trigger.AvailableNow())(_.awaitTermination())

  /** Open loop: one thread moves `files` into an empty landing directory,
    * evenly spaced over `seconds`, while the pipeline runs with
    * `ProcessingTime(0)`. Returns the run and each file's scheduled
    * release time and how late the release actually happened. */
  def openLoop(ctx: Ctx, spec: SinkSpec, files: IndexedSeq[Path], seconds: Double,
      landing: Path, checkpoint: Path): (StreamRun, IndexedSeq[Double], IndexedSeq[Double]) = {
    Files.createDirectories(landing)
    val scheduled = new Array[Double](files.size)
    val late = new Array[Double](files.size)
    val run = stream(ctx, spec, ctx.spark.readStream.schema(Landing.schema)
        .parquet(landing.toString), checkpoint, Trigger.ProcessingTime(0)) { q =>
      val intervalMs = seconds * 1000.0 / files.size
      val t0 = Clock.nowMs + 1000.0 // let the query reach its first poll
      files.indices.foreach { i =>
        scheduled(i) = t0 + i * intervalMs
        var waitMs = scheduled(i) - Clock.nowMs
        while (waitMs > 0) {
          java.util.concurrent.locks.LockSupport.parkNanos((waitMs * 1e6).toLong)
          waitMs = scheduled(i) - Clock.nowMs
        }
        Files.move(files(i), landing.resolve(files(i).getFileName), StandardCopyOption.ATOMIC_MOVE)
        late(i) = Clock.nowMs - scheduled(i)
      }
      q.processAllAvailable()
    }
    (run, scheduled.toIndexedSeq, late.toIndexedSeq)
  }

  /** Per-layer replay: each layer's public function runs on the cached
    * output of the layer before it, under its own job group. Returns the
    * layer walls in seconds and the rows each layer produced. */
  def replay(ctx: Ctx, spec: SinkSpec, files: Seq[Path]): Map[String, Double] = {
    val spark = ctx.spark
    val raw = spark.read.schema(Landing.schema).parquet(files.map(_.toString): _*).cache()
    val rawRows = raw.count()
    def stage(group: String)(df: => DataFrame): (DataFrame, Long, Double) = {
      spark.sparkContext.setJobGroup(group, group)
      try {
        val t0 = System.nanoTime()
        val out = df.cache()
        val n = out.count()
        (out, n, (System.nanoTime() - t0) / 1e9)
      } finally spark.sparkContext.clearJobGroup()
    }
    ctx.layer.reset()
    val (decoded, nDecoded, decodeS) = stage("sources")(Pipeline.decoded(raw, spec.decoder))
    val (mapped, nMapped, mapS) = stage("tables")(spec.mapping.transformWithOffset(decoded))
    val (deduped, nDeduped, dedupS) = stage("sinks.dedup")(UpsertSink.dedupLastWins(mapped, spec.keys))
    spec.resetTable()
    spark.sparkContext.setJobGroup("sinks.write", "sinks.write")
    val writeS = try {
      val t0 = System.nanoTime()
      spec.sink.write(spec.mapping, spec.columns, deduped.drop("__offset"), 5)
      (System.nanoTime() - t0) / 1e9
    } finally spark.sparkContext.clearJobGroup()
    ctx.drainEvents()
    Seq(raw, decoded, mapped, deduped).foreach(_.unpersist())
    Map("raw_rows" -> rawRows.toDouble, "decoded_rows" -> nDecoded.toDouble,
      "mapped_rows" -> nMapped.toDouble, "deduped_rows" -> nDeduped.toDouble,
      "decode_s" -> decodeS, "map_s" -> mapS, "dedup_s" -> dedupS, "write_s" -> writeS)
  }
}
