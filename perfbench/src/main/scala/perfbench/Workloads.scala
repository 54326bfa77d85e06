package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Pipeline, Registry}
import graft.operators.Telemetry
import graft.sinks.Sinks
import graft.sources.CcsdsSource
import graft.streaming.TelemetryStreaming
import graft.telemetry.CcsdsColumns
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener, Trigger}
import org.json4s._

/** Where one run reads and writes. */
final case class Dirs(input: Path, out: Path, checkpoints: Path) {
  def inputStr: String = input.toString
  def outStr: String = out.toString
}

/** One micro-batch's `StreamingQueryProgress` durations. */
final case class BatchProgress(triggerMs: Long, addBatchMs: Long, inputRows: Long)

/** One timed unit: a pipeline run, or one drain of the stream. */
final case class RunOutcome(
    wallS: Double, error: Option[String], batches: Seq[BatchProgress] = Nil) {
  def ok: Boolean = error.isEmpty
}

/** The benchmark's three workloads. Each is a closed loop: one pipeline
  * run (or stream drain) at a time, in one local Spark session.
  */
sealed abstract class Workload(val name: String) {
  def layout: Gen.Layout
  /** Transforms after the extractor, named by the layer they exercise. */
  def stages: Seq[(String, Pipeline.Stage)]
  /** Expected packets the reader emits (after any pushed APID filter). */
  def emittedPackets(exp: Gen.Expected): Long
  def readerOptions: CcsdsSource.Options

  /** One full run through the workload's public entry points. */
  def run(spark: SparkSession, d: Dirs, exp: Gen.Expected): RunOutcome
  /** Checks committed output against the generator; returns mismatches. */
  def check(spark: SparkSession, d: Dirs, exp: Gen.Expected): Seq[String]
  /** The first `n` stages, ending in Spark's `noop` sink. */
  def runPrefix(spark: SparkSession, d: Dirs, exp: Gen.Expected, n: Int): RunOutcome
}

/** Shared stage definitions and checks. */
object Workloads {
  private implicit val fmts: Formats = DefaultFormats

  lazy val all: Seq[Workload] = Seq(IngestTidy, IngestWide, StreamReplay)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** `ccsds` leaves source_time_tai null and decom falls back to the
    * 14-bit seq_count, which would fold the wide pivot onto <= 16384
    * rows; the benchmark takes time from the secondary-header tick.
    */
  val time: Pipeline.Stage =
    _.withColumn("source_time_tai",
      CcsdsColumns.uintBE(col("secondary_header"), 0, Gen.SecHdrLength).cast("double"))
  val decom: Pipeline.Stage = Registry.getTransformer("decom")(
    JObject("parameters" -> Extraction.decompose(Gen.params)))
  val calibration: Pipeline.Stage = Registry.getTransformer("calibration")(
    JObject("calibrations" -> Extraction.decompose(Gen.calibrations)))

  val ObservedRows = "perfbench_rows"

  /** The sample columns `Sinks.writeTidyParquet` writes. */
  val TidyColumns: Seq[String] = Seq("name", "time_tai", "apid", "seq_count", "raw_value",
    "eng_value", "unit", "validity", "out_of_limit", "alarm_level")

  def noop(df: DataFrame): Unit =
    df.observe(ObservedRows, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()

  def timed(body: => Unit): RunOutcome = {
    val t0 = System.nanoTime()
    val err = try { body; None } catch { case e: Throwable => Some(describe(e)) }
    RunOutcome((System.nanoTime() - t0) / 1e9, err)
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  /** Data files a sink committed (hidden and checksum files excluded). */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.startsWith("part-")
      }.toList finally s.close()
    }

  def bytesOf(files: Seq[Path]): Long = files.map(Files.size).sum

  /** Tidy output: per-parameter sample count, exact raw sum, calibrated
    * (eng_value) sum within rounding, and unit.
    */
  def checkTidy(spark: SparkSession, dir: String, exp: Gen.Expected): Seq[String] = {
    val got = spark.read.parquet(dir)
      .groupBy("name")
      .agg(count(lit(1)), sum("raw_value"), sum("eng_value"), min("unit"), max("unit"))
      .collect()
      .map(r => r.getString(0) -> r)
      .toMap
    val units = Gen.params.map(p => p.name -> p.unit.orNull).toMap ++
      Gen.calibrations.flatMap(c => c.unit.map(c.parameter_name -> _))
    val want = Gen.params.map(_.name)
    val extra = got.keySet -- want
    (if (extra.nonEmpty) Seq(s"unexpected parameters ${extra.toSeq.sorted.mkString(",")}") else Nil) ++
      want.flatMap { n =>
        got.get(n) match {
          case None => Seq(s"$n: no samples")
          case Some(r) =>
            val bad = mutable.Buffer.empty[String]
            val (c, raw, eng, u0, u1) = (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getString(4), r.getString(5))
            if (c != exp.samples(n)) bad += s"$n: samples $c != ${exp.samples(n)}"
            if (raw != exp.rawSums(n).toDouble) bad += f"$n: raw sum $raw%.1f != ${exp.rawSums(n)}"
            if (!exp.engSums(n).matches(eng)) bad += s"$n: eng_value sum $eng != ${exp.engSums(n).value}"
            if (u0 != units(n) || u1 != units(n)) bad += s"$n: unit $u0..$u1 != ${units(n)}"
            bad.toSeq
        }
      }
  }
}

import Workloads._

/** A workload run through `Pipeline.run`: extract, named stages, load. */
sealed abstract class BatchWorkload(name: String) extends Workload(name) {
  protected def extract(d: Dirs, exp: Gen.Expected): SparkSession => DataFrame
  protected def load(d: Dirs): DataFrame => Unit

  private def chain(spark: SparkSession, d: Dirs, exp: Gen.Expected, n: Int): DataFrame =
    stages.take(n).foldLeft(extract(d, exp)(spark))((df, s) => s._2(df))

  def run(spark: SparkSession, d: Dirs, exp: Gen.Expected): RunOutcome = {
    val t0 = System.nanoTime()
    val r = Pipeline.run(spark, extract(d, exp), stages, df => { load(d)(df); -1L })
    RunOutcome((System.nanoTime() - t0) / 1e9, if (r.ok) None else Some(r.errors.mkString("; ")))
  }

  /** The same chain without `Pipeline.run`, for its overhead. */
  def runDirect(spark: SparkSession, d: Dirs, exp: Gen.Expected): RunOutcome =
    timed(load(d)(chain(spark, d, exp, stages.size)))

  /** What the rest of the chain reads from the first `n` stages; the
    * noop sink writes every column, so a prefix projects these first.
    * By default, from decom on, the columns the tidy sink writes.
    */
  protected def prefixColumns(n: Int): Option[Seq[String]] =
    if (n >= 2) Some(TidyColumns) else None

  def runPrefix(spark: SparkSession, d: Dirs, exp: Gen.Expected, n: Int): RunOutcome =
    timed {
      val df = chain(spark, d, exp, n)
      noop(prefixColumns(n).fold(df)(c => df.select(c.map(col): _*)))
    }
}

/** One framed dump read in byte-range splits: binary -> time -> decom ->
  * calibration -> tidy parquet partitioned by parameter, through
  * `Pipeline.run` with `Registry` stages. No exchange; the sink dominates.
  */
object IngestTidy extends BatchWorkload("ingest_tidy") {
  val SplitsPerCore = 3
  /** 240k packets: the sink is about 60% of a run at this size (sizing
    * table in LAYERS.md); a paper-scale dump of 4M packets does not fit
    * the run budget.
    */
  val layout: Gen.Layout = Gen.Layout(files = 1, packetsPerFile = 240000, framed = true)
  val stages: Seq[(String, Pipeline.Stage)] =
    Seq("time" -> time, "decom" -> decom, "calibration" -> calibration)
  def emittedPackets(exp: Gen.Expected): Long = exp.packets
  val readerOptions: CcsdsSource.Options =
    CcsdsSource.Options(secHdrLength = Gen.SecHdrLength, frameSync = true)

  def splitSize(spark: SparkSession, exp: Gen.Expected): Long = {
    val splits = spark.sparkContext.defaultParallelism * SplitsPerCore
    (exp.bytes + splits - 1) / splits
  }

  protected def extract(d: Dirs, exp: Gen.Expected): SparkSession => DataFrame = { s =>
    Registry.getExtractor("binary")(s, JObject(
      "path" -> JString(d.inputStr),
      "sec_hdr_length" -> JInt(Gen.SecHdrLength),
      "frame_sync" -> JBool(true),
      "split_size" -> JInt(splitSize(s, exp))))
  }

  protected def load(d: Dirs): DataFrame => Unit =
    df => Registry.getLoader("parquet")(df, JObject("output_dir" -> JString(d.outStr)))

  def check(spark: SparkSession, d: Dirs, exp: Gen.Expected): Seq[String] =
    checkTidy(spark, d.outStr, exp)
}

/** Many unframed per-pass files, one partition each, with the APID filter
  * pushed into the byte walk: binary -> time -> decom -> calibration ->
  * `Telemetry.wide` -> `Sinks.writeWideParquet`. The pivot's exchange,
  * aggregation and global sort do most of the work.
  */
object IngestWide extends BatchWorkload("ingest_wide") {
  /** 512k packets: the smallest measured size at which the pivot is the
    * largest layer (sizing table in LAYERS.md); its share grows to about
    * half at 1M, which does not fit the run budget.
    */
  val layout: Gen.Layout = Gen.Layout(files = 16, packetsPerFile = 32000, framed = false)
  val names: Seq[String] = Gen.paramNames(Gen.WideApids)
  val stages: Seq[(String, Pipeline.Stage)] = Seq(
    "time" -> time, "decom" -> decom, "calibration" -> calibration,
    "wide" -> (df => Telemetry.wide(df, names)))
  def emittedPackets(exp: Gen.Expected): Long = exp.packetsOf(Gen.WideApids)
  val readerOptions: CcsdsSource.Options =
    CcsdsSource.Options(secHdrLength = Gen.SecHdrLength, apidFilter = Some(Gen.WideApids))

  protected def extract(d: Dirs, exp: Gen.Expected): SparkSession => DataFrame = { s =>
    Registry.getExtractor("binary")(s, JObject(
      "path" -> JString(d.inputStr),
      "sec_hdr_length" -> JInt(Gen.SecHdrLength),
      "apid_filter" -> JArray(Gen.WideApids.map(a => JInt(a)).toList)))
  }

  protected def load(d: Dirs): DataFrame => Unit = Sinks.writeWideParquet(_, d.outStr)

  /** The pivot reads four sample columns; calibration's unit and
    * calibration_id are pruned on the full path and must not be
    * computed by the decom and calibration prefixes either.
    */
  override protected def prefixColumns(n: Int): Option[Seq[String]] =
    if (n >= 2 && n < stages.size) Some(Seq("time_tai", "name", "seq_count", "eng_value")) else None

  /** One row per distinct tick of the kept APIDs; a parameter's cell is
    * set exactly on the ticks that carry a packet of its APID, and holds
    * the eng_value of that tick's packet with the highest seq_count.
    */
  def check(spark: SparkSession, d: Dirs, exp: Gen.Expected): Seq[String] = {
    val df = spark.read.parquet(d.outStr)
    val cols = df.columns.toSeq
    if (cols != "time_tai" +: names) return Seq(s"wide columns ${cols.mkString(",")}")
    val r = df.select(count(lit(1)) +: names.flatMap(n => Seq(count(col(n)), sum(col(n)))): _*).head()
    val bad = mutable.Buffer.empty[String]
    if (r.getLong(0) != exp.wideTicks) bad += s"time rows ${r.getLong(0)} != ${exp.wideTicks}"
    val apidOf = Gen.params.map(p => p.name -> p.apid).toMap
    names.zipWithIndex.foreach { case (n, i) =>
      val want = exp.ticksPerApid(apidOf(n))
      val (cells, total) = (r.getLong(2 * i + 1), r.getDouble(2 * i + 2))
      if (cells != want) bad += s"$n: non-null cells $cells != $want"
      if (!exp.wideSums(n).matches(total)) bad += s"$n: winning eng_value sum $total != ${exp.wideSums(n).value}"
    }
    bad.toSeq
  }
}

/** A directory of unframed files drained by
  * `TelemetryStreaming.packetFileStream` (whole-file reads parsed by
  * `CcsdsSource.parseStream`) with a fixed `maxFilesPerTrigger` and
  * `Trigger.AvailableNow`, through the time stage into
  * `TelemetryStreaming.pipelineSink`: many small tidy appends.
  */
object StreamReplay extends Workload("stream_replay") {
  val FilesPerTrigger = 2
  /** Three micro-batches of 25k packets each, the batch size of the
    * paper's micro-batch shape (sizing table in LAYERS.md).
    */
  val layout: Gen.Layout = Gen.Layout(files = 6, packetsPerFile = 12500, framed = false)
  val stages: Seq[(String, Pipeline.Stage)] =
    Seq("time" -> time, "decom" -> decom, "calibration" -> calibration)
  def emittedPackets(exp: Gen.Expected): Long = exp.packets
  val readerOptions: CcsdsSource.Options = CcsdsSource.Options(secHdrLength = Gen.SecHdrLength)

  private var drains = 0

  private def packets(spark: SparkSession, d: Dirs): DataFrame =
    TelemetryStreaming.packetFileStream(spark, d.inputStr, readerOptions, Some(FilesPerTrigger))

  /** Runs one stream to completion and collects its batch progress. */
  private def drain(spark: SparkSession, writer: DataStreamWriter[Row]): RunOutcome = {
    val progress = mutable.Buffer.empty[(java.util.UUID, BatchProgress)]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        progress.synchronized {
          progress += e.progress.runId ->
            BatchProgress(ms("triggerExecution"), ms("addBatch"), e.progress.numInputRows)
        }
      }
    }
    spark.streams.addListener(listener)
    try {
      val t0 = System.nanoTime()
      var runId: java.util.UUID = null
      val err =
        try {
          val q = writer.trigger(Trigger.AvailableNow()).start()
          runId = q.runId
          q.awaitTermination()
          q.exception.map(describe)
        } catch { case e: Throwable => Some(describe(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftSparkShims.waitForListeners(spark.sparkContext)
      val mine = progress.synchronized(progress.filter(_._1 == runId).map(_._2).toList)
      RunOutcome(wall, err, mine)
    } finally spark.streams.removeListener(listener)
  }

  private def freshCheckpoint(d: Dirs): String = {
    drains += 1
    d.checkpoints.resolve(s"ckpt-$drains").toString
  }

  def run(spark: SparkSession, d: Dirs, exp: Gen.Expected): RunOutcome =
    drain(spark, TelemetryStreaming.pipelineSink(time(packets(spark, d)),
      Gen.params, Gen.calibrations, d.outStr, freshCheckpoint(d)))

  def runPrefix(spark: SparkSession, d: Dirs, exp: Gen.Expected, n: Int): RunOutcome = {
    val rest = stages.take(n).tail
    drain(spark, stages.head._2(packets(spark, d)).writeStream
      .option("checkpointLocation", freshCheckpoint(d))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val df = rest.foldLeft(batch)((df, s) => s._2(df))
        noop(if (n >= 2) df.select(TidyColumns.map(col): _*) else df)
      })
  }

  def check(spark: SparkSession, d: Dirs, exp: Gen.Expected): Seq[String] =
    checkTidy(spark, d.outStr, exp)
}
