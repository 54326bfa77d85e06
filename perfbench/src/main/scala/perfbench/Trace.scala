package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.sources.CcsdsSource
import graft.sources.v2.{CcsdsInputPartition, CcsdsPartitionReader}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run: per-layer numbers, timed from outside the program.
  *
  *  1. Untraced full runs (U), the same chain without `Pipeline.run` (D)
  *     and traced full runs (T, with [[TaskTap]] attached), interleaved.
  *  2. Cumulative prefixes ending in Spark's `noop` sink: read (+ the time
  *     stage), +decom, +calibration, +wide. A layer's self time is the
  *     difference between successive prefixes; the sink's is the direct
  *     chain (or, for the stream, the full drain) minus the longest
  *     prefix. From decom on, a prefix keeps only the columns the real
  *     path reads. Spark fuses these stages into one codegen stage, so the
  *     split is approximate and a difference can come out negative.
  *  3. `CcsdsPartitionReader` and `CcsdsSource.parseStream` driven
  *     directly on one split's bytes, single-threaded, with no Spark job.
  *  4. One full run at local[1] for the speed-up over one core.
  */
object Trace {
  val Reps = 2
  val ReaderMinS = 0.5

  /** Sums the benchmark's observed row counts across queries. */
  private final class RowsTap extends QueryExecutionListener {
    @volatile var rows = 0L
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
      qe.observedMetrics.get(Workloads.ObservedRows).foreach(r => synchronized(rows += r.getLong(0)))
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  def run(
      wl: Workload, spark0: SparkSession, cores: Int, base: Path, dirs: Dirs,
      exp: Gen.Expected, report: Report,
      checked: (RunOutcome, SparkSession) => RunOutcome,
      runOnce: SparkSession => RunOutcome): Unit = {
    var spark = spark0
    val sc = spark.sparkContext
    val tap = new TaskTap
    def median(xs: Iterable[RunOutcome]): Double = Stats.median(xs.map(_.wallS).toSeq)

    // 1. interleaved untraced / direct / traced full runs, after the same
    // untimed runs as the timed measurement; the order flips every
    // repetition so the rest of the JIT warm-up does not favour one kind
    for (_ <- 0 until Main.WarmRuns) runOnce(spark)
    val untraced, direct, traced = mutable.Buffer.empty[RunOutcome]
    for (i <- 0 until Reps) {
      val steps = Seq[() => Unit](
        () => untraced += runOnce(spark),
        () => wl match {
          case b: BatchWorkload =>
            Main.deleteTree(dirs.out); direct += checked(b.runDirect(spark, dirs, exp), spark)
          case StreamReplay => ()
        },
        () => {
          sc.addSparkListener(tap)
          try traced += TaskTap.inPhase(sc, s"full#$i")(runOnce(spark))
          finally { org.apache.spark.GraftSparkShims.waitForListeners(sc); sc.removeSparkListener(tap) }
        })
      (if (i % 2 == 0) steps else steps.reverse).foreach(_())
    }
    val full = tap.totalsOf(sc, s"full#${Reps - 1}")
    val outFiles = Workloads.dataFiles(dirs.out)
    val outBytes = Workloads.bytesOf(outFiles)
    val u = median(untraced)

    // 2. cumulative prefixes, with the tap attached
    val rowsTap = new RowsTap
    spark.listenerManager.register(rowsTap)
    sc.addSparkListener(tap)
    val layerOf = Map("time" -> "sources", "decom" -> "decom",
      "calibration" -> "calibration", "wide" -> "telemetry.wide")
    val prefixes = wl.stages.indices.map { k =>
      val layer = layerOf(wl.stages(k)._1)
      val reps = (0 until Reps).map { i =>
        rowsTap.synchronized(rowsTap.rows = 0L)
        val r = TaskTap.inPhase(sc, s"$layer#$i")(wl.runPrefix(spark, dirs, exp, k + 1))
        org.apache.spark.GraftSparkShims.waitForListeners(sc)
        val rows = rowsTap.synchronized(rowsTap.rows)
        val want = expectedRows(wl, exp, layer)
        val problem = r.error.orElse(
          if (rows == want) None else Some(s"$rows rows out of the $layer prefix, expected $want"))
        problem.foreach(e => System.err.println(s"perfbench: ${wl.name}: prefix $layer failed: $e"))
        report.attempt(problem.isEmpty)
        (r, rows)
      }
      layer -> (median(reps.map(_._1)), reps.last._2, tap.totalsOf(sc, s"$layer#${Reps - 1}"))
    }.toMap
    sc.removeSparkListener(tap)
    spark.listenerManager.unregister(rowsTap)
    val chainOrder = wl.stages.map(s => layerOf(s._1))
    def p(layer: String): Double = prefixes.get(layer).map(_._1).getOrElse(0.0)
    def self(layer: String): Double =
      if (!prefixes.contains(layer)) 0.0
      else {
        val i = chainOrder.indexOf(layer)
        p(layer) - (if (i == 0) 0.0 else p(chainOrder(i - 1)))
      }
    val endToSink = if (direct.nonEmpty) median(direct) else u
    val sinkS = endToSink - p(chainOrder.last)

    // 3. the two framers, single-threaded on one split's bytes
    val (reader1t, parse1t) = framers(wl, spark, dirs, exp)

    // 4. the same workload at local[1]
    spark.stop()
    spark = Main.session(1, base)
    val oneCore = runOnce(spark)

    val src = prefixes("sources")
    val srcRows = src._2.toDouble
    val decomRows = prefixes.get("decom").map(_._2.toDouble).getOrElse(0.0)
    val wideP = prefixes.get("telemetry.wide")
    val layerSum = chainOrder.map(self).sum + sinkS
    val m = report.metric _
    m("sources.scan_s", self("sources"), "s")
    m("sources.splits", src._3.tasks.toDouble, "count")
    m("sources.bytes_read", src._3.inputBytes.toDouble, "bytes")
    m("sources.packet_yield", srcRows / wl.emittedPackets(exp), "ratio")
    m("sources.reader_1t_packets_per_s", reader1t, "1/s")
    m("sources.parse_stream_1t_packets_per_s", parse1t, "1/s")
    m("decom.self_s", self("decom"), "s")
    m("decom.samples_out", decomRows, "count")
    m("decom.samples_per_packet", if (srcRows > 0) decomRows / srcRows else 0.0, "ratio")
    m("calibration.self_s", self("calibration"), "s")
    m("telemetry.wide.self_s", self("telemetry.wide"), "s")
    m("telemetry.wide.shuffle_write_bytes", wideP.map(_._3.shuffleWriteBytes.toDouble).getOrElse(0.0), "bytes")
    m("telemetry.wide.shuffle_records", wideP.map(_._3.shuffleWriteRecords.toDouble).getOrElse(0.0), "count")
    m("telemetry.wide.spill_bytes", wideP.map(_._3.spillBytes.toDouble).getOrElse(0.0), "bytes")
    m("telemetry.wide.rows_out", wideP.map(_._2.toDouble).getOrElse(0.0), "count")
    m("sinks.write_s", sinkS, "s")
    m("sinks.files_written", outFiles.size.toDouble, "count")
    m("sinks.bytes_written", outBytes.toDouble, "bytes")
    m("sinks.rows_written", full.outputRecords.toDouble, "count")
    m("pipeline.overhead_s", if (direct.nonEmpty) u - median(direct) else 0.0, "s")
    m("pipeline.jobs", full.jobs.toDouble, "count")
    m("pipeline.tasks", full.tasks.toDouble, "count")
    m("pipeline.executor_cpu_s", full.cpuNs / 1e9, "s")
    m("pipeline.gc_s", full.gcMs / 1e3, "s")
    m("pipeline.task_skew", full.taskSkew, "ratio")
    m("pipeline.speedup_vs_1core", oneCore.wallS / u, "ratio")
    m("pipeline.trace_overhead_frac", (median(traced) - u) / u, "ratio")
    m("pipeline.self_time_share", layerSum / u, "ratio")
    m("pipeline.remainder_s", u - layerSum, "s")
    val batches = traced.last.batches
    val untracedBatches = untraced.filter(_.ok).flatMap(_.batches)
    m("streaming.batches", batches.size.toDouble, "count")
    m("streaming.files_per_batch", if (batches.isEmpty) 0.0 else exp.files.toDouble / batches.size, "count")
    m("streaming.rows_per_batch", if (batches.isEmpty) 0.0 else full.outputRecords.toDouble / batches.size, "count")
    m("streaming.add_batch_ms", Stats.median(untracedBatches.map(_.addBatchMs.toDouble).toSeq), "ms")
    m("streaming.trigger_overhead_ms",
      Stats.median(untracedBatches.map(b => (b.triggerMs - b.addBatchMs).toDouble).toSeq), "ms")

    report.note(f"untraced_full_s=$u%.4f traced_full_s=${median(traced)}%.4f local1_s=${oneCore.wallS}%.4f " +
      s"prefixes=${chainOrder.map(l => f"$l:${p(l)}%.4f").mkString(",")}")
    report.note(f"layer self times explain ${100 * layerSum / u}%.1f%% of the untraced run " +
      f"(remainder ${u - layerSum}%.4f s); prefix self times are approximate: Spark fuses the " +
      "stages into one codegen stage, so a difference can be negative")
    val absent = Seq("telemetry.wide" -> !prefixes.contains("telemetry.wide"),
      "streaming" -> (wl != StreamReplay), "pipeline.overhead_s" -> direct.isEmpty)
      .collect { case (l, true) => l }
    if (absent.nonEmpty)
      report.note(s"not on this workload's path (reported as 0): ${absent.mkString(", ")}")
  }

  private def expectedRows(wl: Workload, exp: Gen.Expected, layer: String): Long = {
    val kept = if (wl == IngestWide) Gen.WideApids else exp.packetsPerApid.keys.toSeq
    layer match {
      case "sources" => wl.emittedPackets(exp)
      case "telemetry.wide" => exp.wideTicks
      case _ => exp.samplesOf(kept)
    }
  }

  /** Single-threaded packets/s of the V2 partition reader and of
    * `parseStream` over the same byte range, with no Spark job.
    */
  private def framers(wl: Workload, spark: SparkSession, dirs: Dirs, exp: Gen.Expected): (Double, Double) = {
    val files = Files.list(dirs.input)
    val first = try files.sorted().findFirst().get() finally files.close()
    val len = Files.size(first)
    val (start, end) = wl match {
      case IngestTidy =>
        // the second split, so the reader resyncs from mid-packet
        val split = IngestTidy.splitSize(spark, exp)
        (math.min(split, len), math.min(2 * split, len))
      case _ => (0L, len)
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val opts = wl.readerOptions
    val reader = rate { () =>
      val r = new CcsdsPartitionReader(CcsdsInputPartition(first.toUri.toString, start, end), opts, conf)
      var n = 0L
      try while (r.next()) { r.get(); n += 1 } finally r.close()
      n
    }
    val bytes = {
      val ch = java.nio.channels.FileChannel.open(first)
      try {
        val buf = java.nio.ByteBuffer.allocate((end - start).toInt)
        while (buf.hasRemaining && ch.read(buf, start + buf.position()) >= 0) ()
        buf.array()
      } finally ch.close()
    }
    val parse = rate { () =>
      var n = 0L
      val it = CcsdsSource.parseStream(bytes, opts)
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    (reader, parse)
  }

  /** Packets per second over repeated passes lasting at least
    * [[ReaderMinS]] in total (and at least three passes).
    */
  private def rate(pass: () => Long): Double = {
    pass() // warm
    var n = 0L
    var s = 0.0
    var i = 0
    while (i < 3 || s < ReaderMinS) {
      val t0 = System.nanoTime()
      n += pass()
      s += (System.nanoTime() - t0) / 1e9
      i += 1
    }
    n / s
  }
}
