package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--commit <sha>] [--scale <f>]
  *
  * Generates the seeded input under `--work` (`--scale` multiplies the
  * workload's packets per file; it is for sizing probes, and results at
  * another scale than 1 are not comparable), sets up a local Spark
  * session once, cold, with an untimed warm-up run, then either measures the
  * workload for `--seconds` (trace 0: end-to-end metrics) or runs the
  * traced breakdown (trace 1: per-layer metrics). Every run's output is
  * checked outside the timed region. Human-readable lines go first; the
  * last stdout line is the JSON result.
  */
object Main {

  /** Untimed runs between set-up and the timed runs. A pipeline run
    * gets about 25% faster over its first five runs in a JVM as the JIT
    * settles, most of it by the third run.
    */
  val WarmRuns = 1
  /** Timed runs per measurement, at least. */
  val MinRuns = 3
  /** Stop starting new runs after this much wall time. */
  val WallBudgetS = 140.0

  final case class Args(
      workload: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: Path, commit: String, scale: Double)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    val wl = Workloads.byName(need("workload")).getOrElse(sys.error(
      s"unknown workload ${need("workload")}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    Args(wl, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, kv.getOrElse("commit", "unknown"),
      kv.get("scale").fold(1.0)(_.toDouble))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_)) finally s.close()
    }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = a.workload
    val cores = Runtime.getRuntime.availableProcessors
    val base = a.work.resolve(s"${wl.name}-${a.seed}")
    deleteTree(base)
    val dirs = Dirs(base.resolve("input"), base.resolve("out"), base.resolve("checkpoints"))

    val g0 = System.nanoTime()
    val layout = wl.layout.copy(packetsPerFile = math.max(1, math.round(wl.layout.packetsPerFile * a.scale).toInt))
    val exp = Gen.write(dirs.input, a.seed, layout)
    val genS = (System.nanoTime() - g0) / 1e9

    val report = new Report(wl.name)
    // the output of every run is checked, outside the timed region
    def checked(r: RunOutcome, spark: SparkSession): RunOutcome = {
      val problems =
        if (!r.ok) Seq(r.error.get)
        else try wl.check(spark, dirs, exp) catch { case e: Throwable => Seq(Workloads.describe(e)) }
      problems.foreach(p => System.err.println(s"perfbench: ${wl.name}: check failed: $p"))
      report.attempt(problems.isEmpty)
      r.copy(error = problems.headOption)
    }
    def runOnce(spark: SparkSession): RunOutcome = {
      deleteTree(dirs.out)
      checked(wl.run(spark, dirs, exp), spark)
    }

    val t0 = System.nanoTime()
    def wall: Double = (System.nanoTime() - t0) / 1e9

    // set-up: the cold session build plus one untimed warm-up run
    val spark = session(cores, base)
    deleteTree(dirs.out)
    val warm = wl.run(spark, dirs, exp)
    val setupS = wall
    warm.error.foreach(e => System.err.println(s"perfbench: ${wl.name}: warm-up failed: $e"))
    // the warm-up's output is checked too, but not counted as a run
    val warmProblems =
      try wl.check(spark, dirs, exp) catch { case e: Throwable => Seq(Workloads.describe(e)) }
    warmProblems.foreach(p => System.err.println(s"perfbench: ${wl.name}: warm-up check failed: $p"))

    System.err.println(f"perfbench: ${wl.name}: set-up done at $wall%.1f s")
    if (!a.trace) {
      val runs = mutable.Buffer.empty[RunOutcome]
      val outRatios = mutable.Buffer.empty[Double]
      var timedS = 0.0
      for (_ <- 0 until WarmRuns) runOnce(spark)
      while ((runs.size < MinRuns || timedS < a.seconds) && wall < WallBudgetS) {
        val r = runOnce(spark)
        runs += r
        timedS += r.wallS
        outRatios += Workloads.bytesOf(Workloads.dataFiles(dirs.out)).toDouble / exp.bytes
      }
      val good = runs.filter(_.ok)
      val walls = good.map(_.wallS).toSeq
      val latMs = wl match {
        case StreamReplay => good.flatMap(_.batches.filter(_.inputRows > 0).map(_.triggerMs.toDouble)).toSeq
        case _ => walls.map(_ * 1000)
      }
      report.metric("setup_s", setupS, "s")
      report.metric("packets_per_s", Stats.median(walls.map(exp.packets / _)), "1/s")
      report.metric("input_mb_per_s", Stats.median(walls.map(exp.bytes / 1e6 / _)), "MB/s")
      report.metric("out_bytes_per_in_byte", Stats.median(outRatios.toSeq), "ratio")
      report.metric("batch_latency_p50_ms", Stats.percentile(latMs, 50), "ms")
      report.metric("batch_latency_p90_ms", Stats.percentile(latMs, 90), "ms")
      report.note(s"warm_runs=$WarmRuns runs=${runs.size} timed_s=${"%.3f".format(timedS)} latency_samples=${latMs.size} " +
        s"(${if (wl == StreamReplay) "micro-batches" else "pipeline runs"}) " +
        s"run_walls_s=${runs.map(r => "%.3f".format(r.wallS)).mkString(",")}")
    } else {
      Trace.run(wl, spark, cores, base, dirs, exp, report, checked, runOnce)
    }
    if (warmProblems.nonEmpty) report.attempt(ok = false)

    System.err.println(f"perfbench: ${wl.name}: measured part done at $wall%.1f s")
    report.note(f"gen_s=$genS%.3f (input generation, not gated)")
    report.fingerprint(Seq(
      "nproc" -> cores.toString,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "jdk" -> System.getProperty("java.runtime.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "git_commit" -> a.commit,
      "seed" -> a.seed.toString,
      "workload" -> wl.name,
      "trace" -> (if (a.trace) "1" else "0"),
      "scale" -> a.scale.toString,
      "input_files" -> exp.files.toString,
      "input_packets" -> exp.packets.toString,
      "input_bytes" -> exp.bytes.toString))
    SparkSession.getActiveSession.foreach(_.stop())
    deleteTree(base)
    report.print(a.work.resolve("results").resolve(s"${wl.name}-${a.seed}-trace${if (a.trace) 1 else 0}.json"))
    sys.exit(if (report.correct) 0 else 1)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = p / 100 * (s.size - 1)
      val lo = math.floor(rank).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }
}

/** Collects metrics and notes; prints them and the JSON result line. */
final class Report(workload: String) {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.Buffer.empty[String]
  private var stamp = Seq.empty[(String, String)]
  private var attempted = 0L
  private var failed = 0L

  def attempt(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
  def correct: Boolean = failed == 0 && attempted > 0
  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(s: String): Unit = notes += s
  def fingerprint(kv: Seq[(String, String)]): Unit = stamp = kv

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def print(record: Path): Unit = {
    val errorRate = if (attempted == 0) 1.0 else failed.toDouble / attempted
    metrics.foreach { case (n, (v, u)) => println(s"metric $workload $n ${num(v)} $u") }
    println(s"metric $workload error_rate ${num(errorRate)} ratio ($failed failed of $attempted attempted)")
    notes.foreach(n => println(s"note $workload $n"))
    val fp = stamp.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
    println(s"fingerprint $fp")
    val ms = metrics.map { case (n, (v, u)) => s"${q(n)}: {${q("value")}: ${num(v)}, ${q("unit")}: ${q(u)}}" }
      .mkString("{", ", ", "}")
    val result = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
    Files.createDirectories(record.getParent)
    Files.writeString(record,
      s"""{"fingerprint": $fp, "notes": [${notes.map(q).mkString(", ")}], "result": $result}""" + "\n")
    println(result)
  }
}
