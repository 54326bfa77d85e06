package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.telemetry.{CalibrationEntry, ParameterDef, ParameterType}

/** Seeded CCSDS input generator and the telemetry database it is decoded
  * with. The program under test only ever sees the files written here;
  * the [[Expected]] record is what every output check compares against.
  *
  * Packet mix (per block of 20 packets, order shuffled by the seed):
  *   - 8 HK packets (APID 0x100): 16-byte data field shaped like the
  *     flagship example stream, 4 parameters;
  *   - 8 power packets (APID 0x120): 32-byte data field, 14 uint16s;
  *   - 2 science packets (APID 0x140): 512-byte data field, 2 parameters;
  *   - 2 idle packets (APID 0x7FF): no MIB entry, dropped by decom.
  * Every packet carries a 4-byte secondary header with a coarse time
  * tick (one tick per [[PacketsPerTick]] packets, shared across APIDs).
  * About one science or idle payload in [[MarkerEvery]] contains the
  * 0x1ACFFC1D sync marker bytes.
  */
object Gen {

  val Hk = 0x100
  val Power = 0x120
  val Science = 0x140
  val Idle = 0x7ff
  /** APIDs the wide workload keeps (pushed into the byte walk). */
  val WideApids: Seq[Int] = Seq(Hk, Power)

  val SecHdrLength = 4
  val PacketsPerTick = 4
  val MarkerEvery = 40
  val Marker: Array[Byte] = Array(0x1a, 0xcf, 0xfc, 0x1d).map(_.toByte)

  private val HkUser = 12
  private val PowerUser = 28
  private val ScienceUser = 508
  private val IdleUser = 60
  private val BlockMix: Array[Int] =
    Array.fill(8)(Hk) ++ Array.fill(8)(Power) ++ Array.fill(2)(Science) ++ Array.fill(2)(Idle)

  val params: Seq[ParameterDef] = {
    import ParameterType._
    Seq(
      ParameterDef("obc_temp_dn", Hk, 0, 16, UINT, Some("DN")),
      ParameterDef("bus_voltage_dn", Hk, 2, 16, UINT, Some("DN")),
      ParameterDef("bat_current_dn", Hk, 4, 16, UINT, Some("DN")),
      ParameterDef("mission_time_s", Hk, 6, 32, FLOAT, Some("s"))) ++
      (0 until 14).map(i => ParameterDef(f"pwr_$i%02d", Power, 2 * i, 16, UINT, Some("DN"))) ++
      Seq(
        ParameterDef("sci_counts", Science, 0, 16, UINT, Some("DN")),
        ParameterDef("sci_gain", Science, ScienceUser - 2, 16, UINT, Some("DN")))
  }

  val calibrations: Seq[CalibrationEntry] = {
    val table = CalibrationEntry("", "table", Some("A"),
      table_raw = Seq(0.0, 16384.0, 32768.0, 49152.0, 65535.0),
      table_eng = Seq(-2.0, -1.0, 0.0, 1.0, 2.0))
    Seq(
      CalibrationEntry("obc_temp_dn", "polynomial", Some("degC"), coefficients = Seq(-55.0, 0.04394531)),
      CalibrationEntry("bus_voltage_dn", "polynomial", Some("V"), coefficients = Seq(0.0, 0.008056640625)),
      table.copy(parameter_name = "bat_current_dn"),
      CalibrationEntry("sci_counts", "polynomial", Some("count"), coefficients = Seq(1.0, 0.5, 1e-6))) ++
      (0 until 14).collect {
        case i if i % 5 == 0 => table.copy(parameter_name = f"pwr_$i%02d")
        case i if i % 5 == 2 =>
          CalibrationEntry(f"pwr_$i%02d", "polynomial", Some("W"), coefficients = Seq(0.5, 0.01, 1e-7))
      }
  }

  def paramNames(apids: Seq[Int]): Seq[String] =
    params.filter(p => apids.contains(p.apid)).map(_.name)

  private val calibrationOf: Map[String, CalibrationEntry] =
    calibrations.map(c => c.parameter_name -> c).toMap

  /** The engineering value calibration should give `raw`, evaluated in
    * the same operation order as the plan (Horner; clamped linear
    * segments), so each value matches bit for bit.
    */
  def eng(name: String, raw: Double): Double = calibrationOf.get(name) match {
    case Some(c) if c.method == "polynomial" =>
      c.coefficients.reverse.tail.foldLeft(c.coefficients.last)((acc, k) => acc * raw + k)
    case Some(c) if c.method == "table" =>
      val xs = c.table_raw
      val ys = c.table_eng
      if (raw <= xs.head) ys.head
      else (1 until xs.size).find(i => xs(i) != xs(i - 1) && raw < xs(i)) match {
        case Some(i) => ys(i - 1) + (raw - xs(i - 1)) * ((ys(i) - ys(i - 1)) / (xs(i) - xs(i - 1)))
        case None => ys.last
      }
    case _ => raw
  }

  /** How the packets are laid out on disk. */
  case class Layout(files: Int, packetsPerFile: Int, framed: Boolean)

  /** What the generator wrote, for output checks. Raw values are all
    * integers, so raw sums are exact whatever order Spark adds them in.
    * Engineering-value sums depend on the order of addition, so each
    * comes with the sum of absolute values to scale its tolerance.
    * `wideSums` holds, per wide column, the sum of the cells the pivot
    * should keep: per (tick, APID), the packet with the highest
    * (seq_count, eng_value).
    */
  case class Expected(
      files: Int,
      bytes: Long,
      packets: Long,
      packetsPerApid: Map[Int, Long],
      samples: Map[String, Long],
      rawSums: Map[String, Long],
      engSums: Map[String, Sum],
      ticksPerApid: Map[Int, Long],
      wideTicks: Long,
      wideSums: Map[String, Sum]) {
    def packetsOf(apids: Seq[Int]): Long = apids.map(packetsPerApid.getOrElse(_, 0L)).sum
    def samplesOf(apids: Seq[Int]): Long =
      params.filter(p => apids.contains(p.apid)).map(p => samples(p.name)).sum

    def json: String = {
      def obj[K, V](m: Map[K, V]): String =
        m.toSeq.map { case (k, v) => s""""$k": $v""" }.sorted.mkString("{", ", ", "}")
      s"""{"files": $files, "bytes": $bytes, "packets": $packets, """ +
        s""""packets_per_apid": ${obj(packetsPerApid)}, "samples": ${obj(samples)}, """ +
        s""""raw_sums": ${obj(rawSums)}, "eng_sums": ${obj(engSums.map { case (k, v) => k -> v.value })}, """ +
        s""""ticks_per_apid": ${obj(ticksPerApid)}, "wide_ticks": $wideTicks, """ +
        s""""wide_sums": ${obj(wideSums.map { case (k, v) => k -> v.value })}}"""
    }
  }

  /** A floating-point sum and the sum of its terms' magnitudes. */
  final case class Sum(value: Double, abs: Double) {
    def +(x: Double): Sum = Sum(value + x, abs + math.abs(x))
    /** Whether `got` equals this sum up to rounding in the order of addition. */
    def matches(got: Double): Boolean = math.abs(got - value) <= 1e-9 * abs + 1e-9
  }
  val NoSum: Sum = Sum(0.0, 0.0)

  /** Write `layout.files` packet files into `dir` (created) and
    * `expected.json` next to it; returns the record.
    */
  def write(dir: Path, seed: Long, layout: Layout): Expected = {
    Files.createDirectories(dir)
    val rnd = new SplittableRandom(seed)
    val perApid = new Array[Long](0x800)
    val lastTick = Array.fill(0x800)(-1L)
    val ticksPerApid = new Array[Long](0x800)
    var wideLastTick = -1L
    var wideTicks = 0L
    val samples = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val sums = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val engSums = mutable.Map.empty[String, Sum].withDefaultValue(NoSum)
    val wideSums = mutable.Map.empty[String, Sum].withDefaultValue(NoSum)
    val byApid = params.groupBy(_.apid)
    // per APID, the pivot's pending winner on the current tick
    val pendTick = Array.fill(0x800)(-1L)
    val pendSeq = new Array[Int](0x800)
    val pendEng = mutable.Map.empty[Int, Array[Double]]
    def flush(apid: Int): Unit =
      if (pendTick(apid) >= 0 && WideApids.contains(apid))
        byApid(apid).zip(pendEng(apid)).foreach { case (p, e) => wideSums(p.name) += e }
    var bytes = 0L
    var index = 0L
    val block = BlockMix.clone()
    val seqCounts = new Array[Int](0x800)

    def u16(buf: Array[Byte], at: Int, v: Int): Unit = {
      buf(at) = (v >> 8).toByte; buf(at + 1) = v.toByte
    }
    def u32(buf: Array[Byte], at: Int, v: Long): Unit = {
      u16(buf, at, (v >> 16).toInt); u16(buf, at + 2, v.toInt)
    }

    for (f <- 0 until layout.files) {
      val out = new BufferedOutputStream(
        new FileOutputStream(dir.resolve(f"pass-$f%04d.bin").toFile), 1 << 20)
      try {
        var k = 0
        while (k < layout.packetsPerFile) {
          val slot = (index % block.length).toInt
          if (slot == 0) shuffle(block, rnd)
          val apid = block(slot)
          val tick = index / PacketsPerTick
          val userLen = apid match {
            case Hk => HkUser
            case Power => PowerUser
            case Science => ScienceUser
            case _ => IdleUser
          }
          val pkt = new Array[Byte](6 + SecHdrLength + userLen)
          val user = 6 + SecHdrLength
          if (apid == Science || apid == Idle) {
            var i = user
            while (i < pkt.length) { pkt(i) = rnd.nextInt(256).toByte; i += 1 }
            if (rnd.nextInt(MarkerEvery) == 0) {
              // inside the filler, clear of the science parameters
              val at = user + 2 + rnd.nextInt(userLen - 8)
              System.arraycopy(Marker, 0, pkt, at, Marker.length)
            }
          }
          val seq = seqCounts(apid)
          val engs = new Array[Double](byApid.get(apid).fold(0)(_.size))
          for ((p, i) <- byApid.getOrElse(apid, Nil).zipWithIndex) {
            val raw: Long =
              if (p.param_type == ParameterType.FLOAT) {
                val v = rnd.nextInt(1 << 20)
                u32(pkt, user + p.byte_offset, java.lang.Float.floatToIntBits(v.toFloat) & 0xffffffffL)
                v
              } else {
                val v = rnd.nextInt(1 << 16)
                u16(pkt, user + p.byte_offset, v)
                v
              }
            engs(i) = eng(p.name, raw.toDouble)
            samples(p.name) += 1
            sums(p.name) += raw
            engSums(p.name) += engs(i)
          }
          // seq_count is distinct within a tick, so it alone elects the winner
          if (pendTick(apid) != tick) {
            flush(apid); pendTick(apid) = tick; pendSeq(apid) = seq; pendEng(apid) = engs
          } else if (seq > pendSeq(apid)) {
            pendSeq(apid) = seq; pendEng(apid) = engs
          }
          seqCounts(apid) = (seq + 1) & 0x3fff
          u16(pkt, 0, (1 << 11) | apid) // version 0, TM, sec hdr present
          u16(pkt, 2, (0x3 << 14) | seq)
          u16(pkt, 4, SecHdrLength + userLen - 1)
          u32(pkt, 6, tick)
          if (layout.framed) { out.write(Marker); bytes += Marker.length }
          out.write(pkt)
          bytes += pkt.length
          perApid(apid) += 1
          if (lastTick(apid) != tick) { lastTick(apid) = tick; ticksPerApid(apid) += 1 }
          if (WideApids.contains(apid) && wideLastTick != tick) { wideLastTick = tick; wideTicks += 1 }
          index += 1
          k += 1
        }
      } finally out.close()
    }
    val apids = BlockMix.distinct
    apids.foreach(flush)
    val exp = Expected(
      files = layout.files, bytes = bytes, packets = index,
      packetsPerApid = apids.map(a => a -> perApid(a)).toMap,
      samples = params.map(p => p.name -> samples(p.name)).toMap,
      rawSums = params.map(p => p.name -> sums(p.name)).toMap,
      engSums = params.map(p => p.name -> engSums(p.name)).toMap,
      ticksPerApid = apids.map(a => a -> ticksPerApid(a)).toMap,
      wideTicks = wideTicks,
      wideSums = paramNames(WideApids).map(n => n -> wideSums(n)).toMap)
    Files.writeString(dir.resolveSibling(dir.getFileName.toString + ".expected.json"), exp.json)
    exp
  }

  private def shuffle(a: Array[Int], rnd: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }
}
