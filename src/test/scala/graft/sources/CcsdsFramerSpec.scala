package graft.sources

import java.nio.file.Files

import graft.sources.CcsdsSource.{Options, SyncMarker}
import graft.sources.v2.{CcsdsInputPartition, CcsdsPartitionReader}
import graft.telemetry.PacketRow
import org.apache.spark.sql.catalyst.InternalRow
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Differential properties of the CCSDS framing kernel against an
  * independent reference: the plain array walker below, which walks a
  * whole stream from offset 0 with no split and no first-marker check.
  *
  * Whole streams, framed or not, must read exactly as the reference reads
  * them. A framed stream cut into byte ranges `[a, b)` must give back,
  * range after range, the whole-stream read; the one legitimate
  * difference is a false sync: a sync pattern inside a payload, found by
  * a range that starts inside that packet, whose parsed packet ends within
  * `resync_window` bytes before a real marker or the end of the stream
  * (exactly on one, at `resync_window = 0`). Each such packet is asserted
  * to be exactly that, and the rest of the range must still be the
  * whole-stream read. The contract the split reads rely on is generated
  * here: gapless streams run at `resync_window = 0`, streams with garbage
  * between packets at a window no shorter than their longest garbage run.
  */
object CcsdsFramerSpec extends Properties("ccsds-framer") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(1000)

  /** One packet the reference walked: marker (or header) offset, end
    * offset, the row, and whether the APID filter keeps it.
    */
  case class Walked(start: Int, end: Int, row: PacketRow, kept: Boolean)

  /** The array walker that framed in-memory streams before the kernel. */
  def referenceWalk(bytes: Array[Byte], opts: Options, max: Int = Int.MaxValue): Vector[Walked] = {
    val out = Vector.newBuilder[Walked]
    var pos = 0
    var n = 0
    while (n < max) {
      val start = if (opts.frameSync) indexOfMarker(bytes, pos) else pos
      if (start < 0) return out.result()
      pos = if (opts.frameSync) start + SyncMarker.length else start
      if (pos + 6 > bytes.length) return out.result()
      val word0 = ((bytes(pos) & 0xff) << 8) | (bytes(pos + 1) & 0xff)
      val word1 = ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
      val word2 = ((bytes(pos + 4) & 0xff) << 8) | (bytes(pos + 5) & 0xff)
      val apid = word0 & 0x7ff
      val dataLen = word2 + 1
      if (pos + 6 + dataLen > bytes.length) return out.result()
      val fieldStart = pos + 6
      pos = fieldStart + dataLen
      val secFlag = (word0 >> 11) & 0x1
      val secLen = if (secFlag == 1) math.min(opts.secHdrLength, dataLen) else 0
      val row = PacketRow(
        version = (word0 >> 13) & 0x7,
        type_flag = (word0 >> 12) & 0x1,
        sec_hdr_flag = secFlag,
        apid = apid,
        seq_flags = (word1 >> 14) & 0x3,
        seq_count = word1 & 0x3fff,
        data_length = word2,
        secondary_header = java.util.Arrays.copyOfRange(bytes, fieldStart, fieldStart + secLen),
        user_data = java.util.Arrays.copyOfRange(bytes, fieldStart + secLen, fieldStart + dataLen),
        source_time_tai = None,
        ground_receipt_time = opts.groundReceiptTime,
        source_id = opts.sourceId)
      out += Walked(start, pos, row, opts.apidFilter.forall(_.contains(apid)))
      n += 1
    }
    out.result()
  }

  def indexOfMarker(bytes: Array[Byte], from: Int): Int =
    bytes.indices.indexWhere(i => i + SyncMarker.length <= bytes.length &&
      SyncMarker.indices.forall(j => bytes(i + j) == SyncMarker(j)), from)

  /** Row contents with the byte arrays as values (PacketRow compares
    * arrays by reference).
    */
  type Key = (PacketRow, Seq[Byte], Seq[Byte])
  def key(r: PacketRow): Key =
    (r.copy(secondary_header = null, user_data = null), r.secondary_header.toSeq, r.user_data.toSeq)
  def key(r: InternalRow): Key = (PacketRow(
    r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6),
    null, null, None,
    if (r.isNullAt(10)) None else Some(r.getDouble(10)),
    if (r.isNullAt(11)) None else Some(r.getUTF8String(11).toString)),
    r.getBinary(7).toSeq, r.getBinary(8).toSeq)

  // ---- generated streams ----

  /** A stream plus what the generator knows of it: every real marker
    * offset (a marker cut by a truncated tail included) and the resync
    * window the framing contract asks for.
    */
  case class Stream(bytes: Array[Byte], markers: Vector[Int], opts: Options, resyncWindow: Int) {
    override def toString: String =
      s"Stream(${bytes.length} bytes, markers=$markers, $opts, resync_window=$resyncWindow, " +
        s"bytes=${bytes.map(b => f"${b & 0xff}%02x").mkString})"
  }

  private val SyncByte = SyncMarker(0) & 0xff
  // random filler never starts a sync pattern, so patterns appear only
  // where the generator plants them
  private val fillByte: Gen[Byte] =
    Gen.choose(0, 254).map(b => (if (b >= SyncByte) b + 1 else b).toByte)
  private def fill(min: Int, max: Int): Gen[Array[Byte]] =
    Gen.choose(min, max).flatMap(Gen.listOfN(_, fillByte)).map(_.toArray)
  // header fields whose bytes are never the first sync byte
  private val apids = Seq(0x100, 0x101, 0x0a5, 0x7ff)
  private val seqGen = Gen.choose(0, 0x3fff).map { s =>
    val lo = if ((s & 0xff) == SyncByte) s ^ 1 else s
    if ((lo >> 8) == SyncByte) lo ^ 0x100 else lo
  }

  private def header(apid: Int, typeFlag: Int, secFlag: Int, seqFlags: Int, seq: Int, word2: Int): Array[Byte] = {
    val word0 = (typeFlag << 12) | (secFlag << 11) | apid
    val word1 = (seqFlags << 14) | seq
    Array(word0 >> 8, word0, word1 >> 8, word1, word2 >> 8, word2).map(_.toByte)
  }

  private val headerFields = for {
    apid <- Gen.oneOf(apids)
    typeFlag <- Gen.choose(0, 1)
    secFlag <- Gen.choose(0, 1)
    seqFlags <- Gen.choose(0, 3)
    seq <- seqGen
  } yield (apid, typeFlag, secFlag, seqFlags, seq)

  /** A sync pattern plus a header planted in a data field of `len` bytes
    * at `o`: its parsed packet ends exactly at the field's end, a few
    * bytes short of it, or far past the end of any generated stream.
    */
  private def planted(len: Int): Gen[Option[(Int, Array[Byte])]] =
    if (len < 12) Gen.const(None)
    else for {
      o <- Gen.choose(0, len - 11)
      rest = len - o - 10
      word2 <- Gen.frequency(
        2 -> Gen.const(rest - 1),
        1 -> (if (rest >= 2) Gen.choose(0, rest - 2) else Gen.const(rest - 1)),
        1 -> Gen.choose(0x8000, 0xffff).map(w => if ((w & 0xff) == SyncByte) w ^ 1 else w))
      (apid, typeFlag, secFlag, seqFlags, seq) <- headerFields
      pick <- Gen.frequency(2 -> true, 3 -> false)
    } yield if (pick) Some(o -> (SyncMarker ++ header(apid, typeFlag, secFlag, seqFlags, seq, word2))) else None

  private case class Packet(head: Array[Byte], field: Array[Byte])

  private val packetGen: Gen[Packet] = for {
    (apid, typeFlag, secFlag, seqFlags, seq) <- headerFields
    len <- Gen.choose(1, 48)
    field <- fill(len, len)
    plant <- planted(len)
  } yield {
    plant.foreach { case (o, b) => System.arraycopy(b, 0, field, o, b.length) }
    Packet(header(apid, typeFlag, secFlag, seqFlags, seq, len - 1), field)
  }

  private val optsGen = for {
    secHdrLength <- Gen.choose(0, 8)
    filter <- Gen.option(Gen.someOf(apids).map(_.toSeq))
  } yield Options(secHdrLength = secHdrLength, apidFilter = filter)

  /** A stream: packets (framed or not) with optional garbage runs, then
    * a clean end, a truncated tail, or a last packet whose data_length
    * claims more bytes than exist. Unframed streams may lie about any
    * packet's data_length; they are only ever read whole.
    */
  def streamGen(framed: Boolean): Gen[Stream] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 12 -> Gen.choose(1, 10))
    packets <- Gen.listOfN(n, packetGen)
    gaps <- Gen.oneOf(false, true)
    maxGap <- if (gaps) Gen.choose(1, 12) else Gen.const(0)
    runs <- Gen.listOfN(n + 1, fill(0, maxGap))
    tail <- Gen.frequency(2 -> Gen.const(0), 1 -> Gen.choose(1, 24), 1 -> Gen.choose(-40, -1))
    liar <- Gen.choose(0, math.max(n - 1, 0))
    opts <- optsGen
    slack <- Gen.choose(0, 3)
  } yield {
    val lying = if (tail < 0 && n > 0) Some(if (framed) n - 1 else liar) else None
    val out = Array.newBuilder[Byte]
    val markers = Vector.newBuilder[Int]
    var size = 0
    def put(b: Array[Byte]): Unit = { out ++= b; size += b.length }
    for ((p, i) <- packets.zipWithIndex) {
      put(runs(i))
      if (framed) { markers += size; put(SyncMarker) }
      val head = p.head.clone()
      if (lying.contains(i)) {
        val w2 = math.min(p.field.length - 1 - tail, 0xffff)
        head(4) = (w2 >> 8).toByte; head(5) = w2.toByte
      }
      put(head); put(p.field)
    }
    put(runs(n))
    val whole = out.result()
    val bytes = if (tail > 0) whole.dropRight(tail) else whole
    val window = if (gaps) runs.drop(1).map(_.length).maxOption.getOrElse(0) + slack else 0
    Stream(bytes, markers.result().filter(_ < bytes.length), opts.copy(frameSync = framed), window)
  }

  // ---- reading ----

  /** The framing kernel over `[a, b)` of an in-memory stream. */
  def kernelRead(s: Stream, a: Int, b: Int): Vector[Key] = {
    val f = new CcsdsFramer(
      p => new java.io.ByteArrayInputStream(s.bytes, p.toInt, s.bytes.length - p.toInt),
      a, b, s.opts, s.resyncWindow)
    val out = Vector.newBuilder[Key]
    while (f.next()) out += ((PacketRow(
      f.version, f.typeFlag, f.secHdrFlag, f.apid, f.seqFlags, f.seqCount, f.dataLength,
      null, null, None, s.opts.groundReceiptTime, s.opts.sourceId),
      f.secondaryHeader.toSeq, f.userData.toSeq))
    out.result()
  }

  private val hadoopConf = new org.apache.hadoop.conf.Configuration()

  /** The V2 partition reader over `[a, b)` of the stream in `file`. */
  def hadoopRead(s: Stream, file: java.nio.file.Path, a: Int, b: Int): Vector[Key] = {
    val r = new CcsdsPartitionReader(
      CcsdsInputPartition(file.toUri.toString, a, b), s.opts, hadoopConf, s.resyncWindow)
    val out = Vector.newBuilder[Key]
    try while (r.next()) out += key(r.get()) finally r.close()
    out.result()
  }

  /** What a range `[a, b)` of a framed stream must read, given the
    * whole-stream read `w`: the packets of `w` that start in the range,
    * unless the range's first accepted marker is a false sync, which then
    * comes first and is returned on its own.
    */
  case class Expected(falseSync: Option[Walked], rows: Vector[Walked])

  def expected(s: Stream, w: Vector[Walked], a: Int, b: Int): Expected = {
    def from(p: Int) = w.filter(x => x.start >= p && x.start < b)
    if (a == 0) return Expected(None, from(0))
    val bytes = s.bytes
    var c = indexOfMarker(bytes, a)
    while (c >= 0 && c < b) {
      if (w.exists(_.start == c)) return Expected(None, from(c))
      // a pattern that is not a walked marker: accepted iff its parsed
      // packet is complete and ends within the window before a real
      // marker or the end of the stream
      referenceWalk(bytes.drop(c), s.opts, max = 1).headOption match {
        case Some(fake) =>
          val end = c + fake.end
          val next = (s.markers.filter(_ >= end) :+ bytes.length).min
          if (next - end <= s.resyncWindow)
            return Expected(Some(fake.copy(start = c, end = end)), from(end))
        case None =>
      }
      c = indexOfMarker(bytes, c + 1)
    }
    Expected(None, Vector.empty)
  }

  /** A false sync may only come from inside a packet the whole read
    * walked, or from the truncated tail after the last one.
    */
  private def insidePayload(w: Vector[Walked], f: Walked): Boolean =
    w.exists(x => x.start < f.start && f.start < x.end) || w.forall(_.end <= f.start)

  /** Reads `s` in the ranges between `cuts` with `read` and checks each
    * against [[expected]], and their concatenation, false syncs removed,
    * against the whole read.
    */
  def splitsAgree(s: Stream, cuts: Seq[Int], read: (Int, Int) => Vector[Key]): Prop = {
    val w = referenceWalk(s.bytes, s.opts)
    val bounds = (0 +: cuts :+ s.bytes.length).distinct.sorted
    val ranges = bounds.zip(bounds.tail)
    val exp = ranges.map { case (a, b) => expected(s, w, a, b) }
    val got = ranges.map { case (a, b) => read(a, b) }
    val wanted = exp.map(e => (e.falseSync.toVector ++ e.rows).filter(_.kept).map(x => key(x.row)))
    val fakes = exp.flatMap(_.falseSync)
    Prop.classify(fakes.nonEmpty, "a range kept a false sync") {
      (Prop(got == wanted) :| s"ranges $ranges: got $got, wanted $wanted") &&
        (Prop(exp.flatMap(_.rows).map(_.start) == w.map(_.start)) :| "ranges minus false syncs != whole read") &&
        (Prop(fakes.forall(insidePayload(w, _))) :| s"false sync outside a payload: $fakes")
    }
  }

  // ---- properties ----

  property("whole streams, framed or not, read exactly as the reference walker") =
    Prop.forAllNoShrink(Gen.oneOf(false, true).flatMap(streamGen)) { s =>
      val got = kernelRead(s, 0, s.bytes.length)
      val want = referenceWalk(s.bytes, s.opts).filter(_.kept).map(x => key(x.row))
      Prop(got == want) :| s"got $got\nwant $want"
    }

  property("every two-way cut of a framed stream reads as the whole stream") =
    Prop.forAllNoShrink(streamGen(framed = true)) { s =>
      Prop.all((1 until s.bytes.length).map(k => splitsAgree(s, Seq(k), kernelRead(s, _, _))): _*)
    }

  private def withCuts(s: Stream): Gen[(Stream, Seq[Int])] =
    Gen.choose(1, math.max(s.bytes.length, 1)).flatMap { size =>
      Gen.listOfN(s.bytes.length / size + 1, Gen.choose(0, s.bytes.length)).map(s -> _)
    }

  property("random multi-way cuts of a framed stream read as the whole stream") =
    Prop.forAllNoShrink(streamGen(framed = true).flatMap(withCuts)) { case (s, cuts) =>
      splitsAgree(s, cuts, kernelRead(s, _, _))
    }

  private val optsExtras = for {
    sourceId <- Gen.option(Gen.const("gs-1"))
    receipt <- Gen.option(Gen.const(1.5e9))
  } yield (sourceId, receipt)

  property("the V2 partition reader reads random cuts of a file as the kernel does") =
    Prop.forAllNoShrink(streamGen(framed = true).flatMap(withCuts), optsExtras) {
      case ((s0, cuts), (sourceId, receipt)) =>
        val s = s0.copy(opts = s0.opts.copy(sourceId = sourceId, groundReceiptTime = receipt))
        val file = Files.createTempFile("ccsds-framer", ".bin")
        try {
          Files.write(file, s.bytes)
          splitsAgree(s, cuts, hadoopRead(s, file, _, _))
        } finally Files.delete(file)
    }
}
