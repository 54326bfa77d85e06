package graft.telemetry

import graft.SparkSpec
import graft.sources.CcsdsSource
import graft.sources.CcsdsSource.Options

/** Port of the reference binary-extractor tests
  * (tests/test_plugins_extractor_binary.py:14-80) + header round-trip
  * (tests/test_models_packet.py:16-48).
  */
class CcsdsSourceSpec extends SparkSpec {

  private def tenPackets: Array[Byte] =
    (0 until 10).flatMap { i =>
      Fixtures.makeRawPacket(
        apid = 0x100, seqCount = i,
        userData = BinaryFieldOps.packNumberBE((i * 1000).toDouble, 32, ParameterType.UINT))
    }.toArray

  test("parses all packets from a clean stream") {
    val rows = CcsdsSource.parseStream(tenPackets, Options()).toSeq
    assert(rows.size == 10)
    assert(rows.map(_.seq_count) == (0 until 10))
    assert(rows.forall(_.apid == 0x100))
    assert(rows.forall(_.data_length == 3)) // 4-byte user_data
  }

  test("header fields round-trip through makeRawPacket") {
    val raw = Fixtures.makeRawPacket(apid = 0x7ff, seqCount = 0x3fff,
      userData = Array[Byte](1, 2, 3), typeFlag = 1, seqFlags = 0x2)
    val row = CcsdsSource.parseStream(raw, Options()).next()
    assert(row.apid == 0x7ff && row.seq_count == 0x3fff)
    assert(row.type_flag == 1 && row.seq_flags == 0x2)
    assert(row.user_data.toSeq == Seq[Byte](1, 2, 3))
  }

  test("apid filter drops non-matching packets during the scan") {
    val mixed = tenPackets ++ Fixtures.makeRawPacket(apid = 0x200, seqCount = 99,
      userData = Array[Byte](9))
    val hit = CcsdsSource.parseStream(mixed, Options(apidFilter = Some(Seq(0x200)))).toSeq
    assert(hit.map(_.seq_count) == Seq(99))
    val miss = CcsdsSource.parseStream(mixed, Options(apidFilter = Some(Seq(0x555)))).toSeq
    assert(miss.isEmpty)
  }

  test("secondary header split honors sec_hdr_flag and configured length") {
    val raw = Fixtures.makeRawPacket(apid = 0x100, seqCount = 1,
      secHdr = Array[Byte](0x11, 0x22, 0x33, 0x44),
      userData = Array[Byte](0xde.toByte, 0xad.toByte))
    val row = CcsdsSource.parseStream(raw, Options(secHdrLength = 4)).next()
    assert(row.sec_hdr_flag == 1)
    assert(row.secondary_header.toSeq == Seq[Byte](0x11, 0x22, 0x33, 0x44))
    assert(row.user_data.toSeq == Seq(0xde.toByte, 0xad.toByte))
    // without configured length the whole data field is user_data
    val row0 = CcsdsSource.parseStream(raw, Options()).next()
    assert(row0.secondary_header.isEmpty && row0.user_data.length == 6)
  }

  test("frame-sync scan skips garbage between marker-framed packets") {
    val garbage = Array[Byte](0xff.toByte, 0xff.toByte)
    val framed = (0 until 3).flatMap { i =>
      garbage ++ CcsdsSource.SyncMarker ++
        Fixtures.makeRawPacket(apid = 0x100, seqCount = i, userData = Array[Byte](7))
    }.toArray
    val rows = CcsdsSource.parseStream(framed, Options(frameSync = true)).toSeq
    assert(rows.map(_.seq_count) == Seq(0, 1, 2))
    // without frameSync the garbage derails parsing: garbage bytes are
    // consumed as a bogus header -> truncated tail -> 0 or junk rows only
    val rows2 = CcsdsSource.parseStream(framed, Options()).toSeq
    assert(rows2.forall(_.apid != 0x100) || rows2.isEmpty)
  }

  test("truncated tail is dropped") {
    val truncated = tenPackets.dropRight(3)
    val rows = CcsdsSource.parseStream(truncated, Options()).toSeq
    assert(rows.size == 9)
  }

  test("format(ccsds) reads a two-file glob, one partition per file") {
    val dir = java.nio.file.Files.createTempDirectory("ccsds")
    Fixtures.writeHkFile(dir.resolve("a.bin"), 20)
    Fixtures.writeHkFile(dir.resolve("b.bin"), 30)
    val df = spark.read.format("ccsds").option("path", dir.toString + "/*.bin")
      .option("sec_hdr_length", "4").load()
    assert(df.rdd.getNumPartitions == 2)
    assert(df.count() == 50)
    assert(df.select("apid").distinct().collect().map(_.getInt(0)).toSeq == Seq(0x100))
  }
}
