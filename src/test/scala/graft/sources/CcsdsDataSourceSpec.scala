package graft.sources

import graft.SparkSpec
import graft.telemetry.Fixtures
import org.apache.spark.sql.functions._

/** V2 source: split correctness (marker-framed files), equality with the
  * flatMap reader, and APID pushdown.
  */
class CcsdsDataSourceSpec extends SparkSpec {

  private def markerFramedFile(n: Int): (java.nio.file.Path, Array[Byte]) = {
    val bytes = (0 until n).flatMap { i =>
      CcsdsSource.SyncMarker ++ Fixtures.makeRawPacket(
        apid = if (i % 3 == 0) 0x200 else 0x100, seqCount = i % 16384,
        userData = graft.telemetry.BinaryFieldOps.packNumberBE(
          (i * 7).toDouble, 32, graft.telemetry.ParameterType.UINT),
        secHdr = Array[Byte](1, 2, 3, 4))
    }.toArray
    val dir = java.nio.file.Files.createTempDirectory("v2src")
    val f = dir.resolve("stream.bin")
    java.nio.file.Files.write(f, bytes)
    (f, bytes)
  }

  test("splittable read: many small splits reproduce the whole stream exactly") {
    val (f, bytes) = markerFramedFile(500)
    val df = spark.read.format("ccsds")
      .option("path", f.toString)
      .option("frame_sync", "true")
      .option("sec_hdr_length", "4")
      .option("split_size", "1024") // force many splits
      .load()
    assert(df.rdd.getNumPartitions > 5, "expected the file to split")
    assert(df.count() == 500)
    // matches the single-pass flatMap parser bit for bit
    val viaFlatMap = CcsdsSource.packetsFromBytes(spark, Seq(bytes),
      CcsdsSource.Options(secHdrLength = 4, frameSync = true))
    val a = df.select("apid", "seq_count", "user_data").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    val b = viaFlatMap.select("apid", "seq_count", "user_data").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq)).toSet
    assert(a == b)
  }

  test("split boundaries never duplicate or drop packets (ownership rule)") {
    val (f, _) = markerFramedFile(199)
    for (split <- Seq(137L, 256L, 1000L, 100000L)) {
      val n = spark.read.format("ccsds")
        .option("path", f.toString).option("frame_sync", "true")
        .option("split_size", split.toString).load().count()
      assert(n == 199, s"split_size=$split gave $n")
    }
  }

  test("apid predicate pushes into the scan") {
    val (f, _) = markerFramedFile(300)
    val df = spark.read.format("ccsds")
      .option("path", f.toString).option("frame_sync", "true").load()
      .where(col("apid") === 0x200)
    assert(df.count() == 100) // every 3rd packet
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("pushed apids: 512"), s"scan not pushed:\n$scanDesc")
  }

  test("spurious sync pattern inside payload does not corrupt split reads") {
    // payload contains the 0x1ACFFC1D pattern followed by bytes that
    // parse into a plausible-but-wrong header; splits starting inside
    // the payload must reject that candidate and resync on real framing
    val evilPayload = Array[Byte](
      0x1a.toByte, 0xcf.toByte, 0xfc.toByte, 0x1d.toByte, // fake marker
      0x08.toByte, 0x01.toByte, 0x00.toByte, 0x05.toByte, // fake header ...
      0x00.toByte, 0x03.toByte, 0x11.toByte, 0x22.toByte,
      0x33.toByte, 0x44.toByte, 0x55.toByte, 0x66.toByte)
    val bytes = (0 until 100).flatMap { i =>
      CcsdsSource.SyncMarker ++ Fixtures.makeRawPacket(
        apid = 0x100, seqCount = i, userData = evilPayload)
    }.toArray
    val dir = java.nio.file.Files.createTempDirectory("v2evil")
    val f = dir.resolve("evil.bin")
    java.nio.file.Files.write(f, bytes)
    for (split <- Seq(41L, 64L, 100L, 333L)) {
      val got = spark.read.format("ccsds")
        .option("path", f.toString).option("frame_sync", "true")
        .option("split_size", split.toString).load()
        .select("seq_count").collect().map(_.getInt(0)).sorted.toSeq
      assert(got == (0 until 100), s"split_size=$split corrupted: ${got.size} rows")
    }
  }

  test("hidden and metadata files are skipped; missing path errors loudly") {
    val dir = java.nio.file.Files.createTempDirectory("v2meta")
    java.nio.file.Files.write(dir.resolve("data.bin"), Fixtures.hkStream(10))
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    java.nio.file.Files.write(dir.resolve(".data.bin.crc"), Fixtures.hkStream(3))
    val df = spark.read.format("ccsds")
      .option("path", dir.toString).option("sec_hdr_length", "4").load()
    assert(df.count() == 10) // crc/_SUCCESS bytes not parsed as packets
    val err = intercept[Exception] {
      spark.read.format("ccsds")
        .option("path", dir.toString + "/nope/*.bin").load().count()
    }
    assert(err.getMessage.contains("does not exist"))
  }

  /** Plans a framed read with one option set; returns the error messages. */
  private def planningError(option: String, value: String): List[String] = {
    val (f, _) = markerFramedFile(10)
    val err = intercept[Exception] {
      spark.read.format("ccsds").option("path", f.toString).option("frame_sync", "true")
        .option(option, value).load().queryExecution.executedPlan
    }
    Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .flatMap(e => Option(e.getMessage)).toList
  }

  test("split_size <= 0 is rejected when the scan is planned") {
    for (v <- Seq("0", "-1")) {
      val msgs = planningError("split_size", v)
      assert(msgs.exists(_.contains("split_size")), msgs.mkString(" | "))
    }
  }

  test("negative resync_window is rejected when the scan is planned") {
    val msgs = planningError("resync_window", "-1")
    assert(msgs.exists(_.contains("resync_window")), msgs.mkString(" | "))
  }

  test("negative sec_hdr_length is rejected when the scan is planned") {
    val msgs = planningError("sec_hdr_length", "-1")
    assert(msgs.exists(_.contains("sec_hdr_length")), msgs.mkString(" | "))
  }

  test("unframed file reads as a single partition") {
    val dir = java.nio.file.Files.createTempDirectory("v2plain")
    val f = dir.resolve("plain.bin")
    java.nio.file.Files.write(f, Fixtures.hkStream(50))
    val df = spark.read.format("ccsds")
      .option("path", f.toString).option("sec_hdr_length", "4").load()
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 50)
  }
}
