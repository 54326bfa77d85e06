package graft.telemetry

import graft.SparkSpec
import graft.operators.{Calibration, Decom, Telemetry}
import graft.sources.CcsdsSource
import graft.sources.CcsdsSource.Options
import org.apache.spark.sql.functions._

/** Ports of tests/test_plugins_transformers.py (decom exactness, unknown
  * APID handling, calibration values) plus the flagship end-to-end math of
  * examples/01_binary_ingest.py.
  */
class DecomCalibrationSpec extends SparkSpec {

  private lazy val hkPackets = CcsdsSource.packetsFromBytes(
    spark, Seq(Fixtures.hkStream(50)), Options(secHdrLength = 4))

  test("decom uint16 and float32 decode exactly") {
    val samples = Decom(hkPackets, Fixtures.hkParamDefs)
    val byName = samples.groupBy("name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName == Map(
      "obc_temp_dn" -> 50L, "bus_voltage_dn" -> 50L,
      "bat_current_dn" -> 50L, "mission_time_s" -> 50L))

    val row7 = samples.where(col("seq_count") === 7)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(row7("obc_temp_dn") == (2048 + 200 * math.sin(7 / 20.0)).toInt.toDouble)
    assert(row7("bus_voltage_dn") == (3000 + 50 * math.sin(7 / 50.0)).toInt.toDouble)
    assert(row7("bat_current_dn") == (1500 + 300 * math.cos(7 / 15.0)).toInt.toDouble)
    assert(row7("mission_time_s") == (7 * 4.0f).toDouble)
  }

  test("decom signed, little-endian, double, boolean, string, binary") {
    val userData =
      BinaryFieldOps.packNumberBE(-12345.0, 16, ParameterType.INT) ++ // >h
      Array[Byte](0x39, 0x30) ++ // <H 12345 little-endian (LSB first)
      BinaryFieldOps.packNumberBE(-2.5, 64, ParameterType.DOUBLE) ++
      Array[Byte](2) ++ // boolean true (non-zero)
      "OK\u0000\u0000".getBytes("US-ASCII") ++ // string with NUL padding
      Array[Byte](0xde.toByte, 0xad.toByte) // binary -> hex
    val pkt = Fixtures.makeRawPacket(apid = 0x42, seqCount = 3, userData = userData)
    val packets = CcsdsSource.packetsFromBytes(spark, Seq(pkt))
    val defs = Seq(
      ParameterDef("p_int", 0x42, 0, 16, ParameterType.INT),
      ParameterDef("p_le", 0x42, 2, 16, ParameterType.UINT, little_endian = true),
      ParameterDef("p_dbl", 0x42, 4, 64, ParameterType.DOUBLE),
      ParameterDef("p_bool", 0x42, 12, 8, ParameterType.BOOLEAN),
      ParameterDef("p_str", 0x42, 13, 32, ParameterType.STRING),
      ParameterDef("p_bin", 0x42, 17, 16, ParameterType.BINARY),
      ParameterDef("p_oob", 0x42, 100, 16, ParameterType.UINT)) // out of bounds -> skipped
    val out = Decom(packets, defs).collect()
      .map(r => r.getString(0) -> (Option(r.get(5)), Option(r.get(6)))).toMap
    assert(out("p_int")._1.contains(-12345.0))
    assert(out("p_le")._1.contains(12345.0))
    assert(out("p_dbl")._1.contains(-2.5))
    assert(out("p_bool")._1.contains(1.0))
    assert(out("p_str")._2.contains("OK"))
    assert(out("p_bin")._2.contains("dead"))
    assert(!out.contains("p_oob"))
  }

  test("unknown apid: skipped by default, error when strict") {
    val pkt = Fixtures.makeRawPacket(apid = 0x999 & 0x7ff, seqCount = 0,
      userData = Array[Byte](1, 2))
    val packets = CcsdsSource.packetsFromBytes(spark, Seq(pkt))
    val defs = Seq(ParameterDef("x", 0x42, 0, 16, ParameterType.UINT))
    assert(Decom(packets, defs).count() == 0)
    // strict mode is lazy: construction runs no job and must not throw;
    // the in-plan raise_error fires at the first action
    val strict = Decom(packets, defs, skipUnknownApids = false)
    val e = intercept[Throwable] { strict.collect() }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("No parameter definitions for APID 0x0199")),
      msgs(e).mkString(" | "))
  }

  test("sample time falls back to seq_count when no source time") {
    val t = Decom(hkPackets, Fixtures.hkParamDefs)
      .where(col("name") === "obc_temp_dn" && col("seq_count") === 9)
      .select("time_tai").head().getDouble(0)
    assert(t == 9.0)
  }

  test("polynomial calibration matches reference math to 1e-6") {
    val samples = Decom(hkPackets, Fixtures.hkParamDefs)
    val cal = Calibration(samples, Fixtures.hkCalibrations)
    val r = cal.where(col("name") === "obc_temp_dn" && col("seq_count") === 5).head()
    val raw = (2048 + 200 * math.sin(5 / 20.0)).toInt.toDouble
    assert(math.abs(r.getAs[Double]("eng_value") - (-55.0 + 0.04394531 * raw)) < 1e-6)
    assert(r.getAs[String]("unit") == "degC")
    assert(r.getAs[String]("calibration_id") == "polynomial")
    // uncalibrated parameter untouched
    val m = cal.where(col("name") === "mission_time_s" && col("seq_count") === 5).head()
    assert(m.getAs[Double]("eng_value") == 20.0f.toDouble)
    assert(m.getAs[String]("unit") == "s")
    assert(m.getAs[String]("calibration_id") == null)
  }

  test("table calibration interpolates, clamps, and hits midpoints") {
    import spark.implicits._
    val xs = Seq(0.0, 1024.0, 2048.0, 3072.0, 4095.0)
    val ys = Seq(-2.0, -1.0, 0.0, 1.0, 2.0)
    val samples = Seq(
      ("t", 1, 0, 0.0, Some(-5.0), Some(-5.0)),   // below -> clamp -2
      ("t", 1, 1, 1.0, Some(512.0), Some(512.0)), // midpoint -> -1.5
      ("t", 1, 2, 2.0, Some(2048.0), Some(2048.0)), // exact point -> 0
      ("t", 1, 3, 3.0, Some(9999.0), Some(9999.0))) // above -> clamp 2
      .toDF("name", "apid", "seq_count", "time_tai", "raw_value", "eng_value")
      .withColumn("eng_value_str", lit(null).cast("string"))
      .withColumn("unit", lit(null).cast("string"))
      .withColumn("validity", lit(true))
      .withColumn("calibration_id", lit(null).cast("string"))
      .withColumn("out_of_limit", lit(false))
      .withColumn("alarm_level", lit(0))
    val cal = Calibration(samples,
      Seq(CalibrationEntry("t", "table", Some("A"), table_raw = xs, table_eng = ys)))
    val eng = cal.orderBy("seq_count").collect().map(_.getAs[Double]("eng_value")).toSeq
    assert(eng == Seq(-2.0, -1.5, 0.0, 2.0))
  }

  test("calibration unit expression grows linearly; unitless entries and null raws keep the unit") {
    import spark.implicits._
    val samples = Seq(("a", Some(1.0), "V"), ("b", None, "A"), ("b", Some(2.0), "A"))
      .toDF("name", "raw_value", "unit")
      .withColumn("eng_value", col("raw_value"))
      .withColumn("calibration_id", lit(null).cast("string"))
    def unitNodes(n: Int): Int = {
      val entries = (1 to n).map(i =>
        CalibrationEntry(s"p$i", "polynomial", Some(s"u$i"), coefficients = Seq(0.0, 1.0)))
      Calibration(samples, entries).queryExecution.analyzed
        .flatMap(_.expressions)
        .collectFirst { case a: org.apache.spark.sql.catalyst.expressions.Alias if a.name == "unit" => a.child }
        .get.collect { case e => e }.size
    }
    val (n1, n5, n10) = (unitNodes(1), unitNodes(5), unitNodes(10))
    assert((n10 - n5) * 4 == (n5 - n1) * 5, s"unit expression nodes: 1 -> $n1, 5 -> $n5, 10 -> $n10")

    val cal = Calibration(samples, Seq(
      CalibrationEntry("a", "polynomial", None, coefficients = Seq(0.0, 2.0)),
      CalibrationEntry("b", "polynomial", Some("mA"), coefficients = Seq(0.0, 1000.0))))
    val units = cal.select("name", "raw_value", "unit").as[(String, Option[Double], String)]
      .collect().toSet
    assert(units == Set(("a", Some(1.0), "V"), ("b", None, "A"), ("b", Some(2.0), "mA")))
  }

  test("flagship end-to-end: parse -> decom -> calibrate -> tidy/wide") {
    val samples = Calibration(Decom(hkPackets, Fixtures.hkParamDefs), Fixtures.hkCalibrations)
    val tidy = Telemetry.tidy(samples)
    assert(tidy.count() == 200) // 50 packets x 4 params
    assert(tidy.columns.toSeq == Seq("time_tai", "apid", "seq_count", "raw_value",
      "eng_value", "unit", "validity", "out_of_limit", "alarm_level"))
    val wide = Telemetry.wide(samples)
    assert(wide.count() == 50)
    assert(wide.columns.sorted.toSeq ==
      Seq("bat_current_dn", "bus_voltage_dn", "mission_time_s", "obc_temp_dn", "time_tai"))
  }

  test("wide pivot collapses duplicate timestamps last-wins by seq_count") {
    import spark.implicits._
    val samples = Seq(
      ("p", 1, 1, 10.0, 100.0), ("p", 1, 2, 10.0, 200.0), ("q", 1, 1, 10.0, 7.0))
      .toDF("name", "apid", "seq_count", "time_tai", "eng_value")
    val wide = Telemetry.wide(samples)
    val row = wide.head()
    assert(row.getAs[Double]("p") == 200.0) // seq 2 wins
    assert(row.getAs[Double]("q") == 7.0)
  }

  test("apid filter include/exclude/no-op/mutual-exclusion") {
    val two = Telemetry.merge(hkPackets,
      CcsdsSource.packetsFromBytes(spark,
        Seq(Fixtures.makeRawPacket(apid = 0x200, seqCount = 0, userData = Array[Byte](1)))))
    assert(Telemetry.apidFilter(two, include = Seq(0x100)).count() == 50)
    assert(Telemetry.apidFilter(two, exclude = Seq(0x100)).count() == 1)
    assert(Telemetry.apidFilter(two).count() == 51)
    intercept[IllegalArgumentException] {
      Telemetry.apidFilter(two, include = Seq(1), exclude = Seq(2))
    }
  }

  test("parameterStats: count + time_range per parameter") {
    val stats = Telemetry.parameterStats(Decom(hkPackets, Fixtures.hkParamDefs))
      .where(col("name") === "obc_temp_dn").head()
    assert(stats.getAs[Long]("n_samples") == 50)
    assert(stats.getAs[Double]("time_min") == 0.0)
    assert(stats.getAs[Double]("time_max") == 49.0)
  }
}
