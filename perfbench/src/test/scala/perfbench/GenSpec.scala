package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.sources.CcsdsSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generated input, read back through both framers, yields exactly
  * the packets the generator recorded — including the payloads that
  * carry sync-marker bytes, at split sizes that cut packets anywhere.
  */
class GenSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  private val tmp = Files.createTempDirectory("perfbench-gen")

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(tmp)
  }

  private def files(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sorted finally s.close()
  }

  private def perApid(apids: Iterator[Int]): Map[Int, Long] =
    apids.toSeq.groupBy(identity).map { case (a, xs) => a -> xs.size.toLong }

  private def readerCounts(dir: Path, framed: Boolean, splitSize: Long,
      apids: Option[Seq[Int]] = None): Map[Int, Long] = {
    val df = spark.read.format("ccsds")
      .option("path", dir.toString)
      .option("sec_hdr_length", Gen.SecHdrLength.toString)
      .option("frame_sync", framed.toString)
      .option("split_size", splitSize.toString)
      .load()
    apids.fold(df)(a => df.where(col("apid").isin(a: _*)))
      .groupBy("apid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  test("the generator is deterministic in its seed and records what it wrote") {
    val layout = Gen.Layout(files = 2, packetsPerFile = 3000, framed = true)
    val a = Gen.write(tmp.resolve("det-a"), 7L, layout)
    val b = Gen.write(tmp.resolve("det-b"), 7L, layout)
    val c = Gen.write(tmp.resolve("det-c"), 8L, layout)
    assert(a == b)
    assert(files(tmp.resolve("det-a")).map(Files.readAllBytes(_).toSeq) ==
      files(tmp.resolve("det-b")).map(Files.readAllBytes(_).toSeq))
    assert(a.rawSums != c.rawSums)
    assert(a.packets == 6000 && a.packetsPerApid.values.sum == 6000)
    assert(a.bytes == files(tmp.resolve("det-a")).map(Files.size).sum)
    assert(a.samples.values.sum == a.samplesOf(a.packetsPerApid.keys.toSeq))
  }

  test("a framed dump with markers inside payloads: parseStream and every split size agree") {
    val dir = tmp.resolve("framed")
    val exp = Gen.write(dir, 42L, Gen.Layout(files = 1, packetsPerFile = 20000, framed = true))
    val bytes = Files.readAllBytes(files(dir).head)
    val opts = CcsdsSource.Options(secHdrLength = Gen.SecHdrLength, frameSync = true)
    assert(perApid(CcsdsSource.parseStream(bytes, opts).map(_.apid)) == exp.packetsPerApid)
    for (split <- Seq(1L << 20, 64L << 10, 4099L, 1000L))
      withClue(s"split_size $split: ") {
        assert(readerCounts(dir, framed = true, split) == exp.packetsPerApid)
      }
  }

  test("unframed pass files: parseStream per file, and the V2 walk with APID pushdown") {
    val dir = tmp.resolve("unframed")
    val exp = Gen.write(dir, 43L, Gen.Layout(files = 4, packetsPerFile = 3000, framed = false))
    val opts = CcsdsSource.Options(secHdrLength = Gen.SecHdrLength)
    val parsed = files(dir).iterator.flatMap(f => CcsdsSource.parseStream(Files.readAllBytes(f), opts).map(_.apid))
    assert(perApid(parsed) == exp.packetsPerApid)
    assert(readerCounts(dir, framed = false, 1L << 20) == exp.packetsPerApid)
    assert(readerCounts(dir, framed = false, 1L << 20, Some(Gen.WideApids)) ==
      exp.packetsPerApid.filter { case (a, _) => Gen.WideApids.contains(a) })
  }

  test("the generator's calibrated values equal the calibration stage's, bit for bit") {
    import spark.implicits._
    val raws = Seq(0.0, 1.0, 16383.0, 16384.0, 16385.0, 32768.0, 49151.0, 49152.0, 65534.0, 65535.0, 70000.0) ++
      (0 until 200).map(i => (i * 7919 % 65536).toDouble)
    val rows = for (p <- Gen.params; r <- raws) yield (p.name, r, r, p.unit.orNull, null: String)
    val df = rows.toDF("name", "raw_value", "eng_value", "unit", "calibration_id")
    val got = graft.operators.Calibration(df, Gen.calibrations)
      .select("name", "raw_value", "eng_value").as[(String, Double, Double)].collect()
    assert(got.length == rows.size)
    for ((n, r, e) <- got) withClue(s"$n($r): ")(assert(e == Gen.eng(n, r)))
  }
}
