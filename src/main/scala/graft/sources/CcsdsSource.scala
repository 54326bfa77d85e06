package graft.sources

import graft.telemetry.PacketRow
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CCSDS space-packet stream reader over in-memory streams.
  *
  * Behavior of the reference binary extractor (binary.py:58-136): the
  * framing walk itself is [[CcsdsFramer]], which the splittable `ccsds`
  * V2 source (`v2/CcsdsDataSource.scala`) runs over Hadoop byte ranges;
  * here it runs over one whole stream held in memory, for the streaming
  * file source and for fixtures. The reference's `batch_size` disappears
  * (Spark partitions replace hand batching).
  *
  * The reference resyncs by `continue` after a failed 6-byte header parse
  * (binary.py:94-97); since any 6 bytes parse structurally, the only real
  * error paths are truncation (drop tail, as the reference does) and the
  * optional 0x1ACFFC1D sync-marker scan.
  */
object CcsdsSource {

  val SyncMarker: Array[Byte] =
    Array(0x1a.toByte, 0xcf.toByte, 0xfc.toByte, 0x1d.toByte)
  val HeaderSize = 6

  case class Options(
      secHdrLength: Int = 0,
      frameSync: Boolean = false,
      apidFilter: Option[Seq[Int]] = None,
      sourceId: Option[String] = None,
      groundReceiptTime: Option[Double] = None)

  /** Parse one contiguous packet stream into rows (pure; test-friendly). */
  def parseStream(bytes: Array[Byte], opts: Options): Iterator[PacketRow] = {
    val f = new CcsdsFramer(
      p => new java.io.ByteArrayInputStream(bytes, p.toInt, bytes.length - p.toInt),
      0L, bytes.length, opts, resyncWindow = 0)
    new Iterator[PacketRow] {
      private var more = f.next()
      override def hasNext: Boolean = more
      override def next(): PacketRow = {
        if (!more) throw new NoSuchElementException("end of packet stream")
        val row = PacketRow(
          f.version, f.typeFlag, f.secHdrFlag, f.apid, f.seqFlags, f.seqCount, f.dataLength,
          f.secondaryHeader, f.userData, None, opts.groundReceiptTime, opts.sourceId)
        more = f.next()
        row
      }
    }
  }

  /** In-memory variant for fixtures/tests. */
  def packetsFromBytes(spark: SparkSession, streams: Seq[Array[Byte]], opts: Options = Options()): DataFrame = {
    import spark.implicits._
    spark.createDataset(streams).flatMap(parseStream(_, opts)).toDF()
  }
}
