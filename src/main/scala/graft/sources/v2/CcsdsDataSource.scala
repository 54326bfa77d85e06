package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import graft.sources.{CcsdsFramer, CcsdsSource}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Splittable CCSDS packet-stream source (DataSource V2, SURVEY.md §2.1 /
  * §7.2 scale path).
  *
  * Reading whole files in parallel is fine for many downlink files and
  * useless for one 1 TB dump. When the stream is framed with 0x1ACFFC1D
  * sync markers, byte ranges ARE safely splittable: each
  * split owns the packets whose marker position p lies in [start, end),
  * seeking forward from its start offset to the first marker (the record
  * straddling a boundary belongs to the left split — the same ownership
  * rule Hadoop text input format uses for newlines). Without markers a
  * file is a single partition (variable-length records, no resync point).
  *
  * Usage:
  *   spark.read.format("ccsds")          // via DataSourceRegister
  *     .option("path", "/data/&#42;.bin")   // globs supported
  *     .option("frame_sync", "true")
  *     .option("split_size", 128 << 20)  // target split bytes
  *     .option("sec_hdr_length", "4")
  *     .load()
  *
  * APID predicates (`apid = x`, `apid IN (...)`) push into the scan
  * (SupportsPushDownFilters): filtered packets are dropped during the
  * byte walk, before row materialization — the reference's scan-level
  * apid_filter (binary.py:103-104) made distributed.
  */
class CcsdsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ccsds"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CcsdsDataSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CcsdsTable(new CaseInsensitiveStringMap(properties))
}

object CcsdsDataSource {
  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("type_flag", IntegerType, nullable = false),
    StructField("sec_hdr_flag", IntegerType, nullable = false),
    StructField("apid", IntegerType, nullable = false),
    StructField("seq_flags", IntegerType, nullable = false),
    StructField("seq_count", IntegerType, nullable = false),
    StructField("data_length", IntegerType, nullable = false),
    StructField("secondary_header", BinaryType),
    StructField("user_data", BinaryType),
    StructField("source_time_tai", DoubleType),
    StructField("ground_receipt_time", DoubleType),
    StructField("source_id", StringType)))
}

class CcsdsTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"ccsds(${options.get("path")})"
  override def schema(): StructType = CcsdsDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String](options)
    merged.putAll(o)
    new CcsdsScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

class CcsdsScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters {
  private var pushedApids: Option[Seq[Int]] = None
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo("apid", _: Number) => true
      case In("apid", vs) => vs.forall(_.isInstanceOf[Number])
      case _ => false
    }
    val apids = supported.flatMap {
      case EqualTo("apid", v: Number) => Seq(v.intValue)
      case In("apid", vs) => vs.map(_.asInstanceOf[Number].intValue).toSeq
      case _ => Nil
    }
    if (apids.nonEmpty) pushedApids = Some(apids.toSeq.distinct)
    pushed = supported
    // keep the filters in the residual too (cheap, keeps semantics safe
    // if several apid filters intersect)
    rest ++ supported
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new CcsdsScan(options, pushedApids)
}

class CcsdsScan(options: CaseInsensitiveStringMap, apids: Option[Seq[Int]])
    extends Scan with Batch {
  override def readSchema(): StructType = CcsdsDataSource.schema
  override def description(): String =
    s"CcsdsScan(pushed apids: ${apids.getOrElse(Seq("*")).mkString(",")})"
  override def toBatch: Batch = this

  private val opts = CcsdsSource.Options(
    secHdrLength = Option(options.get("sec_hdr_length")).map(_.toInt).getOrElse(0),
    frameSync = Option(options.get("frame_sync")).exists(_.toBoolean),
    apidFilter = apids,
    sourceId = Option(options.get("source_id")),
    groundReceiptTime = Option(options.get("ground_receipt_time")).map(_.toDouble))
  private val splitSize = Option(options.get("split_size")).map(_.toLong).getOrElse(128L << 20)
  private val resyncWindow = Option(options.get("resync_window")).map(_.toInt).getOrElse(0)
  require(opts.secHdrLength >= 0, s"ccsds option sec_hdr_length must be >= 0, got ${opts.secHdrLength}")
  require(splitSize > 0, s"ccsds option split_size must be > 0, got $splitSize")
  require(resyncWindow >= 0, s"ccsds option resync_window must be >= 0, got $resyncWindow")

  override def planInputPartitions(): Array[InputPartition] = {
    val path = options.get("path")
    require(path != null, "ccsds source requires a 'path' option")
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // hidden/metadata artifacts (_SUCCESS, .*.crc) are not packet data —
    // Spark's built-in file sources skip them too
    def isDataFile(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val matches = Option(fs.globStatus(p)).getOrElse(
      Array.empty[org.apache.hadoop.fs.FileStatus])
    if (matches.isEmpty) {
      // a silent empty read would turn a typo'd path into data loss
      // (globStatus: null for a missing literal path, empty for a
      // matchless glob — both are config errors here)
      throw new IllegalArgumentException(s"ccsds source: path does not exist: $path")
    }
    val files = matches.flatMap { s =>
      if (s.isDirectory) fs.listStatus(s.getPath).filter(isDataFile)
      else Array(s).filter(isDataFile)
    }
    files.flatMap { f =>
      val len = f.getLen
      if (!opts.frameSync || len <= splitSize) {
        Array(CcsdsInputPartition(f.getPath.toString, 0L, len): InputPartition)
      } else {
        // marker-framed: arbitrary byte ranges; the reader resyncs
        val n = math.ceil(len.toDouble / splitSize).toInt
        val step = math.ceil(len.toDouble / n).toLong
        (0 until n).map { i =>
          CcsdsInputPartition(f.getPath.toString, i * step,
            math.min((i + 1) * step, len)): InputPartition
        }.toArray
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    new CcsdsReaderFactory(opts, conf, resyncWindow)
  }
}

/** java.io-serializable Hadoop Configuration carrier (executors must see
  * the session's fs.* settings — an empty `new Configuration()` loses
  * s3a/hdfs credentials and impls).
  */
class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

case class CcsdsInputPartition(file: String, start: Long, end: Long)
    extends InputPartition

class CcsdsReaderFactory(
    opts: CcsdsSource.Options, conf: SerializableHadoopConf, resyncWindow: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CcsdsPartitionReader(
      partition.asInstanceOf[CcsdsInputPartition], opts, conf.value, resyncWindow)
}

/** Reads packets whose sync marker (or, unsplit, whose first byte) lies
  * in [start, end) with the shared [[CcsdsFramer]] walk, which streams
  * the byte range with a bounded read-ahead: memory is O(max packet size),
  * not O(file size) — unlike the reference, which reads the whole file
  * into RAM (binary.py:71-73).
  */
class CcsdsPartitionReader(
    part: CcsdsInputPartition, opts: CcsdsSource.Options,
    hadoopConf: org.apache.hadoop.conf.Configuration,
    resyncWindow: Int = 0)
    extends PartitionReader[InternalRow] {

  private val framer = {
    val p = new Path(part.file)
    val raw = p.getFileSystem(hadoopConf).open(p)
    new CcsdsFramer(
      off => { raw.seek(off); raw },
      part.start, part.end, opts, resyncWindow)
  }
  private val groundReceiptTime = opts.groundReceiptTime.map(java.lang.Double.valueOf).orNull
  private val sourceId = opts.sourceId.map(UTF8String.fromString).orNull
  private var current: InternalRow = _

  override def next(): Boolean = framer.next() && {
    val f = framer
    current = InternalRow(
      f.version, f.typeFlag, f.secHdrFlag, f.apid, f.seqFlags, f.seqCount, f.dataLength,
      f.secondaryHeader, f.userData, null, groundReceiptTime, sourceId)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = framer.close()
}
