package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.collection.mutable.ArrayBuffer

import graft.vcr.{Tape, TapeFileSlice}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The tape as a first-class Spark DataSource V2: `spark.read
  * .format("tape").load("{root}/{stream}")`.
  *
  * Schema: `payload BINARY, dt STRING, src STRING, seq_first BIGINT,
  * seq_last BIGINT` — the file-name sequence range (reference:
  * InjectableS3Emitter.java:38-44) surfaces as metadata columns, which
  * the plain text reader cannot give you.
  *
  * This is the one decoded reader of a tape: batch replay
  * (`TapePlayer.read`), the seq seek (`TapeManifest.readSeqRange`), the
  * decoded estimate and the streaming replay all scan through it.
  *
  * Scale behaviors baked into the scan:
  * - `dt` filters push down into directory pruning at planning time —
  *   a day-range replay never lists, let alone reads, other days
  *   (reference behavior: KinesisPlayer.java:221-246). `EqualTo`/`In`
  *   on `src` prune to the named files the same way.
  * - Files bin-pack into input partitions sized the way Spark's file
  *   sources size them, from the input and the session's cores
  *   (`spark.sql.files.maxPartitionBytes` / `openCostInBytes`): a tape
  *   of many small flush files does not become as many tasks, and a
  *   small tape still spreads across the cores.
  */
class TapeDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "tape"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.getBoolean("ingest", false)) TapeWrite.IngestSchema
    else TapeTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TapeTable(properties.get("path"),
      "true".equalsIgnoreCase(properties.getOrDefault("ingest", "false")))

  override def supportsExternalMetadata(): Boolean = false
}

object TapeTable {
  val Schema: StructType = StructType(Seq(
    StructField(Tape.PayloadCol, BinaryType, nullable = false),
    StructField(Tape.DtCol, StringType, nullable = false),
    StructField(Tape.SrcCol, StringType, nullable = false),
    StructField("seq_first", LongType, nullable = true),
    StructField("seq_last", LongType, nullable = true)))
}

/** Read face by default; with `ingest=true` the table exposes the
  * append-only write face instead (schema data/seq/ts — see TapeWrite).
  */
class TapeTable(path: String, ingest: Boolean = false)
  extends Table with SupportsRead with SupportsWrite {
  require(path != null, "tape source requires a path")
  override def name(): String = s"tape($path)"
  override def schema(): StructType =
    if (ingest) TapeWrite.IngestSchema else TapeTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    if (ingest) util.EnumSet.of(TableCapability.BATCH_WRITE)
    else util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(!ingest, "an ingest=true tape table is write-only")
    new TapeScanBuilder(path, options.getInt("maxFilesPerTrigger", 0),
      options.getLong("maxBytesPerTrigger", 0L))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(ingest, "reads use the default table; pass ingest=true to write")
    new TapeWriteBuilder(path, info)
  }
}

class TapeScanBuilder(path: String, maxFilesPerTrigger: Int = 0,
                      maxBytesPerTrigger: Long = 0L)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pruning: Array[Filter] = Array.empty
  private var required: StructType = TapeTable.Schema

  /** `dt` and `src` filters the listing can apply are fully applied by
    * pruning; all other filters stay post-scan.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (prunable, rest) = filters.partition(TapeScan.pruner(_).isDefined)
    pruning = prunable
    rest
  }
  override def pushedFilters(): Array[Filter] = pruning

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def build(): Scan = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    new TapeScan(path, pruning, required,
      new SerializableConfiguration(conf), maxFilesPerTrigger,
      maxBytesPerTrigger)
  }
}

object TapeScan {
  /** The test a filter the listing can apply puts on its column's
    * value: any string comparison on `dt` (ISO dates compare
    * lexicographically), equality or membership on `src`.
    */
  def pruner(f: Filter): Option[String => Boolean] = f match {
    case EqualTo(Tape.DtCol | Tape.SrcCol, v: String) => Some(_ == v)
    case In(Tape.DtCol | Tape.SrcCol, vs) if vs.forall(_.isInstanceOf[String]) =>
      val set = vs.toSet[Any]
      Some(set(_))
    case GreaterThan(Tape.DtCol, v: String) => Some(_ > v)
    case GreaterThanOrEqual(Tape.DtCol, v: String) => Some(_ >= v)
    case LessThan(Tape.DtCol, v: String) => Some(_ < v)
    case LessThanOrEqual(Tape.DtCol, v: String) => Some(_ <= v)
    case _ => None
  }

  /** The tape files the pruning filters keep: `dt` filters choose the
    * day directories to list, `src` filters the files listed.
    */
  def listFiles(path: String, pruning: Array[Filter],
                conf: SerializableConfiguration): Seq[TapeFileSlice] = {
    val root = new Path(path)
    val (onDt, onSrc) = pruning.partition(_.references.head == Tape.DtCol)
    val keepDay = onDt.flatMap(pruner)
    val keepSrc = onSrc.flatMap(pruner)
    Tape.listFiles(FileSystem.get(root.toUri, conf.value), root,
      dt => keepDay.forall(_(dt)))
      .filter(f => keepSrc.forall(_(f.file)))
  }

  /** Next-fit over files sorted by size, descending, as Spark's
    * `FilePartition.getFilePartitions` packs: a partition closes when
    * the next file would overflow `split`, and each file costs its size
    * plus `openCost`.
    */
  def pack(files: Seq[TapeFileSlice], split: Long,
           openCost: Long): Array[InputPartition] = {
    val parts = ArrayBuffer[InputPartition]()
    val current = ArrayBuffer[TapeFileSlice]()
    var size = 0L
    def close(): Unit = if (current.nonEmpty) {
      parts += TapeInputPartition(current.toArray)
      current.clear()
      size = 0L
    }
    for (f <- files.sortBy(-_.size)) {
      if (size + f.size > split) close()
      size += f.size + openCost
      current += f
    }
    close()
    parts.toArray
  }
}

final case class TapeInputPartition(files: Array[TapeFileSlice])
  extends InputPartition

class TapeScan(path: String, pruning: Array[Filter], required: StructType,
               conf: SerializableConfiguration,
               maxFilesPerTrigger: Int = 0,
               maxBytesPerTrigger: Long = 0L) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
  : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new TapeMicroBatchStream(path, pruning, required, conf,
      maxFilesPerTrigger, maxBytesPerTrigger)
  override def description(): String =
    s"TapeScan path=$path prunedBy=[${pruning.mkString(", ")}]"

  /** Driver-side planning: list only the day directories and files the
    * pushed filters keep, then pack them into partitions of
    * `min(maxPartitionBytes, max(openCost, (Σsize + n·openCost) / cores))`
    * bytes — Spark's file-source split size.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val files = TapeScan.listFiles(path, pruning, conf)
    val sql = SQLConf.get
    val openCost = sql.filesOpenCostInBytes
    val cores = sql.filesMinPartitionNum.getOrElse(
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)
    val total = files.map(_.size + openCost).sum
    val split = math.min(sql.filesMaxPartitionBytes,
      math.max(openCost, total / cores))
    TapeScan.pack(files, split, openCost)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TapeReaderFactory(required, conf)
}

class TapeReaderFactory(required: StructType, conf: SerializableConfiguration)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[TapeInputPartition].files
    new PartitionReader[InternalRow] {
      private val fieldIdx = required.fieldNames
      private var fileIdx = -1
      private var reader: BufferedReader = _
      private var current: TapeFileSlice = _
      private var line: String = _
      private var lineNo = 0L

      private def nextFile(): Boolean = {
        if (reader != null) { reader.close(); reader = null }
        fileIdx += 1
        if (fileIdx >= files.length) return false
        current = files(fileIdx)
        lineNo = 0L
        val p = new Path(current.file)
        val fs = FileSystem.get(p.toUri, conf.value)
        reader = new BufferedReader(new InputStreamReader(fs.open(p), UTF_8))
        true
      }

      override def next(): Boolean = {
        while (true) {
          if (reader == null && !nextFile()) return false
          line = reader.readLine()
          if (line == null) {
            if (!nextFile()) return false
          } else {
            lineNo += 1
            if (line.nonEmpty) return true // reference skips empty lines
          }
        }
        false
      }

      /** Strict standard Base64, as the writer encodes; a line that does
        * not decode fails the read and names its file and line.
        */
      private def payload(): Array[Byte] =
        try java.util.Base64.getDecoder.decode(line)
        catch {
          case e: IllegalArgumentException => throw new java.io.IOException(
            s"tape line ${current.file}:$lineNo is not Base64: ${e.getMessage}", e)
        }

      override def get(): InternalRow = {
        val values = fieldIdx.map {
          case Tape.PayloadCol => payload()
          case Tape.DtCol => UTF8String.fromString(current.dt)
          case Tape.SrcCol => UTF8String.fromString(current.file)
          case "seq_first" =>
            if (current.seqFirst >= 0) java.lang.Long.valueOf(current.seqFirst)
            else null
          case "seq_last" =>
            if (current.seqLast >= 0) java.lang.Long.valueOf(current.seqLast)
            else null
        }
        new GenericInternalRow(values.asInstanceOf[Array[Any]])
      }

      override def close(): Unit = if (reader != null) reader.close()
    }
  }
}
