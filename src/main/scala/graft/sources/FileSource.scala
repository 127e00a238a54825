package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit,
  ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** What a file format tells the shared DataSource V2 plumbing in this
  * file: its schema, how one file splits for a batch read, which files
  * of a streamed folder it reads, and the partition reader that frames
  * its records. [[DumpSource]], [[WarcSource]] and [[TarSource]] are
  * the formats. Implementations are Scala objects: the reader factory
  * ships the format to the executors, and an object serializes as a
  * reference to its class. */
trait FileFormat extends Serializable {
  /** Short name: the table is `graft_<name>(paths)`. */
  def name: String
  def schema: StructType

  /** The input splits of one file for a batch read. The default cuts
    * [start, end) byte ranges of ~`splitBytes` that tile the file
    * exactly; it needs no index, because the WARC and tar readers
    * resync on their own record magic. `splitBytes <= 0` or a file no
    * larger than it gives one whole-file split. */
  def planSplits(path: String, splitBytes: Long, conf: Configuration): Seq[FileSplit] = {
    val p = new Path(path)
    val fileLen = p.getFileSystem(conf).getFileStatus(p).getLen
    if (splitBytes <= 0 || fileLen <= splitBytes) Seq(FileSplit(path))
    else (0L until fileLen by splitBytes)
      .map(off => FileSplit(path, off, math.min(off + splitBytes, fileLen)))
  }

  /** Whether a file of this name belongs to a streamed folder. */
  def streamsFile(name: String): Boolean

  /** A streamed folder's files, in name order: oldest first. */
  final def listFolder(dir: String, conf: Configuration): Seq[String] = {
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).toSeq
      .filter(s => s.isFile && streamsFile(s.getPath.getName))
      .map(_.getPath).sortBy(_.getName).map(_.toString)
  }

  /** The order one micro-batch reads its new files in. */
  def streamScanOrder(files: Seq[String]): Seq[String] = files

  /** The append-only ordering contract of a streamed folder; the
    * stream's guard error quotes it. */
  def orderingContract: String

  def reader(split: FileSplit, conf: Configuration): PartitionReader[InternalRow]
}

/** One read task: the records of `path` STARTING in [start, end) (the
  * whole file by default). `firstIndex` is the ordinal of the first
  * record, which the dump reader carries from its sidecar index. */
case class FileSplit(path: String, start: Long = 0L,
    end: Long = Long.MaxValue, firstIndex: Long = 0L) extends InputPartition

object FileSource {
  /** The active session's Hadoop configuration (carries filesystem
    * settings/credentials for object stores); a bare `new
    * Configuration()` only when no session exists (driver-side test
    * helpers). */
  def activeHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Ship a driver-captured Hadoop conf to the partition readers.
    * Executors have no active session, and a bare `new Configuration()`
    * there would drop the session's filesystem settings (object-store
    * credentials, `fs.<scheme>.impl`).
    *
    * The conf is broadcast rather than carried by value in the reader
    * factory, as Spark's own `FileScan` does. A session conf has ~1,100
    * keys, and a factory carrying it serializes to 113 KB. Carried by
    * value, it is deserialized again in every task of every stage whose
    * lineage holds the scan. A factory holding the broadcast handle is
    * 725 bytes, and the conf is deserialized once per executor JVM (not
    * at all in local mode). Over one `import_batch` benchmark run
    * (`Ingest.run`, 1,560 tasks, local[4] on a 4-core host) Σ
    * task-deserialize CPU fell from 15.8 s to 5.2 s, against 20 s of
    * task CPU, and the median pass time fell by 29%. Spark's
    * `ContextCleaner` releases the broadcast once the factory holding
    * it is unreachable.
    *
    * Each broadcast costs the calling driver thread 7–45 ms (4-core
    * host), and Spark asks for a scan's reader factory while planning,
    * once per copy of the scan node (`DataSourceV2Strategy`, then
    * `RemoveRedundantProjects`), and a stream once per micro-batch. So
    * each batch scan and each stream builds its factory once and
    * reuses it: 4 broadcasts per `import_batch` pass, not 8. */
  def broadcastHadoopConf(conf: Configuration)
      : Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))

  /** `.load(p1, p2, ...)` lands in options as a JSON array under
    * "paths"; a single `.load(p)` as "path". */
  def pathsFromProps(properties: util.Map[String, String]): Seq[String] = {
    val opts = properties.asScala
    opts.get("paths") match {
      case Some(json) => new ObjectMapper().readValue(json, classOf[Array[String]]).toSeq
      case None => opts.get("path").toSeq
    }
  }
}

/** `spark.read.format(<subclass>).load(paths*)`, and
  * `spark.readStream.format(<subclass>).load(dir)`. */
class FileDataSource(format: FileFormat) extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = format.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    newTable(FileSource.pathsFromProps(properties))
  protected def newTable(paths: Seq[String]): FileTable = new FileTable(format, paths)
  override def supportsExternalMetadata(): Boolean = false
}

/** A fixed list of files, or one streamed folder, of one format. Batch
  * reads split each file (`.option("splitBytes", n)`, default 64 MiB,
  * 0 disables); micro-batches read whole new files
  * (`.option("maxFilesPerTrigger", n)` caps each batch). */
class FileTable(format: FileFormat, paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"graft_${format.name}(${paths.mkString(",")})"
  override def schema(): StructType = format.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  protected def newStream(conf: SerializableConfiguration,
      maxFilesPerTrigger: Option[Int]): FileMicroBatchStream =
    new FileMicroBatchStream(format, paths, conf, maxFilesPerTrigger)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = FileSource.activeHadoopConf()
    val splitBytes = options.getLong("splitbytes", 64L << 20)
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = format.schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        paths.flatMap(format.planSplits(_, splitBytes, conf)).toArray
      private lazy val readerFactory =
        new FileReaderFactory(format, FileSource.broadcastHadoopConf(conf))
      override def createReaderFactory(): PartitionReaderFactory = readerFactory
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        newStream(new SerializableConfiguration(conf),
          Option(options.get("maxfilespertrigger")).map(_.toInt))
    }
  }
}

class FileReaderFactory(format: FileFormat, conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    format.reader(partition.asInstanceOf[FileSplit], conf.value.value)
}

/** A folder of one format as an unbounded source: the reference re-runs
  * over a dump folder as new daily `YYYY-MM-DD.bson` shards land
  * (ght2dm.go:985-1058), a crawl folder receives `.warc` shards, a
  * WebDataset folder `.tar` shards. The offset is a count into the
  * name-sorted listing (folders are append-only: new shards sort after
  * processed ones), each micro-batch is the newly-arrived files — one
  * partition per file, exactly-once via the checkpointed offset. Load
  * with a DIRECTORY path; an explicit file list is a fixed stream of
  * those files.
  *
  * Admission control: `maxFilesPerTrigger` caps each micro-batch (a
  * catch-up over months of daily shards proceeds in bounded steps —
  * bounded executor memory and bounded per-batch warehouse merges —
  * instead of one giant batch), and Trigger.AvailableNow is properly
  * supported: the file listing is FROZEN at query start, the engine
  * drains exactly that set in maxFilesPerTrigger-sized batches and
  * stops, shards landing mid-drain wait for the next run.
  */
class FileMicroBatchStream(format: FileFormat,
    paths: Seq[String],
    conf: SerializableConfiguration,
    maxFilesPerTrigger: Option[Int] = None)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def currentFiles(): Seq[String] = paths match {
    case Seq(single) =>
      val dir = new Path(single)
      if (dir.getFileSystem(conf.value).getFileStatus(dir).isDirectory)
        format.listFolder(single, conf.value)
      else paths
    case _ => paths
  }

  /** AvailableNow freezes the listing at query start so the drain has
    * a fixed endpoint (files landing mid-drain belong to the NEXT
    * run); @volatile because the engine may call prepare/latestOffset
    * from different threads. */
  @volatile private var frozenFiles: Option[Seq[String]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozenFiles = Some(currentFiles())

  private def filesNow(): Seq[String] = frozenFiles.getOrElse(currentFiles())

  override def initialOffset(): Offset = DumpOffset(0, None)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** Admission-controlled batch endpoint: at most `maxFiles` NEW files
    * past the committed start. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val files = filesNow()
    val s = start.asInstanceOf[DumpOffset].fileCount
    val cap = limit match {
      case mf: ReadMaxFiles => math.min(files.length, s + mf.maxFiles())
      case _ => files.length
    }
    DumpOffset(cap, if (cap > 0) Some(baseName(files(cap - 1))) else None)
  }

  /** The true end of available data (progress reporting — how far
    * behind the capped batches are). */
  override def reportLatestOffset(): Offset = {
    val files = filesNow()
    DumpOffset(files.length, files.lastOption.map(baseName))
  }

  // the engine uses the admission-control variant when the source
  // implements SupportsAdmissionControl; keep the plain form as the
  // uncapped endpoint for any legacy caller
  override def latestOffset(): Offset = reportLatestOffset()
  override def deserializeOffset(json: String): Offset = DumpOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def baseName(p: String): String = new Path(p).getName

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[DumpOffset]
    val s = so.fileCount
    val e = end.asInstanceOf[DumpOffset].fileCount
    val files = filesNow()
    // enforce the append-only assumption the offset encoding relies on:
    // if a shard sorting BEFORE committed files lands after they were
    // committed, the count-based offset would silently skip it — fail
    // loudly instead of dropping data
    so.lastFile.foreach { committed =>
      if (s > files.length || (s > 0 && baseName(files(s - 1)) != committed))
        throw new IllegalStateException(
          s"${format.name} folder is not append-only: committed offset ($s files, " +
            s"last '$committed') no longer matches the name-sorted listing " +
            s"(${files.length} files" +
            (if (s > 0 && s <= files.length) s", position $s is '${baseName(files(s - 1))}'" else "") +
            s"); ${format.orderingContract}")
    }
    format.streamScanOrder(files.slice(s, e)).map(FileSplit(_): InputPartition).toArray
  }

  private lazy val readerFactory =
    new FileReaderFactory(format, FileSource.broadcastHadoopConf(conf.value))
  override def createReaderFactory(): PartitionReaderFactory = readerFactory
}

/** Offset = how many files of the name-sorted listing are processed,
  * plus the NAME of the last processed file — so a late-arriving shard
  * that sorts earlier (which would shift the count-based index) is
  * detected instead of silently skipping data. */
case class DumpOffset(fileCount: Int, lastFile: Option[String]) extends Offset {
  override def json(): String =
    lastFile.fold(fileCount.toString)(f => s"""{"n":$fileCount,"last":"$f"}""")
}

object DumpOffset {
  private val WithLast = """\{"n":(\d+),"last":"(.*)"\}""".r
  def fromJson(json: String): DumpOffset = json.trim match {
    case WithLast(n, f) => DumpOffset(n.toInt, Some(f))
    case n => DumpOffset(n.toInt, None) // pre-validation checkpoint format
  }
}
