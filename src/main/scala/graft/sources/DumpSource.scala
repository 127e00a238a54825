package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException, IOException}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 for GHTorrent-style dump files: a file is a
  * concatenation of length-prefixed documents — 4-byte little-endian
  * total length (including the prefix itself, as in BSON) followed by
  * the document body (reference framing: ght2dm.go:202-236).
  *
  * Output schema: (path string, doc_index long, doc binary) where `doc`
  * is the body without the 4-byte prefix.
  *
  * Parallelism = one input partition per file, PLUS sub-file splits
  * when a sidecar offset index (`<file>.idx`: "(doc_index, byte_offset)"
  * checkpoints at doc boundaries) is present. Variable-length framing
  * has no intra-file resync points, so splits come from the index —
  * written for free at dump-write time ([[DumpSource.writeDump]] with
  * `indexEvery > 0`) or retrofitted with one sequential scan
  * ([[DumpSource.buildDumpIndex]]). Daily GHTorrent shards are wildly
  * skewed (an `events` day can be 100× a `users` day,
  * ght2dm.go:985-1058); without splits one fat file serializes into one
  * task at 100 TB. Split size defaults to 64 MiB; override with
  * `.option("splitBytes", n)` (0 disables). Unindexed files fall back
  * to one partition. Documents are streamed, never
  * whole-file-materialized.
  *
  * Usage: `spark.read.format("graft.sources.DumpDataSource").load(paths*)`.
  */
class DumpDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DumpSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new DumpTable(DumpSource.pathsFromProps(properties))
  override def supportsExternalMetadata(): Boolean = false
}

object DumpSource {
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("doc_index", LongType, nullable = false),
    StructField("doc", BinaryType, nullable = false)))

  /** The active session's Hadoop configuration (carries filesystem
    * settings/credentials for object stores); a bare `new
    * Configuration()` only when no session exists (driver-side test
    * helpers). */
  def activeHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Ship a driver-captured Hadoop conf to the partition readers of the
    * dump, WARC and tar sources. Executors have no active session, and
    * a bare `new Configuration()` there would drop the session's
    * filesystem settings (object-store credentials, `fs.<scheme>.impl`).
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
    * `RemoveRedundantProjects`). So each batch scan builds its factory
    * once and reuses it: 4 broadcasts per `import_batch` pass, not 8. */
  def broadcastHadoopConf(conf: Configuration)
      : Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))

  /** `.load(p1, p2, ...)` lands in options as a JSON array under
    * "paths"; a single `.load(p)` as "path". */
  def pathsFromProps(properties: util.Map[String, String]): Seq[String] = {
    val opts = properties.asScala
    opts.get("paths") match {
      case Some(json) =>
        // minimal JSON string-array parse (values are driver-produced)
        json.stripPrefix("[").stripSuffix("]").split(",")
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
          .filter(_.nonEmpty)
      case None => opts.get("path").toSeq
    }
  }

  /** Date-ordered visitation (ght2dm.go:985-1058): keep only files named
    * `YYYY-MM-DD<suffix>`, sorted by that date descending — the
    * reference's processing order. */
  def listDateOrdered(dir: String, suffix: String = ".bson"): Seq[String] = {
    val datedName = ("""^\d{4}-\d{2}-\d{2}""" + java.util.regex.Pattern.quote(suffix) + "$").r
    val fs = new Path(dir).getFileSystem(activeHadoopConf())
    val files = fs.listStatus(new Path(dir)).toSeq
      .filter(s => s.isFile && datedName.findFirstIn(s.getPath.getName).isDefined)
    files.sortBy(_.getPath.getName)(Ordering[String].reverse).map(_.getPath.toString)
  }

  /** Frame writer (test fixtures / staging): 4-byte LE length incl.
    * prefix, then the body. With `indexEvery > 0`, also writes the
    * sidecar offset index (`path.idx`) every `indexEvery` docs — free
    * at write time, and what lets the batch reader split the file into
    * multiple partitions. Always removes a pre-existing sidecar first
    * so an unindexed rewrite can't leave a stale index behind. */
  def writeDump(path: String, docs: Iterator[Array[Byte]],
                indexEvery: Int = 0): Unit = {
    val fs = new Path(path).getFileSystem(activeHadoopConf())
    val idxPath = new Path(path + IndexSuffix)
    if (fs.exists(idxPath)) fs.delete(idxPath, false)
    val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val out = fs.create(new Path(path), true)
    var pos = 0L
    var i = 0L
    try docs.foreach { body =>
      if (indexEvery > 0 && i % indexEvery == 0) entries += ((i, pos))
      val len = body.length + 4
      out.write(Array[Byte](
        (len & 0xff).toByte, ((len >> 8) & 0xff).toByte,
        ((len >> 16) & 0xff).toByte, ((len >> 24) & 0xff).toByte))
      out.write(body)
      pos += len
      i += 1
    } finally out.close()
    if (indexEvery > 0) writeIndex(fs, idxPath, entries.toSeq)
  }

  private[sources] val IndexSuffix = ".idx"

  private def writeIndex(fs: FileSystem, idxPath: Path,
                         entries: Seq[(Long, Long)]): Unit = {
    val out = fs.create(idxPath, true)
    try entries.foreach { case (di, off) =>
      out.write(s"$di $off\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
  }

  /** Retrofit a sidecar offset index onto an EXISTING dump file: one
    * sequential walk of the length prefixes (bodies are skipped, not
    * read), recording (doc_index, byte_offset) every `every` docs.
    * Run once per fat shard; every later read splits. */
  def buildDumpIndex(path: String, every: Int = 1024): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(activeHadoopConf())
    val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val in = new DataInputStream(new BufferedInputStream(fs.open(p), 1 << 16))
    val lenBuf = new Array[Byte](4)
    var pos = 0L
    var i = 0L
    try {
      var done = false
      while (!done) {
        val first = in.read(lenBuf)
        if (first == -1) done = true
        else {
          var got = first
          while (got < 4) {
            val r = in.read(lenBuf, got, 4 - got)
            if (r == -1) throw new IOException(
              s"malformed dump (truncated length) in $path")
            got += r
          }
          val len = (lenBuf(0) & 0xff) | ((lenBuf(1) & 0xff) << 8) |
            ((lenBuf(2) & 0xff) << 16) | ((lenBuf(3) & 0xff) << 24)
          if (len < 4) throw new IOException(
            s"malformed dump (doc length $len) in $path")
          if (i % every == 0) entries += ((i, pos))
          in.skipNBytes(len - 4)
          pos += len
          i += 1
        }
      }
    } finally in.close()
    writeIndex(fs, new Path(path + IndexSuffix), entries.toSeq)
  }

  /** Plan the input partitions for one file: a single whole-file
    * partition when splitting is off, the file is small, or no sidecar
    * index exists; otherwise one partition per ~`splitBytes` run of
    * docs, cut at indexed doc boundaries. Split ranges are
    * [start, end) byte intervals that exactly tile the file, so the
    * union of splits yields byte-identical rows to the unsplit read
    * (doc_index carried through each split's first indexed doc). */
  def planSplits(path: String, splitBytes: Long,
                 conf: Configuration): Seq[DumpFilePartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val idxPath = new Path(path + IndexSuffix)
    if (splitBytes <= 0 || fileLen <= splitBytes || !fs.exists(idxPath))
      return Seq(DumpFilePartition(path))
    val entries = {
      val in = fs.open(idxPath)
      val text = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        var r = in.read(tmp)
        while (r != -1) { buf.write(tmp, 0, r); r = in.read(tmp) }
        buf.toString("UTF-8")
      } finally in.close()
      text.split("\n").iterator.filter(_.nonEmpty).map { line =>
        val sp = line.split(" ")
        (sp(0).toLong, sp(1).toLong)
      }.toSeq.sortBy(_._2)
    }
    val starts = scala.collection.mutable.ArrayBuffer[(Long, Long)]((0L, 0L))
    entries.foreach { case (di, off) =>
      if (off - starts.last._2 >= splitBytes) starts += ((di, off))
    }
    starts.toSeq.zipAll(starts.toSeq.drop(1).map(_._2), (0L, 0L), fileLen)
      .map { case ((di, off), end) => DumpFilePartition(path, off, end, di) }
  }
}

class DumpTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"graft_dump(${paths.mkString(",")})"
  override def schema(): StructType = DumpSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = DumpSource.activeHadoopConf()
    val splitBytes = options.getLong("splitbytes", 64L << 20)
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = DumpSource.schema
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        paths.flatMap(p =>
          DumpSource.planSplits(p, splitBytes, conf)
            .map(sp => sp: InputPartition)).toArray
      private lazy val readerFactory =
        new DumpReaderFactory(DumpSource.broadcastHadoopConf(conf))
      override def createReaderFactory(): PartitionReaderFactory = readerFactory
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new DumpMicroBatchStream(paths, new SerializableConfiguration(conf),
          Option(options.get("maxfilespertrigger")).map(_.toInt))
    }
  }
}

/** Streaming twin of the dump ingestion: the reference re-runs over a
  * dump folder as new daily `YYYY-MM-DD.bson` shards land
  * (ght2dm.go:985-1058); here the folder IS an unbounded source. The
  * offset is a count into the date-sorted file list (dumps are
  * append-only: new dates sort after processed ones), each micro-batch
  * is the newly-arrived files — one partition per file, exactly-once
  * via the checkpointed offset. Load with a DIRECTORY path:
  * `spark.readStream.format("graft.sources.DumpDataSource").load(dir)`.
  *
  * Admission control: `maxFilesPerTrigger` caps each micro-batch (a
  * catch-up over months of daily shards proceeds in bounded steps —
  * bounded executor memory and bounded per-batch warehouse merges —
  * instead of one giant batch), and Trigger.AvailableNow is properly
  * supported: the file listing is FROZEN at query start, the engine
  * drains exactly that set in maxFilesPerTrigger-sized batches and
  * stops, shards landing mid-drain wait for the next run.
  */
class DumpMicroBatchStream(paths: Seq[String],
    conf: SerializableConfiguration,
    maxFilesPerTrigger: Option[Int] = None)
  extends MicroBatchStream
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  /** Overridable hooks so format twins (the streaming WARC source)
    * reuse the offset/admission machinery with their own listing
    * rule, partition type, and reader. */
  protected def listFiles(dir: String): Seq[String] =
    DumpSource.listDateOrdered(dir).reverse // oldest -> newest
  protected def partitionFor(path: String): InputPartition =
    DumpFilePartition(path)
  protected def readerFactory(): PartitionReaderFactory =
    new DumpReaderFactory(DumpSource.broadcastHadoopConf(conf.value))

  /** What the append-only ordering contract IS for this source — the
    * guard error below quotes it, so format twins with a different
    * listing rule (lexicographic WARC/tar names vs dump dates) report
    * their own contract instead of a misleading dump-date message. */
  protected def orderingContract: String =
    "a shard older than already-processed dates arrived late"

  /** paths = a single directory (the streaming layout) or an explicit
    * file list (then the "stream" is that fixed list, oldest-first). */
  private def currentFiles(): Seq[String] = paths match {
    case Seq(single) =>
      val fs = new Path(single).getFileSystem(conf.value)
      if (fs.getFileStatus(new Path(single)).isDirectory)
        listFiles(single)
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

  override def getDefaultReadLimit:
      org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())
  }

  /** Admission-controlled batch endpoint: at most `maxFiles` NEW files
    * past the committed start. */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val files = filesNow()
    val s = start.asInstanceOf[DumpOffset].fileCount
    val cap = limit match {
      case mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        math.min(files.length, s + mf.maxFiles())
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
    // if a shard with an OLDER date lands after files past it were
    // committed, the count-based offset would silently skip it — fail
    // loudly instead of dropping data
    so.lastFile.foreach { committed =>
      if (s > files.length || (s > 0 && baseName(files(s - 1)) != committed))
        throw new IllegalStateException(
          s"dump folder is not append-only: committed offset ($s files, " +
            s"last '$committed') no longer matches the date-sorted listing " +
            s"(${files.length} files" +
            (if (s > 0 && s <= files.length) s", position $s is '${baseName(files(s - 1))}'" else "") +
            s"); $orderingContract")
    }
    scanOrder(files.slice(s, e)).map(partitionFor).toArray
  }

  /** The order a micro-batch reads its files in: the batch scan's,
    * newest dump date first (`listFiles` runs oldest-first because the
    * offsets count from the oldest file). An import that keeps the
    * first-read copy of a key (`Ingest.importRepoLabels`) then keeps the
    * same copy whether a dump set is streamed or batch-read. */
  protected def scanOrder(files: Seq[String]): Seq[String] = files.reverse

  override def createReaderFactory(): PartitionReaderFactory =
    readerFactory()
}

/** Offset = how many files of the date-sorted listing are processed,
  * plus the NAME of the last processed file — so a late-arriving shard
  * with an older date (which would shift the count-based index) is
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

/** One read task: the byte range [start, end) of `path` (whole file by
  * default), whose first doc carries `firstIndex`. Ranges always begin
  * at a framed-doc boundary (offset 0 or a sidecar-index checkpoint);
  * a task owns exactly the docs STARTING inside its range. */
case class DumpFilePartition(path: String, start: Long = 0L,
    end: Long = Long.MaxValue, firstIndex: Long = 0L) extends InputPartition

class DumpReaderFactory(conf: Broadcast[SerializableConfiguration])
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new DumpPartitionReader(partition.asInstanceOf[DumpFilePartition], conf)
}

/** Streams one dump split, yielding one row per framed document. */
class DumpPartitionReader(part: DumpFilePartition,
    conf: Broadcast[SerializableConfiguration])
  extends PartitionReader[InternalRow] {
  private val path = part.path
  private val in: DataInputStream = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf.value.value)
    val raw = fs.open(p)
    if (part.start > 0) raw.seek(part.start)
    new DataInputStream(new BufferedInputStream(raw, 1 << 16))
  }
  private val pathUtf8 = UTF8String.fromString(path)
  private var pos = part.start
  private var index = part.firstIndex - 1L
  private var current: Array[Byte] = _

  override def next(): Boolean = {
    if (pos >= part.end) return false
    val lenBuf = new Array[Byte](4)
    val first = in.read(lenBuf)
    if (first == -1) return false
    if (first != 4) {
      var got = first
      while (got < 4) {
        val r = in.read(lenBuf, got, 4 - got)
        if (r == -1) throw new IOException(s"malformed dump (truncated length) in $path")
        got += r
      }
    }
    val len = (lenBuf(0) & 0xff) | ((lenBuf(1) & 0xff) << 8) |
      ((lenBuf(2) & 0xff) << 16) | ((lenBuf(3) & 0xff) << 24)
    if (len < 4) throw new IOException(s"malformed dump (doc length $len) in $path")
    val body = new Array[Byte](len - 4)
    try in.readFully(body)
    catch { case _: EOFException =>
      throw new IOException(s"malformed dump (truncated doc) in $path")
    }
    current = body
    pos += len
    index += 1
    true
  }

  override def get(): InternalRow =
    InternalRow(pathUtf8, index, current)

  override def close(): Unit = in.close()
}
