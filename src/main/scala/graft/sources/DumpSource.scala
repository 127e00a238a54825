package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
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
class DumpDataSource extends FileDataSource(DumpSource) {
  override protected def newTable(paths: Seq[String]): FileTable = new DumpTable(paths)
}

object DumpSource extends FileFormat {
  val name = "dump"
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("doc_index", LongType, nullable = false),
    StructField("doc", BinaryType, nullable = false)))

  private val DatedName = """\d{4}-\d{2}-\d{2}\.bson""".r
  def streamsFile(name: String): Boolean = DatedName.matches(name)

  /** Date-ordered visitation (ght2dm.go:985-1058): keep only files named
    * `YYYY-MM-DD.bson`, sorted by that date descending — the
    * reference's processing order. */
  def listDateOrdered(dir: String): Seq[String] =
    listFolder(dir, FileSource.activeHadoopConf()).reverse

  // a micro-batch reads the batch scan's order, newest dump date first
  // (offsets count from the oldest file). An import that keeps the
  // first-read copy of a key (`Ingest.importRepoLabels`) then keeps the
  // same copy whether a dump set is streamed or batch-read.
  override def streamScanOrder(files: Seq[String]): Seq[String] = files.reverse

  val orderingContract = "a shard older than already-processed dates arrived late"

  def reader(split: FileSplit, conf: Configuration): PartitionReader[InternalRow] =
    new DumpPartitionReader(split, conf)

  /** Frame writer (test fixtures / staging): 4-byte LE length incl.
    * prefix, then the body. With `indexEvery > 0`, also writes the
    * sidecar offset index (`path.idx`) every `indexEvery` docs — free
    * at write time, and what lets the batch reader split the file into
    * multiple partitions. Always removes a pre-existing sidecar first
    * so an unindexed rewrite can't leave a stale index behind. */
  def writeDump(path: String, docs: Iterator[Array[Byte]],
                indexEvery: Int = 0): Unit = {
    val fs = new Path(path).getFileSystem(FileSource.activeHadoopConf())
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
    val fs = p.getFileSystem(FileSource.activeHadoopConf())
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
  override def planSplits(path: String, splitBytes: Long,
                          conf: Configuration): Seq[FileSplit] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val fileLen = fs.getFileStatus(p).getLen
    val idxPath = new Path(path + IndexSuffix)
    if (splitBytes <= 0 || fileLen <= splitBytes || !fs.exists(idxPath))
      return Seq(FileSplit(path))
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
      .map { case ((di, off), end) => FileSplit(path, off, end, di) }
  }
}

/** The dump [[FileTable]] and stream, as classes of their own so that
  * a plan's dump scans can be told apart by class. */
class DumpTable(paths: Seq[String]) extends FileTable(DumpSource, paths) {
  override protected def newStream(conf: SerializableConfiguration,
      maxFilesPerTrigger: Option[Int]): FileMicroBatchStream =
    new DumpMicroBatchStream(paths, conf, maxFilesPerTrigger)
}

class DumpMicroBatchStream(paths: Seq[String], conf: SerializableConfiguration,
    maxFilesPerTrigger: Option[Int] = None)
  extends FileMicroBatchStream(DumpSource, paths, conf, maxFilesPerTrigger)

/** Streams one dump split, yielding one row per framed document. */
class DumpPartitionReader(part: FileSplit, conf: Configuration)
  extends PartitionReader[InternalRow] {
  private val path = part.path
  private val in: DataInputStream = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
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
