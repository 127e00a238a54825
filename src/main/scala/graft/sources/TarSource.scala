package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for POSIX ustar TAR archives — the container of the
  * WebDataset layout (Aizman et al.: tar shards of grouped sample
  * files, `key.jpg` + `key.txt` + `key.json` adjacent), the de-facto
  * shipping format for large-scale multimodal training corpora.
  *
  * Output schema: (path, entry_offset, name, size, payload) — one row
  * per REGULAR file entry (directories and special entries are
  * skipped); `entry_offset` is the header block's absolute byte
  * offset, a stable identity independent of splitting.
  * [[TarSource.tarSamples]] regroups entries into WebDataset samples
  * (key = entry name minus the basename's extension chain, members =
  * extension → payload map).
  *
  * Parallelism: tar needs no sidecar index — every entry starts on a
  * 512-byte block boundary with a checksummed header, so sub-file
  * byte ranges resync by stepping block-aligned offsets until a block
  * validates (magic `ustar` at 257 AND the header checksum over the
  * block with the checksum field blanked). A task owns the entries
  * STARTING in its range, making the split union byte-identical to
  * the unsplit read (same ownership rule as [[WarcSource]]). Known
  * limit, documented rather than hidden: a payload embedding a fully
  * valid header AT a 512-aligned archive offset can fool the resync —
  * the alignment constraint plus the checksum makes an accidental
  * false positive vanishingly unlikely, and the entry walk itself
  * never looks inside payloads.
  *
  * Entries stream one at a time (512-byte header + size-bounded
  * payload; never whole-file materialization). Size fields are parsed
  * as POSIX octal (entries < 8 GiB — the GNU base-256 extension is
  * out of scope and fails loudly).
  *
  * Usage: `spark.read.format("graft.sources.TarDataSource").load(paths*)`.
  */
class TarDataSource extends FileDataSource(TarSource)

object TarSource extends FileFormat {
  val name = "tar"
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("entry_offset", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  final val BlockSize = 512

  /** A parsed ustar header (regular==true for typeflag '0'/NUL). */
  private[sources] case class TarHeader(name: String, size: Long,
                                        regular: Boolean, typeflag: Byte)

  /** Per-FILE metadata typeflags: GNU long name ('L') / long linkname
    * ('K') and the pax ('x') / old-draft ('X') extended header — each
    * describes the NEXT entry, so meta + target form one logical UNIT
    * for split ownership. (pax 'g' is global, not per-file.) */
  private[sources] def isFileMeta(tf: Byte): Boolean =
    tf == 'L'.toByte || tf == 'K'.toByte || tf == 'x'.toByte ||
      tf == 'X'.toByte

  /** Meta payloads are names/attribute records; anything bigger than
    * this is a corrupt or adversarial archive, rejected loudly. */
  private[sources] val MaxMetaBytes: Long = 1L << 20

  /** Pax extended-header records: `"<len> <key>=<value>\n"` where
    * `<len>` is the DECIMAL length of the whole record including
    * itself (pax(1) / POSIX.1-2001). Malformed tails stop the parse
    * (return what parsed); values are UTF-8 — the whole point of pax
    * names. Later duplicates win, per the spec. */
  private[sources] def parsePax(payload: Array[Byte]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < payload.length) {
      var j = i
      while (j < payload.length && payload(j) != ' '.toByte) j += 1
      if (j == i || j >= payload.length) return out.toMap
      val len =
        try new String(payload, i, j - i, ascii).toInt
        catch { case _: NumberFormatException => return out.toMap }
      if (len <= j - i + 2 || i + len > payload.length ||
          payload(i + len - 1) != '\n'.toByte) return out.toMap
      val rec = new String(payload, j + 1, i + len - j - 2,
        java.nio.charset.StandardCharsets.UTF_8)
      val eq = rec.indexOf('=')
      if (eq > 0) out(rec.substring(0, eq)) = rec.substring(eq + 1)
      i += len
    }
    out.toMap
  }

  /** One pax record in the canonical encoding (length prefix counts
    * itself — the standard fixed-point computation). */
  private[graft] def paxRecord(key: String, value: String): Array[Byte] = {
    val body = s" $key=$value\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8)
    var len = body.length + 1
    while (len.toString.length + body.length != len)
      len = len.toString.length + body.length
    len.toString.getBytes(ascii) ++ body
  }

  private def ascii = java.nio.charset.StandardCharsets.US_ASCII

  private def putStr(b: Array[Byte], off: Int, s: String): Unit = {
    val bytes = s.getBytes(ascii)
    System.arraycopy(bytes, 0, b, off, bytes.length)
  }

  /** POSIX numeric field: (width-1) zero-padded octal digits + NUL. */
  private def putOctal(b: Array[Byte], off: Int, width: Int, v: Long): Unit = {
    val s = java.lang.Long.toOctalString(v)
    val pad = width - 1 - s.length
    require(pad >= 0, s"value $v overflows a $width-byte octal field")
    var i = 0
    while (i < pad) { b(off + i) = '0'; i += 1 }
    putStr(b, off + pad, s)
    b(off + width - 1) = 0
  }

  /** Octal field parse: leading spaces allowed, ends at NUL/space;
    * None on anything else (binary/base-256 sizes fail validation). */
  private[sources] def parseOctal(b: Array[Byte], off: Int, width: Int): Option[Long] = {
    var i = off
    val end = off + width
    while (i < end && b(i) == ' ') i += 1
    var v = 0L
    var digits = 0
    while (i < end && b(i) != 0 && b(i) != ' ') {
      if (b(i) < '0' || b(i) > '7') return None
      v = (v << 3) | (b(i) - '0')
      digits += 1
      i += 1
    }
    if (digits == 0) None else Some(v)
  }

  private def nulString(b: Array[Byte], off: Int, width: Int): String = {
    var end = off
    while (end < off + width && b(end) != 0) end += 1
    new String(b, off, end - off, ascii)
  }

  /** Header checksum as POSIX defines it: byte sum of the block with
    * the checksum field read as eight spaces. */
  private[graft] def checksumOf(b: Array[Byte]): Long = {
    var sum = 0L
    var i = 0
    while (i < BlockSize) {
      sum += (if (i >= 148 && i < 156) ' '.toInt else b(i) & 0xff)
      i += 1
    }
    sum
  }

  /** Build one deterministic ustar header block (mode 0644, uid/gid 0,
    * mtime 0 — fixture/staging writes must be byte-reproducible). */
  private[graft] def headerBlock(name: String, size: Long,
                                   typeflag: Byte = '0'): Array[Byte] = {
    require(name.getBytes(ascii).length <= 100,
      s"entry name exceeds the 100-byte ustar name field: $name")
    val b = new Array[Byte](BlockSize)
    putStr(b, 0, name)
    putOctal(b, 100, 8, 420 /* 0644 */)
    putOctal(b, 108, 8, 0)
    putOctal(b, 116, 8, 0)
    putOctal(b, 124, 12, size)
    putOctal(b, 136, 12, 0)
    b(156) = typeflag
    putStr(b, 257, "ustar")
    b(263) = '0'; b(264) = '0'
    val oct = java.lang.Long.toOctalString(checksumOf(b))
    val padded = ("000000" + oct).substring(oct.length)
    putStr(b, 148, padded)
    b(154) = 0; b(155) = ' '
    b
  }

  /** Validate + parse the block as a ustar header: magic `ustar` at
    * 257 (POSIX `\0` or GNU ` ` terminator), checksum match, parseable
    * octal size. None otherwise (including the all-zero trailer
    * block) — this is the resync predicate AND the walk parser. */
  private[sources] def parseHeader(b: Array[Byte]): Option[TarHeader] = {
    if (b.length != BlockSize) return None
    if (!(b(257) == 'u' && b(258) == 's' && b(259) == 't' &&
          b(260) == 'a' && b(261) == 'r' &&
          (b(262) == 0 || b(262) == ' '))) return None
    val stored = parseOctal(b, 148, 8).getOrElse(return None)
    if (stored != checksumOf(b)) return None
    val size = parseOctal(b, 124, 12).getOrElse(return None)
    val base = nulString(b, 0, 100)
    if (base.isEmpty) return None
    val prefix = nulString(b, 345, 155)
    val name = if (prefix.isEmpty) base else s"$prefix/$base"
    val tf = b(156)
    // a directory's size field describes no payload bytes
    val regular = tf == '0'.toByte || tf == 0.toByte
    Some(TarHeader(name, if (tf == '5'.toByte) 0L else size, regular, tf))
  }

  /** Write `entries` as one deterministic ustar archive (payload
    * padded to 512, two zero trailer blocks). */
  def writeTar(path: String, entries: Iterator[(String, Array[Byte])]): Unit = {
    val fs = new Path(path).getFileSystem(FileSource.activeHadoopConf())
    val out = fs.create(new Path(path), true)
    try {
      val pad = new Array[Byte](BlockSize)
      entries.foreach { case (name, body) =>
        out.write(headerBlock(name, body.length))
        out.write(body)
        val rem = body.length % BlockSize
        if (rem != 0) out.write(pad, 0, BlockSize - rem)
      }
      out.write(pad); out.write(pad) // end-of-archive marker
    } finally out.close()
  }

  /** Write `entries` the way GNU tar does for names the 100-byte ustar
    * field cannot hold: an `L`-typeflag `././@LongLink` meta entry
    * carries the full NUL-terminated name; the following regular
    * header keeps a 100-byte truncation. Short names write exactly as
    * [[writeTar]]. Fixture/staging writer for real-world WebDataset
    * shards, which are routinely produced this way. */
  def writeTarGnu(path: String, entries: Iterator[(String, Array[Byte])]): Unit =
    writeTarMeta(path, entries) { (out, pad, name) =>
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (nb.length <= 100) name
      else {
        val payload = nb :+ 0.toByte
        out.write(headerBlock("././@LongLink", payload.length,
          typeflag = 'L'))
        out.write(payload)
        val rem = payload.length % BlockSize
        if (rem != 0) out.write(pad, 0, BlockSize - rem)
        new String(nb, 0, 100, java.nio.charset.StandardCharsets.ISO_8859_1)
      }
    }

  /** Write `entries` the pax (POSIX.1-2001) way: an `x`-typeflag
    * extended header with a `path=` record precedes any entry whose
    * name overflows the ustar field. bsdtar/git-archive produce this
    * layout. */
  def writeTarPax(path: String, entries: Iterator[(String, Array[Byte])]): Unit =
    writeTarMeta(path, entries) { (out, pad, name) =>
      val nb = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (nb.length <= 100) name
      else {
        val payload = paxRecord("path", name)
        out.write(headerBlock("PaxHeaders.0/entry", payload.length,
          typeflag = 'x'))
        out.write(payload)
        val rem = payload.length % BlockSize
        if (rem != 0) out.write(pad, 0, BlockSize - rem)
        new String(nb, 0, 100, java.nio.charset.StandardCharsets.ISO_8859_1)
      }
    }

  /** Shared writer core: `emitMeta` may write a meta entry for a name
    * and returns the (possibly truncated) name the regular header
    * carries. */
  private def writeTarMeta(path: String,
      entries: Iterator[(String, Array[Byte])])(
      emitMeta: (java.io.OutputStream, Array[Byte], String) => String): Unit = {
    val fs = new Path(path).getFileSystem(FileSource.activeHadoopConf())
    val out = fs.create(new Path(path), true)
    try {
      val pad = new Array[Byte](BlockSize)
      entries.foreach { case (name, body) =>
        val headerName = emitMeta(out, pad, name)
        out.write(headerBlock(headerName, body.length))
        out.write(body)
        val rem = body.length % BlockSize
        if (rem != 0) out.write(pad, 0, BlockSize - rem)
      }
      out.write(pad); out.write(pad)
    } finally out.close()
  }

  /** A streamed WebDataset folder holds `.tar` shards whose names sort
    * in landing order (the `shard-000000.tar` convention). A landing
    * shard is the atomic unit: micro-batches read whole files. */
  def streamsFile(name: String): Boolean = name.endsWith(".tar")

  val orderingContract: String =
    "a shard sorting lexicographically before already-processed names " +
      "arrived late (WebDataset shard folders must be append-only in " +
      "name order)"

  /** Batch splits are the shared byte tiling: the reader rounds a range
    * up to the 512 grid and validate-resyncs, so ranges need no index. */
  def reader(split: FileSplit, conf: Configuration): PartitionReader[InternalRow] =
    new TarPartitionReader(split, conf)

  /** WebDataset sample grouping: entries sharing a name-minus-
    * extension-chain key (basename split at its FIRST dot — the
    * published WebDataset rule, so `a.seg.png` files group with
    * `a.txt` under extension `seg.png`) collapse into one row with an
    * extension→payload map. ONE hash shuffle on the sample key; a
    * duplicated extension within a sample fails loudly (Spark's
    * map-key policy) rather than silently dropping a member. */
  def tarSamples(tar: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val base = regexp_extract(col("name"), "([^/]+)$", 1)
    val key = concat(
      regexp_extract(col("name"), "^(.*/)?[^/]+$", 1),
      regexp_extract(base, "^([^.]*)", 1))
    val ext = regexp_extract(base, "^[^.]*\\.(.*)$", 1)
    tar.select(key.as("sample_key"), ext.as("ext"), col("payload"))
      .groupBy(col("sample_key"))
      .agg(map_from_entries(collect_list(struct(col("ext"), col("payload"))))
        .as("members"))
  }
}

/** Streams one tar split: rounds the range start up to the 512-byte
  * grid, steps blocks until one validates as a header (checksum +
  * magic), then walks entries until one would START at or past
  * `part.end`. Truncation inside an entry fails loudly; EOF at a
  * block boundary (archives without the optional zero trailer) ends
  * the walk. */
class TarPartitionReader(part: FileSplit, conf: Configuration)
  extends PartitionReader[InternalRow] {

  private val fsPath = new Path(part.path)
  private val fs = fsPath.getFileSystem(conf)
  private val fileLen = fs.getFileStatus(fsPath).getLen
  private val pathUtf8 = UTF8String.fromString(part.path)
  private val limit = math.min(part.end, fileLen)

  private var pos: Long = 0L
  private var in: DataInputStream = _
  private var row: InternalRow = _
  private var done = false
  // GNU/pax long-name state: a meta entry ('L'/'K'/'x'/'X') and its
  // target form one UNIT. `pendingName` carries the name the next
  // entry must take; `inUnit` extends ownership past `limit` (the
  // unit belongs to the range its FIRST meta starts in); `skipUnit`
  // makes a resyncing reader consume-without-emitting a unit whose
  // meta started before its range; `globalName` is the (vanishingly
  // rare) pax 'g' path default — applied within this walk, documented
  // as not propagated across split boundaries.
  private var pendingName: Option[String] = None
  private var globalName: Option[String] = None
  private var inUnit = false
  private var skipUnit = false

  { // resync to the first block-aligned valid header in range
    val aligned = (part.start + TarSource.BlockSize - 1) /
      TarSource.BlockSize * TarSource.BlockSize
    val startAt = if (aligned >= limit) -1L else findNextHeader(aligned)
    pos = startAt
    if (startAt >= 0) {
      skipUnit = startAt > 0 && precededByFileMeta(startAt)
      val raw = fs.open(fsPath)
      if (startAt > 0) raw.seek(startAt)
      in = new DataInputStream(new BufferedInputStream(raw, 1 << 16))
    } else done = true
  }

  /** Does a valid per-file meta entry END exactly at `off`? Then the
    * entry at `off` continues a unit owned by an earlier range (had
    * the meta started at/after this range's aligned start, the resync
    * scan would have found IT first). Checked over a backward window
    * sized to [[TarSource.MaxMetaBytes]] — the SAME bound the walk
    * enforces on meta payloads — so every meta the reader would accept
    * is also detectable at a split boundary (a lookback narrower than
    * the payload cap would let an oversized-but-accepted meta split
    * into silent duplicate emission: full-name unit from the owning
    * range PLUS a truncated-ustar-name re-emit from the next). One
    * ~1 MiB backward read per split resync. Same validated-header
    * posture as the forward resync (a payload forging a checksum-valid
    * meta header at exactly the right offset is the shared documented
    * limit). */
  private def precededByFileMeta(off: Long): Boolean = {
    val maxBlocks =
      ((TarSource.MaxMetaBytes + TarSource.BlockSize - 1) /
        TarSource.BlockSize).toInt
    val winStart = math.max(0L, off - TarSource.BlockSize.toLong * (maxBlocks + 1))
    val winLen = (off - winStart).toInt
    if (winLen < TarSource.BlockSize) return false
    val buf = new Array[Byte](winLen)
    val scan = fs.open(fsPath)
    try { scan.seek(winStart); scan.readFully(buf) } finally scan.close()
    var k = 0
    while (k <= maxBlocks) {
      val s = off - TarSource.BlockSize.toLong * (k + 1)
      if (s < winStart) return false
      val rel = (s - winStart).toInt
      val block = java.util.Arrays.copyOfRange(buf, rel,
        rel + TarSource.BlockSize)
      TarSource.parseHeader(block) match {
        case Some(h) if TarSource.isFileMeta(h.typeflag) &&
            (h.size + TarSource.BlockSize - 1) / TarSource.BlockSize == k =>
          return true
        case _ =>
      }
      k += 1
    }
    false
  }

  /** First 512-aligned offset at/after `from` whose block validates as
    * a ustar header; -1 when none starts before the range limit. */
  private def findNextHeader(from: Long): Long = {
    if (from == 0L) return 0L // offset 0 needs no scan (walk validates)
    val scan = fs.open(fsPath)
    try {
      scan.seek(from)
      val buf = new DataInputStream(new BufferedInputStream(scan, 1 << 16))
      val block = new Array[Byte](TarSource.BlockSize)
      var off = from
      while (off < limit) {
        try buf.readFully(block)
        catch { case _: EOFException => return -1L }
        if (TarSource.parseHeader(block).isDefined) return off
        off += TarSource.BlockSize
      }
      -1L
    } finally scan.close()
  }

  private def readPayload(size: Long, padded: Long, entryStart: Long): Array[Byte] = {
    val body = new Array[Byte](size.toInt)
    try {
      in.readFully(body)
      var skip = padded - size
      while (skip > 0) {
        val n = in.skip(skip)
        if (n <= 0) throw new EOFException()
        skip -= n
      }
    } catch { case _: EOFException => throw new IOException(
      s"truncated tar: entry at $entryStart in ${part.path} " +
        s"declares $size payload bytes past EOF") }
    body
  }

  private def skipPayload(padded: Long, entryStart: Long): Unit = {
    var skip = padded
    while (skip > 0) {
      val n = in.skip(skip)
      if (n <= 0) throw new IOException(
        s"truncated tar: cannot skip entry at $entryStart in ${part.path}")
      skip -= n
    }
  }

  @annotation.tailrec
  final override def next(): Boolean = {
    // ownership: entries starting in [start, limit) — except a UNIT
    // (meta chain + target) belongs wholly to the range its first
    // meta starts in, so keep walking past `limit` while inside one
    // (`inUnit`) and keep consuming a foreign unit's tail (`skipUnit`)
    if (done || (pos >= limit && !inUnit && !skipUnit)) return false
    val block = new Array[Byte](TarSource.BlockSize)
    try in.readFully(block)
    catch { case _: EOFException => done = true; return false }
    // all-zero block: end-of-archive trailer
    if (block.forall(_ == 0)) { done = true; return false }
    TarSource.parseHeader(block) match {
      case None => throw new IOException(
        s"malformed tar: invalid header block at offset $pos in ${part.path}")
      case Some(h) =>
        val entryStart = pos
        if (h.size < 0 || h.size > Int.MaxValue - 16) throw new IOException(
          s"tar entry at $pos in ${part.path} exceeds the 2 GiB row " +
            s"payload cap (size ${h.size})")
        val padded = (h.size + TarSource.BlockSize - 1) /
          TarSource.BlockSize * TarSource.BlockSize
        pos = entryStart + TarSource.BlockSize + padded
        if (TarSource.isFileMeta(h.typeflag)) {
          // GNU long-(link)name / pax per-file attributes: consume the
          // payload and CARRY it to the next entry instead of emitting
          // a literal "@LongLink" sample
          if (h.size > TarSource.MaxMetaBytes) throw new IOException(
            s"tar meta entry at $entryStart in ${part.path} declares " +
              s"${h.size} bytes (cap ${TarSource.MaxMetaBytes})")
          val body = readPayload(h.size, padded, entryStart)
          if (!skipUnit) h.typeflag.toChar match {
            case 'L' =>
              var end = 0
              while (end < body.length && body(end) != 0) end += 1
              pendingName = Some(new String(body, 0, end,
                java.nio.charset.StandardCharsets.UTF_8))
            case 'x' | 'X' =>
              TarSource.parsePax(body).get("path")
                .foreach(p => pendingName = Some(p))
            case _ => // 'K' long linkname: linknames are not emitted
          }
          inUnit = true
          next()
        } else if (h.typeflag == 'g'.toByte) {
          // pax GLOBAL header: standalone (neither opens nor closes a
          // unit); a path= default applies to this walk's remainder
          if (h.size > TarSource.MaxMetaBytes) throw new IOException(
            s"tar meta entry at $entryStart in ${part.path} declares " +
              s"${h.size} bytes (cap ${TarSource.MaxMetaBytes})")
          val body = readPayload(h.size, padded, entryStart)
          if (!skipUnit) TarSource.parsePax(body).get("path")
            .foreach(p => globalName = Some(p))
          next()
        } else if (h.regular) {
          if (skipUnit) { // a foreign unit's target: consume, don't emit
            skipPayload(padded, entryStart)
            skipUnit = false; inUnit = false; pendingName = None
            next()
          } else {
            val body = readPayload(h.size, padded, entryStart)
            val name = pendingName.orElse(globalName).getOrElse(h.name)
            pendingName = None; inUnit = false
            row = InternalRow(
              pathUtf8, entryStart, UTF8String.fromString(name), h.size, body)
            true
          }
        } else { // directory/link/special: closes any unit, not emitted
          skipPayload(padded, entryStart)
          pendingName = None; inUnit = false; skipUnit = false
          next()
        }
    }
  }

  override def get(): InternalRow = row

  override def close(): Unit = if (in != null) in.close()
}
