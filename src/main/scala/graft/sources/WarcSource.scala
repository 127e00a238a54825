package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for WARC (Web ARChive, ISO 28500) files — the format
  * web crawls (Common Crawl and friends) ship in, and the raw input of
  * every web-scale training-data pipeline. A file is a concatenation of
  * records, each a `WARC/1.0\r\n` version line, CRLF header lines
  * (`Name: value`), an empty line, `Content-Length` payload bytes, and
  * a `\r\n\r\n` trailer.
  *
  * Output schema: (path, record_offset, warc_type, record_id,
  * target_uri, warc_date, content_length, content) — `record_offset`
  * is the record's absolute byte offset, a stable identity independent
  * of how the file was split.
  *
  * Parallelism: unlike the length-prefixed dump format (no intra-file
  * resync points — [[DumpSource]] needs a sidecar index), WARC is
  * SELF-RESYNCING: the version magic marks every record start. Files
  * larger than `splitBytes` (default 64 MiB, `.option("splitBytes", n)`,
  * 0 disables) are cut into byte ranges; a task owns exactly the
  * records STARTING inside its range, and a range not beginning at
  * offset 0 seeks to its start and scans forward for the magic,
  * validating each candidate by parsing a full CRLF header block with a
  * sane `Content-Length` (a bare magic string inside a payload is
  * rejected by the validation). The union of splits is therefore
  * byte-identical to the unsplit read. Known limit, documented rather
  * than hidden: a payload embedding a COMPLETE well-formed WARC header
  * block can fool the resync scan — production crawls avoid this by
  * storing one gzip member per record (the resync point becomes the
  * gzip magic); the framing logic here is identical either way.
  *
  * Records are streamed — header block capped at 64 KiB, one payload
  * at a time, never whole-file materialization.
  *
  * Usage: `spark.read.format("graft.sources.WarcDataSource").load(paths*)`.
  */
class WarcDataSource extends FileDataSource(WarcSource)

object WarcSource extends FileFormat {
  val name = "warc"
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("record_offset", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false)))

  private[sources] val Magic: Array[Byte] =
    "WARC/1.0\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private[sources] val MaxHeaderBytes = 64 << 10

  /** Write `records` as WARC/1.0 response records: (target URI, payload
    * bytes) with a deterministic record id (FNV of the URI — replayable
    * fixtures, no wall-clock/UUID nondeterminism). */
  def writeWarc(path: String, records: Iterator[(String, Array[Byte])],
                date: String = "2014-01-01T00:00:00Z",
                warcType: String = "response"): Unit = {
    val fs = new Path(path).getFileSystem(FileSource.activeHadoopConf())
    val out = fs.create(new Path(path), true)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    try records.foreach { case (uri, body) =>
      // hash over the ENCODED array's own length: a non-ASCII char
      // encodes as one '?' byte, so uri.length (chars) can exceed the
      // byte count and read past the array (non-BMP chars: surrogate
      // PAIR -> one byte)
      val uriBytes = uri.getBytes(ascii)
      val id = java.lang.Long.toHexString(
        graft.functions.TextHash.fnv64(uriBytes, 0, uriBytes.length))
      val header =
        s"WARC/1.0\r\n" +
          s"WARC-Type: $warcType\r\n" +
          s"WARC-Record-ID: <urn:graft:$id>\r\n" +
          s"WARC-Date: $date\r\n" +
          s"WARC-Target-URI: $uri\r\n" +
          s"Content-Length: ${body.length}\r\n" +
          "\r\n"
      out.write(header.getBytes(ascii))
      out.write(body)
      out.write("\r\n\r\n".getBytes(ascii))
    } finally out.close()
  }

  /** Write WET-layout `conversion` records (the published WARC→WET
    * output format: ISO 28500 records whose payload is the EXTRACTED
    * text, `WARC-Type: conversion`, `Content-Type: text/plain`,
    * `WARC-Refers-To` naming the response record the text derives
    * from — the refers-to id uses the SAME fnv64-of-uri derivation
    * [[writeWarc]] assigns response records, so a WET shard written
    * beside a response shard cross-references it). `records` =
    * (target URI, extracted text); text is UTF-8 encoded, the WET
    * convention. Readable back by the ordinary WARC reader/stream
    * (WET files ARE WARC files). */
  def writeWet(path: String, records: Iterator[(String, String)],
               date: String = "2014-01-01T00:00:00Z"): Unit = {
    val fs = new Path(path).getFileSystem(FileSource.activeHadoopConf())
    val out = fs.create(new Path(path), true)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    try records.foreach { case (uri, text) =>
      // encoded-length fnv64, the writeWarc derivation — BOTH writers
      // must agree byte-for-byte or the Refers-To cross-reference
      // breaks (and chars-vs-bytes mismatch overran the array)
      val uriBytes = uri.getBytes(ascii)
      val id = java.lang.Long.toHexString(
        graft.functions.TextHash.fnv64(uriBytes, 0, uriBytes.length))
      val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val header =
        s"WARC/1.0\r\n" +
          s"WARC-Type: conversion\r\n" +
          s"WARC-Record-ID: <urn:graft:wet:$id>\r\n" +
          s"WARC-Refers-To: <urn:graft:$id>\r\n" +
          s"WARC-Date: $date\r\n" +
          s"WARC-Target-URI: $uri\r\n" +
          s"Content-Type: text/plain\r\n" +
          s"Content-Length: ${body.length}\r\n" +
          "\r\n"
      out.write(header.getBytes(ascii))
      out.write(body)
      out.write("\r\n\r\n".getBytes(ascii))
    } finally out.close()
  }

  /** A streamed crawl folder (a Common Crawl segment drop) holds
    * `.warc` / `.warc.gz` shards whose names sort in landing order. */
  def streamsFile(name: String): Boolean =
    name.endsWith(".warc") || name.endsWith(".warc.gz")

  val orderingContract: String =
    "a shard sorting lexicographically before already-processed names " +
      "arrived late (WARC folders must be append-only in name order)"

  /** `.gz` files hold one gzip member per record; offsets are compressed. */
  def reader(split: FileSplit, conf: Configuration): PartitionReader[InternalRow] =
    if (split.path.endsWith(".gz")) new GzWarcPartitionReader(split, conf)
    else new WarcPartitionReader(split, conf)

  /** Parse `Name: value` CRLF lines up to the empty line; returns the
    * lowercased header map and the absolute offset just past the blank
    * line, or None on malformed/oversized blocks. Does NOT close the
    * stream. Shared by the plain reader (streaming) and the gzip
    * reader (over one inflated member). */
  private[sources] def readHeaders(s: DataInputStream,
                                   startAbs: Long): Option[(Map[String, String], Long)] = {
    val hdrs = scala.collection.mutable.Map.empty[String, String]
    var abs = startAbs
    var guard = 0
    while (guard < 256) {
      guard += 1
      val line = new java.io.ByteArrayOutputStream(128)
      var prev = -1
      var b = s.read()
      var ended = false
      while (!ended) {
        if (b == -1) return None
        if (prev == '\r' && b == '\n') ended = true
        else { line.write(b); prev = b; b = s.read() }
      }
      // `line` holds the bytes before '\n' including the '\r'; the
      // stream consumed line.size() + 1 bytes total
      abs += line.size() + 1
      val bytes = line.toByteArray
      val text = new String(bytes, 0, math.max(0, bytes.length - 1),
        java.nio.charset.StandardCharsets.US_ASCII)
      if (abs - startAbs > WarcSource.MaxHeaderBytes) return None
      if (text.isEmpty) return Some((hdrs.toMap, abs))
      val i = text.indexOf(':')
      if (i <= 0) return None
      hdrs(text.substring(0, i).trim.toLowerCase) = text.substring(i + 1).trim
    }
    None
  }

  /** Render one WARC/1.0 record's bytes (the [[writeWarc]] layout). */
  private def recordBytes(uri: String, body: Array[Byte], date: String,
                          warcType: String): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    // encoded-length fnv64 (see writeWarc): chars != bytes for
    // non-ASCII URIs under the lossy ASCII encode
    val uriBytes = uri.getBytes(ascii)
    val id = java.lang.Long.toHexString(
      graft.functions.TextHash.fnv64(uriBytes, 0, uriBytes.length))
    val header =
      s"WARC/1.0\r\n" +
        s"WARC-Type: $warcType\r\n" +
        s"WARC-Record-ID: <urn:graft:$id>\r\n" +
        s"WARC-Date: $date\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n" +
        "\r\n"
    val out = new java.io.ByteArrayOutputStream(
      header.length + body.length + 4)
    out.write(header.getBytes(ascii))
    out.write(body)
    out.write("\r\n\r\n".getBytes(ascii))
    out.toByteArray
  }

  /** Write `records` in the Common-Crawl shipping layout: ONE GZIP
    * MEMBER PER RECORD (RFC 1952 members concatenated), so the
    * compressed file is splittable — readers resync on the member
    * magic and inflate exactly one record per member.
    *
    * Members are emitted with ONE reused `Deflater` (reset per
    * member) instead of a fresh `GZIPOutputStream` per record: the
    * per-member native Deflater allocate/free was pure overhead ×
    * |records| (optimization guide §1.2 "per-task work"). The member
    * layout is unchanged — the same 10-byte header GZIPOutputStream
    * writes (zero MTIME/XFL/OS), a default-level raw deflate stream,
    * the CRC32/ISIZE little-endian trailer — and output stays
    * deterministic run to run (fixtures byte-reproducible). */
  def writeWarcGz(path: String, records: Iterator[(String, Array[Byte])],
                  date: String = "2014-01-01T00:00:00Z",
                  warcType: String = "response"): Unit = {
    val fs = new Path(path).getFileSystem(FileSource.activeHadoopConf())
    val out = fs.create(new Path(path), true)
    val deflater = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    val crc = new java.util.zip.CRC32()
    val buf = new Array[Byte](8192)
    val header = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 0, 0, 0, 0, 0, 0)
    def le32(v: Long): Array[Byte] = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    try records.foreach { case (uri, body) =>
      val rec = recordBytes(uri, body, date, warcType)
      out.write(header)
      deflater.reset()
      deflater.setInput(rec)
      deflater.finish()
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        if (n > 0) out.write(buf, 0, n)
      }
      crc.reset()
      crc.update(rec)
      out.write(le32(crc.getValue))
      out.write(le32(rec.length.toLong & 0xffffffffL))
    } finally {
      deflater.end()
      out.close()
    }
  }

  /** Inflate ONE gzip member from the pushback stream's current
    * position: returns (inflated bytes, compressed member length
    * including header and trailer), leaving the stream positioned at
    * the next member. CRC32 and ISIZE are verified — a corrupt member
    * fails loudly, never yields a silently-mangled record. `maxOut`
    * caps the inflated size (decompression-bomb posture). */
  private[sources] def readGzipMember(in: java.io.PushbackInputStream,
                                      maxOut: Int): (Array[Byte], Long) = {
    var hdrLen = 0L
    def u8(): Int = {
      val b = in.read()
      if (b < 0) throw new EOFException("truncated gzip header")
      hdrLen += 1; b
    }
    if (u8() != 0x1f || u8() != 0x8b)
      throw new IOException("not a gzip member (bad magic)")
    if (u8() != 8) throw new IOException("unsupported gzip method (not deflate)")
    val flg = u8()
    (0 until 6).foreach(_ => u8()) // MTIME(4) XFL OS
    if ((flg & 4) != 0) { val n = u8() | (u8() << 8); (0 until n).foreach(_ => u8()) }
    if ((flg & 8) != 0) while (u8() != 0) ()    // FNAME
    if ((flg & 16) != 0) while (u8() != 0) ()   // FCOMMENT
    if ((flg & 2) != 0) { u8(); u8() }          // FHCRC
    val inf = new java.util.zip.Inflater(true)
    val crc = new java.util.zip.CRC32()
    val out = new java.io.ByteArrayOutputStream(8192)
    val inBuf = new Array[Byte](8192)
    val outBuf = new Array[Byte](8192)
    var lastN = 0
    try {
      while (!inf.finished()) {
        if (inf.needsInput()) {
          lastN = in.read(inBuf)
          if (lastN < 0) throw new EOFException("truncated gzip deflate stream")
          inf.setInput(inBuf, 0, lastN)
        }
        val m = inf.inflate(outBuf)
        crc.update(outBuf, 0, m)
        out.write(outBuf, 0, m)
        if (out.size() > maxOut) throw new IOException(
          s"gzip member inflates past the $maxOut-byte record cap")
        if (m == 0 && inf.needsDictionary())
          throw new IOException("gzip preset dictionary unsupported")
      }
      // push back whatever the last buffer held past the deflate end,
      // then consume the 8-byte CRC32+ISIZE trailer
      val rem = inf.getRemaining
      if (rem > 0) in.unread(inBuf, lastN - rem, rem)
      val trailer = new Array[Byte](8)
      var got = 0
      while (got < 8) {
        val n = in.read(trailer, got, 8 - got)
        if (n < 0) throw new EOFException("truncated gzip trailer")
        got += n
      }
      def le32(o: Int): Long =
        (trailer(o) & 0xffL) | ((trailer(o + 1) & 0xffL) << 8) |
          ((trailer(o + 2) & 0xffL) << 16) | ((trailer(o + 3) & 0xffL) << 24)
      if (le32(0) != crc.getValue)
        throw new IOException("gzip member CRC mismatch")
      if (le32(4) != (out.size() & 0xffffffffL))
        throw new IOException("gzip member ISIZE mismatch")
      (out.toByteArray, hdrLen + inf.getBytesRead + 8)
    } finally inf.end()
  }
}

/** Streams one WARC split: resyncs to the first record start at or
  * after `part.start` (offset 0 needs no scan), then parses records
  * until one would START at or past `part.end`. */
class WarcPartitionReader(part: FileSplit, conf: Configuration)
  extends PartitionReader[InternalRow] {

  private val fsPath = new Path(part.path)
  private val fs = fsPath.getFileSystem(conf)
  private val fileLen = fs.getFileStatus(fsPath).getLen
  private val pathUtf8 = UTF8String.fromString(part.path)

  // probe stream for candidate validation during resync (seekable,
  // reused across candidates; null until resync needs it)
  private var probe: org.apache.hadoop.fs.FSDataInputStream = _

  private var pos: Long = part.start
  private var in: DataInputStream = _
  private var row: InternalRow = _

  { // resync, then open the sequential record stream at a boundary
    val startAt = if (part.start == 0L) 0L else findNextRecord(part.start)
    if (probe != null) { probe.close(); probe = null }
    pos = startAt
    if (startAt >= 0 && startAt < math.min(part.end, fileLen)) {
      val raw = fs.open(fsPath)
      if (startAt > 0) raw.seek(startAt)
      in = new DataInputStream(new BufferedInputStream(raw, 1 << 16))
    }
  }

  /** Scan forward from `from` for the version magic, validating each
    * candidate by parsing its header block; -1 when none before
    * `part.end`. KMP is overkill for a 10-byte pattern with a
    * first-byte filter — a simple match loop over a buffered stream. */
  private def findNextRecord(from: Long): Long = {
    val magic = WarcSource.Magic
    val scan = fs.open(fsPath)
    try {
      scan.seek(from)
      val buf = new BufferedInputStream(scan, 1 << 16)
      var off = from
      var matched = 0
      val limit = math.min(part.end, fileLen)
      while (off < limit + magic.length) {
        val b = buf.read()
        if (b == -1) return -1L
        if (b == magic(matched)) {
          matched += 1
          if (matched == magic.length) {
            val candidate = off + 1 - magic.length
            if (candidate < limit && validHeaderAt(candidate)) return candidate
            matched = 0 // magic text inside a payload: keep scanning
          }
        } else matched = if (b == magic(0)) 1 else 0
        off += 1
      }
      -1L
    } finally scan.close()
  }

  /** True when a full CRLF header block with a parseable, in-file
    * Content-Length follows the magic at `at` — what separates a real
    * record start from stray magic bytes in a payload. */
  private def validHeaderAt(at: Long): Boolean = {
    if (probe == null) probe = fs.open(fsPath)
    probe.seek(at + WarcSource.Magic.length)
    val pin = new DataInputStream(new BufferedInputStream(probe, 8192))
    try {
      val h = readHeaders(pin, at + WarcSource.Magic.length)
      h.exists { case (hdrs, hdrEnd) =>
        hdrs.get("content-length").exists { cl =>
          cl.forall(_.isDigit) && cl.nonEmpty &&
            hdrEnd + cl.toLong <= fileLen
        }
      }
    } catch { case _: IOException => false }
  }

  private def readHeaders(s: DataInputStream,
                          startAbs: Long): Option[(Map[String, String], Long)] =
    WarcSource.readHeaders(s, startAbs)

  override def next(): Boolean = {
    if (in == null || pos >= math.min(part.end, fileLen)) return false
    // expect the version line at pos
    val magic = new Array[Byte](WarcSource.Magic.length)
    try in.readFully(magic)
    catch { case _: EOFException => return false }
    if (!java.util.Arrays.equals(magic, WarcSource.Magic))
      throw new IOException(
        s"malformed WARC: no version magic at offset $pos in ${part.path}")
    val recordStart = pos
    readHeaders(in, pos + magic.length) match {
      case None => throw new IOException(
        s"malformed WARC: bad header block at offset $pos in ${part.path}")
      case Some((hdrs, bodyStart)) =>
        val cl = hdrs.getOrElse("content-length",
          throw new IOException(
            s"malformed WARC: missing Content-Length at $pos in ${part.path}")).toLong
        if (cl < 0 || cl > Int.MaxValue - 16) throw new IOException(
          s"WARC record at $pos in ${part.path} exceeds the 2 GiB row " +
            s"payload cap (Content-Length $cl)")
        val body = new Array[Byte](cl.toInt)
        in.readFully(body)
        val trailer = new Array[Byte](4)
        in.readFully(trailer)
        if (!java.util.Arrays.equals(trailer,
            "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.US_ASCII)))
          throw new IOException(
            s"malformed WARC: missing record trailer at $pos in ${part.path}")
        pos = bodyStart + cl + 4
        row = InternalRow(
          pathUtf8,
          recordStart,
          UTF8String.fromString(hdrs.getOrElse("warc-type", "")),
          UTF8String.fromString(hdrs.getOrElse("warc-record-id", "")),
          hdrs.get("warc-target-uri").map(UTF8String.fromString).orNull,
          hdrs.get("warc-date").map(UTF8String.fromString).orNull,
          cl,
          body)
        true
    }
  }

  override def get(): InternalRow = row

  override def close(): Unit = {
    if (in != null) in.close()
    if (probe != null) probe.close()
  }
}

/** Streams one .warc.gz split (Common Crawl's shipping layout: one
  * gzip member per record): resyncs to the first gzip-member start at
  * or after `part.start` — candidates are the RFC 1952 magic `1f 8b
  * 08`, validated by inflating the member's first bytes and checking
  * the WARC version magic, so deflate data that happens to contain the
  * 3-byte sequence is rejected — then inflates one member per record
  * until a member would START at or past `part.end`. `record_offset`
  * is the member's COMPRESSED offset (the identity Common Crawl
  * indexes publish). One inflated record in memory at a time, CRC and
  * ISIZE verified per member. */
class GzWarcPartitionReader(part: FileSplit, conf: Configuration)
  extends PartitionReader[InternalRow] {

  private val fsPath = new Path(part.path)
  private val fs = fsPath.getFileSystem(conf)
  private val fileLen = fs.getFileStatus(fsPath).getLen
  private val pathUtf8 = UTF8String.fromString(part.path)
  private val limit = math.min(part.end, fileLen)
  // inflated record cap: WARC rows are payload-sized by contract
  private val MaxRecord = Int.MaxValue - 16

  private var pos: Long = 0L
  private var in: java.io.PushbackInputStream = _
  private var row: InternalRow = _
  private var done = false

  {
    val startAt =
      if (part.start == 0L) 0L
      else findNextMember(part.start)
    pos = startAt
    if (startAt >= 0 && startAt < limit) {
      val raw = fs.open(fsPath)
      if (startAt > 0) raw.seek(startAt)
      in = new java.io.PushbackInputStream(
        new BufferedInputStream(raw, 1 << 16), 1 << 14)
    } else done = true
  }

  /** Scan forward for the gzip magic, validating each candidate by
    * inflating its head and checking the WARC version line; -1 when
    * none starts before the range limit. */
  private def findNextMember(from: Long): Long = {
    val scan = fs.open(fsPath)
    try {
      scan.seek(from)
      val buf = new BufferedInputStream(scan, 1 << 16)
      var off = from
      var b = buf.read()
      while (b != -1 && off < limit) {
        if (b == 0x1f) {
          val b2 = buf.read()
          if (b2 == 0x8b) {
            val b3 = buf.read()
            if (b3 == 8 && validMemberAt(off)) return off
            // not a member: the 2-3 lookahead bytes could themselves
            // start a magic — cheapest correct move is to re-seek
            scan.seek(off + 1)
            val again = new BufferedInputStream(scan, 1 << 16)
            return findNextFrom(again, off + 1)
          } else if (b2 == -1) return -1L
          else { off += 2; b = buf.read() }
        } else { off += 1; b = buf.read() }
      }
      -1L
    } finally scan.close()
  }

  /** Continuation of the scan after a rejected candidate (fresh
    * buffered stream positioned at `from`). */
  private def findNextFrom(buf: BufferedInputStream, from: Long): Long = {
    var off = from
    var b = buf.read()
    while (b != -1 && off < limit) {
      if (b == 0x1f) {
        buf.mark(2)
        val b2 = buf.read()
        val b3 = if (b2 == 0x8b) buf.read() else -2
        if (b2 == 0x8b && b3 == 8 && validMemberAt(off)) return off
        buf.reset()
      }
      off += 1
      b = buf.read()
    }
    -1L
  }

  /** True when a gzip member at `at` inflates to bytes starting with
    * the WARC version magic (bounded: only the head is inflated). */
  private def validMemberAt(at: Long): Boolean = {
    val probe = fs.open(fsPath)
    try {
      probe.seek(at)
      val pin = new java.io.PushbackInputStream(
        new BufferedInputStream(probe, 8192), 1 << 14)
      try {
        val head = inflateHead(pin, WarcSource.Magic.length)
        head.length >= WarcSource.Magic.length &&
          java.util.Arrays.equals(
            java.util.Arrays.copyOf(head, WarcSource.Magic.length),
            WarcSource.Magic)
      } catch { case _: IOException => false }
    } finally probe.close()
  }

  /** Inflate just the first `n` output bytes of the member at the
    * stream position (validation only — no trailer read). */
  private def inflateHead(in: java.io.PushbackInputStream, n: Int): Array[Byte] = {
    def u8(): Int = {
      val b = in.read()
      if (b < 0) throw new EOFException("truncated gzip header"); b
    }
    if (u8() != 0x1f || u8() != 0x8b) throw new IOException("bad magic")
    if (u8() != 8) throw new IOException("bad method")
    val flg = u8()
    (0 until 6).foreach(_ => u8())
    if ((flg & 4) != 0) { val x = u8() | (u8() << 8); (0 until x).foreach(_ => u8()) }
    if ((flg & 8) != 0) while (u8() != 0) ()
    if ((flg & 16) != 0) while (u8() != 0) ()
    if ((flg & 2) != 0) { u8(); u8() }
    val inf = new java.util.zip.Inflater(true)
    try {
      val inBuf = new Array[Byte](4096)
      val out = new Array[Byte](n)
      var got = 0
      while (got < n && !inf.finished()) {
        if (inf.needsInput()) {
          val m = in.read(inBuf)
          if (m < 0) throw new EOFException("truncated deflate head")
          inf.setInput(inBuf, 0, m)
        }
        val k = inf.inflate(out, got, n - got)
        if (k == 0 && inf.needsDictionary())
          throw new IOException("dictionary unsupported")
        got += k
      }
      java.util.Arrays.copyOf(out, got)
    } finally inf.end()
  }

  override def next(): Boolean = {
    if (done || pos >= limit) return false
    // peek one byte: EOF at a member boundary ends the walk
    val first = in.read()
    if (first < 0) { done = true; return false }
    in.unread(first)
    val memberStart = pos
    val (record, compLen) =
      try WarcSource.readGzipMember(in, MaxRecord)
      catch {
        case e: IOException => throw new IOException(
          s"malformed .warc.gz member at offset $memberStart in ${part.path}: " +
            e.getMessage, e)
      }
    pos = memberStart + compLen
    // parse the inflated record (same framing as the plain reader)
    val s = new DataInputStream(new java.io.ByteArrayInputStream(record))
    val magic = new Array[Byte](WarcSource.Magic.length)
    try s.readFully(magic)
    catch { case _: EOFException => throw new IOException(
      s"gzip member at $memberStart in ${part.path} is not a WARC record") }
    if (!java.util.Arrays.equals(magic, WarcSource.Magic))
      throw new IOException(
        s"gzip member at $memberStart in ${part.path} lacks the WARC magic")
    WarcSource.readHeaders(s, magic.length.toLong) match {
      case None => throw new IOException(
        s"bad WARC header block in member at $memberStart in ${part.path}")
      case Some((hdrs, bodyStart)) =>
        val cl = hdrs.getOrElse("content-length", throw new IOException(
          s"missing Content-Length in member at $memberStart in ${part.path}"))
          .toLong
        if (bodyStart + cl + 4 > record.length) throw new IOException(
          s"member at $memberStart in ${part.path} truncates its declared " +
            s"$cl-byte payload")
        val body = java.util.Arrays.copyOfRange(record,
          bodyStart.toInt, (bodyStart + cl).toInt)
        row = InternalRow(
          pathUtf8,
          memberStart,
          UTF8String.fromString(hdrs.getOrElse("warc-type", "")),
          UTF8String.fromString(hdrs.getOrElse("warc-record-id", "")),
          hdrs.get("warc-target-uri").map(UTF8String.fromString).orNull,
          hdrs.get("warc-date").map(UTF8String.fromString).orNull,
          cl,
          body)
        true
    }
  }

  override def get(): InternalRow = row

  override def close(): Unit = if (in != null) in.close()
}
