package graft

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.WarcSource

class WarcSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    TestSpark.tempDir("warcspec")

  private def readWarc(paths: Seq[String], splitBytes: Long = 0) =
    spark.read.format("graft.sources.WarcDataSource")
      .option("splitBytes", splitBytes)
      .load(paths: _*)

  test("round-trips response records: headers parsed, payload byte-exact, " +
    "record_offset is the absolute file offset") {
    val dir = tmpDir()
    val recs = (0 until 7).map(i => (s"http://x.test/doc/$i", s"payload-$i body".getBytes(UTF_8)))
    WarcSource.writeWarc(s"$dir/a.warc", recs.iterator)
    val got = readWarc(Seq(s"$dir/a.warc"))
      .select($"record_offset", $"warc_type", $"target_uri",
        $"content_length", $"content".cast("string"))
      .as[(Long, String, String, Long, String)].collect().sortBy(_._1)
    assert(got.length == 7)
    assert(got.map(_._3).toSeq == recs.map(_._1))
    assert(got.map(_._5).toSeq == recs.map(r => new String(r._2, UTF_8)))
    assert(got.forall(_._2 == "response"))
    assert(got.forall(r => r._4 == s"payload-X body".length))
    // offsets strictly increase from 0
    assert(got.head._1 == 0L && got.map(_._1).toSeq == got.map(_._1).toSeq.sorted)
  }

  test("sub-file splits are index-free and byte-identical to the unsplit " +
    "read: the magic resync finds every record exactly once") {
    val dir = tmpDir()
    // variable-size payloads so record boundaries don't align with splits
    val recs = (0 until 200).map(i =>
      (s"http://x.test/d/$i", ("z" * (i % 97 + 5) + s"|$i").getBytes(UTF_8)))
    WarcSource.writeWarc(s"$dir/b.warc", recs.iterator)
    val whole = readWarc(Seq(s"$dir/b.warc"))
      .select($"record_offset", $"target_uri", $"content".cast("string"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val split = readWarc(Seq(s"$dir/b.warc"), splitBytes = 1024)
    assert(split.rdd.getNumPartitions > 4) // actually split
    val gotSplit = split
      .select($"record_offset", $"target_uri", $"content".cast("string"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(gotSplit == whole)
    assert(whole.length == 200)
  }

  test("a bare WARC/1.0 magic INSIDE a payload does not fool the resync " +
    "scan: header validation rejects it and splits stay exact") {
    val dir = tmpDir()
    val poison = "xxx WARC/1.0\r\nnot a header block, no colon lines here " +
      "and no content-length either " + ("p" * 300)
    val recs = (0 until 40).map {
      case i if i % 3 == 0 => (s"http://x.test/p/$i", poison.getBytes(UTF_8))
      case i => (s"http://x.test/p/$i", s"clean-$i".getBytes(UTF_8))
    }
    WarcSource.writeWarc(s"$dir/c.warc", recs.iterator)
    val whole = readWarc(Seq(s"$dir/c.warc"))
      .select($"record_offset", $"target_uri").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    val gotSplit = readWarc(Seq(s"$dir/c.warc"), splitBytes = 512)
      .select($"record_offset", $"target_uri").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(gotSplit == whole && whole.length == 40)
  }

  test("record ids are deterministic (FNV of the URI) and empty payloads " +
    "survive") {
    val dir = tmpDir()
    WarcSource.writeWarc(s"$dir/d.warc",
      Iterator(("http://x.test/empty", Array.emptyByteArray)))
    val row = readWarc(Seq(s"$dir/d.warc"))
      .select($"record_id", $"content_length", $"warc_date")
      .as[(String, Long, String)].collect().head
    val uri = "http://x.test/empty"
    val expected = "<urn:graft:" + java.lang.Long.toHexString(
      graft.functions.TextHash.fnv64(uri.getBytes(US_ASCII), 0, uri.length)) + ">"
    assert(row._1 == expected)
    assert(row._2 == 0L && row._3 == "2014-01-01T00:00:00Z")
    // a rewrite yields the identical id — no UUID/clock nondeterminism
    WarcSource.writeWarc(s"$dir/d2.warc",
      Iterator(("http://x.test/empty", Array.emptyByteArray)))
    assert(readWarc(Seq(s"$dir/d2.warc")).select($"record_id")
      .as[String].collect().head == expected)
  }

  test("member-per-record gzip (.warc.gz, the Common Crawl layout): " +
    "round-trips byte-exact, record_offset is the compressed member " +
    "offset, and sub-file splits resync on the member magic") {
    val dir = tmpDir()
    val recs = (0 until 120).map(i =>
      (s"http://x.test/gz/$i", ("v" * (i % 211 + 5) + s"|$i").getBytes(UTF_8)))
    WarcSource.writeWarcGz(s"$dir/a.warc.gz", recs.iterator)
    val whole = readWarc(Seq(s"$dir/a.warc.gz"))
      .select($"record_offset", $"target_uri", $"content".cast("string"),
        $"warc_type", $"content_length")
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1)
    assert(whole.length == 120)
    assert(whole.map(_._2).toSeq == recs.map(_._1))
    assert(whole.map(_._3).toSeq == recs.map(r => new String(r._2, UTF_8)))
    assert(whole.forall(_._4 == "response"))
    assert(whole.head._1 == 0L)
    // offsets strictly increase and the file is smaller than the plain form
    assert(whole.map(_._1).toSeq == whole.map(_._1).toSeq.sorted)
    val split = readWarc(Seq(s"$dir/a.warc.gz"), splitBytes = 1024)
    assert(split.rdd.getNumPartitions > 4)
    val gotSplit = split
      .select($"record_offset", $"target_uri", $"content".cast("string"),
        $"warc_type", $"content_length")
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1)
    assert(gotSplit.toSeq == whole.toSeq)
  }

  test("gzip magic INSIDE a member's payload — even a complete VALID " +
    "gzip member of non-WARC content — does not fool the .gz resync") {
    val dir = tmpDir()
    // a full, valid gzip member whose inflated content is NOT a WARC
    // record: inflate-head validation must reject it
    val evil = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(evil)
    gz.write("this is not a warc record at all".getBytes(UTF_8))
    gz.close()
    val poison = ("x" * 37).getBytes(UTF_8) ++ evil.toByteArray ++
      Array[Byte](0x1f, 0x8b.toByte, 8) ++ ("y" * 900).getBytes(UTF_8)
    val recs = Seq(("http://x.test/p/0", poison)) ++
      (1 until 60).map(i => (s"http://x.test/p/$i", s"clean-$i".getBytes(UTF_8)))
    WarcSource.writeWarcGz(s"$dir/b.warc.gz", recs.iterator)
    val whole = readWarc(Seq(s"$dir/b.warc.gz"))
      .select($"target_uri").as[String].collect().sorted.toSeq
    val split = readWarc(Seq(s"$dir/b.warc.gz"), splitBytes = 512)
      .select($"target_uri").as[String].collect().sorted.toSeq
    assert(split == whole)
    assert(whole.size == 60)
    // the poisoned payload itself survives byte-exact
    val back = readWarc(Seq(s"$dir/b.warc.gz"))
      .filter($"target_uri" === "http://x.test/p/0")
      .select($"content").as[Array[Byte]].head()
    assert(java.util.Arrays.equals(back, poison))
  }

  test("corrupt and truncated .warc.gz members fail loudly (CRC / " +
    "truncation), never yield a silently-mangled record") {
    val dir = tmpDir()
    WarcSource.writeWarcGz(s"$dir/c.warc.gz",
      Iterator(("http://x.test/1", "abcdef".getBytes(UTF_8))))
    val full = Files.readAllBytes(Paths.get(s"$dir/c.warc.gz"))
    // flip a byte INSIDE the deflate stream -> CRC mismatch
    val corrupt = full.clone()
    corrupt(full.length / 2) = (corrupt(full.length / 2) ^ 0x55).toByte
    Files.write(Paths.get(s"$dir/corrupt.warc.gz"), corrupt)
    val e1 = intercept[org.apache.spark.SparkException] {
      readWarc(Seq(s"$dir/corrupt.warc.gz")).collect()
    }
    assert(e1.getMessage != null)
    // drop the trailer -> truncation
    Files.write(Paths.get(s"$dir/trunc.warc.gz"), full.take(full.length - 6))
    intercept[org.apache.spark.SparkException] {
      readWarc(Seq(s"$dir/trunc.warc.gz")).collect()
    }
  }

  test("truncated and garbage files fail loudly, not silently") {
    val dir = tmpDir()
    WarcSource.writeWarc(s"$dir/e.warc",
      Iterator(("http://x.test/1", "abcdef".getBytes(UTF_8))))
    val full = Files.readAllBytes(Paths.get(s"$dir/e.warc"))
    Files.write(Paths.get(s"$dir/trunc.warc"), full.take(full.length - 10))
    val ex = intercept[org.apache.spark.SparkException] {
      readWarc(Seq(s"$dir/trunc.warc")).collect()
    }
    assert(ex.getMessage != null)
    Files.write(Paths.get(s"$dir/junk.warc"), "not a warc at all".getBytes(UTF_8))
    intercept[org.apache.spark.SparkException] {
      readWarc(Seq(s"$dir/junk.warc")).collect()
    }
  }

  test("WET export: conversion records round-trip through the WARC " +
    "reader, carry Content-Type/Refers-To headers, and the refers-to " +
    "id matches the response record the same URI would get") {
    val dir = tmpDir()
    WarcSource.writeWet(s"$dir/a.warc.wet",
      Iterator(("http://s/1", "extracted text one"),
               ("http://s/2", "café extracted two")))
    val got = spark.read.format("graft.sources.WarcDataSource")
      .load(s"$dir/a.warc.wet")
      .select($"warc_type", $"target_uri", $"content".cast("string"),
        $"record_id")
      .as[(String, String, String, String)].collect().sortBy(_._2)
    assert(got.map(_._1).toSeq == Seq("conversion", "conversion"))
    assert(got.map(_._3).toSeq ==
      Seq("extracted text one", "café extracted two"))
    assert(got.forall(_._4.startsWith("<urn:graft:wet:")))
    // raw header block: WET layout fields present, and Refers-To ==
    // the id writeWarc derives for the same URI's response record
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/a.warc.wet")), "ISO-8859-1")
    assert(raw.contains("Content-Type: text/plain"))
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val id1 = java.lang.Long.toHexString(graft.functions.TextHash.fnv64(
      "http://s/1".getBytes(ascii), 0, "http://s/1".length))
    assert(raw.contains(s"WARC-Refers-To: <urn:graft:$id1>"))
  }

  test("writeWet/writeWarc/writeWarcGz survive non-ASCII URIs: the " +
    "record id hashes the ENCODED byte array by its own length (a " +
    "non-BMP char ASCII-encodes as ONE '?' byte, shorter than its " +
    "TWO chars — hashing uri.length chars overran the array), and " +
    "the wet/response ids still cross-reference") {
    val dir = tmpDir()
    val uri = "http://s/😀/café" // emoji (non-BMP) + é
    WarcSource.writeWarc(s"$dir/nb.warc",
      Iterator((uri, "body".getBytes(UTF_8))))
    WarcSource.writeWarcGz(s"$dir/nb.warc.gz",
      Iterator((uri, "body".getBytes(UTF_8))))
    WarcSource.writeWet(s"$dir/nb.warc.wet", Iterator((uri, "text")))
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val b = uri.getBytes(ascii)
    assert(b.length < uri.length, "fixture must be lossy under ASCII")
    val id = java.lang.Long.toHexString(
      graft.functions.TextHash.fnv64(b, 0, b.length))
    val wet = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/nb.warc.wet")), "ISO-8859-1")
    assert(wet.contains(s"WARC-Record-ID: <urn:graft:wet:$id>"))
    assert(wet.contains(s"WARC-Refers-To: <urn:graft:$id>"))
    val warc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/nb.warc")), "ISO-8859-1")
    assert(warc.contains(s"WARC-Record-ID: <urn:graft:$id>"))
  }

  test("streaming: a growing crawl folder (mixed .warc/.warc.gz) is " +
    "consumed exactly once across restarts, bounded by " +
    "maxFilesPerTrigger under AvailableNow") {
    val root = tmpDir()
    val dir = s"$root/crawl"
    Files.createDirectories(Paths.get(dir))
    val ckpt = s"$root/_ckpt"
    val sink = s"$root/out"
    WarcSource.writeWarc(s"$dir/seg-00001.warc",
      Iterator(("http://s/1", "one".getBytes(UTF_8)),
               ("http://s/2", "two".getBytes(UTF_8))))
    WarcSource.writeWarcGz(s"$dir/seg-00002.warc.gz",
      Iterator(("http://s/3", "three".getBytes(UTF_8))))

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft.sources.WarcDataSource")
        .option("maxFilesPerTrigger", 1)
        .load(dir)
        .select($"path", $"target_uri", $"content".cast("string").as("body"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }

    runOnce()
    val first = spark.read.parquet(sink)
      .select($"target_uri", $"body").as[(String, String)].collect().sorted
    assert(first.toSeq == Seq(("http://s/1", "one"), ("http://s/2", "two"),
      ("http://s/3", "three")))

    // a new shard lands; the restart processes ONLY it (checkpointed
    // offset), and the lexicographic listing keeps committed order
    WarcSource.writeWarc(s"$dir/seg-00003.warc",
      Iterator(("http://s/4", "four".getBytes(UTF_8))))
    runOnce()
    val second = spark.read.parquet(sink)
      .select($"target_uri", $"body").as[(String, String)].collect()
    assert(second.length == 4)
    assert(second.count(_._1 == "http://s/4") == 1)
  }
}
