package graft

import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.TarSource

class TarSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    TestSpark.tempDir("tarspec")

  private def readTar(paths: Seq[String], splitBytes: Long = 0) =
    spark.read.format("graft.sources.TarDataSource")
      .option("splitBytes", splitBytes)
      .load(paths: _*)

  test("round-trips entries: names, sizes, payload bytes exact; " +
    "entry_offset is the 512-aligned header offset; the archive itself " +
    "is readable by format definition (GNU tar list parity via header " +
    "checksums)") {
    val dir = tmpDir()
    val entries = (0 until 9).map(i =>
      (s"sample$i.txt", (s"body-$i " + "x" * (i * 97 % 513)).getBytes(UTF_8)))
    TarSource.writeTar(s"$dir/a.tar", entries.iterator)
    val got = readTar(Seq(s"$dir/a.tar"))
      .select($"entry_offset", $"name", $"size", $"payload".cast("string"))
      .as[(Long, String, Long, String)].collect().sortBy(_._1)
    assert(got.length == 9)
    assert(got.map(_._2).toSeq == entries.map(_._1))
    assert(got.map(_._4).toSeq == entries.map(e => new String(e._2, UTF_8)))
    assert(got.forall { case (off, _, size, body) =>
      off % 512 == 0 && size == body.length })
    assert(got.head._1 == 0L)
    // the file ends with the two-zero-block trailer on the 512 grid
    val bytes = Files.readAllBytes(Paths.get(s"$dir/a.tar"))
    assert(bytes.length % 512 == 0)
    assert(bytes.takeRight(1024).forall(_ == 0))
  }

  test("sub-file splits are index-free and byte-identical to the unsplit " +
    "read: block-aligned checksum resync owns each entry exactly once") {
    val dir = tmpDir()
    val entries = (0 until 150).map(i =>
      (s"d/k$i.bin", ("p" * (i % 1400 + 3) + s"|$i").getBytes(UTF_8)))
    TarSource.writeTar(s"$dir/b.tar", entries.iterator)
    val whole = readTar(Seq(s"$dir/b.tar"))
      .select($"entry_offset", $"name", $"payload".cast("string"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val split = readTar(Seq(s"$dir/b.tar"), splitBytes = 2048)
    assert(split.rdd.getNumPartitions > 4)
    val gotSplit = split
      .select($"entry_offset", $"name", $"payload".cast("string"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(gotSplit == whole)
    assert(whole.length == 150)
  }

  test("a payload embedding ustar magic — even a full header block at a " +
    "MISALIGNED or checksum-broken position — does not fool the resync") {
    val dir = tmpDir()
    // poison 1: a full VALID header block, but embedded 100 bytes into
    // the payload so it can never sit on the 512 grid the resync steps
    val fake = TarSource.headerBlock("fake/evil.txt", 7)
    val poison1 = ("A" * 100).getBytes(US_ASCII) ++ fake ++
      ("B" * 700).getBytes(US_ASCII)
    // poison 2: sits exactly at a 512 boundary WITHIN the payload, but
    // one checksum digit is corrupted — validation must reject it
    val broken = TarSource.headerBlock("fake/evil2.txt", 7)
    broken(148) = (if (broken(148) == '0') '1' else '0').toByte
    val poison2 = new Array[Byte](512) ++ broken ++ ("C" * 300).getBytes(US_ASCII)
    val entries = Seq(
      ("real1.txt", poison1),
      ("real2.txt", poison2)) ++
      (0 until 40).map(i => (s"real$i.bin", s"data-$i".getBytes(UTF_8)))
    TarSource.writeTar(s"$dir/c.tar", entries.iterator)
    val whole = readTar(Seq(s"$dir/c.tar"))
      .select($"name").as[String].collect().sorted.toSeq
    val split = readTar(Seq(s"$dir/c.tar"), splitBytes = 1024)
      .select($"name").as[String].collect().sorted.toSeq
    assert(split == whole)
    assert(!whole.exists(_.startsWith("fake/")))
    assert(whole.size == 42)
  }

  test("WebDataset sample grouping: basename split at the FIRST dot, " +
    "directory prefix kept in the key, extension chains preserved") {
    val dir = tmpDir()
    val entries = Seq(
      ("train/000/a.txt", "textA".getBytes(UTF_8)),
      ("train/000/a.seg.png", Array[Byte](1, 2, 3)),
      ("train/000/b.txt", "textB".getBytes(UTF_8)),
      ("train/001/a.txt", "textA2".getBytes(UTF_8))) // same basename, other dir
    TarSource.writeTar(s"$dir/d.tar", entries.iterator)
    val samples = TarSource.tarSamples(readTar(Seq(s"$dir/d.tar")))
      .select($"sample_key",
        map_keys($"members").as("exts"),
        element_at($"members", "txt").cast("string").as("txt"))
      .as[(String, Seq[String], String)].collect()
      .map(r => r._1 -> ((r._2.sorted, r._3))).toMap
    assert(samples.keySet ==
      Set("train/000/a", "train/000/b", "train/001/a"))
    assert(samples("train/000/a")._1 == Seq("seg.png", "txt"))
    assert(samples("train/000/a")._2 == "textA")
    assert(samples("train/001/a")._2 == "textA2")
  }

  test("GNU @LongLink and pax path= long names: the meta entry is " +
    "consumed and its name applied to the next entry — no literal " +
    "@LongLink/PaxHeaders samples — and tarSamples groups by the " +
    "FULL name") {
    val dir = tmpDir()
    val longA = "very/deep/" + ("d" * 120) + "/sample-one.txt"
    val longB = "very/deep/" + ("d" * 120) + "/sample-one.cls"
    val entries = Seq(
      (longA, "alpha".getBytes(UTF_8)),
      ("short.txt", "s".getBytes(UTF_8)),
      (longB, "beta".getBytes(UTF_8)))
    TarSource.writeTarGnu(s"$dir/gnu.tar", entries.iterator)
    TarSource.writeTarPax(s"$dir/pax.tar", entries.iterator)
    for (f <- Seq("gnu.tar", "pax.tar")) {
      val got = readTar(Seq(s"$dir/$f"))
        .select($"name", $"payload".cast("string"))
        .as[(String, String)].collect().sortBy(_._1).toSeq
      assert(got == Seq(("short.txt", "s"), (longB, "beta"),
        (longA, "alpha")), s"in $f")
      // > 100 chars survived intact
      assert(got.exists(_._1.length > 100))
    }
    // WebDataset grouping keys on the carried full name
    val samples = TarSource.tarSamples(readTar(Seq(s"$dir/gnu.tar")))
      .orderBy("sample_key")
      .select($"sample_key", map_keys($"members"))
      .as[(String, Seq[String])].collect().toSeq
    assert(samples.map(_._1) == Seq("short",
      "very/deep/" + ("d" * 120) + "/sample-one"))
    assert(samples(1)._2.sorted == Seq("cls", "txt"))
  }

  test("a long-name unit straddling split boundaries is owned exactly " +
    "once: split union == unsplit for every split size (GNU and pax)") {
    val dir = tmpDir()
    // many long-named entries with varied payload sizes so unit
    // boundaries land at all positions relative to the split grid
    val entries = (0 until 80).map { i =>
      val name =
        if (i % 3 == 0) s"deep/${"n" * (90 + i % 40)}/k$i.bin"
        else s"plain/k$i.bin"
      (name, ("p" * (i % 1100 + 3) + s"|$i").getBytes(UTF_8))
    }
    TarSource.writeTarGnu(s"$dir/g.tar", entries.iterator)
    TarSource.writeTarPax(s"$dir/p.tar", entries.iterator)
    for (f <- Seq("g.tar", "p.tar")) {
      val whole = readTar(Seq(s"$dir/$f"))
        .select($"entry_offset", $"name", $"payload".cast("string"))
        .as[(Long, String, String)].collect().sortBy(_._1).toSeq
      assert(whole.map(_._2).sorted == entries.map(_._1).sorted, s"in $f")
      for (sb <- Seq(512L, 1024L, 2048L, 4096L)) {
        val split = readTar(Seq(s"$dir/$f"), splitBytes = sb)
          .select($"entry_offset", $"name", $"payload".cast("string"))
          .as[(Long, String, String)].collect().sortBy(_._1).toSeq
        assert(split == whole, s"in $f at splitBytes=$sb")
      }
    }
  }

  test("REAL-PRODUCER parity: archives written by system GNU tar " +
    "(--format=gnu and --format=posix) with >100-char paths read back " +
    "with full names and exact payloads, split and unsplit") {
    import scala.sys.process._
    val dir = tmpDir()
    val tree = s"$dir/tree"
    val deep = "deep/" + ("d" * 120)
    Files.createDirectories(Paths.get(s"$tree/$deep"))
    val names = Seq(s"$deep/sample-a.txt", s"$deep/sample-a.cls", "short.txt")
    names.zipWithIndex.foreach { case (n, i) =>
      Files.write(Paths.get(s"$tree/$n"), s"payload-$i".getBytes(UTF_8)) }
    val variants = Seq(
      ("gnu.tar", Seq("tar", "--format=gnu")),
      ("pax.tar", Seq("tar", "--format=posix")))
    for ((f, cmd) <- variants) {
      val rc = Process(cmd ++ Seq("-cf", s"$dir/$f") ++ names,
        new java.io.File(tree)).!
      assert(rc == 0, s"$cmd failed")
      for (sb <- Seq(0L, 1024L)) {
        val got = readTar(Seq(s"$dir/$f"), splitBytes = sb)
          .select($"name", $"payload".cast("string"))
          .as[(String, String)].collect().sortBy(_._1).toSeq
        // GNU tar may emit the deep directories as entries (skipped);
        // regular files must come back with FULL names and payloads
        assert(got == Seq(
          (s"$deep/sample-a.cls", "payload-1"),
          (s"$deep/sample-a.txt", "payload-0"),
          ("short.txt", "payload-2")), s"in $f at splitBytes=$sb")
      }
      // and the WebDataset regrouping keys on the carried full name
      val samples = TarSource.tarSamples(readTar(Seq(s"$dir/$f")))
        .orderBy("sample_key")
        .select($"sample_key", map_keys($"members"))
        .as[(String, Seq[String])].collect().toSeq
      assert(samples.map(_._1) == Seq(s"$deep/sample-a", "short"), s"in $f")
      assert(samples(0)._2.sorted == Seq("cls", "txt"), s"in $f")
    }
  }

  test("pax 'g' global header is consumed, never emitted; a global " +
    "path= applies only where no per-file name overrides") {
    val dir = tmpDir()
    // hand-assemble: ['g' global][file a][x path= meta][file b]
    val gRec = TarSource.paxRecord("comment", "release-fixture")
    val out = new java.io.ByteArrayOutputStream()
    out.write(TarSource.headerBlock("pax_global_header", gRec.length,
      typeflag = 'g'))
    out.write(gRec); out.write(new Array[Byte](512 - gRec.length % 512))
    out.write(TarSource.headerBlock("a.txt", 2))
    out.write("aa".getBytes(UTF_8)); out.write(new Array[Byte](510))
    val xRec = TarSource.paxRecord("path", "renamed/long-b.txt")
    out.write(TarSource.headerBlock("PaxHeaders.0/b", xRec.length,
      typeflag = 'x'))
    out.write(xRec); out.write(new Array[Byte](512 - xRec.length % 512))
    out.write(TarSource.headerBlock("b.txt", 2))
    out.write("bb".getBytes(UTF_8)); out.write(new Array[Byte](510))
    out.write(new Array[Byte](1024))
    Files.write(Paths.get(s"$dir/gx.tar"), out.toByteArray)
    val got = readTar(Seq(s"$dir/gx.tar"))
      .select($"name", $"payload".cast("string"))
      .as[(String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("a.txt", "aa"), ("renamed/long-b.txt", "bb")))
  }

  test("directory entries are skipped, prefix-field names are honored, " +
    "and truncated archives fail loudly") {
    val dir = tmpDir()
    // hand-assemble: [dir header]['prefixed' file][file truncated mid-payload]
    val dirHdr = TarSource.headerBlock("train/", 0, typeflag = '5')
    val withPrefix = TarSource.headerBlock("leaf.txt", 4)
    // move the directory part into the ustar prefix field (345, 155)
    "deep/nested".getBytes(US_ASCII).zipWithIndex.foreach {
      case (b, i) => withPrefix(345 + i) = b }
    // re-checksum after editing the prefix
    val sum = TarSource.checksumOf(withPrefix)
    val oct = java.lang.Long.toOctalString(sum)
    ("000000" + oct).substring(oct.length).getBytes(US_ASCII).zipWithIndex
      .foreach { case (b, i) => withPrefix(148 + i) = b }
    withPrefix(154) = 0; withPrefix(155) = ' '
    val body = "leaf".getBytes(UTF_8) ++ new Array[Byte](508)
    val ok = dirHdr ++ withPrefix ++ body ++
      new Array[Byte](1024) // trailer
    Files.write(Paths.get(s"$dir/e.tar"), ok)
    val got = readTar(Seq(s"$dir/e.tar"))
      .select($"name", $"payload".cast("string"))
      .as[(String, String)].collect().toSeq
    assert(got == Seq(("deep/nested/leaf.txt", "leaf")))
    // truncation: declare 4 KiB of payload, ship 100 bytes
    val bad = TarSource.headerBlock("t.bin", 4096) ++ new Array[Byte](100)
    Files.write(Paths.get(s"$dir/f.tar"), bad)
    val e = intercept[org.apache.spark.SparkException] {
      readTar(Seq(s"$dir/f.tar")).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("truncated tar")))
    // a non-tar file fails loudly too (offset-0 walk validates)
    Files.write(Paths.get(s"$dir/junk.tar"),
      ("junk " * 200).getBytes(UTF_8))
    intercept[org.apache.spark.SparkException] {
      readTar(Seq(s"$dir/junk.tar")).count()
    }
  }

  test("streaming: a growing WebDataset shard folder is consumed " +
    "exactly once across restarts, bounded by maxFilesPerTrigger under " +
    "AvailableNow, and batch == stream on the same shards") {
    val root = tmpDir()
    val dir = s"$root/shards"
    Files.createDirectories(Paths.get(dir))
    val ckpt = s"$root/_ckpt"
    val sink = s"$root/out"
    TarSource.writeTar(s"$dir/shard-000000.tar",
      Iterator(("a/k0.txt", "zero".getBytes(UTF_8)),
               ("a/k1.txt", "one".getBytes(UTF_8))))
    TarSource.writeTar(s"$dir/shard-000001.tar",
      Iterator(("a/k2.txt", "two".getBytes(UTF_8))))

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft.sources.TarDataSource")
        .option("maxFilesPerTrigger", 1)
        .load(dir)
        .select($"path", $"name", $"payload".cast("string").as("body"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable(); q.stop()
    }

    runOnce()
    val first = spark.read.parquet(sink)
      .select($"name", $"body").as[(String, String)].collect().sorted
    assert(first.toSeq == Seq(("a/k0.txt", "zero"), ("a/k1.txt", "one"),
      ("a/k2.txt", "two")))
    // stream output == the batch read of the same shards
    val batch = readTar(Seq(s"$dir/shard-000000.tar", s"$dir/shard-000001.tar"))
      .select($"name", $"payload".cast("string")).as[(String, String)]
      .collect().sorted.toSeq
    assert(first.toSeq == batch)

    // a new shard lands; the restart processes ONLY it (checkpointed
    // offset), and the lexicographic listing keeps committed order
    TarSource.writeTar(s"$dir/shard-000002.tar",
      Iterator(("a/k3.txt", "three".getBytes(UTF_8))))
    runOnce()
    val second = spark.read.parquet(sink)
      .select($"name", $"body").as[(String, String)].collect()
    assert(second.length == 4)
    assert(second.count(_._1 == "a/k3.txt") == 1)
  }
}
