package graft

import graft.ops.{Tar, Warc, Zip}
import graft.spec.{Config, SourceSpec}
import graft.sources.SourceReader

/** The archive-size seam on every whole-file binary source: files
  * above `max_bytes` are pruned at the LISTING (content bytes never
  * load) and surface as quarantine rows — not task crashes — while
  * normal files in the same directory read through untouched. The
  * sparse-file case proves the default 2 GiB rung: Spark's binary row
  * limit would otherwise kill the scan with no recourse.
  */
class ArchiveSeamSpec extends SparkSuite {
  import spark.implicits._

  private def docs = Seq(
    (0L, "web", "alpha beta"), (1L, "web", "gamma delta")
  ).toDF("doc_id", "source", "text")

  private def withDir(f: java.io.File => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-seam").toFile
    try f(dir)
    finally { dir.listFiles.foreach(_.delete()); dir.delete() }
  }

  private def write(dir: java.io.File, name: String, bytes: Array[Byte]): Unit = {
    val out = new java.io.FileOutputStream(new java.io.File(dir, name))
    out.write(bytes); out.close()
  }

  test("warc source: oversized file quarantines as rec_index = -1, others read through") {
    withDir { dir =>
      val packed = Warc.packDocsWarcGz(docs, "doc_id", "source", "text", nFiles = 1).collect()
      write(dir, "ok.warc.gz", packed(0).getAs[Array[Byte]](1))
      write(dir, "huge.warc.gz", Array.fill[Byte](5000)('x'))
      val read = SourceReader.read(spark, SourceSpec("crawl", "warc", Config.of(
        "path" -> s"${dir.getAbsolutePath}/*.warc.gz", "max_bytes" -> 4096)))
      assert(read.where($"rec_index" >= 0).count() == 2)
      val q = read.where($"rec_index" === -1).collect()
      assert(q.length == 1 && q(0).getString(0).endsWith("huge.warc.gz"))
      assert(q(0).isNullAt(4)) // text null — refused, not garbage-decoded
      // records mode carries the real length in content_length
      val recs = SourceReader.read(spark, SourceSpec("crawl", "warc", Config.of(
        "path" -> s"${dir.getAbsolutePath}/*.warc.gz", "records" -> true,
        "max_bytes" -> 4096)))
      val qr = recs.where($"rec_index" === -1).collect()
      assert(qr.length == 1 && qr(0).getLong(7) == 5000L)
    }
  }

  test("tar and zip sources: oversized files quarantine as member_index = -1") {
    withDir { dir =>
      val tarBytes = Tar.packDocsTarGz(docs, "doc_id", "text", nFiles = 1)
        .collect()(0).getAs[Array[Byte]](1)
      write(dir, "ok.tar.gz", tarBytes)
      write(dir, "huge.tar.gz", Array.fill[Byte](9000)('x'))
      val tar = SourceReader.read(spark, SourceSpec("t", "tar", Config.of(
        "path" -> s"${dir.getAbsolutePath}/*.tar.gz", "max_bytes" -> 8192)))
      val tq = tar.where($"member_index" === -1).collect()
      assert(tq.length == 1 && tq(0).getString(0).endsWith("huge.tar.gz") &&
        tq(0).getLong(3) == 9000L)
      assert(tar.where($"member_index" >= 0).count() == 2)
    }
    withDir { dir =>
      val zipBytes = Zip.packDocsZip(docs, "doc_id", "text", nFiles = 1)
        .collect()(0).getAs[Array[Byte]](1)
      write(dir, "ok.zip", zipBytes)
      write(dir, "huge.zip", Array.fill[Byte](9000)('x'))
      val zip = SourceReader.read(spark, SourceSpec("z", "zip", Config.of(
        "path" -> s"${dir.getAbsolutePath}/*.zip", "members" -> true,
        "max_bytes" -> 8192)))
      val zq = zip.where($"member_index" === -1).collect()
      assert(zq.length == 1 && zq(0).getString(0).endsWith("huge.zip") &&
        zq(0).getLong(4) == 9000L)
      assert(zip.where($"member_index" >= 0).count() == 2)
    }
  }

  test("pdf source: oversized file becomes a decoded = false row") {
    withDir { dir =>
      write(dir, "ok.pdf", graft.ops.Pdf.pdfOf("readable", flate = false))
      write(dir, "huge.pdf", Array.fill[Byte](3000)('x'))
      val read = SourceReader.read(spark, SourceSpec("p", "pdf", Config.of(
        "path" -> s"${dir.getAbsolutePath}/*.pdf", "max_bytes" -> 2048)))
      val rows = read.collect().map(r => (r.getString(0).split('/').last, r.getBoolean(1))).toMap
      assert(rows == Map("ok.pdf" -> true, "huge.pdf" -> false))
    }
  }

  test("jsonl source: oversized shard fails FAST with the shard named (no quarantine shape)") {
    withDir { dir =>
      write(dir, "ok.jsonl", "{\"a\": 1}\n{\"a\": 2}\n".getBytes("UTF-8"))
      write(dir, "huge.jsonl", Array.fill[Byte](4000)('{'))
      val e = intercept[GraftAnalysisException] {
        SourceReader.read(spark, SourceSpec("j", "jsonl", Config.of(
          "path" -> s"${dir.getAbsolutePath}/*.jsonl", "compression" -> "none",
          "max_bytes" -> 2048)))
      }
      assert(e.getMessage.contains("huge.jsonl") && e.getMessage.contains("max_bytes"))
    }
  }

  test("jsonl source: a truncated .jsonl.zst among good shards fails with the shard named") {
    withDir { dir =>
      def zst(text: String) = com.github.luben.zstd.Zstd.compress(text.getBytes("UTF-8"), 3)
      write(dir, "a.jsonl.zst", zst("{\"a\": 1}\n{\"a\": 2}\n"))
      write(dir, "b.jsonl.zst", zst("{\"a\": 3}\n"))
      val whole = zst("{\"a\": 4}\n{\"a\": 5}\n")
      write(dir, "cut.jsonl.zst", whole.take(whole.length - 3))
      val e = intercept[GraftAnalysisException] {
        SourceReader.read(spark, SourceSpec("j", "jsonl", Config.of(
          "path" -> s"${dir.getAbsolutePath}/*.jsonl.zst")))
      }
      assert(e.getMessage.contains("cut.jsonl.zst") && !e.getMessage.contains("a.jsonl.zst"))
      // the good shards read through a named codec too
      val ok = SourceReader.read(spark, SourceSpec("j", "jsonl", Config.of(
        "path" -> s"${dir.getAbsolutePath}/[ab].jsonl.zst", "compression" -> "zstd")))
      assert(ok.count() == 3)
    }
  }

  test("jsonl source: a .jsonl.zst decoding past the codec cap fails with the cap named") {
    withDir { dir =>
      write(dir, "ok.jsonl", "{\"a\": 1}\n".getBytes("UTF-8"))
      // 257 frames of 1 MiB of spaces: a few KiB that decode past 256 MiB
      val frame = com.github.luben.zstd.Zstd.compress(Array.fill[Byte](1 << 20)(' '), 3)
      write(dir, "bomb.jsonl.zst", Array.fill(257)(frame).flatten)
      val e = intercept[GraftAnalysisException] {
        SourceReader.read(spark, SourceSpec("j", "jsonl", Config.of(
          "path" -> s"${dir.getAbsolutePath}/*.jsonl*")))
      }
      assert(e.getMessage.contains("bomb.jsonl.zst") && e.getMessage.contains("256 MiB"))
    }
  }

  test("jsonl source: a pzstd-style .jsonl.zst (leading skippable frame) sniffs as zstd") {
    withDir { dir =>
      val skippable = Array[Byte](0x50, 0x2A, 0x4D, 0x18, 4, 0, 0, 0, 1, 2, 3, 4)
      write(dir, "p.jsonl.zst", skippable ++
        com.github.luben.zstd.Zstd.compress("{\"a\": 1}\n{\"a\": 2}\n".getBytes("UTF-8"), 3))
      val read = SourceReader.read(spark, SourceSpec("j", "jsonl", Config.of(
        "path" -> s"${dir.getAbsolutePath}/*.jsonl.zst")))
      assert(read.count() == 2)
    }
  }

  test("default seam: a sparse >2 GiB file quarantines instead of crashing the scan") {
    withDir { dir =>
      val packed = Warc.packDocsWarcGz(docs, "doc_id", "source", "text", nFiles = 1).collect()
      write(dir, "ok.warc.gz", packed(0).getAs[Array[Byte]](1))
      // sparse file: 2 GiB + 1 of holes, zero disk cost — above
      // Int.MaxValue, which binaryFile cannot load as one row
      val raf = new java.io.RandomAccessFile(new java.io.File(dir, "huge.warc.gz"), "rw")
      raf.setLength(Int.MaxValue.toLong + 1); raf.close()
      val read = SourceReader.read(spark, SourceSpec("crawl", "warc", Config.of(
        "path" -> s"${dir.getAbsolutePath}/*.warc.gz")))
      assert(read.where($"rec_index" >= 0).count() == 2)
      val q = read.where($"rec_index" === -1).collect()
      assert(q.length == 1 && q(0).getString(0).endsWith("huge.warc.gz"))
    }
  }

  test("split scan: a range above Int.MaxValue quarantines, it cannot buffer") {
    // readRange allocates an Array[Byte](len) — a single gzip member
    // larger than 2 GiB would otherwise turn into a negative-size
    // allocation crash inside the task.
    assert(Warc.rangeReadable(0L))
    assert(Warc.rangeReadable(Int.MaxValue.toLong))
    assert(!Warc.rangeReadable(Int.MaxValue.toLong + 1))
    assert(!Warc.rangeReadable(-1L))
  }
}
