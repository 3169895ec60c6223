package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.isolated
import graft.gen.CorpusGen

/** The distributed archive writer (WarcKit.writeArchivePartitioned) — the
  * production WARC/WET/WAT emit path: one member-per-record segment per
  * partition, written by the partition's own task, payload bytes never on
  * the driver. Gates: byte parity vs readArchiveRecords at TWO parallelism
  * levels (local[2] / local[8] — the north rule's two-cluster-size
  * discipline applied to the output path), byte parity vs the driver-side
  * fixture writer (shared codec), segment hygiene (no tmp files, empty
  * partitions emit nothing), both gzip and zstd member layouts, and the
  * per-attempt segment commit on the local FS. */
class ArchiveWriterSpec extends AnyFunSuite {

  /** Mixed-type record fixture: responses (with digests), a revisit, a WET
    * conversion and a WAT metadata record — every branch of the codec. */
  private def mixedRecords: Vector[WarcKit.ArchiveRecord] = {
    val pages = CorpusGen.localPages(CorpusGen.Spec(2, 10)).filter(_.text.nonEmpty)
    val responses = pages.take(6).map(p =>
      WarcKit.ArchiveRecord("response", p.url, p.warc_ts, 200, "text/html",
        p.html, WarcKit.payloadDigest(p.html)))
    val revisit = {
      val p = pages(6)
      WarcKit.ArchiveRecord("revisit", p.url, p.warc_ts, 0, "",
        Array.emptyByteArray, WarcKit.payloadDigest(p.html), p.url,
        new java.sql.Timestamp(p.warc_ts.getTime - 7L * 24 * 3600 * 1000))
    }
    val wet = WarcKit.wetRecord(pages(7))
    val wat = WarcKit.watRecord(pages(8))
    responses :+ revisit :+ wet :+ wat
  }

  /** Normalized comparable view of a parsed record, html bytes included. */
  private def key(a: WarcKit.ArchiveRecord): (String, String, String, String, Long, Int, Seq[Byte]) =
    (a.warcType, a.url, a.payloadDigest, a.refersToUri, a.refersToTs.getTime,
      a.status, a.html.toSeq)

  test("round-trip byte parity at local[2] and local[8]; parity with the driver-side codec") {
    val recs = mixedRecords
    // the driver-side fixture writer shares archiveRecordBytes — parse its
    // output as the byte-truth the distributed segments must reproduce
    val refDir = Files.createTempDirectory("graft-aw-ref").toString
    WarcKit.writeArchive(recs, s"$refDir/ref.warc.gz", gzip = true)

    val results = Seq(("local[2]", 2), ("local[8]", 8)).map { case (master, par) =>
      isolated(master, partitions = par) { spark =>
        import spark.implicits._
        assert(spark.sparkContext.master == master, "each leg runs on its own context")
        val dir = Files.createTempDirectory(s"graft-aw-$par").toString
        WarcKit.writeArchivePartitioned(
          spark.createDataset(recs).repartition(par), dir, codec = "gz")
        val refParsed = WarcKit.readArchiveRecords(spark, s"$refDir/ref.warc.gz")
          .collect().map(key).sortBy(k => (k._2, k._1))
        val got = WarcKit.readArchiveRecords(spark, s"$dir/*.warc.gz")
          .collect().map(key).sortBy(k => (k._2, k._1))
        assert(got.length == recs.length, s"$master: every record survives")
        assert(got.toSeq == refParsed.toSeq,
          s"$master: distributed segments parse byte-identically to the driver-side codec")
        got.toSeq
      }
    }
    assert(results(0) == results(1),
      "local[2] and local[8] archives parse to the identical record set")
  }

  test("segment hygiene: deterministic names, no tmp survivors, empty partitions emit nothing") {
    isolated() { spark =>
      import spark.implicits._
      val recs = mixedRecords.take(3)
      val dir = Files.createTempDirectory("graft-aw-hygiene").toString
      // 8 partitions, 3 records: at least 5 partitions are empty
      WarcKit.writeArchivePartitioned(spark.createDataset(recs).repartition(8), dir, codec = "gz")
      // drop the local ChecksumFileSystem's hidden .crc sidecars — readers
      // (binaryFiles glob) never see dot-files
      val files = new java.io.File(dir).listFiles().map(_.getName)
        .filterNot(_.startsWith(".")).sorted
      assert(files.nonEmpty && files.length <= 3, "empty partitions emit no segment")
      assert(files.forall(_.matches("part-\\d{5}\\.warc\\.gz")), s"deterministic names: ${files.mkString(",")}")
      assert(!files.exists(_.contains(".tmp")), "no tmp files survive the rename flip")
      val got = WarcKit.readArchiveRecords(spark, s"$dir/*.warc.gz").collect()
      assert(got.map(key).sortBy(_._2).toSeq == recs.map(key).sortBy(_._2).toSeq,
        "parsed records match the input records field-for-field, payload bytes included")
    }
  }

  test("zstd member-per-record segments round-trip") {
    isolated() { spark =>
      import spark.implicits._
      val recs = mixedRecords
      val dir = Files.createTempDirectory("graft-aw-zst").toString
      WarcKit.writeArchivePartitioned(spark.createDataset(recs).repartition(3), dir, codec = "zst")
      val files = new java.io.File(dir).listFiles().map(_.getName)
        .filterNot(_.startsWith("."))
      assert(files.forall(_.endsWith(".warc.zst")))
      val got = WarcKit.readArchiveRecords(spark, s"$dir/*.warc.zst").collect()
      assert(got.length == recs.length)
      val gotByUrl = got.map(a => (a.url, a.warcType) -> a).toMap
      recs.foreach { r =>
        val g = gotByUrl((r.url, r.warcType))
        assert(java.util.Arrays.equals(g.html, r.html), s"payload bytes for ${r.url}")
        assert(g.payloadDigest == r.payloadDigest)
      }
    }
  }

  /** One segment commit on the local FS: `tmp` written with `bytes`,
    * `dst` pre-committed with `committed` when given. Returns the bytes at
    * `dst` after [[WarcKit.commitSegment]] and every file name left. */
  private def commitOnLocalFs(bytes: Array[Byte],
                              committed: Option[Array[Byte]]): (Array[Byte], Seq[String]) = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    val fs = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val dir = new Path(Files.createTempDirectory("graft-aw-commit").toString)
    def write(p: Path, b: Array[Byte]): Unit = {
      val out = fs.create(p, true)
      try out.write(b) finally out.close()
    }
    val dst = new Path(dir, "part-00000.warc.gz")
    val tmp = new Path(dir, ".part-00000.warc.gz.attempt-7.tmp")
    committed.foreach(write(dst, _))
    write(tmp, bytes)
    WarcKit.commitSegment(fs, tmp, dst)
    val in = fs.open(dst)
    val got = try in.readAllBytes() finally in.close()
    (got, fs.listStatus(dir).map(_.getPath.getName).toSeq)
  }

  test("commitSegment: an absent destination receives the attempt's bytes") {
    val bytes = "segment bytes".getBytes(UTF_8)
    val (got, names) = commitOnLocalFs(bytes, None)
    assert(got.sameElements(bytes))
    assert(!names.exists(_.contains(".tmp")), s"no tmp file survives: ${names.mkString(",")}")
  }

  test("commitSegment: a destination already committed by a sibling attempt stays as it was") {
    val bytes = "segment bytes".getBytes(UTF_8)
    val (got, names) = commitOnLocalFs(bytes, Some(bytes.clone()))
    assert(got.sameElements(bytes), "the committed segment is unchanged")
    assert(!names.exists(_.contains(".tmp")), s"no tmp file survives: ${names.mkString(",")}")
  }
}
