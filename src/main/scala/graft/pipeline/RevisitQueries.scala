package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.commons.codec.digest.DigestUtils.md5Hex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.CorpusGen
import graft.model.PageRow
import graft.sources.WarcKit

/** WARC revisit-record dedup — the archive-side twin of conditional
  * revalidation ([[Revalidation]]): when a recrawl refetches a page whose
  * payload did not change, the archive stores a REVISIT record (IIPC WARC
  * 1.1 §6.7.2 identical-payload-digest profile: digest + pointer to the
  * original capture, NO body) instead of a second full response. Common
  * Crawl and the Wayback Machine both lean on this — at week-over-week
  * recrawl cadence the unchanged web dominates, and revisit records are
  * what keep the archive from growing linearly in recrawls rather than in
  * CHANGE. The reference archives nothing across runs (each crawl writes
  * full exports, reference/src/infrastructure/adapters/file_exporter.rs),
  * so this is a north-rule-scale extension, not a port.
  *
  * Scale shape: the classification is one url-keyed equi join between the
  * previous capture's (url, digest) index and the new capture — both sides
  * hash-partitioned on url, digests computed by the codegen'd built-in
  * `md5` (no UDF). At 10^10 urls the prior index is a columnar table
  * (url, digest, ts) a few percent the size of the archive itself; the
  * join shuffles keys+digests only, never payload bytes, because the
  * changed-ness decision needs just the digest and only CHANGED payloads
  * flow onward to the writer.
  */
object RevisitQueries {

  /** Salt for the deterministic changed-subset of the second capture. */
  private val ChangeSalt = ":graft-warc-chg-v1"

  /** Temp dir whose named files are reclaimed at JVM exit (the returned
    * DataFrames read lazily, so deletion can't happen earlier; register
    * dir first — deleteOnExit runs in reverse order, files before dir). */
  private def scratchDir(prefix: String, files: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    dir.toFile.deleteOnExit()
    files.foreach(f => dir.resolve(f).toFile.deleteOnExit())
    dir.toString
  }

  /** Temp dir reclaimed RECURSIVELY at JVM exit — for the partitioned
    * archive writers, whose segment count depends on the partition layout
    * (deleteOnExit can't pre-register unknown file names). */
  private def scratchDirRecursive(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      rm(dir.toFile)
    }, "graft-scratch-rm"))
    dir.toString
  }

  /** Day-7 recrawl: same corpus, later timestamps, a salted-md5 subset of
    * pages changed (one appended comment — enough to move the digest). */
  def secondCapture(pages: Seq[PageRow]): Seq[PageRow] =
    pages.map { p =>
      val changed = md5Hex(p.url + ChangeSalt).charAt(0) < '6'
      val html =
        if (changed) new String(p.html, UTF_8) + "<!-- rev2 -->" else new String(p.html, UTF_8)
      p.copy(
        warc_ts = new java.sql.Timestamp(p.warc_ts.getTime + 7L * 24 * 3600 * 1000),
        html = html.getBytes(UTF_8))
    }

  /** Distributed revisit classification: new capture LEFT-joined against
    * the previous capture's (url, digest, ts) index on url; equal digests
    * → `revisit`, everything else (changed or first-seen) → `response`.
    * Columns: url, warc_ts, status, content_type, html, digest, warc_type,
    * refers_to_url, refers_to_ts. */
  def classifyCapture(prev: DataFrame, curr: DataFrame): DataFrame = {
    val prevIdx = prev.select(
      col("url").as("p_url"),
      md5(col("html")).as("p_digest"),
      col("warc_ts").as("p_ts"))
    curr
      .withColumn("digest", md5(col("html")))
      .join(prevIdx, col("url") === col("p_url"), "left")
      .withColumn("warc_type",
        when(col("p_digest").isNotNull && col("p_digest") === col("digest"), "revisit")
          .otherwise("response"))
      .withColumn("refers_to_url",
        when(col("warc_type") === "revisit", col("url")).otherwise(lit("")))
      .withColumn("refers_to_ts",
        when(col("warc_type") === "revisit", col("p_ts"))
          .otherwise(lit(new java.sql.Timestamp(0L))))
      .drop("p_url", "p_digest", "p_ts")
  }

  /** [[classifyCapture]] output → typed archive records, mapped on
    * executors (shared by the batch export here and the streaming archive
    * sink): revisit rows drop their payload and carry the digest+pointer;
    * response rows keep the payload. */
  def classifiedToArchiveRecords(classified: DataFrame): org.apache.spark.sql.Dataset[WarcKit.ArchiveRecord] = {
    import classified.sparkSession.implicits._
    classified
      .select("warc_type", "url", "warc_ts", "status", "contentType", "html",
        "digest", "refers_to_url", "refers_to_ts")
      .as[(String, String, java.sql.Timestamp, Int, String, Array[Byte],
        String, String, java.sql.Timestamp)]
      .map { case (wt, url, ts, st, ct, html, dg, rUrl, rTs) =>
        if (wt == "revisit")
          WarcKit.ArchiveRecord("revisit", url, ts, st, ct, Array.emptyByteArray,
            "md5:" + dg, rUrl, rTs)
        else
          WarcKit.ArchiveRecord("response", url, ts, st, ct, html, "md5:" + dg)
      }
  }

  /** Contract query `q_warc_revisit`: capture day-0 as a plain WARC, run
    * the day-7 recrawl through [[classifyCapture]], write the mixed
    * response/revisit archive, read it back, and emit what the ARCHIVE now
    * holds per record — warc_type, digest, stored payload bytes, and the
    * refers-to pointer. Round-trips the revisit profile end to end: a row
    * is only `revisit` here if the serialized record carried the profile
    * headers back through the parser. Deterministic and sfDir-independent
    * (committed synthetic corpus), frozen as a fixture oracle. */
  def warcRevisit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val day0 = CorpusGen.localPages(CorpusGen.Spec(2, 15))
    val day7 = secondCapture(day0)
    val tmp = scratchDir("graft-q-revisit", "day0.warc.gz")
    WarcKit.writeWarcFile(WarcKit.toRecords(day0), s"$tmp/day0.warc.gz", gzip = true)

    val prev = WarcKit.readRecords(spark, s"$tmp/day0.warc.gz").toDF()
    val curr = spark.createDataset(WarcKit.toRecords(day7)).toDF()
    val classified = classifyCapture(prev, curr)

    // Distributed emit: classified rows become typed ArchiveRecords ON
    // EXECUTORS, and each partition writes its own member-per-record gzip
    // segment (WarcKit.writeArchivePartitioned) — payload bytes never
    // visit the driver, at fixture scale exactly as at 100 TB.
    val records = classifiedToArchiveRecords(classified)
    val day7Dir = scratchDirRecursive("graft-q-revisit-day7")
    WarcKit.writeArchivePartitioned(records, day7Dir, codec = "gz")

    WarcKit.readArchiveRecords(spark, s"$day7Dir/*.warc.gz")
      .map(a => (a.url, a.warcType, a.payloadDigest, a.html.length.toLong,
        a.refersToUri, a.refersToTs))
      .toDF("url", "warc_type", "payload_digest", "stored_bytes",
        "refers_to_url", "refers_to_ts")
      .orderBy("url")
  }

  /** Contract query `q_wet_export`: the WET sibling archive — pages →
    * conversion records (extracted text, no HTTP envelope, refers-to
    * pointer at the source capture) → member-per-record gzip → stream-
    * parse back. What the parser returns IS what the archive holds, so
    * the emitted md5/lengths pin the round trip byte-for-byte; WETs are
    * how Common Crawl consumers read text without touching raw WARCs. */
  def wetExport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Distributed end to end: record build (wetRecords map) AND segment
    // write (writeArchivePartitioned) both run on executors — the WET
    // sibling of a 100-TB crawl is one pass over the pages table.
    val pages = CorpusGen.dataset(spark, CorpusGen.Spec(2, 15))
    val tmp = scratchDirRecursive("graft-q-wet")
    WarcKit.writeArchivePartitioned(WarcKit.wetRecords(pages), tmp, codec = "gz")
    WarcKit.readArchiveRecords(spark, s"$tmp/*.warc.gz")
      .filter(_.warcType == "conversion")
      .map(a => (a.url, a.warc_ts, new String(a.html, UTF_8).length.toLong,
        WarcKit.payloadDigest(a.html), a.contentType, a.refersToUri))
      .toDF("url", "warc_ts", "n_chars", "text_digest", "content_type", "refers_to_url")
      .orderBy("url")
  }

  /** Schema of the WAT Envelope fields this engine reads back — declared
    * DDL so `from_json` is a codegen'd columnar parse, not a UDF. */
  private val WatSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "Envelope STRUCT<" +
      "`WARC-Header-Metadata` STRUCT<`WARC-Target-URI`: STRING, `WARC-Type`: STRING, `WARC-Date`: STRING>, " +
      "`Payload-Metadata` STRUCT<`HTTP-Response-Metadata`: STRUCT<" +
      "`HTML-Metadata`: STRUCT<Head: STRUCT<Title: STRING>, " +
      "Links: ARRAY<STRUCT<path: STRING, url: STRING>>>>>>")

  /** Contract query `q_wat_export` — the THIRD Common Crawl format
    * (WARC=capture ✓, WET=text ✓, WAT=metadata): per capture, a JSON
    * Envelope carrying the WARC header metadata plus the extracted HTML
    * metadata (title + every A@/href link sighting). Round-trip: pages →
    * WAT metadata records ([[WarcKit.watFromPages]], built from the SAME
    * HtmlKit kernels as the link graph) → gzip archive → streamed parse →
    * `from_json` over the declared schema (codegen'd, no UDF) → per-page
    * metadata profile. At archive scale the read side is the production
    * path: WATs are how link graphs get built WITHOUT re-parsing payload
    * HTML — the n_links/links_digest columns here are derivable from the
    * json alone. */
  def watExport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Distributed end to end (see wetExport): the WAT build parses HTML
    // per row on executors; the writer shards one segment per partition.
    val pages = CorpusGen.dataset(spark, CorpusGen.Spec(2, 15))
    val tmp = scratchDirRecursive("graft-q-wat")
    WarcKit.writeArchivePartitioned(WarcKit.watRecords(pages), tmp, codec = "gz")
    val html = "Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`"
    WarcKit.readArchiveRecords(spark, s"$tmp/*.warc.gz")
      .filter(_.warcType == "metadata")
      .map(a => (a.url, a.warc_ts, WarcKit.payloadDigest(a.html),
        a.refersToUri, new String(a.html, UTF_8)))
      .toDF("url", "warc_ts", "payload_digest", "refers_to_url", "json")
      .withColumn("env", from_json(col("json"), WatSchema))
      .select(
        col("url"), col("warc_ts"), col("payload_digest"), col("refers_to_url"),
        col(s"env.$html.Head.Title").as("title"),
        coalesce(size(col(s"env.$html.Links")), lit(0)).as("n_links"),
        md5(concat_ws("|",
          transform(coalesce(col(s"env.$html.Links"),
            array().cast("array<struct<path:string,url:string>>")),
            x => x.getField("url")))).as("links_digest"),
        col(s"env.Envelope.`WARC-Header-Metadata`.`WARC-Target-URI`").as("header_uri"))
      .orderBy("url")
  }
}
