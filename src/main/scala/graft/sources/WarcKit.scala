package graft.sources

import java.io.{BufferedInputStream, DataOutputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.extract.{HtmlKit, TextKit}
import graft.model.PageRow

/** WARC/1.0 source + sink — the Common Crawl native format, so the engine
  * can ingest real crawl archives into its pages table (input_hint schema)
  * without an external converter.
  *
  * Reading is STREAMING per file: `sc.binaryFiles` hands each task a
  * `PortableDataStream`, and records are parsed straight off the
  * InputStream (Content-Length-framed), so a 1 GB WARC never materializes
  * as one array — file-level parallelism, record-level constant memory,
  * exactly how Common Crawl jobs shard. `.warc.gz` uses the standard
  * member-per-record gzip layout (JDK GZIPInputStream reads concatenated
  * members transparently). RDD use is deliberate: per-partition imperative
  * byte-stream parsing is the sanctioned RDD case.
  */
object WarcKit {

  final case class WarcRecord(
      url: String, warc_ts: java.sql.Timestamp, status: Int,
      contentType: String, html: Array[Byte])

  /** A response OR revisit record (IIPC WARC 1.1 §6.7.2 identical-payload-
    * digest profile — what Common Crawl writes for unchanged recaptures):
    * revisit records carry the payload DIGEST plus a pointer to the
    * original capture and NO body — the dedup that keeps week-over-week
    * archives from re-storing the unchanged web. */
  final case class ArchiveRecord(
      warcType: String, url: String, warc_ts: java.sql.Timestamp, status: Int,
      contentType: String, html: Array[Byte],
      payloadDigest: String = "", refersToUri: String = "",
      refersToTs: java.sql.Timestamp = new java.sql.Timestamp(0L))

  val RevisitProfile = "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"

  /** WARC convention digest over the entity payload (we use md5 hex —
    * self-consistent within archives this library writes). */
  def payloadDigest(body: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(body)
    "md5:" + d.map("%02x".format(_)).mkString
  }

  private val WarcDate = DateTimeFormatter.ISO_INSTANT

  // ------------------------------------------------------------- writing --

  /** Serialize one response record (WARC headers + HTTP response + body);
    * a non-empty `payloadDigest` round-trips as WARC-Payload-Digest, so a
    * later recrawl can dedup against the archive without re-hashing every
    * stored payload. (writeWarcFile's plain records pass "" — byte layout
    * unchanged.) */
  private def recordBytes(r: WarcRecord, payloadDigest: String = ""): Array[Byte] = {
    val httpHeader =
      s"HTTP/1.1 ${r.status} OK\r\nContent-Type: ${r.contentType}\r\n" +
        s"Content-Length: ${r.html.length}\r\n\r\n"
    val payload = httpHeader.getBytes(UTF_8) ++ r.html
    val digestLine =
      if (payloadDigest.nonEmpty) s"WARC-Payload-Digest: $payloadDigest\r\n" else ""
    val warcHeader =
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        s"WARC-Target-URI: ${r.url}\r\n" +
        s"WARC-Date: ${WarcDate.format(Instant.ofEpochMilli(r.warc_ts.getTime))}\r\n" +
        digestLine +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${payload.length}\r\n\r\n"
    warcHeader.getBytes(UTF_8) ++ payload ++ "\r\n\r\n".getBytes(UTF_8)
  }

  /** Serialize one typed archive record. Response records embed the HTTP
    * response + body; revisit records carry headers only (digest + the
    * refers-to pointer), per the identical-payload-digest profile. */
  private def archiveRecordBytes(r: ArchiveRecord): Array[Byte] = {
    if (r.warcType == "revisit") {
      val warcHeader =
        "WARC/1.0\r\n" +
          "WARC-Type: revisit\r\n" +
          s"WARC-Target-URI: ${r.url}\r\n" +
          s"WARC-Date: ${WarcDate.format(Instant.ofEpochMilli(r.warc_ts.getTime))}\r\n" +
          s"WARC-Profile: $RevisitProfile\r\n" +
          s"WARC-Payload-Digest: ${r.payloadDigest}\r\n" +
          s"WARC-Refers-To-Target-URI: ${r.refersToUri}\r\n" +
          s"WARC-Refers-To-Date: ${WarcDate.format(Instant.ofEpochMilli(r.refersToTs.getTime))}\r\n" +
          "Content-Length: 0\r\n\r\n"
      warcHeader.getBytes(UTF_8) ++ "\r\n\r\n".getBytes(UTF_8)
    } else if (r.warcType == "conversion") {
      // WET layout: the extracted-text sibling archive Common Crawl ships
      // next to every WARC — conversion records carry the PLAIN TEXT (no
      // HTTP envelope) plus a refers-to pointer at the source capture.
      val warcHeader =
        "WARC/1.0\r\n" +
          "WARC-Type: conversion\r\n" +
          s"WARC-Target-URI: ${r.url}\r\n" +
          s"WARC-Date: ${WarcDate.format(Instant.ofEpochMilli(r.warc_ts.getTime))}\r\n" +
          s"WARC-Refers-To-Target-URI: ${r.refersToUri}\r\n" +
          s"Content-Type: ${if (r.contentType.nonEmpty) r.contentType else "text/plain"}\r\n" +
          s"WARC-Payload-Digest: ${r.payloadDigest}\r\n" +
          s"Content-Length: ${r.html.length}\r\n\r\n"
      warcHeader.getBytes(UTF_8) ++ r.html ++ "\r\n\r\n".getBytes(UTF_8)
    } else if (r.warcType == "metadata") {
      // WAT layout: the metadata sibling archive (Common Crawl's third
      // format) — metadata records carry a JSON Envelope (WARC header
      // metadata + extracted HTML metadata), no HTTP envelope, and a
      // refers-to pointer at the source capture.
      val warcHeader =
        "WARC/1.0\r\n" +
          "WARC-Type: metadata\r\n" +
          s"WARC-Target-URI: ${r.url}\r\n" +
          s"WARC-Date: ${WarcDate.format(Instant.ofEpochMilli(r.warc_ts.getTime))}\r\n" +
          s"WARC-Refers-To-Target-URI: ${r.refersToUri}\r\n" +
          "Content-Type: application/json\r\n" +
          s"WARC-Payload-Digest: ${r.payloadDigest}\r\n" +
          s"Content-Length: ${r.html.length}\r\n\r\n"
      warcHeader.getBytes(UTF_8) ++ r.html ++ "\r\n\r\n".getBytes(UTF_8)
    } else recordBytes(
      WarcRecord(r.url, r.warc_ts, r.status, r.contentType, r.html),
      payloadDigest = r.payloadDigest)
  }

  /** Minimal JSON string escaper for WAT envelopes (quote, backslash,
    * control chars — everything else passes through as UTF-8). */
  private def jsonStr(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.toString
  }

  /** One page → one WAT metadata record: a canonical JSON Envelope with
    * the WARC header metadata and the HTML metadata the extractor derived
    * (title + every `A@/href` link sighting) — the Common Crawl WAT shape,
    * built from the SAME HtmlKit kernels the extract stage runs, so the
    * WAT can never disagree with the engine's own link graph. Pure per-row
    * kernel: runs identically on the driver (fixtures) and on executors
    * ([[watRecords]]). */
  def watRecord(p: graft.model.PageRow): ArchiveRecord = {
    val html = new String(p.html, UTF_8)
    val dom = graft.extract.HtmlKit.parse(html)
    val title = graft.extract.HtmlKit.extractText(dom, html).title
    val links = graft.extract.HtmlKit.extractLinkAnchors(dom, p.url)
    val linksJson = links
      .map { case (u, _) => s"""{"path":"A@/href","url":"${jsonStr(u)}"}""" }
      .mkString("[", ",", "]")
    val json =
      s"""{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"${jsonStr(p.url)}",""" +
        s""""WARC-Type":"response","WARC-Date":"${WarcDate.format(Instant.ofEpochMilli(p.warc_ts.getTime))}"},""" +
        s""""Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":""" +
        s"""{"Head":{"Title":"${jsonStr(title)}"},"Links":$linksJson}}}}}"""
    val body = json.getBytes(UTF_8)
    ArchiveRecord("metadata", p.url, p.warc_ts, 0, "application/json", body,
      payloadDigest(body), p.url, p.warc_ts)
  }

  /** Pages table → WAT metadata records (driver-side Seq twin for
    * fixtures/tests; the distributed emit path is [[watRecords]]). */
  def watFromPages(pages: Seq[graft.model.PageRow]): Seq[ArchiveRecord] =
    pages.map(watRecord)

  /** Distributed WAT build: the per-row kernel runs on executors, so the
    * metadata sibling of a 100-TB crawl is one map over the pages table —
    * feed straight into [[writeArchivePartitioned]]. */
  def watRecords(pages: Dataset[graft.model.PageRow]): Dataset[ArchiveRecord] = {
    import pages.sparkSession.implicits._
    pages.map(watRecord)
  }

  /** One page → one WET conversion record (extracted text the engine's own
    * kernels produced — parity with the pages table holds by construction). */
  def wetRecord(p: graft.model.PageRow): ArchiveRecord = {
    val body = p.text.getBytes(UTF_8)
    ArchiveRecord("conversion", p.url, p.warc_ts, 0, "text/plain", body,
      payloadDigest(body), p.url, p.warc_ts)
  }

  /** Pages table → WET conversion records (driver-side Seq twin). */
  def wetFromPages(pages: Seq[graft.model.PageRow]): Seq[ArchiveRecord] =
    pages.map(wetRecord)

  /** Distributed WET build — executor-side map, for [[writeArchivePartitioned]]. */
  def wetRecords(pages: Dataset[graft.model.PageRow]): Dataset[ArchiveRecord] = {
    import pages.sparkSession.implicits._
    pages.map(wetRecord)
  }

  /** Write a mixed response/revisit archive (driver-side helper — the
    * production shape is foreachPartition with one file per partition,
    * same bytes per record). */
  def writeArchive(records: Seq[ArchiveRecord], path: String, gzip: Boolean = false,
                   zstd: Boolean = false): Unit = {
    val fos = new java.io.FileOutputStream(path)
    val out = new DataOutputStream(new java.io.BufferedOutputStream(fos))
    try records.foreach { r =>
      val bytes = archiveRecordBytes(r)
      if (gzip) {
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new GZIPOutputStream(bos)
        gz.write(bytes); gz.close()
        out.write(bos.toByteArray)
      } else if (zstd) out.write(Compression.zstd(bytes))
      else out.write(bytes)
    } finally out.close()
  }

  /** Hadoop Configuration is not Serializable; this minimal wrapper ships
    * the driver's (possibly hdfs-configured) conf to the writer tasks, so
    * executor-side FileSystem resolution sees the same scheme config the
    * driver does. */
  private final class SerConf(@transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** THE production archive emit path: one member-per-record gzip/zstd
    * archive segment per partition, each written by its own task straight
    * to the (Hadoop) filesystem — payload bytes NEVER visit the driver
    * (contrast [[writeArchive]], the driver-side fixture helper kept for
    * tests/goldens). At 100 TB the WARC/WET/WAT emit is the output path of
    * the whole crawl, so it must shard exactly like every other sink.
    *
    * Idempotence: segment names are deterministic in the partition id
    * (`part-00000.warc.gz`), and each task writes a temp file named by its
    * task ATTEMPT, then commits it with [[commitSegment]] — a retried or
    * speculative task never duplicates records (the streaming sinks'
    * deterministic-name discipline). Empty partitions emit no file;
    * `.tmp` files never survive a successful job.
    * Bytes per record come from the same [[archiveRecordBytes]] codec as
    * the driver-side writer, so the two paths are byte-identical per
    * record by construction. */
  def writeArchivePartitioned(records: Dataset[ArchiveRecord], dir: String,
                              codec: String = "gz", prefix: String = "part"): Unit = {
    require(Seq("gz", "zst", "none").contains(codec), s"unknown archive codec: $codec")
    val spark = records.sparkSession
    val hconf = new SerConf(spark.sparkContext.hadoopConfiguration)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val dirFs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    dirFs.mkdirs(dirPath)
    val ext = codec match {
      case "gz" => ".warc.gz"
      case "zst" => ".warc.zst"
      case _ => ".warc"
    }
    // overwrite semantics live HERE, on the driver, before any task runs:
    // stale segments from a previous job into the same dir are removed
    // once, so the task-side commit can be rename-if-absent (below) and a
    // racing speculative attempt can never delete a committed segment
    dirFs.globStatus(new org.apache.hadoop.fs.Path(dirPath, s"$prefix-*$ext"))
      .foreach(st => dirFs.delete(st.getPath, false))
    records.foreachPartition { (it: Iterator[ArchiveRecord]) =>
      if (it.hasNext) {
        val tc = org.apache.spark.TaskContext.get()
        val base = new org.apache.hadoop.fs.Path(dir)
        val fs = base.getFileSystem(hconf.value)
        val finalPath = new org.apache.hadoop.fs.Path(base, f"$prefix-${tc.partitionId()}%05d$ext")
        val tmpPath = new org.apache.hadoop.fs.Path(base,
          f".$prefix-${tc.partitionId()}%05d.attempt-${tc.taskAttemptId()}.tmp")
        val out = new java.io.BufferedOutputStream(fs.create(tmpPath, true), 1 << 16)
        try it.foreach { r =>
          val bytes = archiveRecordBytes(r)
          codec match {
            case "gz" =>
              val bos = new java.io.ByteArrayOutputStream(bytes.length / 3 + 64)
              val gz = new GZIPOutputStream(bos)
              gz.write(bytes); gz.close()
              out.write(bos.toByteArray)
            case "zst" => out.write(Compression.zstd(bytes))
            case _ => out.write(bytes)
          }
        } finally out.close()
        commitSegment(fs, tmpPath, finalPath)
      }
    }
  }

  /** Commits one task attempt's segment: renames `tmp` to `dst`, and if
    * the rename fails because `dst` exists, drops `tmp` and succeeds.
    * Attempts of one task write byte-identical segments (records and codec
    * are deterministic per partition), so an existing `dst` is a sibling
    * attempt's commit of this exact content. Where `rename` refuses an
    * existing destination (HDFS) the first attempt wins; on the local FS
    * `rename` overwrites it, so the last attempt wins — harmless for the
    * same reason. Nothing here ever deletes a committed segment, so a
    * racing attempt that dies mid-commit cannot lose one. */
  private[graft] def commitSegment(fs: org.apache.hadoop.fs.FileSystem,
                                   tmp: org.apache.hadoop.fs.Path,
                                   dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(tmp, dst)) {
      if (fs.exists(dst)) fs.delete(tmp, false)
      else throw new java.io.IOException(s"archive segment rename failed: $tmp -> $dst")
    }

  /** Digest-dedup a new capture against the previous one: unchanged
    * payloads (same url, same digest) become revisit records pointing at
    * the prior capture; everything else stays a full response record.
    * Driver-side Seq shape for fixtures/tests; the distributed twin is a
    * url-keyed equi join on (url, digest) — see RevisitQueries. */
  def dedupCapture(prev: Seq[WarcRecord], curr: Seq[WarcRecord]): Seq[ArchiveRecord] = {
    val prevDigest = prev.map(p => p.url -> ((payloadDigest(p.html), p.warc_ts))).toMap
    curr.map { c =>
      val dg = payloadDigest(c.html)
      prevDigest.get(c.url) match {
        case Some((pd, pts)) if pd == dg =>
          ArchiveRecord("revisit", c.url, c.warc_ts, c.status, c.contentType,
            Array.emptyByteArray, dg, c.url, pts)
        case _ =>
          ArchiveRecord("response", c.url, c.warc_ts, c.status, c.contentType, c.html, dg)
      }
    }
  }

  /** Write records as a single WARC file (driver-side fixture/export helper;
    * production export would shard via foreachPartition with one file per
    * partition — same bytes per record). `gzip=true` writes one gzip member
    * per record, `zstd=true` one zstd frame per record — both the Common
    * Crawl member-per-record layouts. */
  def writeWarcFile(records: Seq[WarcRecord], path: String, gzip: Boolean = false,
                    zstd: Boolean = false): Unit =
    writeArchive(
      records.map(r => ArchiveRecord("response", r.url, r.warc_ts, r.status,
        r.contentType, r.html)),
      path, gzip = gzip, zstd = zstd)

  // ------------------------------------------------------------- parsing --

  /** Read one CRLF-terminated header line; None at EOF. */
  private def readLine(in: InputStream): Option[String] = {
    val buf = new java.io.ByteArrayOutputStream(128)
    var c = in.read()
    if (c == -1) return None
    while (c != -1 && c != '\n') { buf.write(c); c = in.read() }
    val s = buf.toString("UTF-8")
    Some(if (s.endsWith("\r")) s.substring(0, s.length - 1) else s)
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val read = in.read(buf, off, n - off)
      require(read >= 0, s"truncated WARC record: wanted $n bytes, got $off")
      off += read
    }
    buf
  }

  /** Skip exactly n bytes (InputStream.skip may return short). */
  private def skipFully(in: InputStream, n: Long): Unit = {
    var left = n
    while (left > 0) {
      val skipped = in.skip(left)
      if (skipped <= 0) {
        require(in.read() != -1, s"truncated WARC record: $left bytes short")
        left -= 1
      } else left -= skipped
    }
  }

  /** Records larger than this are skipped (not buffered): the pages schema
    * targets html documents, and a task must never allocate a multi-GB
    * payload array. WARC Content-Length is 64-bit — real archives carry
    * giant conversion/resource records. */
  val MaxRecordBytes: Long = 64L * 1024 * 1024

  /** Stream-parse all response records from a (possibly multi-member-gzip)
    * WARC stream. Non-response and over-cap records are skipped by
    * Content-Length without buffering their payloads; the stream is closed
    * on EOF and on parse failure. */
  def parseWarcStream(raw: InputStream, gzipped: Boolean,
                      maxRecordBytes: Long = MaxRecordBytes): Iterator[WarcRecord] =
    parseWarcStreamCodec(raw, if (gzipped) "gz" else "none", maxRecordBytes)

  /** [[parseWarcStream]] with an explicit codec: "gz" (multi-member gzip),
    * "zst" (multi-frame zstd — Common Crawl's newer layout), or "none". */
  def parseWarcStreamCodec(raw: InputStream, codec: String,
                           maxRecordBytes: Long = MaxRecordBytes): Iterator[WarcRecord] =
    parseArchiveStreamCodec(raw, codec, maxRecordBytes)
      .filter(_.warcType == "response")
      .map(a => WarcRecord(a.url, a.warc_ts, a.status, a.contentType, a.html))

  /** Stream-parse response AND revisit records (revisit = the
    * identical-payload-digest dedup pointer — headers only, no body). */
  def parseArchiveStreamCodec(raw: InputStream, codec: String,
                              maxRecordBytes: Long = MaxRecordBytes): Iterator[ArchiveRecord] = {
    val decoded = codec match {
      case "gz" => new GZIPInputStream(raw)
      case "zst" => Compression.zstdStream(raw)
      case _ => raw
    }
    val in = new BufferedInputStream(decoded, 1 << 16)
    new Iterator[ArchiveRecord] {
      private var nextRec: ArchiveRecord = _
      private var done = false
      private def advance(): Unit = try {
        nextRec = null
        while (nextRec == null && !done) {
          // seek the next WARC version line (skips inter-record blank lines)
          var line = readLine(in)
          while (line.exists(l => l.isEmpty)) line = readLine(in)
          line match {
            case None => done = true; in.close()
            case Some(v) if v.startsWith("WARC/") =>
              // WARC named fields until blank line
              val fields = scala.collection.mutable.HashMap.empty[String, String]
              var l = readLine(in)
              while (l.exists(_.nonEmpty)) {
                val s = l.get
                val i = s.indexOf(':')
                if (i > 0) fields(s.substring(0, i).trim.toLowerCase) = s.substring(i + 1).trim
                l = readLine(in)
              }
              val len = fields.getOrElse("content-length", "0").trim.toLongOption.getOrElse(0L)
              val warcType = fields.getOrElse("warc-type", "")
              // tolerant like the rest of the parser: a malformed date in
              // ONE third-party record must not abort the whole file
              def tsOf(key: String): java.sql.Timestamp = new java.sql.Timestamp(
                fields.get(key).flatMap { d =>
                  try Some(Instant.parse(d).toEpochMilli)
                  catch { case _: Exception =>
                    try Some(java.time.OffsetDateTime.parse(d).toInstant.toEpochMilli)
                    catch { case _: Exception => scala.None }
                  }
                }.getOrElse(0L))
              if (warcType == "revisit") {
                skipFully(in, len) // revisit bodies are empty by our writer; tolerate others
                nextRec = ArchiveRecord("revisit",
                  fields.getOrElse("warc-target-uri", ""), tsOf("warc-date"), 0, "",
                  Array.emptyByteArray,
                  fields.getOrElse("warc-payload-digest", ""),
                  fields.getOrElse("warc-refers-to-target-uri", ""),
                  tsOf("warc-refers-to-date"))
              } else if ((warcType == "conversion" || warcType == "metadata") &&
                  len <= maxRecordBytes) {
                // WET extracted text / WAT json envelope: raw body, no
                // HTTP envelope
                nextRec = ArchiveRecord(warcType,
                  fields.getOrElse("warc-target-uri", ""), tsOf("warc-date"), 0,
                  fields.getOrElse("content-type",
                    if (warcType == "metadata") "application/json" else "text/plain"),
                  readFully(in, len.toInt),
                  fields.getOrElse("warc-payload-digest", ""),
                  fields.getOrElse("warc-refers-to-target-uri", ""),
                  tsOf("warc-date"))
              } else if (warcType != "response" || len > maxRecordBytes) {
                skipFully(in, len) // never buffer what we won't keep
              } else {
                val body = readFully(in, len.toInt)
                // split HTTP header block from the entity body
                val sep = indexOfDoubleCrlf(body)
                val (status, ctype, entity) =
                  if (sep < 0) (200, "", body)
                  else {
                    val head = new String(body, 0, sep, UTF_8)
                    val statusCode = head.linesIterator.nextOption()
                      .flatMap(_.split(" ").lift(1)).flatMap(_.toIntOption).getOrElse(200)
                    val ct = head.linesIterator.find(_.toLowerCase.startsWith("content-type:"))
                      .map(_.substring("content-type:".length).trim).getOrElse("")
                    (statusCode, ct, body.slice(sep + 4, body.length))
                  }
                nextRec = ArchiveRecord("response", fields.getOrElse("warc-target-uri", ""),
                  tsOf("warc-date"), status, ctype, entity,
                  fields.getOrElse("warc-payload-digest", ""))
              }
            case Some(_) => () // garbage line between records — keep scanning
          }
        }
      } catch {
        case e: Throwable =>
          // close the underlying file handle before propagating — task
          // retries must not leak PortableDataStream descriptors
          try in.close() catch { case _: Throwable => () }
          throw e
      }
      advance()
      override def hasNext: Boolean = nextRec != null
      override def next(): ArchiveRecord = {
        val r = nextRec; advance(); r
      }
    }
  }

  private def indexOfDoubleCrlf(b: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  // ------------------------------------------------------------- reading --

  /** All response records under `path` (glob ok). One task per WARC file —
    * Common Crawl segment files are the parallelism unit. */
  def readRecords(spark: SparkSession, path: String): Dataset[WarcRecord] = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(path)
      .flatMap { case (name, pds) =>
        val codec =
          if (name.endsWith(".gz")) "gz"
          else if (name.endsWith(".zst")) "zst"
          else "none"
        parseWarcStreamCodec(pds.open(), codec)
      }
      .toDS()
  }

  /** All response + revisit records under `path` — the dedup-aware read. */
  def readArchiveRecords(spark: SparkSession, path: String): Dataset[ArchiveRecord] = {
    import spark.implicits._
    spark.sparkContext.binaryFiles(path)
      .flatMap { case (name, pds) =>
        val codec =
          if (name.endsWith(".gz")) "gz"
          else if (name.endsWith(".zst")) "zst"
          else "none"
        parseArchiveStreamCodec(pds.open(), codec)
      }
      .toDS()
  }

  /** WARC → the engine's pages table (input_hint schema): html responses
    * get the SAME fused extract the engine applies (text + lang), so a raw
    * archive drops straight into CrawlEngine.run with byte-parity holding
    * by construction. */
  def pagesFromWarc(spark: SparkSession, path: String): Dataset[PageRow] = {
    import spark.implicits._
    readRecords(spark, path)
      .filter(r => r.status == 200 && r.url.nonEmpty)
      .map { r =>
        val html = new String(r.html, UTF_8)
        val ex = HtmlKit.extractText(html)
        val lang = TextKit.detectLanguage(ex.text).getOrElse("")
        PageRow(r.url, r.warc_ts, r.html, ex.text, lang)
      }
  }

  /** Round-trip helper for fixtures/tests: pages table → WARC records. */
  def toRecords(pages: Seq[PageRow]): Seq[WarcRecord] =
    pages.map(p => WarcRecord(p.url, p.warc_ts, 200, "text/html", p.html))

  def readAsDF(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    readRecords(spark, path).toDF()
  }
}
