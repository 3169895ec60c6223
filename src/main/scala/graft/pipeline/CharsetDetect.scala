package graft.pipeline

import java.nio.charset.{Charset, StandardCharsets}

import org.apache.commons.codec.digest.DigestUtils.md5Hex
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.extract.CharsetKit

/** Encoding-sniff contract over digit-synthesized payloads — the
  * [[RobotsMeta]] discipline applied to bytes: each document row plants
  * one of 8 encoding scenarios (BOMs, honest and label-normalized metas,
  * a LYING meta pushed past the 1024-byte prescan window, invalid-UTF-8
  * raw bytes, hostile attribute case/quoting), Spark sniffs and decodes
  * through the REAL [[CharsetKit]], and the DuckDB oracle re-derives the
  * verdicts AND the md5 of the exact decoded text from the digits alone —
  * it reconstructs what a correct sniff+decode must produce without ever
  * seeing the bytes. A wrong charset cannot hide: utf-16 halves/doubles
  * the text, cp1252-vs-utf-8 confusion changes every non-ASCII char, and
  * the md5 breaks.
  *
  * Scale shape: per-row byte construction + sniff + decode — the exact
  * cost profile of the extract stage this kit fuses into; no shuffle, no
  * joins, parallelism-invariant. */
object CharsetDetect {

  private[pipeline] val Salt = ":graft-charset-v1"

  private[pipeline] def variantOf(id: Long): Int =
    md5Hex(s"$id$Salt".getBytes(StandardCharsets.UTF_8)).charAt(0).toInt % 8

  private[pipeline] def kOf(id: Long): Int =
    1 + md5Hex(s"$id$Salt".getBytes(StandardCharsets.UTF_8)).charAt(1).toInt % 4

  /** The lying-meta padding comment (pushes its `<meta>` past the WHATWG
    * 1024-byte prescan window — a correct sniffer must NOT see it). */
  private[pipeline] val Pad = 1100

  /** Per-variant planted head fragment (decoded form). */
  private[pipeline] def metaFragment(v: Int): String = v match {
    case 0 | 1 | 2 | 6 => ""
    case 3 => """<meta charset="ISO-8859-1">"""
    case 4 => """<meta http-equiv="Content-Type" content="text/html; charset=UTF-8">"""
    case 5 => "<!--" + "x" * Pad + "--><meta charset=\"utf-16le\">"
    case 7 => "<META CHARSET='WINDOWS-1252'>"
  }

  /** Per-variant repeated non-ASCII probe char (what survives a correct
    * decode; v6's raw 0xE9 bytes read as 'é' under windows-1252). */
  private[pipeline] def probeChar(v: Int): Char = v match {
    case 0 | 4 => '中'
    case 7     => '“' // cp1252 0x93 smart quote
    case _     => 'é'
  }

  /** The decoded text a CORRECT sniff+decode must yield. */
  private[pipeline] def pageText(v: Int, k: Int): String =
    "<html><head>" + metaFragment(v) + "<title>doc</title></head><body><p>probe " +
      probeChar(v).toString * k + "</p></body></html>"

  /** The on-the-wire bytes for one scenario. */
  private[pipeline] def pageBytes(v: Int, k: Int): Array[Byte] = {
    val text = pageText(v, k)
    v match {
      case 0 => Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
        text.getBytes(StandardCharsets.UTF_8)
      case 1 => Array[Byte](0xFF.toByte, 0xFE.toByte) ++
        text.getBytes(StandardCharsets.UTF_16LE)
      case 2 => Array[Byte](0xFE.toByte, 0xFF.toByte) ++
        text.getBytes(StandardCharsets.UTF_16BE)
      case 3 => text.getBytes(StandardCharsets.ISO_8859_1)
      case 4 | 5 => text.getBytes(StandardCharsets.UTF_8)
      case 6 => text.getBytes(StandardCharsets.ISO_8859_1) // é = raw 0xE9, invalid utf-8
      case 7 => text.getBytes(Charset.forName("windows-1252"))
    }
  }

  private[pipeline] def expected(v: Int): (String, String) = v match {
    case 0 => ("utf-8", "bom")
    case 1 => ("utf-16le", "bom")
    case 2 => ("utf-16be", "bom")
    case 3 => ("windows-1252", "meta") // ISO-8859-1 label normalizes
    case 4 => ("utf-8", "meta")
    case 5 => ("utf-8", "utf8_valid") // the lie sits past the window
    case 6 => ("windows-1252", "default")
    case 7 => ("windows-1252", "meta")
  }

  /** Contract query `q_charset_detect`: per-payload sniff verdict, decode
    * length, and the md5 of the decoded text. */
  def charsetDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").as[Long]
      .map { id =>
        val (v, k) = (variantOf(id), kOf(id))
        val (sniffed, text) = CharsetKit.decode(pageBytes(v, k))
        (id, v, sniffed.charset, sniffed.method, text.length.toLong,
          md5Hex(text.getBytes(StandardCharsets.UTF_8)))
      }
      .toDF("doc_id", "variant", "charset", "method", "n_chars", "text_md5")
      .orderBy("doc_id")
  }

  private def sqlQuote(s: String): String = s.replace("'", "''")

  /** Independent DuckDB recompute: variant/k from the digits, verdicts
    * from a CASE ladder, and the decoded text REBUILT as a SQL string
    * (repeat() for the probe run and the prescan padding) — md5/length
    * compare against what Spark actually decoded from the bytes. */
  val charsetDetectSql: String = {
    val metaCase = (0 to 7).map {
      case 5 => s"WHEN 5 THEN '<!--' || repeat('x', $Pad) || '--><meta charset=\"utf-16le\">'"
      case v => s"WHEN $v THEN '${sqlQuote(metaFragment(v))}'"
    }.mkString(" ")
    val probeCase = (0 to 7).map(v => s"WHEN $v THEN '${probeChar(v)}'").mkString(" ")
    val charsetCase = (0 to 7).map(v => s"WHEN $v THEN '${expected(v)._1}'").mkString(" ")
    val methodCase = (0 to 7).map(v => s"WHEN $v THEN '${expected(v)._2}'").mkString(" ")
    s"""WITH v AS (
      |  SELECT doc_id,
      |    ascii(substr(md5(CAST(doc_id AS VARCHAR) || '$Salt'), 1, 1)) % 8 AS variant,
      |    1 + ascii(substr(md5(CAST(doc_id AS VARCHAR) || '$Salt'), 2, 1)) % 4 AS k
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, variant, k,
      |    '<html><head>' || (CASE variant $metaCase END) ||
      |    '<title>doc</title></head><body><p>probe ' ||
      |    repeat(CASE variant $probeCase END, k) || '</p></body></html>' AS page
      |  FROM v)
      |SELECT doc_id, variant,
      |  CASE variant $charsetCase END AS charset,
      |  CASE variant $methodCase END AS method,
      |  CAST(length(page) AS BIGINT) AS n_chars,
      |  md5(page) AS text_md5
      |FROM t ORDER BY doc_id""".stripMargin
  }
}
