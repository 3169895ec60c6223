package graft.pipeline

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.extract.CharsetKit

/** Charset sniffing: precedence (BOM > meta > heuristic > default), label
  * normalization, the 1024-byte prescan window, scoped attribute matching,
  * BOM consumption on decode, and the digit-replay of the contract query. */
class CharsetDetectSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)

  test("sniff: BOM wins over a contradicting meta") {
    val b = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
      utf8("""<meta charset="shift_jis"><p>x</p>""")
    assert(CharsetKit.sniff(b) === CharsetKit.Sniffed("utf-8", "bom"))
  }

  test("sniff: meta labels normalize per WHATWG (latin1 family -> cp1252)") {
    for (label <- Seq("ISO-8859-1", "latin1", "us-ascii", "cp1252"))
      assert(CharsetKit.sniff(utf8(s"""<meta charset="$label">""")) ===
        CharsetKit.Sniffed("windows-1252", "meta"), label)
    assert(CharsetKit.sniff(utf8("<meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=Shift_JIS\">")) ===
      CharsetKit.Sniffed("shift_jis", "meta"))
  }

  test("sniff: charset= in prose or non-meta tags is not a declaration") {
    assert(CharsetKit.sniff(utf8("<p>use charset=utf-16le in html</p>"))
      .method === "utf8_valid")
    assert(CharsetKit.sniff(utf8("""<a href="/x?charset=koi8-r">y</a>"""))
      .method === "utf8_valid")
    // unknown label on the first meta: keep scanning, second meta wins
    assert(CharsetKit.sniff(utf8(
      """<meta charset="bogus-enc"><meta charset="utf-8">""")) ===
      CharsetKit.Sniffed("utf-8", "meta"))
  }

  test("sniff: a meta past the 1024-byte prescan window is ignored") {
    val pad = "<!--" + "x" * 1100 + "-->"
    val b = utf8(pad + """<meta charset="utf-16le"><p>héllo</p>""")
    assert(CharsetKit.sniff(b) === CharsetKit.Sniffed("utf-8", "utf8_valid"))
  }

  test("sniff: invalid utf-8 without declarations defaults to cp1252") {
    val b = utf8("<p>caf") ++ Array(0xE9.toByte) ++ utf8("</p>")
    assert(CharsetKit.sniff(b) === CharsetKit.Sniffed("windows-1252", "default"))
    // strict validator: overlong and lone-continuation forms rejected
    assert(!CharsetKit.isValidUtf8(Array(0xC0.toByte, 0xAF.toByte)))
    assert(!CharsetKit.isValidUtf8(Array(0x80.toByte)))
    assert(!CharsetKit.isValidUtf8(Array(0xED.toByte, 0xA0.toByte, 0x80.toByte)))
    assert(CharsetKit.isValidUtf8(utf8("中 é ✓")))
  }

  test("decode: BOM is consumed; utf-16 round-trips; cp1252 smart quotes") {
    val text = "<p>héllo 中</p>"
    val le = Array[Byte](0xFF.toByte, 0xFE.toByte) ++
      text.getBytes(StandardCharsets.UTF_16LE)
    val (s16, t16) = CharsetKit.decode(le)
    assert(s16 === CharsetKit.Sniffed("utf-16le", "bom") && t16 === text)
    val (s93, t93) = CharsetKit.decode(
      utf8("<meta charset='cp1252'>") :+ 0x93.toByte)
    assert(s93.charset === "windows-1252" && t93.last === '“')
  }

  test("digit replay: verdicts, lengths, and text md5 match the plan") {
    def md5Hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(b).map("%02x".format(_)).mkString
    val got = CharsetDetect.charsetDetect(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val id = r.getLong(0)
      val (v, k) = (CharsetDetect.variantOf(id), CharsetDetect.kOf(id))
      val (wantCs, wantMethod) = CharsetDetect.expected(v)
      assert(r.getInt(1) === v)
      assert(r.getString(2) === wantCs, s"charset doc $id v$v")
      assert(r.getString(3) === wantMethod, s"method doc $id v$v")
      val text = CharsetDetect.pageText(v, k)
      assert(r.getLong(4) === text.length.toLong, s"n_chars doc $id v$v")
      assert(r.getString(5) === md5Hex(text.getBytes(StandardCharsets.UTF_8)),
        s"text_md5 doc $id v$v")
    }
    val variants = got.map(_.getInt(1)).toSet
    assert(variants === (0 to 7).toSet, s"all 8 scenarios occur, got $variants")
  }

  test("plan: per-row map only — no joins, no windows, no aggregates") {
    val plan = CharsetDetect.charsetDetect(spark, dir)
      .queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      !plan.contains("Aggregate"), s"sniff is embarrassingly parallel:\n$plan")
  }
}
