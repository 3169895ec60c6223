package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Script-detection gates: the kernel classifies by codepoint (surrogate
  * pairs, COMMON/INHERITED conventions), dominance excludes COMMON, and
  * the contract query replays the closed-form ladder. */
class ScriptDetectSpec extends AnyFunSuite with SharedSpark {

  test("kernel: scripts, COMMON, surrogate pairs, dominance") {
    val c = ScriptDetect.scriptCounts("ab вг 中 ع हि 한 12!")
    assert(c === ((2L, 2L, 1L, 1L, 2L, 1L, 0L, 9L))) // 6 spaces + '1' '2' '!'
    // Gothic (U+10330, astral plane — a surrogate PAIR) counts once, as other
    val g = ScriptDetect.scriptCounts(new String(Character.toChars(0x10330)) + "a")
    assert(g._7 === 1L && g._1 === 1L)
    // dominance ignores COMMON even when it outnumbers everything
    assert(ScriptDetect.dominant(ScriptDetect.scriptCounts("a 1 2 3 4 5")) === "latin")
    assert(ScriptDetect.dominant(ScriptDetect.scriptCounts("12345")) === "none")
  }

  test("contract query replays the ladder row-for-row") {
    val got = ScriptDetect.scriptDetect(spark, "").collect()
    assert(got.length === ScriptDetect.Docs)
    got.foreach { r =>
      val i = r.getLong(0).toInt
      val c = i % 5; val a = 10L + i % 7; val b = 3L + i % 4
      val want = c match {
        case 0 => (a + b, 0L, 0L, 0L, 0L, 0L, 0L, 1L, "latin")
        case 1 => (b, a, 0L, 0L, 0L, 0L, 0L, 1L, "cyrillic")
        case 2 => (b, 0L, a, 0L, 0L, 0L, 0L, 1L, "han")
        case 3 => (b, 0L, 0L, a, 0L, 0L, 0L, 5L, "arabic")
        case _ => (0L, 0L, 0L, 0L, a, b, 0L, 1L, "devanagari")
      }
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getString(9)) === want, s"id $i")
    }
    // every family dominates somewhere; mixed-script rows exist
    assert(got.map(_.getString(9)).distinct.sorted ===
      Seq("arabic", "cyrillic", "devanagari", "han", "latin"))
  }
}
