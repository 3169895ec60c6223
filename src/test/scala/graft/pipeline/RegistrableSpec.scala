package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Registrable-domain contract gates: the engine (real PSL kernel over
  * the digit universe) replays the closed-form ladder row-for-row, and
  * every exercised branch genuinely occurs in the universe. */
class RegistrableSpec extends AnyFunSuite with SharedSpark {

  /** The oracle ladder in Scala — no PSL matching, no punycoding. */
  private def expect(i: Int): (Long, String, String, String, Option[String]) = {
    val c = i % 6; val d = (i / 6) % 3
    val uni = i % 25 == 0
    val up = i % 9 == 0 && !uni
    val ps = i % 31 == 7
    val baseRaw = if (uni) "bücher" else "site" + (i % 40)
    val baseA = if (uni) "xn--bcher-kva" else "site" + (i % 40)
    val sub = if (d == 1) "www." else if (d == 2) "a.www." else ""
    val sfxMap = Map(0 -> "com", 1 -> "co.uk", 2 -> "foo.ck", 4 -> "zz", 5 -> "github.io")
    val (lc, norm, sfx, regd): (String, String, String, Option[String]) =
      if (ps) ("co.uk", "co.uk", "co.uk", None)
      else if (c == 3) {
        val h = if (d == 0) "www.ck" else if (d == 1) "b.www.ck" else "c.b.www.ck"
        (h, h, "ck", Some("www.ck"))
      } else {
        val s0 = sfxMap(c)
        (sub + baseRaw + "." + s0, sub + baseA + "." + s0, s0, Some(baseA + "." + s0))
      }
    val raw = if (up) lc.toUpperCase(java.util.Locale.ROOT) else lc
    (i.toLong, raw, norm, sfx, regd)
  }

  test("engine replays the ladder row-for-row; all branches occur") {
    val got = Registrable.registrable(spark, "").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
        Option(r.getString(4))))
    assert(got.length === Registrable.N)
    got.zipWithIndex.foreach { case (g, i) => assert(g === expect(i), s"id $i") }
    // branch coverage in the universe itself
    val sfxs = got.map(_._4).distinct.toSet
    assert(Set("com", "co.uk", "foo.ck", "ck", "zz", "github.io").subsetOf(sfxs), sfxs)
    assert(got.exists(_._5.isEmpty)) // suffix-itself hosts
    assert(got.exists(_._2.exists(_.isUpper))) // uppercase raw spellings
    assert(got.exists(_._3.startsWith("xn--")) // punycoded IDN
      && got.exists(g => g._2.contains("ü")))
  }
}
