package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the readability scores: the column math equals a
  * sequential integer replay of the same formulae, simple short-sentence
  * prose out-scores polysyllabic run-ons, bands cut at FRE 70/50, and
  * degenerate inputs hit the floors instead of dividing by zero. */
class ReadabilitySpec extends AnyFunSuite with SharedSpark {

  private def replay(text: String): (Long, Long, Long, Long, Long) = {
    val w = math.max(text.split(" ", -1).length.toLong, 1L)
    val s = math.max(
      text.split("[.!?]+", -1).count(_.trim.nonEmpty).toLong, 1L)
    val y = "[aeiouy]+".r.findAllIn(text.toLowerCase).length.toLong
    val fre = 206835L - 1015L * w / s - 84600L * y / w
    val fkg = 390L * w / s + 11800L * y / w - 15590L
    (w, s, y, fre, fkg)
  }

  private def run(docsSeq: Seq[(String, String)]) = {
    import spark.implicits._
    Readability.readabilityKernel(docsSeq.toDF("doc_id", "text")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getString(6))).toMap
  }

  test("column math equals the sequential replay; easy prose out-scores run-ons") {
    val easy = "The dog ran. The cat sat. We saw it all. It was a good day."
    val hard = "Notwithstanding institutional heterogeneity considerations " +
      "organizational restructuring necessitates comprehensive " +
      "multidimensional evaluation methodologies incorporating " +
      "socioeconomic sustainability imperatives"
    val out = run(Seq("easy" -> easy, "hard" -> hard))
    for ((id, text) <- Seq("easy" -> easy, "hard" -> hard)) {
      val (w, s, y, fre, fkg) = replay(text)
      val (ow, os, oy, ofre, ofkg, _) = out(id)
      assert((ow, os, oy, ofre, ofkg) == (w, s, y, fre, fkg),
        s"$id must equal the sequential integer replay")
    }
    assert(out("easy")._4 > out("hard")._4, "FRE orders easy above hard")
    assert(out("easy")._5 < out("hard")._5, "FK grade orders easy below hard")
    assert(out("easy")._6 == "easy" && out("hard")._6 == "difficult")
  }

  test("degenerate inputs hit the floors; band cuts at the documented lines") {
    val out = run(Seq("empty" -> "", "noterm" -> "just words no stop"))
    assert(out("empty")._1 == 1L && out("empty")._2 == 1L,
      "empty text floors words and sentences at 1")
    assert(out("noterm")._2 == 1L, "no terminator ⇒ one sentence")
    // band boundaries are >= comparisons on fre_milli
    assert(Seq("easy", "standard", "difficult").contains(out("noterm")._6))
    val all = run(Seq("e" -> "a. a. a.", "m" -> "some reasonable sentence here."))
    all.values.foreach { case (_, _, _, fre, _, band) =>
      val expected =
        if (fre >= Readability.EasyBand) "easy"
        else if (fre >= Readability.StandardBand) "standard"
        else "difficult"
      assert(band == expected)
    }
  }
}
