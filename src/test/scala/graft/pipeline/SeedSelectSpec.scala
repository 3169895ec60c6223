package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for greedy seed selection: marginal gain beats absolute
  * ball size on overlapping stars (the submodularity point), radius-2
  * reachability is exact, saturation stops the rounds early, and the
  * contract plants land exactly where the arithmetic says. */
class SeedSelectSpec extends AnyFunSuite with SharedSpark {

  test("overlapping stars: greedy picks by MARGINAL gain, not ball size") {
    import spark.implicits._
    // big covers {big,x1..x5} (6); midA covers {midA,x4,x5,y1} (4);
    // midB covers {midB,z1,z2,z3} (4). After big: midA marginal = 2
    // (midA,y1), midB marginal = 4 — greedy MUST take midB second even
    // though midA and midB tie on absolute ball size (host order would
    // prefer midA on a tie).
    val pairs = ((1 to 5).map(i => ("big", s"x$i")) ++
      Seq(("midA", "x4"), ("midA", "x5"), ("midA", "y1")) ++
      (1 to 3).map(i => ("midB", s"z$i"))).toDF("a", "b")
    val rows = SeedSelect.seedSelect(pairs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows(0) == ((1L, "big", 6L, 6L)))
    assert(rows(1) == ((2L, "midB", 4L, 10L)))
    assert(rows(2) == ((3L, "midA", 2L, 12L)))
  }

  test("radius-2 balls: a chain head covers two hops, no more; saturation stops rounds") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("a", "b")
    val rows = SeedSelect.seedSelect(pairs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // ball(a)={a,b,c}, ball(b)={b,c,d}, ball(c)={c,d,e}, ball(d)={d,e}
    // greedy: a (3) → c (2: d,e) → saturated at 5 of 5 — exactly 2 rounds
    assert(rows(0) == ((1L, "a", 3L, 3L)))
    assert(rows(1) == ((2L, "c", 2L, 5L)))
    assert(rows.length == 2, "zero-marginal rounds must not emit")
  }

  test("contract query: hub first among plants, mid's marginal is 3, coverage cumulative") {
    val rows = SeedSelect.seedSelectQuery(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val plantRounds = rows.filter(_._2.startsWith("seedsel-"))
    assert(plantRounds.nonEmpty, "the planted stars must be selected within k rounds")
    val hubRound = rows.find(_._2 == "seedsel-hub.example")
    assert(hubRound.exists(_._3 == 7L), s"hub's gain must be its full 7-ball (got $hubRound)")
    rows.find(_._2 == "seedsel-mid.example").foreach { mid =>
      assert(mid._3 == 3L, s"mid after hub covers only {mid,m1,m2} (got $mid)")
    }
    // covered is cumulative and strictly increasing
    assert(rows.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) < p(1)))
  }
}
