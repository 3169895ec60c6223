package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the neighborhood function: exact BFS pair counts on
  * sub-K graphs, the KMV estimator branch within its error band on a
  * super-K clique, partitioning invariance (the sketch is a pure function
  * of the edge set), and the planted chain stretching the contract curve. */
class AnfSpec extends AnyFunSuite with SharedSpark {

  test("path graph: exact ball counts per radius, effective diameter by the 900‰ rule") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("a", "b")
    val rows = Anf.anf(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows(0L)._1 == 4L)   // N(0) = |V|
    assert(rows(1L)._1 == 10L)  // 2+3+3+2
    assert(rows(2L)._1 == 14L)  // 3+4+4+3
    assert(rows(3L)._1 == 16L)  // complete: 4·4
    assert(rows(3L)._2 == 2L, "delta = the wave-frontier mass")
    assert(rows(Anf.Rounds.toLong)._1 == 16L, "curve is flat past the diameter")
    // 900‰ of 16 = 14.4 ⇒ N(2)=14 misses, N(3)=16 reaches
    assert(rows(0L)._4 == 3L, "effective diameter repeated on every row")
  }

  test("super-K clique: estimator branch lands inside the KMV error band") {
    import spark.implicits._
    val n = 40 // ball size 40 > K = 32 ⇒ the estimate branch runs
    val pairs = (for { i <- 0 until n; j <- i + 1 until n }
      yield (s"cl$i", s"cl$j")).toDF("a", "b")
    val rows = Anf.anf(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val est = rows(1L).toDouble / n // per-node ball estimate vs true n
    assert(math.abs(est - n) / n < 0.35,
      s"KMV at K=32 must estimate a 40-ball within the ~3σ band (got $est)")
    assert(rows(Anf.Rounds.toLong) == rows(1L), "a clique's curve is flat after r=1")
  }

  test("partitioning invariance: the curve is a pure function of the edge set") {
    import spark.implicits._
    val pairs = (for { i <- 0 until 30; j <- Seq((i * 7 + 1) % 30, (i * 3 + 2) % 30) if i != j }
      yield (s"h$i", s"h$j")).toDF("a", "b")
    val one = Anf.anf(pairs.coalesce(1)).collect().map(_.toSeq).toSeq
    val many = Anf.anf(pairs.repartition(7)).collect().map(_.toSeq).toSeq
    assert(one == many)
  }

  test("contract query: planted chain stretches the curve; flat horizon; threshold consistent") {
    val rows = Anf.anfQuery(spark, "/root/testdata/sf0.001").collect()
      .sortBy(_.getLong(0))
    val n = rows.map(_.getLong(1))
    val eff = rows.head.getLong(4)
    (1 to 5).foreach(r => assert(n(r) > n(r - 1),
      s"the planted diameter-5 chain forces growth at r=$r"))
    assert(n(Anf.Rounds) == n(Anf.Rounds - 1), "fixpoint: flat over the final round")
    val perm = rows.map(_.getLong(3))
    assert(perm(eff.toInt) >= Anf.EffPermille)
    assert(eff == 0 || perm(eff.toInt - 1) < Anf.EffPermille)
  }
}
