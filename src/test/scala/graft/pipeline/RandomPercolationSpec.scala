package graft.pipeline

import org.apache.commons.codec.digest.DigestUtils
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for Bernoulli site percolation: exact removal replay on
  * a clique (survivors stay complete), an independent union-find replay on
  * the dumbbell, and the error-vs-attack contrast. */
class RandomPercolationSpec extends AnyFunSuite with SharedSpark {

  /** Test-local replica of the engine's removal rule. */
  private def removed(host: String, p: Int): Boolean =
    java.lang.Long.parseLong(DigestUtils.md5Hex(host).substring(0, 11), 16) <
      RandomPercolation.threshold(p)

  /** Tiny union-find for the independent giant recompute. */
  private def giantOf(edges: Seq[(String, String)]): Int = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    if (parent.isEmpty) 0
    else parent.keys.groupBy(find).values.map(_.size).max
  }

  test("clique-12: survivors of every level still form one complete component") {
    import spark.implicits._
    val members = (0 until 12).map(i => s"rp-clique$i.example")
    val pairs = for { i <- 0 until 12; j <- i + 1 until 12 }
      yield (members(i), members(j))
    val rows = RandomPercolation.randomPercolation(pairs.toDF("a", "b")).collect()
      .map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    RandomPercolation.Levels.foreach { p =>
      val gone = members.count(removed(_, p))
      val expGiant = if (gone == 12) 0L else (12 - gone).toLong
      assert(rows(p) == ((gone.toLong, (12 - gone).toLong, expGiant,
        expGiant * 1000 / 12)), s"level $p")
    }
    assert(rows(0)._3 == 12L, "p=0 is the intact clique")
  }

  test("dumbbell: engine matches an independent union-find replay per level") {
    import spark.implicits._
    val pairs = Percolation.DumbbellPairs
    val rows = RandomPercolation.randomPercolation(pairs.toDF("a", "b")).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(3)).toMap
    RandomPercolation.Levels.foreach { p =>
      val kept = pairs.filter { case (a, b) => !removed(a, p) && !removed(b, p) }
      assert(rows(p) == giantOf(kept).toLong, s"level $p giant")
    }
  }

  test("contract query: nested removal, monotone giant, stable node ledger") {
    val rows = RandomPercolation.randomPercolationQuery(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == RandomPercolation.Levels.map(_.toLong))
    val n0 = rows.head.getLong(1) + rows.head.getLong(2)
    rows.foreach(r => assert(r.getLong(1) + r.getLong(2) == n0))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) >= a.getLong(1), "removal nested across levels")
      assert(b.getLong(3) <= a.getLong(3), "giant non-increasing")
    }
    assert(rows.head.getLong(1) == 0 && rows.head.getLong(4) > 0)
  }
}
