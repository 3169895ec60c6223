package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Semantic gates for the deterministic walk sampler: every consecutive
  * pair is a real edge, the hop choice equals a sequential replay of the
  * same md5 argmin draw, dead ends truncate (never teleport), forced
  * paths are followed exactly, and duplicate edge rows cannot bias a hop. */
class RandomWalksSpec extends AnyFunSuite with SharedSpark {

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  /** Sequential replay of the identical draw: argmin over out-neighbors of
    * 16-hex md5(walk|step|v) ∥ v. */
  private def replayHop(adj: Map[String, Seq[String]], walkId: String,
      step: Int, u: String): Option[String] =
    adj.get(u).filter(_.nonEmpty).map { vs =>
      vs.map(v => (md5hex(s"$walkId|$step|$v").take(16) + v, v)).minBy(_._1)._2
    }

  private def walkRows(edges: Seq[(String, String)]) = {
    import spark.implicits._
    RandomWalks.walksKernel(edges.toDF("src", "dst")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
  }

  test("walks follow real edges and equal the sequential argmin replay") {
    // diamond with a branch: a → {b, c}, b → {d, e}, c → d, d → a (cycle)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("b", "e"),
      ("c", "d"), ("d", "a"))
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val rows = walkRows(edges)
    val byWalk = rows.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    assert(byWalk.nonEmpty)
    byWalk.foreach { case (walkId, steps) =>
      assert(steps.head._2 == 0L && walkId.startsWith(steps.head._3 + "#"),
        "step 0 is the seed the walk_id names")
      steps.sliding(2).foreach {
        case Array((_, t1, u), (_, t2, v)) =>
          assert(t2 == t1 + 1, "steps are consecutive")
          assert(edges.contains((u, v)), s"($u,$v) must be a real edge")
          assert(replayHop(adj, walkId, t2.toInt, u).contains(v),
            "hop must equal the sequential md5 argmin replay")
        case _ =>
      }
    }
  }

  test("seed count, walks per seed, and full length on a sink-free graph") {
    val edges = Seq(("a", "b"), ("b", "a")) // 2-cycle: no walk ever stops
    val rows = walkRows(edges)
    val byWalk = rows.groupBy(_._1)
    assert(byWalk.size == 2 * RandomWalks.WalksPerSeed,
      "2 seeds × WalksPerSeed walks")
    byWalk.values.foreach(steps =>
      assert(steps.length == RandomWalks.Steps + 1,
        "sink-free graph ⇒ every walk runs the full length"))
    // forced path: each node has exactly one out-edge, so the walk must
    // alternate a,b,a,… regardless of the hash draw
    rows.groupBy(_._1).foreach { case (walkId, steps) =>
      val seed = walkId.takeWhile(_ != '#')
      steps.sortBy(_._2).zipWithIndex.foreach { case ((_, _, u), i) =>
        val exp = if (i % 2 == 0) seed else (if (seed == "a") "b" else "a")
        assert(u == exp, "single out-edge forces the path")
      }
    }
  }

  test("dead ends truncate the walk; duplicate edge rows do not bias the draw") {
    val chain = Seq(("a", "b"), ("b", "c")) // c is a sink
    val rows = walkRows(chain)
    rows.groupBy(_._1).foreach { case (walkId, steps) =>
      val seed = walkId.takeWhile(_ != '#')
      val expLen = if (seed == "a") 3 else 2 // a,b,c / b,c then stop
      assert(steps.length == expLen, s"walk from $seed truncates at the sink")
    }
    // duplicating one edge row must not change any walk (min is dup-blind)
    val dup = walkRows(chain ++ Seq(("a", "b"), ("a", "b")))
    assert(dup.sorted.sameElements(rows.sorted),
      "duplicate (src,dst) rows leave the walk corpus unchanged")
  }
}
