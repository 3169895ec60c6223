package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.IsolatedSpark

/** The round loop: every round checkpointed, each superseded round
  * released as soon as its successor materialized, the caller's `init`
  * never. Persisted RDDs are counted as a delta against the registry taken
  * before each call. */
class RoundsSpec extends AnyFunSuite with IsolatedSpark {

  private def leakedBy(f: => Unit): Set[Int] = graft.LeakProbe.leakedBy(spark)(f)

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    case p => fail(s"not a checkpoint: $p")
  }

  private def init: DataFrame =
    spark.range(200).select((col("id") % 37).as("k"), col("id").as("v")).localCheckpoint()

  /** One keyed round: a shuffle, and a value that depends on the round. */
  private def step(x: DataFrame, r: Int): DataFrame =
    x.groupBy(((col("k") * 7 + r) % 37).as("k")).agg(sum(col("v") + r).as("v"))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  test("iterate equals the hand loop of step(x).localCheckpoint() for n = 0, 1, 5") {
    val start = init
    for (n <- Seq(0, 1, 5)) {
      var hand = start
      for (r <- 1 to n) hand = step(hand, r).localCheckpoint()
      val got = Rounds.iterate(start, n)(step)
      assert(rows(got) == rows(hand), s"n = $n")
      if (n == 0) assert(got eq start, "zero rounds return init itself")
    }
  }

  test("only the final round's checkpoint survives; init stays readable") {
    val start = init
    val expected = rows(start)
    var out: DataFrame = null
    val kept = leakedBy { out = Rounds.iterate(start, 5)(step) }
    assert(kept == Set(rddId(out)), s"rounds 1-4 must be released, kept: $kept")
    assert(rows(start) == expected, "init must never be released")
    assert(rows(out).nonEmpty)
  }

  test("a step that throws at round 3 rethrows and releases the rounds made so far") {
    val start = init
    var e: IllegalStateException = null
    val kept = leakedBy {
      e = intercept[IllegalStateException] {
        Rounds.iterate(start, 5) { (x, r) =>
          if (r == 3) throw new IllegalStateException("round 3 failed")
          step(x, r)
        }
      }
    }
    assert(e.getMessage == "round 3 failed")
    assert(kept.isEmpty, s"leaked rounds: $kept")
    assert(rows(start).nonEmpty, "init must never be released")
  }

  test("iterateUntil stops at the first round whose done test holds") {
    val start = spark.range(64).select(col("id").as("k"), col("id").as("v")).localCheckpoint()
    // halving the key space reaches the single key 0 after 6 rounds
    val halve = (x: DataFrame, _: Int) =>
      x.groupBy((col("k") / 2).cast("long").as("k")).agg(sum("v").as("v"))
    var rounds = 0
    var result: (DataFrame, Boolean) = null
    val kept = leakedBy {
      result = Rounds.iterateUntil(start, 20)((x, r) => { rounds = r; halve(x, r) }) {
        (prev, next) => prev.count() == next.count()
      }
    }
    val (out, done) = result
    assert(done && rounds == 7, s"fixpoint after round 7 (6 halvings + 1 confirming round): $rounds")
    assert(rows(out) == Seq((0L, (0L until 64L).sum)))
    assert(kept == Set(rddId(out)), s"kept: $kept")
    val (capped, converged) = Rounds.iterateUntil(start, 3)(halve)((p, n) => p.count() == n.count())
    assert(!converged && rows(capped).size == 8, "maxRounds caps the loop")
  }

  test("pageRankKernel keeps fewer persisted RDDs than it runs rounds") {
    import spark.implicits._
    val edges = (1 to 120).map(i => (s"u${i % 23}", s"u${(i * 7 + 3) % 23}"))
      .toDF("src", "dst")
    val kept = leakedBy(CrawlQueries.pageRankKernel(edges, "url").collect())
    // edges, nodes, the weighted edges and the final round; every earlier
    // round is released as its successor materializes
    assert(kept.size < CrawlQueries.PageRankIters,
      s"${kept.size} persisted RDDs added for ${CrawlQueries.PageRankIters} rounds")
  }

  test("opicKernel releases every wave's selection once the loop is done") {
    import spark.implicits._
    val edges = (1 to 120).map(i => (s"u${i % 23}", s"u${(i * 7 + 3) % 23}"))
      .toDF("src", "dst")
    val kept = leakedBy(Opic.opicKernel(edges).collect())
    // the edges, the out-degrees, init and the last wave: none of the
    // per-wave top-k selections
    assert(kept.size == 4, s"${kept.size} persisted RDDs added for ${Opic.Waves} waves")
  }
}
