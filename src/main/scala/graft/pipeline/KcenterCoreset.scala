package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Greedy k-center coreset selection (`q_kcenter_coreset`) — Gonzalez
  * TCS 1985 farthest-first traversal (2-approximation for the k-center
  * objective), the diversity-selection rule behind active-learning
  * coresets (Sener & Savarese ICLR 2018) and data-pruning prototypes: a
  * training-data pipeline that can only afford k exemplars per shard
  * wants them SPREAD, not sampled — each round adds the point farthest
  * from everything already chosen, and the selection radius at each
  * round is a certified cover bound (every corpus point is within
  * radius_i of the first i centers; OPT ≥ radius_k/2). SemDeDup
  * (`q_semdedup`) removes the redundant; this selects the
  * representative — the two halves of embedding-space curation.
  *
  * Exactness discipline: cosine distance is rounded ONCE to micro units
  * (d = 10^6 − cos_micro, the [[BitextMargin]] precedent), all radius
  * comparisons and argmax tie-breaks (distance DESC, vec_id ASC) are
  * exact integers; round 1 seeds at min vec_id with the 2·10^6 sentinel
  * radius (the diameter bound of cosine space).
  *
  * One row per selection round: `round`, `vec_id`, `radius_micro`
  * (the chosen point's distance to the prior centers — non-increasing,
  * the Gonzalez invariant), `final_radius_micro` (cover radius after
  * all k — the number a shard budget planner reads).
  *
  * Scale shape (100 TB): per-round state is one narrow (vec_id, mind)
  * column over the corpus, updated by a broadcast single-center
  * distance map and cut from lineage each round ([[Hits]] discipline);
  * the argmax is a bounded TakeOrdered(1), never a sort; k driver
  * actions of one row each. The contract k=16 over the embeddings
  * table; a fleet run raises k and swaps the exact scan for the ANN
  * distance map with the selection rule verbatim.
  */
object KcenterCoreset {

  val K = 16
  val InitRadiusMicro = 2000000L

  /** Selection ledger over any (vec_id, embedding) frame. */
  def kcenterCoreset(emb: DataFrame, k: Int = K): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"),
      sqrt(graft.functions.GraftExpressions.dot_double(
        col("embedding"), col("embedding"))).as("nrm"))
    val firstId = vecs.agg(min("vec_id")).head.getLong(0)

    def distToCenter(cVec: Seq[Float], cNrm: Double) = {
      val dot = graft.functions.GraftExpressions.dot_double(
        col("embedding"), typedlit(cVec))
      (lit(1000000L) -
        round(dot / (col("nrm") * lit(cNrm)) * 1000000).cast("long")).as("d")
    }

    var chosen = Vector((1, firstId, InitRadiusMicro))
    // the argmax row CARRIES the next center's vector (round-6: the
    // separate filter-by-id center-fetch job per round was a third of the
    // kernel's driver actions — same values, one bounded 1-row read fewer
    // per round)
    val c0 = vecs.filter(col("vec_id") === firstId)
      .select(col("embedding"), col("nrm")).head
    var centerVec: Seq[Float] = c0.getSeq[Float](0)
    var centerNrm: Double = c0.getDouble(1)
    // round r's center is the farthest vector of the state its update made
    def pickFarthest(state: DataFrame, r: Int): Unit = {
      val next = state.orderBy(desc("mind"), asc("vec_id"))
        .select(col("vec_id"), col("mind"), col("embedding"), col("nrm")).head
      chosen :+= ((r, next.getLong(0), next.getLong(1)))
      centerVec = next.getSeq[Float](2)
      centerNrm = next.getDouble(3)
    }
    // step i makes round i+1's state from round i's, picking round i's
    // center first (round 1's is the smallest id)
    val state = Rounds.iterate(vecs.withColumn("mind", lit(InitRadiusMicro)), k - 1) { (st, i) =>
      if (i > 1) pickFarthest(st, i)
      st.withColumn("mind", least(col("mind"), distToCenter(centerVec, centerNrm)))
    }
    if (k > 1) pickFarthest(state, k)
    // one more update with the last center closes the cover ledger
    val finalRadius = state
      .withColumn("mind", least(col("mind"), distToCenter(centerVec, centerNrm)))
      .agg(max("mind")).head.getLong(0)
    chosen.toDF("round", "vec_id", "radius_micro")
      .withColumn("round", col("round").cast("long"))
      .withColumn("final_radius_micro", lit(finalRadius))
      .orderBy("round")
  }

  /** Contract query `q_kcenter_coreset` over the embeddings table. */
  def kcenterCoresetQuery(spark: SparkSession, dir: String): DataFrame =
    kcenterCoreset(spark.read.parquet(s"$dir/embeddings.parquet"))

  /** DuckDB twin: the full greedy recurrence replayed as unrolled
    * MATERIALIZED CTEs over the exact pairwise distance matrix. */
  val kcenterCoresetSql: String = {
    val rounds = (2 to K).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT vec_id AS id, mind AS r FROM m${i - 1}
         |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
         |m$i AS MATERIALIZED (
         |  SELECT m.vec_id, least(m.mind, p.d) AS mind
         |  FROM m${i - 1} m JOIN p ON p.a_id = m.vec_id JOIN c$i c ON p.b_id = c.id)"""
        .stripMargin
    }.mkString(",\n")
    val sel = (2 to K).map(i =>
      s"SELECT $i AS round, id AS vec_id, r AS radius_micro FROM c$i")
      .mkString("\n  UNION ALL ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |         CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                               CAST(embedding AS DOUBLE[]))) AS nrm
       |  FROM embeddings),
       |p AS MATERIALIZED (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |         1000000 - CAST(round(list_dot_product(a.v, b.v)
       |                    / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS d
       |  FROM e a, e b),
       |c1 AS (SELECT min(vec_id) AS id FROM e),
       |m1 AS MATERIALIZED (
       |  SELECT p.a_id AS vec_id, p.d AS mind FROM p JOIN c1 ON p.b_id = c1.id),
       |$rounds,
       |mfin AS (SELECT CAST(max(mind) AS BIGINT) AS fr FROM m$K),
       |led AS (
       |  SELECT 1 AS round, id AS vec_id,
       |         CAST($InitRadiusMicro AS BIGINT) AS radius_micro FROM c1
       |  UNION ALL $sel)
       |SELECT CAST(round AS BIGINT) AS round, vec_id,
       |  CAST(radius_micro AS BIGINT) AS radius_micro,
       |  (SELECT fr FROM mfin) AS final_radius_micro
       |FROM led ORDER BY round""".stripMargin
  }
}
