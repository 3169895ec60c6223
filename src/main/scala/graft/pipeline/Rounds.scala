package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}

/** The one loop for round-based Spark iteration. Each round's output is
  * `localCheckpoint`ed, so the executed plan stays the same size in every
  * round; once round r has materialized, round r−1's blocks are released
  * instead of waiting for the ContextCleaner's periodic GC.
  *
  * A checkpoint every round is the contract, not a tunable: checkpointing
  * every second round made q_salsa 86% slower (OPTIMIZATION_r06) — the
  * deeper plans cost more planning and codegen than the saved jobs, and an
  * uncut frame read twice in a round is computed twice.
  *
  * `init` belongs to the caller and is never released, nor is the
  * returned round. A released checkpoint cannot recompute its blocks, so
  * nothing that outlives a round may lazily read it: loops whose result
  * plan reads every round stay hand-written. */
object Rounds {

  /** `n` rounds of `step(previous, r)`, r = 1..n; returns round n (`init`
    * when n ≤ 0). If a step throws, the rounds made so far are released
    * and the error is rethrown. */
  def iterate(init: DataFrame, n: Int)(step: (DataFrame, Int) => DataFrame): DataFrame =
    loop(init, n, step, (_, _) => false)._1

  /** [[iterate]] for fixpoint loops: stops after the first round r for
    * which `done(round r−1, round r)` holds, or after `maxRounds` rounds.
    * Returns the last round and whether `done` held. */
  def iterateUntil(init: DataFrame, maxRounds: Int)(step: (DataFrame, Int) => DataFrame)(
      done: (DataFrame, DataFrame) => Boolean): (DataFrame, Boolean) =
    loop(init, maxRounds, step, done)

  private def loop(init: DataFrame, maxRounds: Int, step: (DataFrame, Int) => DataFrame,
                   done: (DataFrame, DataFrame) => Boolean): (DataFrame, Boolean) = {
    var (prev, cur) = (init, init)
    var r = 0
    var stop = false
    try {
      while (!stop && r < maxRounds) {
        r += 1
        prev = cur
        cur = step(prev, r).localCheckpoint()
        stop = done(prev, cur)
        if (prev ne init) releaseBlocks(prev)
      }
      (cur, stop)
    } catch {
      case e: Throwable =>
        for (f <- Seq(prev, cur) if f ne init) releaseBlocks(f)
        throw e
    }
  }

  /** Release a materialized frame's executor blocks now. For a persisted
    * frame this is `Dataset.unpersist`; for a `localCheckpoint`ed frame
    * that call is a CacheManager no-op (the blocks belong to the
    * checkpointed RDD, not to a cached query), so the backing LogicalRDD's
    * RDD is unpersisted directly. Only safe once nothing reads the frame
    * again. Releasing twice is harmless. */
  def releaseBlocks(ds: Dataset[_]): Unit = {
    ds.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
    ds.unpersist()
  }
}
