package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Priority aging (`q_priority_aging`) — the starvation control every
  * priority frontier needs once demand exceeds politeness-bounded
  * capacity: under a static priority order, a sustained stream of
  * high-priority arrivals silences the low bands FOREVER (the classic
  * starvation failure; Heritrix/Nutch generators age scores for exactly
  * this reason). The aged policy lifts an item one band per [[AgeEvery]]
  * waves waited — bounded-wait fairness: any item reaches band 0 after
  * band × AgeEvery waves and then drains FIFO.
  *
  * The operator runs BOTH policies over the same deterministic arrival
  * process (2 urls per band per wave, capacity [[Capacity]] < arrival
  * rate, so the backlog is structurally oversubscribed) and reports per
  * url: band, arrival, scheduled wave under aging, scheduled wave under
  * static priority (−1 = never scheduled within the horizon — the
  * starvation signature the spec pins on the whole bottom band).
  *
  * Scale shape (100 TB): per wave ONE bounded TakeOrdered (the [[Opic]]
  * selection discipline — per-partition heaps + a capacity-row driver
  * merge, never a global sort), one keyed anti-join against the
  * scheduled set, per-wave lineage cuts for constant plan size. Aging
  * itself is a pure column expression — the whole policy costs one
  * `greatest` per candidate row. */
object PriorityAging {

  val Bands = 5
  val ArrivePerBand = 2
  val Waves = 16
  // arrivals run through the WHOLE horizon: bands 0-3 alone saturate the
  // capacity every wave, so static starvation has nowhere to drain
  val ArrivalWaves = Waves
  val Capacity = 8 // < Bands × ArrivePerBand: structurally oversubscribed
  val AgeEvery = 2

  /** Deterministic arrival universe: arrival = id div 10, band = id mod 5
    * (2 per band per wave, every wave of the horizon). */
  private def universe(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.range(ArrivalWaves * Bands * ArrivePerBand)
      .select(col("id"),
        (col("id") / (Bands * ArrivePerBand)).cast("int").as("arrival"),
        (col("id") % Bands).cast("int").as("band"))
  }

  /** Run one policy: returns (id, sched) with −1 for never-scheduled. */
  private def run(spark: SparkSession, aged: Boolean): DataFrame = {
    val all = universe(spark).localCheckpoint()
    val none = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("sched", "int"))
    Rounds.iterate(none, Waves) { (sched, r) =>
      val w = r - 1
      val pending = all.filter(col("arrival") <= w)
        .join(sched, Seq("id"), "left_anti")
      // integer floor of waited/AgeEvery BEFORE the subtraction (matches
      // the twin's `//`); waited ≥ 0 so int-cast truncation IS the floor
      val boost = ((lit(w) - col("arrival")) / lit(AgeEvery)).cast("int")
      val eff =
        if (aged) greatest(lit(0), col("band") - boost)
        else col("band")
      val picked = pending
        .withColumn("eff", eff.cast("int"))
        .orderBy(col("eff"), col("arrival"), col("id"))
        .limit(Capacity)
        .select(col("id"), lit(w).as("sched"))
      sched.union(picked)
    }
  }

  /** Contract query `q_priority_aging`. */
  def priorityAging(spark: SparkSession, dir: String): DataFrame = {
    val agedRun = run(spark, aged = true).withColumnRenamed("sched", "sched_aged")
    val staticRun = run(spark, aged = false).withColumnRenamed("sched", "sched_static")
    universe(spark)
      .join(agedRun, Seq("id"), "left")
      .join(staticRun, Seq("id"), "left")
      .select(col("id"), col("band"), col("arrival"),
        coalesce(col("sched_aged"), lit(-1)).as("sched_aged"),
        coalesce(col("sched_static"), lit(-1)).as("sched_static"))
      .orderBy("id")
  }

  /** DuckDB twin: both policies re-executed as unrolled chained CTEs
    * (the [[Opic]]/[[TrustRank]] discipline) — per wave a (eff, arrival,
    * id) row_number pick of [[Capacity]] rows from the not-yet-scheduled
    * arrivals. Each round CTE is MATERIALIZED: every round references its
    * predecessor twice (the carry-forward UNION branch and the NOT IN
    * pending filter), so inlining would expand the plan 2^Waves-fold and
    * OOM the optimizer; materialization keeps it linear. */
  val priorityAgingSql: String = {
    def rounds(mode: String, eff: String) = (0 until Waves).map { w =>
      val prev = if (w == 0) s"${mode}_empty" else s"$mode${w - 1}"
      s"""$mode$w AS MATERIALIZED (
         |  SELECT id, sched FROM $prev
         |  UNION ALL
         |  SELECT id, $w AS sched FROM (
         |    SELECT u.id, row_number() OVER (ORDER BY ${eff.replace("@W", w.toString)}, u.arrival, u.id) AS rn
         |    FROM u WHERE u.arrival <= $w
         |      AND u.id NOT IN (SELECT id FROM $prev))
         |  WHERE rn <= $Capacity)""".stripMargin
    }.mkString(",\n")
    val agedEff = s"greatest(0, u.band - (@W - u.arrival) // $AgeEvery)"
    s"""WITH u AS (
       |  SELECT CAST(i AS BIGINT) AS id, CAST(i // ${Bands * ArrivePerBand} AS INTEGER) AS arrival,
       |         CAST(i % $Bands AS INTEGER) AS band
       |  FROM range(0, ${ArrivalWaves * Bands * ArrivePerBand}) r(i)),
       |a_empty AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS INTEGER) AS sched WHERE 1 = 0),
       |s_empty AS (SELECT CAST(NULL AS BIGINT) AS id, CAST(NULL AS INTEGER) AS sched WHERE 1 = 0),
       |${rounds("a", agedEff)},
       |${rounds("s", "u.band")}
       |SELECT u.id, u.band, u.arrival,
       |  CAST(coalesce(a.sched, -1) AS INTEGER) AS sched_aged,
       |  CAST(coalesce(s.sched, -1) AS INTEGER) AS sched_static
       |FROM u
       |LEFT JOIN a${Waves - 1} a ON u.id = a.id
       |LEFT JOIN s${Waves - 1} s ON u.id = s.id
       |ORDER BY u.id""".stripMargin
  }
}
