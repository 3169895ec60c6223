package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Salted-sharding skew audit (`q_salt_skew`) — the north rule names the
  * defense ("explicit salted repartitioning to defuse per-host skew");
  * this operator measures exactly what the salt buys BEFORE the fleet
  * pays for it. Hash-sharding a frontier by host sends every URL of a
  * mega-host to one shard: with Zipfian host masses ([[SkewAudit]]'s
  * Gini says how bad) the hottest shard carries the giant host ENTIRE —
  * the straggler that caps pages/sec no matter how many executors join
  * (the scaling-efficiency killer the north rule's N→4N criterion
  * detects). The standard fix salts only the heavy keys: a host whose
  * mass exceeds the mean shard load splits into k = min(S, ⌈mass·S /
  * total⌉) salt buckets, each hashed independently. Both layouts are
  * simulated here over the real host masses and summarized as max-load
  * imbalance — the number that decides whether the crawl reshards.
  *
  * One row per strategy (`plain`, `salted`): `shards` = [[Shards]],
  * `n_keys` (shard keys carried), `n_salted` (hosts that split),
  * `total` (mass ledger — conserved by construction, the oracle checks
  * it), `max_load`, `imbalance_permille` = 1000·max_load·S div total
  * (1000 = perfectly level). All exact integers; salt-bucket masses are
  * d div k with the remainder spread one unit at a time, so conservation
  * is exact, not approximate.
  *
  * Scale shape (100 TB): host masses are one keyed aggregation; the
  * salted layout is a per-row k computation + bounded explode (≤ S rows
  * per host); per-strategy loads are one keyed sum each and the summary
  * is a 1-row aggregate joined to a broadcast total. No windows, no
  * driver state.
  */
object SaltSkew {

  /** Simulated shard count (matches the bench parallelism). */
  val Shards = 32

  /** Skew audit over any (v, d) host-mass frame. */
  def saltSkew(masses: DataFrame, shards: Int = Shards): DataFrame = {
    val spark = masses.sparkSession
    val total = masses.agg(sum("d").cast("long").as("t"))
    val withT = masses.crossJoin(broadcast(total))

    val plain = withT.select(
      pmod(Cardinality.urlHashCol(col("v")), lit(shards.toLong)).as("shard"),
      col("d").cast("long").as("m"), lit(0L).as("salted"))

    val salted = withT
      .withColumn("k",
        when(col("d") * shards > col("t"),
          least(lit(shards.toLong), expr(s"(d * $shards + t - 1) div t")))
          .otherwise(1L))
      .withColumn("i", explode(expr("sequence(0, cast(k - 1 as int))")))
      .select(
        // unsalted hosts keep their PLAIN placement — only heavy keys move
        pmod(when(col("k") === 1, Cardinality.urlHashCol(col("v")))
          .otherwise(Cardinality.urlHashCol(concat(col("v"), lit("#"), col("i")))),
          lit(shards.toLong)).as("shard"),
        (expr("d div k") + when(col("i") < col("d") % col("k"), 1L).otherwise(0L)).as("m"),
        when(col("k") > 1 && col("i") === 0, 1L).otherwise(0L).as("salted"))

    def summary(df: DataFrame, name: String): DataFrame =
      df.groupBy("shard").agg(sum("m").as("load"), sum("salted").as("ns"),
          count(lit(1)).as("nk"))
        .agg(sum("nk").as("n_keys"), sum("ns").as("n_salted"),
          sum("load").as("total"), max("load").as("max_load"))
        .select(lit(name).as("strategy"), lit(shards.toLong).as("shards"),
          col("n_keys"), col("n_salted"), col("total"), col("max_load"),
          expr(s"1000 * max_load * $shards div total").as("imbalance_permille"))

    summary(plain, "plain").unionByName(summary(salted, "salted"))
      .orderBy("strategy")
  }

  /** Contract query `q_salt_skew` over the corpus per-host URL masses
    * (the [[SkewAudit]] universe, so Gini and imbalance read together). */
  def saltSkewQuery(spark: SparkSession, dir: String): DataFrame =
    saltSkew(SkewAudit.hostMasses(CrawlQueries.linkEdgesRaw(spark, dir)))

  /** DuckDB twin: same masses, same hashes, same salt rule — full replay. */
  def saltSkewSql(edgesSelect: String): String = {
    val s = Shards
    def h(c: String): String = s"CAST(('0x' || substr(md5($c), 1, 11)) AS BIGINT)"
    s"""WITH e0 AS ($edgesSelect),
       |urls AS (
       |  SELECT src AS url FROM e0
       |  UNION
       |  SELECT dst FROM e0 WHERE dst LIKE 'http%'),
       |hm AS (
       |  SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS v,
       |         CAST(count(*) AS BIGINT) AS d
       |  FROM urls WHERE regexp_extract(url, '^https?://([^/]+)', 1) <> ''
       |  GROUP BY 1),
       |tot AS (SELECT CAST(sum(d) AS BIGINT) AS t FROM hm),
       |plain AS (
       |  SELECT ${h("v")} % $s AS shard, d AS m, 0 AS salted FROM hm),
       |withk AS (
       |  SELECT v, d,
       |    CASE WHEN d * $s > t THEN least($s, (d * $s + t - 1) // t)
       |         ELSE 1 END AS k
       |  FROM hm CROSS JOIN tot),
       |salted AS (
       |  SELECT CASE WHEN k = 1 THEN ${h("v")}
       |              ELSE ${h("v || '#' || CAST(i AS VARCHAR)")} END % $s AS shard,
       |    d // k + CASE WHEN i < d % k THEN 1 ELSE 0 END AS m,
       |    CASE WHEN k > 1 AND i = 0 THEN 1 ELSE 0 END AS salted
       |  FROM withk, unnest(range(0, k)) AS u(i)),
       |sp AS (
       |  SELECT shard, CAST(sum(m) AS BIGINT) AS load,
       |         CAST(sum(salted) AS BIGINT) AS ns, CAST(count(*) AS BIGINT) AS nk
       |  FROM plain GROUP BY shard),
       |ss AS (
       |  SELECT shard, CAST(sum(m) AS BIGINT) AS load,
       |         CAST(sum(salted) AS BIGINT) AS ns, CAST(count(*) AS BIGINT) AS nk
       |  FROM salted GROUP BY shard),
       |sump AS (
       |  SELECT 'plain' AS strategy, CAST($s AS BIGINT) AS shards,
       |    CAST(sum(nk) AS BIGINT) AS n_keys, CAST(sum(ns) AS BIGINT) AS n_salted,
       |    CAST(sum(load) AS BIGINT) AS total, CAST(max(load) AS BIGINT) AS max_load
       |  FROM sp),
       |sums AS (
       |  SELECT 'salted' AS strategy, CAST($s AS BIGINT) AS shards,
       |    CAST(sum(nk) AS BIGINT) AS n_keys, CAST(sum(ns) AS BIGINT) AS n_salted,
       |    CAST(sum(load) AS BIGINT) AS total, CAST(max(load) AS BIGINT) AS max_load
       |  FROM ss)
       |SELECT strategy, shards, n_keys, n_salted, total, max_load,
       |  CAST(1000 * max_load * $s // total AS BIGINT) AS imbalance_permille
       |FROM (SELECT * FROM sump UNION ALL SELECT * FROM sums)
       |ORDER BY strategy""".stripMargin
  }
}
