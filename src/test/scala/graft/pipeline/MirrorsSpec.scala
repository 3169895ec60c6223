package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.urls.UrlKernel

/** Mirror-host detection: the planted full mirror binds at containment
  * 1000‰, the planted partial mirror binds with its exact Jaccard, organic
  * host pairs never pair, the Spark result replays driver-side, and the
  * per-digest cap provably bounds a viral-page explosion. */
class MirrorsSpec extends AnyFunSuite with SharedSpark {

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  test("planted mirrors found with exact overlap; organic hosts never pair") {
    val rows = Mirrors.mirrorHosts(spark, "unused").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getBoolean(7)))
    // exactly the two planted pairs — no organic pair shares >= 2 digests
    assert(rows.length == 2, s"exactly the planted pairs: ${rows.mkString("; ")}")
    val full = rows.find(r => r._1.contains("mirror0") || r._2.contains("mirror0")).get
    assert(Set(full._1, full._2) == Set("www.site0.com", "www.mirror0.com"))
    assert(full._3 == 14 && full._4 == 14 && full._5 == 14, "full mirror: all pages shared")
    assert(full._6 == 1000 && full._7 == 1000 && full._8, "containment & jaccard 1000‰")
    val part = rows.find(r => r._1.contains("partial1") || r._2.contains("partial1")).get
    assert(Set(part._1, part._2) == Set("site1.com", "partial1.com"))
    assert(part._3 == 7 && part._6 == 1000, "partial mirror fully contained")
    assert(part._7 == 500, "jaccard 7/(14+7-7) = 500‰")
    assert(part._8, "containment rule binds for partial mirrors")
  }

  test("driver-side replay: pair counts and permilles match the Spark dataflow") {
    val pages = Mirrors.corpus(spark).collect()
    val idx = pages.map(p =>
      (UrlKernel.extractDomain(p.url).getOrElse(""), md5Hex(p.html))).distinct
    val byDigest = idx.groupBy(_._2).values.map(_.map(_._1).sorted)
    val pairCounts = byDigest.toSeq
      .flatMap(hs => for (i <- hs.indices; j <- i + 1 until hs.length) yield (hs(i), hs(j)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 2)
    val sizes = idx.groupBy(_._1).map { case (h, v) => h -> v.length.toLong }
    val expect = pairCounts.map { case ((a, b), s) =>
      val (na, nb) = (sizes(a), sizes(b))
      (a, b, s, na, nb, s * 1000 / math.min(na, nb), s * 1000 / (na + nb - s),
        s * 1000 / math.min(na, nb) >= Mirrors.MirrorPermille && s >= Mirrors.MinShared)
    }.toSet
    val got = Mirrors.mirrorHosts(spark, "unused").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getBoolean(7))).toSet
    assert(got == expect, "Spark pairs equal the independent driver replay")
  }

  test("per-digest cap bounds pair generation deterministically; cap events counted") {
    import spark.implicits._
    // TWO viral digests on the same 100 hosts (so capped pairs reach
    // shared >= 2 and survive into the output) + a normal 2-host pair
    val rows = (0 until 100).flatMap(i => Seq(
        (f"https://h$i%03d.com/x", "VIRAL".getBytes(UTF_8)),
        (f"https://h$i%03d.com/w", "VIRAL2".getBytes(UTF_8)))) ++
      Seq(("https://a.com/y", "OK".getBytes(UTF_8)), ("https://b.com/y", "OK".getBytes(UTF_8)),
        ("https://a.com/z", "OK2".getBytes(UTF_8)), ("https://b.com/z", "OK2".getBytes(UTF_8)))
    val acc = spark.sparkContext.longAccumulator("capped")
    val df = rows.toDF("url", "html")
    val out = Mirrors.hostOverlap(spark, df, Some(acc)).collect()
    val maxPairs = Mirrors.MaxHostsPerDigest.toLong * (Mirrors.MaxHostsPerDigest - 1) / 2
    val viral = out.filter(r => r.getString(0).startsWith("h"))
    assert(viral.nonEmpty, "capped pairs survive the shared >= 2 filter")
    assert(viral.length <= maxPairs, s"pair generation bounded: ${viral.length} pairs")
    // deterministic SELECTION: the smallest 64 hosts survive the cap, so
    // every surviving pair involves only h000..h063 and each digest
    // contributes its full C(64,2) evidence
    val surviving = viral.flatMap(r => Seq(r.getString(0), r.getString(1))).toSet
    assert(surviving == (0 until Mirrors.MaxHostsPerDigest).map(i => f"h$i%03d.com").toSet,
      "cap keeps the lexicographically smallest hosts, not arrival order")
    assert(viral.forall(_.getLong(2) == 2), "both viral digests count for kept pairs")
    assert(acc.value >= 2, "cap events counted per digest")
    // the normal pair is unaffected by the viral cap
    val ab = out.find(r => Set(r.getString(0), r.getString(1)) == Set("a.com", "b.com"))
    assert(ab.exists(_.getLong(2) == 2), "a.com/b.com share both digests")
  }

  test("plan: keys-only shuffles, broadcast size joins, no nested loop or cartesian") {
    val q = Mirrors.mirrorHosts(spark, "unused")
    val plan = q.queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(plan.contains("BroadcastHashJoin"), "host-size table broadcasts")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "pairing never plans a product join")
  }
}
