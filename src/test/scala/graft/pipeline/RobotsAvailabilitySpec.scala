package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.politeness.Robots

/** Availability-policy gates: RFC 9309 §2.3.1 kernel boundaries, the
  * cache rule, a full digit replay of the contract query (policy arms
  * re-derived without the parser), scenario coverage, and the planted
  * rules scenario actually flowing through the real parser. */
class RobotsAvailabilitySpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"

  test("fetchPolicy: RFC arms and boundaries") {
    assert(Robots.fetchPolicy(200, 0) === "rules")
    assert(Robots.fetchPolicy(299, 0) === "rules")
    assert(Robots.fetchPolicy(404, 0) === "allow_all")
    assert(Robots.fetchPolicy(403, 0) === "allow_all")
    assert(Robots.fetchPolicy(499, 0) === "allow_all")
    assert(Robots.fetchPolicy(500, 0) === "disallow_all")
    assert(Robots.fetchPolicy(503, 29) === "disallow_all")
    assert(Robots.fetchPolicy(503, 30) === "disallow_all", "relaxation is MORE than 30 days")
    assert(Robots.fetchPolicy(503, 31) === "allow_all")
    assert(Robots.fetchPolicy(0, 0) === "disallow_all", "network failure = unreachable")
    assert(Robots.fetchPolicy(0, 45) === "allow_all")
    assert(Robots.fetchPolicy(302, 0) === "disallow_all",
      "an unresolved 3xx is not rules — callers must follow redirects first")
  }

  test("refetchDue: 24h cache, stale-while-unreachable") {
    assert(!Robots.refetchDue(23, "rules"))
    assert(Robots.refetchDue(24, "rules"))
    assert(Robots.refetchDue(47, "allow_all"))
    assert(!Robots.refetchDue(47, "disallow_all"),
      "while unreachable the stale copy may serve on")
  }

  test("digit replay + scenario coverage + parser-backed probes") {
    val got = RobotsAvailability.robotsAvailability(spark, dir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val host = r.getString(0)
      val (scenario, status, uDays, age) = RobotsAvailability.outcome(host)
      // independent re-derivation of the policy ladder (no parser)
      val policy =
        if (status >= 200 && status < 300) "rules"
        else if (status >= 400 && status < 500) "allow_all"
        else if (uDays > 30) "allow_all" else "disallow_all"
      assert(r.getInt(1) === scenario && r.getInt(2) === status &&
        r.getInt(3) === uDays && r.getInt(4) === age, host)
      assert(r.getString(5) === policy, s"policy $host")
      assert(r.getBoolean(6) === (age >= 24 && policy != "disallow_all"), s"refetch $host")
      val wantBlocked = policy match {
        case "allow_all"    => true
        case "disallow_all" => false
        case _              => scenario != 0 // planted Disallow /p blocks
      }
      assert(r.getBoolean(7) === wantBlocked, s"probe /p $host")
      assert(r.getBoolean(8) === (policy != "disallow_all"),
        s"carve-out /p/ok $host — the Allow hole survives the parser")
    }
    val scenarios = got.map(_.getInt(1)).toSet
    assert(scenarios === (0 to 5).toSet, s"all 6 scenarios occur, got $scenarios")
    assert(got.map(_.getString(5)).toSet ===
      Set("rules", "allow_all", "disallow_all"), "all three policy arms occur")
    assert(got.exists(_.getBoolean(6)) && got.exists(!_.getBoolean(6)),
      "cache expiry discriminates")
    // the rules scenario must demonstrate BOTH parser outcomes: /p blocked
    // AND its /p/ok carve-out allowed — i.e. the real matcher ran
    assert(got.exists(r => r.getInt(1) == 0 && !r.getBoolean(7) && r.getBoolean(8)),
      "scenario 0 shows Disallow binding with the Allow carve-out open")
  }

  test("plan: per-host map over one distinct — no joins, no windows") {
    val plan = RobotsAvailability.robotsAvailability(spark, dir)
      .queryExecution.executedPlan.toString.split("Initial Plan").head
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }
}
