package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Bench.planGate`: the tolerance edges, the query intersection, and a
  * baseline that cannot be compared. */
class PlanGateSpec extends AnyFunSuite {
  private val MiB = 1L << 20
  private def baseline(json: String) = new ObjectMapper().readTree(json)
  private val base = baseline(
    s"""{"plan_metrics":{
       |"big":{"tasks":100,"shuffle_read":${100 * MiB},"shuffle_write":${100 * MiB}},
       |"small":{"tasks":10,"shuffle_read":$MiB,"shuffle_write":$MiB}}}""".stripMargin)
  private def flagged(cur: (String, (Long, Long, Long))*): Seq[String] =
    Bench.planGate(base, cur).toOption.get._2

  test("moves exactly at the tolerances pass; one unit past them are flagged") {
    // big: ±20 % of 100 tasks, ±25 % of 100 MiB; small: the ±8 task and
    // 4 MiB floors
    val bigAt = 100 * MiB + 25 * MiB
    val smallAt = MiB + 4 * MiB
    assert(flagged("big" -> ((120L, bigAt, 100 * MiB - 25 * MiB)),
      "small" -> ((18L, smallAt, 0L))).isEmpty)
    assert(flagged("big" -> ((80L, 100 * MiB, bigAt)),
      "small" -> ((2L, MiB, smallAt))).isEmpty)
    assert(flagged("big" -> ((121L, bigAt + 1, 100 * MiB)),
      "small" -> ((10L, MiB, smallAt + 1))) == Seq(
      "big: tasks 100 -> 121", s"big: shuffle_read ${100 * MiB} -> ${bigAt + 1}",
      s"small: shuffle_write $MiB -> ${smallAt + 1}"))
    assert(flagged("big" -> ((79L, 100 * MiB, 100 * MiB - 25 * MiB - 1)),
      "small" -> ((19L, MiB, MiB))) == Seq(
      "big: tasks 100 -> 79",
      s"big: shuffle_write ${100 * MiB} -> ${100 * MiB - 25 * MiB - 1}",
      "small: tasks 10 -> 19"))
  }

  test("queries missing on either side are skipped") {
    // "small" is not in this run and "fresh" is not in the baseline
    val r = Bench.planGate(base, Seq("big" -> ((100L, 100 * MiB, 100 * MiB)),
      "fresh" -> ((5000L, 1L << 40, 1L << 40))))
    assert(r == Right((1, Nil)))
  }

  test("a baseline without plan_metrics is reported, not passed") {
    val r = Bench.planGate(baseline("""{"metric":"total","value":1.0}"""),
      Seq("big" -> ((100L, 100 * MiB, 100 * MiB))))
    assert(r.swap.exists(_.contains("plan_metrics")), r)
  }
}
