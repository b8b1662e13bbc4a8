package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `Fixpoint.pinned` releases rounds on every exit path: only the
  * returned round may stay in the session cache, and after a throw
  * nothing may. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cacheIsEmpty = spark.sharedState.cacheManager.isEmpty

  /** x ↦ min(x + 1, 5) over 0..9: settles once every value reached 5 */
  private def init: DataFrame =
    Fixpoint.pin((0L until 10L).toDF("x"))(_.count())
  private def step(prev: DataFrame): DataFrame =
    prev.select(least(col("x") + 1, lit(5L)).as("x"))
  private def sameSum(prev: DataFrame, next: DataFrame): Boolean =
    next.agg(sum("x")).head().getLong(0) == prev.agg(sum("x")).head().getLong(0)

  test("a settled run leaves only the returned round cached") {
    spark.catalog.clearCache()
    val (out, rounds) = Fixpoint.pinned(init, 20, mustSettle = true)(step)(sameSum)
    assert(rounds == 6, "values reach 5 after 5 rounds; round 6 confirms")
    assert(out.as[Long].collect().forall(_ == 5L))
    assert(out.storageLevel != StorageLevel.NONE, "the returned round is not cached")
    out.unpersist()
    assert(cacheIsEmpty, "a superseded round stayed cached")
  }

  test("a throwing step or settled releases every round") {
    spark.catalog.clearCache()
    var calls = 0
    val boom = intercept[IllegalArgumentException] {
      Fixpoint.pinned(init, 20, mustSettle = false) { prev =>
        calls += 1
        require(calls < 2, "step fails in round 2")
        step(prev)
      }(sameSum)
    }
    assert(boom.getMessage.contains("round 2"))
    assert(cacheIsEmpty, "a round stayed cached after a throwing step")
    intercept[IllegalArgumentException] {
      Fixpoint.pinned(init, 20, mustSettle = true)(step) { (_, next) =>
        next.count()
        require(false, "settled fails after filling the round"); true
      }
    }
    assert(cacheIsEmpty, "a round stayed cached after a throwing settled")
  }

  test("connected components past the round budget throw and release everything") {
    spark.catalog.clearCache()
    // the 300-node chain needs ~log2(300) pointer-jumping rounds
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](
      Components.connectedComponents(chain, maxRounds = 2))
    assert(e.getMessage.contains("2 rounds"))
    assert(cacheIsEmpty, "the non-convergence throw left pins cached")
  }
}
