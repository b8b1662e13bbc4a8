package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Label propagation: the distributed synchronous rounds must equal a
  * single-threaded replay of the same recurrence, and the community
  * structure must come out — two cliques joined by one bridge edge stay
  * SEPARATE communities (the signal Components cannot give: d7 merges
  * them into one). */
class LabelPropSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reference replay: lab_0(v) = v; lab_{t+1}(v) = the label most
    * frequent among v's neighbors' lab_t, min label on ties. */
  private def replay(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var lab = nbrs.keys.map(k => k -> k).toMap
    (1 to rounds).foreach { _ =>
      lab = nbrs.map { case (v, ns) =>
        val cnt = ns.groupBy(lab).view.mapValues(_.size)
        v -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  private def run(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val df = LabelProp.propagate(pairs.toDF("a", "b"), rounds)
    val out = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    df.unpersist()
    out
  }

  // two 4-cliques bridged by a single edge (4,5)
  private val cliques = Seq[(Long, Long)](
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L), (7L, 8L),
    (4L, 5L))

  test("matches the single-threaded replay; bridged cliques stay separate") {
    val got = run(cliques, 3)
    assert(got == replay(cliques, 3))
    // both cliques internally uniform…
    assert(Set(1L, 2L, 3L, 4L).map(got) == Set(1L))
    assert(Set(5L, 6L, 7L, 8L).map(got) == Set(5L))
    // …and distinct from each other, though d7 would merge them
    assert(got(1L) != got(5L))
  }

  test("replay equality on an irregular graph (star + path + ties)") {
    val pairs = Seq[(Long, Long)](
      (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), // star
      (10L, 11L), (11L, 12L), (12L, 13L),     // path
      (20L, 21L))                             // isolated pair
    (1 to 4).foreach { r =>
      assert(run(pairs, r) == replay(pairs, r), s"rounds=$r")
    }
  }
}
