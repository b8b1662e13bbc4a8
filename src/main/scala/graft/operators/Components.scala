package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the final step of
  * web-scale dedup (collapse verified near-dup pairs into keep-one
  * clusters).
  *
  * Shape: iterative min-label propagation PLUS pointer jumping
  * (`label ← label(label)`) each round, so convergence is O(log
  * diameter) rounds rather than O(diameter) — a million-node chain
  * converges in ~20 rounds instead of a million. Each round is two
  * joins + one aggregate on the (small) labels table; the driver-side
  * loop is bounded control flow, not data movement. Labels only
  * decrease, so fixpoint ⇔ sum(label) unchanged — one cheap scalar agg
  * per round on the cached result instead of a diff join. The rounds run
  * on [[Fixpoint.pinned]], which releases each superseded round as soon
  * as its successor materializes.
  */
object Components {

  /** @param pairs edge list with two long columns (left, right)
    * @return (id, component) — component = min node id of the cluster.
    *         The result is persisted (MEMORY_AND_DISK): it is the last
    *         round's fixpoint cache and recomputing it would replay every
    *         round through the RDD lineage. The CALLER owns that cache —
    *         `unpersist()` it when done (the [[graft.Graft]] facade
    *         returns a checkpointed copy and releases it instead). All
    *         intermediate caches are dropped on every exit path,
    *         including mid-loop failures and the non-convergence throw
    *         (`IllegalStateException` once `maxRounds` rounds ran; with
    *         pointer jumping that needs a diameter > 2^maxRounds). */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    val spark = pairs.sparkSession
    // each round references the previous result 3× (propagate + both
    // sides of the jump self-join): without cutting the lineage the
    // LOGICAL plan of round k holds ~3^k copies of round 0's tree (OOMs
    // the driver before round 10). `asLeaf` re-roots a round on a
    // LogicalRDD leaf (pinned and filled by the loop), so every round's
    // plan has constant depth — the iterative-DataFrame equivalent of
    // GraphX's checkpoint cadence.
    def asLeaf(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)
    val p = pairs.toDF("doc_a", "doc_b")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize BEFORE the multi-leg references below: the first round
    // action references edges twice (both union legs) and each edge leg
    // references p — unfilled, the legs race to build the caches, each
    // replaying the upstream pair pipeline (CacheDisciplineSpec / r8)
    p.count()
    // undirected: propagate both ways
    val edges = p.unionAll(
      p.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edges.count() // reads p's cache; round legs then read this one
    def labelSum(df: DataFrame): Long = // coalesce: sum over zero rows is null
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    try {
      // the label sum is the job that fills each round's cache; the
      // previous round's sum is held here, so no extra job runs
      var prevSum = 0L
      // round 0 folds the first propagation: label = min(id, neighbors)
      val init = Fixpoint.pin(asLeaf(
        edges.select(col("doc_a").as("id"), col("doc_b").as("label"))
          .unionAll(edges.select(col("doc_a").as("id"), col("doc_a").as("label")))
          .groupBy(col("id")).agg(min(col("label")).as("label"))))(
        l => prevSum = labelSum(l))
      val (labels, _) = Fixpoint.pinned(init, maxRounds, mustSettle = true) { prev =>
        val viaEdges = edges
          .join(prev, edges("doc_a") === prev("id"))
          .select(col("doc_b").as("id"), col("label"))
        val propagated = prev.select(col("id"), col("label")).unionAll(viaEdges)
          .groupBy(col("id")).agg(min(col("label")).as("label"))
        // pointer jump: label ← label(label); every label value is itself a
        // node id present in `propagated`, both sides keyed on unique ids →
        // the left join is 1:1 and coalesce keeps roots fixed
        asLeaf(propagated.as("x")
          .join(propagated.select(col("id").as("jid"), col("label").as("jlabel")).as("y"),
            col("x.label") === col("y.jid"), "left")
          .select(col("x.id"), coalesce(col("y.jlabel"), col("x.label")).as("label")))
      } { (_, next) =>
        val before = prevSum
        prevSum = labelSum(next)
        prevSum == before
      }
      labels.withColumnRenamed("label", "component")
    } finally {
      p.unpersist()
      edges.unpersist()
    }
  }
}
