package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic synchronous label propagation over an undirected edge
  * list — community detection next to [[Components]] and [[PageRank]] in
  * the dedup graph toolchain. Components answers "which docs are
  * transitively connected at all"; label propagation (Raghavan et al.
  * 2007) finds the DENSE sub-communities inside a component — the
  * boundary between a genuine duplication cluster and the template hub
  * that merely links two of them (p2's triangle signal, upgraded from a
  * per-node score to an actual partition of the graph). Extension
  * surface — the reference's one query has no graph ops
  * (`kompactor.ts:107`).
  *
  * Classic LPA is asynchronous and randomized — unusable under a
  * cross-engine exactness gate. This is the deterministic synchronous
  * form: every node starts as its own label; each round, every node
  * simultaneously adopts the label most frequent among its neighbors,
  * ties broken by the SMALLEST label; a fixed round count (oracle CTE
  * depth must not be data-dependent). All counts and labels are exact
  * int64 — no randomness, no doubles, bit-identical replay.
  *
  * Shape at scale: the symmetrized edge list is computed once and
  * cached; each round is one hash join of the n-row label table onto it
  * plus one partial-aggregatable argmax (`max_by` over a (count, −label)
  * struct — a hash aggregate, NOT a per-node sort window), so 2
  * shuffles per round, linear in |E|. The rounds are one LAZY fold:
  * each round's plan references the previous round once, so plan depth
  * grows linearly in rounds, bounded by the 20-round cap.
  */
object LabelProp {

  /** @param pairs  undirected edge list, two long columns (left, right);
    *               no self-loops, each undirected edge listed once
    * @param rounds fixed synchronous rounds (deterministic plans)
    * @return (id, community) for every node incident to an edge
    *
    * Runs the LAZY round chain — one action evaluates all rounds with
    * no per-round barrier, which MEASURES faster at small fixed budgets
    * (the gate's 3 rounds: 2.8 s vs 5.1 s for a pinned per-round loop
    * with an exact-fixed-point exit at sf0.1 — per-round job+cache-write
    * overhead dominates when each round is sub-second). The two have
    * not been compared at 5 or more rounds; a pinned form would run on
    * [[Fixpoint.pinned]], as [[PageRank.pageRankRuns]] does. */
  def propagate(pairs: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"propagate rounds must be in [1,20] (unrolled oracle / plan depth), got $rounds")
    val edges = symmetrize(pairs).repartition(col("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize BEFORE the loop: the result count references this
    // cache once per round — unfilled, the round legs race to build it,
    // each replaying the upstream pair pipeline (CacheDisciplineSpec)
    edges.count()
    try {
      val out = loop(edges, rounds).persist(StorageLevel.MEMORY_AND_DISK)
      // materialize while the edge cache is pinned; the RESULT cache is
      // caller-owned (Components precedent) — unpersist when done
      try out.count()
      catch { case e: Throwable => out.unpersist(); throw e }
      out
    } finally edges.unpersist()
  }

  /** The same pipeline with no caching or materialization — for plan
    * inspection (PlanQualitySpec) where the persisted form would hide
    * the round joins behind an InMemoryTableScan. */
  private[graft] def unmaterialized(pairs: DataFrame, rounds: Int): DataFrame =
    loop(symmetrize(pairs), rounds)

  /** symmetrize: (u,v) means "v is a neighbor of u" */
  private def symmetrize(pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("u", "v")
    p.unionAll(p.select(col("v").as("u"), col("u").as("v")))
  }

  private def loop(edges: DataFrame, rounds: Int): DataFrame = {
    var labels = edges.select(col("u").as("id"))
      .distinct().withColumn("lab", col("id"))
    var t = 0
    while (t < rounds) {
      labels = round(edges, labels)
      t += 1
    }
    labels.select(col("id"), col("lab").as("community"))
  }

  /** One synchronous round: neighbor labels of u = labels of each v;
    * majority label with min-label tie-break = max_by over the
    * (n, −lab) struct — partial-aggregatable in both hash aggregates,
    * so the shuffle carries one candidate per (node, label), then one
    * per node. */
  private def round(edges: DataFrame, labels: DataFrame): DataFrame =
    edges.hint("shuffle_hash")
      .join(labels, edges("v") === labels("id"))
      .select(edges("u").as("nid"), col("lab"))
      .groupBy(col("nid"), col("lab")).agg(count(lit(1)).as("n"))
      .groupBy(col("nid"))
      .agg(max_by(col("lab"), struct(col("n"), negate(col("lab"))))
        .as("lab"))
      .select(col("nid").as("id"), col("lab"))

  /** Oracle twin: the unrolled CTE chain over `edges(u, v)` — append to
    * a WITH that already defines `edges`. Yields CTEs `l0..l<rounds>`;
    * the caller selects (id, lab) from `l<rounds>`. */
  def sqlCtes(rounds: Int): String = {
    val steps = (1 to rounds).map { t =>
      s"""c$t AS (SELECT e.u AS id, l.lab, COUNT(1) AS n
         |  FROM edges e JOIN l${t - 1} l ON l.id = e.v GROUP BY 1, 2),
         |l$t AS (SELECT id, lab FROM (
         |    SELECT id, lab, row_number() OVER (
         |      PARTITION BY id ORDER BY n DESC, lab ASC) AS rk FROM c$t)
         |  WHERE rk = 1)""".stripMargin
    }
    (Seq("l0 AS (SELECT DISTINCT u AS id, u AS lab FROM edges)") ++
      steps).mkString(",\n")
  }
}
