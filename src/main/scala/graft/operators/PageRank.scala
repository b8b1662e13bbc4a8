package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic integer PageRank over an undirected edge list — graph
  * centrality next to [[Components]] in the dedup toolchain: components
  * collapse near-dup clusters, PageRank ranks WITHIN the similarity
  * graph (canonical-document selection by centrality, crawl-frontier
  * prioritization, seed scoring). Extension surface — the reference's
  * one query has no graph ops (`kompactor.ts:107`).
  *
  * Exact integer power iteration so the DuckDB oracle replays it
  * bit-for-bit with an unrolled CTE chain:
  *   r_0(v)    = SCALE                      (uniform mass, 1e9 units)
  *   r_{t+1}(v) = JUMP + (85 · Σ_{(u,v)∈E} (r_t(u) div deg(u))) div 100
  * Both divisions are on non-negative int64s, where Spark's truncating
  * `div` and DuckDB's flooring `//` agree. Σ over in-edges is an
  * order-independent int64 sum — no doubles anywhere. At 64-bit: the
  * per-node sum is bounded by the total mass n·SCALE, so 85·Σ fits
  * int64 up to n ≈ 10^8 nodes; beyond that, drop SCALE to 1e6 (the
  * recurrence is scale-covariant up to rounding).
  *
  * Shape at scale: a fixed small number of rounds, each one join of
  * ranks (n rows) onto the cached degree-annotated edge list plus one
  * map-side-combined aggregate on the destination — 2 shuffles per
  * round, linear in |E|. The rounds run on [[Fixpoint.pinned]]: each
  * round's plan references only the previous round's filled cache, so
  * logical-plan depth is O(1) per round at any `iters`.
  */
object PageRank {
  val Scale: Long = 1000000000L
  val Jump: Long = 150000000L // (1 − 0.85) · Scale

  /** @param pairs undirected edge list, two long columns (left, right);
    *              no self-loops, each undirected edge listed once
    * @param iters max power-iteration count (bounds plan depth and the
    *              unrolled oracle's CTE chain)
    * @return (id, rank, deg) for every node incident to an edge */
  def pageRank(pairs: DataFrame, iters: Int = 5): DataFrame =
    pageRankRuns(pairs, iters)._1

  /** [[pageRank]] plus the executed round count. Rounds run at most
    * `iters` times with an EXACT-FIXED-POINT early exit: after each
    * round, a bounded n-row check asks whether ANY node's integer rank
    * moved — `r_{t+1} = r_t` makes every later round identical (the
    * recurrence is a deterministic function of the previous vector), so
    * stopping early provably returns the same output as the full
    * unroll, and the static `iters`-round oracle stays exact however
    * many rounds actually executed. Converged graphs (stars, small
    * diameters, re-runs on already-ranked snapshots) stop paying for
    * |E|-row joins the moment the answer stops changing — on a 100 TB
    * edge list each skipped round is two full shuffles. */
  def pageRankRuns(pairs: DataFrame, iters: Int = 5): (DataFrame, Int) = {
    require(iters >= 1 && iters <= 20,
      s"pageRank iters must be in [1,20] (unrolled oracle / plan depth), got $iters")
    // pairs pinned FIRST: deg appears in the contribEdges build, the
    // rank init AND the output join, and edges feeds both deg legs of
    // the contribEdges join — unpinned, each of those references
    // replayed the upstream (LSH) pair generation through lineage (the
    // r16 p1 finding: FOUR pair-pipeline replays per run)
    val p = pairs.toDF("u", "v").persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    // symmetrize; every node then has in-edges, so no dangling-mass term
    val edges = p.unionAll(p.select(col("v").as("u"), col("u").as("v")))
    // deg pinned too (n rows): materialized as a by-product of the
    // contribEdges count below, reused by the rank init + output join
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (u, v, deg): the loop-invariant side, computed once and cached —
    // without the pin every round would replay the upstream (LSH) pair
    // generation through lineage
    val contribEdges = edges.join(deg, "u")
      .select(col("u"), col("v"), col("deg"))
      // pre-partitioned on the round-join key: the cache keeps its
      // HashPartitioning(u), so each round's join re-exchanges only the
      // n-row ranks side instead of re-shuffling the |E|-row edge cache
      .repartition(col("u"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // materialize BEFORE the loop: each round's plan references this
      // cache, and unfilled those references race to build it — each
      // replaying the upstream (LSH) pair generation (the s3-class
      // defect; CacheDisciplineSpec / r8). Reading through contribEdges
      // also fills deg's cache; p's cache is then no longer referenced.
      contribEdges.count()
      p.unpersist()
      val init = Fixpoint.pin(
        deg.select(col("u").as("id"), lit(Scale).as("rank")))(_.count())
      val (ranks, t) = Fixpoint.pinned(init, iters, mustSettle = false) { prev =>
        // the cached edge side carries exact in-memory stats, so Catalyst
        // broadcasts it when small; the hint only rules out sort-merge
        // (per-round sorts) when it IS too big to broadcast — hash
        // builds on the cached side are partition-bounded at any |E|
        contribEdges.hint("shuffle_hash")
          .join(prev, contribEdges("u") === prev("id"))
          .select(col("v"), expr("rank div deg").as("c"))
          .groupBy(col("v"))
          .agg(expr(s"$Jump + (85 * sum(c)) div 100").as("rank"))
          .select(col("v").as("id"), col("rank"))
      } { (prev, next) =>
        // the mover count fully evaluates `next` while joining the n-row
        // pinned rank vectors: exact fixed point ⇔ no integer rank moved
        next.as("n").join(prev.as("p"), col("n.id") === col("p.id"))
          .filter(col("n.rank") =!= col("p.rank"))
          .count() == 0L
      }
      // materialize while contribEdges is still pinned; the RESULT cache
      // is then self-contained and (like Components) CALLER-owned —
      // unpersist it when done
      try (Fixpoint.pin(ranks.join(deg, ranks("id") === deg("u"))
        .select(col("id"), col("rank"), col("deg")))(_.count()), t)
      finally ranks.unpersist()
    } finally {
      p.unpersist() // idempotent (released after contribEdges.count)
      deg.unpersist(); contribEdges.unpersist()
    }
  }

  /** Oracle twin: the unrolled CTE chain over `edges(u, v)` — append to
    * a WITH that already defines `edges`. Yields CTEs `deg, r0..r<iters>`;
    * the caller selects from `r<iters>`. */
  def sqlCtes(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""r$t AS (SELECT e.v AS id,
         |    CAST($Jump + (85 * SUM(r.rank // d.deg)) // 100 AS BIGINT) AS rank
         |  FROM edges e JOIN deg d ON d.u = e.u
         |  JOIN r${t - 1} r ON r.id = e.u GROUP BY e.v)""".stripMargin
    }
    (Seq(
      "deg AS (SELECT u, COUNT(1) AS deg FROM edges GROUP BY 1)",
      s"r0 AS (SELECT u AS id, CAST($Scale AS BIGINT) AS rank FROM deg)") ++
      rounds).mkString(",\n")
  }
}
