package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed rank family over arbitrarily large ordered groups.
  *
  * Spark's window functions require every partition of the window to fit
  * one task: `Window.partitionBy(k).orderBy(o)` with a low-cardinality
  * `k` (or none) moves whole groups — at the limit the whole table —
  * through ONE sorter ("WindowExec: No Partition Defined ... single
  * partition"). On a 1000-executor cluster that single task is the job.
  * The reference's merge query has the same shape (global ORDER BY time,
  * kompactor.ts:107), solved inline for `a_scan_sort_merge` with
  * fixed one-hour time shards; this operator is the general form: the
  * shards come from quantiles of a caller-named numeric shard key, so
  * any orderable axis works and skewed axes still split evenly.
  *
  * Exact rank in one data shuffle, every stage parallel:
  *   1. one small job computes ~numShards quantile boundaries of
  *      `shardKey`; they are embedded as LITERALS, so the shard id is a
  *      pure function of row values — deterministic across jobs, stages,
  *      and retries (this is why it is not `spark_partition_id` after a
  *      range exchange: separate consumers of an exchange can resample
  *      different boundaries, and a partition index is not a value);
  *   2. per-(shard, group) row counts → prefix-sum offsets via a window
  *      over that TINY table (shards × groups rows, broadcastable);
  *   3. local row_number inside each (shard, group) — bounded by the
  *      shard size — plus the broadcast offset.
  *
  * Requirements, checked by the caller's choice of columns:
  *  - `shardKey` is numeric, non-null, and NON-DECREASING along
  *    `orderCols` within every group (ordering by `x.desc` → pass
  *    `negate(x)`); rows equal on `shardKey` always share a shard, so
  *    boundary placement cannot split an order tie;
  *  - `orderCols` is a total order within each group (append a unique
  *    tiebreaker) — the same requirement every oracle-gated query
  *    already imposes for cross-engine determinism.
  */
object DistributedRank {

  /** Below this input size the shard machinery costs more than it saves:
    * a plain window moves at most one group per sorter task, and a few
    * million narrow rows through one in-memory sort is sub-second-class,
    * while the sharded plan pays a quantile job, an extra shuffle
    * column, and two broadcast joins (~0.8 s constant measured at
    * sf0.1). Callers pass `rowBound` where they know an exact or upper
    * row count (the sizedHint discipline: exact bounds, never optimizer
    * guesses, for CORRECTNESS-adjacent choices); here the choice is
    * cost-ONLY — both paths produce identical values — so when no bound
    * is given a conservative optimizer byte estimate is acceptable. The
    * byte gate is 16 MB: even a 10× under-estimate only puts ~160 MB
    * through per-group sorters, survivable everywhere, and real
    * large-table estimates (file-size based) sit orders of magnitude
    * above it. */
  private[graft] val SmallWindowRows = 4L << 20
  private[graft] val SmallWindowBytes = 16L << 20

  private def smallInput(df: DataFrame, rowBound: Long): Boolean =
    if (rowBound > 0) rowBound <= SmallWindowRows
    else df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(SmallWindowBytes)

  /** Exact `row_number() OVER (PARTITION BY groupCols ORDER BY
    * orderCols)` as `rnName`, with no single-partition stage above the
    * small-input bound. Output carries the input columns plus `rnName`.
    * `rowBound`: caller-known row count/upper bound (-1 = unknown) —
    * below [[SmallWindowRows]] the plain window plan is emitted (values
    * identical; the shard machinery is pure overhead at that size). */
  def withRowNumber(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column], shardKey: Column, rnName: String = "rn",
      numShards: Int = -1, rowBound: Long = -1L): DataFrame =
    // TINY-TABLE INVARIANT: the plain-window branch is entered only
    // under the smallInput gate above (≤ SmallWindowRows rows /
    // SmallWindowBytes optimizer bytes), so any global window it emits
    // is bounded; WindowExec's global-window WARN is silenced for this
    // class of site (Sessions.quietBenignWarnings).
    if (smallInput(df, rowBound)) {
      val w =
        if (groupCols.isEmpty) Window.orderBy(orderCols: _*)
        else Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
      df.withColumn(rnName, row_number().over(w).cast("bigint"))
    } else rankParts(df, groupCols, orderCols, shardKey, rnName, numShards,
      rowBound)._1

  /** [[withRowNumber]] plus the per-(shard, group) counts table it is
    * built from — `(__shard, groupCols…, __n, __offset)`, shards×groups
    * rows — so callers needing per-group totals can aggregate THAT
    * instead of re-scanning the data. */
  private def rankParts(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column], shardKey: Column, rnName: String,
      numShards: Int, rowBound: Long): (DataFrame, DataFrame) = {
    val shards =
      if (numShards > 0) numShards
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // quantile boundaries of the shard key — one narrow job BEFORE the
    // real pass. On large inputs that job reads a deterministic hash
    // SAMPLE of the key column (xxhash64 of the key value — retry-stable,
    // no rand()): boundaries steer BALANCE only, never correctness, and
    // ~200 sampled points per shard bound the expected imbalance like a
    // reservoir-sampled range partitioner. The modulus is sized from the
    // caller's row bound (or, cost-only, the optimizer's byte estimate)
    // so small inputs keep exact quantiles and the sample never thins
    // below ~200 points/shard. Tied keys sample together — acceptable
    // for balance (ties must share a shard anyway, by construction).
    val rowEst =
      if (rowBound > 0) rowBound
      else df.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)).toLong / 16L
    val sampleMod = math.max(1L, math.min(100L, rowEst / (shards.toLong * 200L)))
    val bounds =
      if (shards <= 1) Array.empty[Double]
      else {
        val keyed = df.select(shardKey.cast("double").as("__sk"))
        val sampled =
          if (sampleMod <= 1L) keyed
          else keyed.filter(pmod(xxhash64(col("__sk")), lit(sampleMod)) === 0)
        sampled.stat.approxQuantile("__sk",
          (1 until shards).map(_.toDouble / shards).toArray, 0.001)
          .distinct.sorted
      }
    // shard = #boundaries strictly below the key: monotone in the key,
    // and all rows with equal keys share a shard by construction
    val shardOf =
      if (bounds.isEmpty) lit(0L)
      else size(filter(array(bounds.map(lit(_)): _*),
        b => b < col("__sk"))).cast("bigint")
    val withShard = df
      .withColumn("__sk", shardKey.cast("double"))
      .withColumn("__shard", shardOf)
      .drop("__sk")
    val wLocal = Window.partitionBy(("__shard" +: groupCols).map(col): _*)
      .orderBy(orderCols: _*)
    val wOff = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__shard")).rowsBetween(Window.unboundedPreceding, -1)
    val counts = withShard
      .groupBy(("__shard" +: groupCols).map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__offset", coalesce(sum(col("__n")).over(wOff), lit(0L)))
    val ranked = withShard
      .withColumn("__lrn", row_number().over(wLocal).cast("bigint"))
      .join(broadcast(counts.drop("__n")), "__shard" +: groupCols)
      .withColumn(rnName, col("__lrn") + col("__offset"))
      .drop("__shard", "__lrn", "__offset")
    (ranked, counts)
  }

  /** The ranking-window family — row_number (= rank = dense_rank under a
    * total order), ntile(k), percent_rank, cume_dist, first value — in
    * closed form from `rn` and the per-group size, each group ranked in
    * parallel across shards. Column names follow the window functions;
    * `firstCol` (the `nth_value(…, 1)` analogue) is taken from the
    * group's rank-1 row.
    *
    * percent_rank = (rn−1)/(n−1) and cume_dist = rn/n are exact-integer
    * double divisions — bit-identical to any engine's window evaluation
    * of the same definition (both operands ≤ 2^53). */
  def withRankFamily(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[Column], shardKey: Column, tiles: Int,
      firstCol: String, numShards: Int = -1, rowBound: Long = -1L,
      firstOrderKey: Column = null): DataFrame = {
    if (smallInput(df, rowBound)) {
      // identical values from Spark's own window functions — at this
      // size one sorter per group is cheaper than the shard machinery
      val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
      return df
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .withColumn("ntile", ntile(tiles).over(w).cast("bigint"))
        .withColumn("percent_rank", percent_rank().over(w))
        .withColumn("cume_dist", cume_dist().over(w))
        .withColumn("first_value", first(col(firstCol)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    }
    val (rn, counts) = rankParts(df, groupCols, orderCols, shardKey, "rn",
      numShards, rowBound)
    // per-group sizes come from the TINY counts table, not a re-scan of
    // the data
    val totals = counts.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__n")).as("__gn"))
    // the group's first row: with `firstOrderKey` (an ascending-sortable
    // expression equivalent to orderCols — e.g. struct(negate(price),
    // key) for (price DESC, key)) this is ONE partial-aggregatable
    // min_by over the input — no re-execution of the rank lineage and no
    // extra sort. Without it, fall back to filtering the ranked output
    // (a second consumer of the rank plan — exchange-reused, but the
    // per-shard sort re-runs).
    val firsts =
      if (firstOrderKey != null)
        df.groupBy(groupCols.map(col): _*)
          .agg(min_by(col(firstCol), firstOrderKey).as("__first"))
      else rn.filter(col("rn") === 1L)
        .select((groupCols.map(col) :+ col(firstCol).as("__first")): _*)
    // Spark/DuckDB ntile semantics: q = n div k, r = n mod k; the first
    // r tiles carry q+1 rows, the rest q
    val qi = expr(s"__gn div ${tiles.toLong}")
    val ri = col("__gn") % lit(tiles.toLong)
    val inBig = col("rn") <= ri * (qi + lit(1L))
    val tile = when(qi === 0L, col("rn"))
      .when(inBig, expr(s"(rn - 1) div ((__gn div $tiles) + 1) + 1"))
      .otherwise(ri +
        expr(s"(rn - (__gn % $tiles) * ((__gn div $tiles) + 1) - 1) " +
          s"div (__gn div $tiles) + 1"))
    rn.join(broadcast(totals), groupCols)
      .join(broadcast(firsts), groupCols)
      .withColumn("ntile", tile.cast("bigint"))
      .withColumn("percent_rank",
        when(col("__gn") === 1L, lit(0.0)).otherwise(
          (col("rn") - 1L).cast("double") /
            (col("__gn") - 1L).cast("double")))
      .withColumn("cume_dist",
        col("rn").cast("double") / col("__gn").cast("double"))
      .withColumnRenamed("__first", "first_value")
      .drop("__gn")
  }
}
