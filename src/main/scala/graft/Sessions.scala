package graft

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured local SparkSession.
  *
  * Config choices (scale rationale — see SURVEY.md §4):
  *  - shuffle.partitions = #cores locally; on a real cluster this is
  *    AQE-coalesced anyway (adaptive on).
  *  - nanosAsLong: the reference's data model is int64-nanosecond `time`
  *    (kompactor.ts:107, README sample values); Spark's TimestampType is
  *    µs so we keep ns as LongType end-to-end to avoid precision loss.
  *  - UTC session TZ for byte-stable timestamp semantics vs the oracle.
  *  - zstd output codec matches the reference sink (kompactor.ts:109).
  */
object Sessions {
  def local(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
    graft.functions.GraftFunctions.register(s)
    quietBenignWarnings()
    s
  }

  /** WindowExec WARNs on every global (unpartitioned) window it runs.
    * Every surviving global window in this engine is provably tiny by
    * construction — per-shard count tables (CoreQueries a_scan offsets:
    * #shards rows), the LIMIT-100 vocab head (TextQueries.vocab), and
    * the sub-[[graft.operators.DistributedRank.SmallWindowRows]]
    * fallback — each carries the invariant in a site comment and the
    * large-input paths are plan-gated by PlanQualitySpec, so the warning
    * adds no signal here and used to dominate the bench stderr tail
    * (r6 verdict #7). Call AFTER setLogLevel: that resets the root
    * logger, this pins one logger below it. */
  def quietBenignWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  def configure(b: SparkSession.Builder, cores: String): SparkSession.Builder = b
    .appName("graft")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Big shuffles should START wide and let AQE coalesce DOWN — the
    // cluster-correct direction (partition count follows data volume,
    // not core count). Locally the default stays = cores because wide
    // initial splits tax the iterative queries (d7/d10 fixpoints pay
    // per-round scheduling: measured +10 s across the sf0.1 suite at
    // 512); deep octaves (≥ 1M docs) set SPARK_GRAFT_INITIAL_PARTITIONS
    // to keep per-partition hash builds and sort spills bounded.
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS", cores))
    // parallelismFirst=true (the Spark default) is the LOCAL default
    // again (r16 VERDICT item 1): AQE then targets
    // ceil(shuffleBytes / defaultParallelism) per partition, keeping
    // every post-shuffle stage at ~cores partitions — guide §2.6's
    // "fill the idle cores" rule for a box whose shuffles are far
    // smaller than cores × the 100 MB-1 GB band. r16 set false +
    // 256 KB advisory globally and coalesced the sf0.1 suite's
    // post-shuffle stages to ≲4 partitions on 32 cores: the whole
    // bench regressed +20% and the driver's 8-core run BEAT its own
    // 32-core run. Two r17 findings pin the mechanism (AQE paragraphs
    // of BENCH_NOTES "Round 19 (optimization round 1)"): (a)
    // `coalescePartitions.minPartitionNum` is inert in
    // Spark 4.1 — ShufflePartitionsUtil floors the target size at
    // minPartitionSize (1 MB) AFTER the minNum division, so a sub-
    // 32 MB shuffle coalesces to ~bytes/1 MB partitions no matter what
    // minNum says; (b) with parallelismFirst=false the advisory value
    // below 1 MB is equally inert for the same reason — r16's observed
    // task-count collapse came from the FLAG flip alone, not the
    // 256 KB value. So the scale story is carried by the flag, not by
    // a size: production crawls (shuffles ≫ cores × 1 GB) set
    // SPARK_GRAFT_PARALLELISM_FIRST=false so partition count follows
    // data volume (guide §2.2), plus SPARK_GRAFT_ADVISORY_SHUFFLE_BYTES
    // in the 64-256 MB band (guide §9; default 64 MB per r16 ADVICE —
    // an unconfigured deployment should not inherit a local
    // microbench value).
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_SHUFFLE_BYTES", "64m"))
    // The coalescing floor that actually bites locally: AQE's target
    // size is max(min(ceil(bytes/minNum), advisory), minPartitionSize)
    // (ShufflePartitionsUtil), so with the 1 MB Spark default every
    // sub-MB post-shuffle stage collapses to ONE partition no matter
    // what minNum/advisory say — r17 measured IDENTICAL task counts
    // (5438) under advisory 256 KB/64 MB × parallelismFirst on/off.
    // After r16 cut the dedup family's shuffles to ~1 MB of 8-byte
    // hashes, their heavy verify stages (md5 + array_intersect per
    // candidate) ran single-task. Locally the floor drops to 16 KB so
    // a ~1 MB compute-heavy shuffle still spreads over the box (≤ 64
    // partitions at 1 MB — bounded by initialPartitionNum = cores);
    // production keeps the Spark default (1 MB) or larger via env —
    // tiny partitions at 100 TB mean quadratic block counts (§2.2).
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "16k"))
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.compression.codec", "zstd")
    .config("spark.sql.autoBroadcastJoinThreshold", (32L << 20).toString)
    // catalog state (bucketed-table metadata) lives outside the repo
    .config("spark.sql.warehouse.dir",
      s"${sys.props("java.io.tmpdir")}/graft-warehouse")
    .config("spark.ui.enabled", "false")
}
