package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.queries.DedupQueries

/** Dedup-pipeline-as-artifact (r9 verdict #3): persist the tables every
  * near-dup pipeline rebuilds inline per query — the MinHash signature
  * matrix, its pre-computed band rows, the per-doc hashed shingle sets
  * the exact verify needs, the verified Jaccard pair graph, and the
  * connected component table — as one loadable artifact, with
  * incremental append via d16's bipartite increment join. The
  * [[AnnIndex]] precedent applied to the dedup family: q56's wall IS
  * the d7 component build, and with the artifact every downstream
  * consumer (dedup-aware splits, cluster canonicalization, centrality,
  * communities) becomes a cheap join against a table that already
  * exists.
  *
  * Layout under `dir` (any Hadoop-visible filesystem):
  *   manifest.json                     family=dedup, n, commit points
  *   signatures.parquet/delta-NNNNN    (doc_id, sig: array<long>)
  *   bands.parquet/delta-NNNNN         (doc_id, band_idx, band_val)
  *   shingles.parquet/delta-NNNNN      (doc_id, hs: array<long>)
  *   postings.parquet/delta-NNNNN      (h, doc_id)
  *   pairs.parquet/delta-NNNNN         (doc_a, doc_b, inter, uni, jaccard)
  *   components.parquet/v-NNNNN        (id, component)
  *
  * The band table is [[DedupQueries.sigBandRows]]'s output persisted
  * once per delta (r10 verdict #4): probe joins read it instead of
  * re-deriving bands from every stored signature on every call. The
  * shingle table is the d11 verify-set representation — DISTINCT 60-bit
  * md5 shingle hashes, ~100× smaller than the text — persisted so the
  * exact-verify half of [[serveNearDups]]/[[append]] never streams the
  * corpus text (r10 verdict #1): a probe's per-call cost is bounded by
  * its candidates, not by the corpus.
  *
  * Signatures/bands/shingles/postings advance in lockstep (one
  * `sig_deltas` commit point); pairs are append-only deltas; the component table is
  * VERSIONED because new edges can merge existing components — each
  * append publishes a full new version, recomputing only the components
  * the increment touches. All writes commit through the manifest
  * ([[ArtifactIO]] — the compactor's snapshot protocol): a reader never
  * sees a delta/version the manifest doesn't describe, and a crashed
  * append leaves only orphan dirs the retry overwrites (DedupIndexSpec
  * pins reader-isolation and second-run convergence).
  *
  * Every stored frame is exact int64 (signatures, hashes, ids, counts)
  * plus the one IEEE-divide jaccard double — a parquet round-trip is
  * lossless, so loaded ≡ built is a checkable identity for every
  * consumer.
  */
object DedupIndex {
  import ArtifactIO.Manifest

  /** Recommended bucket-dir count when OPTING IN to the compacted
    * posting/band slab layout ([[compactDeltas]]'s `layoutBuckets`):
    * the slab is written Hive-partitioned on `pmod(key, buckets)` so a
    * small probe's equi-join keys prune to their bucket DIRECTORIES
    * (Catalyst partition pruning — real file skipping, unlike footer
    * min/max on uniformly distributed hashes). Size it so probe keys
    * ≪ buckets and per-bucket files stay large; the default fold is
    * FLAT because the layout's fixed read cost only amortizes on
    * slabs far beyond gate scale (BENCH_NOTES). */
  val LayoutBuckets = 64

  /** Probe-key cap for the band-major IN-list path: beyond this many
    * distinct (band_idx, band_val) keys the collected hash pushdown
    * stops paying (driver collect + a multi-thousand-literal filter vs
    * a 32-thread slab scan) and the probe falls back to the full
    * window read. Bounds the driver collect at ~64 KB of longs. */
  val BandMajorMaxKeys = 4096L

  /** The loaded artifact's table views. LAZY on purpose: merely
    * CREATING a DataFrame over a bucket-partitioned slab lists every
    * bucket directory (seconds at B=4096 — BENCH_NOTES "Round 15:
    * bucketed slab at deployment scale"), so a
    * consumer that goes through the pruned probe views
    * ([[probeBands]] / [[probePostings]], or [[serveNearDups]]'s
    * armed candidate join) must never pay for the full views it
    * doesn't touch. Field names and behavior are unchanged for
    * consumers that do read them. */
  final class LoadedDedup(val manifest: Manifest,
      signatures0: => DataFrame, bands0: => DataFrame,
      shingleSets0: => DataFrame, postings0: => DataFrame,
      pairs0: => DataFrame, components0: => DataFrame,
      val dir: String = "") {
    lazy val signatures: DataFrame = signatures0
    lazy val bands: DataFrame = bands0
    lazy val shingleSets: DataFrame = shingleSets0
    lazy val postings: DataFrame = postings0
    lazy val pairs: DataFrame = pairs0
    lazy val components: DataFrame = components0
  }

  /** (h, doc_id) posting rows from a hashed-shingle-set table — the
    * inverted-index form of the same data, persisted so the lexical
    * retrieval leg ([[RagServe.hybridFromIndexes]]) probes an equi-join
    * on the shingle hash and touches ONLY docs sharing a query shingle,
    * instead of array-intersecting every stored doc per batch. */
  private def postingsOf(hsT: DataFrame): DataFrame =
    hsT.select(explode(col("hs")).as("h"), col("doc_id"))

  private def sigPath(dir: String, i: Long): String =
    f"$dir/signatures.parquet/delta-$i%05d"
  private def bandPath(dir: String, i: Long): String =
    f"$dir/bands.parquet/delta-$i%05d"
  private def shinglePath(dir: String, i: Long): String =
    f"$dir/shingles.parquet/delta-$i%05d"
  private def postingPath(dir: String, i: Long): String =
    f"$dir/postings.parquet/delta-$i%05d"
  private def pairPath(dir: String, i: Long): String =
    f"$dir/pairs.parquet/delta-$i%05d"
  private def compPath(dir: String, i: Long): String =
    f"$dir/components.parquet/v-$i%05d"
  private def tombPath(dir: String, i: Long): String =
    f"$dir/tombstones.parquet/delta-$i%05d"

  /** Build + persist the artifact. ONE shingle+md5 pass over the corpus
    * (the pinned hashed-shingle table) feeds the shingle-set write, the
    * signature derivation, the band write AND the pair verification;
    * components build from the just-written pair table (a lineage cut —
    * the pointer-jumping rounds replay parquet, not the LSH pipeline). */
  def build(docs: DataFrame, dir: String, nHint: Long = -1L): Manifest = {
    val spark = docs.sparkSession
    val n = if (nHint > 0) nHint else docs.count()
    val hsT = DedupQueries.hashedShingleSets(docs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    hsT.count() // shingle write + sig derivation + verify rejoins read it
    try {
      hsT.write.mode("overwrite").parquet(shinglePath(dir, 0L))
      postingsOf(hsT).write.mode("overwrite").parquet(postingPath(dir, 0L))
      val sigArr = DedupQueries.minhashSigArrFromHashes(hsT)
        .persist(StorageLevel.MEMORY_AND_DISK)
      sigArr.count() // sig write + band write + band join + sig rejoins
      try {
        sigArr.write.mode("overwrite").parquet(sigPath(dir, 0L))
        DedupQueries.sigBandRows(sigArr).drop("sig")
          .write.mode("overwrite").parquet(bandPath(dir, 0L))
        val pairs = DedupQueries.jaccardVerifyHashed(
          DedupQueries.candidatesFromSigArr(sigArr, n), hsT, n)
        pairs.write.mode("overwrite").parquet(pairPath(dir, 0L))
        val comp = Components.connectedComponents(
          spark.read.parquet(pairPath(dir, 0L))
            .select(col("doc_a"), col("doc_b")))
        try comp.write.mode("overwrite").parquet(compPath(dir, 0L))
        finally comp.unpersist()
      } finally sigArr.unpersist()
    } finally hsT.unpersist()
    // geom_n records the corpus size the CURRENT serving layout was
    // sized for — the [[bandDriftCheck]] baseline (build layout = flat)
    val mf = Manifest("dedup", 0, n, Map(
      "sig_deltas" -> 1L, "pair_deltas" -> 1L, "comp_versions" -> 1L,
      "verify_tables" -> 1L, "geom_n" -> n))
    ArtifactIO.writeManifest(spark, dir, mf)
    mf
  }

  /** Live delta-slot windows: `sig_deltas`/`pair_deltas` COUNT the live
    * slots; `sig_base`/`pair_base` (0 when absent — pre-compaction
    * manifests) are where the window STARTS. [[compactDeltas]] folds a
    * window into one slab at the next slot and advances the base, so
    * slot numbers never reset (a folded slot is never reused — the
    * invariant that keeps staged-but-uncommitted data unambiguous). */
  private def sigSlots(m: Manifest): Seq[Long] = {
    val b = m.params.getOrElse("sig_base", 0L)
    b until b + m.params("sig_deltas")
  }
  private def pairSlots(m: Manifest): Seq[Long] = {
    val b = m.params.getOrElse("pair_base", 0L)
    b until b + m.params("pair_deltas")
  }
  /** Tombstone window: `tomb_deltas` COUNTS live tombstone deltas from
    * `tomb_base` (both 0 when absent — pre-takedown artifacts and
    * freshly compacted ones, where the window is EMPTY because
    * [[compactDeltas]] applied every tombstone physically). */
  private def tombWindow(m: Manifest): (Long, Long) =
    (m.params.getOrElse("tomb_base", 0L), m.params.getOrElse("tomb_deltas", 0L))
  /** The live tombstoned-doc set, or None when the window is empty. */
  private def tombstonesOf(spark: SparkSession, dir: String,
      m: Manifest): Option[DataFrame] = {
    val (tb, td) = tombWindow(m)
    if (td == 0) None
    else Some(spark.read.parquet((tb until tb + td).map(tombPath(dir, _)): _*))
  }
  /** Read a table's live window with slab-layout awareness: when the
    * manifest records `layout_buckets`, the BASE slot (always the
    * compacted slab — the same commit writes both) is Hive-partitioned
    * on a bucket column, so it is read per-root and re-projected to the
    * canonical columns before unioning the flat (post-compaction
    * append) deltas — a single multi-root read would refuse to merge
    * the partitioned and flat schemas. Tables that are never bucketed
    * pass through the plain multi-path read. */
  private def readWindow(spark: SparkSession, dir: String, m: Manifest,
      pathOf: (String, Long) => String, slots: Seq[Long],
      cols: Seq[String]): DataFrame = {
    val bucketed = m.params.getOrElse("layout_buckets", 0L) > 0 &&
      cols.nonEmpty
    if (!bucketed) spark.read.parquet(slots.map(pathOf(dir, _)): _*)
    else {
      val slab = spark.read.parquet(pathOf(dir, slots.head))
        .select(cols.map(col).toIndexedSeq: _*)
      if (slots.size == 1) slab
      else slab.unionByName(
        spark.read.parquet(slots.tail.map(pathOf(dir, _)): _*)
          .select(cols.map(col).toIndexedSeq: _*))
    }
  }

  /** Exact live-tombstone row count from the manifest (`tomb_rows` —
    * accumulated at each [[delete]]'s commit, reset when a fold applies
    * the window physically); −1 on pre-accounting manifests. */
  private def tombRowsOf(m: Manifest): Long =
    m.params.getOrElse("tomb_rows",
      if (tombWindow(m)._2 == 0) 0L else -1L)

  /** [[DedupQueries.idSideHint]] — the shared removal-id join ladder. */
  private def idSideHint(side: DataFrame, rows: Long): DataFrame =
    DedupQueries.idSideHint(side, rows)

  /** Anti-join `t`'s id columns against the tombstone set — how every
    * reader excludes taken-down docs the instant the delete commits,
    * before any physical fold. The tombstone side rides the size
    * ladder on the manifest's exact `tomb_rows` count: broadcast for
    * the queue-sized common case, shuffle-side strategies when a bulk
    * takedown made the live window huge. */
  private def minusTombs(t: DataFrame, tombs: Option[DataFrame],
      tombRows: Long, idCols: String*): DataFrame = tombs match {
    case None => t
    case Some(tt) =>
      // a USING-column join reorders columns (key first) — restore the
      // table's own order so views and folded slabs stay schema-stable
      idCols.foldLeft(t)((acc, c) =>
          acc.join(idSideHint(tt.select(col("doc_id").as(c)), tombRows),
            Seq(c), "left_anti"))
        .select(t.columns.map(col).toIndexedSeq: _*)
  }

  /** Where the artifact's tables live: the artifact dir itself (the
    * build layout), or the committed `v-NNNNN` version dir once
    * [[rebuild]] has swapped in a re-fit — the [[AnnIndex.rebuild]]
    * version-pointer scheme. Every mutation/read resolves through
    * this; only manifest.json always stays at the artifact dir. */
  private def versionDir(dir: String, v: Long): String = f"$dir/v-$v%05d"
  private def tableRoot(dir: String, m: Manifest): String =
    m.params.get("version").map(v => versionDir(dir, v)).getOrElse(dir)

  def load(spark: SparkSession, artifactDir: String): LoadedDedup = {
    val m = ArtifactIO.readManifest(spark, artifactDir)
    require(m.family == "dedup",
      s"index at hand is family '${m.family}', expected 'dedup'")
    require(m.params.contains("verify_tables"),
      "this dedup artifact predates the stored band/shingle tables - " +
        "rebuild it (text-free serving needs the persisted verify data)")
    val dir = tableRoot(artifactDir, m) // tables live under the root
    lazy val tombs = tombstonesOf(spark, dir, m)
    val tr = tombRowsOf(m)
    new LoadedDedup(m,
      minusTombs(spark.read.parquet(
        sigSlots(m).map(i => sigPath(dir, i)): _*), tombs, tr, "doc_id"),
      minusTombs(readWindow(spark, dir, m, bandPath, sigSlots(m),
        Seq("doc_id", "band_idx", "band_val")), tombs, tr, "doc_id"),
      minusTombs(spark.read.parquet(
        sigSlots(m).map(i => shinglePath(dir, i)): _*), tombs, tr, "doc_id"),
      minusTombs(readWindow(spark, dir, m, postingPath, sigSlots(m),
        Seq("h", "doc_id")), tombs, tr, "doc_id"),
      minusTombs(spark.read.parquet(
        pairSlots(m).map(i => pairPath(dir, i)): _*), tombs, tr,
        "doc_a", "doc_b"),
      // components need no filter: [[delete]] re-solves the touched
      // components and publishes a new version AT the delete commit
      spark.read.parquet(compPath(dir, m.params("comp_versions") - 1)),
      dir)
  }

  /** The band view for a PROBE batch (one `band_val` column among
    * `qBands`'s rows, query-side bounded): when the committed slab is
    * bucket-partitioned AND the probe is small enough to skip buckets
    * (see `keysHint`), restrict it to the probe's bucket directories —
    * Catalyst partition pruning skips every other bucket's files —
    * then union the flat post-compaction deltas in full and apply the
    * tombstone filter exactly as [[load]] does. Falls back to
    * [[LoadedDedup.bands]] otherwise. Results are IDENTICAL either way
    * (SlabLayoutSpec pins it): only files that cannot contain a probe
    * key are skipped.
    *
    * @param keysHint expected DISTINCT key count of the probe. Pruning
    *   engages only when `keysHint * 2 ≤ layout_buckets` — with k
    *   uniform keys over b buckets, expected admitted buckets is
    *   b·(1-(1-1/b)^k) ≈ 39% at k = b/2 and ~everything beyond, where
    *   the probe-side bucket collect would be pure overhead (measured:
    *   +0.6 s on an 8-doc serve at b = 64). Negative = unknown = don't
    *   prune. */
  def probeBands(ix: LoadedDedup, qBands: DataFrame,
      keysHint: Long = -1L): DataFrame =
    probePruned(ix, qBands, "band_val", bandPath,
      Seq("doc_id", "band_idx", "band_val"), ix.bands, keysHint)

  /** The posting view for a PROBE hash set (one `h` column) — the
    * lexical-retrieval twin of [[probeBands]]; same `keysHint` gate. */
  def probePostings(ix: LoadedDedup, qHashes: DataFrame,
      keysHint: Long = -1L): DataFrame =
    probePruned(ix, qHashes, "h", postingPath, Seq("h", "doc_id"),
      ix.postings, keysHint)

  private def probePruned(ix: LoadedDedup, probe: DataFrame, key: String,
      pathOf: (String, Long) => String, cols: Seq[String],
      fallback: DataFrame, keysHint: Long): DataFrame = {
    val b = ix.manifest.params.getOrElse("layout_buckets", 0L)
    // band-major probes are gated on the IN-list cap, NOT the hash-dir
    // keysHint·2 ≤ buckets heuristic — its mount count is ≤ Bands for
    // any batch size, so the hash-dir gate would wrongly disable it
    // for exactly the multi-doc serve probes it was built for (r14
    // review, both passes: the first fix reordered probeWindow but
    // left THIS entry gate in front of it)
    val bandMajor = key == "band_val" &&
      ix.manifest.params.getOrElse("layout_band_major", 0L) > 0
    val engaged =
      if (bandMajor) keysHint >= 0 && keysHint <= BandMajorMaxKeys
      else keysHint >= 0 && keysHint * 2 <= b
    if (b == 0 || ix.dir.isEmpty || !engaged)
      return fallback
    val spark = probe.sparkSession
    minusTombs(
      probeWindow(spark, ix.dir, ix.manifest, pathOf, sigSlots(ix.manifest),
        cols, key, probe, keysHint),
      tombstonesOf(spark, ix.dir, ix.manifest), tombRowsOf(ix.manifest),
      "doc_id")
  }

  /** An EMPTY frame with the canonical column types of the artifact's
    * probe-joined tables — the fallback when a bucketed slab holds no
    * data dirs at all (a fully-tombstoned fold's partitionBy write
    * emits only _SUCCESS). The types are this artifact's storage
    * contract (doc_id/h int64, band_idx int32, band_val string), fixed
    * at write time by [[build]]/[[compactDeltas]]. */
  private def emptyTable(spark: SparkSession,
      cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    val fields = cols.map {
      case c @ ("doc_id" | "h") => StructField(c, LongType)
      case c @ "band_idx" => StructField(c, IntegerType)
      case c @ "band_val" => StructField(c, StringType)
      case c => throw new IllegalArgumentException(
        s"no canonical type for probe-table column '$c'")
    }
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(fields))
  }

  /** The slab's bucket id for a key column: posting hashes are already
    * uniform int64 (pmod directly); band values are strings, hashed
    * with xxhash64 first. Fold and probe sides MUST agree — this is
    * the single definition both use. */
  private[operators] def slabBucket(key: String, b: Long): org.apache.spark.sql.Column = {
    val k = key match {
      case "band_val" => xxhash64(col(key))
      case _ => col(key)
    }
    pmod(k, lit(b)).cast("int")
  }

  /** [[readWindow]] with the bucketed slab RESTRICTED to the probe's
    * bucket directories (partition pruning); identical contents to the
    * full window for any row a probe key can match. Falls back to the
    * plain window read on unbucketed artifacts. */
  private def probeWindow(spark: SparkSession, dir: String, m: Manifest,
      pathOf: (String, Long) => String, slots: Seq[Long], cols: Seq[String],
      key: String, probe: DataFrame, keysHint: Long): DataFrame = {
    val b = m.params.getOrElse("layout_buckets", 0L)
    if (b == 0 || keysHint < 0)
      return readWindow(spark, dir, m, pathOf, slots, cols)
    // band-major dispatch BEFORE the hash-dir gate (r14 review #3): its
    // mount count is ≤ Bands for ANY batch, so the only bound it needs
    // is the IN-list size (the collected hash pushdown) — the
    // keysHint·2 ≤ buckets heuristic is about skippable DIRECTORIES
    // and would wrongly disable band-major for exactly the multi-doc
    // serve probes it was built for
    if (key == "band_val" && m.params.getOrElse("layout_band_major", 0L) > 0)
      return if (keysHint > BandMajorMaxKeys)
        readWindow(spark, dir, m, pathOf, slots, cols)
      else probeBandMajor(spark, dir, m, pathOf, slots, cols, probe)
    if (keysHint * 2 > b)
      return readWindow(spark, dir, m, pathOf, slots, cols)
    // ≤ LayoutBuckets distinct values — a bounded, probe-side collect.
    // A null probe key hashes to a null bucket (xxhash64/pmod of null);
    // it can't match any stored row, so drop it instead of NPE-ing the
    // serve path on a malformed query row (r12 ADVICE)
    val buckets = probe
      .select(slabBucket(key, b).as("pb"))
      .filter(col("pb").isNotNull)
      .distinct().collect().map(_.getInt(0)).toIndexedSeq
    // mount ONLY the probed bucket directories, never the slab root: a
    // filter over the root still pays partition DISCOVERY over all b
    // dirs (measured: 1.8 s at b=1024, 6.2 s at b=4096 on local FS —
    // BENCH_NOTES "Round 15: bucketed slab at deployment scale"), which
    // is the exact cost the layout exists to avoid. Existence-check
    // each probed dir (≤ keysHint cheap RPCs —
    // a bucket no corpus key hashed to has no dir) and read the
    // survivors with basePath so pb stays a partition column.
    val slabRoot = pathOf(dir, slots.head)
    val fs = new org.apache.hadoop.fs.Path(slabRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val probedDirs = buckets.map(i => s"$slabRoot/pb=$i")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    val slab =
      if (probedDirs.isEmpty) {
        // no probed bucket holds corpus keys: an empty frame with the
        // slab's schema, built from ONE existing bucket dir (a single
        // root listStatus — never the full-root partition discovery
        // this method exists to avoid). A slab with NO pb= dirs at all
        // is a VALID empty corpus (partitionBy of an empty frame emits
        // only _SUCCESS — e.g. a fold after every row was tombstoned),
        // so serve falls back to the declared schema instead of
        // throwing (r13 ADVICE)
        fs.listStatus(new org.apache.hadoop.fs.Path(slabRoot))
          .map(_.getPath).find(_.getName.startsWith("pb=")) match {
          case Some(any) =>
            spark.read.option("basePath", slabRoot).parquet(any.toString)
              .select(cols.map(col).toIndexedSeq: _*).limit(0)
          case None => emptyTable(spark, cols)
        }
      } else spark.read.option("basePath", slabRoot).parquet(probedDirs: _*)
        .select(cols.map(col).toIndexedSeq: _*)
    if (slots.size == 1) slab
    else slab.unionByName(
      spark.read.parquet(slots.tail.map(pathOf(dir, _)): _*)
        .select(cols.map(col).toIndexedSeq: _*))
  }

  /** [[probeWindow]] for a BAND-MAJOR slab (r13 verdict #4): the probe
    * mounts at most [[DedupQueries.Bands]] `band_idx=` directories
    * regardless of batch size — the hash-dir layout mounted one dir per
    * distinct (band_idx, band_val) key, which for a serve probe is
    * batch × Bands dirs and lost to flat on mount overhead alone. The
    * per-key skipping moves INTO the mounted dirs: files are
    * bvh-range-sorted at fold time, so the probe's collected hash
    * IN-list (bounded by the caller's keysHint gate) pushes into the
    * parquet scan and skips files/row groups via footer min/max. The
    * bvh filter is a SUPERSET pre-filter (hash collisions admit rows
    * the exact band_val join then drops), so results are identical to
    * the full window read (SlabLayoutSpec pins it). */
  private def probeBandMajor(spark: SparkSession, dir: String,
      m: Manifest, pathOf: (String, Long) => String, slots: Seq[Long],
      cols: Seq[String], probe: DataFrame): DataFrame = {
    val slabRoot = pathOf(dir, slots.head)
    val fs = new org.apache.hadoop.fs.Path(slabRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // ≤ keysHint (band_idx, bvh) pairs — the bounded probe-side collect
    val probed = probe
      .select(col("band_idx"), xxhash64(col("band_val")).as("bvh"))
      .filter(col("band_idx").isNotNull && col("bvh").isNotNull)
      .distinct().collect()
    val bandDirs = probed.map(_.getInt(0)).distinct.sorted.toIndexedSeq
      .map(i => s"$slabRoot/band_idx=$i")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    val hashes = probed.map(r => java.lang.Long.valueOf(r.getLong(1)))
      .distinct.toIndexedSeq
    val slab =
      if (bandDirs.isEmpty || hashes.isEmpty) emptyTable(spark, cols)
      else spark.read.option("basePath", slabRoot).parquet(bandDirs: _*)
        .filter(col("bvh").isin(hashes: _*))
        .select(cols.map(col).toIndexedSeq: _*)
    if (slots.size == 1) slab
    else slab.unionByName(
      spark.read.parquet(slots.tail.map(pathOf(dir, _)): _*)
        .select(cols.map(col).toIndexedSeq: _*))
  }

  /** Append a NEW document batch — d16's bipartite increment shape, so
    * the work is O(increment + candidates + touched components), never
    * a corpus rebuild, and the corpus TEXT is never read at all:
    *
    *  1. shingle sets + signatures + bands: one shingle pass of the
    *     increment only
    *  2. candidates: increment bands × the STORED band table (broadcast
    *     the increment side under the size bound; bands are read as
    *     written, never re-derived from signatures) + increment-internal
    *     LSH — oriented (min, max) so incremental ≡ one-shot
    *  3. verify: exact Jaccard over the increment's hashed shingle sets
    *     plus the STORED sets of candidate docs (one semi join on the
    *     shingle table — ~100× smaller than the text it replaces)
    *  4. components: only the components the new pairs touch are
    *     re-solved (their star edges + the new pairs through the same
    *     pointer-jumping loop); untouched components keep their rows
    *
    * CRASH-SAFE like [[AnnIndex.appendIvfPq]]: all writes go to
    * uncommitted delta/version slots, the atomic manifest commit is the
    * publish point, orphans are healed up front and the retry
    * overwrites them. `batchId` ≥ 0 is the durable streaming replay
    * guard (an applied batch is a no-op).
    *
    * Caller contract: increment doc_ids are disjoint from the corpus.
    *
    * @return verified new pairs appended (cross + within-increment) */
  def append(newDocs: DataFrame, artifactDir: String,
      batchId: Long = -1L): Long = {
    val spark = newDocs.sparkSession
    val mf = ArtifactIO.readManifest(spark, artifactDir)
    require(mf.family == "dedup",
      s"index at hand is family '${mf.family}', expected 'dedup'")
    require(mf.params.contains("verify_tables"),
      "this dedup artifact predates the stored band/shingle tables - " +
        "rebuild it (text-free appends need the persisted verify data)")
    if (batchId >= 0 && mf.params.get("last_batch").exists(_ >= batchId))
      return 0L // replayed micro-batch: already applied and committed
    // heal→stage→commit under the commit lease: slot numbers and the
    // heal sweep come from the manifest read above (r14 review #1)
    ArtifactIO.withCommitLease(spark, artifactDir) {
    ArtifactIO.requireUnmoved(spark, artifactDir, mf)
    val dir = tableRoot(artifactDir, mf) // tables live under the root
    val (sd, pd, cv) = (mf.params("sig_deltas"), mf.params("pair_deltas"),
      mf.params("comp_versions"))
    val (sb, pb) = (mf.params.getOrElse("sig_base", 0L),
      mf.params.getOrElse("pair_base", 0L))
    val (sigEnd, pairEnd) = (sb + sd, pb + pd)
    // live reader pins lower every GC floor: a pinned reader's window
    // survives any number of mutations (r14 verdict #4)
    val pins = ArtifactIO.pinnedManifests(spark, artifactDir)
    val sbF = ArtifactIO.pinnedFloor(pins, "sig_base", 0L, sb)
    ArtifactIO.healOrphans(spark, s"$dir/signatures.parquet", "delta-",
      sigEnd, sbF)
    ArtifactIO.healOrphans(spark, s"$dir/bands.parquet", "delta-", sigEnd,
      sbF)
    ArtifactIO.healOrphans(spark, s"$dir/shingles.parquet", "delta-",
      sigEnd, sbF)
    ArtifactIO.healOrphans(spark, s"$dir/postings.parquet", "delta-",
      sigEnd, sbF)
    ArtifactIO.healOrphans(spark, s"$dir/pairs.parquet", "delta-", pairEnd,
      ArtifactIO.pinnedFloor(pins, "pair_base", 0L, pb))
    // cv - 1 as the live base also GCs superseded component versions
    ArtifactIO.healOrphans(spark, s"$dir/components.parquet", "v-", cv,
      ArtifactIO.pinnedFloor(pins, "comp_versions", 1L, cv) - 1)
    val (tb, td) = tombWindow(mf)
    ArtifactIO.healOrphans(spark, s"$dir/tombstones.parquet", "delta-",
      tb + td, ArtifactIO.pinnedFloor(pins, "tomb_base", 0L, tb))
    val tombs = tombstonesOf(spark, dir, mf)
    // re-ingesting a tombstoned id is refused, not silently lost: the
    // live tombstone anti-join would hide the re-appended rows from
    // every reader and the next compaction would drop them physically
    // (the disjoint-ids contract can't see this case — the id IS gone
    // from the corpus view). Deleted ids become appendable again after
    // a compaction/rebuild empties the window.
    tombs.foreach { tt =>
      if (!newDocs.select(col("doc_id"))
          .join(idSideHint(tt.select(col("doc_id")), tombRowsOf(mf)),
            Seq("doc_id"), "left_semi").isEmpty)
        throw new TombstonedIdsException(
          "increment re-ingests tombstoned doc_ids - live tombstones would " +
            "hide the rows from every reader and the next compaction would " +
            "drop them; compact or rebuild the artifact first")
    }
    val ni = newDocs.count()
    val incHs = DedupQueries.hashedShingleSets(newDocs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    incHs.count() // shingle write + sig derivation + verify read it
    try {
      // re-verify lease ownership before each staged-write stage: the
      // shingle/signature jobs above can outlive the TTL under a pause,
      // and a taken-over holder must refuse BEFORE overwriting slots a
      // takeover winner may have committed (r14 advisor #1)
      ArtifactIO.requireLeaseOwned(spark, artifactDir)
      incHs.write.mode("overwrite").parquet(shinglePath(dir, sigEnd))
      postingsOf(incHs).write.mode("overwrite")
        .parquet(postingPath(dir, sigEnd))
      val incSig = DedupQueries.minhashSigArrFromHashes(incHs)
        .persist(StorageLevel.MEMORY_AND_DISK)
      incSig.count() // sig write + band write + both candidate legs
      try {
        incSig.write.mode("overwrite").parquet(sigPath(dir, sigEnd))
        val incBands = DedupQueries.sigBandRows(incSig).drop("sig")
        incBands.write.mode("overwrite").parquet(bandPath(dir, sigEnd))
        // the stored band table as written — never re-derived (r10 #4);
        // tombstoned docs must not resurface as candidate partners.
        // probeWindow prunes a BUCKETED slab to the increment's band
        // buckets (mounting only those dirs — the full-slab discovery
        // is never paid); flat artifacts and big increments fall back
        // to the identical full window read
        val corpusBands = minusTombs(
          probeWindow(spark, dir, mf, bandPath, sb until sigEnd,
            Seq("doc_id", "band_idx", "band_val"), "band_val", incBands,
            ni * DedupQueries.Bands),
          tombs, tombRowsOf(mf), "doc_id")
        val crossCand = DedupQueries
          .sizedHint(incBands, ni * DedupQueries.Bands, 128).as("a")
          .join(corpusBands.as("b"),
            col("a.band_idx") === col("b.band_idx") &&
              col("a.band_val") === col("b.band_val"))
          .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("corpus_id"))
          .distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        crossCand.count() // candidate-id pull + verify join both read it
        try {
          val candIds = crossCand.select(col("corpus_id").as("doc_id")).distinct()
          val nCand = candIds.count()
          // verify data for candidates comes from the STORED shingle
          // table — the corpus text is never touched (candIds already
          // exclude tombstoned docs via the filtered band table)
          val corpusCandHs = spark.read.parquet(
              (sb until sigEnd).map(shinglePath(dir, _)): _*)
            .join(candIds, Seq("doc_id"), "left_semi")
          val cross = crossCand.select(
            least(col("inc_id"), col("corpus_id")).as("doc_a"),
            greatest(col("inc_id"), col("corpus_id")).as("doc_b"))
          val within = DedupQueries.candidatesFromSigArr(incSig, ni)
          val newPairs = DedupQueries.jaccardVerifyHashed(
            cross.unionAll(within), incHs.unionByName(corpusCandHs),
            ni + nCand)
          ArtifactIO.requireLeaseOwned(spark, artifactDir)
          newPairs.write.mode("overwrite").parquet(pairPath(dir, pairEnd))
          val written = spark.read.parquet(pairPath(dir, pairEnd))
          val nNew = written.count()
          val compParam = if (nNew > 0) {
            val oldComp = spark.read.parquet(compPath(dir, cv - 1))
            val (merged, sub) = mergeComponents(oldComp,
              written.select(col("doc_a"), col("doc_b")))
            try merged.write.mode("overwrite").parquet(compPath(dir, cv))
            finally sub.unpersist()
            Map("comp_versions" -> (cv + 1))
          } else Map.empty[String, Long] // no new edges: components stand
          val batchParam =
            if (batchId >= 0) Map("last_batch" -> batchId) else Map.empty
          // CAS against the manifest read at entry: a concurrent
          // mutator's commit refuses this one instead of being lost
          ArtifactIO.commitManifest(spark, artifactDir, mf,
            mf.copy(n = mf.n + ni,
              params = mf.params + ("sig_deltas" -> (sd + 1)) +
                ("pair_deltas" -> (pd + 1)) ++ compParam ++ batchParam))
          nNew
        } finally crossCand.unpersist()
      } finally incSig.unpersist()
    } finally incHs.unpersist()
    } // withCommitLease
  }

  /** Fold the accumulated delta dirs into ONE slab per table — the
    * repo's own small-files cure applied to its own artifact (r10
    * verdict #2): a week of streaming ingest is thousands of per-batch
    * delta dirs that every [[load]] mounts and every [[append]]
    * re-scans; after compaction they are one parquet dir each, with
    * contents (and therefore every consumer's results) IDENTICAL.
    *
    * Protocol — the same staged-write + manifest-commit + delete-AFTER
    * ordering as the compactor's snapshot rewrite ([[graft.compact
    * .Orchestrator]] B13) and [[append]]:
    *  1. heal orphans (a crashed prior compaction staged at these slots)
    *  2. write each merged slab to the NEXT uncommitted slot (slot
    *     numbers never reset, so staged data is unambiguous)
    *  3. atomic manifest commit: base jumps past the folded window,
    *     count becomes 1 — readers flip from N dirs to 1 in one step
    *  4. the folded dirs are NOT deleted here: they survive one grace
    *     cycle until the NEXT mutation's heal sweep ([[append]] /
    *     [[delete]] / the next compaction pass `liveBase` to
    *     [[ArtifactIO.healOrphans]]), so a reader that loaded just
    *     before the commit finishes against intact files — the same
    *     in-flight-reader contract as [[AnnIndex.rebuild]]'s superseded
    *     version. Storage stays bounded at ≤ 2 windows.
    * Superseded component versions follow the same grace rule (swept by
    * the next mutation's heal, never at their own commit). A
    * single-delta artifact is a no-op apart from the orphan heal.
    * Returns the committed manifest. */
  /** @param layoutBuckets slab layout for the two probe-joined tables
    *   (postings, bands): −1 (default) PRESERVES the committed
    *   `layout_buckets` — the maintenance semantics every scheduled /
    *   policy-triggered fold wants, so an in-stream compaction never
    *   silently re-lays a bucketed artifact flat; > 0 writes them
    *   Hive-partitioned on pmod(key, layoutBuckets) so small probes
    *   prune to their keys' bucket dirs ([[probeBands]] /
    *   [[probePostings]], r11 verdict #3) — OPT-IN because the layout
    *   has a fixed read-side cost that only amortizes on slabs far
    *   beyond gate scale (measured break-even in BENCH_NOTES;
    *   [[LayoutBuckets]] is the recommended starting value); 0
    *   EXPLICITLY re-folds flat (the layout reset). The manifest
    *   records whichever layout THIS fold used, so readers always
    *   agree with the committed base slab. */
  def compactDeltas(spark: SparkSession, artifactDir: String,
      layoutBuckets: Int = -1): Manifest = {
    val mf = ArtifactIO.readManifest(spark, artifactDir)
    require(mf.family == "dedup",
      s"index at hand is family '${mf.family}', expected 'dedup'")
    require(mf.params.contains("verify_tables"),
      "this dedup artifact predates the stored band/shingle tables - " +
        "rebuild it (compaction folds the persisted verify data)")
    val dir = tableRoot(artifactDir, mf) // tables live under the root
    val (sd, pd, cv) = (mf.params("sig_deltas"), mf.params("pair_deltas"),
      mf.params("comp_versions"))
    val (sb, pb) = (mf.params.getOrElse("sig_base", 0L),
      mf.params.getOrElse("pair_base", 0L))
    val (tb, td) = tombWindow(mf)
    // heal→stage→commit under the commit lease (r14 review #1)
    ArtifactIO.withCommitLease(spark, artifactDir) {
    ArtifactIO.requireUnmoved(spark, artifactDir, mf)
    val pins = ArtifactIO.pinnedManifests(spark, artifactDir)
    ArtifactIO.healOrphans(spark, s"$dir/components.parquet", "v-", cv,
      ArtifactIO.pinnedFloor(pins, "comp_versions", 1L, cv) - 1)
    ArtifactIO.healOrphans(spark, s"$dir/tombstones.parquet", "delta-",
      tb + td, ArtifactIO.pinnedFloor(pins, "tomb_base", 0L, tb))
    // resolve the layout request: −1 preserves the committed layout
    // (the maintenance default — an in-stream/policy fold must never
    // silently re-lay a bucketed artifact flat); explicit 0/N change it
    val effLayout: Int =
      if (layoutBuckets < 0) mf.params.getOrElse("layout_buckets", 0L).toInt
      else layoutBuckets
    // single-slab AND no pending tombstones AND the committed layout
    // already matches the request: nothing to fold. Pending tombstones
    // force a fold even at one slab — compaction is where takedowns
    // become PHYSICAL row drops ([[delete]] step 3) — and a CHANGED
    // layout request (bucketing a flat slab, or re-folding flat to
    // reset it) re-lays the single slab instead of silently ignoring
    // the knob (r12 ADVICE)
    if (sd <= 1 && pd <= 1 && td == 0 &&
      mf.params.getOrElse("layout_buckets", 0L) == effLayout.toLong &&
      mf.params.getOrElse("layout_band_major", 0L) ==
        (if (effLayout > 0) 1L else 0L))
      mf
    else {
    val tombs = tombstonesOf(spark, dir, mf)
    val sbF = ArtifactIO.pinnedFloor(pins, "sig_base", 0L, sb)
    ArtifactIO.healOrphans(spark, s"$dir/signatures.parquet", "delta-",
      sb + sd, sbF)
    ArtifactIO.healOrphans(spark, s"$dir/bands.parquet", "delta-",
      sb + sd, sbF)
    ArtifactIO.healOrphans(spark, s"$dir/shingles.parquet", "delta-",
      sb + sd, sbF)
    ArtifactIO.healOrphans(spark, s"$dir/postings.parquet", "delta-",
      sb + sd, sbF)
    ArtifactIO.healOrphans(spark, s"$dir/pairs.parquet", "delta-",
      pb + pd, ArtifactIO.pinnedFloor(pins, "pair_base", 0L, pb))
    // stage: one slab per table at the next slot, with pending
    // tombstones applied PHYSICALLY (the takedown's row drop happens
    // here, once, instead of on every read). coalesce bounds the
    // slab's file count (delta dirs arrive as 1-file micro-batches;
    // without it the "slab" would keep one file per folded delta)
    val tr = tombRowsOf(mf)
    def fold(pathOf: (String, Long) => String, base: Long, count: Long,
        slot: Long, idCols: String*): Unit = {
      // each fold is a long job; re-verify ownership before the NEXT
      // staged overwrite so a taken-over holder stops between tables
      // instead of clobbering a winner's slots (r14 advisor #1)
      ArtifactIO.requireLeaseOwned(spark, artifactDir)
      minusTombs(
        spark.read.parquet((base until base + count).map(pathOf(dir, _)): _*),
        tombs, tr, idCols: _*)
        .coalesce(32).write.mode("overwrite").parquet(pathOf(dir, slot))
    }
    // the probe-joined tables (bands, postings) may be written BUCKETED
    // (opt-in, scaladoc above). POSTINGS are Hive-partitioned on
    // pmod(key, layoutBuckets): a few-key probe prunes to its keys'
    // bucket directories (r11 verdict #3 — the measured 0.28 s 8-key
    // win at 100×). BANDS get the BAND-MAJOR layout instead (r13
    // verdict #4): a serve probe carries batch × Bands distinct band
    // keys, so hash-bucket dirs made an 8-doc probe mount 128 dirs —
    // per-dir mount overhead × 128 lost to flat at every measured
    // size. Band-major partitions by band_idx ONLY (a probe of ANY
    // batch size mounts ≤ Bands dirs) and does the hash bucketing at
    // the FILE level: rows range-sorted on bvh = xxhash64(band_val)
    // within each band, so the probe's pushed bvh IN-list skips files
    // and row groups via footer min/max — a footer read, not a dir
    // mount, which is what makes the skip free at any B. Reads go
    // through [[readWindow]]/[[probeWindow]] (a prior compaction may
    // have bucketed the current base already — readWindow keys off the
    // OLD manifest for the fold's input, the new one for readers).
    def foldProbeTable(pathOf: (String, Long) => String, base: Long,
        count: Long, slot: Long, cols: Seq[String], key: String): Unit = {
      ArtifactIO.requireLeaseOwned(spark, artifactDir)
      val in = minusTombs(
        readWindow(spark, dir, mf, pathOf, base until base + count, cols),
        tombs, tr, "doc_id")
      if (effLayout > 0 && key == "band_val")
        in.withColumn("bvh", xxhash64(col("band_val")))
          .repartitionByRange(64, col("band_idx"), col("bvh"))
          .sortWithinPartitions(col("band_idx"), col("bvh"))
          .write.partitionBy("band_idx").mode("overwrite")
          .parquet(pathOf(dir, slot))
      else if (effLayout > 0)
        in.withColumn("pb", slabBucket(key, effLayout.toLong))
          .repartition(effLayout, col("pb"))
          .write.partitionBy("pb").mode("overwrite")
          .parquet(pathOf(dir, slot))
      else in.coalesce(32).write.mode("overwrite").parquet(pathOf(dir, slot))
    }
    fold(sigPath, sb, sd, sb + sd, "doc_id")
    foldProbeTable(bandPath, sb, sd, sb + sd,
      Seq("doc_id", "band_idx", "band_val"), "band_val")
    fold(shinglePath, sb, sd, sb + sd, "doc_id")
    foldProbeTable(postingPath, sb, sd, sb + sd, Seq("h", "doc_id"), "h")
    fold(pairPath, pb, pd, pb + pd, "doc_a", "doc_b")
    // commit: the window flips to [end, end+1) atomically; the
    // tombstone window empties (every tombstone is now physical); the
    // layout param records THIS fold's choice (a flat re-fold of a
    // previously bucketed artifact resets it)
    // an EXPLICIT layout request re-sizes the geometry for the corpus
    // at hand — record the n it was sized for ([[bandDriftCheck]]'s
    // baseline); a preserving fold (−1) carries the recorded geom_n
    // (the layout is still the one sized back then — that is exactly
    // what the drift check measures staleness against)
    val geomParam =
      if (layoutBuckets >= 0) Map("geom_n" -> mf.n)
      else mf.params.get("geom_n").map("geom_n" -> _).toMap
    val mf2 = mf.copy(params = mf.params +
      ("sig_base" -> (sb + sd)) + ("sig_deltas" -> 1L) +
      ("pair_base" -> (pb + pd)) + ("pair_deltas" -> 1L) +
      ("tomb_base" -> (tb + td)) + ("tomb_deltas" -> 0L) +
      ("tomb_rows" -> 0L) +
      ("layout_buckets" -> effLayout.toLong) +
      // bands written by THIS fold are band-major when bucketed; a
      // pre-band-major slab (param absent) keeps its hash-dir read
      // path until its next fold rewrites it
      ("layout_band_major" -> (if (effLayout > 0) 1L else 0L)) ++
      geomParam)
    val committed = ArtifactIO.commitManifest(spark, artifactDir, mf, mf2)
    // NO GC here: readers already ignore the folded window, but one
    // that loaded the old manifest just before this commit may still
    // be scanning those files — they get one grace cycle and the next
    // mutation's heal sweeps them (scaladoc step 4)
    committed
    }
    } // withCommitLease
  }

  /** Takedown / PII-removal (r11 verdict #1): remove documents from the
    * artifact WITHOUT a rebuild — the one lifecycle operation every
    * training-data pipeline is legally required to support.
    *
    * Mechanics — a tombstone delta behind the same atomic manifest
    * commit as every other mutation:
    *  1. the removed ids are written as `tombstones.parquet/delta-N`;
    *     the moment the manifest commits, [[load]] anti-joins them into
    *     every table view, so EVERY consumer (serveNearDups, splitFrom,
    *     keepBestFrom, pageRankFrom, RagServe's posting probe) excludes
    *     the docs immediately — no physical rewrite on the takedown path
    *  2. the component table is the one view a lazy filter cannot fix
    *     (removing a bridge doc SPLITS its cluster; removing a min-id
    *     doc relabels it), so delete re-solves exactly the components
    *     the removed docs touch — their live pairs minus pairs at the
    *     removed docs, through the same pointer-jumping loop — and
    *     publishes a new version AT the delete commit. Untouched
    *     components keep their rows byte-identical.
    *  3. [[compactDeltas]] later applies tombstones PHYSICALLY (drops
    *     the rows from every slab) and resets the window to empty —
    *     after which delete-then-compact ≡ rebuild-without-those-docs
    *     is a hash identity for every stored table (TakedownSpec pins
    *     it, consumers included).
    *
    * Cost: column-pruned membership scans plus an O(touched) component
    * re-solve — never the rebuild's shingle/LSH/verify passes or a
    * global re-solve. Crash-safe like [[append]]: tombstone delta and
    * component version are staged at uncommitted slots; a crash leaves
    * orphans the next mutation heals; the retry overwrites them.
    * Deleting ids not (or no longer) in the corpus is a no-op that
    * commits nothing.
    *
    * @param ids one `doc_id` column (extra columns ignored)
    * @param batchId ≥ 0 = the durable streaming replay guard
    *   (`last_delete_batch`, independent of [[append]]'s `last_batch`)
    * @return documents actually removed */
  def delete(ids: DataFrame, artifactDir: String,
      batchId: Long = -1L): Long = {
    val spark = ids.sparkSession
    val mf = ArtifactIO.readManifest(spark, artifactDir)
    require(mf.family == "dedup",
      s"index at hand is family '${mf.family}', expected 'dedup'")
    require(mf.params.contains("verify_tables"),
      "this dedup artifact predates the stored band/shingle tables - " +
        "rebuild it (takedown needs the delta window layout)")
    if (batchId >= 0 &&
      mf.params.get("last_delete_batch").exists(_ >= batchId))
      return 0L // replayed takedown batch: already applied and committed
    // the WHOLE heal→stage→commit section holds the commit lease: the
    // heal sweep and the staged slot numbers come from the manifest
    // read above, and without the lease a stale mutator could delete /
    // overwrite dirs a concurrent winner committed from the same
    // numbers before its own CAS refusal (r14 review #1)
    ArtifactIO.withCommitLease(spark, artifactDir) {
    ArtifactIO.requireUnmoved(spark, artifactDir, mf)
    val dir = tableRoot(artifactDir, mf) // tables live under the root
    val cv = mf.params("comp_versions")
    val (tb, td) = tombWindow(mf)
    val pins = ArtifactIO.pinnedManifests(spark, artifactDir)
    ArtifactIO.healOrphans(spark, s"$dir/tombstones.parquet", "delta-",
      tb + td, ArtifactIO.pinnedFloor(pins, "tomb_base", 0L, tb))
    ArtifactIO.healOrphans(spark, s"$dir/components.parquet", "v-", cv,
      ArtifactIO.pinnedFloor(pins, "comp_versions", 1L, cv) - 1)
    val ix = load(spark, artifactDir) // prior tombstones excluded here
    // docs that actually exist and aren't already tombstoned; the
    // signature probe is a column-pruned semi join (doc_id only —
    // parquet never materializes the signature arrays). The removal
    // batch is caller-supplied and NOT assumed queue-sized: one cheap
    // count at entry feeds the sizedHint ladder, so a bulk takedown
    // ("remove every doc from this domain" — millions of ids) rides a
    // shuffle join instead of being forced into the driver (r13
    // verdict "what's wrong" #1; BulkTakedownSpec pins the shape)
    val idSet = ids.select(col("doc_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nIds = idSet.count()
    val removed = ix.signatures.select(col("doc_id"))
      .join(idSideHint(idSet, nIds), Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nRemoved = removed.count()
    try {
      if (nRemoved == 0) 0L // nothing lives to remove: no commit
      else {
      // stage 1: the tombstone delta at the next uncommitted slot —
      // re-verify ownership first: the id-resolution joins above can
      // outlive the TTL, and a stale overwrite of a takeover winner's
      // tombstone slot is a silently lost takedown (r14 advisor #1)
      ArtifactIO.requireLeaseOwned(spark, artifactDir)
      removed.write.mode("overwrite").parquet(tombPath(dir, tb + td))
      // stage 2: re-solve ONLY the touched components from the live
      // pair graph (minus pairs at removed docs). The removal set and
      // the touched-component LIST are bounded by nRemoved, but the
      // touched components' MEMBERSHIP is not — a takedown hitting a
      // boilerplate mega-component (the cluster shape C4-scale corpora
      // produce) can pull in millions of docs, so every join side here
      // rides the sizedHint ladder on an EXACT count instead of a bare
      // broadcast (r12 verdict "what's wrong" #1; MutatorRaceSpec's
      // sibling MegaComponentSpec pins the plan)
      def hinted(df: DataFrame, rows: Long): DataFrame =
        DedupQueries.sizedHint(df, rows, 16L)
      val affectedComps = ix.components
        .join(hinted(removed.select(col("doc_id").as("id")), nRemoved),
          Seq("id"), "left_semi")
        .select(col("component")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val affectedDocs = ix.components
        .join(hinted(affectedComps, nRemoved), Seq("component"), "left_semi")
        .select(col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // everything that can fail (the count job, the re-solve, the
      // version write) runs inside the pins' try — a mid-re-solve
      // failure (the retried-batch path on a streaming sink) must not
      // leak two cached membership datasets per attempt
      try {
        // one column-pruned count buys the right strategy for the
        // membership-sized joins below (broadcast when genuinely small,
        // shuffle_hash / sort-merge when a mega-component made it huge)
        val nAffected = affectedDocs.count()
        val keepEdges = ix.pairs
          .join(hinted(affectedDocs.select(col("id").as("doc_a")),
            nAffected), Seq("doc_a"), "left_semi")
          .join(hinted(removed.select(col("doc_id").as("doc_a")), nRemoved),
            Seq("doc_a"), "left_anti")
          .join(hinted(removed.select(col("doc_id").as("doc_b")), nRemoved),
            Seq("doc_b"), "left_anti")
          .select(col("doc_a"), col("doc_b"))
        val sub = Components.connectedComponents(keepEdges)
        val merged = ix.components
          .join(hinted(affectedComps, nRemoved), Seq("component"),
            "left_anti")
          .select(col("id"), col("component"))
          .unionAll(sub.select(col("id"), col("component")))
        try {
          ArtifactIO.requireLeaseOwned(spark, artifactDir)
          merged.write.mode("overwrite").parquet(compPath(dir, cv))
        } finally sub.unpersist()
      } finally {
        affectedComps.unpersist(); affectedDocs.unpersist()
      }
      // commit: tombstones + new component version + corrected n land
      // in one atomic manifest write, CAS-guarded against a concurrent
      // mutator (a silently lost takedown commit is a legal hazard)
      val batchParam = if (batchId >= 0)
        Map("last_delete_batch" -> batchId) else Map.empty[String, Long]
      // exact live-tombstone accounting for the readers' join ladder. A
      // pre-accounting artifact (tomb_rows absent) must NOT stay
      // unknown past this commit: unknown keeps the legacy broadcast,
      // so after a bulk delete every reader would broadcast a
      // millions-of-rows window — count the existing window ONCE (one
      // cheap doc_id count over the tombstone deltas) and commit the
      // exact total (r14 advisor #2)
      val prevRows = tombRowsOf(mf)
      val priorWindow =
        if (prevRows >= 0) prevRows
        else tombstonesOf(spark, dir, mf)
          .map(_.select(col("doc_id")).count()).getOrElse(0L)
      val rowsParam = Map("tomb_rows" -> (priorWindow + nRemoved))
      ArtifactIO.commitManifest(spark, artifactDir,
        mf, mf.copy(n = mf.n - nRemoved,
          params = mf.params + ("comp_versions" -> (cv + 1)) +
            ("tomb_base" -> tb) + ("tomb_deltas" -> (td + 1)) ++
            rowsParam ++ batchParam))
      nRemoved
      }
    } finally { removed.unpersist(); idSet.unpersist() }
    } // withCommitLease
  }

  /** (live delta count, bytes of the delta dirs ABOVE each base slab) —
    * what a [[CompactionPolicy]] triggers on. The count comes from the
    * manifest alone (sig window + pending tombstones — both are dirs a
    * reader must mount/anti-join until folded); the bytes argument of
    * the pair is LAZY via the returned thunk's caller: compute it only
    * when a byte bound is set. */
  def deltaWindowStats(spark: SparkSession,
      artifactDir: String): (Long, () => Long) = {
    val mf = ArtifactIO.readManifest(spark, artifactDir)
    val dir = tableRoot(artifactDir, mf) // tables live under the root
    val (sd, pd) = (mf.params("sig_deltas"), mf.params("pair_deltas"))
    val (sb, pb) = (mf.params.getOrElse("sig_base", 0L),
      mf.params.getOrElse("pair_base", 0L))
    val (tb, td) = tombWindow(mf)
    val live = sd + td
    val bytes = () => CompactionPolicy.bytesUnder(spark,
      ((sb + 1) until sb + sd).flatMap(i => Seq(sigPath(dir, i),
        bandPath(dir, i), shinglePath(dir, i), postingPath(dir, i))) ++
        ((pb + 1) until pb + pd).map(pairPath(dir, _)) ++
        (tb until tb + td).map(tombPath(dir, _)))
    (live, bytes)
  }

  /** The slab layout the measured crossovers recommend for a corpus of
    * `n` documents — the dedup artifact's one genuinely n-sensitive
    * geometry knob. The MinHash band geometry itself (Bands × Rows) is
    * n-INVARIANT by construction (a chance pair collides per band with
    * probability s^Rows, independent of corpus size), but the SERVING
    * layout is not: `layout_buckets` sets the postings hash-dir count
    * (per-probe candidate load ∼ n / buckets) and gates the band-major
    * band slab, both sized at fold time — a corpus 10× its fold-time n
    * serves 10× the per-bucket rows at the stale count. Rule, anchored
    * on the measured runs (flat parity at 500k docs / band-major WIN at
    * 5M; the 64-bucket postings win at 500k ⇒ ~8k docs per bucket):
    * flat below ~32k docs (bucketing overhead beats the win there),
    * else the next power of two of n / `docsPerBucket`, capped at 4096
    * (the probe IN-list pushdown bound). */
  def autoLayoutBuckets(n: Long, docsPerBucket: Long = 8192L): Int = {
    require(docsPerBucket > 0, s"docsPerBucket must be positive")
    val want = (math.max(0L, n) + docsPerBucket - 1) / docsPerBucket
    if (want <= 4) 0 // tiny corpus: flat slab is the measured winner
    else {
      var b = 8
      while (b < want && b < 4096) b <<= 1
      b
    }
  }

  /** What [[bandDriftCheck]] measured — all from the manifest, no data
    * scan: the corpus size the committed layout was sized for, the live
    * size (maintained exactly through appends/deletes), the recorded
    * and now-recommended bucket counts, whether the gap is beyond
    * rounding (the [[retuneBandLayout]] trigger), and the way out. */
  final case class BandDrift(geomN: Long, liveN: Long,
      recordedBuckets: Long, recommendedBuckets: Long, drifted: Boolean,
      recommendation: String)

  /** Band-layout drift detection (r14 verdict #3 — the dedup twin of
    * [[AnnIndex.recallCheck]]): compare the live corpus size against
    * the size the committed slab layout was sized for, and the bucket
    * count the auto-sizer would pick NOW against the recorded one.
    * Costs one manifest read — `n` is exact delta accounting (every
    * append adds, every delete subtracts), so no corpus scan happens.
    * `drifted` fires when the recommended and recorded counts are ≥ 2
    * power-of-two steps apart (4×) — one step is rounding jitter a
    * small append can cause; two means the corpus moved ≥ ~an order of
    * magnitude past the layout's design point (a 10×-appended corpus
    * trips, a 1.2× append does not; BandDriftSpec pins both). */
  def bandDriftCheck(spark: SparkSession, artifactDir: String,
      docsPerBucket: Long = 8192L): BandDrift = {
    val mf = ArtifactIO.readManifest(spark, artifactDir)
    require(mf.family == "dedup",
      s"index at hand is family '${mf.family}', expected 'dedup'")
    val geomN = mf.params.getOrElse("geom_n", -1L)
    val recorded = mf.params.getOrElse("layout_buckets", 0L)
    val recommended = autoLayoutBuckets(mf.n, docsPerBucket).toLong
    // max(1, ·) folds the flat layout (0) into the ladder as "one
    // bucket", so flat-past-the-crossover and bucketed-past-its-size
    // drift on the same ratio rule
    val (lo, hi) = (math.min(math.max(1L, recorded),
      math.max(1L, recommended)),
      math.max(math.max(1L, recorded), math.max(1L, recommended)))
    val drifted = hi >= 4L * lo
    val recommendation =
      if (!drifted) ""
      else if (recommended > recorded)
        s"corpus grew to ${mf.n} docs (layout sized for " +
          s"${if (geomN >= 0) geomN else "an unrecorded n"}): re-fold " +
          s"with layout_buckets=$recommended (retuneBandLayout) to " +
          "restore the per-bucket candidate load"
      else
        s"corpus shrank to ${mf.n} docs: re-fold with layout_buckets=" +
          s"$recommended (retuneBandLayout) - the over-split slab pays " +
          "per-dir mount overhead with no skipping win"
    BandDrift(geomN, mf.n, recorded, recommended, drifted, recommendation)
  }

  /** [[compactDeltas]] at the auto-sized layout (r14 verdict #3's
    * retune composition): re-band the slab for the corpus AS IT IS NOW
    * and re-record `geom_n`. A pure re-layout — candidate/verify
    * content is unchanged (the compactDeltas identity), only the
    * per-bucket load returns to the design point. This is what a
    * tripped [[bandDriftCheck]] asks for; unlike the ANN side no
    * quantizer re-fit is ever needed, because the MinHash geometry
    * itself does not drift. */
  def retuneBandLayout(spark: SparkSession, artifactDir: String,
      docsPerBucket: Long = 8192L): Manifest = {
    val n = ArtifactIO.readManifest(spark, artifactDir).n
    compactDeltas(spark, artifactDir,
      layoutBuckets = autoLayoutBuckets(n, docsPerBucket))
  }

  /** Incremental connected components: new edges can only change the
    * components they TOUCH, so re-solve exactly those — each affected
    * old component collapses to star edges (member → its min-id label,
    * self row dropped), unioned with the new pairs, through the same
    * [[Components]] pointer-jumping loop. Labels are min-reachable-id,
    * a pure function of the graph, so incremental ≡ one-shot by
    * construction (DedupIndexSpec pins it). Returns (merged table,
    * the sub-solve's caller-owned cache pin). */
  private def mergeComponents(oldComp: DataFrame,
      newPairs: DataFrame): (DataFrame, DataFrame) = {
    val touched = newPairs.select(col("doc_a").as("id"))
      .unionAll(newPairs.select(col("doc_b").as("id"))).distinct()
    val touchedComps = oldComp.join(touched, Seq("id"), "left_semi")
      .select(col("component")).distinct()
    val affected = oldComp.join(touchedComps, Seq("component"), "left_semi")
    val starEdges = affected.filter(col("id") =!= col("component"))
      .select(col("id").as("doc_a"), col("component").as("doc_b"))
    val sub = Components.connectedComponents(
      starEdges.unionAll(newPairs.select(col("doc_a"), col("doc_b"))))
    val merged = oldComp.join(touchedComps, Seq("component"), "left_anti")
      .select(col("id"), col("component"))
      .unionAll(sub.select(col("id"), col("component")))
    (merged, sub)
  }

  /** Rebuild the artifact from the CURRENT corpus and swap it in
    * atomically — the [[AnnIndex.rebuild]] maintenance call for the
    * dedup family: months of appends/takedowns accumulate incremental
    * component versions and tombstone history, and geometry changes
    * (shingle width, band count via code upgrade) are impossible
    * in-place. Without this the only route is a caller-coordinated
    * directory swap with no crash safety.
    *
    * Protocol — the version-dir variant of the shared commit:
    *  1. sweep version dirs that never committed; once a version is
    *     live, also sweep the superseded flat build-layout tables
    *  2. [[build]] a COMPLETE new artifact into the next `v-NNNNN` dir
    *     (byte-identical to a fresh build on the same corpus,
    *     DedupRebuildSpec pins it)
    *  3. commit: the ROOT manifest adopts the new counts with a
    *     `version` pointer — readers flip old→new in one atomic step;
    *     BOTH streaming replay guards (`last_batch`,
    *     `last_delete_batch`) carry over; the tombstone window does NOT
    *     (the caller's corpus is the takedown authority)
    *  4. the superseded version survives until the next rebuild's sweep
    *     (step 1) so in-flight readers finish against intact files —
    *     storage bounded at ≤ 2 versions
    * Every mutation and read resolves tables through the version
    * pointer, so append/compact/delete/serve keep working unchanged on
    * a rebuilt artifact. */
  def rebuild(docs: DataFrame, artifactDir: String,
      nHint: Long = -1L): Manifest = {
    val spark = docs.sparkSession
    val mf = ArtifactIO.readManifest(spark, artifactDir)
    require(mf.family == "dedup",
      s"index at hand is family '${mf.family}', expected 'dedup'")
    val cur = mf.params.getOrElse("version", 0L) // 0 = flat build layout
    val next = cur + 1
    val fs = new org.apache.hadoop.fs.Path(artifactDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the whole sweep→build→commit runs LEASED (r14 verdict #2): the
    // heartbeat renews the lock for the re-fit's full duration, so the
    // sweep can't race a concurrent mutation's staged dirs and the TTL
    // stays a crash detector, not a cap on build length
    ArtifactIO.withCommitLease(spark, artifactDir) {
    ArtifactIO.requireUnmoved(spark, artifactDir, mf)
    // sweep: staged versions that never committed; plus the flat layout
    // once some version is live (superseded by an earlier swap). Live
    // reader pins extend the grace cycle — a pinned version (or the
    // flat layout) survives until released/expired (r14 verdict #4)
    val pins = ArtifactIO.pinnedManifests(spark, artifactDir)
    val keepAll = pins.exists(_.family == "pinned-unreadable")
    val keep = pins.map(_.params.getOrElse("version", 0L)).toSet + cur
    if (!keepAll) {
      fs.listStatus(new org.apache.hadoop.fs.Path(artifactDir))
        .map(_.getPath).filter { p =>
          val s = p.getName.stripPrefix("v-")
          p.getName.startsWith("v-") && s.nonEmpty && s.forall(_.isDigit) &&
            !keep.contains(s.toLong)
        }.foreach(fs.delete(_, true))
      if (cur > 0 && !keep.contains(0L))
        Seq("signatures", "bands", "shingles", "postings", "pairs",
          "components", "tombstones").foreach(t =>
          fs.delete(new org.apache.hadoop.fs.Path(artifactDir,
            s"$t.parquet"), true))
    }
    // stage: a complete self-contained artifact in the next version dir
    val sub = build(docs, versionDir(artifactDir, next), nHint)
    // commit: the root manifest adopts it with the version pointer
    val guards = Seq("last_batch", "last_delete_batch")
      .flatMap(k => mf.params.get(k).map(k -> _)).toMap
    val mf2 = sub.copy(params = sub.params + ("version" -> next) ++ guards)
    // CAS against the manifest read at entry: an append/delete that
    // committed while the new version was building (its data is NOT in
    // the rebuilt tables, and its replay guard is fresher than the one
    // carried over) refuses this commit instead of being silently lost
    ArtifactIO.commitManifest(spark, artifactDir, mf, mf2)
    } // withCommitLease
  }

  /** Query a batch of NEW documents against the stored corpus WITHOUT
    * mutating the artifact — ingest-time "have we already got this (or
    * nearly this)?" as a read-only call: [[append]]'s bipartite
    * candidate + verify halves with no writes, and no corpus text
    * anywhere. Candidates come from the batch's bands against the
    * STORED band table; the exact verify reads the STORED hashed
    * shingle sets of candidate docs only (one semi join on the shingle
    * table — per-call cost bounded by the candidates, flat in the
    * corpus size). The match set is identical to the d16 cross-dedup
    * operator on the same inputs (DedupIndexSpec pins it). Caller
    * contract: query doc_ids are disjoint from the corpus.
    *
    * @return (inc_id, corpus_id, inter, uni, jaccard) at J ≥ 0.5 */
  def serveNearDups(queries: DataFrame, ix: LoadedDedup,
      nHint: Long = -1L): DataFrame = {
    val ni = if (nHint > 0) nHint else queries.count()
    val qHs = DedupQueries.hashedShingleSets(queries)
      .persist(StorageLevel.MEMORY_AND_DISK)
    qHs.count() // sig derivation + verify leg read it
    try {
      val qBands = DedupQueries.sigBandRows(
        DedupQueries.minhashSigArrFromHashes(qHs)).drop("sig")
      // the candidate join goes through [[probeBands]] with the
      // probe's own band-row bound as keysHint: on a BUCKETED slab
      // (the owner opted in at compaction) a small probe mounts only
      // its buckets' directories — since probeWindow reads probed dirs
      // directly, the fixed cost is ≤ keysHint existence RPCs + one
      // bucket collect, and the full-slab discovery (seconds at
      // B=4096, BENCH_NOTES Round 15 and Round 16 slab sections) is
      // never paid. Flat artifacts (the
      // gate-scale default) fall back to the identical full view at
      // zero extra cost.
      val cand = DedupQueries
        .sizedHint(qBands, ni * DedupQueries.Bands, 128).as("a")
        .join(probeBands(ix, qBands, ni * DedupQueries.Bands).as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      cand.count() // candidate-id pull + verify join both read it
      try {
        val candIds = cand.select(col("doc_b").as("doc_id")).distinct()
        val nCand = candIds.count()
        val corpusCandHs = ix.shingleSets
          .join(candIds, Seq("doc_id"), "left_semi")
        DedupQueries.jaccardVerifyHashed(cand,
            qHs.unionByName(corpusCandHs), ni + nCand)
          .select(col("doc_a").as("inc_id"), col("doc_b").as("corpus_id"),
            col("inter"), col("uni"), col("jaccard"))
          // localCheckpoint: the result must outlive the candidate/sig
          // pins released below (read-only call, nothing stays cached)
          .localCheckpoint(true)
      } finally cand.unpersist()
    } finally qHs.unpersist()
  }

  // ---- consumers of the loaded artifact --------------------------------
  // Each is the gate query's own factored half pointed at the stored
  // table — loaded ≡ built is an identity, not an approximation.

  /** q56's dedup-aware train/val/test split from the stored component
    * table — the component build (q56's wall) is not re-paid. */
  def splitFrom(docs: DataFrame, ix: LoadedDedup): DataFrame =
    DedupQueries.dedupSplitFromComponents(docs, ix.components)

  /** d10's quality-aware cluster canonicalization from the stored
    * component table. */
  def keepBestFrom(docs: DataFrame, ix: LoadedDedup,
      nHint: Long = -1L): DataFrame =
    DedupQueries.keepBestFromComponents(docs, ix.components, nHint)

  /** p1's centrality over the stored pair graph (caller owns the
    * returned frame's cache — the PageRank contract). */
  def pageRankFrom(ix: LoadedDedup, iters: Int = 5): DataFrame =
    PageRank.pageRank(ix.pairs.select(col("doc_a"), col("doc_b")), iters)

  /** p3's communities over the stored pair graph (caller owns the
    * returned frame's cache — the LabelProp contract). */
  def labelPropFrom(ix: LoadedDedup, rounds: Int = 3): DataFrame =
    LabelProp.propagate(ix.pairs.select(col("doc_a"), col("doc_b")), rounds)
}
