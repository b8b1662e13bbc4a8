package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's public face — what a kompactor user (or a training-data
  * pipeline) calls directly, without going through the driver-contract
  * query registry. Everything delegates to the tested operator objects;
  * column contracts are documented per method and every underlying
  * pipeline is oracle- or property-gated (see SparkEntry / the test
  * suites).
  *
  * The full declared surface — 128 oracle-gated queries over the
  * reference parity ops, TPC-H-shaped relational coverage, time-series,
  * text analysis, multimodal and streaming families — is enumerated in
  * [[SparkEntry.queries]]; this facade exposes the operations with a
  * natural DataFrame-in/DataFrame-out signature.
  */
object Graft {

  /** Facade cache contract: pipelines that pin intermediate sketch tables
    * (LSH signatures, band tables, component rounds) materialize their
    * result eagerly (`localCheckpoint`) and RELEASE those intermediates
    * before returning — a facade call never leaves hidden entries in the
    * session cache. The returned DataFrame is self-contained: its storage
    * lives with the DataFrame and is garbage-collected with it. */
  private def materialized(result: (DataFrame, Seq[DataFrame])): DataFrame = {
    val out = result._1.localCheckpoint(true)
    result._2.foreach(_.unpersist())
    out
  }

  /** [[materialized]] for an operator whose result IS its only pin (the
    * graph loops return their last round's cache). */
  private def materialized(cached: DataFrame): DataFrame =
    materialized((cached, Seq(cached)))

  // ---- reference parity: the compactor ---------------------------------

  /** Run the InfluxDB3-layout Parquet + snapshot compactor (the
    * reference's whole program, crash-safe ordering + verified commits).
    */
  def runCompaction(spark: SparkSession,
      config: compact.CompactConfig): Seq[compact.HostReport] =
    new compact.Orchestrator(spark, config).run()

  // ---- dedup family (docs: columns `doc_id` long, `text` string) -------

  /** Exact duplicate groups by whitespace-normalized content hash:
    * (text_fp, keep_id, n_copies). */
  def exactDupGroups(docs: DataFrame): DataFrame =
    queries.DedupQueries.exactDedup(docs)

  /** MinHash signature matrix (doc_id, s0..s15) — the reusable sketch
    * table of the near-dup pipeline. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    queries.DedupQueries.minhashSigs(docs)

  /** Near-duplicate pairs: banded MinHash-LSH candidates verified by
    * exact shingle Jaccard ≥ 0.5 — (doc_a, doc_b, inter, uni, jaccard).
    * Eagerly materialized (see the facade cache contract above). */
  def nearDupPairs(docs: DataFrame): DataFrame =
    materialized(queries.DedupQueries.jaccardPairsPinned(docs))

  /** 60-bit SimHash fingerprint per document: (doc_id, simhash). */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    queries.DedupQueries.simhash(docs)

  /** Asymmetric containment pairs on the LSH candidates:
    * (doc_a, doc_b, inter, n_a, n_b, cont_a, cont_b) where
    * cont_a = |A∩B|/|A| — the subset-duplication gate (a short doc
    * wholly quoted inside a long one scores cont≈1 at low Jaccard).
    * Eagerly materialized (facade cache contract). */
  def containmentPairs(docs: DataFrame): DataFrame =
    materialized(queries.DedupQueries.containmentPairsPinned(docs))

  /** FULL-RECALL containment join: every pair with max-containment ≥
    * `theta` — same columns as [[containmentPairs]]. Candidates come from
    * a deterministic prefix filter (each doc's ⌊(1−θ)·|A|⌋+1 rarest
    * shingles probe the full posting list), so small-inside-large
    * duplication — quotes, boilerplate inclusion — is recalled at 100% by
    * pigeonhole, independent of the pair's (low) Jaccard. Use this when
    * containment is the gate; use [[containmentPairs]] only to reuse an
    * already-built MinHash sketch. Eagerly materialized (facade cache
    * contract). */
  def containmentJoin(docs: DataFrame, theta: Double = 0.6): DataFrame =
    materialized(queries.DedupQueries.containmentJoinPinned(docs, theta))

  /** Embedding near-duplicate pairs (emb: `vec_id` long, `embedding`
    * array<float>): banded sign-projection LSH candidates + exact
    * quantized cosine ≥ threshold. Use wide bands (few rowBits) for low
    * thresholds, narrow bands (e.g. 16 bits × 8 bands) for production
    * 0.9-style thresholds. Pass `dim` (the embedding width) to skip the
    * one-job probe and `nHint` (approximate row count) to skip the
    * pre-flight count.
    *
    * PRE-FLIGHT GUARD: before any shuffle is planned the call computes
    * the closed-form chance-candidate volume n²·bands·2^-rowBits/2 and
    * refuses configs over `candidateBudget` (default 2e9 rows) with an
    * error naming the scale-safe auto-tuning — a low-threshold wide-band
    * config on a large corpus is an all-pairs join that fills the disk,
    * and the refusal happens before a single task runs. Pass
    * `force = true` (or raise the budget) to run anyway. Eagerly
    * materialized (facade cache contract). */
  def embeddingNearDups(emb: DataFrame, bands: Int = 32, rowBits: Int = 4,
      threshold: Double = 0.45, dim: Int = -1, nHint: Long = -1L,
      force: Boolean = false,
      candidateBudget: Double = queries.DedupQueries.DefaultCandidateBudget): DataFrame =
    materialized(queries.DedupQueries.embNearDupBandedPinned(
      emb, bands, rowBits, threshold, dim, nHint, force, candidateBudget))

  /** [[embeddingNearDups]] with AUTO-TUNED banding — no manual knobs to
    * get wrong per corpus size. `rowBits = ⌈log₂ n⌉ + 2` holds the chance
    * candidate load per vector flat as the corpus grows (the round-3
    * octave gate's measured scaling law); bands are sized so a pair AT
    * the threshold is recalled with probability ≥ `targetRecall` (pairs
    * above it do better). Pass `nHint` (approximate row count) to skip
    * the counting job, `dim` to skip the width probe.
    *
    * RECALL ENVELOPE: bands are capped at 128, so the ≥ `targetRecall`
    * contract holds for roughly n ≲ 8e6 at threshold 0.9, n ≲ 3e4 at
    * 0.8, n ≲ 4e3 at 0.7 (at the default 0.9 target) — outside it the
    * call still runs but logs a WARNING with the achieved recall. Eagerly
    * materialized (facade cache contract). */
  def embeddingNearDupsAuto(emb: DataFrame, threshold: Double = 0.9,
      targetRecall: Double = 0.9, nHint: Long = -1L, dim: Int = -1): DataFrame = {
    val n = if (nHint > 0) nHint else emb.count()
    val (bands, rowBits) =
      queries.DedupQueries.autoBandParams(n, threshold, targetRecall)
    materialized(queries.DedupQueries.embNearDupBandedPinned(
      emb, bands, rowBits, threshold, dim, nHint = n))
  }

  /** Quality-aware cluster canonicalization: near-dup clusters (connected
    * components over verified Jaccard pairs) each keep their LONGEST
    * member, ties to the smallest doc_id —
    * (component, keep_id, keep_chars, n_members, sum_chars).
    * Eagerly materialized (facade cache contract). */
  def keepBestPerCluster(docs: DataFrame): DataFrame =
    materialized(queries.DedupQueries.keepBestPinned(docs))

  /** Cross-corpus near-dup join — dedup a crawl INCREMENT against the
    * already-accepted corpus (the nightly-ingest shape): bipartite banded
    * MinHash-LSH candidates + exact shingle-Jaccard verify, returning
    * (inc_id, corpus_id, inter, uni, jaccard) at jaccard ≥ 0.5.
    * Anti-join the increment on inc_id to admit only novel docs. The
    * increment's band table broadcasts under the size bound, so the
    * corpus side ships nothing into the candidate join; at scale the
    * corpus signature table is the write-once sketch stage. */
  def crossNearDupPairs(increment: DataFrame, corpus: DataFrame,
      incrementHint: Long = -1L, corpusHint: Long = -1L): DataFrame =
    materialized(queries.DedupQueries.crossNearDupsPinned(increment, corpus,
      incrementHint, corpusHint))

  /** Edit-distance (Levenshtein) verification on the MinHash-LSH
    * candidates — the position-sensitive third lens after Jaccard
    * ([[nearDupPairs]]) and containment ([[containmentJoin]]): separates
    * in-place edits (high edit_sim) from reorderings that fool a
    * bag-of-shingles Jaccard. (doc_a, doc_b, edit_dist, max_len,
    * edit_sim) at edit_sim ≥ 0.5; the O(len²) DP runs only on candidate
    * pairs, never all-pairs. Eagerly materialized (facade cache
    * contract). */
  def editDistancePairs(docs: DataFrame, nHint: Long = -1L): DataFrame =
    materialized(queries.DedupQueries.editDistancePairsPinned(docs, nHint))

  /** Deterministic distributed k-means over quantized embeddings —
    * exact int64 Lloyd's (hash-stride seeds, broadcast centroids ≤ ~50k
    * at 64 dims, map-side-combined argmin): the final
    * (vec_id, cell, dist) assignment after `updates` Lloyd rounds.
    * Assign cost is the only n·k term; the update shuffle is n·dim
    * partial sums (measured flat at the 100× octave — BENCH_NOTES). */
  def kMeansAssign(emb: DataFrame, k: Int, updates: Int = 1,
      nHint: Long = -1L): DataFrame = {
    val (asg, _) = operators.KMeans.fit(
      operators.KMeans.prepare(emb), k, updates, nHint)
    asg.select("vec_id", "cell", "dist")
  }

  /** SemDeDup (Abbas et al. 2023): a vector is a semantic duplicate iff
    * a LOWER-id member of its own k-means cell sits above the cosine
    * threshold — (vec_id, cell, dup_of) with dup_of the smallest
    * witness; anti-join on vec_id to drop dups. Size k ~ √n: within-cell
    * verify volume is then n²/(2k) = n^1.5/2 (measured ON that curve at
    * 1×/10×/100× — BENCH_NOTES). */
  def semanticDups(emb: DataFrame, k: Int, threshold: Double = 0.9,
      updates: Int = 1, nHint: Long = -1L): DataFrame =
    materialized(queries.SimilarityQueries.semanticDedupOnPinned(
      emb, k, threshold, updates, nHint))

  /** [[semanticDups]]'s SCALE configuration (r14 verdict #8): per
    * k-means cell only the `qPerCell` lowest-id members act as
    * witnesses (the s6 bipartite shape), so candidate volume is
    * n·qPerCell and assign work n·k — both linear in n at fixed
    * knobs, the 100-TB regime. Result ⊆ [[semanticDups]]; equal when
    * qPerCell covers the largest cell. Measured on the linear band at
    * 150k→2.4M vectors (BENCH_NOTES).
    *
    * `k <= 0` (the default) AUTO-SIZES the cell count to ceil(√n)
    * (r15 verdict #4): a fixed k drifts as the corpus grows — cells
    * fill as n/k and witness coverage qPerCell/|cell| decays as 1/n,
    * silently weakening recall; at k = √n coverage decays only as
    * n^-1/2 and the assign pass stays in s3's n^1.5 class
    * (SemDeDupAutoKSpec: planted-dup recall at 1×/10×). Pass an
    * explicit k to pin a layout (e.g. to match a recorded run). */
  def semanticDupsBucketed(emb: DataFrame, k: Int = -1, qPerCell: Int = 16,
      threshold: Double = 0.9, updates: Int = 1,
      nHint: Long = -1L): DataFrame =
    materialized(queries.SimilarityQueries.semanticDedupBucketedOnPinned(
      emb, k, qPerCell, threshold, updates, nHint))

  /** The Gopher quality-rule gate as one per-row pass: (doc_id, n_words,
    * flags, keep) where `flags` is the failed-rule bitmask (word count,
    * mean word length, symbol ratio, bullet/ellipsis lines, alpha-word
    * ratio, stopword floor) and keep = flags == 0. Pure scalar pipeline:
    * one scan, zero shuffles. */
  def gopherFilter(docs: DataFrame): DataFrame =
    queries.TextQueries.gopherFilterOn(docs)

  /** Misra–Gries heavy hitters over any column: at most `k` counters,
    * (value, est) with est ≤ true count ≤ est + n/(k+1) and every value
    * above n/(k+1) guaranteed present. Mergeable across any
    * partitioning (the subtract-(k+1)th merge rule) — bounded memory at
    * any scale. */
  def approxHeavyHitters(df: DataFrame, column: String, k: Int = 16): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    df.agg(graft.functions.MisraGriesAgg.heavyHitters(k)(col(column)).as("mg"))
      .select(explode(col("mg.counters")).as(Seq("value", "est")))
  }

  /** Connected components over an undirected pair list (two long
    * columns) → (id, component): the keep-one-per-cluster step.
    * Pointer-jumping label propagation, O(log diameter) rounds.
    * Eagerly materialized (facade cache contract) — the last round's
    * cache is released before returning. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    materialized(operators.Components.connectedComponents(pairs))

  // ---- similarity search (emb: `vec_id` long, `embedding` array<float>)

  /** Exact cosine top-k: the query subset (`vec_id < nQueries`) is
    * broadcast against all candidates; the big side never shuffles. */
  def cosineTopK(emb: DataFrame, nQueries: Int = 32, topK: Int = 3): DataFrame =
    queries.SimilarityQueries.cosineTopK(emb, nQueries, topK)

  /** ANN via sign-projection LSH buckets: candidates share a masked
    * signature (~64 vectors per bucket at any corpus size, equi-join by
    * bucket), exact cosine ranks within. Multi-probe: each query also
    * probes its `nProbe−1` Hamming-adjacent buckets (single-bit flips) —
    * recall rises with nProbe at a bounded ×nProbe candidate cost, the
    * same dial as ivfTopK's nprobe. Pass `dim` (the embedding width) to
    * skip the one-job probe; pass `nHint` (approximate row count) for a
    * static bucket mask — without it the mask width is derived from a
    * 1-row count aggregate inside the plan, so there is no separate
    * counting job either way. */
  def annTopK(emb: DataFrame, topK: Int = 3, dim: Int = -1,
      nHint: Long = -1L, nProbe: Int = 4): DataFrame =
    queries.SimilarityQueries.annLsh(emb, topK, dim, nHint, nProbe)

  /** IVF-style ANN top-k: deterministic hash-sampled centroids
    * (~√n cells), vectors stored in their nearest centroid's cell, each
    * query probing its `nProbe` nearest cells (FAISS nprobe — recall
    * rises with nProbe at a bounded ×nProbe candidate cost), exact
    * cosine top-k within the probed cells. The inverted-file layout:
    * centroid broadcast + one shuffle by cell — the 100 TB shape. Pass
    * `nHint` for a static cell count (else it is derived in-plan).
    * Eagerly materialized: the pinned IVF assignment table is released
    * before returning (facade cache contract above). */
  def ivfTopK(emb: DataFrame, topK: Int = 3, nHint: Long = -1L,
      nProbe: Int = 4): DataFrame =
    materialized(
      queries.SimilarityQueries.ivfTopKPinned(emb, topK, nHint, nProbe))

  // ---- ANN index artifacts (build once, serve many) ----------------------

  /** Build the persistent index artifact for one ANN family under `dir`
    * (parquet tables + manifest.json — any Hadoop-visible filesystem):
    * family ∈ {"lsh", "ivf", "pq", "sq8", "ivfpq"} selects s2
    * signatures / s3 inverted file + centroids / s5 codes + codebook /
    * s8 per-dim stats / s10 coarse cells + residual codes + codebook.
    * ONE corpus scan per build; every later query batch reads the
    * artifact instead of rebuilding it ([[operators.AnnIndex]] — the
    * loaded query half is the identical implementation as the inline
    * s2/s3/s5/s8/s10 queries, pinned loaded ≡ built by AnnIndexSpec). */
  def buildAnnIndex(emb: DataFrame, dir: String, family: String,
      dim: Int, nHint: Long = -1L): operators.AnnIndex.Manifest =
    family match {
      case "lsh" => operators.AnnIndex.buildLsh(emb, dir, dim, nHint)
      case "ivf" => operators.AnnIndex.buildIvf(emb, dir, dim, nHint)
      case "pq"  => operators.AnnIndex.buildPq(emb, dir, dim, nHint = nHint)
      case "sq8" => operators.AnnIndex.buildSq(emb, dir, dim, nHint)
      case "ivfpq" => operators.AnnIndex.buildIvfPq(emb, dir, dim, nHint = nHint)
      case other => throw new IllegalArgumentException(
        s"unknown ANN index family '$other' (lsh | ivf | pq | sq8 | ivfpq)")
    }

  /** Append a new vector batch to a PERSISTED index with frozen
    * quantizers — the nightly-ingest contract: O(increment) at any
    * index size, encoding a pure per-row function so any chunking
    * yields the same codes (AnnIndexSpec pins chunked ≡ one-shot).
    * Supported for `ivfpq` (centroids + residual codebook frozen);
    * the other families either re-derive their quantizer from corpus
    * statistics (sq8) or key their layout on corpus size (lsh bucket
    * bits, ivf cell stride), where an append would silently change
    * query semantics — those fail loudly and want a rebuild. */
  def appendAnnIndex(newEmb: DataFrame, dir: String): Long =
    operators.AnnIndex.readManifest(newEmb.sparkSession, dir).family match {
      case "ivfpq" => operators.AnnIndex.appendIvfPq(newEmb, dir)
      case other => throw new IllegalArgumentException(
        s"append is supported for family 'ivfpq'; '$other' derives its " +
          "quantizer/layout from corpus statistics - rebuild instead")
    }

  /** Re-fit a persisted index's quantizers to the CURRENT corpus and
    * swap the result in atomically ([[operators.AnnIndex.rebuild]]) —
    * the no-downtime maintenance call for the families append refuses
    * (lsh mask width, ivf cells, sq8 stats all derive from corpus
    * statistics and would drift under append), and a codes-layout
    * reset for ivfpq. Readers flip old→new at the manifest commit; the
    * superseded version survives until the next rebuild's sweep, so
    * in-flight readers finish against intact files. Rebuilt ≡ fresh
    * build on the same corpus (AnnRebuildSpec). */
  def rebuildAnnIndex(emb: DataFrame, dir: String,
      nHint: Long = -1L): operators.ArtifactIO.Manifest =
    operators.AnnIndex.rebuild(emb, dir, nHint)

  /** Fold an index's accumulated mutation debris — family-dispatched
    * maintenance behind the shared atomic manifest commit:
    *  - `ivfpq`: per-batch code deltas fold into one slab AND pending
    *    takedown tombstones become physical row drops
    *    (DeltaCompactionSpec / TakedownSpec)
    *  - `lsh` / `ivf` / `pq`: pending tombstones fold into the flat
    *    per-vector table via a frozen-quantizer version swap — no
    *    re-fit (FlatTombstoneFoldSpec); a fold with nothing pending is
    *    a no-op
    *  - `sq8`: refused — it stores per-dimension stats only; its
    *    vectors (and their takedown) live in the caller's store
    * Contents equal the live (tombstone-filtered) view either way;
    * every query result is unchanged. */
  def compactAnnIndex(spark: SparkSession, dir: String): operators.ArtifactIO.Manifest =
    operators.AnnIndex.compactTakedown(spark, dir)

  /** Top-k from a PERSISTED index directory — no rebuild: dispatches on
    * the manifest's family. `emb` is consulted only by the compressed
    * families (pq/sq8) for query vectors + exact rerank winners. */
  def annIndexTopK(spark: SparkSession, dir: String, emb: DataFrame,
      topK: Int = 3): DataFrame = {
    import operators.AnnIndex
    AnnIndex.readManifest(spark, dir).family match {
      case "lsh" => AnnIndex.lshTopK(AnnIndex.loadLsh(spark, dir), topK)
      case "ivf" => AnnIndex.ivfTopK(AnnIndex.loadIvf(spark, dir), topK)
      case "pq"  => AnnIndex.pqTopK(AnnIndex.loadPq(spark, dir), emb, topK = topK)
      case "sq8" => AnnIndex.sqTopK(AnnIndex.loadSq(spark, dir), emb, topK = topK)
      case "ivfpq" =>
        AnnIndex.ivfPqTopK(AnnIndex.loadIvfPq(spark, dir), emb, topK = topK)
    }
  }

  /** Recall@k of a PERSISTED index vs the exact cosine top-k over the
    * same query sample — the tuning-loop measurement (is nProbe/R/bits
    * right for this corpus?) run against the artifact it evaluates,
    * never rebuilding it. One row:
    * (family, n_queries, k, n_truth, n_hits, recall). */
  def annIndexRecall(spark: SparkSession, dir: String, emb: DataFrame,
      topK: Int = 3, nQueries: Int = 8): DataFrame =
    operators.AnnIndex.recallVsExact(spark, dir, emb, topK, nQueries)

  /** Serve an OUT-OF-CORPUS query batch from a persisted index — the
    * deployment path: `queries` is a (query_id, embedding) frame of NEW
    * vectors (their ids are a namespace of their own), assigned against
    * the index's stored quantizers exactly as [[appendAnnIndex]] assigns
    * increments; nothing is rebuilt or re-fit. Top-k per query; the
    * query batch broadcasts, the corpus-side artifact never shuffles.
    * `emb` is the embedding store — consulted by the compressed
    * families (pq/sq8/ivfpq) for exact rerank winners only. */
  def annIndexServe(spark: SparkSession, dir: String, queries: DataFrame,
      emb: DataFrame, topK: Int = 3): DataFrame =
    operators.AnnIndex.serveTopK(spark, dir, queries, emb, topK)

  /** FILTERED serving from a persisted index — metadata-predicate
    * retrieval with PRE-FILTER semantics: `keepIds` (one `vec_id`
    * column, the predicate's surviving ids) restricts the stored
    * scan-side table via one semi join before scoring, so the result is
    * exactly the top-k of the filtered corpus; the quantizers are
    * untouched (one join per predicate, never a rebuild). All five
    * families. */
  def annIndexServeWhere(spark: SparkSession, dir: String,
      queries: DataFrame, keepIds: DataFrame, emb: DataFrame,
      topK: Int = 3): DataFrame =
    operators.AnnIndex.serveTopKWhere(spark, dir, queries, keepIds, emb, topK)

  /** Recall@k of the SERVING path ([[annIndexServe]]) vs the exact
    * bipartite cosine top-k for the same out-of-corpus batch — the
    * tuning loop measured on the path a deployment actually runs. */
  def annIndexServeRecall(spark: SparkSession, dir: String, emb: DataFrame,
      queries: DataFrame, topK: Int = 3): DataFrame =
    operators.AnnIndex.recallVsExactOn(spark, dir, emb, queries, topK)

  /** Recall@k of the FILTERED serving path ([[annIndexServeWhere]]) vs
    * the exact top-k over the keep-set's slice — the tuning loop for
    * the deployed filtered query (predicate-poor neighborhoods need
    * more probes to fill k; only this measurement exposes it). */
  def annIndexServeRecallWhere(spark: SparkSession, dir: String,
      emb: DataFrame, queries: DataFrame, keepIds: DataFrame,
      topK: Int = 3): DataFrame =
    operators.AnnIndex.recallVsExactOnWhere(spark, dir, emb, queries,
      keepIds, topK)

  /** Recall-targeted auto-tuning: walk the family's knob ladder
    * (nProbe / rerank R) against the measured serving-path recall until
    * `targetRecall` is met, record the chosen operating point in the
    * manifest, and every serve call defaults to it from then on
    * (explicit knobs still win). `keepIds` tunes the FILTERED path
    * instead. Returns what was chosen and measured (TuneIndexSpec). */
  def tuneAnnIndex(spark: SparkSession, dir: String, emb: DataFrame,
      queries: DataFrame, targetRecall: Double = 0.9, topK: Int = 3,
      keepIds: Option[DataFrame] = None): operators.AnnIndex.TuneResult =
    operators.AnnIndex.tuneIndex(spark, dir, emb, queries, targetRecall,
      topK, keepIds)

  /** [[rebuildAnnIndex]] composed with [[tuneAnnIndex]]: re-fit the
    * quantizers to the current corpus, swap atomically, then re-measure
    * and record the knob ladder against the NEW geometry — the cron
    * call that keeps a scheduled re-fit from silently serving at
    * family defaults. What a tripped [[annRecallCheck]] asks for. */
  def rebuildAndTuneAnnIndex(spark: SparkSession, dir: String,
      emb: DataFrame, queries: DataFrame, targetRecall: Double = 0.9,
      topK: Int = 3, keepIds: Option[DataFrame] = None,
      nHint: Long = -1L): operators.AnnIndex.TuneResult =
    operators.AnnIndex.rebuildAndTune(spark, dir, emb, queries,
      targetRecall, topK, keepIds, nHint)

  /** Recall drift detection: re-measure the serving path's recall@k at
    * the TUNED operating point (recorded by [[tuneAnnIndex]]); `drifted`
    * fires when it fell more than `driftBoundM` (×1000) below the
    * recorded value — the [[rebuildAndTuneAnnIndex]] trigger. */
  def annRecallCheck(spark: SparkSession, dir: String, emb: DataFrame,
      queries: DataFrame, driftBoundM: Long = 50L,
      keepIds: Option[DataFrame] = None): operators.AnnIndex.RecallDrift =
    operators.AnnIndex.recallCheck(spark, dir, emb, queries, driftBoundM,
      keepIds)

  /** Retrieval-quality evaluation (s17): score a ranked run —
    * (query_id, neighbor_id, rk), any serving/RRF/MMR output plugs in
    * directly — against a ground-truth relevance pair set (query_id,
    * neighbor_id). Returns per query integer-scaled nDCG@k
    * (`ndcg_e6`), MRR (`rr_e6`), DCG and the relevant-count — the
    * offline measurement loop run after every index or ranker change,
    * complementing [[annRecallCheck]] (which scores the ANN against
    * the exact run; this scores any run against ground truth). All
    * integer arithmetic: deterministic and engine-portable. */
  def retrievalEval(run: DataFrame, relevance: DataFrame,
      k: Int = 10): DataFrame =
    queries.SimilarityQueries.rankedEval(run, relevance, k)

  /** [[retrievalEval]] of a LOADED ANN artifact's serving path: serve
    * `queryBatch` top-k from the persisted index at `dir` (family
    * dispatch, tuned knobs — [[annIndexServe]]'s contract) and score
    * the served ranking against `relevance`. The eval an index
    * deployment runs before/after [[rebuildAndTuneAnnIndex]] to see
    * quality, not just recall-vs-exact, move. */
  def retrievalEvalFromIndex(spark: SparkSession, dir: String,
      queryBatch: DataFrame, emb: DataFrame, relevance: DataFrame,
      k: Int = 10): DataFrame =
    retrievalEval(operators.AnnIndex.serveTopK(spark, dir, queryBatch,
      emb, topK = k), relevance, k)

  // ---- dedup-pipeline artifact (build once, consume many) ---------------

  /** Build the persistent dedup artifact under `dir`: the MinHash
    * signature matrix, its pre-computed band rows, the per-doc hashed
    * shingle sets (the verify data — so serving never reads corpus
    * text), the verified Jaccard pair graph, and the
    * connected-component table — the tables every near-dup pipeline
    * otherwise rebuilds inline per query ([[operators.DedupIndex]];
    * crash-safe commits, loaded ≡ built pinned by DedupIndexSpec). */
  def buildDedupIndex(docs: DataFrame, dir: String,
      nHint: Long = -1L): operators.ArtifactIO.Manifest =
    operators.DedupIndex.build(docs, dir, nHint)

  /** Append a NEW document batch to a persisted dedup artifact — d16's
    * bipartite increment join (O(increment + candidates + touched
    * components), never a corpus rebuild — candidate verification reads
    * the artifact's stored shingle table, not the corpus text);
    * incremental ≡ one-shot by construction. `batchId` ≥ 0 = durable
    * streaming replay guard. Returns verified new pairs appended. */
  def appendDedupIndex(newDocs: DataFrame, dir: String,
      batchId: Long = -1L): Long =
    operators.DedupIndex.append(newDocs, dir, batchId)

  /** Fold a dedup artifact's accumulated per-batch delta dirs
    * (signatures, bands, shingle sets, pairs) into one slab each and GC
    * superseded component versions — the maintenance call a streaming
    * ingest schedules. Contents (and every consumer's results) are
    * unchanged; crash-safe behind the manifest commit
    * (DeltaCompactionSpec). `layoutBuckets` −1 (default) preserves the
    * committed slab layout; 0 explicitly re-folds flat; > 0 opts into
    * the bucket-partitioned probe layout. */
  def compactDedupIndex(spark: SparkSession, dir: String,
      layoutBuckets: Int = -1): operators.ArtifactIO.Manifest =
    operators.DedupIndex.compactDeltas(spark, dir, layoutBuckets)

  /** Register a reader pin on ANY persisted artifact (dedup / ANN /
    * corpus) before a long read (r14 verdict #4): folds and rebuilds
    * keep superseded files exactly one grace cycle, so a reader holding
    * views across TWO mutations could lose files mid-scan. A pinned
    * snapshot survives every sweep until `release()` (or the pin TTL
    * expires — abandoned pins are swept; renew() for reads that outlive
    * it). Pin FIRST, then load views. Pins defer GC only — they never
    * block mutations. */
  def pinArtifactReader(spark: SparkSession,
      dir: String): operators.ArtifactIO.ReaderPin =
    operators.ArtifactIO.pinReader(spark, dir)

  /** Band-layout drift check for a persisted dedup artifact (r14
    * verdict #3 — the dedup twin of [[annRecallCheck]]): manifest-only
    * (exact n accounting, no corpus scan), reporting the corpus size
    * the committed slab layout was sized for vs the live size, and the
    * bucket count the auto-sizer would pick now vs the recorded one.
    * `drifted` (≥ 2 pow2 steps apart) is the [[retuneDedupLayout]]
    * trigger — the cron/stream check that keeps per-probe candidate
    * load at its design point as the corpus grows. */
  def dedupBandDriftCheck(spark: SparkSession, dir: String,
      docsPerBucket: Long = 8192L): operators.DedupIndex.BandDrift =
    operators.DedupIndex.bandDriftCheck(spark, dir, docsPerBucket)

  /** Re-fold a dedup artifact at the auto-sized slab layout — what a
    * tripped [[dedupBandDriftCheck]] asks for. A pure re-layout (no
    * re-fit; the MinHash geometry is n-invariant): contents unchanged,
    * per-bucket candidate load back at the design point. */
  def retuneDedupLayout(spark: SparkSession, dir: String,
      docsPerBucket: Long = 8192L): operators.ArtifactIO.Manifest =
    operators.DedupIndex.retuneBandLayout(spark, dir, docsPerBucket)

  /** Rebuild a persisted dedup artifact from the CURRENT corpus and
    * swap it in atomically (version pointer; in-flight readers finish
    * against the superseded version) — the maintenance call after
    * months of appends/takedowns, or for geometry changes. Both
    * streaming replay guards carry over; every consumer keeps working
    * unchanged on the rebuilt artifact (DedupRebuildSpec). */
  def rebuildDedupIndex(docs: DataFrame, dir: String,
      nHint: Long = -1L): operators.ArtifactIO.Manifest =
    operators.DedupIndex.rebuild(docs, dir, nHint)

  /** Takedown: remove documents from a persisted dedup artifact with a
    * tombstone delta — every consumer excludes them the moment the
    * commit lands; touched components are re-solved in place; the next
    * [[compactDedupIndex]] drops the rows physically. Returns docs
    * actually removed (unknown ids are a committed-nothing no-op). */
  def dedupDelete(spark: SparkSession, dir: String, ids: DataFrame): Long =
    operators.DedupIndex.delete(ids, dir)

  /** Takedown for a persisted ANN artifact (any family except sq8):
    * tombstone the vector ids — serving excludes them immediately;
    * physical removal at the next [[compactAnnIndex]] (ivfpq) or
    * [[rebuildAnnIndex]] (flat-table families). */
  def annDelete(spark: SparkSession, dir: String, ids: DataFrame): Long =
    operators.AnnIndex.delete(ids, dir)

  /** Read-only near-dup probe of NEW documents against a persisted
    * dedup artifact — ingest-time "have we already got this (or nearly
    * this)?" with no mutation and no corpus-text access: the batch's
    * bands against the STORED band table, exact Jaccard verify against
    * the STORED shingle sets of candidate docs only (per-call cost
    * bounded by candidates, flat in the corpus size); identical match
    * set to [[crossNearDupPairs]] on the same inputs (spec-pinned).
    * Query ids must be disjoint from the corpus. */
  def dedupServeNearDups(spark: SparkSession, dir: String,
      queries: DataFrame, nHint: Long = -1L): DataFrame =
    operators.DedupIndex.serveNearDups(queries,
      operators.DedupIndex.load(spark, dir), nHint)

  /** q56's dedup-aware train/val/test split from the stored component
    * table — the expensive component build is not re-paid. */
  def dedupSplitFrom(spark: SparkSession, dir: String,
      docs: DataFrame): DataFrame =
    operators.DedupIndex.splitFrom(docs, operators.DedupIndex.load(spark, dir))

  /** d10's cluster canonicalization from the stored component table. */
  def keepBestFrom(spark: SparkSession, dir: String, docs: DataFrame,
      nHint: Long = -1L): DataFrame =
    operators.DedupIndex.keepBestFrom(docs,
      operators.DedupIndex.load(spark, dir), nHint)

  /** p1's centrality over the stored pair graph. Eagerly materialized
    * (facade cache contract). */
  def pageRankFrom(spark: SparkSession, dir: String,
      iters: Int = 5): DataFrame =
    materialized(operators.DedupIndex.pageRankFrom(
      operators.DedupIndex.load(spark, dir), iters))

  /** p3's communities over the stored pair graph. Eagerly materialized
    * (facade cache contract). */
  def labelPropFrom(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame =
    materialized(operators.DedupIndex.labelPropFrom(
      operators.DedupIndex.load(spark, dir), rounds))

  // ---- text quality / packing (docs: doc_id, text [, lang]) -------------

  /** Per-document repetition signals (most-frequent-token fraction,
    * duplicate-3gram fraction) — Gopher/RefinedWeb-style filters. */
  def repetitionSignals(docs: DataFrame): DataFrame =
    queries.PipelineQueries.repetition(docs)

  /** Benchmark decontamination vs the deterministic `doc_id % 97 == 0`
    * holdout: per-doc shared-shingle and matched-eval-doc counts. */
  def contaminationReport(docs: DataFrame): DataFrame =
    queries.PipelineQueries.contamination(docs)

  /** Decontamination against YOUR eval suite (columns doc_id, text) —
    * the production shape: a fixed benchmark corpus has a bounded
    * shingle set, broadcast at any corpus scale. Returns per-corpus-doc
    * (doc_id, n_shared_grams, n_eval_docs); join-filter on it to drop
    * contaminated training documents. */
  def contaminationAgainst(docs: DataFrame, evalDocs: DataFrame): DataFrame =
    queries.PipelineQueries.contaminationAgainst(docs, evalDocs)

  /** Decontamination through a broadcast BLOOM bitset — the scale path
    * when the eval suite's gram set outgrows [[contaminationAgainst]]'s
    * raw broadcast (10^9 grams fit 16 MB of bloom bits at ~1% FP).
    * False negatives are impossible and the exact verify join removes
    * every false positive, so the rows are IDENTICAL to
    * [[contaminationAgainst]] at any `bits` — only the cost moves. */
  def contaminationAgainstBloom(docs: DataFrame, evalDocs: DataFrame,
      bits: Int = functions.Bloom.DefaultBits): DataFrame =
    queries.PipelineQueries.bloomDecontamAgainst(docs, evalDocs, bits)

  /** Maximal repeated-substring spans (Lee et al. substring dedup): for
    * each document, the token ranges covered by `gramLen`-token windows
    * occurring ≥2 times anywhere in the corpus —
    * (doc_id, span_start, span_end, span_tok, n_windows). Cut these
    * spans before training; everything travels as positional md5-60
    * hashes (8 B/window), no all-pairs stage. */
  def repeatedSubstringSpans(docs: DataFrame,
      gramLen: Int = queries.DedupQueries.SpanGram): DataFrame =
    queries.DedupQueries.substringSpans(docs, gramLen)

  /** Deterministic training-mixture resampling: per-`source` permille
    * rates (2300 = 2 full epochs + 30% of a third, 500 = half, 0 =
    * drop); returns the resampled rows with a `cp` copy index. Pure
    * scalar math on the scan — reproducible across engines, runs and
    * cluster sizes. */
  def mixCorpus(docs: DataFrame, ratesPermille: Map[String, Int],
      defaultPermille: Int = 1000): DataFrame =
    queries.PipelineQueries.mixSample(docs, ratesPermille, defaultPermille)

  /** Fixed token-budget sequence packing per language via the two-pass
    * distributed prefix scan; returns per-bin stats. Requires `lang`. */
  def packSequences(docs: DataFrame, budget: Long = 2048L,
      stride: Long = 1024L): DataFrame =
    queries.PipelineQueries.sequencePack(docs, budget, stride)

  /** Context-window chunking: split each document into `window`-token
    * chunks overlapping by `overlap` tokens —
    * (doc_id, chunk_idx, start_tok, chunk_tok, first_tok). Pure integer
    * math, one explode, no shuffle. */
  def chunkDocuments(docs: DataFrame, window: Long = 64L,
      overlap: Long = 16L): DataFrame =
    queries.PipelineQueries.chunk(docs, window, overlap)

  /** Frozen-weight linear quality classifier (the fastText-style
    * learned-model stage after the rule gates): integer-scaled feature
    * ratios → exact int64 logit, keep = logit ≥ 0. One scan, zero
    * shuffles. Requires (doc_id, text, source). */
  def qualityClassifier(docs: DataFrame): DataFrame =
    queries.TextQueries.qualityClassifierOn(docs)

  /** C4-style line-level dedup: a line occurring in multiple documents
    * survives only in its first-occurrence (min doc_id) document;
    * returns (doc_id, n_lines, n_kept, kept_fp) with a byte-exact
    * fingerprint of the reassembled kept text. Shuffle keys are the
    * 60-bit line hash — three linear shuffles, no window. */
  def lineDedup(docs: DataFrame): DataFrame =
    queries.DedupQueries.lineDedupOn(docs)

  /** Deterministic corpus shuffle into training shards: a reproducible
    * global permutation (salted id-hash order) mapped to (shard, pos).
    * The rank runs through [[operators.DistributedRank]] — no
    * single-sorter global window at any size; pass `rowBound` when the
    * row count is known. */
  def assignShards(df: DataFrame, idCol: String = "doc_id",
      shardSize: Long = 100000L, rowBound: Long = -1L): DataFrame =
    queries.PipelineQueries.assignShardsOn(df, idCol, shardSize, rowBound)

  /** Count-Min point-frequency estimates: builds the depth×width linear
    * sketch over `column` in ONE pass (mergeable: map-side combine ships
    * depth×width longs per partition at any corpus size) and returns
    * (value, est) for each probe row. est ≥ true count always;
    * est ≤ true + N·e/width with prob ≥ 1 − 2^−depth. */
  def countMinEstimates(df: DataFrame, column: String, probes: DataFrame,
      probeCol: String, depth: Int = 4, width: Int = 1024): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import graft.functions.CountMinAgg
    val sketch = df
      .agg(CountMinAgg.countMin(depth, width)(
        CountMinAgg.bucketsFor(depth, width)(col(column))).as("cm"))
      .select(col("cm.cells").as("cells"))
    probes.crossJoin(broadcast(sketch))
      .select(col(probeCol).as("value"),
        CountMinAgg.estimate(depth, width)(col("cells"), col(probeCol))
          .as("est"))
  }

  /** Integer PageRank over an undirected pair list (two long columns):
    * (id, rank, deg) after `iters` exact power-iteration rounds —
    * centrality within the similarity graph (canonical selection, crawl
    * frontier). Eagerly materialized (facade cache contract). */
  def pageRank(pairs: DataFrame, iters: Int = 5): DataFrame =
    materialized(operators.PageRank.pageRank(pairs, iters))

  /** Compressed-domain ANN: product quantization (m subspaces × k
    * centroids, exact int64 Lloyd fit), ADC candidate scan over the
    * codes (broadcast LUT — the float vectors are never scanned), exact
    * rerank of the R winners. Query set = `vec_id < nQueries`. `dim`
    * must be divisible by m. */
  def pqTopK(emb: DataFrame, dim: Int, m: Int = 8, k: Int = 64,
      r: Int = 20, topK: Int = 3, nQueries: Int = 8,
      nHint: Long = -1L): DataFrame =
    materialized(queries.SimilarityQueries.pqTopKOnPinned(
      emb, dim, m, k, r, topK, nQueries, nHint))

  /** IVF-PQ ANN (the FAISS `IVFx,PQy` composition): √n coarse cells
    * localize, PQ codes the residual inside each cell; queries ADC-scan
    * only their nProbe probed cells and exact-rerank the R winners.
    * Query set = `vec_id < nQueries`; `dim` must be divisible by m.
    * Eagerly materialized: the pinned home-cell and residual-subvector
    * tables are released before returning (facade cache contract). */
  def ivfPqTopK(emb: DataFrame, dim: Int, m: Int = 8, k: Int = 64,
      r: Int = 40, topK: Int = 3, nQueries: Int = 8, nProbe: Int = 32,
      nHint: Long = -1L): DataFrame =
    materialized(queries.SimilarityQueries.ivfPqTopKPinned(
      emb, dim, m, k, r, topK, nQueries, nProbe, nHint))

  /** Hybrid lexical+vector retrieval with reciprocal-rank fusion (the
    * RAG-standard two-tower fusion): a lexical leg ranks by exact
    * shared-shingle overlap, a vector leg by exact cosine, fused as
    * Σ 1/(kRrf + rank) over each leg's top-`r` list — rank fusion needs
    * no score calibration between incomparable scales. `docs` (doc_id,
    * text) and `emb` (vec_id, embedding) share the id space; queries
    * are `doc_id < nQueries`. Returns (query_id, doc_id, lex_rank,
    * vec_rank, rk, rrf_r); a leg the candidate missed reports rank −1. */
  def hybridSearch(docs: DataFrame, emb: DataFrame, nQueries: Int = 8,
      topK: Int = 3, kRrf: Int = 60, r: Int = 100): DataFrame =
    queries.SimilarityQueries.hybridRrf(docs, emb, nQueries, topK, kRrf, r)

  /** MMR diversity re-ranking (Carbonell & Goldstein 1998): greedy
    * top-`topK` from each query's top-`poolR` relevance pool maximizing
    * relevance minus redundancy against what's already selected
    * (score10 = 7·sim − 3·max_selected sim) — a plain top-k hands the
    * generator k near-copies of the same passage; MMR demotes them.
    * Queries are `vec_id < nQueries`; k is fixed at 3 (unrolled
    * selection). Returns (query_id, doc_id, rk, mmr10_r). Eagerly
    * materialized: the pinned pool/pairwise-sim tables are released
    * before returning (facade cache contract). */
  def mmrRerank(emb: DataFrame, nQueries: Int = 8,
      poolR: Int = 10): DataFrame =
    materialized(queries.SimilarityQueries.mmrRerankPinned(emb, nQueries, poolR))

  // ---- artifact-served RAG retrieval (out-of-corpus query batches) ------

  /** [[hybridSearch]] for an OUT-OF-CORPUS (query_id, text, embedding)
    * batch, served from PERSISTED artifacts: vector candidates from the
    * ANN index at `annDir` (any family; exact-cosine reranked), lexical
    * overlap against the dedup artifact's stored hashed shingle sets at
    * `dedupDir` — no corpus-text scan, no full-embedding rescan, nothing
    * re-fit. With exhaustive parameters (nProbe ≥ cells, r ≥ corpus)
    * the result is byte-identical to [[hybridSearchServe]]
    * (RagServeSpec). */
  def hybridSearchFrom(spark: SparkSession, annDir: String,
      dedupDir: String, emb: DataFrame, queries: DataFrame, topK: Int = 3,
      kRrf: Int = 60, r: Int = 100, nProbe: Int = 32): DataFrame =
    operators.RagServe.hybridFromIndexes(spark, annDir,
      operators.DedupIndex.load(spark, dedupDir), emb, queries, topK,
      kRrf, r, nProbe)

  /** The exact (index-free) twin of [[hybridSearchFrom]] — the truth
    * leg: exact shingle overlap over the corpus text + exact cosine
    * over the full store, same fusion. */
  def hybridSearchServe(docs: DataFrame, emb: DataFrame,
      queries: DataFrame, topK: Int = 3, kRrf: Int = 60,
      r: Int = 100): DataFrame =
    operators.RagServe.hybridExact(docs, emb, queries, topK, kRrf, r)

  /** [[mmrRerank]] for an OUT-OF-CORPUS (query_id, embedding) batch
    * whose relevance pool comes from the PERSISTED ANN index at
    * `annDir` (candidates + exact rerank) — with exhaustive parameters
    * byte-identical to [[mmrRerankServe]]. Eagerly materialized (facade
    * cache contract). */
  def mmrRerankFrom(spark: SparkSession, annDir: String, emb: DataFrame,
      queries: DataFrame, poolR: Int = 10, r: Int = 100,
      nProbe: Int = 32): DataFrame =
    materialized(operators.RagServe.mmrFromIndexPinned(spark, annDir, emb,
      queries, poolR, topK = 3, r = r, nProbe = nProbe))

  /** The exact (index-free) twin of [[mmrRerankFrom]]. Eagerly
    * materialized. */
  def mmrRerankServe(emb: DataFrame, queries: DataFrame,
      poolR: Int = 10): DataFrame =
    materialized(operators.RagServe.mmrExactPinned(emb, queries, poolR))

  /** PRE-FILTERED [[hybridSearchFrom]] (r11 verdict #2): the deployed
    * RAG query — "hybrid top-k among the docs this user may see" —
    * served from the persisted indexes. `keepIds` (one `vec_id` column,
    * the metadata predicate's surviving ids) restricts BOTH legs before
    * any ranking; with exhaustive parameters byte-identical to the
    * exact filtered twin (RagServeSpec). */
  def hybridSearchFromWhere(spark: SparkSession, annDir: String,
      dedupDir: String, keepIds: DataFrame, emb: DataFrame,
      queries: DataFrame, topK: Int = 3, kRrf: Int = 60, r: Int = 100,
      nProbe: Int = 32): DataFrame =
    operators.RagServe.hybridFromIndexesWhere(spark, annDir,
      operators.DedupIndex.load(spark, dedupDir), keepIds, emb, queries,
      topK, kRrf, r, nProbe)

  /** PRE-FILTERED [[mmrRerankFrom]]: the MMR pool fills with keep-set
    * docs only. Eagerly materialized (facade cache contract). */
  def mmrRerankFromWhere(spark: SparkSession, annDir: String,
      keepIds: DataFrame, emb: DataFrame, queries: DataFrame,
      poolR: Int = 10, r: Int = 100, nProbe: Int = 32): DataFrame =
    materialized(operators.RagServe.mmrFromIndexWherePinned(spark, annDir,
      keepIds, emb, queries, poolR, topK = 3, r = r, nProbe = nProbe))

  /** Train a BPE tokenizer on `docs` and persist its merge table as an
    * artifact ([[operators.BpeIndex]]) — the durable tokenizer a
    * pipeline freezes so token budgets don't shift as corpora change.
    * Loaded ≡ built and encode-from-loaded ≡ the inline gate are
    * pinned (BpeIndexSpec). */
  def buildBpeIndex(docs: DataFrame, dir: String,
      rounds: Int = 3): operators.ArtifactIO.Manifest =
    operators.BpeIndex.build(docs, dir, rounds)

  /** Encode ANY corpus under the FROZEN tokenizer persisted at `dir` —
    * t15's apply half with no retraining: one corpus-linear explode +
    * a 1-row broadcast of the stored merges. Returns
    * (doc_id, n_words, n_bpe_tokens). */
  def bpeEncodeFrom(spark: SparkSession, dir: String,
      docs: DataFrame): DataFrame =
    operators.BpeIndex.encodeFrom(docs, operators.BpeIndex.load(spark, dir))

  /** KenLM/CCNet-style n-gram LM scoring: a bigram model from the corpus
    * itself (count tables), each doc scored by the exact integer mean of
    * scaled conditional probabilities — monotone in perplexity, so
    * thresholding avg_p6 IS the perplexity filter. Requires
    * (doc_id, text); returns (doc_id, n_bigrams, avg_p6). */
  def ngramLmScores(docs: DataFrame): DataFrame =
    queries.TextQueries.ngramLmOn(docs)

  /** CCNet-style perplexity routing (Wenzek et al. 2020): each doc
    * scored by exact integer bits-per-bigram under the corpus bigram LM
    * (exact ceil(−log₂ P) via 2²⁰ fixed point + binary-string length —
    * doubles-free), then
    * routed to 'head' / 'middle' / 'tail' quality buckets on fixed
    * bits thresholds. Training pipelines keep head+middle. Requires
    * (doc_id, text); returns (doc_id, n_bigrams, bits_x1000, bucket).
    * Same plan shape as [[ngramLmScores]] — one model join, one agg. */
  def lmPerplexityBuckets(docs: DataFrame): DataFrame =
    queries.TextQueries.lmPerplexityOn(docs)

  /** URL canonicalization dedup (the first stage of a crawl pipeline):
    * normalizes `url` (lowercase, fragment/tracking-param strip,
    * scheme/www/trailing-slash strip) and returns one row per canonical
    * URL with the kept doc and variant counts. Requires (doc_id, url).
    * Per-row regexps + one hash groupBy — linear at any corpus size. */
  def urlDedupGroups(withUrls: DataFrame): DataFrame =
    queries.DedupQueries.urlDedupGroups(withUrls)

  /** Per-node degree + triangle count over an undirected similarity
    * edge list (two long columns, each edge once, no self-loops):
    * local-clustering structure of the near-dup graph (dense-cluster
    * members vs template hubs). Degree-orients the edges internally —
    * wedge fan-out stays bounded on power-law graphs — then two
    * equi-joins enumerate each triangle once; never an all-pairs
    * product. The edge list is pinned and materialized once (PageRank
    * cache discipline); the returned frame is caller-owned cache. */
  def triangleCounts(pairs: DataFrame): DataFrame =
    queries.DedupQueries.triangleCounts(pairs)

  /** Deterministic synchronous label-propagation communities over an
    * undirected edge list (each edge once, no self-loops): every node
    * starts as its own label; each fixed round adopts the
    * neighbor-majority label (min-label tie-break). Partitions each
    * connected component into its dense sub-communities — duplication
    * clusters vs template hubs. 2 shuffles per round, linear in |E|;
    * returns (id, community). Eagerly materialized (facade cache
    * contract). */
  def labelCommunities(pairs: DataFrame, rounds: Int = 3): DataFrame =
    materialized(operators.LabelProp.propagate(pairs, rounds))

  /** Z-order (Morton) layout keys for multi-dimensional file
    * clustering: each axis is rank-equalized into 2^16 buckets
    * (exact DistributedRank — skew-proof, no single-sorter window),
    * the two bucket ids bit-interleaved into a 32-bit `zkey` (x on odd
    * bits), plus `zshard` = the top-6-bit grid cell (64 balanced
    * shards). Sort-or-partition files by zkey and row-group zone maps
    * prune on EITHER axis's predicate, not just the sort leader's.
    * Input needs (idCol, xCol, yCol) with numeric axes; returns
    * (idCol, zkey, zshard). */
  def zorderKeys(df: DataFrame, idCol: String, xCol: String,
      yCol: String, rowBound: Long = -1L): DataFrame =
    queries.PipelineQueries.zorderOn(df, idCol, xCol, yCol, rowBound)

  /** Write a DataFrame as z-ordered parquet files (each file one tight
    * curve segment, so row-group zone maps bound BOTH layout axes —
    * LayoutPruningSpec measures a one-series probe skipping most files
    * where a time-sorted layout reads all of them). Same shuffle cost
    * class as a time-sorted write: two exact-rank passes + one range
    * exchange. */
  def writeZOrdered(df: DataFrame, idCol: String, xCol: String,
      yCol: String, outDir: String, numFiles: Int = 64,
      rowBound: Long = -1L): Unit =
    operators.Layout.writeZOrdered(df, idCol, xCol, yCol, outDir,
      numFiles, rowBound)

  /** Exact discrete rolling median per key over the trailing
    * `window`-row frame (lower middle element — integer-exact, robust
    * to the single-spike outliers that saturate a rolling mean).
    * Input needs an integer value column (e.g. cents); one shuffle on
    * the key, O(w log w) per row. Returns (keyCol, idCol, c, med_c). */
  def rollingMedian(df: DataFrame, keyCol: String, idCol: String,
      tsCol: String, centsCol: String, window: Int = 7): DataFrame =
    queries.TimeSeriesQueries.rollingMedianOn(
      df, keyCol, idCol, tsCol, centsCol, window)

  /** Per-key lag-1/lag-2 sample autocorrelation of an integer series —
    * the memory/seasonality detector (trend-following keys show acf1
    * near 1, alternating keys near −1, noise near 0). Exact
    * count-scaled-residual arithmetic (no mean division) widened to
    * decimals, one shuffle by key. Input needs an integer value column
    * (e.g. cents); returns (keyCol, n, acf1, acf2). */
  def autocorrelation(df: DataFrame, keyCol: String, idCol: String,
      tsCol: String, centsCol: String): DataFrame =
    queries.TimeSeriesQueries.autocorrOn(df, keyCol, idCol, tsCol, centsCol)

  /** Unicode script composition per document (codepoint-range counts
    * for Latin/digits/Cyrillic/CJK/Greek/Devanagari + the dominant
    * script): the routing signal multilingual pipelines compute before
    * lexicon langid. Per-row regexps, zero shuffles. Requires
    * (doc_id, text). */
  def scriptProfile(docs: DataFrame): DataFrame =
    queries.TextQueries.scriptProfileOn(docs)

  /** Maximum-inner-product top-k (MIPS — raw dot product, NOT cosine:
    * on unnormalized embeddings a long vector can out-rank a
    * better-aligned short one, which is the retrieval objective
    * recommenders use). Exact int64 dots; query side broadcasts, the
    * corpus never shuffles. Requires (vec_id, embedding). */
  def mipsTopK(emb: DataFrame, nQueries: Int = 32, topK: Int = 3): DataFrame =
    queries.SimilarityQueries.mipsTopK(emb, nQueries, topK)

  /** Deterministic T5-style span-corruption masks per document: ~5% of
    * token positions start a 2–4 token span (overlaps merge), every
    * decision a pure function of (doc_id, position) via the
    * cross-engine hash — byte-stable masks across engines, runs, and
    * cluster sizes. Per-row array arithmetic, zero shuffles; returns
    * (doc_id, n_tokens, n_masked, mask_fp). Requires (doc_id, text). */
  def spanCorruptionMasks(docs: DataFrame): DataFrame =
    queries.PipelineQueries.spanCorruptionOn(docs)

  /** Robust rolling slope per key: the exact discrete median of the
    * trailing `window` adjacent-pair derivatives — rate-of-change that
    * shrugs off single glitch samples (the bounded-window Theil–Sen
    * idea). Input needs an integer value column; rows before the first
    * slope are NULL. One shuffle on the key. */
  def robustSlope(df: DataFrame, keyCol: String, idCol: String,
      tsCol: String, vCol: String, window: Int = 7): DataFrame =
    queries.TimeSeriesQueries.robustSlopeOn(
      df, keyCol, idCol, tsCol, vCol, window)

  /** SQ8 compressed top-k (scalar quantization): per-dim byte codes
    * against corpus min/span, approximate dot over the integer
    * reconstruction, exact rerank of the R winners — FAISS's SQ8 next
    * to [[pqTopK]]'s product quantization, exact integers end to end.
    * Requires (vec_id, embedding). */
  def sqTopK(emb: DataFrame, nQueries: Int = 8, topK: Int = 3,
      rerankR: Int = 20): DataFrame =
    queries.SimilarityQueries.sqTopK(emb, nQueries, topK, rerankR)

  /** Unicode NFC canonicalization of a string column via the native
    * codegen'd [[graft.functions.NfcNormalize]] (JDK UAX #15 canonical
    * composition; NFC, not NFKC — safe before hashing). Run it on text
    * BEFORE fingerprinting/dedup so precomposed and decomposed
    * encodings of the same visible text hash identically. */
  def nfcNormalize(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    functions.NfcNormalize(text)

  /** CUSUM change-point detection per key: the classic Page statistic
    * computed via its prefix-min closed form (two running-frame window
    * passes — parallel per key, O(n), never a sequential recursion).
    * Input needs an integer value column (e.g. cents); returns one row
    * per key: peak statistic + its earliest location. */
  def changePoints(df: DataFrame, keyCol: String, idCol: String,
      tsCol: String, centsCol: String): DataFrame =
    queries.TimeSeriesQueries.changePointsOn(df, keyCol, idCol, tsCol, centsCol)

  /** Seasonal baseline + residuals: per-(type, bucket) profile
    * (broadcast) with each row scored against its bucket's exact-integer
    * mean — "is this normal for 3am?". Residuals are scaled by the
    * bucket count (no mean division); is_high = strictly above 1.1× the
    * bucket mean via cross-multiplication. All integers. */
  def seasonalBaseline(df: DataFrame, typeCol: String, bucketCol: String,
      idCol: String, centsCol: String): DataFrame =
    queries.TimeSeriesQueries.seasonalBaselineOn(
      df, typeCol, bucketCol, idCol, centsCol)

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS
    * algorithm): positional token 3-gram hashes, rightmost-minimum
    * selection per sliding window of 4 — the position-robust
    * fingerprint set with the guarantee that any shared run of ≥ 6
    * tokens yields a shared fingerprint. Per-row array arithmetic,
    * zero shuffles; returns (doc_id, pos, fp). Requires (doc_id, text). */
  def winnowFingerprints(docs: DataFrame): DataFrame =
    queries.TextQueries.winnowOn(docs)

  /** BPE tokenizer training (Sennrich et al. 2016): `rounds` merge
    * rounds over the corpus's (word, count) vocabulary — each round one
    * vocab-sized pair-count aggregate, a top-1 argmax, and a broadcast
    * literal rewrite. Returns the merge table (round, pair, merged, n) —
    * the tokenizer artifact itself. Vocab-bounded at any corpus size;
    * rounds are sequential because BPE is. Requires (doc_id, text). */
  def bpeMerges(docs: DataFrame, rounds: Int = 3): DataFrame =
    queries.TextQueries.bpeTrainOn(docs, rounds)

  /** BPE encode (the apply half of [[bpeMerges]]): replays the learned
    * merge table over every word occurrence in round order and returns
    * per-doc (n_words, n_bpe_tokens) — the token budget under the
    * corpus's OWN learned tokenizer. Train side vocab-bounded; apply
    * side one corpus-linear pass + a 1-row broadcast. */
  def bpeEncode(docs: DataFrame, rounds: Int = 3): DataFrame =
    queries.TextQueries.bpeEncodeOn(docs, rounds)

  /** Radius (range) similarity search: every corpus vector within
    * `threshold` cosine of each query vector (vec_id < nQueries), via
    * bipartite banded sign-LSH — the query band table broadcasts, the
    * corpus never shuffles, candidates are linear in the corpus for a
    * fixed query set. Exact int64 cosine on the candidates. */
  def rangeSearch(emb: DataFrame, nQueries: Int = 32,
      threshold: Double = 0.3, dim: Int = -1, nHint: Long = -1L): DataFrame =
    queries.SimilarityQueries.rangeSearchOn(emb, nQueries, threshold,
      dim0 = dim, nHint = nHint)

  /** Batch audio-frame extraction: fixed-size analysis windows with
    * exact int64 RMS/peak per frame, decoded via mapPartitions (one
    * decoder per partition). Default decoder parses real RIFF/PCM16 WAV
    * payloads with no external codec libraries; pass
    * [[operators.Multimodal.FakeAudioDecoder]] for byte-derived demo
    * signals. Input columns: (doc_id, audio binary). */
  def audioFrames(media: DataFrame, frameSamples: Int = 160,
      decoder: operators.Multimodal.AudioDecoder =
        operators.Multimodal.RealWavDecoder): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    operators.Multimodal.audioFrames(
      media.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("audio"))
        .as[operators.Multimodal.AudioRow],
      decoder, frameSamples).toDF()
  }

  /** Keyframe features from length-prefixed GVID video containers
    * ((doc_id, video) binary rows — [[operators.Multimodal.packGvid]]
    * builds them): walk the container, keep every `everyK`-th frame,
    * emit exact byte-level features per kept frame. mapPartitions batch
    * parse, zero shuffles; undecodable containers fail loudly with the
    * doc id. */
  def videoKeyframes(media: DataFrame, everyK: Int = 3): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    operators.Multimodal.videoKeyFrames(
      media.select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("video"))
        .as[operators.Multimodal.VideoRow], everyK).toDF()
  }

  // ---- joins ------------------------------------------------------------

  /** As-of join (most recent strictly-earlier build row per key):
    * broadcast-probe when the build side fits (bounded collect), with a
    * transparent fallback to the shuffle union+window plan. Long-typed
    * (key, ts); build unique per (key, ts). */
  def asOfJoin(spark: SparkSession, probe: DataFrame, build: DataFrame,
      key: String, ts: String, id: String, value: String): DataFrame =
    operators.AsOf.broadcastProbe(spark, probe, build, key, ts, id, value)

  /** As-of join for the big-probe × big-build regime: both sides shuffle
    * by (key, time-bucket), so a hot key never becomes one unbounded
    * sort task and nothing is collected to the driver. Pick
    * `bucketWidth` so one key's bucket fits a task (e.g. an hour of ns).
    */
  def asOfJoinBucketed(probe: DataFrame, build: DataFrame,
      key: String, ts: String, id: String, value: String,
      bucketWidth: Long): DataFrame =
    operators.AsOf.rangeBucketed(probe, build, key, ts, id, value, bucketWidth)

  // ---- SQL surface ------------------------------------------------------

  /** Register the document-pipeline operators as SQL temp views over an
    * existing view/table (columns `doc_id` long, `text` string, and
    * `lang` for packing), plus the scalar/aggregate function families
    * ([[functions.GraftFunctions]]) — after this a SQL-only user runs the
    * whole pipeline end-to-end with `spark.sql`:
    *
    *   - `<prefix>_exact_dup_groups` (text_fp, keep_id, n_copies)
    *   - `<prefix>_near_dup_pairs`   (doc_a, doc_b, inter, uni, jaccard)
    *   - `<prefix>_containment`      (doc_a, doc_b, inter, n_a, n_b, cont_a, cont_b)
    *   - `<prefix>_keep_best`        (component, keep_id, keep_chars, n_members, sum_chars)
    *   - `<prefix>_quality_signals`  (doc_id, n_tokens, top_tok_n, top_tok_frac, dup_3gram_frac)
    *   - `<prefix>_chunks`           (doc_id, chunk_idx, start_tok, chunk_tok, first_tok)
    *   - `<prefix>_packed`           (lang, bin, n_docs, bin_tokens, first_doc, last_doc) — if `lang` exists
    *
    * `materialize = true` (default) computes the sketch/fixpoint views NOW
    * and registers self-contained results (facade cache contract: nothing
    * left pinned); `materialize = false` registers LAZY views — filters
    * push down into the pipeline plans and nothing runs until queried, but
    * querying pins sketch tables until `spark.catalog.clearCache()`.
    * `<prefix>_keep_best` contains a fixpoint loop and is always computed
    * eagerly. Scalar-only views (exact groups, quality, chunks, packed)
    * are always lazy — they cache nothing. */
  def registerDocPipelineSql(spark: SparkSession, docsView: String,
      prefix: String = "graft", materialize: Boolean = true): Unit = {
    functions.GraftFunctions.register(spark)
    val docs = spark.table(docsView)
    def view(n: String) = s"${prefix}_$n"
    queries.DedupQueries.exactDedup(docs)
      .createOrReplaceTempView(view("exact_dup_groups"))
    queries.PipelineQueries.repetition(docs)
      .createOrReplaceTempView(view("quality_signals"))
    queries.PipelineQueries.chunk(docs)
      .createOrReplaceTempView(view("chunks"))
    if (docs.columns.contains("lang"))
      queries.PipelineQueries.sequencePack(docs)
        .createOrReplaceTempView(view("packed"))
    def sketch(n: String, pinned: => (DataFrame, Seq[DataFrame])): Unit =
      (if (materialize) materialized(pinned) else pinned._1)
        .createOrReplaceTempView(view(n))
    sketch("near_dup_pairs", queries.DedupQueries.jaccardPairsPinned(docs))
    sketch("containment",
      queries.DedupQueries.containmentJoinPinned(docs, theta = 0.6))
    keepBestPerCluster(docs).createOrReplaceTempView(view("keep_best"))
  }

  /** Embedding-side twin of [[registerDocPipelineSql]], over a view with
    * (`vec_id` long, `embedding` array<float>):
    *
    *   - `<prefix>_emb_near_dups` (vec_a, vec_b, cosine) — auto-banded
    *     near-dup pairs at `threshold`, computed eagerly NOW (facade
    *     cache contract)
    *   - `<prefix>_emb_ann`       (query_id, neighbor_id, rk, cosine_r) —
    *     lazy LSH-bucketed ANN top-k
    *
    * Pass `dim` to skip the width probe, `nHint` to skip the count job.
    * The near-dup view inherits [[embeddingNearDupsAuto]]'s recall
    * envelope: outside it (bands capped at 128) the view is built anyway
    * with a WARNING stating the achieved recall. */
  def registerEmbeddingPipelineSql(spark: SparkSession, embView: String,
      prefix: String = "graft", threshold: Double = 0.9,
      dim: Int = -1, nHint: Long = -1L): Unit = {
    val emb = spark.table(embView)
    embeddingNearDupsAuto(emb, threshold, nHint = nHint, dim = dim)
      .createOrReplaceTempView(s"${prefix}_emb_near_dups")
    annTopK(emb, topK = 3, dim = dim, nHint = nHint)
      .createOrReplaceTempView(s"${prefix}_emb_ann")
  }

  // ---- streaming --------------------------------------------------------

  /** Incremental corpus ingest: cross-batch content-fingerprint dedup +
    * token-count quality gate over a landing directory of document
    * parquet files. Returns the streaming DataFrame to start. */
  def ingestCorpus(spark: SparkSession, landingDir: String,
      minTokens: Int = 5): DataFrame =
    streaming.CorpusIngest.ingest(
      streaming.CorpusIngest.readDocs(spark, landingDir), minTokens)

  /** Cross-batch NEAR-duplicate detection over a landing directory —
    * the streaming twin of [[nearDupPairs]]: each incoming document is
    * matched against every previously ingested doc sharing a MinHash-LSH
    * band bucket (state-store-backed corpus index), emitting
    * (doc_id, dup_of, sig_matches) rows in append mode. `minSigMatches`
    * of 16 signature components is the similarity gate (8 ≈ Jaccard
    * 0.5). Streaming ≡ batch is pinned by StreamingNearDupSpec. */
  def streamNearDups(spark: SparkSession, landingDir: String,
      minSigMatches: Int = 8): DataFrame =
    streaming.CorpusIngest.nearDupMatches(
      streaming.CorpusIngest.readDocs(spark, landingDir), minSigMatches)

  /** Streaming counter-reset rate deltas over a landing directory of
    * event files — the incremental twin of ts14's delta half: per-series
    * last-reading state (constant per series), one delta row per
    * arriving reading with Prometheus reset semantics. Roll up with
    * [[queries.TimeSeriesQueries.counterRollup]] (or any windowed agg)
    * downstream. Streaming ≡ batch is pinned by
    * StreamingCounterRateSpec. */
  def streamCounterDeltas(spark: SparkSession,
      landingDir: String): DataFrame =
    streaming.StreamCounterRate.deltas(
      streaming.EventStreams.readEvents(spark, landingDir)).toDF()

  /** Cross-batch EMBEDDING near-duplicate detection over a landing
    * directory of embedding parquet files — the streaming twin of
    * [[embeddingNearDups]] (batch d5) and the vector-side sibling of
    * [[streamNearDups]]: each arriving vector is matched against every
    * previously ingested vector sharing a sign-LSH band bucket
    * (state-store-backed band index holding the quantized vectors), and
    * verified by the EXACT quantized cosine — streaming ≡ batch is
    * bit-exact on the distinct pair set (StreamingEmbedDedupSpec).
    * Emits (vec_id, dup_of, cosine) in append mode; use
    * [[queries.DedupQueries.autoBandParams]] sizing for production
    * thresholds. */
  def streamEmbeddingNearDups(spark: SparkSession, landingDir: String,
      bands: Int = 32, rowBits: Int = 4, threshold: Double = 0.45,
      dim: Int = 64): DataFrame =
    streaming.StreamEmbedDedup.nearDupMatches(
      streaming.StreamEmbedDedup.readEmbeddings(spark, landingDir),
      bands, rowBits, threshold, dim)

  /** Keep a persisted IVF-PQ index fresh from a landing directory of
    * embedding files: a foreachBatch sink appending each micro-batch
    * with frozen quantizers ([[appendAnnIndex]]'s contract — chunked ≡
    * one-shot, pinned by StreamingEmbedDedupSpec). Returns the started
    * query. */
  def streamIndexAppend(spark: SparkSession, landingDir: String,
      indexDir: String, checkpointDir: String,
      policy: operators.CompactionPolicy = operators.CompactionPolicy(),
      recall: operators.RecallPolicy = operators.RecallPolicy()
      ): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamEmbedDedup.indexAppendSink(
      streaming.StreamEmbedDedup.readEmbeddings(spark, landingDir),
      indexDir, checkpointDir, policy = policy, recall = recall)

  /** Streaming ingest into a persisted DEDUP artifact: each arriving
    * (doc_id, text) file is appended (d16's bipartite increment,
    * verified against the artifact's own stored shingle table — the
    * corpus text is never read) and then published to
    * `corpusDir/batch-<id>` for downstream consumers. Exactly-once end
    * to end: the manifest's batchId high-water mark no-ops replays,
    * the publish is a per-batch overwrite, and the index commits FIRST
    * so a crash between the two converges on retry. Seed `corpusDir`
    * with the already-indexed corpus before starting. Streamed ≡
    * one-shot build pinned by StreamDedupIngestSpec. Returns the
    * started query. */
  def streamDedupIngest(spark: SparkSession, landingDir: String,
      indexDir: String, corpusDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamDedupIngest.ingestSink(
      streaming.StreamDedupIngest.readDocs(spark, landingDir),
      indexDir, corpusDir, checkpointDir)

  /** Streaming takedown: apply a (doc_id) removal-request stream to a
    * persisted dedup artifact — each micro-batch is one [[dedupDelete]]
    * behind the artifact's atomic commit; replays are durable no-ops
    * via the independent `last_delete_batch` high-water mark
    * (StreamTakedownSpec pins streamed ≡ batch delete). An enabled
    * `policy` folds pending tombstones in-stream when the live-window
    * bound trips, so a long-lived removal queue never accretes
    * anti-join debt. */
  def streamDedupTakedown(spark: SparkSession, landingDir: String,
      indexDir: String, checkpointDir: String,
      policy: operators.CompactionPolicy = operators.CompactionPolicy()
      ): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamTakedown.dedupTakedownSink(
      spark.readStream.schema("doc_id LONG")
        .option("maxFilesPerTrigger", 1).parquet(landingDir),
      indexDir, checkpointDir, policy)

  /** Streaming takedown for a persisted ANN artifact (any family except
    * sq8) — the (vec_id) twin of [[streamDedupTakedown]]. */
  def streamAnnTakedown(spark: SparkSession, landingDir: String,
      indexDir: String, checkpointDir: String,
      policy: operators.CompactionPolicy = operators.CompactionPolicy(),
      recall: operators.RecallPolicy = operators.RecallPolicy()
      ): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamTakedown.annTakedownSink(
      spark.readStream.schema("vec_id LONG")
        .option("maxFilesPerTrigger", 1).parquet(landingDir),
      indexDir, checkpointDir, policy, recall)

  /** ONE removal queue driving EVERY artifact (r13 verdict #1): each
    * micro-batch of ids (a single `id LONG` column — the pipeline id
    * space documents and their embeddings share) is applied to every
    * dedup artifact, ANN index and published corpus dir from a single
    * checkpoint, so the whole takedown surface shares one batch
    * high-water mark. Per-artifact commits stay CAS-guarded and
    * replay-exact; a crash between two artifacts' commits converges on
    * restart ([[streaming.StreamTakedownAll]]); [[takedownStatus]] is
    * the convergence check. An enabled `policy` folds index artifacts
    * whose live window trips the bound. */
  def streamTakedownAll(spark: SparkSession, landingDir: String,
      dedupDirs: Seq[String], annDirs: Seq[String],
      corpusDirs: Seq[String], checkpointDir: String,
      policy: operators.CompactionPolicy = operators.CompactionPolicy(),
      recall: operators.RecallPolicy = operators.RecallPolicy()
      ): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamTakedownAll.takedownAllSink(
      spark.readStream.schema("id LONG")
        .option("maxFilesPerTrigger", 1).parquet(landingDir),
      dedupDirs, annDirs, corpusDirs, checkpointDir, policy, recall)

  /** One-shot cross-artifact takedown for BATCH callers: apply one id
    * set (single `id` column) to every dedup artifact, ANN index and
    * published corpus dir — the [[streamTakedownAll]] apply without a
    * stream (no replay guards; each artifact's delete commits through
    * its own lease+CAS as always). Verify with [[takedownStatus]]. */
  def takedownAll(spark: SparkSession, ids: DataFrame,
      dedupDirs: Seq[String], annDirs: Seq[String],
      corpusDirs: Seq[String]): Unit =
    streaming.StreamTakedownAll.applyAll(ids, -1L, dedupDirs, annDirs,
      corpusDirs)

  /** Cross-artifact takedown convergence report: per artifact, how many
    * of the queue's ids are still visible in its live view — all-zero
    * `n_visible` means every artifact excluded the same id set.
    * (artifact, kind, n_queue, n_visible). */
  def takedownStatus(spark: SparkSession, queue: DataFrame,
      dedupDirs: Seq[String], annDirs: Seq[String],
      corpusDirs: Seq[String]): DataFrame =
    streaming.StreamTakedownAll.takedownStatus(spark, queue, dedupDirs,
      annDirs, corpusDirs)

  /** [[ingestStatus]] and [[takedownStatus]] as ONE health frame with
    * ONE live-view scan per artifact (r15 verdict #7): per artifact,
    * how many of the ingest queue's ids are live (`n_live` — equal
    * across rows ⇔ ingest converged) and how many of the takedown
    * queue's ids are still visible (`n_visible` — all zero ⇔ takedowns
    * converged). The operator dashboard call for an orchestrated
    * deployment. */
  def artifactHealth(spark: SparkSession, ingested: DataFrame,
      takedowns: DataFrame, dedupDirs: Seq[String], annDirs: Seq[String],
      corpusDirs: Seq[String]): DataFrame =
    streaming.StreamTakedownAll.healthStatus(spark, ingested, takedowns,
      dedupDirs, annDirs, corpusDirs)

  /** ONE crawl stream driving EVERY artifact (r14 verdict #1) — the
    * write-path twin of [[streamTakedownAll]]: each micro-batch of
    * crawl rows (`doc_id`, `text`, `embedding` — the document and its
    * upstream-computed embedding in one row) lands in every dedup
    * artifact, ANN index and published corpus dir from a single
    * checkpoint, so the whole ingest surface shares one batch
    * high-water mark. A crash between two artifacts' commits converges
    * on restart ([[streaming.StreamIngestAll]]); [[ingestStatus]] is
    * the convergence check. An enabled `policy` folds artifacts whose
    * live window trips the bound in-stream. */
  def streamIngestAll(spark: SparkSession, landingDir: String,
      dedupDirs: Seq[String], annDirs: Seq[String],
      corpusDirs: Seq[String], checkpointDir: String,
      policy: operators.CompactionPolicy = operators.CompactionPolicy(),
      recall: operators.RecallPolicy = operators.RecallPolicy()
      ): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamIngestAll.ingestAllSink(
      streaming.StreamIngestAll.readCrawl(spark, landingDir),
      dedupDirs, annDirs, corpusDirs, checkpointDir, policy, recall)

  /** One-shot cross-artifact ingest for BATCH callers: land one crawl
    * set (`doc_id`, `text`, `embedding` columns) in every dedup
    * artifact, ANN index and published corpus dir — the
    * [[streamIngestAll]] apply without a stream. `batchId` is the
    * corpus publish slot and every artifact's replay guard; pass a
    * fresh (higher) id per call. Verify with [[ingestStatus]]. */
  def ingestAll(spark: SparkSession, crawl: DataFrame, batchId: Long,
      dedupDirs: Seq[String], annDirs: Seq[String],
      corpusDirs: Seq[String]): Unit =
    streaming.StreamIngestAll.applyAll(crawl, batchId, dedupDirs,
      annDirs, corpusDirs)

  /** Cross-artifact ingest convergence report: per artifact, how many
    * of the crawl queue's doc ids are LIVE in its view — all `n_live`
    * equal means every artifact ingested the same id set; a smaller
    * count names where a crash-window divergence sits.
    * (artifact, kind, n_queue, n_live). */
  def ingestStatus(spark: SparkSession, queue: DataFrame,
      dedupDirs: Seq[String], annDirs: Seq[String],
      corpusDirs: Seq[String]): DataFrame =
    streaming.StreamIngestAll.ingestStatus(spark, queue, dedupDirs,
      annDirs, corpusDirs)

  /** Takedown from the PUBLISHED ingest corpus: tombstone the doc ids —
    * [[readIngestCorpus]] excludes them the instant the commit lands;
    * the rows drop physically at the next [[compactIngestCorpus]]. */
  def corpusDelete(spark: SparkSession, corpusDir: String,
      ids: DataFrame): Long =
    streaming.StreamDedupIngest.corpusDelete(ids, corpusDir)

  /** The published ingest corpus as one DataFrame — the read seam that
    * stays correct across [[compactIngestCorpus]] calls and streaming
    * replays (folded per-batch dirs, including replay-recreated ones,
    * are ignored by construction). */
  def readIngestCorpus(spark: SparkSession, corpusDir: String): DataFrame =
    streaming.StreamDedupIngest.readCorpus(spark, corpusDir)

  /** Fold the ingest corpus's per-batch publish dirs with id ≤ `upTo`
    * into one merged slab behind a corpus manifest — the small-files
    * maintenance call for the publish side; contents and exactly-once
    * semantics unchanged (DeltaCompactionSpec). */
  def compactIngestCorpus(spark: SparkSession, corpusDir: String,
      upTo: Long): Unit =
    streaming.StreamDedupIngest.compactCorpus(spark, corpusDir, upTo)

  /** C4-style LINE-level dedup as a streaming ingest stage: a line
    * that ever occurred in an earlier-ingested document is dropped
    * from every later one; per-doc rollups (n_lines, n_kept, byte-
    * exact kept_fp) land in replay-idempotent `outDir/batch-<id>`
    * dirs. Streamed ≡ the batch d17 operator on the union corpus
    * (StreamingLineDedupSpec). Returns the started query. */
  def streamLineDedup(spark: SparkSession, landingDir: String,
      outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.CorpusIngest.lineDedupSink(
      spark.readStream.schema(streaming.StreamDedupIngest.docSchema)
        .option("maxFilesPerTrigger", "1").parquet(landingDir),
      outDir, checkpointDir)

  /** Serve a landing directory of (query_id, embedding) files from a
    * persisted ANN index — the retrieval half of the streaming story
    * next to [[streamIndexAppend]]'s ingest half: each micro-batch is
    * answered via [[annIndexServe]] (stored quantizers, no rebuild)
    * into `outDir/batch-<id>` (overwrite — replay-idempotent; read the
    * results with `outDir/batch-*`). Micro-batch splits are invisible:
    * per-query top-k is batching-independent (spec-pinned). Returns
    * the started query; stop it to stop serving. */
  def streamIndexServe(spark: SparkSession, landingDir: String,
      indexDir: String, emb: DataFrame, outDir: String,
      checkpointDir: String,
      topK: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    streaming.StreamEmbedDedup.serveSink(
      streaming.StreamEmbedDedup.readQueries(spark, landingDir),
      indexDir, emb, outDir, checkpointDir, topK)

  /** Cross-batch IMAGE near-duplicate detection over a landing
    * directory of document/media parquet files — the third modality of
    * the ingest-dedup triad (docs: [[streamNearDups]]; embeddings:
    * [[streamEmbeddingNearDups]]): per-row Hamming band slices of the
    * perceptual hash (same bit slices as batch m5's join key), band
    * buckets holding (doc_id, phash) — 16 bytes per band per unique
    * image — and an exact bitCount verify on collisions only.
    * Streaming ≡ batch pinned by StreamingImageDedupSpec. Emits
    * (doc_id, dup_of, hamming) in append mode. */
  def streamImageNearDups(spark: SparkSession, landingDir: String,
      bands: Int = 4, bandBits: Int = 15, maxHamming: Int = 12): DataFrame =
    streaming.StreamImageDedup.nearDupMatches(
      operators.Multimodal.decodeFeatures(
        operators.Multimodal.mediaFromDocuments(
          streaming.CorpusIngest.readDocs(spark, landingDir)),
        operators.Multimodal.LocalityFakeMediaDecoder)
        .toDF().select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("phash")),
      bands, bandBits, maxHamming)

  /** Streaming bucketed-histogram counters over a landing directory of
    * event files — the incremental twin of ts15's counting half: per-
    * (series, hour) log₂-bucket counts as mergeable MapState (≤ ~40
    * entries per key), emitting updated (event_type, hour, b, cnt) rows
    * per micro-batch; counts are monotone, so the latest row per
    * (key, b) is the live bucket table. Interpolate quantiles with
    * [[queries.TimeSeriesQueries.quantilesFromBuckets]] downstream.
    * Streaming ≡ batch is pinned by StreamingHistogramSpec. */
  def streamHistogramBuckets(spark: SparkSession,
      landingDir: String): DataFrame =
    streaming.StreamHistogram.buckets(
      streaming.EventStreams.readEvents(spark, landingDir)).toDF()
}
