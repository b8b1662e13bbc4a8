package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.XHash
import graft.operators.TextOps

/** Deduplication operator family over `documents` (BASELINE.json north
  * star): exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  * Every sketch is built on the cross-engine hash ([[XHash]]) so even the
  * LSH candidate generation is exactly reproduced by the DuckDB oracle —
  * the correctness gate covers the approximate operators too, not just a
  * row count.
  *
  * Scale notes (100 TB framing): every query here is shuffle-bounded by
  * `groupBy(doc)` or a key-equi-join on band/shingle hashes — never an
  * all-pairs cross join. The quadratic work only happens WITHIN an LSH
  * band bucket / shared-shingle group, which is the standard web-scale
  * dedup layout (MinHashLSH as in Spark MLlib, RAPIDS deduplication).
  */
object DedupQueries {
  private[graft] val K = 16 // minhash signatures
  private[graft] val Bands = 4 //   -> 4 bands x 4 rows
  private[graft] val Rows = K / Bands

  /** Join-strategy ladder for a sketch-join side whose row count is
    * KNOWN exactly (an nHint or a real count() — never a stats estimate:
    * AQE's compressed shuffle stats under-estimated the in-memory hash
    * build ~100× and OOM'd the driver at the 100× octave, BENCH_NOTES
    * finding #1; that class of bug cannot recur here because the bound
    * multiplies an exact row count by a deliberately PESSIMISTIC
    * in-memory width). Three tiers:
    *  - rows×rowBytes ≤ 32 MB: broadcast (the r4 size-aware re-enable,
    *    worth ~0.3–0.5 s/query at sf0.1);
    *  - ≤ [[SketchHashBytes]] (512 MB): shuffle_hash — per-partition
    *    hash builds stay bounded and beat SMJ's sort. The bound is
    *    CONCURRENCY-aware: all ~cores tasks build simultaneously from
    *    one shared execution pool, and a hash relation costs several ×
    *    its raw bytes (measured at the 1000× octave: a 960 MB side =
    *    30 MB/partition raw asked for 512 MB builds and died at 32
    *    concurrent tasks);
    *  - above: sort-merge — a hash build CANNOT be made safe here,
    *    because AQE coalescing decides the final partition count from
    *    the same ~100×-under-estimating compressed stats (BENCH_NOTES
    *    100× finding #1), while SMJ builds nothing and spills its sort
    *    gracefully at any size.
    * knownRows ≤ 0 = unknown → shuffle_hash. */
  private[graft] val SketchBroadcastBytes: Long = 32L << 20
  private[graft] val SketchHashBytes: Long = 512L << 20
  private[graft] def sizedHint(df: DataFrame, knownRows: Long,
      rowBytes: Long): DataFrame =
    if (knownRows > 0 && knownRows <= SketchBroadcastBytes / rowBytes)
      broadcast(df)
    else if (knownRows > 0 && knownRows > SketchHashBytes / rowBytes)
      df.hint("merge")
    else df.hint("shuffle_hash")

  /** The ONE join-strategy hint for a tombstone/removal-id side (r13
    * verdict "what's wrong" #1, shared by the dedup/ann/corpus takedown
    * legs so the policy cannot drift between them): exact row count
    * through the [[sizedHint]] tiers at the 16-byte id width instead of
    * a bare `broadcast()` a bulk takedown would force into the driver;
    * an UNKNOWN count (−1 — legacy manifests with a live window but no
    * accounting) keeps the legacy broadcast, because those windows
    * predate bulk-takedown support. */
  private[graft] def idSideHint(side: DataFrame, rows: Long): DataFrame =
    if (rows < 0) broadcast(side) else sizedHint(side, rows, 16L)

  /** exact duplicate groups by full-text hash: one row per distinct text
    * with the canonical (min) doc_id and the duplicate count.
    * DataFrame-parameterized (columns: doc_id, text) — the public API
    * entry ([[graft.Graft.exactDupGroups]]); the query wrapper binds the
    * driver corpus. */
  private[graft] def exactDedup(docs: DataFrame): DataFrame =
    docs
      .groupBy(TextOps.fingerprint(col("text")).as("text_fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  private val exactDedupSql =
    s"""SELECT ${TextOps.fingerprintSql("text")} AS text_fp,
       |  MIN(doc_id) AS keep_id, COUNT(1) AS n_copies
       |FROM documents GROUP BY 1""".stripMargin

  /** MinHash signature matrix (the reusable sketch). Docs too short to
    * shingle are excluded (the SQL twin's len>=3 filter).
    *
    * Physical shape: explode shingles → one md5 per shingle → 16 codegen'd
    * `min((h*a+b)%P)` aggregates in ONE hash-agg pass. The pure
    * array-function formulation (array_min over 16 transforms) stays out
    * of whole-stage codegen (HigherOrderFunction = CodegenFallback) and
    * measured ~10× slower; the explode adds one shuffle by doc_id but
    * keeps everything else in generated code with map-side partial mins.
    */
  private[graft] def minhashSigs(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(TextOps.shingles(col("text"))).as("sh"))
      .select(col("doc_id"), XHash.hashP(col("sh")).as("h"))
    val aggs = XHash.coeffs(K).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % XHash.P).as(s"s$i")
    }
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }
  private def minhashSigsSql: String = {
    val sigExprs = XHash.coeffs(K).zipWithIndex.map { case ((a, b), i) =>
      s"MIN((${XHash.hashPSql("sh")} * $a + $b) % ${XHash.P}) AS s$i"
    }.mkString(",\n    ")
    s"""SELECT doc_id, $sigExprs
       |  FROM (SELECT doc_id, unnest(${TextOps.shinglesSql("text")}) AS sh
       |        FROM documents WHERE len(${TextOps.tokensSql("text")}) >= 3)
       |  GROUP BY doc_id""".stripMargin
  }

  /** LSH candidate pairs: equal band signature in ≥1 of 4 bands, then
    * exact signature agreement count as the similarity estimate. The
    * all-pairs work is confined to band buckets (standard MinHashLSH
    * shape: shingle → minhash → band → bucket-equi-join).
    *
    * Cache contract: the `…Pinned` variant also returns the intermediates
    * it persisted, so callers that outlive a query run (the [[graft.Graft]]
    * facade) can release them after materializing; the registry/bench path
    * uses the plain variant and relies on its per-query clearCache. */
  private[graft] def minhashLsh(docs: DataFrame, nHint: Long = -1L): DataFrame =
    minhashLshPinned(docs, nHint)._1
  private[graft] def minhashLshPinned(docs: DataFrame,
      nHint: Long = -1L): (DataFrame, Seq[DataFrame]) = {
    // exact doc count (cheap metadata scan) upper-bounds every sketch
    // side below — the input to the size-aware broadcast decision
    val n = if (nHint > 0) nHint else docs.count()
    // the signature matrix is referenced 3× (band explode + both candidate
    // rejoins); ReuseExchange only dedups two of the subtrees, so pin the
    // tiny sketch table (K longs/doc) in storage — at scale this is the
    // "write the sketch table once" stage every web-dedup pipeline has
    val sigArr = minhashSigArr(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize BEFORE the multi-leg consumption: the band self-join +
    // two sketch rejoins otherwise race to fill the cache, each replaying
    // the minhash projection (CacheDisciplineSpec's no-replay contract)
    sigArr.count()
    (lshFromSigArr(sigArr, n), Seq(sigArr))
  }

  /** The LSH candidate half over an existing (doc_id, sig) signature
    * table (pinned by the inline path above, or loaded from the
    * [[graft.operators.DedupIndex]] parquet artifact): band self-join +
    * exact signature-agreement count. */
  private[graft] def lshFromSigArr(sigArr: DataFrame, n: Long): DataFrame = {
    val cand = candidatesFromSigArr(sigArr, n)
    // the sketch table is O(corpus): broadcast ONLY under the exact-count
    // size bound (sizedHint) — its compressed shuffle stats (16 longs/doc)
    // under-estimate the in-memory build ~100x, and at the 100x octave
    // AQE's stats-driven broadcast conversion OOM'd the driver on exactly
    // this join. Above the bound shuffle_hash keeps the build
    // per-partition (16 longs/doc easily fits any task) at every scale.
    cand
      .join(sizedHint(sigArr.select(col("doc_id").as("doc_a"),
        col("sig").as("sig_a")), n, 512), "doc_a")
      .join(sizedHint(sigArr.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b")), n, 512), "doc_b")
      .withColumn("sig_matches",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)), lit(0L), (acc, v) => acc + v))
      .select("doc_a", "doc_b", "sig_matches")
  }

  /** The LSH candidate-pair half ALONE — band self-join + distinct,
    * WITHOUT the signature rejoins that compute `sig_matches`. Every
    * consumer that immediately drops `sig_matches` (the jaccard /
    * containment verifies, the DedupIndex pair builds) goes through
    * this: Catalyst prunes the zip_with COLUMN from the discarded
    * rejoins but cannot remove the two cand×sigArr JOINS themselves
    * (it can't prove they are 1:1), so the verify paths were paying two
    * dead hash joins per run — 2 joins and one sketch-table pass
    * removed at every scale (r16 optimization, guide §2.4). */
  private[graft] def candidatesFromSigArr(sigArr: DataFrame, n: Long): DataFrame = {
    val bands = sigBandRows(sigArr).drop("sig")
    // band table: n×Bands rows, ~128 B in memory (ids + band_val string)
    bands.as("a").join(
        sizedHint(bands, n * Bands, 128).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The (doc_id, sig: array<long>) signature-matrix form of
    * [[minhashSigs]] — the write-once sketch table shape
    * ([[graft.operators.DedupIndex]] persists exactly this frame). */
  private[graft] def minhashSigArr(docs: DataFrame): DataFrame =
    minhashSigs(docs).select(col("doc_id"),
      array((0 until K).map(i => col(s"s$i")): _*).as("sig"))

  /** (doc_id, band_idx, band_val, sig) band rows from a (doc_id, sig)
    * signature frame — ONE shared construction for the batch LSH join
    * key and the streaming ingest's state-store key
    * (streaming.CorpusIngest), so bucket membership matches
    * bit-for-bit between the two paths. */
  private[graft] def sigBandRows(sigArr: DataFrame): DataFrame =
    sigArr.select(col("doc_id"), col("sig"),
      explode(array((0 until Bands).map { b =>
        struct(lit(b).as("band_idx"),
          concat_ws("_", (0 until Rows).map(r =>
            element_at(col("sig"), b * Rows + r + 1)): _*).as("band_val"))
      }: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
        col("band.band_val").as("band_val"), col("sig"))

  /** The minhash signature as ONE per-row expression — min over the
    * shingle array via transform/array_min instead of explode/groupBy.
    * Identical values to [[minhashSigs]] (min over the same multiset),
    * but shuffle-free: the form a STREAMING pipeline needs (a streaming
    * groupBy(doc_id) would be a second unbounded stateful operator) and
    * the cheaper form wherever the signature feeds a per-row consumer. */
  private[graft] def perRowSigArr(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), array(XHash.coeffs(K).map { case (a, b) =>
        array_min(transform(col("sh"), g => (XHash.hashP(g) * a + b) % XHash.P))
      }: _*).as("sig"))

  private def minhashLshSql: String = {
    val bandSelects = (0 until Bands).map { b =>
      val cols = (0 until Rows).map(r => s"s${b * Rows + r}").mkString(", '_', ")
      s"SELECT doc_id, $b AS band_idx, concat(${cols}) AS band_val FROM sig"
    }.mkString("\n    UNION ALL ")
    val matchSum = (0 until K).map(i =>
      s"CASE WHEN x.s$i = y.s$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH sig AS (${minhashSigsSql}),
       |bands AS (
       |    $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST($matchSum AS BIGINT) AS sig_matches
       |FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b""".stripMargin
  }

  /** Exact n-gram Jaccard, verified on the LSH candidate pairs — the
    * standard two-phase near-dup pipeline (LSH recall pass, exact
    * precision pass). The quadratic work stays confined to band buckets;
    * the exact set intersection is an array op per candidate, not a
    * shingle self-join over the corpus. */
  private[graft] def jaccardPairs(docsIn: DataFrame, nHint: Long = -1L): DataFrame =
    jaccardPairsPinned(docsIn, nHint)._1
  /** ONE shingle+md5 pass (r16 optimization, guide §2.3/§2.4): the
    * pinned hashed-shingle table feeds BOTH the signature derivation
    * (values identical to the text path — [[minhashSigArrFromHashes]])
    * and the verify rejoins ([[jaccardVerifyHashed]] — 8-byte hashes
    * instead of ~25-byte shingle strings, the d11 representation).
    * The old shape shingled the corpus twice (once for minhash, once
    * for the string verify) and paid two dead sig rejoins
    * ([[candidatesFromSigArr]] scaladoc). Exactness: [[TextOps.shingles]]
    * is DISTINCT, so |hs| = |sh| and inter/uni are bit-identical to the
    * string verify under the library-wide md5-60 contract; the artifact
    * twin (DedupIndexSpec) has pinned hashed-pairs ≡ [[jaccardPairs]]
    * since r9. */
  private[graft] def jaccardPairsPinned(docsIn: DataFrame,
      nHint: Long = -1L): (DataFrame, Seq[DataFrame]) = {
    val n = if (nHint > 0) nHint else docsIn.count()
    val hsT = hashedShingleSets(docsIn)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize BEFORE the multi-leg consumption (sig derivation +
    // both verify rejoins) — CacheDisciplineSpec's no-replay contract
    hsT.count()
    val cand = candidatesFromSigArr(minhashSigArrFromHashes(hsT), n)
    (jaccardVerifyHashed(cand, hsT, n), Seq(hsT))
  }

  /** The exact-Jaccard precision pass over an existing (doc_a, doc_b)
    * candidate set: shingle the docs, intersect per candidate, keep
    * pairs at J ≥ 0.5. Factored so the [[graft.operators.DedupIndex]]
    * append path can verify its bipartite increment candidates against
    * only the docs the candidates touch. */
  private[graft] def jaccardVerify(cand: DataFrame, docsIn: DataFrame,
      n: Long): DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), TextOps.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    // shingle arrays are O(corpus) and WIDE (~hundreds of 25-byte strings
    // per doc — pessimistic 8 KB/row): the size bound flips to broadcast
    // only for genuinely tiny corpora; see sizedHint
    cand
      .join(sizedHint(docs.select(col("doc_id").as("doc_a"),
        col("sh").as("sh_a")), n, 8192), "doc_a")
      .join(sizedHint(docs.select(col("doc_id").as("doc_b"),
        col("sh").as("sh_b")), n, 8192), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("bigint") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "inter", "uni", "jaccard")
  }

  /** (doc_id, hs: array<long>) — each doc's shingle set as DISTINCT
    * 60-bit md5 hashes, d11's verify-set representation
    * ([[containmentCandidates]]): ~8 B per shingle instead of ~25-byte
    * strings, so a verify that reads it shuffles ~100× less than one
    * that re-shingles corpus text. [[graft.operators.DedupIndex]]
    * persists exactly this frame so its serve/append verifies never
    * touch the text table. Same exclusion as [[minhashSigs]] (docs too
    * short to shingle). */
  private[graft] def hashedShingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        array_distinct(transform(TextOps.shingles(col("text")),
          g => XHash.hash60(g))).as("hs"))
      .filter(size(col("hs")) > 0)

  /** [[minhashSigArr]] computed FROM a hashed shingle-set table instead
    * of raw text — `min((h60 % P)·a + b) % P` over the same distinct
    * multiset, so values are identical to the text path (min over
    * distinct hashes = min over the shingle multiset). Lets
    * [[graft.operators.DedupIndex]] derive signatures and verify sets
    * from ONE shingle+md5 pass over the corpus. */
  private[graft] def minhashSigArrFromHashes(hsT: DataFrame): DataFrame = {
    val hashed = hsT.select(col("doc_id"), explode(col("hs")).as("h60"))
      .select(col("doc_id"), (col("h60") % XHash.P).as("h"))
    val aggs = XHash.coeffs(K).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % XHash.P).as(s"s$i")
    }
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until K).map(i => col(s"s$i")): _*).as("sig"))
  }

  /** [[jaccardVerify]] over hashed shingle sets: `hsAll` is a
    * (doc_id, hs) table covering every doc either side of `cand`
    * references. Same J ≥ 0.5 gate; inter/uni count distinct 60-bit
    * hashes (identical to the string counts absent a 60-bit collision
    * inside one pair — the d11 representation contract). The ~4 KB/row
    * pessimistic width drives the broadcast ladder exactly as d11's
    * verify does. */
  private[graft] def jaccardVerifyHashed(cand: DataFrame, hsAll: DataFrame,
      n: Long): DataFrame =
    cand
      .join(sizedHint(hsAll.select(col("doc_id").as("doc_a"),
        col("hs").as("hs_a")), n, 4096), "doc_a")
      .join(sizedHint(hsAll.select(col("doc_id").as("doc_b"),
        col("hs").as("hs_b")), n, 4096), "doc_b")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("bigint"))
      .withColumn("uni",
        (size(col("hs_a")) + size(col("hs_b"))).cast("bigint") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "inter", "uni", "jaccard")
  private def jaccardPairsSql =
    s"""WITH sig AS ($minhashSigsSql),
       |bands AS (
       |    ${(0 until Bands).map { b =>
             val cols = (0 until Rows).map(r => s"s${b * Rows + r}").mkString(", '_', ")
             s"SELECT doc_id, $b AS band_idx, concat($cols) AS band_val FROM sig"
           }.mkString("\n    UNION ALL ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id),
       |sh AS (SELECT doc_id, ${TextOps.shinglesSql("text")} AS sh
       |       FROM documents WHERE len(${TextOps.tokensSql("text")}) >= 3),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |    CAST(len(sa.sh) + len(sb.sh) AS BIGINT)
       |      - CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS uni
       |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, inter, uni,
       |  CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
       |FROM j WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5""".stripMargin

  /** 60-bit SimHash fingerprints (token multiset, majority vote per bit).
    *
    * Physical shape: one token-explode, then ALL 60 bit-votes as
    * conditional sums in a SINGLE codegen'd hash-aggregate (same trick as
    * the MinHash 16-min agg). The vote for bit j is `2·ones_j − n`, so
    * only the ones-count per bit is aggregated. The previous explode of
    * tokens × 60 bit-rows shuffled 60× the data through two aggregates —
    * measured 1.36 s vs 0.5 s at sf0.1. */
  private[graft] def simhash(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      .select(col("doc_id"), XHash.hash60(col("t")).as("h"))
    val voteAggs = (0 until TextOps.SimHashBits).map(j =>
      sum(shiftright(col("h"), j) % 2).as(s"ones$j"))
    val nTok = count(lit(1)).as("n")
    hashed.groupBy(col("doc_id"))
      .agg(voteAggs.head, (voteAggs.tail :+ nTok): _*)
      .select(col("doc_id"),
        (0 until TextOps.SimHashBits).map { j =>
          // majority: ones > n/2  <=>  2·ones − n > 0
          when(col(s"ones$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }
  private val simhashSql =
    s"""WITH tok AS (SELECT doc_id, ${XHash.hash60Sql("t")} AS h
       |  FROM (SELECT doc_id, unnest(${TextOps.tokensSql("text")}) AS t FROM documents)),
       |votes AS (
       |  SELECT doc_id, r.range AS bit,
       |    SUM(CASE WHEN (h >> r.range) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM tok CROSS JOIN range(${TextOps.SimHashBits}) r GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
       |FROM votes GROUP BY doc_id""".stripMargin

  // d5 banding: 32 bands × 4 sign-projection bits. Parameters are
  // threshold-tuned: at the low 0.45 gate threshold the bands are wide
  // (few bits) so banding recalls every qualifying pair (measured 100%
  // recall at sf0.001/0.01/0.1 on this corpus); production near-dup
  // thresholds (0.8+) use narrow bands (DedupSpec exercises r=16) where
  // random-pair collisions are ~2^-16 per band and the bucket join prunes
  // aggressively. The SCALE property is the plan shape: candidates come
  // from an equi-join on (band, signature) — shuffle by bucket — never a
  // non-equi all-pairs join.
  private[graft] val D5Bands = 32
  private[graft] val D5Rows = 4

  /** ±1 hyperplane weights for band b, bit j — derived from the
    * cross-engine hash so the oracle recomputes them exactly. */
  private[graft] def d5Weights(dim: Int, b: Int, j: Int): Array[Long] =
    Array.tabulate(dim)(i =>
      if (XHash.hash60Local(s"d5_${b}_${j}_$i") % 2 == 0) 1L else -1L)

  /** Embedding near-dup pairs above a cosine threshold (quantized-exact
    * verify) with banded sign-projection LSH candidate generation — the
    * d2→d3 layout on vectors: LSH recall pass (equi-join on band
    * signature), exact cosine precision pass confined to candidates.
    * The hyperplanes fold to plan-time literals; each signature is a
    * narrow codegen'd projection (no explode of dims, no shuffle). */
  /** Expected CHANCE candidate-multiset rows of a banded sign-LSH config:
    * a random pair collides in one band with p = 2^-rowBits, so the pair
    * shuffle carries ~n²/2 · bands · 2^-rowBits rows of pure noise (true
    * near-dups add to that but are the part the user wants). This is the
    * closed form behind the round-3 scaling law (BENCH_NOTES) — it is
    * what the pre-flight guard checks instead of letting a low-threshold
    * wide-band config fill the disk (the round-4 100× lesson: the demo
    * regime produced ~1e10 candidate rows before being killed). */
  private[graft] def expectedChanceCandidates(n: Long, bands: Int,
      rowBits: Int): Double =
    n.toDouble * n.toDouble / 2.0 * bands.toDouble * math.pow(2.0, -rowBits)

  /** Candidate rows the pre-flight guard tolerates: ~2e9 pair rows ≈
    * 32 GB of shuffle at 16 B/row — hours of work at single-node
    * throughput, an explicit opt-in territory. */
  private[graft] val DefaultCandidateBudget: Double = 2e9

  private def guardCandidateVolume(n: Long, bands: Int, rowBits: Int,
      threshold: Double, budget: Double, force: Boolean): Unit = {
    val expected = expectedChanceCandidates(n, bands, rowBits)
    if (!force && expected > budget)
      throw new IllegalArgumentException(
        f"embedding near-dup config (bands=$bands, rowBits=$rowBits) expects ~$expected%.2e chance-candidate rows on this $n-vector corpus (budget $budget%.1e): the band join is effectively all-pairs at this scale and will fill the shuffle disk, not finish. Use autoBandParams($n, $threshold) for scale-safe (bands, rowBits), raise candidateBudget, or pass force = true to run anyway.")
  }

  private[graft] def embNearDupBanded(
      emb: DataFrame, bands: Int, rowBits: Int,
      threshold: Double, dim: Int = -1, nHint: Long = -1L,
      force: Boolean = false,
      candidateBudget: Double = DefaultCandidateBudget): DataFrame =
    embNearDupBandedPinned(emb, bands, rowBits, threshold, dim, nHint,
      force, candidateBudget)._1
  private[graft] def embNearDupBandedPinned(
      emb: DataFrame, bands: Int, rowBits: Int,
      threshold: Double, dim0: Int = -1, nHint: Long = -1L,
      force: Boolean = false,
      candidateBudget: Double = DefaultCandidateBudget): (DataFrame, Seq[DataFrame]) = {
    // pre-flight: refuse configs whose chance-candidate volume is
    // hopeless BEFORE building (and certainly before running) the plan.
    // n comes from the caller's hint when known; otherwise one cheap
    // count job (metadata-only on a parquet scan) — the price of not
    // launching a disk-filling shuffle with no warning.
    val n = if (nHint > 0) nHint else emb.count()
    guardCandidateVolume(n, bands, rowBits, threshold, candidateBudget, force)
    // dim < 0 = probe with one tiny head() job (convenience); callers on a
    // hot path pass the known dimension so the query trace has no extra job
    val dim = if (dim0 >= 0) dim0
      else emb.select(size(col("embedding"))).head().getInt(0)
    // norms once per vector (not per pair); referenced 3× (band explode +
    // both candidate rejoins) — pin like d2's signature matrix
    val e = emb
      .select(col("vec_id"), TextOps.quantize(col("embedding")).as("q"))
      .withColumn("nn", TextOps.qdot(col("q"), col("q")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // no count job (r16): the FIRST action touching e is bandRows'
    // count below, whose chain reads e through a SINGLE leg (the
    // signature projection), so e's cache fills race-free as its side
    // effect; the two verify rejoins later read the filled cache.
    // all band signatures in ONE native loop expression: the weight
    // tensor rides along as a referenced object, so generated-code size
    // is O(1) in bands×rowBits — the unrolled per-band expression array
    // crossed janino's 64 KB method limit at auto-banded widths and fell
    // back to interpreted (r4 verdict #3). posexplode yields
    // (band_idx, band_sig) directly.
    val flatWeights = new Array[Long](bands * rowBits * dim)
    for (b <- 0 until bands; j <- 0 until rowBits)
      System.arraycopy(d5Weights(dim, b, j), 0, flatWeights,
        (b * rowBits + j) * dim, dim)
    // pin the band table: the self-join would otherwise recompute the
    // bands×rowBits signature projection on BOTH sides (measured 4.2 s vs
    // 0.9 s at sf0.1)
    val bandRows = e.select(col("vec_id"),
        posexplode(graft.functions.BandedSignatures(
          col("q"), flatWeights, bands, rowBits)))
      .toDF("vec_id", "band_idx", "band_sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandRows.count() // reads e's cache; self-join legs then read this one
    val cand = bandRows.as("a").join(
        sizedHint(bandRows, n * bands, 64).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    // a pair appears once per shared band; dedup AFTER the (cheap, fully
    // pipelined) dot + threshold filter, so the exchange only ever carries
    // the surviving pairs — a distinct on the raw candidate multiset
    // measured 2-3 s of pure shuffle at sf0.1 for zero extra pruning.
    // Re-measured at the 10x octave where the multiset is ~2n^2 rows
    // (BENCH_NOTES "Round 4: d5 verification order at the 10× octave"):
    // filter-first 32.8 s vs distinct-first 62.2 s — the
    // pair shuffle dominates duplicate dot-products at every tested scale
    // quantized vectors: dim longs per row (+ norm) — broadcast ONLY
    // under the exact-count size bound (same 100x-octave AQE lesson as
    // the d2 sketch rejoins: stats lie, exact counts don't)
    val vecBytes = 8L * dim + 64L
    val out = cand
      .join(sizedHint(e.select(col("vec_id").as("vec_a"),
        col("q").as("qa"), col("nn").as("na")), n, vecBytes), "vec_a")
      .join(sizedHint(e.select(col("vec_id").as("vec_b"),
        col("q").as("qb"), col("nn").as("nb")), n, vecBytes), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (TextOps.qdot(col("qa"), col("qb")).cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .distinct()
    (out, Seq(e, bandRows))
  }
  /** Auto-tuned (bands, rowBits) from corpus size + threshold — the two
    * knobs the round-3 octave gate proved users must otherwise set per
    * corpus (BENCH_NOTES scaling laws): chance candidates follow
    * n²·bands·2^-bits, so `rowBits = ⌈log₂ n⌉ + 2` pins the per-vector
    * chance load at ~bands/4 regardless of n; bands then come from the
    * sign-LSH collision law — a pair AT cosine t agrees on one random
    * hyperplane bit with p = 1 − acos(t)/π, on a whole band with
    * q = p^rowBits, so `bands = ⌈ln(1/(1−R)) / −ln(1−q)⌉` recalls a
    * threshold-grade pair with probability ≥ R (pairs above t do better).
    * Bands grow mildly with n (~n^0.22 at t=0.9) — the price of holding
    * BOTH recall and chance load as the corpus scales.
    *
    * CAP SOLVING (r5 advice #2 — the cap is solved, not described): when
    * `rowBits = ⌈log₂ n⌉ + 2` needs more than 128 bands for the target
    * recall, rowBits DESCENDS — each band gets more permissive (higher
    * q = p^rowBits), so fewer bands reach the target — until the band
    * count fits the cap AND the chance-candidate volume
    * ([[expectedChanceCandidates]]) stays inside the pre-flight guard's
    * budget. That widens the recall contract to e.g. n = 1e6 at
    * threshold 0.7–0.9 (the old envelope bound at 0.7 was n ≈ 4e3); the
    * price is chance candidates the guard already prices — a solved
    * config is in-budget BY CONSTRUCTION, so the guard never refuses the
    * path this method recommends. Only when NO (bands ≤ 128, in-budget)
    * pair reaches the target — very low thresholds at huge n — does it
    * fall back to the achievable-recall-maximizing config and log a
    * WARNING carrying the ACHIEVED recall ([[bandedRecallAt]]), so the
    * degradation is never silent; callers there should raise the
    * threshold, pre-shard the corpus, or use the exact
    * [[jaccardPairs]]-style verify on coarser candidates. */
  private[graft] def autoBandParams(n: Long, threshold: Double,
      targetRecall: Double = 0.9): (Int, Int) = {
    require(n > 0, s"corpus size must be positive, got $n")
    require(threshold > 0.0 && threshold < 1.0,
      s"auto-banding needs a cosine threshold in (0,1), got $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1), got $targetRecall")
    val bitsDefault = math.min(30, math.max(6,
      math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 2))
    val p = 1.0 - math.acos(threshold) / math.Pi
    def bandsFor(bits: Int): Long = {
      val q = math.pow(p, bits)
      math.max(1L, math.ceil(
        math.log(1.0 / (1.0 - targetRecall)) / -math.log1p(-q)).toLong)
    }
    def feasible(bands: Long, bits: Int): Boolean =
      bands <= 128L &&
        expectedChanceCandidates(n, bands.toInt, bits) <= DefaultCandidateBudget
    // highest feasible rowBits = the least chance-candidate inflation
    // that still meets the recall target (descent only ever starts when
    // the cap binds at the default width)
    val solved = (bitsDefault to 6 by -1).iterator
      .map(b => (bandsFor(b), b)).find { case (ba, b) => feasible(ba, b) }
    solved match {
      case Some((bands, bits)) =>
        if (bits < bitsDefault)
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            f"autoBandParams(n=$n, threshold=$threshold, targetRecall=$targetRecall): band cap (128) bound at rowBits=$bitsDefault (${bandsFor(bitsDefault)} bands needed) — solved at rowBits=$bits with $bands bands; recall contract holds, chance candidates ~${expectedChanceCandidates(n, bands.toInt, bits)}%.2e (in budget).")
        (bands.toInt, bits)
      case None =>
        // no in-cap in-budget config reaches the target: maximize the
        // achieved recall within both constraints (bits above the
        // default can restore budget headroom — chance shrinks ~0.65×
        // per extra bit even as the band requirement grows)
        val halfPairs = n.toDouble * n.toDouble / 2.0
        val (bands, bits) = (6 to 30).flatMap { b =>
          val budgetBands = math.floor(
            DefaultCandidateBudget / (halfPairs * math.pow(2.0, -b))).toLong
          // a width where even ONE band busts the budget is not a config
          // this method may hand out (the guard would refuse it)
          if (budgetBands < 1L) None
          else Some((math.min(math.min(128L, bandsFor(b)), budgetBands), b))
        } match {
          case seq if seq.nonEmpty =>
            seq.maxBy { case (ba, b) => bandedRecallAt(ba.toInt, b, threshold) }
          // n so large one 30-bit band overflows the budget (n ≳ 2e9):
          // minimal-volume config, the guard prices the rest
          case _ => (1L, 30)
        }
        val achieved = bandedRecallAt(bands.toInt, bits, threshold)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"autoBandParams(n=$n, threshold=$threshold, targetRecall=$targetRecall): no (bands ≤ 128, in-budget) config reaches the target — best ACHIEVED threshold-grade recall is ~$achieved%.2f at (bands=$bands, rowBits=$bits). Raise the threshold, pre-shard the corpus, or verify coarser candidates exactly.")
        (bands.toInt, bits)
    }
  }

  /** Recall of a (bands, rowBits) sign-LSH banding for a pair AT cosine
    * `threshold` (pairs above it do better): 1 − (1 − p^bits)^bands with
    * p = 1 − acos(t)/π. The closed form behind [[autoBandParams]]'s band
    * count and its cap warning. */
  private[graft] def bandedRecallAt(bands: Int, rowBits: Int,
      threshold: Double): Double = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, rowBits), bands)
  }

  private def embNearDup(s: SparkSession, d: String): DataFrame =
    embNearDupBanded(Tables.embeddings(s, d), D5Bands, D5Rows, 0.45,
      dim = Tables.EmbeddingDim, nHint = Tables.embeddingsRows(s, d))
  private val embNearDupSql =
    s"""WITH q AS (SELECT vec_id, ${TextOps.quantizeSql("embedding")} AS q FROM embeddings),
       |e AS (SELECT vec_id, unnest(q) AS v, generate_subscripts(q, 1) - 1 AS i FROM q),
       |norms AS (SELECT vec_id, SUM(v * v) AS nn FROM e GROUP BY 1),
       |proj AS (
       |  SELECT e.vec_id, b.range AS band_idx, r.range AS j,
       |    SUM(CASE WHEN ${XHash.hash60Sql("concat('d5_', b.range, '_', r.range, '_', e.i)")} % 2 = 0
       |      THEN e.v ELSE -e.v END) AS p
       |  FROM e CROSS JOIN range($D5Bands) b CROSS JOIN range($D5Rows) r
       |  GROUP BY 1, 2, 3),
       |sigs AS (
       |  SELECT vec_id, band_idx,
       |    CAST(SUM(CASE WHEN p > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS band_sig
       |  FROM proj GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sigs a JOIN sigs b
       |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
       |   AND a.vec_id < b.vec_id),
       |dot AS (
       |  SELECT c.vec_a, c.vec_b, SUM(ea.v * eb.v) AS dot
       |  FROM cand c JOIN e ea ON ea.vec_id = c.vec_a
       |  JOIN e eb ON eb.vec_id = c.vec_b AND ea.i = eb.i
       |  GROUP BY 1, 2)
       |SELECT vec_a, vec_b,
       |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cosine
       |FROM dot JOIN norms na ON na.vec_id = vec_a JOIN norms nb ON nb.vec_id = vec_b
       |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= 0.45""".stripMargin

  /** End-to-end dedup: the corpus AFTER dropping near-duplicates (the
    * higher doc_id of every verified pair), rolled up per language —
    * what a training-data pipeline actually ships downstream. */
  private[graft] def dedupKeep(s: SparkSession, d: String): DataFrame = {
    val n = Tables.documentsRows(s, d) // footer-exact, no probe job
    val dupB = jaccardPairs(Tables.documents(s, d), n)
      .select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(s, d)
      // the drop-list is O(duplicates): ≤ n rows of one long — the exact
      // doc count bounds it, so the size-aware rule applies here too
      .join(sizedHint(dupB, n, 48), Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
  }
  private def dedupKeepSql =
    s"""WITH pairs AS ($jaccardPairsSql)
       |SELECT lang, COUNT(1) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM documents
       |WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
       |GROUP BY lang""".stripMargin

  /** Connected components over the verified near-dup pairs — the real
    * final step of web-scale dedup. Pair-wise "drop the higher id" (d6)
    * over-keeps when two survivors share a dropped doc (edges (A,C),(B,C)
    * keep A and B; the component keeps only A). Components give the exact
    * keep-one-per-cluster semantics. The loop lives in
    * [[graft.operators.Components]]: min-label propagation with pointer
    * jumping, O(log diameter) rounds, per-round unpersist. */
  private def components(s: SparkSession, d: String): DataFrame =
    graft.operators.Components.connectedComponents(
      jaccardPairs(Tables.documents(s, d), Tables.documentsRows(s, d))
        .select(col("doc_a"), col("doc_b")))
      .orderBy(col("id")) // deterministic presentation; tiny result
  /** Transitive closure via recursive CTE (UNION dedup terminates it),
    * then min reachable label per node == the component id. Shared by the
    * d7 gate and d10's cluster-canonicalization oracle. */
  private def componentsCtes =
    s"""pairs AS ($jaccardPairsSql),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(node, label) AS (
       |  SELECT DISTINCT u, u FROM edges
       |  UNION
       |  SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node),
       |labels AS (
       |  SELECT node AS id, MIN(label) AS component
       |  FROM reach GROUP BY node)""".stripMargin
  private def componentsSql =
    s"""WITH RECURSIVE $componentsCtes
       |SELECT id, component FROM labels""".stripMargin

  /** Dedup-aware train/val/test split (q56): the split is keyed by the
    * near-dup COMPONENT, not the document — q44's per-doc hash split
    * leaks: two near-duplicate documents hash independently, so one
    * lands in train and its twin in test, and the eval measures
    * memorization of the training twin. Here every document carries
    * its component id (singletons are their own component), the
    * 80/10/10 hash rule is applied to the COMPONENT, and therefore no
    * near-dup cluster ever straddles a split — by construction, which
    * DedupSplitSpec re-checks doc-by-doc. Same cross-engine hash as
    * every split in the library (md5-60), so assignment is
    * deterministic across engines, runs and cluster sizes.
    *
    * Scale: the component table is the d7 artifact (pointer-jumping
    * rounds over the pair graph — the expensive half, already built by
    * any dedup pipeline); the split itself is a broadcast-able LEFT
    * join of that (clusters ≪ corpus) table onto the corpus plus one
    * hash-agg. */
  private def dedupSplit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val comp = graft.operators.Components.connectedComponents(
      jaccardPairs(docs, Tables.documentsRows(s, d))
        .select(col("doc_a"), col("doc_b")))
    dedupSplitFromComponents(docs, comp)
  }

  /** q56's split half over an EXISTING (id, component) table — computed
    * inline above, or loaded from the [[graft.operators.DedupIndex]]
    * artifact so the expensive component build is paid once, not per
    * split request. */
  private[graft] def dedupSplitFromComponents(docs: DataFrame,
      comp: DataFrame): DataFrame = {
    val h = XHash.hash60(col("component").cast("string")) % 1000L
    docs.select(col("doc_id"), col("n_chars"))
      .join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("component"), col("doc_id")).as("component"))
      .withColumn("split",
        when(h < 800L, lit("train")).when(h < 900L, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_components"),
        sum(col("n_chars")).as("sum_chars"))
  }
  private def dedupSplitSql =
    s"""WITH RECURSIVE $componentsCtes,
       |allc AS (
       |  SELECT d.doc_id, d.n_chars,
       |    COALESCE(l.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
       |sp AS (SELECT doc_id, n_chars, component,
       |    CASE WHEN ${XHash.hash60Sql("CAST(component AS VARCHAR)")} % 1000 < 800 THEN 'train'
       |         WHEN ${XHash.hash60Sql("CAST(component AS VARCHAR)")} % 1000 < 900 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM allc)
       |SELECT split, COUNT(1) AS n_docs,
       |  COUNT(DISTINCT component) AS n_components,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM sp GROUP BY 1""".stripMargin

  /** Graph centrality over the near-dup graph (p1): deterministic
    * integer PageRank ([[graft.operators.PageRank]]) on the verified
    * Jaccard pairs — ranks documents WITHIN the similarity structure
    * (hub documents that many near-dups orbit score high; centrality is
    * the canonical-selection signal d10's length heuristic can't see,
    * and the same iterate-join-aggregate substrate as a crawl-graph
    * frontier scorer). Fixed 5 rounds so the oracle is an unrolled CTE
    * chain with the identical int64 recurrence. */
  private val PrIters = 5
  private def pagerank(s: SparkSession, d: String): DataFrame =
    graft.operators.PageRank.pageRank(
      jaccardPairs(Tables.documents(s, d), Tables.documentsRows(s, d))
        .select(col("doc_a"), col("doc_b")), PrIters)
  private def pagerankSql =
    s"""WITH pairs AS ($jaccardPairsSql),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |${graft.operators.PageRank.sqlCtes(PrIters)}
       |SELECT r$PrIters.id, r$PrIters.rank, CAST(d.deg AS BIGINT) AS deg
       |FROM r$PrIters JOIN deg d ON d.u = r$PrIters.id""".stripMargin

  /** Quality-aware cluster canonicalization (d10): for every near-dup
    * cluster (connected component over the verified Jaccard pairs), keep
    * the longest member — ties broken by min doc_id — and report cluster
    * size and volume. This is the step after d7 in a real pipeline:
    * pair-wise "drop the higher id" (d6) keeps an arbitrary member; a
    * quality-ranked argmax per component keeps the best one.
    *
    * Shape at scale: labels are the d7 fixpoint output (shuffle-bounded);
    * the ranking window partitions BY COMPONENT — millions of small
    * partitions, never global; the per-component aggregate is one
    * hash-agg. */
  private[graft] def keepBest(docs: DataFrame, nHint: Long = -1L): DataFrame =
    keepBestPinned(docs, nHint)._1
  private[graft] def keepBestPinned(docs: DataFrame,
      nHint: Long = -1L): (DataFrame, Seq[DataFrame]) = {
    val n = if (nHint > 0) nHint else docs.count()
    val (pairs, pinned) = jaccardPairsPinned(docs, n)
    val labels = graft.operators.Components.connectedComponents(
      pairs.select(col("doc_a"), col("doc_b")))
    (keepBestFromComponents(docs, labels, n), pinned :+ labels)
  }

  /** d10's canonicalization half over an EXISTING (id, component) table
    * — computed inline above, or loaded from the
    * [[graft.operators.DedupIndex]] artifact. */
  private[graft] def keepBestFromComponents(docs: DataFrame,
      labels: DataFrame, nHint: Long = -1L): DataFrame = {
    val n = if (nHint > 0) nHint else docs.count()
    val sized = labels.join(
      // O(corpus) side, but a NARROW one (two longs): broadcast under the
      // exact-count size bound only
      sizedHint(docs.select(col("doc_id").as("id"),
        length(col("text")).cast("bigint").as("n_chars")), n, 64),
      "id")
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("id").asc)
    val keep = sized.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("component"), col("id").as("keep_id"),
        col("n_chars").as("keep_chars"))
    val agg = sized.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), sum(col("n_chars")).as("sum_chars"))
    keep.join(agg, "component")
      .select("component", "keep_id", "keep_chars", "n_members", "sum_chars")
  }
  private def keepBestSql =
    s"""WITH RECURSIVE $componentsCtes,
       |sized AS (
       |  SELECT l.id, l.component, CAST(length(d.text) AS BIGINT) AS n_chars
       |  FROM labels l JOIN documents d ON d.doc_id = l.id),
       |k AS (
       |  SELECT component, id AS keep_id, n_chars AS keep_chars,
       |    row_number() OVER (
       |      PARTITION BY component ORDER BY n_chars DESC, id) AS rk
       |  FROM sized)
       |SELECT s.component, k.keep_id, k.keep_chars,
       |  COUNT(1) AS n_members, CAST(SUM(s.n_chars) AS BIGINT) AS sum_chars
       |FROM sized s JOIN k ON k.component = s.component AND k.rk = 1
       |GROUP BY 1, 2, 3""".stripMargin

  /** Asymmetric n-gram CONTAINMENT on the LSH candidate pairs:
    * C(A→B) = |A∩B| / |A|. Symmetric Jaccard misses subset duplication —
    * a short doc wholly quoted inside a long one has J = |A|/|B| (small)
    * but C(A→B) = 1 — so containment is the standard second dedup gate
    * (e.g. quote/boilerplate inclusion). Candidates come from the same
    * banded MinHash join as d3 (recall for *small-inside-large* pairs is
    * bounded by their Jaccard — the honest limit of shared candidate
    * generation; [[containmentJoin]] (d11) is the dedicated recall pass
    * with a deterministic 100% guarantee, at the cost of its own
    * posting-list pass instead of reusing d2's sketch).
    * Both divisions are int64/int64 in IEEE double — bit-identical
    * cross-engine. */
  private[graft] def containmentPairs(docsIn: DataFrame,
      nHint: Long = -1L): DataFrame =
    containmentPairsPinned(docsIn, nHint)._1
  private[graft] def containmentPairsPinned(docsIn: DataFrame,
      nHint: Long = -1L): (DataFrame, Seq[DataFrame]) = {
    val n = if (nHint > 0) nHint else docsIn.count()
    // ONE shingle+md5 pass (the jaccardPairsPinned r16 rewire): the
    // pinned hashed-shingle table feeds the signature derivation AND
    // the containment verify — same exactness argument (shingles are
    // DISTINCT, md5-60 is the library-wide set representation d11
    // already verifies with).
    val hsT = hashedShingleSets(docsIn)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hsT.count()
    val cand = candidatesFromSigArr(minhashSigArrFromHashes(hsT), n)
    (containmentVerifyHashed(cand, hsT, n, 0.6), Seq(hsT))
  }

  /** Exact containment verify over hashed shingle sets — the d11 verify
    * body, factored so d9 (MinHash candidates) and d11 (pigeonhole
    * candidates) run the IDENTICAL scoring: inter/n_a/n_b count distinct
    * 60-bit hashes, both divisions int64→double IEEE, keep pairs with
    * max-containment ≥ θ. */
  private[graft] def containmentVerifyHashed(cand: DataFrame,
      hsAll: DataFrame, n: Long, theta: Double): DataFrame =
    cand
      .join(sizedHint(hsAll.select(col("doc_id").as("doc_a"),
        col("hs").as("hs_a")), n, 4096), "doc_a")
      .join(sizedHint(hsAll.select(col("doc_id").as("doc_b"),
        col("hs").as("hs_b")), n, 4096), "doc_b")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("bigint"))
      .withColumn("n_a", size(col("hs_a")).cast("bigint"))
      .withColumn("n_b", size(col("hs_b")).cast("bigint"))
      .withColumn("cont_a", col("inter").cast("double") / col("n_a").cast("double"))
      .withColumn("cont_b", col("inter").cast("double") / col("n_b").cast("double"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= theta)
      .select("doc_a", "doc_b", "inter", "n_a", "n_b", "cont_a", "cont_b")
  private def containmentPairsSql =
    s"""WITH sig AS ($minhashSigsSql),
       |bands AS (
       |    ${(0 until Bands).map { b =>
             val cols = (0 until Rows).map(r => s"s${b * Rows + r}").mkString(", '_', ")
             s"SELECT doc_id, $b AS band_idx, concat($cols) AS band_val FROM sig"
           }.mkString("\n    UNION ALL ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id),
       |sh AS (SELECT doc_id, ${TextOps.shinglesSql("text")} AS sh
       |       FROM documents WHERE len(${TextOps.tokensSql("text")}) >= 3),
       |c AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
       |    CAST(len(sa.sh) AS BIGINT) AS n_a,
       |    CAST(len(sb.sh) AS BIGINT) AS n_b
       |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, inter, n_a, n_b,
       |  CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS cont_a,
       |  CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS cont_b
       |FROM c
       |WHERE greatest(CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE),
       |               CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE)) >= 0.6""".stripMargin

  /** Full-recall containment join (d11) — the dedicated recall pass d9's
    * docstring promises. d9 reuses d2's symmetric MinHash candidates, so a
    * short doc wholly quoted inside a long one is found only with
    * probability ~Jaccard(A,B) — small exactly when containment matters.
    * This operator instead uses a DETERMINISTIC prefix filter (PPJoin
    * family, Xiao et al., WWW'08): every doc contributes its
    * k = |A| − minInter + 1 globally-RAREST shingles (rarest by document
    * frequency, ties by hash) as candidate keys, probed against the full
    * shingle posting list — where minInter is the smallest intersection
    * the verify's own double division accepts at θ. If C(A→B) ≥ θ then at
    * most |A| − minInter of A's shingles are missing from B, so ANY k of
    * them include a shared one — recall is 100% by pigeonhole, not by
    * sketch luck; the df-order only minimizes candidate volume. Exact verify is identical to d9, so
    * the output is precisely every pair with max-containment ≥ θ.
    *
    * Shape at scale: one explode (posting list), one hash-agg (df), one
    * per-doc window (millions of tiny partitions), two hash equi-joins —
    * never all-pairs. Candidate volume concentrates on rare shingles by
    * construction; a doc made ENTIRELY of corpus-common shingles is the
    * residual hot case (boilerplate-only docs), bounded by d1-style exact
    * dedup upstream.
    *
    * Measured cost (round-4 octaves, BENCH_NOTES): candidate volume is
    * LINEAR per decade (393k → 3.93M for 5k → 50k docs) but its constant
    * is tied to θ — the prefix is ⌈(1−θ)|A|⌉ shingles, so the θ=0.6 gate
    * probes 40% of every doc and the verify shuffle dominates wall time
    * (12 s at 50k docs, 158 s at 500k, after switching the verify to
    * 8-byte hash sets — the 25-byte string arrays cost 5× more). The
    * round-5 PPJoin filters (see [[containmentCandidates]]) cut the 50k
    * fixture to 3.40M verified pairs (−13%), HALVE the rows entering the
    * pair aggregation via the small→large orientation rule, and remove
    * the post-join distinct shuffle outright. At the θ=0.9
    * quote-detection operating point the prefix (and candidate load)
    * shrinks ~4× further. Use d9 when an already-built MinHash sketch
    * exists and probabilistic recall suffices; pay d11's posting pass
    * when the guarantee matters.
    *
    * The oracle is the brute-force definitional containment join (all
    * pairs sharing ≥1 shingle, then the same verify): any pair with
    * cont ≥ θ > 0 shares a shingle, so both computations equal the set of
    * qualifying pairs — the oracle checks the GUARANTEE, not the plan. */
  private[graft] def containmentJoin(docsIn: DataFrame,
      theta: Double = 0.6, nHint: Long = -1L): DataFrame =
    containmentJoinPinned(docsIn, theta, nHint)._1
  private[graft] def containmentJoinPinned(docsIn: DataFrame,
      theta: Double, nHint: Long = -1L): (DataFrame, Seq[DataFrame]) = {
    val n = if (nHint > 0) nHint else docsIn.count()
    val (cand, docs, pinned) = containmentCandidates(docsIn, theta, n)
    // hashed shingle sets: ~hundreds of longs per doc (pessimistic
    // 4 KB/row) — broadcast only under the exact-count size bound
    (containmentVerifyHashed(cand, docs, n, theta), pinned)
  }

  /** d11's candidate stage alone: (normalized candidate pairs, pinned
    * hashed-shingle table, pinned intermediates) — split out so the scale
    * gate can measure candidate volume separately from verify cost.
    *
    * Sets are represented as DISTINCT 60-bit md5 shingle hashes end to
    * end: the verify rejoins then shuffle ~8 bytes per shingle instead of
    * the ~25-byte strings (the dominant cost at scale — BENCH_NOTES d11
    * row), intersections compare longs, and the oracle computes the SAME
    * md5-60 hash (XHash), so `inter`/`n_*` are bit-identical across
    * engines by construction rather than up to collision luck. */
  /** Smallest integer i whose IEEE-double quotient i/n clears θ — the
    * verify's own predicate, resolved exactly. Deriving a prefix length
    * from (1−θ)·n instead under-shoots when 1.0−θ rounds DOWN (θ=0.9:
    * fl(1.0−0.9) < 0.1, so floor(fl(0.1)·10)+1 = 1 < the required 2 for
    * a 9-of-10 match). ceil(θ·n) is within one of the answer for any
    * feasible shingle count (a 2-off would need θ·n·ulp ≥ 1, i.e.
    * n ≳ 5e15); the cascade resolves it against the division the verify
    * performs, rounding DOWN on ties — an under-estimate only ever
    * widens the prefix, never breaks the guarantee. */
  private def minInterCol(n: Column, theta: Double): Column = {
    val i0 = ceil(lit(theta) * n.cast("double")).cast("long")
    when((i0 - 1).cast("double") / n.cast("double") >= theta, i0 - 1)
      .when(i0.cast("double") / n.cast("double") >= theta, i0)
      .otherwise(i0 + 1)
  }

  private[graft] def containmentCandidates(docsIn: DataFrame, theta: Double,
      nHint: Long = -1L): (DataFrame, DataFrame, Seq[DataFrame]) = {
    require(theta > 0.0 && theta <= 1.0, s"theta must be in (0, 1], got $theta")
    // hashed shingle sets, referenced 3x (posting list + both rejoins)
    val docs = docsIn
      .select(col("doc_id"),
        array_distinct(transform(TextOps.shingles(col("text")), g => XHash.hash60(g)))
          .as("hs"))
      .filter(size(col("hs")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    docs.count() // materialize before the 3-way reference (no leg race)
    val ex = docs
      .select(col("doc_id"), size(col("hs")).cast("bigint").as("n_sh"),
        explode(col("hs")).as("h"))
    // Shingle-row bound for the ladder: df table and posting list are
    // both O(corpus-shingles), and their joins must follow the sizedHint
    // ladder — the old flat shuffle_hash pins built GB-scale hash
    // relations at the 1000× octave (5M docs ≈ 500M shingle rows) and
    // died. A caller-supplied nHint GOVERNS the sizing (it may be a
    // deliberate pretend-big — PlanQualitySpec pins that no broadcast
    // appears then): multiply the exact doc count by a pessimistic
    // per-doc shingle bound, erring toward merge. Only with no hint do
    // we measure exactly (one pass over the pinned docs).
    val nShingleRows =
      if (nHint > 0) nHint * 1024L // pessimistic shingles/doc upper bound
      else ex.count()
    val dfCounts = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df").asc, col("h").asc)
    // every shingle ranked by global (df, h) order WITHIN its doc — the
    // prefix is the lowest k ranks; the posting side keeps its ranks too
    // for the positional filter below. Pinned: probed by both join sides.
    val exRk = ex.join(sizedHint(dfCounts, nShingleRows, 16), "h")
      .withColumn("rk", row_number().over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    exRk.count() // both probe sides (prefix + posting) then read cache
    // k = n_sh − minInter + 1 covers the worst qualifying pair by
    // pigeonhole (see minInterCol for why it is derived from the verify's
    // own division, not from (1−θ)·n_sh)
    val prefix = exRk
      .filter(col("rk") <= col("n_sh") - minInterCol(col("n_sh"), theta) + lit(1L))
      .select(col("doc_id").as("doc_p"), col("h"),
        col("rk").as("rk_p"), col("n_sh").as("n_p"))
    val posting = exRk.select(col("doc_id").as("doc_f"), col("h"),
      col("rk").as("rk_f"), col("n_sh").as("n_f"))
    // PPJoin-family pruning (Xiao et al., WWW'08, adapted to asymmetric
    // containment — the r4 verdict's "cut the verify constant" item):
    //
    // (1) LENGTH ORIENTATION. max(cont_a, cont_b) = inter/min(n_a, n_b)
    //     is achieved by the SMALLER doc, and the pigeonhole argument
    //     already guarantees the smaller doc's prefix hits any qualifying
    //     partner — so only the small→large orientation needs to probe
    //     (ties broken by doc_id). Halves candidate volume, and makes
    //     each pair arrive in exactly ONE orientation group, so the old
    //     post-join `distinct` shuffle disappears entirely.
    //
    // (2) POSITIONAL FILTER. Among a pair's matched prefix rows, the
    //     globally-first shared shingle s* has the minimum rk_p AND the
    //     minimum rk_f (both doc-local ranks are monotone in the global
    //     (df, h) order), and no shared shingle precedes it in either
    //     doc — s* is always in P's prefix, because any shared prefix
    //     shingle globally-after s* would force s*'s P-rank under k.
    //     Hence inter ≤ 1 + min(n_p − rk_p(s*), n_f − rk_f(s*)): pairs
    //     whose bound cannot reach minInter(n_p) are pruned BEFORE the
    //     wide verify rejoin ever sees them.
    //
    // (3) MATCH-COUNT BOUND. Every shared shingle is either a matched
    //     prefix row (there are exactly m of them — a shared shingle in
    //     P's prefix always produces a match row) or NOT in P's prefix,
    //     in which case it is globally after every prefix shingle of P
    //     and so sits after the last matched row in F's ranked list: at
    //     most n_f − max(rk_f) of those exist. Hence
    //     inter ≤ m + n_f − max(rk_f) — tight when the matches sit deep
    //     in F's tail (complementary to (2), which is tight when the
    //     FIRST match sits late).
    val ranked = prefix
      .join(sizedHint(posting, nShingleRows, 48), "h")
      .filter(col("doc_p") =!= col("doc_f"))
      .filter(col("n_f") > col("n_p") ||
        (col("n_f") === col("n_p") && col("doc_p") < col("doc_f")))
      .groupBy(col("doc_p"), col("doc_f"), col("n_p"), col("n_f"))
      .agg(min(col("rk_p")).as("mnp"), min(col("rk_f")).as("mnf"),
        max(col("rk_f")).as("mxf"), count(lit(1)).as("m"))
      .filter(lit(1L) + least(col("n_p") - col("mnp"), col("n_f") - col("mnf"))
        >= minInterCol(col("n_p"), theta))
      .filter(col("m") + col("n_f") - col("mxf") >= minInterCol(col("n_p"), theta))
    // (4) SUFFIX DIGEST FILTER (PPJoin+'s suffix filter, dataflow form).
    //     The rank filters above are information-complete for what the
    //     matched prefix rows can say (the gap argument collapses to
    //     (2)+(3) exactly), so further pruning must compare suffix
    //     CONTENT. Each doc carries a 128-byte bucket-count digest of
    //     its hashed shingle set ([[graft.functions.ShingleHist]]);
    //     Σ min(cntP_i, cntF_i) upper-bounds the pair's intersection
    //     ([[graft.functions.HistMinSum]]), so bound < minInter(n_p)
    //     prunes the pair BEFORE its ~8·|set|-byte arrays ever shuffle
    //     into the verify rejoin — two narrow digest joins (≈170 B/row)
    //     in exchange for the pruned fraction of the wide verify, the
    //     dominant d11 cost at the 100× octave.
    val hists = docs.select(col("doc_id"),
      graft.functions.ShingleHist(col("hs")).as("hd"))
    val histBytes = 192L // 128 digest bytes + id + row overhead
    val cand = ranked
      .join(sizedHint(hists.select(col("doc_id").as("doc_p"),
        col("hd").as("hd_p")), nHint, histBytes), "doc_p")
      .join(sizedHint(hists.select(col("doc_id").as("doc_f"),
        col("hd").as("hd_f")), nHint, histBytes), "doc_f")
      .withColumn("ib", graft.functions.HistMinSum(col("hd_p"), col("hd_f")))
      .filter(col("ib") === -1 || // saturated digest: no sound bound
        col("ib").cast("long") >= minInterCol(col("n_p"), theta))
      .select(least(col("doc_p"), col("doc_f")).as("doc_a"),
        greatest(col("doc_p"), col("doc_f")).as("doc_b"))
    (cand, docs, Seq(docs, exRk))
  }
  private def containmentJoinSql =
    s"""WITH sh AS (SELECT doc_id,
       |         list_distinct(list_transform(${TextOps.shinglesSql("text")},
       |           g -> ${XHash.hash60Sql("g")})) AS hs
       |       FROM documents WHERE len(${TextOps.tokensSql("text")}) >= 3),
       |e AS (SELECT doc_id, unnest(hs) AS g FROM sh),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id),
       |c AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS inter,
       |    CAST(len(sa.hs) AS BIGINT) AS n_a,
       |    CAST(len(sb.hs) AS BIGINT) AS n_b
       |  FROM cand JOIN sh sa ON sa.doc_id = doc_a JOIN sh sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, inter, n_a, n_b,
       |  CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS cont_a,
       |  CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) AS cont_b
       |FROM c
       |WHERE greatest(CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE),
       |               CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE)) >= 0.6""".stripMargin

  /** Exact repeated-substring spans (the Lee et al. 2021 "Deduplicating
    * Training Data Makes Language Models Better" core, dataflow form):
    * for every document, the maximal token spans covered by L-token
    * windows that occur ≥2 times ANYWHERE in the corpus (cross-doc or
    * intra-doc) — the spans a substring-level dedup pass cuts before
    * training. Window length 8 here (short-doc test corpus; production
    * runs 50).
    *
    * Physical shape (100 TB framing): one scan → [[graft.functions
    * .GramHashes]] (native codegen'd positional md5-60 per window — gram
    * STRINGS never leave the expression) → posexplode to (doc, pos, gh)
    * at 8 bytes/window. Duplicated-gram detection is a hash-agg on gh
    * (map-side partial counts) semi-joined back on the SAME gh shuffle —
    * both join inputs canonicalize to one exchange, so Spark's
    * ReuseExchange runs the explode once (plan-asserted). Span assembly
    * is a lag/running-sum window partitioned BY DOCUMENT (bounded by doc
    * length, never corpus-sized): windows ≤ L apart merge (overlapping
    * or touching ⇒ the union is contiguously covered), a gap > L starts
    * a new span. Everything is equi-key or per-doc — no all-pairs stage
    * at any scale.
    */
  private[graft] val SpanGram = 8
  private[graft] def substringSpans(docs: DataFrame,
      L: Int = SpanGram): DataFrame = {
    val grams = docs.select(col("doc_id"),
      posexplode(graft.functions.GramHashes(col("text"), L))
        .as(Seq("pos", "gh")))
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("gh"))
    val dupPos = grams.join(dup.hint("shuffle_hash"), Seq("gh"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("ni",
        when(col("pos") - lag(col("pos"), 1).over(w) > L, 1).otherwise(0))
      .withColumn("isl",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).cast("bigint").as("span_start"),
        (max(col("pos")) + L).cast("bigint").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tok"),
        col("n_windows"))
  }
  private def substringSpansSql = {
    val L = SpanGram
    s"""WITH t AS (SELECT doc_id, ${TextOps.tokensSql("text")} AS toks
       |       FROM documents),
       |p AS (SELECT doc_id, toks,
       |        unnest(range(greatest(len(toks) - ${L - 1}, 0))) AS pos
       |      FROM t),
       |g AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       |        ${XHash.hash60Sql(s"array_to_string(toks[pos+1:pos+$L], ' ')")} AS gh
       |      FROM p),
       |d AS (SELECT gh FROM g GROUP BY 1 HAVING COUNT(1) >= 2),
       |dp AS (SELECT doc_id, pos FROM g JOIN d USING (gh)),
       |i AS (SELECT doc_id, pos,
       |        CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
       |               > $L THEN 1 ELSE 0 END AS ni
       |      FROM dp),
       |s AS (SELECT doc_id, pos,
       |        SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS UNBOUNDED PRECEDING) AS isl
       |      FROM i)
       |SELECT doc_id, MIN(pos) AS span_start,
       |  MAX(pos) + $L AS span_end,
       |  MAX(pos) + $L - MIN(pos) AS span_tok,
       |  COUNT(1) AS n_windows
       |FROM s GROUP BY doc_id, isl""".stripMargin
  }

  /** d16: cross-corpus near-dup join — dedup a crawl INCREMENT against
    * the already-accepted corpus, the incremental-ingest shape every
    * production pipeline runs nightly: new docs are checked against the
    * existing corpus, never against each other (that is d2/d3's job on
    * the increment alone). Both sides share the same fixed MinHash
    * family, so a band-bucket match ACROSS sides has the standard LSH
    * recall; exact shingle-Jaccard verifies. The gate query's increment
    * is the deterministic `doc_id % 10 == 0` slice.
    *
    * Scale shape: the corpus side's signature/band table is the
    * write-once sketch stage (at 100 TB it lives as a table, not a
    * recompute); the increment is a day's crawl — its band table
    * broadcasts under the size bound, so the bipartite candidate join
    * ships NOTHING of the corpus side. Candidates stay bucket-confined
    * exactly as in d2. */
  private[graft] def crossNearDups(inc: DataFrame, corpus: DataFrame,
      incHint: Long = -1L, corpusHint: Long = -1L): DataFrame =
    crossNearDupsPinned(inc, corpus, incHint, corpusHint)._1
  private[graft] def crossNearDupsPinned(inc: DataFrame, corpus: DataFrame,
      incHint: Long = -1L, corpusHint: Long = -1L): (DataFrame, Seq[DataFrame]) = {
    val ni = if (incHint > 0) incHint else inc.count()
    val nc = if (corpusHint > 0) corpusHint else corpus.count()
    // hashed-shingle form per side (the jaccardPairs r16 rewire,
    // bipartite): signatures derive from the md5-60 sets and the verify
    // intersects 8-byte longs instead of ~25-byte strings. Deliberately
    // UNPINNED: each side is consumed twice (sig derivation + verify
    // rejoin) and recomputing the narrow-from-scan shingle table beats
    // caching a corpus-wide array column — the same measured trade as
    // d3/d9's CacheDisciplineSpec budget-2 contract (a pinned variant
    // measured SLOWER at sf0.1: two cache-write passes + a materialize
    // job against sub-second recomputes; at scale the corpus side is
    // served from the DedupIndex artifact, not recomputed at all).
    val hsInc = hashedShingleSets(inc)
    val hsCorpus = hashedShingleSets(corpus)
    def bandsOf(hsT: DataFrame): DataFrame =
      sigBandRows(minhashSigArrFromHashes(hsT)).drop("sig")
    val cand = sizedHint(bandsOf(hsInc), ni * Bands, 128).as("a")
      .join(bandsOf(hsCorpus).as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val"))
      .select(col("a.doc_id").as("inc_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    val out = cand
      .join(sizedHint(hsInc.select(col("doc_id").as("inc_id"),
        col("hs").as("hs_inc")), ni, 4096), "inc_id")
      .join(sizedHint(hsCorpus.select(col("doc_id").as("corpus_id"),
        col("hs").as("hs_corpus")), nc, 4096), "corpus_id")
      .withColumn("inter",
        size(array_intersect(col("hs_inc"), col("hs_corpus"))).cast("bigint"))
      .withColumn("uni",
        (size(col("hs_inc")) + size(col("hs_corpus"))).cast("bigint")
          - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select("inc_id", "corpus_id", "inter", "uni", "jaccard")
    (out, Seq.empty)
  }
  private def crossDedupSql = {
    def sigCte(pred: String) = {
      val sigExprs = XHash.coeffs(K).zipWithIndex.map { case ((a, b), i) =>
        s"MIN((${XHash.hashPSql("sh")} * $a + $b) % ${XHash.P}) AS s$i"
      }.mkString(",\n    ")
      s"""SELECT doc_id, $sigExprs
         |  FROM (SELECT doc_id, unnest(${TextOps.shinglesSql("text")}) AS sh
         |        FROM documents
         |        WHERE $pred AND len(${TextOps.tokensSql("text")}) >= 3)
         |  GROUP BY doc_id""".stripMargin
    }
    def bandCte(sig: String) = (0 until Bands).map { b =>
      val cols = (0 until Rows).map(r => s"s${b * Rows + r}").mkString(", '_', ")
      s"SELECT doc_id, $b AS band_idx, concat($cols) AS band_val FROM $sig"
    }.mkString("\n    UNION ALL ")
    s"""WITH sig_i AS (${sigCte("doc_id % 10 = 0")}),
       |sig_c AS (${sigCte("doc_id % 10 <> 0")}),
       |bands_i AS (
       |    ${bandCte("sig_i")}),
       |bands_c AS (
       |    ${bandCte("sig_c")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS inc_id, b.doc_id AS corpus_id
       |  FROM bands_i a JOIN bands_c b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val),
       |sh_i AS (SELECT doc_id, ${TextOps.shinglesSql("text")} AS sh
       |         FROM documents
       |         WHERE doc_id % 10 = 0 AND len(${TextOps.tokensSql("text")}) >= 3),
       |sh_c AS (SELECT doc_id, ${TextOps.shinglesSql("text")} AS sh
       |         FROM documents
       |         WHERE doc_id % 10 <> 0 AND len(${TextOps.tokensSql("text")}) >= 3),
       |j AS (
       |  SELECT inc_id, corpus_id,
       |    CAST(len(list_intersect(si.sh, sc.sh)) AS BIGINT) AS inter,
       |    CAST(len(si.sh) + len(sc.sh) AS BIGINT)
       |      - CAST(len(list_intersect(si.sh, sc.sh)) AS BIGINT) AS uni
       |  FROM cand JOIN sh_i si ON si.doc_id = inc_id
       |  JOIN sh_c sc ON sc.doc_id = corpus_id)
       |SELECT inc_id, corpus_id, inter, uni,
       |  CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
       |FROM j WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= 0.5""".stripMargin
  }

  /** d15: edit-distance verification on the d2 LSH candidates — the
    * third verify lens after Jaccard (d3, order-insensitive) and
    * containment (d9/d11, subset-sensitive): Levenshtein is POSITION-
    * sensitive, so it separates in-place token edits (small distance)
    * from heavy reorderings that fool a bag-of-shingles Jaccard.
    * Both engines implement standard unit-cost Levenshtein (Spark:
    * Apache Commons via `levenshtein`; DuckDB: `levenshtein`) returning
    * exact ints, so the verify is bit-stable; `edit_sim` is one IEEE
    * division over exactly-agreed integers.
    *
    * Scale shape: the O(len_a·len_b) DP runs ONLY on LSH candidate
    * pairs (linear via banding, measured at the 10×/100× octaves —
    * BENCH_NOTES), never all-pairs; the two text rejoins follow the
    * same size-aware sizedHint discipline as d3 (wide rows: broadcast
    * only for tiny corpora, shuffle_hash otherwise). */
  private[graft] def editDistancePairs(docs: DataFrame,
      nHint: Long = -1L): DataFrame =
    editDistancePairsPinned(docs, nHint)._1
  /** [[editDistancePairs]] plus its pinned sketch table — the house
    * Pinned contract (r16 ADVICE): direct callers outside the gate path
    * release the pin via the facade's materialized() instead of a blunt
    * catalog-wide clearCache. */
  private[graft] def editDistancePairsPinned(docs: DataFrame,
      nHint: Long = -1L): (DataFrame, Seq[DataFrame]) = {
    val n = if (nHint > 0) nHint else docs.count()
    // candidates WITHOUT the sig_matches rejoins this query drops
    // (candidatesFromSigArr scaladoc); the sketch table pins because
    // the band self-join references it twice. The verify must rejoin
    // TEXT (levenshtein is position-sensitive) — no hashed-set shortcut
    // here. Pins released by bench clearCache / the facade's
    // materialized() contract.
    val sigArr = minhashSigArr(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigArr.count()
    val cand = candidatesFromSigArr(sigArr, n)
    val out = cand
      .join(sizedHint(docs.select(col("doc_id").as("doc_a"),
        col("text").as("text_a")), n, 8192), "doc_a")
      .join(sizedHint(docs.select(col("doc_id").as("doc_b"),
        col("text").as("text_b")), n, 8192), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).cast("bigint").as("edit_dist"),
        greatest(length(col("text_a")), length(col("text_b")))
          .cast("bigint").as("max_len"))
      .withColumn("edit_sim",
        lit(1.0) - col("edit_dist").cast("double") / col("max_len").cast("double"))
      .filter(col("edit_sim") >= 0.5)
    (out, Seq(sigArr))
  }
  private def editDistancePairsSql =
    s"""WITH sig AS ($minhashSigsSql),
       |bands AS (
       |    ${(0 until Bands).map { b =>
             val cols = (0 until Rows).map(r => s"s${b * Rows + r}").mkString(", '_', ")
             s"SELECT doc_id, $b AS band_idx, concat($cols) AS band_val FROM sig"
           }.mkString("\n    UNION ALL ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       |   AND a.doc_id < b.doc_id),
       |p AS (
       |  SELECT doc_a, doc_b,
       |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
       |    CAST(GREATEST(length(da.text), length(db.text)) AS BIGINT) AS max_len
       |  FROM cand JOIN documents da ON da.doc_id = doc_a
       |  JOIN documents db ON db.doc_id = doc_b)
       |SELECT doc_a, doc_b, edit_dist, max_len,
       |  1.0 - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE) AS edit_sim
       |FROM p
       |WHERE 1.0 - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE) >= 0.5""".stripMargin

  // ---- d17: line-level dedup (C4-style) — dedup at SUB-document
  // granularity: a line that occurs in more than one document survives
  // only in its first-occurrence document (min doc_id); every other
  // copy is dropped and the document is reassembled from its kept
  // lines. This is the C4 "discard duplicated three-sentence spans" /
  // boilerplate-removal stage that document-level dedup (d1..d16)
  // cannot express. The corpus text is single-line (verified at every
  // SF), so — t7's precedent — the query injects cross-document
  // boilerplate lines deterministically by doc_id and the machinery
  // under test is the real thing: explode, first-occurrence-wins over
  // a 60-bit line-hash key, reassembly, byte-exact kept-text
  // fingerprint the oracle must reproduce.
  //
  // Shape at scale: shuffle keys are the 60-bit line hash (narrow, not
  // the line text) and doc_id — three linear shuffles (line stats,
  // stats-to-lines rejoin, per-doc reassembly); no window, no
  // cross-join. The per-line state is (count, min) — partial-agg both.
  private def lineDedup(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val aug = concat(col("text"),
      when(id % 3 === 0,
        concat(lit("\nboilerplate-"), (id % 5).cast("string")))
        .otherwise(lit("")),
      when(id % 4 === 0,
        concat(lit("\nfooter-"), (id % 3).cast("string")))
        .otherwise(lit("")))
    lineDedupOn(Tables.documents(s, d).withColumn("text", aug))
  }
  /** The machinery on any (doc_id, text) frame — text split on '\n'. */
  private[graft] def lineDedupOn(docs: DataFrame): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("i", "line")))
      .withColumn("h", XHash.hash60(col("line")))
    val stats = lines.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
    val kept = lines.join(stats, "h")
      .filter(col("n_docs") === 1 || col("doc_id") === col("first_doc"))
    val totals = lines.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"))
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        XHash.hash60(array_join(transform(
          array_sort(collect_list(struct(col("i"), col("line")))),
          x => x.getField("line")), "\n")).as("kept_fp"))
    totals.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_fp"), XHash.hash60(lit(""))).as("kept_fp"))
  }
  private def lineDedupSql = {
    val augT = "text" +
      " || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'boilerplate-' ||" +
      " CAST(doc_id % 5 AS VARCHAR) ELSE '' END" +
      " || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'footer-' ||" +
      " CAST(doc_id % 3 AS VARCHAR) ELSE '' END"
    s"""WITH aug AS (SELECT doc_id, $augT AS t FROM documents),
       |l AS (SELECT doc_id,
       |    unnest(string_split(t, chr(10))) AS line,
       |    generate_subscripts(string_split(t, chr(10)), 1) AS i
       |  FROM aug),
       |lh AS (SELECT doc_id, i, line, ${XHash.hash60Sql("line")} AS h FROM l),
       |stats AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs,
       |    MIN(doc_id) AS first_doc
       |  FROM lh GROUP BY 1),
       |kept AS (SELECT lh.doc_id, lh.i, lh.line
       |  FROM lh JOIN stats s ON s.h = lh.h
       |  WHERE s.n_docs = 1 OR lh.doc_id = s.first_doc),
       |tot AS (SELECT doc_id, COUNT(1) AS n_lines FROM lh GROUP BY 1),
       |ka AS (SELECT doc_id, COUNT(1) AS n_kept,
       |    ${XHash.hash60Sql("string_agg(line, chr(10) ORDER BY i)")} AS kept_fp
       |  FROM kept GROUP BY 1)
       |SELECT t.doc_id, t.n_lines,
       |  COALESCE(ka.n_kept, 0) AS n_kept,
       |  COALESCE(ka.kept_fp, ${XHash.hash60Sql("''")}) AS kept_fp
       |FROM tot t LEFT JOIN ka ON ka.doc_id = t.doc_id""".stripMargin
  }

  // ---- d18: URL canonicalization dedup — the first dedup stage of every
  // web-crawl pipeline (CCNet/RefinedWeb run it before any content
  // hashing): normalize each document's source URL, then keep one doc per
  // canonical URL. The corpus ships no URL column, so — t7/t17 precedent —
  // the query injects deterministic URLs keyed by doc_id (scheme and
  // www./case/trailing-slash/utm/fragment variants of a shared target,
  // docs in groups of 4 sharing one canonical), and the machinery under
  // test is the real thing: the normalization regex chain (lowercase,
  // fragment strip, tracking-param strip, scheme/www strip, trailing
  // slash) and the canonical-group rollup.
  //
  // Shape at scale: per-row scalar regexps (codegen'd, no UDF) + ONE hash
  // groupBy on the canonical string — linear, the cheapest dedup there is.
  /** The normalization chain on a (doc_id, url) DataFrame — the facade
    * entry for corpora that carry real URLs. */
  private[graft] def urlDedupGroups(withUrls: DataFrame): DataFrame = {
    val canon =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(
          lower(col("url")),
          "#.*$", ""),            // fragment
          "utm_[a-z_]+=[^&#]*", ""), // tracking params
          "[?&]+$", ""),          // dangling separators
          "^https?://", ""),      // scheme
          "^www\\.", ""),         // www
          "/+$", "")              // trailing slash
    withUrls.select(col("doc_id"), col("url"), canon.as("canon_url"))
      .groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_urls"),
        countDistinct(col("url")).as("n_variants"))
  }
  private[graft] def urlDedupOn(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val tid = expr("doc_id div 4")
    val hostBase = concat(lit("site"), (tid % 50).cast("string"),
      lit(".example.com"))
    val url = concat(
      when(id % 2 === 0, "http://").otherwise("https://"),
      when(id % 3 === 0, "www.").otherwise(""),
      when(id % 5 === 0, upper(hostBase)).otherwise(hostBase),
      lit("/p/"), tid.cast("string"),
      when(id % 7 === 0, "/").otherwise(""),
      when(id % 3 === 1,
        concat(lit("?utm_source=s"), (id % 9).cast("string"))).otherwise(""),
      when(id % 13 === 0,
        concat(lit("#sec"), (id % 4).cast("string"))).otherwise(""))
    urlDedupGroups(docs.select(id, url.as("url")))
  }
  private def urlDedupSql = {
    val url = "(CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END" +
      " || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END" +
      " || CASE WHEN doc_id % 5 = 0" +
      " THEN upper('site' || CAST((doc_id // 4) % 50 AS VARCHAR) || '.example.com')" +
      " ELSE 'site' || CAST((doc_id // 4) % 50 AS VARCHAR) || '.example.com' END" +
      " || '/p/' || CAST(doc_id // 4 AS VARCHAR)" +
      " || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END" +
      " || CASE WHEN doc_id % 3 = 1 THEN '?utm_source=s' || CAST(doc_id % 9 AS VARCHAR) ELSE '' END" +
      " || CASE WHEN doc_id % 13 = 0 THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END)"
    val canon = "regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      "regexp_replace(regexp_replace(lower(url), " +
      "'#.*$', '', 'g'), " +
      "'utm_[a-z_]+=[^&#]*', '', 'g'), " +
      "'[?&]+$', '', 'g'), " +
      "'^https?://', '', 'g'), " +
      "'^www\\.', '', 'g'), " +
      "'/+$', '', 'g')"
    s"""WITH u AS (SELECT doc_id, $url AS url FROM documents),
       |c AS (SELECT doc_id, url, $canon AS canon_url FROM u)
       |SELECT canon_url, MIN(doc_id) AS keep_id, COUNT(1) AS n_urls,
       |  COUNT(DISTINCT url) AS n_variants
       |FROM c GROUP BY 1""".stripMargin
  }

  // ---- p2: triangle counting over the near-dup similarity graph — the
  // second graph-analytics operator next to p1's centrality: per-node
  // triangle counts measure local clustering (a doc whose neighbors are
  // also near-dups of EACH OTHER sits inside a dense duplication cluster;
  // a high-degree/zero-triangle doc is a template hub — different cleanup
  // action). Edges are the verified Jaccard pairs, ORIENTED BY (degree,
  // id): each edge points from its lower-degree endpoint to the higher
  // (ties by id), so each triangle is enumerated exactly once by two
  // equi-joins AND the per-node wedge fan-out is bounded by the oriented
  // out-degree — on a power-law graph a degree-d hub contributes C(d,2)
  // wedges under a low-ID orientation but 0 as a join-key source under
  // degree orientation (TriangleOrientationSpec measures the planted-hub
  // case). Per-node triangle counts and degrees are orientation-
  // invariant, so the output is identical under any acyclic orientation.
  // Cache discipline: the LSH pair pipeline runs ONCE — pairs are pinned
  // for the degree pass, the (tiny) degree table is pinned and reused by
  // both orientation probes AND the output join, and the oriented edge
  // list is pinned + materialized before its three enumeration legs;
  // CacheDisciplineSpec gates the no-replay contract.
  private def triangles(s: SparkSession, d: String): DataFrame =
    triangleCounts(
      jaccardPairs(Tables.documents(s, d), Tables.documentsRows(s, d))
        .select(col("doc_a"), col("doc_b")))
  /** Per-node degree + triangle count on an undirected edge list (two
    * long columns, each edge listed once, no self-loops) — the facade
    * entry for arbitrary similarity graphs. Degree-orients internally;
    * the result (one InMemoryTable, caller-owned like PageRank's) is
    * already materialized when this returns. */
  private[graft] def triangleCounts(pairs: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val p = pairs.toDF("doc_a", "doc_b").persist(lvl)
    try {
      p.count() // one upstream (LSH) pass; the orientation reads cache
      // degrees once, pinned: the orientation probes it twice and the
      // output join reuses it (it IS the undirected degree column) — the
      // uncached form re-aggregated degrees in both places
      val deg0 = p.select(col("doc_a").as("id"))
        .unionAll(p.select(col("doc_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .persist(lvl)
      try {
        deg0.count()
        val e = orientBy(p, deg0).persist(lvl)
        try {
          e.count() // materialize BEFORE the 3-leg enumeration: no leg
                    // race, no upstream replay (r7's scale-killer)
          val tri = orientedWedges(e)
            .join(e.as("e3"),
              col("e3.src") === col("x") && col("e3.dst") === col("z"))
            .select(col("x"), col("y"), col("z"))
          val triPerNode = tri
            .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
            .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
          val out = deg0.join(triPerNode, Seq("id"), "left")
            .select(col("id"), col("deg"),
              coalesce(col("n_tri"), lit(0L)).as("n_tri"))
            .persist(lvl)
          try out.count() // result cache caller-owned (PageRank precedent)
          catch { case t: Throwable => out.unpersist(); throw t }
          out
        } finally e.unpersist()
      } finally deg0.unpersist()
    } finally p.unpersist()
  }
  /** Degree orientation: every undirected edge (doc_a, doc_b) becomes
    * (src, dst) with src ≺ dst under the total order (degree, id) — the
    * standard bounded-arboricity trick: wedge fan-out per node is then
    * bounded by its LOWER-degree-endpoint out-degree, so a power-law
    * hub stops being a wedge source (TriangleOrientationSpec measures
    * the planted-hub case). Uncached; expects doc_a/doc_b columns. */
  private[graft] def degreeOriented(p: DataFrame): DataFrame =
    orientBy(p, p.select(col("doc_a").as("id"))
      .unionAll(p.select(col("doc_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg")))
  /** [[degreeOriented]] against a caller-supplied (id, deg) table —
    * [[triangleCounts]] pins the degree table once and reuses it here
    * AND as the output's degree column. */
  private[graft] def orientBy(p: DataFrame, deg0: DataFrame): DataFrame =
    p.join(deg0.as("da"), col("doc_a") === col("da.id"))
      .join(deg0.as("db"), col("doc_b") === col("db.id"))
      .select(
        when(col("da.deg") < col("db.deg") ||
            (col("da.deg") === col("db.deg") && col("doc_a") < col("doc_b")),
          struct(col("doc_a").as("s"), col("doc_b").as("t")))
          .otherwise(struct(col("doc_b").as("s"), col("doc_a").as("t")))
          .as("ed"))
      .select(col("ed.s").as("src"), col("ed.t").as("dst"))
  /** Enumeration half over an ACYCLICALLY ORIENTED edge list (src ≺ dst
    * under any total order; here (deg, id)) — uncached, for plan
    * inspection and the orientation spec. */
  private[graft] def orientedTriangleCounts(e: DataFrame): DataFrame = {
    val tri = orientedWedges(e)
      .join(e.as("e3"),
        col("e3.src") === col("x") && col("e3.dst") === col("z"))
      .select(col("x"), col("y"), col("z"))
    val triPerNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    val deg = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    deg.join(triPerNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }
  /** The wedge (open-triangle candidate) set of an oriented edge list —
    * the intermediate whose size degree orientation bounds (its row
    * count is Σ C(out-deg, 2)-ish; the orientation spec measures it). */
  private[graft] def orientedWedges(e: DataFrame): DataFrame =
    e.as("e1")
      .join(e.as("e2"), col("e2.src") === col("e1.dst"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"),
        col("e2.dst").as("z"))
  private def trianglesSql =
    s"""WITH pairs AS ($jaccardPairsSql),
       |p AS (SELECT doc_a, doc_b FROM pairs),
       |deg0 AS (
       |  SELECT id, COUNT(1) AS deg FROM (
       |    SELECT doc_a AS id FROM p UNION ALL SELECT doc_b FROM p)
       |  GROUP BY 1),
       |e AS (
       |  SELECT
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.doc_a < p.doc_b)
       |      THEN p.doc_a ELSE p.doc_b END AS src,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND p.doc_a < p.doc_b)
       |      THEN p.doc_b ELSE p.doc_a END AS dst
       |  FROM p
       |  JOIN deg0 da ON da.id = p.doc_a
       |  JOIN deg0 db ON db.id = p.doc_b),
       |tri AS (
       |  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
       |  FROM e e1
       |  JOIN e e2 ON e2.src = e1.dst
       |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |tpn AS (
       |  SELECT id, COUNT(1) AS n_tri FROM (
       |    SELECT x AS id FROM tri
       |    UNION ALL SELECT y FROM tri
       |    UNION ALL SELECT z FROM tri)
       |  GROUP BY 1),
       |deg AS (
       |  SELECT id, COUNT(1) AS deg FROM (
       |    SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
       |  GROUP BY 1)
       |SELECT deg.id, deg.deg, COALESCE(tpn.n_tri, 0) AS n_tri
       |FROM deg LEFT JOIN tpn ON tpn.id = deg.id""".stripMargin

  // ---- p3: label-propagation communities over the near-dup graph —
  // the third graph-analytics lens (d7 components: reachability; p2
  // triangles: per-node density score; p3: an actual PARTITION of each
  // component into its dense sub-communities — which docs belong to the
  // same duplication cluster vs merely hang off a shared template hub).
  // Deterministic synchronous LPA, fixed rounds, min-label tie-break —
  // see operators.LabelProp for the exactness + scale contract.
  private val LpRounds = 3
  private def labelProp(s: SparkSession, d: String): DataFrame =
    graft.operators.LabelProp.propagate(
      jaccardPairs(Tables.documents(s, d), Tables.documentsRows(s, d))
        .select(col("doc_a"), col("doc_b")), LpRounds)
  private def labelPropSql =
    s"""WITH pairs AS ($jaccardPairsSql),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |${graft.operators.LabelProp.sqlCtes(LpRounds)}
       |SELECT id, lab AS community FROM l$LpRounds""".stripMargin

  val all: Seq[Q] = Seq(
    Q("d1_exact_dedup", (s, d) => exactDedup(Tables.documents(s, d)),
      Some(exactDedupSql)),
    Q("d2_minhash_lsh",
      (s, d) => minhashLsh(Tables.documents(s, d), Tables.documentsRows(s, d)),
      Some(minhashLshSql)),
    Q("d3_jaccard_pairs",
      (s, d) => jaccardPairs(Tables.documents(s, d), Tables.documentsRows(s, d)),
      Some(jaccardPairsSql)),
    Q("d4_simhash", (s, d) => simhash(Tables.documents(s, d)),
      Some(simhashSql)),
    Q("d5_embedding_neardup", embNearDup, Some(embNearDupSql)),
    Q("d6_dedup_keep", dedupKeep, Some(dedupKeepSql)),
    Q("d7_components", components, Some(componentsSql)),
    Q("q56_dedup_split", dedupSplit, Some(dedupSplitSql)),
    Q("p1_pagerank", pagerank, Some(pagerankSql)),
    Q("d9_containment",
      (s, d) => containmentPairs(Tables.documents(s, d),
        nHint = Tables.documentsRows(s, d)),
      Some(containmentPairsSql)),
    Q("d11_containment_join",
      (s, d) => containmentJoin(Tables.documents(s, d),
        nHint = Tables.documentsRows(s, d)),
      Some(containmentJoinSql)),
    Q("d10_keep_best",
      (s, d) => keepBest(Tables.documents(s, d), Tables.documentsRows(s, d)),
      Some(keepBestSql)),
    Q("d12_substring_spans",
      (s, d) => substringSpans(Tables.documents(s, d)),
      Some(substringSpansSql)),
    Q("d15_edit_distance",
      (s, d) => editDistancePairs(Tables.documents(s, d),
        Tables.documentsRows(s, d)),
      Some(editDistancePairsSql)),
    Q("d17_line_dedup", lineDedup, Some(lineDedupSql)),
    Q("d18_url_dedup", (s, d) => urlDedupOn(Tables.documents(s, d)),
      Some(urlDedupSql)),
    Q("p2_triangles", triangles, Some(trianglesSql)),
    Q("p3_label_prop", labelProp, Some(labelPropSql)),
    Q("d16_cross_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        crossNearDups(docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0))
      },
      Some(crossDedupSql)))
}
