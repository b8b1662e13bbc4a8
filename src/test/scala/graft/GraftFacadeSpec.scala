package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The public facade works on arbitrary user DataFrames (not just the
  * driver corpus loaders) and agrees with the oracle-gated query twins.
  */
class GraftFacadeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("dedup facade on a user-built DataFrame matches the gated queries") {
    import spark.implicits._
    // a hand-built corpus: near-dup pair (1,2), exact dup pair (3,4)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and once"),
      (3L, "completely different content that stands alone in this corpus"),
      (4L, "completely different content that stands alone in this corpus"),
      (5L, "yet another unrelated document with its own words entirely"))
      .toDF("doc_id", "text")
    val groups = Graft.exactDupGroups(docs).collect()
    assert(groups.length == 4) // 3 and 4 collapse
    assert(groups.find(_.getLong(2) == 2L).exists(_.getLong(1) == 3L))
    val pairs = Graft.nearDupPairs(docs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((3L, 4L)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
    val comp = Graft.connectedComponents(
      Graft.nearDupPairs(docs).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(2L) == 1L && comp(4L) == 3L)
  }

  test("round-7 facades match their gated queries (d15, d14, s4, t10, q50)") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    // d15 twin
    val viaFacade = Graft.editDistancePairs(docs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaQuery = SparkEntry.queries("d15_edit_distance")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(viaFacade == viaQuery && viaFacade.nonEmpty)
    // d14 twin at the gate parameters (k = 16, threshold 0.45); sf0.001
    // has no semantic dups of its own, so plant an exact copy of vec 0 —
    // it must land in vec 0's cell and be reported with a lower witness
    val planted = emb.filter(col("vec_id") === 0L)
      .select((col("vec_id") + 900000L).as("vec_id"), col("embedding"),
        col("label"))
    val dups = Graft.semanticDups(emb.unionByName(planted), k = 16,
        threshold = 0.45)
      .select("vec_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.exists(_._1 == 900000L),
      s"planted duplicate not caught: $dups")
    val dupsQ = SparkEntry.queries("d14_semantic_dedup")(spark, sf)
      .select("vec_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Graft.semanticDups(emb, k = 16, threshold = 0.45)
      .select("vec_id", "dup_of").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == dupsQ)
    // s4: every vector lands in exactly one cell
    val asg = Graft.kMeansAssign(emb, k = 16)
    assert(asg.count() == emb.count())
    assert(asg.select("vec_id").distinct().count() == emb.count())
    // t10: keep ⇔ flags == 0
    val g = Graft.gopherFilter(docs)
    assert(g.count() == docs.count())
    assert(g.filter(col("keep") =!= (col("flags") === 0L)).count() == 0L)
    // d16: the facade twin of the gated cross-dedup slice
    val inc = docs.filter(col("doc_id") % 10 === 0)
    val rest = docs.filter(col("doc_id") % 10 =!= 0)
    val cross = Graft.crossNearDupPairs(inc, rest)
      .select("inc_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val crossQ = SparkEntry.queries("d16_cross_dedup")(spark, sf)
      .select("inc_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross == crossQ && cross.nonEmpty)
    // and a planted increment doc duplicating a corpus doc is caught
    val plantedInc = rest.limit(1)
      .select((col("doc_id") + 800000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val caught = Graft.crossNearDupPairs(plantedInc, rest)
      .select("inc_id").collect().map(_.getLong(0)).toSet
    assert(caught.exists(_ >= 800000L), "planted cross-dup not caught")
    // q50: guarantees est ≤ true and true − est ≤ n/(k+1) for every token
    val toks = docs.select(explode(
      graft.operators.TextOps.tokens(col("text"))).as("token"))
    val n = toks.count()
    val k = 16
    val exact = toks.groupBy("token").count()
    val viol = Graft.approxHeavyHitters(toks, "token", k)
      .join(exact, col("value") === col("token"))
      .filter(col("est") > col("count") ||
        (col("count") - col("est")) * (k + 1) > n)
      .count()
    assert(viol == 0L, "Misra-Gries guarantee violated")
  }

  test("facade twins equal the driver-corpus query results") {
    val docs = Tables.documents(spark, sf)
    val viaFacade = Graft.nearDupPairs(docs)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaQuery = SparkEntry.queries("d3_jaccard_pairs")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaFacade == viaQuery && viaFacade.nonEmpty)
    val emb = Tables.embeddings(spark, sf)
    val viaFacadeEmb = Graft.embeddingNearDups(emb)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaQueryEmb = SparkEntry.queries("d5_embedding_neardup")(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaFacadeEmb == viaQueryEmb)
  }

  test("keep-best and chunking facades match the gated queries, clean cache") {
    val docs = Tables.documents(spark, sf)
    // registry path first: it pins by design (Verify/Bench clearCache owns
    // cleanup there) — drop its pins before auditing the facade's hygiene
    val viaQuery = SparkEntry.queries("d10_keep_best")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    spark.catalog.clearCache()
    val viaFacade = Graft.keepBestPerCluster(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(viaFacade == viaQuery && viaFacade.nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty,
      "keepBestPerCluster left entries pinned")
    val chunks = Graft.chunkDocuments(docs, window = 32L, overlap = 8L)
    val n = chunks.agg(sum(col("chunk_tok"))).head.getLong(0)
    assert(n > 0)
  }

  test("containmentJoin facade: quote inclusion found at low Jaccard, theta honored") {
    import spark.implicits._
    // doc 2 fully quotes doc 1's middle: containment(1->2) = 1.0 while
    // Jaccard stays low — the case the prefix-filter pass exists for
    val quoted = (10 until 25).map(i => s"q$i").mkString(" ")
    val docs = Seq(
      (1L, quoted),
      (2L, ((0 until 10).map(i => s"a$i") ++ (10 until 25).map(i => s"q$i") ++
        (0 until 60).map(i => s"b$i")).mkString(" ")),
      (3L, (0 until 40).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Graft.containmentJoin(docs, theta = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5).max(r.getDouble(6))))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 == 1.0)
    // a stricter theta than the pair's containment excludes it
    assert(Graft.containmentJoin(docs, theta = 1.0).count() == 1L) // still 1.0
    intercept[IllegalArgumentException](Graft.containmentJoin(docs, theta = 1.5))
    // cache contract: no CATALOG cache entries survive the call (the
    // localCheckpoint storage of returned results lives with the
    // DataFrame and is collected with it — that is the documented design)
    assert(spark.sharedState.cacheManager.isEmpty,
      "containmentJoin left entries pinned")
  }

  test("embeddingNearDupsAuto: no knobs, planted near-dups recalled, cache clean") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val planted = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 90000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
    val pairs = Graft.embeddingNearDupsAuto(emb.unionAll(planted),
        threshold = 0.9, dim = Tables.EmbeddingDim)
      .filter(col("vec_b") >= 90000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0L until 3L).map(i => (i, i + 90000L)).toSet)
    assert(spark.sharedState.cacheManager.isEmpty,
      "embeddingNearDupsAuto left entries pinned")
  }

  test("contaminationAgainst: user eval suite, only quoting docs flagged") {
    import spark.implicits._
    val evalSuite = Seq(
      (1L, "what is the capital of france paris is the capital"),
      (2L, "compute the derivative of x squared two x")).toDF("doc_id", "text")
    val corpus = Seq(
      // quotes eval doc 1 verbatim inside unrelated text
      (100L, "some filler words " + "what is the capital of france paris" +
        " and more filler here"),
      (101L, "a completely clean training document about something else"),
      // shares a 3-gram with eval doc 2
      (102L, "today we compute the derivative of a function")).toDF("doc_id", "text")
    val report = Graft.contaminationAgainst(corpus, evalSuite)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(report.contains(100L) && report(100L)._2 == 1L)
    assert(report.contains(102L) && report(102L)._1 >= 1L)
    assert(!report.contains(101L), "clean doc must not be flagged")
  }

  test("embedding SQL views equal the DataFrame facade") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val planted = emb.filter(col("vec_id") < 2)
      .select((col("vec_id") + 91000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.001f)).as("embedding"))
    emb.unionAll(planted).createOrReplaceTempView("facade_emb")
    Graft.registerEmbeddingPipelineSql(spark, "facade_emb",
      dim = Tables.EmbeddingDim)
    val viaSql = spark.sql(
      "SELECT vec_a, vec_b FROM graft_emb_near_dups WHERE vec_b >= 91000")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSql == Set((0L, 91000L), (1L, 91001L)))
    assert(spark.sql("SELECT * FROM graft_emb_ann").count() > 0)
    spark.catalog.clearCache()
  }

  test("round-7 facades match their gated queries (t11, q53, s5, p1, q51)") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    // t11 twin
    val clfF = Graft.qualityClassifier(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val clfQ = SparkEntry.queries("t11_quality_classifier")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(clfF == clfQ && clfF.nonEmpty)
    // q53 twin at the gate shard size
    val shF = Graft.assignShards(docs, "doc_id", shardSize = 100L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val shQ = SparkEntry.queries("q53_shard_shuffle")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(shF == shQ && shF.nonEmpty)
    // s5 twin at the gate parameters
    val pqF = Graft.pqTopK(emb, Tables.EmbeddingDim).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pqQ = SparkEntry.queries("s5_pq_adc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pqF == pqQ && pqF.nonEmpty)
    // p1 twin: facade pageRank over the facade's own verified pairs
    val prQ = SparkEntry.queries("p1_pagerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    val prF = Graft.pageRank(
      Graft.nearDupPairs(docs).select("doc_a", "doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prF == prQ && prF.nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty,
      "pageRank facade left entries pinned")
    // q51 twin at the gate depth/width over the same token stream
    val toks = docs.select(
      explode(operators.TextOps.tokens(col("text"))).as("token"))
    val cmF = Graft.countMinEstimates(toks, "token",
        toks.distinct(), "token", depth = 4, width = 32).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val cmQ = SparkEntry.queries("q51_countmin")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2))).toSet
    assert(cmF == cmQ && cmF.nonEmpty)
  }

  test("round-8 facades match their gated queries (t12, d18, p2, ts8)") {
    val docs = Tables.documents(spark, sf)
    // t12 twin
    val lmF = Graft.ngramLmScores(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val lmQ = SparkEntry.queries("t12_ngram_lm")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(lmF == lmQ && lmF.nonEmpty)
    // d18: facade on hand-built URLs — variants of one target collapse,
    // the distinct target survives alone
    import spark.implicits._
    val urls = Seq(
      (1L, "https://www.Site.example.com/a/1?utm_source=x#top"),
      (2L, "http://site.example.com/a/1/"),
      (3L, "https://site.example.com/a/1"),
      (4L, "https://other.example.com/b/2")).toDF("doc_id", "url")
    val groups = Graft.urlDedupGroups(urls).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(groups.length == 2)
    assert(groups.contains(("site.example.com/a/1", 1L, 3L)))
    assert(groups.contains(("other.example.com/b/2", 4L, 1L)))
    // p2: facade on a hand-built graph with one known triangle + a tail
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("doc_a", "doc_b")
    val triRows = Graft.triangleCounts(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(triRows.size == 4)
    assert(triRows(1L) == (2L, 1L) && triRows(2L) == (2L, 1L))
    assert(triRows(3L) == (3L, 1L) && triRows(4L) == (1L, 0L))
    // ts8 twin on the driver corpus shape
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"),
        round(col("value") * 100).cast("bigint").as("c"))
    val cpF = Graft.changePoints(ev, "user_id", "event_id", "ts_us", "c")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
    val cpQ = SparkEntry.queries("ts8_changepoint")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
    assert(cpF == cpQ && cpF.nonEmpty)
    // the CUSUM statistic replayed single-threaded on one key must agree
    val oneKey = ev.filter(col("user_id") === cpQ.head._1)
      .collect().sortBy(r => (r.getLong(2), r.getLong(1)))
    val cs = oneKey.map(_.getLong(3))
    val n = cs.length.toLong
    val sumC = cs.sum
    var p = 0L; var minP = 0L; var best = (Long.MinValue, 0L)
    oneKey.foreach { r =>
      p += r.getLong(3) * n - sumC
      val sStat = p - math.min(0L, math.min(minP, p))
      minP = math.min(minP, p)
      if (sStat > best._1) best = (sStat, r.getLong(1))
    }
    assert(cpQ.find(_._1 == oneKey.head.getLong(0))
      .exists(t => t._2 == best._1 && t._3 == best._2),
      s"single-threaded CUSUM replay disagrees: $best")
    // m3 facade twin (fake decoder over the corpus payload bytes)
    val afF = Graft.audioFrames(
        docs.select(col("doc_id"), col("text").cast("binary").as("audio")),
        frameSamples = 32,
        decoder = operators.Multimodal.FakeAudioDecoder)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val afQ = SparkEntry.queries("m3_audio_frames")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(afF == afQ && afF.nonEmpty)
  }

  test("bpeMerges facade: merges match a hand computation on a tiny vocab") {
    import spark.implicits._
    // vocab: "low" x3, "lower" x2, "lowest" x1 → pair counts:
    // "l o"=6, "o w"=6, "w e"=3, "e r"=2, "e s"=1, "s t"=1
    // round 1: tie (l o)/(o w) → lexicographic "l o" wins → "lo"
    // round 2: "lo w"=6 (the merged symbol pairs with w) → "low"
    val docs = Seq(
      (1L, "low low low lower lower lowest")).toDF("doc_id", "text")
    val merges = Graft.bpeMerges(docs, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).sortBy(_._1)
    assert(merges(0) == ((1L, "l o", "lo", 6L)), merges.mkString(","))
    assert(merges(1) == ((2L, "lo w", "low", 6L)), merges.mkString(","))
    // the gated query at the driver corpus
    val viaQ = SparkEntry.queries("t13_bpe_train")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    val viaF = Graft.bpeMerges(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(viaF == viaQ && viaF.size == 3)
    // encode on the tiny vocab: after merging to "low", the words become
    // low=1 symbol, lower=3 (low e r), lowest=4 (low e s t) → doc totals
    val enc = Graft.bpeEncode(docs, rounds = 2).collect()
      .map(r => (r.getLong(1), r.getLong(2))).head
    assert(enc == ((6L, 3L * 1 + 2L * 3 + 4L)), s"encode totals: $enc")
    val encF = Graft.bpeEncode(Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val encQ = SparkEntry.queries("t15_bpe_encode")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(encF == encQ && encF.nonEmpty)
  }

  test("seasonalBaseline facade matches the gated query and a hand bucket") {
    import spark.implicits._
    // one bucket (t, 0): cents 10, 20, 30 → n_b=3, sum=60; 30·3=90 > 66 → high
    val rows = Seq((1L, "t", 0L, 10L), (2L, "t", 0L, 20L), (3L, "t", 0L, 30L))
      .toDF("id", "typ", "bkt", "cents")
    val out = Graft.seasonalBaseline(rows, "typ", "bkt", "id", "cents")
      .collect().map(r => r.getLong(3) -> (r.getLong(6), r.getBoolean(7))).toMap
    assert(out(10L) == ((-30L, false)) && out(30L) == ((30L, true)))
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"),
        expr("(ts_ns div 3600000000000L) % 24").as("hod"),
        round(col("value") * 100).cast("bigint").as("c"))
    val f = Graft.seasonalBaseline(ev, "event_type", "hod", "event_id", "c")
      .collect().map(r => (r.getLong(0), r.getLong(6))).toSet
    val q = SparkEntry.queries("ts9_seasonal_baseline")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(6))).toSet
    assert(f == q && f.nonEmpty)
  }

  test("winnowing facade: shared runs share a fingerprint, disjoint docs don't") {
    import spark.implicits._
    val sharedRun = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"one two three $sharedRun nine ten eleven twelve"),
      (2L, s"aaa bbb ccc ddd $sharedRun yyy zzz www qqq"),
      (3L, "completely different words with nothing in common here at all"))
      .toDF("doc_id", "text")
    val fps = Graft.winnowFingerprints(docs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // the MOSS guarantee: an 8-token shared run (> w+2 = 6) must yield
    // at least one common fingerprint between docs 1 and 2
    assert((fps(1L) & fps(2L)).nonEmpty, "shared run yielded no common fp")
    // doc 3 shares no 3-gram with either, so no fingerprint either
    assert((fps(3L) & (fps(1L) ++ fps(2L))).isEmpty)
    // facade equals the gated query
    val wQ = SparkEntry.queries("t14_winnowing")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wF = Graft.winnowFingerprints(Tables.documents(spark, sf))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(wF == wQ && wF.nonEmpty)
  }

  test("rangeSearch facade: planted duplicate is retrieved, threshold honored") {
    val emb = Tables.embeddings(spark, sf)
    // plant an exact copy of vec 3 under a high id: radius search from
    // the query set must retrieve it at cosine 1 (any threshold)
    val planted = emb.filter(col("vec_id") === 3L)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"),
        col("label"))
    val hits = Graft.rangeSearch(emb.unionByName(planted),
        nQueries = 32, threshold = 0.9, dim = Tables.EmbeddingDim)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    spark.catalog.clearCache()
    assert(hits.exists(h => h._1 == 3L && h._2 == 800003L && h._3 > 0.999),
      s"planted copy not retrieved: ${hits.toSeq}")
    assert(hits.forall(_._3 >= 0.9), "threshold not honored")
    // facade equals the gated query at the gate parameters
    val rsF = Graft.rangeSearch(emb, dim = Tables.EmbeddingDim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rsQ = SparkEntry.queries("s6_range_search")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.catalog.clearCache()
    assert(rsF == rsQ && rsF.nonEmpty)
  }

  test("lineDedup facade: first-occurrence wins on a user corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta\nshared boilerplate line\nunique one"),
      (2L, "gamma delta\nshared boilerplate line"),
      (3L, "epsilon zeta\nanother original line")).toDF("doc_id", "text")
    val out = Graft.lineDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (3L, 3L), "doc 1 keeps all lines (first occurrence)")
    assert(out(2L) == (2L, 1L), "doc 2 loses the shared line")
    assert(out(3L) == (2L, 2L), "doc 3 untouched")
  }

  test("facade calls leave no hidden entries in the session cache") {
    // r2 advice: persist-pinning internals must not leak into a user
    // session — facade results are self-contained (localCheckpoint) and
    // the pinned sketch tables are released before returning
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    Graft.nearDupPairs(docs).count()
    Graft.embeddingNearDups(emb).count()
    Graft.ivfTopK(emb).count()
    Graft.connectedComponents(
      Graft.nearDupPairs(docs).select("doc_a", "doc_b")).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "facade left entries pinned in the session cache")
  }

  test("round-10 artifact/retrieval facades leave no hidden cache entries") {
    // same contract as above for the round-10 surface: persisted-index
    // serving, the dedup artifact consumers, hybrid RRF, MMR
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val n = Tables.embeddingsRows(spark, sf)
    val batch = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 4)
      .select((org.apache.spark.sql.functions.col("vec_id") + 7000000L)
        .as("query_id"), org.apache.spark.sql.functions.col("embedding"))
    val ixDir = java.nio.file.Files
      .createTempDirectory("gfs_annix").toString
    Graft.buildAnnIndex(emb, ixDir, "ivfpq", Tables.EmbeddingDim, n)
    spark.catalog.clearCache() // build pins are released; belt-and-braces
    Graft.annIndexServe(spark, ixDir, batch, emb).count()
    Graft.annIndexServeWhere(spark, ixDir, batch,
      emb.select("vec_id"), emb).count()
    val dxDir = java.nio.file.Files
      .createTempDirectory("gfs_dedupix").toString
    Graft.buildDedupIndex(docs, dxDir, Tables.documentsRows(spark, sf))
    Graft.dedupSplitFrom(spark, dxDir, docs).count()
    Graft.keepBestFrom(spark, dxDir, docs).count()
    Graft.pageRankFrom(spark, dxDir).count()
    Graft.labelPropFrom(spark, dxDir).count()
    Graft.dedupServeNearDups(spark, dxDir,
      docs.filter(org.apache.spark.sql.functions.col("doc_id") < 4)
        .withColumn("doc_id",
          org.apache.spark.sql.functions.col("doc_id") + 7000000L)).count()
    Graft.hybridSearch(docs, emb, nQueries = 4).count()
    Graft.mmrRerank(emb, nQueries = 4).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a round-10 facade left entries pinned in the session cache")
  }

  test("round-11 maintenance/serving facades leave no hidden cache entries") {
    // same contract for the round-11 surface: delta compaction,
    // quantizer rebuild, the frozen-tokenizer encode, corpus reads
    // (the artifact-served RAG facades are covered in RagServeSpec)
    import org.apache.spark.sql.functions.col
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val n = Tables.embeddingsRows(spark, sf)
    val dxDir = java.nio.file.Files
      .createTempDirectory("gfs_r11_dedup").toString
    Graft.buildDedupIndex(docs, dxDir)
    Graft.appendDedupIndex(docs.filter(col("doc_id") < 4)
      .withColumn("doc_id", col("doc_id") + 8000000L), dxDir)
    Graft.compactDedupIndex(spark, dxDir)
    Graft.dedupServeNearDups(spark, dxDir, docs.filter(col("doc_id") < 4)
      .withColumn("doc_id", col("doc_id") + 9000000L)).count()
    val ixDir = java.nio.file.Files
      .createTempDirectory("gfs_r11_ann").toString
    Graft.buildAnnIndex(emb, ixDir, "ivfpq", Tables.EmbeddingDim, n)
    Graft.compactAnnIndex(spark, ixDir)
    Graft.rebuildAnnIndex(emb, ixDir, n)
    val bpeDir = java.nio.file.Files
      .createTempDirectory("gfs_r11_bpe").toString
    Graft.buildBpeIndex(docs, bpeDir)
    Graft.bpeEncodeFrom(spark, bpeDir, docs).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "a round-11 facade left entries pinned in the session cache")
  }

  test("passing the embedding dim skips the probe job (one fewer job)") {
    // job-group + statusTracker: a synchronous, exact per-block job count.
    // Cache cleared per block: s2 pins+materializes its signature table
    // at build (r8 cache discipline), and the three calls share a logical
    // plan — without the clear, later blocks silently read the first
    // block's cache and count fewer jobs for the wrong reason.
    def countJobs(group: String)(body: => Unit): Int = {
      spark.catalog.clearCache()
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    }
    val emb = Tables.embeddings(spark, sf)
    val probed = countJobs("s2_probed") {
      queries.SimilarityQueries.annLsh(emb).write.format("noop")
        .mode("overwrite").save()
    }
    val given = countJobs("s2_given") {
      queries.SimilarityQueries.annLsh(emb, dim0 = Tables.EmbeddingDim)
        .write.format("noop").mode("overwrite").save()
    }
    assert(given == probed - 1,
      s"expected exactly one fewer job with dim given: probed=$probed given=$given")

    // r4 ADVICE: the lazy ann view used to re-run emb.count() as a
    // SEPARATE job on every invocation. The mask is now derived inside
    // the plan (1-row count aggregate), so with dim given the whole query
    // is ONE job — with or without an nHint
    val hinted = countJobs("s2_hinted") {
      queries.SimilarityQueries.annLsh(emb, dim0 = Tables.EmbeddingDim,
        nHint = emb.count()).write.format("noop").mode("overwrite").save()
    }
    info(s"s2 job counts: probed=$probed given=$given hinted=$hinted")
    // the hinted path may now cost one job LESS than the in-plan mask:
    // with an exact nHint the candidate side follows the sizedHint
    // ladder and broadcasts at this corpus size, eliminating a shuffle
    // job — so the in-plan mask may cost at most one extra job, never
    // more
    assert(given <= hinted + 1,
      s"in-plan mask must cost at most one job over hint+count: given=$given hinted=$hinted")
  }

  test("round-9 facades match their gated queries") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    def q(name: String) = SparkEntry.queries(name)(spark, sf)
    assert(Graft.scriptProfile(docs).collect().toSet ==
      q("t17_script_profile").collect().toSet)
    assert(Graft.spanCorruptionMasks(docs).collect().toSet ==
      q("q54_span_corruption").collect().toSet)
    assert(Graft.mipsTopK(emb).collect().toSet ==
      q("s7_mips").collect().toSet)
    val ev = Tables.events(spark, sf).select(col("user_id"), col("event_id"),
      expr("ts_ns div 1000").as("ts_us"),
      round(col("value") * 100).cast("bigint").as("c"))
    assert(Graft.rollingMedian(ev, "user_id", "event_id", "ts_us", "c")
      .collect().toSet == q("ts10_rolling_median").collect().toSet)
    assert(Graft.autocorrelation(ev, "user_id", "event_id", "ts_us", "c")
      .collect().toSet == q("ts11_autocorr").collect().toSet)
    val zin = Tables.events(spark, sf).select(col("event_id"),
      expr("ts_ns div 1000").as("ts_us"),
      graft.functions.XHash.hash60(concat(lit("z:"),
        col("user_id").cast("string"), lit("/"), col("event_type")))
        .as("series_h"))
    assert(Graft.zorderKeys(zin, "event_id", "ts_us", "series_h")
      .collect().toSet == q("q52_zorder_layout").collect().toSet)
    // the registry queries above keep their pins until the harness's
    // clearCache(); facade calls must leave nothing behind
    spark.catalog.clearCache()
    val pairs = Graft.nearDupPairs(docs).select(col("doc_a"), col("doc_b"))
    val viaFacade = Graft.labelCommunities(pairs).collect().toSet
    // facade cache contract: nothing left pinned behind the call
    assert(spark.sharedState.cacheManager.isEmpty)
    val viaQuery = q("p3_label_prop")
    assert(viaFacade == viaQuery.collect().toSet)
    viaQuery.unpersist()
    spark.catalog.clearCache()
  }
}
