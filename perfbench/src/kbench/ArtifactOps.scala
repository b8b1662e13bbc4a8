package kbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.{Graft, Tables}

/** The library's write path, in the same session and on the same
  * operators and settings as the query mix: small commits beside reads.
  * It runs after the query passes of a traced query_mix run only: one
  * round costs ~25 s on 4 cores, too much for an end-to-end workload of
  * its own within a run's budget, so its layers are measured but no
  * end-to-end metric depends on it.
  *
  * Set-up builds a dedup artifact, an IVF-PQ index and a published corpus
  * from a seeded corpus. The round then calls, in order: `Graft.ingestAll`
  * on a crawl batch (half near-duplicate rewrites of corpus docs, half
  * novel, fresh ids), `dedupServeNearDups` with planted near-duplicate
  * probes, `annIndexServe` with perturbed corpus vectors, `takedownAll` on
  * ids mixing corpus and just-ingested docs, and folds the deltas
  * (`compactDedupIndex`, `compactAnnIndex`). It ends, off the clock, with
  * `ingestStatus` and `takedownStatus`, which must show convergence;
  * every planted probe must find its twin. */
final class ArtifactOps(ctx: Ctx) {
  import ArtifactOps._
  private val spark = ctx.spark
  private val base = ctx.work.resolve("artifacts")
  private val input = base.resolve("input").toString
  private val dedup = Seq(base.resolve("dedup").toString)
  private val ann = Seq(base.resolve("ann").toString)
  private val corpus = Seq(base.resolve("corpus").toString)
  private val rnd = new scala.util.Random(ctx.seed)

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def swapWords(text: String, n: Int): String = {
    val w = text.split(' ')
    (0 until n).foreach { _ =>
      val i = rnd.nextInt(w.length)
      w(i) = Corpus.Vocab.filterNot(_ == w(i))(rnd.nextInt(Corpus.Vocab.length - 1))
    }
    w.mkString(" ")
  }

  private def unitNoise(v: Array[Float], sd: Double): Seq[Float] = {
    val x = v.map(a => a + (rnd.nextGaussian() * sd).toFloat)
    val n = math.sqrt(x.map(a => a.toDouble * a).sum).toFloat
    x.map(_ / n).toSeq
  }

  /** Set-up and one traced round; returns the layer metrics. */
  def run(): Seq[(String, Double)] = {
    Corpus.documents(spark, input, ctx.seed, Docs)
    Corpus.embeddings(spark, input, ctx.seed, Docs)
    val d = Tables.documents(spark, input).select("doc_id", "text")
    val emb = Tables.embeddings(spark, input).select("vec_id", "embedding")
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    Graft.buildDedupIndex(d, dedup.head)
    Graft.buildAnnIndex(emb, ann.head, "ivfpq", dim = Corpus.Dim)
    d.write.mode("overwrite").parquet(s"${corpus.head}/batch-seed")

    // inputs: sources are docs of 20+ words; ids are fresh. Probes copy a
    // 60+ word doc with one word changed (Jaccard ~0.9): the MinHash bands
    // then find the twin with near certainty, where at ~0.7 they miss one
    // probe in ~100, as the approximate index is allowed to.
    val docs = d.collect().map(r => r.getLong(0) -> r.getString(1)).toVector
    val pool = docs.filter(_._2.count(_ == ' ') >= 20)
    val long = docs.filter(_._2.count(_ == ' ') >= 60)
    def pick() = pool(rnd.nextInt(pool.length))
    val crawl = (0 until BatchDocs).map { i =>
      if (i % 2 == 0) {
        val (src, text) = pick()
        Row(FirstId + i, swapWords(text, 2), unitNoise(vecs(src), 0.01))
      } else Row(FirstId + i, Seq.fill(20 + rnd.nextInt(60))(
        Corpus.Vocab(rnd.nextInt(Corpus.Vocab.length))).mkString(" "),
        unitNoise(Array.fill(Corpus.Dim)(rnd.nextGaussian().toFloat), 0.0))
    }
    val probeSrc = Vector.fill(Probes)(long(rnd.nextInt(long.length)))
    val probeIds = probeSrc.indices.map(FirstId + 5000 + _)
    val probes = frame(probeSrc.zip(probeIds).map { case ((_, t), id) =>
      Row(id, swapWords(t, 1)) }, DocSchema)
    val annQ = frame(probeSrc.zipWithIndex.map { case ((src, _), i) =>
      Row(FirstId + 6000 + i, unitNoise(vecs(src), 0.01)) }, QuerySchema)
    val downs = (Seq.fill(Takedowns / 2)(pick()._1) ++
      Seq.fill(Takedowns / 2)(FirstId + 2 * rnd.nextInt(BatchDocs / 2))).distinct

    val fs0 = Probe.fsCounters()
    val (ing, _) = ctx.call("artifact.ingest") {
      Graft.ingestAll(spark, frame(crawl, CrawlSchema), 1L, dedup, ann, corpus)
    }
    val (serveDup, pairs) = ctx.call("artifact.serve.dedup") {
      Graft.dedupServeNearDups(spark, dedup.head, probes).select("inc_id", "corpus_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    }
    pairs.foreach(found => probeSrc.zip(probeIds).foreach { case ((src, _), id) =>
      serveDup.check(found(id -> src), s"probe $id missed its twin $src") })
    val (serveAnn, hits) = ctx.call("artifact.serve.ann") {
      Graft.annIndexServe(spark, ann.head, annQ, emb).select("query_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    }
    hits.foreach(h => serveAnn.check(h.size == Probes && h.values.forall(_ == 3),
      s"ann serve answered ${h.size} of $Probes queries: $h"))
    val (down, _) = ctx.call("artifact.takedown") {
      Graft.takedownAll(spark, frame(downs.map(Row(_)), IdSchema), dedup, ann, corpus)
    }
    val folds = Seq(ctx.call("artifact.fold.dedup")(Graft.compactDedupIndex(spark, dedup.head))._1,
      ctx.call("artifact.fold.ann")(Graft.compactAnnIndex(spark, ann.head))._1)
    val fs1 = Probe.fsCounters()

    // convergence, off the clock
    val live = crawl.map(_.getLong(0)).filterNot(downs.toSet)
    val (status, reports) = ctx.call("artifact.status") {
      (Graft.ingestStatus(spark, frame(live.map(Row(_)), IdSchema), dedup, ann, corpus).collect(),
        Graft.takedownStatus(spark, frame(downs.map(Row(_)), IdSchema), dedup, ann, corpus).collect())
    }
    reports.foreach { case (ingRows, downRows) =>
      def expect(r: Row, field: String, want: Long): Unit = status.check(
        r.getAs[Long](field) == want,
        s"${r.getAs[String]("artifact")}: $field ${r.getAs[Long](field)}, expected $want")
      ingRows.foreach(expect(_, "n_live", live.length.toLong))
      downRows.foreach(expect(_, "n_visible", 0L))
    }

    val si = ctx.sparkOf(ing)
    val sd = ctx.sparkOf(down)
    val artifactFiles = Files.list(base).filterNot(_.startsWith("input/"))
    Seq(
      "artifact.ingest_p50_s" -> ing.secs,
      "artifact.serve_p50_s" -> Probe.median(Seq(serveDup.secs, serveAnn.secs)),
      "artifact.takedown_p50_s" -> down.secs,
      "artifact.ingest.spark_s" -> si.busySecs,
      "artifact.ingest.driver_s" -> (ing.secs - si.busySecs),
      "artifact.ingest.jobs" -> si.jobs.toDouble,
      "artifact.takedown.spark_s" -> sd.busySecs,
      "artifact.takedown.driver_s" -> (down.secs - sd.busySecs),
      "artifact.serve.spark_s" -> (ctx.sparkOf(serveDup).busySecs + ctx.sparkOf(serveAnn).busySecs),
      "artifact.fold_p50_s" -> Probe.median(folds.map(_.secs)),
      "artifact.status_p50_s" -> status.secs,
      "artifact.fs.files" -> artifactFiles.length.toDouble,
      "artifact.fs.bytes_written" -> (fs1(1) - fs0(1)).toDouble,
      "artifact.deltas_live" -> artifactFiles.map(_.split('/').dropRight(1).mkString("/"))
        .distinct.count(_.split('/').exists(_.startsWith("delta"))).toDouble,
      "artifact.disk_mb" -> artifactFiles.map(f => java.nio.file.Files.size(base.resolve(f))).sum / 1048576.0)
  }
}

object ArtifactOps {
  val Docs = 1000
  val BatchDocs = 100
  val Probes = 8
  val Takedowns = 8
  val FirstId = 1000000000L
  val CrawlSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))
  val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  val QuerySchema = StructType(Seq(StructField("query_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  val IdSchema = StructType(Seq(StructField("id", LongType)))
}
