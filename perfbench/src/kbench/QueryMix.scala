package kbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkEntry

/** The library's read path: registry queries (`Families`) over a
  * synthetic corpus (Corpus), each run once per pass into the noop sink
  * (every output column evaluated, nothing collected) with `clearCache`
  * off the clock between queries, as `graft.Bench` does. The corpus is
  * fixed; the seed drives each pass's query order (a seeded shuffle).
  *
  * Outputs are checked on the warm-up pass, which computes each query's
  * row count and order-independent digest (evaluating every column, as
  * the noop sink does) and compares them with `query_digests.jsonl`,
  * recorded from this corpus on the seed tree. Every run lists what it
  * computed in its fixture facts, which is what that file holds. Queries
  * whose digest is not bit-stable across runs are recorded with
  * `rows_only` and get the row check only. */
final class QueryMix(ctx: Ctx) extends Workload {
  import QueryMix._
  private val spark = ctx.spark
  private val dir = ctx.work.resolve("corpus").toString
  private val traced = mutable.Map[String, mutable.ArrayBuffer[(Double, SparkSums)]]()
  private var passes = 0
  private val walls = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def generate(): Unit = {
    Corpus.documents(spark, dir, CorpusSeed, Docs)
    Corpus.lineitem(spark, dir, CorpusSeed, Lineitems, orders = 15000, parts = 2000,
      suppliers = 100)
  }

  def warmUp(): Seq[(String, Any)] = {
    val expected = readDigests(DigestFile)
    val seen = Families.flatMap(_._2).map { name =>
      val (op, d) = ctx.call(s"query.$name") {
        val df = SparkEntry.queries(name)(spark, dir)
        digest(if (ctx.plant == "drop_row" && name == "q1_pricing_summary")
          df.limit(1) else df)
      }
      spark.catalog.clearCache()
      d.foreach { got =>
        expected.get(name) match {
          case None => op.fail("no recorded digest")
          case Some(want) =>
            op.check(got.rows == want.rows, s"${got.rows} rows, recorded ${want.rows}")
            op.check(want.rowsOnly || got.hash == want.hash,
              s"digest ${got.hash}, recorded ${want.hash}")
        }
      }
      name -> d
    }
    val rows = Seq("documents", "lineitem").map(t =>
      t -> graft.Tables.parquetRowCount(spark, s"$dir/$t.parquet"))
    Seq("queries" -> seen.length,
      "digests" -> seen.collect { case (n, Some(d)) =>
        n -> Map("rows" -> d.rows, "digest" -> d.hash) }.toMap,
      "corpus_bytes" -> Files.bytes(ctx.work.resolve("corpus"))) ++ rows
  }

  /** Single queries jitter up to 2x between passes and get faster over
    * the first ones; each counts with its fastest of five. */
  def minRounds: Int = 5

  def timed: Map[String, Seq[Double]] = walls.view.mapValues(_.toSeq).toMap

  def round(tr: Boolean): Double = {
    passes += 1
    val order = new scala.util.Random(ctx.seed * 7919L + passes)
      .shuffle(Families.flatMap(_._2))
    order.map { name =>
      val (op, _) = ctx.call(s"query.$name") {
        SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
      }
      spark.catalog.clearCache()
      if (tr) traced.getOrElseUpdate(name, mutable.ArrayBuffer()) += op.secs -> ctx.sparkOf(op)
      else walls.getOrElseUpdate(name, mutable.ArrayBuffer()) += op.secs
      op.secs
    }.sum
  }

  /** The artifact write path, traced runs only (see ArtifactOps). */
  private var artifacts: Seq[(String, Double)] = Nil
  override def finish(): Unit = artifacts = new ArtifactOps(ctx).run()

  def layers: Seq[(String, Double)] = {
    def med(name: String): Double = Probe.median(traced(name).map(_._1).toSeq)
    val perQuery = Families.flatMap(_._2).flatMap { n =>
      val s = traced(n).head._2
      Seq(s"query.${n}_s" -> med(n), s"query.$n.tasks" -> s.tasks.toDouble,
        s"query.$n.shuffle_bytes" -> s.shuffleWrite.toDouble)
    }
    val perFamily = Families.flatMap { case (f, qs) =>
      val sums = qs.map(q => traced(q).head._2)
      Seq(s"query.${f}_s" -> qs.map(med).sum,
        s"query.$f.skew" -> sums.reduce((a, b) => a.copy(taskMs = a.taskMs ++ b.taskMs)).skew,
        s"query.$f.spill_bytes" -> sums.map(_.spill).sum.toDouble)
    }
    perQuery ++ perFamily ++ artifacts
  }
}

object QueryMix {
  val CorpusSeed = 42L
  val Docs = 1000
  val Lineitems = 30000
  val DigestFile = "perfbench/query_digests.jsonl"
  /** One light query per family. The full 22-query mix takes ~70 s per
    * warm pass on 4 cores (p1_pagerank alone ~30 s), which does not fit a
    * run; these four cost ~4 s per pass. The graph (d10_keep_best) and
    * similarity (s10_ivfpq) families, ~4.5 s a query each, are left to
    * the traced runs' artifact calls, which solve dedup components and
    * serve from an IVF-PQ index. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("d3_jaccard_pairs"),
    "text" -> Seq("t12_ngram_lm"),
    "pipeline" -> Seq("d13_bloom_decontam"),
    "relational" -> Seq("q1_pricing_summary"))

  final case class Digest(rows: Long, hash: String, rowsOnly: Boolean = false)

  /** Row count plus the sums of the two 32-bit halves of each row's
    * xxhash64 over every column: independent of row order. */
  def digest(df: DataFrame): Digest = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val r = df.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    Digest(r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%x")
  }

  /** One JSON object per line: {"query", "rows", "digest", "rows_only"?}. */
  def readDigests(path: String): Map[String, Digest] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.trim.nonEmpty).map { l =>
      val n = mapper.readTree(l)
      n.get("query").asText() -> Digest(n.get("rows").asLong(), n.get("digest").asText(),
        n.path("rows_only").asBoolean(false))
    }.toMap
  }
}
