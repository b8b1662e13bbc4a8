package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders

/** Input row for [[CountMinAgg]]: the d per-row bucket indices of one
  * item, precomputed as a codegen'd column (md5 runs in Tungsten, not in
  * the aggregator). */
final case class CmBuckets(b: Seq[Int])

/** Input row for the weighted form: the d bucket indices plus the
  * increment — the CM matrix is a LINEAR sketch, so adding `n` once is
  * identical to adding 1 n times, and a consumer that already holds
  * exact (item, count) pairs (q51's exact leg) can sketch VOCAB-sized
  * input instead of occurrence-sized (r16 optimization). */
final case class CmWeighted(b: Seq[Int], n: Long)

/** Aggregation buffer / output: the d×w counter matrix, row-major.
  * Array-backed so reduce/merge mutate IN PLACE (the Aggregator
  * contract allows returning a mutated buffer): the old Seq buffer
  * paid two full-matrix copies (toArray + toVector) per input row —
  * d·w = 128 longs copied twice for every token occurrence (r16).
  * equals/hashCode are STRUCTURAL (Arrays-based, r16 ADVICE): a
  * case class over an Array otherwise compares by reference, a
  * footgun for any test or dedup comparing sketches. */
final case class CmSketch(cells: Array[Long]) {
  override def equals(o: Any): Boolean = o match {
    case CmSketch(c) => java.util.Arrays.equals(cells, c)
    case _ => false
  }
  override def hashCode(): Int = java.util.Arrays.hashCode(cells)
}

/** Count-Min sketch (Cormode & Muthukrishnan 2005) as a typed
  * `Aggregator` — the point-frequency sibling of the cardinality (q19
  * HLL), quantile (q34 t-digest) and heavy-hitter (q50 Misra–Gries)
  * sketches (extension surface; the reference's one query has no
  * sketches — `kompactor.ts:107`).
  *
  * State is a fixed d×w int64 matrix (d rows of w counters): each item
  * increments one counter per row (`cells[r*w + bucket_r(item)] += 1`);
  * `est(item) = min_r cells[r*w + bucket_r(item)]`. MERGE is elementwise
  * sum — exactly the linear-sketch property that makes it
  * partial-aggregatable: every input partition reduces to one d×w
  * matrix before the exchange, so sketching 100 TB of tokens shuffles
  * `partitions × d×w` longs instead of a full token group-by, and
  * sketches from disjoint corpora / streaming micro-batches combine
  * losslessly.
  *
  * Guarantees: est ≥ true (never undercounts) and
  * `est ≤ true + e/w · N` with prob ≥ 1 − (1/2)^d over hash choice.
  *
  * DETERMINISM — unlike Misra–Gries (whose counter content is
  * arrival-order-dependent, so q50 can only gate its guarantee
  * booleans), the CM matrix is an ORDER-INDEPENDENT sum of per-item
  * increments with [[XHash]]-derived buckets, so the q51 oracle
  * reproduces the ESTIMATES exactly in SQL: `est(t) = min_r Σ
  * count(t') over t' colliding with t in row r` — no hand-waving, the
  * estimate itself is hash-gated. */
final class CountMinAgg(d: Int, w: Int)
    extends Aggregator[CmBuckets, CmSketch, CmSketch] {
  require(d >= 1 && w >= 1, s"count-min needs d,w >= 1, got d=$d w=$w")

  override def zero: CmSketch = CmSketch(new Array[Long](d * w))

  override def reduce(buf: CmSketch, in: CmBuckets): CmSketch = {
    val a = buf.cells
    var r = 0
    while (r < d) { a(r * w + in.b(r)) += 1L; r += 1 }
    buf
  }

  override def merge(x: CmSketch, y: CmSketch): CmSketch = {
    val a = x.cells
    val b = y.cells
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    x
  }

  override def finish(b: CmSketch): CmSketch = b

  override def bufferEncoder = Encoders.product[CmSketch]
  override def outputEncoder = Encoders.product[CmSketch]
}

/** The weighted sibling: each input adds `n` to one counter per row.
  * Same matrix as n unweighted increments (linearity), same buffer. */
final class CountMinWeightedAgg(d: Int, w: Int)
    extends Aggregator[CmWeighted, CmSketch, CmSketch] {
  require(d >= 1 && w >= 1, s"count-min needs d,w >= 1, got d=$d w=$w")
  private val base = new CountMinAgg(d, w)

  override def zero: CmSketch = base.zero

  override def reduce(buf: CmSketch, in: CmWeighted): CmSketch = {
    val a = buf.cells
    var r = 0
    while (r < d) { a(r * w + in.b(r)) += in.n; r += 1 }
    buf
  }

  override def merge(x: CmSketch, y: CmSketch): CmSketch = base.merge(x, y)
  override def finish(b: CmSketch): CmSketch = b
  override def bufferEncoder = Encoders.product[CmSketch]
  override def outputEncoder = Encoders.product[CmSketch]
}

object CountMinAgg {
  /** Column-callable form: `countMin(d, w)(bucketsFor(d, w)(col))`. */
  def countMin(d: Int, w: Int): UserDefinedFunction =
    udaf(new CountMinAgg(d, w), Encoders.product[CmBuckets])

  /** Weighted form: `countMinWeighted(d, w)(bucketsFor(d, w)(col), n)` —
    * for inputs that are already exact (item, count) pairs. */
  def countMinWeighted(d: Int, w: Int): UserDefinedFunction =
    udaf(new CountMinWeightedAgg(d, w), Encoders.product[CmWeighted])

  /** The d bucket indices of an item, as one array column — row r's
    * bucket is the cross-engine [[XHash.hash60]] of `item || ":r"`,
    * mod w, so the oracle recomputes the identical matrix. */
  def bucketsFor(d: Int, w: Int)(item: Column): Column =
    array((0 until d).map(r =>
      (XHash.hash60(concat(item, lit(s":$r"))) % w).cast("int")): _*)

  /** Point estimate from a sketch column: `min_r cells[r*w + b_r]`.
    * (`element_at` is 1-based.) */
  def estimate(d: Int, w: Int)(cells: Column, item: Column): Column =
    least((0 until d).map(r =>
      element_at(cells,
        (lit(r * w) + XHash.hash60(concat(item, lit(s":$r"))) % w)
          .cast("int") + lit(1))): _*)

  /** Oracle twin of [[bucketsFor]] for row r, over a SQL expression. */
  def bucketSql(r: Int, w: Int, item: String): String =
    s"(${XHash.hash60Sql(s"($item || ':$r')")} % $w)"
}
