package kbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Synthetic stand-ins for the driver corpus tables the benchmark reads
  * (FIXTURES.md §2): the same column names and types, one parquet
  * directory per table under `dir`, so `SparkEntry.queries(name)(spark,
  * dir)` and `graft.Tables` read them unchanged.
  *
  * Every value is a hash of (seed, tag, row, position), never `rand()`,
  * so a seed yields the same rows whatever the partitioning. Documents are
  * word sequences over the corpus's 30-word vocabulary; one in ten is a
  * near-duplicate rewrite of an earlier document, so the dedup queries
  * find pairs. Embeddings are 64 unit-length floats around ten label
  * centres. */
object Corpus {
  val Vocab = Seq("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table",
    "data", "agg", "value", "key", "stream", "window", "a", "spark", "part",
    "group", "big", "sort", "query", "fast", "the")
  val Dim = 64

  private val id = col("id")
  /** Uniform integer in [0, n) from the hash of the columns. */
  private def u(n: Long, cs: Column*): Column = pmod(xxhash64(cs: _*), lit(n))
  /** Uniform double in [0, 1). */
  private def unit(cs: Column*): Column = u(1000003L, cs: _*) / lit(1000003.0)

  private def ids(s: SparkSession, n: Int): DataFrame = s.range(0, n, 1, 4).toDF()
  private def save(dir: String, name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** `documents`: one in ten rewrites an earlier doc, swapping ~1 word in 10. */
  def documents(s: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val sd = lit(seed)
    val vocab = array(Vocab.map(lit): _*)
    def word(cs: Column*): Column =
      element_at(vocab, (u(Vocab.length, sd +: lit("w") +: cs: _*) + 1).cast("int"))
    val src = when(id % 10 === 9 && id >= 60, id - 1 - u(50, sd, lit("src"), id))
      .otherwise(id)
    val srcWords = (u(90, sd, lit("n"), src) + 10).cast("int")
    val text = array_join(transform(sequence(lit(0), srcWords - 1), j =>
      when(src =!= id && u(10, sd, lit("swap"), id, j) === 0, word(id, j))
        .otherwise(word(src, j))), " ")
    val langs = array(Seq("en", "en", "en", "zh", "de", "es", "fr").map(lit): _*)
    save(dir, "documents", ids(s, n).select(id.as("doc_id"), text.as("text"),
      element_at(langs, (u(7, sd, lit("lang"), id) + 1).cast("int")).as("lang"),
      concat(lit("src"), u(20, sd, lit("source"), id).cast("string")).as("source"),
      length(text).cast("bigint").as("n_chars")))
  }

  /** `embeddings`: label centre + noise, normalized. */
  def embeddings(s: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    val sd = lit(seed)
    val label = u(10, sd, lit("label"), id).cast("int")
    val raw = transform(sequence(lit(0), lit(Dim - 1)), d =>
      (unit(sd, lit("c"), label, d) - 0.5) + (unit(sd, lit("e"), id, d) - 0.5) * 0.6)
    save(dir, "embeddings", ids(s, n)
      .select(id.as("vec_id"), raw.as("v"), label.as("label"))
      .withColumn("norm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
      .select(col("vec_id"),
        transform(col("v"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label")))
  }

  /** `lineitem`, with keys drawn from `orders`, `parts` and `suppliers`
    * key ranges (those tables themselves are not written). */
  def lineitem(s: SparkSession, dir: String, seed: Long, n: Int, orders: Int,
      parts: Int, suppliers: Int): Unit = {
    val sd = lit(seed)
    val epoch = lit(788918400L) // 1995-01-01T00:00:00Z
    val qty = (u(50, sd, lit("lq"), id) + 1).cast("double")
    save(dir, "lineitem", ids(s, n).select(
      u(orders, sd, lit("lo"), id).as("l_orderkey"),
      u(parts, sd, lit("lp"), id).as("l_partkey"),
      u(suppliers, sd, lit("ls"), id).as("l_suppkey"),
      (u(7, sd, lit("ln"), id) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + unit(sd, lit("le"), id) * 1200), 2).as("l_extendedprice"),
      (u(11, sd, lit("ld"), id) / 100.0).as("l_discount"),
      (u(9, sd, lit("lt"), id) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(3, sd, lit("lr"), id) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (u(2, sd, lit("lst"), id) + 1).cast("int"))
        .as("l_linestatus"),
      timestamp_seconds(epoch + u(2498, sd, lit("lsd"), id) * 86400)
        .cast(TimestampNTZType).as("l_shipdate")))
  }
}
