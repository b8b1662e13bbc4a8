package graft.compact

/** WAL-sequence extraction from parquet file names.
  *
  * Raw WAL files are `<10-digit-seq>.parquet`; already-compacted files are
  * `c_<firstSeq>_<lastSeq>_h<HH>.parquet` (reference extractor with its
  * two-regex fallback: kompactor.ts:86-96; compacted naming :234-237).
  * Accepting compacted names makes re-compaction of a partially-compacted
  * hour well-defined (idempotence) — the reference only achieves this
  * accidentally.
  */
object WalSeq {
  private val Raw = """(\d{10})\.parquet$""".r.unanchored
  // optional _pNN: oversized buckets split into time-disjoint parts
  // (Compactor) which must stay re-compactable when late WAL files land
  private val Compacted = """c_(\d{10})_\d+_[gh]\d+(?:_p\d+)?\.parquet$""".r.unanchored

  def extract(fileName: String): Option[Long] = fileName match {
    case Raw(seq) => Some(seq.toLong)
    case Compacted(seq) => Some(seq.toLong)
    case _ => None
  }

  def extractOrThrow(fileName: String): Long =
    extract(fileName).getOrElse(
      throw new IllegalArgumentException(
        s"cannot extract WAL sequence from file name: $fileName"))
}

/** One compaction work unit: ≥2 deduplicated files of one (db, table,
  * date, window) bucket, WAL-ordered, with the derived output location. */
final case class Bucket(
    host: String,
    db: String,
    table: String,
    date: String,
    hourStart: Int,
    files: Vector[FileMeta],
    sources: Set[String]) {

  def firstWal: Long = WalSeq.extractOrThrow(fileName(files.head.path))
  def lastWal: Long = WalSeq.extractOrThrow(fileName(files.last.path))
  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** `<host>/dbs/<db>/<table>/<date>/<HH>-00/c_<first>_<last>_h<HH>.parquet`
    * (naming: kompactor.ts:224-237). */
  def outputDir: String =
    f"$host/dbs/$db/$table/$date/$hourStart%02d-00"
  def outputName: String =
    f"c_${firstWal}%010d_${lastWal}%010d_h$hourStart%02d.parquet"
  def outputPath: String = s"$outputDir/$outputName"
}

/** Pure planning pipeline: snapshot metadata → compaction buckets
  * (dataflow operators B3-B9 of SURVEY.md §2). No I/O — unit-testable and
  * cheap enough to run on the driver even for millions of file entries; at
  * true catalog scale the same steps are expressible on a
  * `Dataset[FileMeta]` (groupBy + collect_list) without changing
  * semantics.
  */
object Planner {

  /** `<host>/dbs/<db>/<table>/<YYYY-MM-DD>/<HH-MM>/<file>.parquet` — the
    * 7-component path grammar (kompactor.ts:63-80). */
  private val PathRx =
    """^([^/]+)/dbs/([^/]+)/([^/]+)/(\d{4}-\d{2}-\d{2})/(\d{2})-\d{2}/([^/]+)$""".r

  final case class FileRecord(
      host: String, db: String, table: String, date: String, hour: Int,
      meta: FileMeta)

  /** Parse + validate a metadata path; files whose paths do not match the
    * grammar are skipped (reference behavior: silent skip at
    * kompactor.ts:193-197 — we surface them to the caller instead). */
  def parsePath(meta: FileMeta): Either[String, FileRecord] = meta.path match {
    case PathRx(host, db, table, date, hour, _) =>
      Right(FileRecord(host, db, table, date, hour.toInt, meta))
    case _ => Left(meta.path)
  }

  /** Flatten snapshots → bucket by (db, table, date, hour-window) → dedup
    * by path → drop singletons → WAL-sort.
    *
    * Divergence from the reference, by design: the reference buckets by
    * hour ONLY (kompactor.ts:197), merging files of different dbs/tables
    * into one output — a schema-mixing correctness bug for any multi-table
    * host (SURVEY.md §7.4 bug 2). We key by the full (db, table, date,
    * window) tuple.
    *
    * `windowHours` generalizes the hourly bucket to the reference's
    * declared-but-dead `timeWindowNanos` daily config (kompactor.ts:41):
    * windowHours=1 reproduces hourly buckets; 24 gives daily compaction.
    */
  def plan(
      snapshots: Seq[SnapshotMeta],
      windowHours: Int = 1): (Vector[Bucket], Vector[String]) = {
    require(windowHours >= 1 && 24 % windowHours == 0,
      s"windowHours must divide 24, got $windowHours")
    val parsed = snapshots.flatMap(_.allFiles).map(parsePath)
    val skipped = parsed.collect { case Left(p) => p }.toVector
    val records = parsed.collect { case Right(r) => r }

    val buckets = records
      .groupBy(r => (r.host, r.db, r.table, r.date, r.hour / windowHours * windowHours))
      .toVector
      .map { case ((host, db, table, date, hourStart), rs) =>
        // dedup: the same file referenced from multiple snapshots must
        // merge once (reference: inner Map keyed by path, kompactor.ts:202)
        val unique = dedupByPath(rs.map(_.meta))
        val sorted = unique.sortBy(f =>
          (WalSeq.extractOrThrow(f.path.substring(f.path.lastIndexOf('/') + 1)),
            f.path))
        Bucket(host, db, table, date, hourStart, sorted,
          sources = sorted.map(_.path).toSet)
      }
      .filter(_.files.length > 1) // singletons: nothing to compact (kompactor.ts:213)
      .sortBy(b => (b.host, b.db, b.table, b.date, b.hourStart))
    (buckets, skipped.distinct)
  }

  /** One planned work unit from the distributed path — [[Bucket]] minus
    * the derived `sources` set (Spark's product encoder handles Vector,
    * and the set is recomputed in O(files) on conversion). */
  final case class PlannedBucket(host: String, db: String, table: String,
      date: String, hourStart: Int, files: Vector[FileMeta]) {
    def toBucket: Bucket =
      Bucket(host, db, table, date, hourStart, files, files.map(_.path).toSet)
  }

  /** Dataset-expressible planning for million-file catalogs: identical
    * semantics and bucket order to [[plan]], but flatten → parse → group →
    * dedup → WAL-sort all run on EXECUTORS, and the driver only receives
    * (a) unparseable paths and (b) ACTIONABLE buckets — ≥2 files. In
    * steady state the overwhelming majority of catalog entries are
    * already-compacted singletons, so the driver's retained planning state
    * shrinks from O(catalog) to O(work): consume the result with
    * `toLocalIterator` to hold one bucket's file list at a time.
    * Equivalence with [[plan]] is property-tested on fuzzed snapshot
    * trees (PlannerSpec). */
  def planDistributed(spark: org.apache.spark.sql.SparkSession,
      files: org.apache.spark.sql.Dataset[FileMeta],
      windowHours: Int = 1)
      : (org.apache.spark.sql.Dataset[PlannedBucket],
         org.apache.spark.sql.Dataset[String]) = {
    require(windowHours >= 1 && 24 % windowHours == 0,
      s"windowHours must divide 24, got $windowHours")
    import spark.implicits._
    val skipped = files.filter((f: FileMeta) => parsePath(f).isLeft)
      .map(_.path).distinct()
    val records = files.flatMap((f: FileMeta) => parsePath(f).toOption)
    val buckets = records
      .groupByKey(r =>
        (r.host, r.db, r.table, r.date, r.hour / windowHours * windowHours))
      .mapGroups { (key, rs) =>
        val (host, db, table, date, hourStart) = key
        val unique = dedupByPath(rs.map(_.meta).toVector)
        val sorted = unique.sortBy(f =>
          (WalSeq.extractOrThrow(f.path.substring(f.path.lastIndexOf('/') + 1)),
            f.path))
        PlannedBucket(host, db, table, date, hourStart, sorted)
      }
      .filter((b: PlannedBucket) => b.files.length > 1)
      .orderBy($"host", $"db", $"table", $"date", $"hourStart")
    (buckets, skipped)
  }

  /** Deterministic survivor when one path is referenced with DIFFERING
    * metadata across snapshots: minimum under a total ordering over every
    * FileMeta field. Both [[plan]] (snapshot-order input) and
    * [[planDistributed]] (Spark's nondeterministic group-iterator order)
    * route through this, so the surviving copy — and therefore the
    * bucket's file list, whose head gives the output its id and
    * chunk_time (`Compactor.merge`) — is identical between the two paths
    * and across runs (r4 ADVICE #3: distinctBy kept whichever
    * copy arrived first, which differed per path and per run). */
  private def dedupByPath(ms: Iterable[FileMeta]): Vector[FileMeta] =
    ms.groupBy(_.path).valuesIterator.map(_.minBy(m =>
      (m.id, m.size_bytes, m.row_count, m.chunk_time, m.min_time, m.max_time)))
      .toVector
}
