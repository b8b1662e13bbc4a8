package graft.compact

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, SparkSession, graftbridge}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import java.nio.ByteOrder
import java.util.concurrent.ForkJoinPool
import scala.collection.parallel.CollectionConverters._
import scala.collection.parallel.ForkJoinTaskSupport

/** Merge-and-write executor: the engine's equivalent of the reference's
  * single data-moving query — `SELECT * FROM read_parquet([...]) ORDER BY
  * time` into one ZSTD parquet file (kompactor.ts:98-114) — plus the
  * size-targeted splitting the reference declares but never runs
  * (maxDesiredFileSizeBytes/splitPercentage, kompactor.ts:38-40,53-57).
  *
  * Physical strategy per bucket (measured on a 123 MB / 4.8M-row fixture
  * against the reference's own engine replaying its exact COPY query):
  *  - `kSort` time ranges, one per ~`sortPartitionBytes` of input →
  *    per-partition sort → k time-disjoint sorted zstd parts written IN
  *    PARALLEL;
  *  - single-file contract → the parts are then byte-concatenated at the
  *    ROW-GROUP level (`ParquetFileReader.appendTo`: no decode, no
  *    re-encode — an I/O-bound driver-side copy). A naive
  *    `coalesce(1).sort.write` serializes scan+sort+compress into one
  *    thread and measured 38× slower than the reference; parallel-parts +
  *    append matches or beats it.
  *  - oversized bucket → skip the concat, keep the parts (`_pNN` names).
  *
  * Buckets are not separate Spark plans: [[mergeAll]] writes a host's
  * buckets that share a read schema with one scan and one job, the
  * one-partition buckets and the range-sorted ones apart, and cuts the
  * scan's partitions itself from the input footers:
  *  - a one-partition bucket is one scan partition, so its write has no
  *    exchange and part `j` is bucket `j`;
  *  - a range-sorted bucket's files are packed into scan partitions of
  *    ~`sortPartitionBytes`, and each row goes to part `base(bucket) +
  *    range(time)` through one pass-through exchange (`repartitionById`).
  *    The ranges are cut at equal row fractions of the inputs' page (or
  *    row-group) time ranges: no sample job, and a re-run writes the same
  *    parts. Their blind spot: pages not in time order (files sorted by
  *    series first) whose rows bunch in time.
  * Each bucket then commits from its own slice of the parts. [[merge]]
  * is the one-bucket case.
  *
  * Parquet dictionary encoding is OFF: on high-cardinality string
  * payloads the dictionary path collapses (85 s vs 4.6 s on the
  * fixture), while zstd over time-sorted rows already captures the
  * repetition dictionaries would.
  */
class Compactor(
    spark: SparkSession,
    fs: FileSystem,
    timeColumn: String = "time",
    maxDesiredFileSizeBytes: Long = 100L << 20, // kompactor.ts:38
    rowGroupTargetBytes: Long = 32L << 20,
    sortPartitionBytes: Long = 16L << 20,
    zorderColumns: Seq[String] = Nil) {
  import Compactor._

  /** 130% of target — above this an output is split (kompactor.ts:53-57,
    * dead code in the reference, live here; 30 % is
    * percentageMaxFileSize, kompactor.ts:39). */
  def largeCutoffBytes: Long =
    maxDesiredFileSizeBytes + maxDesiredFileSizeBytes * 30 / 100

  /** Merge `bucket`'s files into 1..n time-sorted ZSTD parquet files under
    * `rootDir`: the one-bucket case of [[mergeAll]]. Returns the new
    * FileMeta entries (real output sizes + footer-exact row counts and
    * time bounds — never input-sum estimates; SURVEY.md §7.4 bug 3).
    * Like [[mergeAll]], at most one call per host may run at a time. */
  def merge(rootDir: Path, bucket: Bucket): Vector[FileMeta] =
    mergeAll(rootDir, Vector(bucket)).head._2

  /** Merge every bucket, each sized and committed exactly as [[merge]]
    * would, with one Spark write per (host, read schema, range-sorted or
    * not) into the host's staging directory. A write pays the per-bucket
    * costs (planning, write command, commit setup, job submission) once,
    * and a task carries only its own scan partition, so writes are not
    * capped. The footers come first: they decide the writes.
    *
    * `parallelism` bounds the driver threads that read footers, run
    * writes and commit buckets. The staging directory is per host and is
    * removed whole before and after the writes, so at most one call per
    * host may run at a time. Returns each bucket with its new FileMeta
    * entries, in input order. */
  def mergeAll(rootDir: Path, buckets: Seq[Bucket], parallelism: Int = 1)
      : Vector[(Bucket, Vector[FileMeta])] = {
    val pool =
      if (parallelism > 1 && buckets.length > 1) Some(new ForkJoinPool(parallelism))
      else None
    def each[A, B](xs: Vector[A])(f: A => B): Vector[B] = pool match {
      case Some(p) if xs.length > 1 =>
        val par = xs.par
        par.tasksupport = new ForkJoinTaskSupport(p)
        par.map(f).seq
      case _ => xs.map(f)
    }
    val bs = buckets.toVector
    def stagingOf(host: String) = new Path(rootDir, s"$host/$StagingDir")
    // one staging directory per host, removed before the writes and after
    // the last commit: a crash leaves at most that one directory, which
    // the next run removes before it writes
    val staging = bs.map(b => stagingOf(b.host)).distinct
    try {
      staging.foreach(fs.delete(_, true))
      val members = each(bs.indices.toVector)(i => new Member(i, bs(i), rootDir))
      val writes = members.groupBy(m => (m.bucket.host, m.schema, m.kSort > 1))
        .values.toVector.sortBy(_.head.idx)
      val metas = each(writes.zipWithIndex) { case (group, w) =>
        val parts = writeGroup(group, new Path(stagingOf(group.head.bucket.host), s"g$w"))
        each(parts) { case (m, files) => m.idx -> commitBucket(rootDir, m, files) }
      }.flatten.toMap
      staging.foreach(fs.delete(_, true))
      bs.indices.toVector.map(i => bs(i) -> metas(i))
    } finally pool.foreach(_.shutdown())
  }

  /** One bucket's merge: its inputs, its `kSort` sort partitions (one per
    * ~`sortPartitionBytes` of input, whatever the output file count), and
    * whether it is `split` into `_pNN` files. */
  private final class Member(val idx: Int, val bucket: Bucket, rootDir: Path) {
    private val totalBytes = bucket.files.map(_.size_bytes).sum
    private val nOut = math.max(1, math.ceil(totalBytes.toDouble / maxDesiredFileSizeBytes).toInt)
    val split: Boolean = totalBytes > largeCutoffBytes && nOut > 1
    val kSort: Int = math.max(if (split) nOut else 1, math.min(
      spark.sparkContext.defaultParallelism,
      math.ceil(totalBytes.toDouble / sortPartitionBytes).toInt))
    // a bucket merged by an older release staged its parts in its own
    // output directory; a crash there left one behind
    Option(fs.globStatus(new Path(rootDir, s"${bucket.outputDir}/.tmp_c_*")))
      .foreach(_.foreach(st => fs.delete(st.getPath, true)))
    val (schema, files) = readInputs(rootDir, bucket, timeRanges = kSort > 1)
    // the z-order grid spans the bucket's own time window
    val lo: Long = bucket.files.map(_.min_time).min
    val span: Long = math.max(1L, bucket.files.map(_.max_time).max - lo)

    /** The times that cut this bucket's `kSort` ranges: range `r` holds
      * the rows with exactly `r` cuts at or below their time. The z-curve
      * is cut on its time axis too: equal ranges of the z-space hold
      * equal rows only when the rows spread evenly over the bucket's
      * window, and a few tag values or one late row upset that. */
    def cuts: Array[Long] = timeCuts(files.flatMap(_.ranges), kSort)
  }

  /** The sort key over a scan carrying [[ScanCols]]: time, or the opt-in
    * z-order layout (like the sizing knobs: a capability the reference's
    * config shape implies but its ORDER BY time never uses). Within ONE
    * bucket the time axis is already window-bounded with known metadata
    * min/max, so a FIXED-GRID interleave — time scaled into B bits by the
    * bucket's own span × B hash bits per tag column — is the z-curve with
    * ZERO extra passes (q52's rank equalization needs two rank shuffles;
    * here the window bound does the equalizing). N AXES (r7 verdict #9):
    * time is axis 0 plus one hash axis per --zorder-col entry, per-axis
    * bits B = min(16, 63/k), so `--zorder-col host,sensor` gives every
    * output row group tight zone maps on time AND both tags
    * (LayoutPruningSpec measures the file-skip effect; ZorderCompactSpec
    * the clustering). The bucket's window arrives as the scan's `lo` and
    * `span` columns. */
  private def sortKey: Column = zorderColumns match {
    case Nil => col(timeColumn)
    case seriesCols =>
      import org.apache.spark.sql.functions.{expr, lit, xxhash64}
      val bits = graft.queries.PipelineQueries.zAxisBits(seriesCols.length + 1)
      val gridMax = (1L << bits) - 1
      val (lo, span) = (s"`${ScanCols(1).name}`", s"`${ScanCols(2).name}`")
      // exact integer div (the double quotient is inexact past 2^53);
      // clamp the RAW time into [lo, lo+span] BEFORE scaling: a stray
      // row far outside the bucket's trusted metadata bounds must land
      // on grid cell 0/max, not wrap the ×gridMax product negative
      // (r7 advice). The product is computed in DECIMAL so even a
      // multi-day --window-hours span (> ~39 h overflows int64×65535)
      // stays exact; layout-only cost, once per row.
      val tb = expr(
        s"CAST((CAST(least(greatest(`$timeColumn`, $lo), $lo + $span) " +
          s"AS DECIMAL(38,0)) - $lo) * ${gridMax}L div $span AS BIGINT)")
      val axes = tb +: seriesCols.map(c => xxhash64(col(c)).bitwiseAND(lit(gridMax)))
      graft.queries.PipelineQueries.interleaveBits(axes, bits)
  }

  /** Write one group's buckets into `dir` with ONE scan and ONE Spark job
    * and hand each member the part files of its own partitions: bucket
    * `j` owns parts `[base(j), base(j) + kSort(j))`. */
  private def writeGroup(members: Vector[Member], dir: Path): Vector[(Member, Vector[Path])] = {
    val bases = members.scanLeft(0)(_ + _.kSort)
    val partitions = members.zipWithIndex.flatMap { case (m, j) =>
      val files = m.files.sortBy(_.path.toString).flatMap { f =>
        (0L until f.length by sortPartitionBytes).map(at => graftbridge.ScanFile(f.path, at,
          math.min(sortPartitionBytes, f.length - at), f.length, Seq[Any](j, m.lo, m.span)))
      }
      if (m.kSort == 1) Vector(files)
      else files.foldLeft(Vector.empty[Vector[graftbridge.ScanFile]]) { (acc, f) =>
        if (acc.nonEmpty && acc.last.map(_.length).sum + f.length <= sortPartitionBytes)
          acc.init :+ (acc.last :+ f)
        else acc :+ Vector(f)
      }
    }
    val scan = graftbridge.parquetScanOf(spark, members.head.schema, StructType(ScanCols),
      partitions)
    val key = sortKey
    val sorted =
      if (members.head.kSort == 1) scan.sortWithinPartitions(key)
      else {
        val cuts = members.map(_.cuts).toArray
        val base = bases.toArray
        // deterministic: a re-run puts every row in the same part
        val part = udf { (j: Int, t: java.lang.Long) =>
          if (t == null) base(j)
          else {
            val at = java.util.Arrays.binarySearch(cuts(j), t.longValue)
            base(j) + (if (at >= 0) at + 1 else -at - 1)
          }
        }
        scan.repartitionById(bases.last, part(col(ScanCols.head.name), col(timeColumn)))
          .sortWithinPartitions(key)
      }
    sorted.drop(ScanCols.map(_.name): _*).write
      .mode("overwrite")
      .option("compression", "zstd")
      .option("parquet.block.size", rowGroupTargetBytes.toString)
      .option("parquet.enable.dictionary", "false")
      // nothing reads the job's _SUCCESS marker
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(dir.toString)

    // (partition index, file) in range order: the index decides the
    // bucket, the name orders the files of one index (more than one when
    // spark.sql.files.maxRecordsPerFile is set; the concat joins them)
    val parts = fs.listStatus(dir).toVector.flatMap { st =>
      st.getPath.getName match {
        case PartName(i) => Some(i.toInt -> st.getPath)
        case _ => None
      }
    }.sortBy { case (i, p) => (i, p.getName) }
    members.zipWithIndex.map { case (m, j) =>
      val own = parts.filter { case (i, _) => i >= bases(j) && i < bases(j + 1) }
      // Spark writes a file for partition 0 even when it is empty, which a
      // split bucket must not publish as an empty `_p00` part
      def empty0 = { val r = openParquet(own.head._2); try r.getRecordCount == 0 finally r.close() }
      val kept = (if (m.split && own.length > 1 && own.head._1 == 0 && empty0) own.tail
        else own).map(_._2)
      // and no file for any other empty partition, so a bucket with no rows
      // that is not first in its group gets an empty file carrying the
      // schema, as it would written alone
      if (kept.nonEmpty) m -> kept
      else {
        val empty = new Path(dir, s"empty-${m.idx}.parquet")
        concatParquet(parts.head._2, Vector.empty, empty)
        m -> Vector(empty)
      }
    }
  }

  /** Publish one bucket's parts at their final names and read back their
    * footer stats. */
  private def commitBucket(rootDir: Path, m: Member, parts: Vector[Path])
      : Vector[FileMeta] = {
    val bucket = m.bucket
    // parts are in time-range order => concatenation order is the
    // bucket's sort order (time by default; with zorderColumns one
    // z-curve walk per time range — row groups stay range-disjoint either
    // way)
    if (!m.split) {
      // single-file contract: row-group-level byte concat of the parts,
      // staged next to them so the final name only ever receives a
      // COMPLETE file via commitFile
      val dest = new Path(rootDir, bucket.outputPath)
      if (parts.length == 1) commitFile(parts.head, dest)
      else {
        val staged = new Path(parts.head.getParent, s"concat-${m.idx}.parquet")
        concatParquet(parts.head, parts, staged)
        commitFile(staged, dest)
      }
      Vector(footerStats(dest, bucket.outputPath, id = bucket.files.head.id)
        .copy(chunk_time = bucket.files.head.chunk_time))
    } else {
      // oversized: keep the time-disjoint parts under _pNN names
      val outNames = parts.indices.map(i =>
        bucket.outputName.stripSuffix(".parquet") + f"_p$i%02d.parquet")
      parts.zip(outNames).zipWithIndex.map { case ((part, name), i) =>
        val dest = new Path(rootDir, s"${bucket.outputDir}/$name")
        commitFile(part, dest)
        footerStats(dest, relPath = s"${bucket.outputDir}/$name",
          id = bucket.files.head.id + i)
          // chunk_time carries over from the first input (reference
          // "first(chunk_time)" semantics, kompactor.ts:280)
          .copy(chunk_time = bucket.files.head.chunk_time)
      }
    }
  }

  /** A bucket whose input files disagree on schema must fail LOUDLY
    * before any data moves: without this, `spark.read.parquet` takes one
    * file's footer as the schema and silently drops the other files'
    * extra columns from the merged output (the reference inherits the
    * equivalent hazard — DuckDB's read_parquet errors only on outright
    * incompatibility). Footer reads are driver-side and per-bucket small;
    * evolution across buckets/time remains supported (each bucket merges
    * its own hour), and readers wanting union-of-schemas semantics have
    * the engine's mergeSchema path (SourceFormatsSpec / q42).
    *
    * Returns the read schema: exactly what `spark.read.parquet(inputs)`
    * would infer — the footer of the path-sorted first input, its Spark
    * row metadata when present, else its parquet schema converted under
    * the session's SQL conf. Spark would launch one job per bucket to
    * read that footer again; here it is already in hand. With it, each
    * input's length and, when `timeRanges` is set, its [[InputFile]]
    * time ranges, all from the same open. */
  private[compact] def readInputs(rootDir: Path, bucket: Bucket, timeRanges: Boolean)
      : (StructType, Vector[InputFile]) = {
    import scala.jdk.CollectionConverters._
    // canonical column set: path + primitive + logical annotation. The
    // repetition level (required vs optional) is deliberately EXCLUDED —
    // Spark reads everything as nullable, and a compacted file (optional
    // fields) must stay mergeable with fresh WAL files (often required).
    def canon(s: org.apache.parquet.schema.MessageType): Set[String] =
      s.getColumns.asScala.map { cd =>
        val t = cd.getPrimitiveType
        val ann = Option(t.getLogicalTypeAnnotation).fold("")(_.toString)
        s"${cd.getPath.mkString(".")}:${t.getPrimitiveTypeName}:$ann"
      }.toSet
    val window = (bucket.files.map(_.min_time).min, bucket.files.map(_.max_time).max)
    val footers = bucket.files.map { f =>
      val in = HadoopInputFile.fromPath(new Path(rootDir, f.path), fs.getConf)
      val r = Compactor.openParquet(in)
      try {
        val ranges = if (timeRanges) rangesOf(r, window) else Vector.empty
        (f.path, in, r.getFooter, ranges)
      } finally r.close()
    }
    val schemas = footers.map { case (rel, _, footer, _) =>
      rel -> canon(footer.getFileMetaData.getSchema)
    }
    if (schemas.map(_._2).distinct.length > 1) {
      val byS = schemas.groupBy(_._2).map { case (s, fs0) =>
        s"  columns [${s.toSeq.sorted.mkString("; ")}]: " +
          fs0.map(_._1).mkString(", ")
      }
      throw new IllegalArgumentException(
        s"bucket ${bucket.outputPath}: input files disagree on schema — " +
          s"refusing to merge (a silent merge would drop columns):\n" +
          byS.mkString("\n"))
    }
    // the converter is built from the session's SQL conf, as Spark's own
    // inference builds it: a Hadoop conf lacks the SQL keys it reads
    val (_, first, footer, _) = footers.minBy(_._2.getPath.toString)
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    schema -> footers.map { case (_, in, _, ranges) => InputFile(in.getPath, in.getLength, ranges) }
  }

  /** The time column's (min, max, rows) per page of `r`'s file, from its
    * page index, or per row group where a row group has none; a range
    * without time stats is taken to span `window`. Pages hold at most
    * ~20,000 rows (parquet-mr's default), so on time-ordered inputs they
    * follow where the rows bunch, which a row group's range cannot show.
    * The index is read on the already open file: no extra open. */
  private def rangesOf(r: ParquetFileReader, window: (Long, Long)): Vector[(Long, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    r.getFooter.getBlocks.asScala.toVector.flatMap { b =>
      val pageIndex = b.getColumns.asScala
        .find(c => c.getPath.toDotString == timeColumn &&
          c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64)
        .flatMap(c => Option(r.readColumnIndex(c)).zip(Option(r.readOffsetIndex(c))))
      pageIndex match {
        case Some((ci, oi)) =>
          def at(v: java.util.List[java.nio.ByteBuffer], i: Int) =
            v.get(i).duplicate().order(ByteOrder.LITTLE_ENDIAN).getLong
          (0 until oi.getPageCount).toVector.filterNot(i => ci.getNullPages.get(i)).map { i =>
            (at(ci.getMinValues, i), at(ci.getMaxValues, i),
              oi.getLastRowIndex(i, b.getRowCount) - oi.getFirstRowIndex(i) + 1)
          }
        case None =>
          val (min, max) = timeRange(b).getOrElse(window)
          Vector((min, max, b.getRowCount))
      }
    }
  }

  /** The time column's min and max in one row group, when it has them. */
  private def timeRange(block: BlockMetaData): Option[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    block.getColumns.asScala.find(_.getPath.toDotString == timeColumn)
      .map(_.getStatistics).filter(s => s != null && s.hasNonNullValue)
      .flatMap(s => (s.genericGetMin, s.genericGetMax) match {
        case (min: java.lang.Long, max: java.lang.Long) => Some((min.longValue, max.longValue))
        case _ => None
      })
  }

  /** Publish a finished file at its final name — the object-store commit
    * point. `FileSystem.rename` is atomic on HDFS/local but COPY+DELETE
    * on S3A-style stores, so after the rename the destination's length is
    * verified against the source's: a truncated copy fails the job here,
    * while inputs and snapshots are still intact (nothing references the
    * output yet — the snapshot rewrite happens only after every commit in
    * the bucket succeeded, and deletes only after that; a crash at any
    * point in this window leaves at worst an unreferenced stray file that
    * the next run overwrites). The reference has no such verification
    * (plain `fs` calls, kompactor.ts:257-311). */
  private def commitFile(src: Path, dest: Path): Unit = {
    val srcLen = fs.getFileStatus(src).getLen
    fs.delete(dest, false)
    if (!fs.rename(src, dest))
      throw new java.io.IOException(s"rename $src -> $dest failed")
    val destLen = fs.getFileStatus(dest).getLen
    if (destLen != srcLen)
      throw new java.io.IOException(
        s"commit verify failed: $dest is $destLen bytes, expected $srcLen " +
          "(partial copy on a non-atomic-rename store?)")
  }

  private def openParquet(p: Path): ParquetFileReader =
    Compactor.openParquet(HadoopInputFile.fromPath(p, fs.getConf))

  /** Concatenate range-disjoint sorted parquet parts into one file at the
    * row-group level, with the schema and key-value metadata of `like`:
    * pages are copied verbatim (no decode/re-encode), so this is a
    * sequential I/O-bound copy — the price of the single-file contract,
    * decoupled from the parallel sort+compress above. With no parts it
    * writes an empty file that still carries the schema. */
  private def concatParquet(like: Path, parts: Vector[Path], dest: Path): Unit = {
    val first = openParquet(like)
    val (schema, keyValueMeta) =
      try {
        val fm = first.getFooter.getFileMetaData
        (fm.getSchema, fm.getKeyValueMetaData)
      } finally first.close()
    fs.delete(dest, false) // dest is a staging path
    val writer = new ParquetFileWriter(
      HadoopOutputFile.fromPath(dest, fs.getConf), schema,
      ParquetFileWriter.Mode.OVERWRITE,
      rowGroupTargetBytes, 8388608)
    writer.start()
    parts.foreach { p =>
      val r = openParquet(p)
      try r.appendTo(writer) finally r.close()
    }
    writer.end(keyValueMeta)
  }

  /** Exact stats from the written file's parquet footer — no rescan job;
    * time bounds 0 when the time column carries no statistics. */
  private def footerStats(file: Path, relPath: String, id: Long): FileMeta = {
    import scala.jdk.CollectionConverters._
    val reader = openParquet(file)
    try {
      val ranges = reader.getFooter.getBlocks.asScala.flatMap(timeRange)
      val (minT, maxT) = if (ranges.isEmpty) (0L, 0L) else (ranges.map(_._1).min, ranges.map(_._2).max)
      FileMeta(id, relPath, fs.getFileStatus(file).getLen, reader.getRecordCount,
        chunk_time = minT, min_time = minT, max_time = maxT)
    } finally reader.close()
  }
}

object Compactor {
  /** An input file, its length, and the (min, max, rows) of its time
    * column per page or row group (empty unless the bucket is
    * range-sorted: only range cuts read them). */
  private[compact] final case class InputFile(path: Path, length: Long,
      ranges: Vector[(Long, Long, Long)])

  /** The constant columns every scanned row carries: its bucket's index in
    * the write, and the bucket's z-order time origin and span. */
  private val ScanCols = Seq("_graft_bucket" -> IntegerType, "_graft_lo" -> LongType,
    "_graft_span" -> LongType).map { case (name, t) => StructField(name, t, nullable = false) }

  /** The times that cut rows spread evenly over each `(min, max, rows)`
    * range into `k` ranges of about equal rows: cut `r` is the least time
    * with about `r / k` of the rows below it. A cut at the least time
    * would leave its range empty and is dropped, as are repeats. */
  private def timeCuts(ranges: Seq[(Long, Long, Long)], k: Int): Array[Long] = {
    val least = ranges.map(_._1).minOption.getOrElse(0L)
    def below(t: Long): Double = ranges.map { case (min, max, rows) =>
      if (t <= min) 0.0
      else if (t > max) rows.toDouble
      else rows * ((t - min).toDouble / (max - min + 1).toDouble)
    }.sum
    val total = ranges.map(_._3).sum.toDouble
    (1 until k).map { r =>
      var (a, b) = (least, ranges.map(_._2).maxOption.getOrElse(least))
      while (a < b) {
        val mid = a + ((b - a) >>> 1)
        if (below(mid) >= total * r / k) b = mid else a = mid + 1
      }
      a
    }.filter(_ > least).distinct.toArray
  }

  /** Per-host staging directory of [[Compactor.mergeAll]] (`<host>/…`). */
  val StagingDir = ".tmp_compact"

  /** A Spark part file and its partition index. The index is `%05d`, which
    * grows past five digits beyond 99,999 partitions. */
  private val PartName = """^part-(\d+)-.*\.parquet$""".r

  /** A parquet reader whose read options come from the input's own
    * Configuration. The one-argument `ParquetFileReader.open` builds a
    * fresh `Configuration`, which rescans every jar on the classpath for
    * `*-default.xml`/`*-site.xml`: ~8 ms per footer with Spark's ~250
    * jars, more than the footer read itself. */
  def openParquet(in: HadoopInputFile): ParquetFileReader =
    ParquetFileReader.open(in, HadoopReadOptions.builder(in.getConfiguration).build())

  def localFs(spark: SparkSession): FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
}
