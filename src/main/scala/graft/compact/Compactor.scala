package graft.compact

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
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
  *  - scan → `repartitionByRange(k, time)` → per-partition sort → k
  *    time-disjoint sorted zstd parts written IN PARALLEL;
  *  - single-file contract → the parts are then byte-concatenated at the
  *    ROW-GROUP level (`ParquetFileReader.appendTo`: no decode, no
  *    re-encode — an I/O-bound driver-side copy). A naive
  *    `coalesce(1).sort.write` serializes scan+sort+compress into one
  *    thread and measured 38× slower than the reference; parallel-parts +
  *    append matches or beats it.
  *  - oversized bucket → skip the concat, keep the parts (`_pNN` names).
  *
  * Buckets are not separate Spark jobs: [[mergeAll]] writes a host's
  * buckets that share a read schema with one job per 64 buckets (each
  * bucket's sort partitions side by side), then commits each bucket from
  * its own part files. [[merge]] is the one-bucket case.
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

  /** Merge every bucket, each planned and committed exactly as [[merge]]
    * would, but with one Spark write per (host, read schema) instead of
    * one per bucket (at most `MaxBucketsPerWrite` buckets per write).
    * Each bucket's sorted frame keeps its own `kSort` partitions; a
    * write's frames are concatenated as RDDs (`SparkContext.union` of
    * partitioner-less RDDs appends partitions, it never zips them) and
    * written once into the host's staging directory, and each bucket
    * takes the part files of its own partition slice. This takes the
    * per-bucket job cost (write command, commit-protocol setup, job
    * submission), which dominated small buckets, off all but one bucket
    * of each write.
    *
    * The read schemas (footer reads) come first, for every bucket, as
    * they decide the writes. Each write's buckets are then planned,
    * written and committed before their plans are dropped, so the plans
    * alive at once (and the shuffle output of range-sorted buckets, which
    * planning produces) grow with the writes in flight, about
    * `parallelism` × `MaxBucketsPerWrite` buckets, not with the host; and
    * one write's planning overlaps another's job.
    *
    * `parallelism` bounds the driver threads that run writes, plan
    * buckets and commit them. The staging directory is per host and is
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
    def stagingOf(host: String) = new Path(rootDir, s"$host/${Compactor.StagingDir}")
    // one staging directory per host, removed before the writes and after
    // the last commit: a crash leaves at most that one directory, which
    // the next run removes before it writes
    val staging = bs.map(b => stagingOf(b.host)).distinct
    try {
      staging.foreach(fs.delete(_, true))
      val schemas = each(bs)(requireUniformSchema(rootDir, _))
      val writes = bs.indices.groupBy(i => (bs(i).host, schemas(i)))
        .values.toVector.sortBy(_.head)
        .flatMap(_.grouped(Compactor.MaxBucketsPerWrite)).map(_.toVector)
      val metas = each(writes.zipWithIndex) { case (members, w) =>
        val plans = each(members)(i => planMerge(rootDir, bs(i), i, schemas(i)))
        val parts = writeGroup(plans, new Path(stagingOf(bs(members.head).host), s"g$w"))
        each(parts) { case (p, files) => p.idx -> commitBucket(rootDir, p, files) }
      }.flatten.toMap
      staging.foreach(fs.delete(_, true))
      bs.indices.toVector.map(i => bs(i) -> metas(i))
    } finally pool.foreach(_.shutdown())
  }

  /** One bucket's merge, planned but not yet written: the sort
    * parallelism and split decision, and the sorted frame's physical
    * RDD. That RDD has `kSort` partitions, or fewer when a range sort
    * finds fewer distinct keys than `kSort` (Spark's RangePartitioner). */
  private final class MergePlan(val idx: Int, val bucket: Bucket,
      val kSort: Int, val split: Boolean, val sorted: DataFrame) {
    // planning happens here, on the calling thread; for a range-sorted
    // bucket that includes running its shuffle
    val rows: RDD[InternalRow] = sorted.queryExecution.toRdd
    val width: Int = rows.getNumPartitions
    if (width > kSort) throw new IllegalStateException(s"bucket ${bucket.outputPath}: " +
      s"sorted frame has $width partitions, planned $kSort")
  }

  private def planMerge(rootDir: Path, bucket: Bucket, idx: Int, readSchema: StructType)
      : MergePlan = {
    // a bucket merged by an older release staged its parts in its own
    // output directory; a crash there left one behind
    Option(fs.globStatus(new Path(rootDir, s"${bucket.outputDir}/.tmp_c_*")))
      .foreach(_.foreach(st => fs.delete(st.getPath, true)))
    val inputs = bucket.files.map(f => new Path(rootDir, f.path).toString)
    val totalBytes = bucket.files.map(_.size_bytes).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / maxDesiredFileSizeBytes).toInt)
    val split = totalBytes > largeCutoffBytes && nOut > 1

    // sort parallelism: one task per ~sortPartitionBytes of input,
    // independent of how many OUTPUT files the contract wants
    val kSort = math.max(if (split) nOut else 1, math.min(
      spark.sparkContext.defaultParallelism,
      math.ceil(totalBytes.toDouble / sortPartitionBytes).toInt))
    // explicit schema: the footers are already read, so Spark's schema
    // inference (one extra job per bucket) has nothing left to learn
    val df = spark.read.schema(readSchema).parquet(inputs: _*)
    // Opt-in z-order layout (like the sizing knobs: a capability the
    // reference's config shape implies but its ORDER BY time never uses):
    // within ONE bucket the time axis is already window-bounded with
    // known metadata min/max, so a FIXED-GRID interleave — time scaled
    // into B bits by the bucket's own span × B hash bits per tag column
    // — is the z-curve with ZERO extra passes (q52's rank equalization
    // needs two rank shuffles; here the window bound does the
    // equalizing). N AXES (r7 verdict #9): time is axis 0 plus one hash
    // axis per --zorder-col entry, per-axis bits B = min(16, 63/k), so
    // `--zorder-col host,sensor` gives every output row group tight
    // zone maps on time AND both tags (LayoutPruningSpec measures the
    // file-skip effect; ZorderCompactSpec the clustering).
    val sortKey: org.apache.spark.sql.Column = zorderColumns match {
      case Nil => col(timeColumn)
      case seriesCols =>
        import org.apache.spark.sql.functions.{expr, lit, xxhash64}
        val k = seriesCols.length + 1
        val bits = graft.queries.PipelineQueries.zAxisBits(k)
        val gridMax = (1L << bits) - 1
        val lo = bucket.files.map(_.min_time).min
        val span = math.max(1L, bucket.files.map(_.max_time).max - lo)
        // exact integer div (the double quotient is inexact past 2^53);
        // clamp the RAW time into [lo, lo+span] BEFORE scaling: a stray
        // row far outside the bucket's trusted metadata bounds must land
        // on grid cell 0/max, not wrap the ×gridMax product negative
        // (r7 advice). The product is computed in DECIMAL so even a
        // multi-day --window-hours span (> ~39 h overflows int64×65535)
        // stays exact; layout-only cost, once per row.
        val tb = expr(
          s"CAST((CAST(least(greatest(`$timeColumn`, ${lo}L), ${lo + span}L) " +
            s"AS DECIMAL(38,0)) - ${lo}L) * ${gridMax}L div ${span}L AS BIGINT)")
        val axes = tb +: seriesCols.map(c =>
          xxhash64(col(c)).bitwiseAND(lit(gridMax)))
        graft.queries.PipelineQueries.interleaveBits(axes, bits)
    }
    val sorted: DataFrame =
      if (kSort == 1) df.coalesce(1).sortWithinPartitions(sortKey)
      else df.repartitionByRange(kSort, sortKey)
        .sortWithinPartitions(sortKey)
    new MergePlan(idx, bucket, kSort, split, sorted)
  }

  /** Write one group's sorted frames into `dir` with ONE Spark job and
    * hand each member the part files of its own partitions. */
  private def writeGroup(members: Vector[MergePlan], dir: Path)
      : Vector[(MergePlan, Vector[Path])] = {
    val union = spark.sparkContext.union(members.map(_.rows))
    // the slices below are only right if the union APPENDED every
    // member's partitions; a zip (partitioner-aware union) would mix
    // buckets inside one part
    val widths = members.map(_.width)
    if (union.getNumPartitions != widths.sum)
      throw new IllegalStateException(s"union of ${members.length} buckets has " +
        s"${union.getNumPartitions} partitions, not the ${widths.sum} of its members")
    val frame = graftbridge.dataFrameOf(spark, union, members.head.sorted.schema)
    frame.write
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
        case Compactor.PartName(i) => Some(i.toInt -> st.getPath)
        case _ => None
      }
    }.sortBy { case (i, p) => (i, p.getName) }
    val ends = widths.scanLeft(0)(_ + _)
    members.zipWithIndex.map { case (p, j) =>
      val own = parts.collect { case (i, f) if i >= ends(j) && i < ends(j + 1) => f }
      // Spark writes no file for an empty partition other than index 0, so
      // a bucket with no rows that is not first in its group gets none: it
      // gets an empty file carrying the schema, as it would written alone
      if (own.nonEmpty) p -> own
      else {
        val empty = new Path(dir, s"empty-${p.idx}.parquet")
        concatParquet(parts.head._2, Vector.empty, empty)
        p -> Vector(empty)
      }
    }
  }

  /** Publish one bucket's parts at their final names and read back their
    * footer stats. */
  private def commitBucket(rootDir: Path, p: MergePlan, parts: Vector[Path])
      : Vector[FileMeta] = {
    val bucket = p.bucket
    // parts are in range order => concatenation order is the global
    // sort-key order (time by default; the z-curve when zorderColumns is
    // set — row groups stay range-disjoint either way)
    if (!p.split) {
      // single-file contract: row-group-level byte concat of the parts,
      // staged next to them so the final name only ever receives a
      // COMPLETE file via commitFile
      val dest = new Path(rootDir, bucket.outputPath)
      if (parts.length == 1) commitFile(parts.head, dest)
      else {
        val staged = new Path(parts.head.getParent, s"concat-${p.idx}.parquet")
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
    * read that footer again; here it is already in hand. */
  private[compact] def requireUniformSchema(rootDir: Path, bucket: Bucket): StructType = {
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
    val footers = bucket.files.map { f =>
      val p = new Path(rootDir, f.path)
      val r = openParquet(p)
      try (f.path, p, r.getFooter) finally r.close()
    }
    val schemas = footers.map { case (rel, _, footer) =>
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
    val (_, first, footer) = footers.minBy(_._2.toString)
    ParquetFileFormat.readSchemaFromFooter(new Footer(first, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
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

  /** Exact stats from the written file's parquet footer — no rescan job.
    * Falls back to planner rollup bounds when the time column carries no
    * statistics. */
  private def footerStats(file: Path, relPath: String, id: Long): FileMeta = {
    val reader = openParquet(file)
    try {
      val footer = reader.getFooter
      val rows = reader.getRecordCount
      var minT = Long.MaxValue
      var maxT = Long.MinValue
      footer.getBlocks.forEach { block =>
        block.getColumns.forEach { c =>
          if (c.getPath.toDotString == timeColumn && c.getStatistics != null &&
            c.getStatistics.hasNonNullValue) {
            c.getStatistics.genericGetMin match {
              case l: java.lang.Long =>
                minT = math.min(minT, l)
                maxT = math.max(maxT,
                  c.getStatistics.genericGetMax.asInstanceOf[java.lang.Long])
              case _ => ()
            }
          }
        }
      }
      val len = fs.getFileStatus(file).getLen
      FileMeta(id, relPath, len, rows,
        chunk_time = if (minT != Long.MaxValue) minT else 0L,
        min_time = if (minT != Long.MaxValue) minT else 0L,
        max_time = if (maxT != Long.MinValue) maxT else 0L)
    } finally reader.close()
  }
}

object Compactor {
  /** Most buckets one write carries. Every task of a job deserializes
    * the job's whole lineage, which grows by ~0.4 ms per bucket (measured
    * alone: one bucket's sorted RDD 22 KB and 1.4 ms, a union of 12 89 KB
    * and 6.1 ms); the cap bounds that at ~25 ms per task, next to the
    * ~9 ms every write task spends on its Hadoop Configuration. */
  private[compact] val MaxBucketsPerWrite = 64

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
