package graft.compact

import java.io.File
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The opt-in z-order layout (--zorder-col): default output stays the
  * reference-parity time sort byte-for-byte semantics; with the flag the
  * merged file is one z-curve walk, which clusters each series into a
  * contiguous region instead of scattering it across the whole window —
  * the property row-group zone maps need to prune one-series scans. */
class ZorderCompactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val base = 1737928800L * 1000000000L
  private val N = 4000
  private val Series = 8

  private def mkBucket(dir: File): Bucket = {
    import spark.implicits._
    val rel = s"edge0/dbs/db-0/table-0/2025-01-26/22-00/0000000001.parquet"
    val f = new File(dir, rel)
    f.getParentFile.mkdirs()
    val tmp = new File(f.getParentFile, ".t")
    // series interleave in time: consecutive rows cycle through tags
    (0 until N).map(i =>
      (base + i.toLong * 1000003L, s"sensor${i % Series}", i * 0.5))
      .toDF("time", "sensor", "value")
      .coalesce(1).write.mode("overwrite")
      .option("compression", "none").parquet(tmp.toString)
    val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, f.toPath)
    tmp.listFiles.foreach(_.delete()); tmp.delete()
    Bucket("edge0", "db-0", "table-0", "2025-01-26", 22,
      Vector(FileMeta(1, rel, f.length(), N, base, base,
        base + (N - 1).toLong * 1000003L)),
      Set(rel))
  }

  /** number of maximal single-tag runs in file order — 8 perfectly
    * clustered series give ~8 runs, a time-sorted interleave gives ~N */
  private def tagRuns(path: String, tagCol: String = "sensor"): Int = {
    val tags = spark.read.parquet(path).select(tagCol)
      .collect().map(_.getString(0))
    1 + tags.sliding(2).count { case Array(a, b) => a != b; case _ => false }
  }

  test("default layout unchanged: global time order, interleaved tags") {
    val dir = Files.createTempDirectory("graft_zc_t").toFile
    val bucket = mkBucket(dir)
    val r = new Compactor(spark, Compactor.localFs(spark))
      .merge(new Path(dir.toString), bucket)
    val out = new File(dir, r.head.path).toString
    val times = spark.read.parquet(out).select("time")
      .collect().map(_.getLong(0))
    assert(times.sameElements(times.sorted))
    assert(tagRuns(out) > N / 2, "time order interleaves the 8 series")
  }

  test("--zorder-col clusters each series; stats and counts stay exact") {
    val dir = Files.createTempDirectory("graft_zc_z").toFile
    val bucket = mkBucket(dir)
    val r = new Compactor(spark, Compactor.localFs(spark),
      zorderColumns = Seq("sensor")).merge(new Path(dir.toString), bucket)
    assert(r.length == 1)
    val meta = r.head
    val out = new File(dir, meta.path).toString
    val rows = spark.read.parquet(out).select("time", "sensor").collect()
    assert(rows.length == N && meta.row_count == N)
    // footer time bounds are exact regardless of row order
    assert(meta.min_time == base)
    assert(meta.max_time == base + (N - 1).toLong * 1000003L)
    // the z-curve clusters series: the walk revisits a tag once per
    // shared-prefix time band, so runs collapse from the interleave's ~N
    // to O(bands × tags) — how far depends on the tags' hash bits
    // (simulated range ~90–1300 for 8 random 16-bit values); N/2 cleanly
    // separates it from the time sort's ~N while staying draw-proof
    val runs = tagRuns(out)
    assert(runs < N / 2, s"series should cluster under z-order, got $runs runs")
    // within every single-tag run, time still ascends (the curve is
    // ordered inside each grid cell)
    val byRun = rows.map(r => (r.getString(1), r.getLong(0)))
    var bad = 0
    byRun.sliding(2).foreach {
      case Array((ta, va), (tb, vb)) if ta == tb && vb < va => bad += 1
      case _ => ()
    }
    assert(bad == 0, s"$bad time inversions inside tag runs")
  }

  test("--zorder-col host,sensor: 3-axis curve clusters BOTH tags") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_zc_z3").toFile
    val rel = s"edge0/dbs/db-0/table-0/2025-01-26/22-00/0000000001.parquet"
    val f = new File(dir, rel)
    f.getParentFile.mkdirs()
    val tmp = new File(f.getParentFile, ".t")
    // two independent tag axes interleaved in time
    (0 until N).map(i => (base + i.toLong * 1000003L,
        s"host${i % 4}", s"sensor${(i / 4) % Series}", i * 0.5))
      .toDF("time", "host", "sensor", "value")
      .coalesce(1).write.mode("overwrite")
      .option("compression", "none").parquet(tmp.toString)
    val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, f.toPath)
    tmp.listFiles.foreach(_.delete()); tmp.delete()
    val bucket = Bucket("edge0", "db-0", "table-0", "2025-01-26", 22,
      Vector(FileMeta(1, rel, f.length(), N, base, base,
        base + (N - 1).toLong * 1000003L)),
      Set(rel))
    val r = new Compactor(spark, Compactor.localFs(spark),
      zorderColumns = Seq("host", "sensor")).merge(new Path(dir.toString), bucket)
    val meta = r.head
    val out = new File(dir, meta.path).toString
    assert(spark.read.parquet(out).count() == N && meta.row_count == N)
    assert(meta.min_time == base &&
      meta.max_time == base + (N - 1).toLong * 1000003L)
    // both tag axes cluster: far fewer runs than the time interleave
    // leaves (host flips every row, sensor every 4 rows in time order)
    val hostRuns = tagRuns(out, "host")
    val sensorRuns = tagRuns(out, "sensor")
    assert(hostRuns < N / 2, s"host should cluster, got $hostRuns runs")
    assert(sensorRuns < N / 2, s"sensor should cluster, got $sensorRuns runs")
  }

  /** per-ROW-GROUP (min, max) string stats of the named columns */
  private def rowGroupStats(path: String,
      cols: Set[String]): Seq[Map[String, (String, String)]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(path), new org.apache.hadoop.conf.Configuration()))
    try {
      val out = collection.mutable.ArrayBuffer[Map[String, (String, String)]]()
      r.getFooter.getBlocks.forEach { b =>
        val m = collection.mutable.Map[String, (String, String)]()
        b.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (cols.contains(name) && c.getStatistics != null &&
              c.getStatistics.hasNonNullValue)
            (c.getStatistics.genericGetMin, c.getStatistics.genericGetMax) match {
              case (lo: Binary, hi: Binary) =>
                m(name) = (lo.toStringUsingUTF8, hi.toStringUsingUTF8)
              case _ => ()
            }
        }
        out += m.toMap
      }
      out.toSeq
    } finally r.close()
  }

  test("3-axis merge: row-group zone maps prune a two-tag probe") {
    // the pruning measurement for the COMPACTOR's own output (the
    // Layout writer's is in LayoutPruningSpec): small row groups, then
    // count the groups a (host AND sensor) point probe admits under
    // each layout — the time sort interleaves both tags through every
    // group (admits all), the 3-axis curve bounds them per group
    import spark.implicits._
    def mkBucket2(dir: File): Bucket = {
      val rel = s"edge0/dbs/db-0/table-0/2025-01-26/22-00/0000000001.parquet"
      val f = new File(dir, rel)
      f.getParentFile.mkdirs()
      val tmp = new File(f.getParentFile, ".t")
      (0 until N).map(i => (base + i.toLong * 1000003L,
          s"host${i % 4}", s"sensor${(i / 4) % Series}", i * 0.5))
        .toDF("time", "host", "sensor", "value")
        .coalesce(1).write.mode("overwrite")
        .option("compression", "none").parquet(tmp.toString)
      val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, f.toPath)
      tmp.listFiles.foreach(_.delete()); tmp.delete()
      Bucket("edge0", "db-0", "table-0", "2025-01-26", 22,
        Vector(FileMeta(1, rel, f.length(), N, base, base,
          base + (N - 1).toLong * 1000003L)),
        Set(rel))
    }
    def admitted(path: String): (Int, Int) = {
      val stats = rowGroupStats(path, Set("host", "sensor"))
      val hit = stats.count { s =>
        val (hLo, hHi) = s("host"); val (sLo, sHi) = s("sensor")
        hLo <= "host1" && "host1" <= hHi && sLo <= "sensor3" && "sensor3" <= sHi
      }
      (hit, stats.size)
    }
    val tDir = Files.createTempDirectory("graft_zc_rg_t").toFile
    val rT = new Compactor(spark, Compactor.localFs(spark),
      rowGroupTargetBytes = 4096).merge(new Path(tDir.toString), mkBucket2(tDir))
    val (tHit, tGroups) = admitted(new File(tDir, rT.head.path).toString)
    val zDir = Files.createTempDirectory("graft_zc_rg_z").toFile
    val rZ = new Compactor(spark, Compactor.localFs(spark),
      rowGroupTargetBytes = 4096, zorderColumns = Seq("host", "sensor"))
      .merge(new Path(zDir.toString), mkBucket2(zDir))
    val (zHit, zGroups) = admitted(new File(zDir, rZ.head.path).toString)
    assert(tGroups >= 4 && zGroups >= 4,
      s"need multiple row groups to measure pruning: t=$tGroups z=$zGroups")
    assert(tHit == tGroups,
      s"time sort interleaves both tags through every group: $tHit/$tGroups")
    assert(zHit * 2 <= zGroups,
      s"3-axis curve must let the probe skip most groups: $zHit/$zGroups")
  }
}
