package graft.compact

import java.io.File
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `Compactor.mergeAll` writes a host's same-schema buckets with one scan
  * and one Spark job (one-partition and range-sorted buckets apart) and
  * hands each bucket its own partitions' part files. A bucket
  * merged inside a group must come out exactly as it does merged alone,
  * and no part may ever carry another bucket's rows. */
class MergeAllSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val base = 1737928800L * 1000000000L
  private val hourNs = 3600L * 1000000000L

  /** One bucket of `files` WAL files in `hour`, `rows` rows each; the
    * `tag` column names the bucket so a mixed part would show. A
    * `bunched` bucket holds 90 % of its rows in the hour's first 6
    * minutes and writes pages of 500 rows. */
  private def writeBucket(dir: File, hour: Int, files: Int, rows: Int,
      bunched: Boolean = false): Bucket = {
    import spark.implicits._
    val metas = (0 until files).map { f =>
      val wal = f"${hour * 10 + f + 1}%010d"
      val rel = f"edge0/dbs/db-0/table-0/2025-01-26/$hour%02d-${f * 10}%02d/$wal.parquet"
      val dest = new File(dir, rel)
      dest.getParentFile.mkdirs()
      val tmp = new File(dest.getParentFile, ".t")
      val t0 = base + hour * hourNs
      // interleaved across files, so the merge really has to sort
      def at(i: Int): Long =
        if (!bunched) (i.toLong * files + f) * 1000003L
        else if (i < rows * 9 / 10) i * (hourNs / 10 / (rows * 9 / 10)) + f
        else hourNs / 10 + (i - rows * 9 / 10) * (hourNs * 9 / 10 / (rows / 10)) + f
      val data = (0 until rows).map(i => (t0 + at(i), s"h$hour", s"sensor${i % 7}", i * 0.5))
      data.toDF("time", "tag", "sensor", "value").coalesce(1)
        .write.mode("overwrite").option("compression", "none")
        .option("parquet.page.row.count.limit", if (bunched) 500 else 20000)
        .parquet(tmp.toString)
      val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dest.toPath)
      tmp.listFiles.foreach(_.delete()); tmp.delete()
      val times = data.map(_._1)
      FileMeta((hour * 10 + f).toLong, rel, dest.length(), rows,
        if (rows == 0) 0L else times.min,
        if (rows == 0) 0L else times.min,
        if (rows == 0) 0L else times.max)
    }.toVector
    Bucket("edge0", "db-0", "table-0", "2025-01-26", hour, metas, metas.map(_.path).toSet)
  }

  /** Hour 21 is above the split cutoff (64 KB target, 83 KB cutoff); hour
    * 22 is below it but takes two sort partitions (32 KB each), hour 23
    * takes one. The group runs the `_pNN` split path, the row-group
    * concat and the single-part commit. */
  private def fixture(dir: File): Vector[Bucket] = Vector(
    writeBucket(dir, 21, files = 3, rows = 6000),
    writeBucket(dir, 22, files = 2, rows = 1000),
    writeBucket(dir, 23, files = 2, rows = 300))

  private def compactor(zorder: Seq[String]) = new Compactor(spark,
    Compactor.localFs(spark), maxDesiredFileSizeBytes = 64L * 1024,
    sortPartitionBytes = 32L * 1024, zorderColumns = zorder)

  /** A bucket's rows in output order (files in name order, rows in file
    * order) and its outputs' row-group count. */
  private def contents(dir: File, metas: Vector[FileMeta]): (Seq[String], Int) = {
    val files = metas.map(m => new File(dir, m.path).toString).sorted
    val rows = files.flatMap(f =>
      spark.read.parquet(f).collect().map(_.mkString("|")).toSeq)
    val groups = files.map { f =>
      val reader = Compactor.openParquet(HadoopInputFile.fromPath(
        new Path(f), spark.sparkContext.hadoopConfiguration))
      try reader.getRowGroups.size finally reader.close()
    }.sum
    (rows, groups)
  }

  private def assertNoStaging(dir: File): Unit =
    assert(!new File(dir, s"edge0/${Compactor.StagingDir}").exists,
      "staging directory left behind")

  // Every sort key in the fixture is unique (times are 1 ms apart and the
  // z-order time grid is finer than that), so a bucket's output order is
  // fully determined; a range-sorted bucket's ranges come from its input
  // footers, so it splits the same way alone or grouped.
  for (zorder <- Seq(Nil, Seq("sensor")))
    test(s"a bucket merged in a group equals it merged alone (zorder=$zorder)") {
      val aloneDir = Files.createTempDirectory("graft_mergeall_a").toFile
      val groupDir = Files.createTempDirectory("graft_mergeall_g").toFile
      val aloneBuckets = fixture(aloneDir)
      val groupBuckets = fixture(groupDir)
      assert(aloneBuckets == groupBuckets)
      val c = compactor(zorder)
      assert(aloneBuckets.map(_.files.map(_.size_bytes).sum > c.largeCutoffBytes) ==
        Vector(true, false, false))

      val alone = aloneBuckets.map(b => b -> c.merge(new Path(aloneDir.toString), b))
      val grouped = c.mergeAll(new Path(groupDir.toString), groupBuckets, parallelism = 2)
      assert(grouped.map(_._1) == groupBuckets, "results come back in input order")
      assert(alone.map(_._2.length) == Vector(5, 1, 1), "hour 21 splits into 5 parts")
      alone.zip(grouped).foreach { case ((b, a), (_, g)) =>
        val (rowsA, groupsA) = contents(aloneDir, a)
        val (rowsG, groupsG) = contents(groupDir, g)
        assert(rowsG.length == b.files.map(_.row_count).sum)
        assert(rowsA == rowsG, s"bucket ${b.hourStart}: rows or row order differ")
        assert(groupsA == groupsG, s"bucket ${b.hourStart}: row-group count differs")
        assert(rowsG.forall(_.split('|')(1) == s"h${b.hourStart}"),
          s"bucket ${b.hourStart} holds another bucket's rows")
        assert(a == g, s"bucket ${b.hourStart}: stats differ")
      }
      assertNoStaging(aloneDir)
      assertNoStaging(groupDir)
    }

  for (zorder <- Seq(Nil, Seq("sensor")))
    test(s"a range-sorted tree merged twice writes the same parts (zorder=$zorder)") {
      val dirs = Seq("graft_mergeall_r1", "graft_mergeall_r2")
        .map(Files.createTempDirectory(_).toFile)
      val runs = dirs.map(d =>
        compactor(zorder).mergeAll(new Path(d.toString), fixture(d), parallelism = 2))
      runs.head.zip(runs(1)).foreach { case ((b, one), (_, two)) =>
        assert(one == two, s"bucket ${b.hourStart}: part names or footer stats differ")
        one.zip(two).foreach { case (m1, m2) =>
          assert(contents(dirs.head, Vector(m1)) == contents(dirs(1), Vector(m2)),
            s"${m1.path}: rows or row groups differ")
        }
      }
      // the footers' time ranges cut hour 21 into parts of about equal rows
      val rows = runs.head.head._2.map(_.row_count)
      assert(rows.length == 5 && rows.forall(n => n > 18000 / 5 / 2 && n < 18000 / 5 * 2),
        s"hour 21 parts hold $rows rows")
    }

  // A row group's time range says nothing about where its rows bunch; the
  // page index does, page by page, on inputs whose pages follow time.
  for (zorder <- Seq(Nil, Seq("sensor")))
    test(s"range cuts follow rows bunched inside a row group (zorder=$zorder)") {
      val dir = Files.createTempDirectory("graft_mergeall_bunched").toFile
      val bucket = writeBucket(dir, 21, files = 3, rows = 6000, bunched = true)
      val out = compactor(zorder).merge(new Path(dir.toString), bucket)
      val rows = out.map(_.row_count)
      assert(rows.sum == 18000)
      assert(rows.length == 5 && rows.forall(n => n > 18000 / 5 / 2 && n < 18000 / 5 * 2),
        s"parts hold $rows rows")
    }

  /** `f`'s result, and the stages and the number of jobs it ran. */
  private def counted[A](f: => A): (A, Vector[graft.bench.StageStats], Int) = {
    val sc = spark.sparkContext
    val stages = new graft.bench.StageListener
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    graft.Bench.drainListenerBus(sc)
    sc.addSparkListener(stages)
    sc.addSparkListener(jobListener)
    try {
      val a = f
      graft.Bench.drainListenerBus(sc)
      (a, stages.stages, jobs.get)
    } finally {
      sc.removeSparkListener(stages)
      sc.removeSparkListener(jobListener)
    }
  }

  test("a write of one-partition buckets is one stage, one task per bucket, no shuffle") {
    val dir = Files.createTempDirectory("graft_mergeall_shape1").toFile
    val buckets = Vector(writeBucket(dir, 21, 2, 40), writeBucket(dir, 22, 2, 25),
      writeBucket(dir, 23, 3, 30))
    val (out, stages, jobs) = counted(new Compactor(spark, Compactor.localFs(spark))
      .mergeAll(new Path(dir.toString), buckets))
    assert(out.map(_._2.map(_.row_count)) == Vector(Vector(80L), Vector(50L), Vector(90L)))
    assert(jobs == 1 && stages.length == 1, s"$jobs jobs, stages $stages")
    assert(stages.head.tasks == 3, s"stages $stages")
    assert(stages.map(s => s.shuffleRead + s.shuffleWrite).sum == 0, s"stages $stages")
  }

  test("a write of range-sorted buckets runs no sample job") {
    val dir = Files.createTempDirectory("graft_mergeall_shape2").toFile
    // hours 21 and 22: five and two sort ranges, one write
    val buckets = fixture(dir).take(2)
    val (out, _, jobs) = counted(compactor(Nil).mergeAll(new Path(dir.toString), buckets))
    assert(out.map(_._2.length) == Vector(5, 1))
    assert(jobs <= 2, s"$jobs jobs: more than the map stage and the write")
  }

  test("a stray per-bucket staging directory of an older release is removed") {
    val dir = Files.createTempDirectory("graft_mergeall_stray").toFile
    val b = writeBucket(dir, 21, 2, 10)
    val stray = new File(dir, s"${b.outputDir}/.tmp_c_${b.firstWal}_${b.lastWal}")
    stray.mkdirs()
    Files.write(new File(stray, "part-00000-x.parquet").toPath, Array[Byte](1, 2, 3))
    val metas = new Compactor(spark, Compactor.localFs(spark)).merge(new Path(dir.toString), b)
    assert(metas.map(_.row_count) == Vector(20L))
    assert(!stray.exists, "stray .tmp_c_* directory left in the output directory")
    assertNoStaging(dir)
  }

  test("maxRecordsPerFile: several files per partition still make whole buckets") {
    val dir = Files.createTempDirectory("graft_mergeall_mrpf").toFile
    val buckets = Vector(writeBucket(dir, 21, 2, 40), writeBucket(dir, 22, 2, 25),
      writeBucket(dir, 23, 3, 30))
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(key)
    val out =
      try {
        spark.conf.set(key, "7")
        new Compactor(spark, Compactor.localFs(spark))
          .mergeAll(new Path(dir.toString), buckets)
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    out.foreach { case (b, metas) =>
      assert(metas.length == 1)
      val df = spark.read.parquet(new File(dir, metas.head.path).toString)
      val tags = df.select("tag").distinct().collect().map(_.getString(0)).toSeq
      assert(tags == Seq(s"h${b.hourStart}"), s"bucket ${b.hourStart} holds $tags")
      val times = df.select("time").collect().map(_.getLong(0))
      assert(times.length == b.files.map(_.row_count).sum)
      assert(times.sameElements(times.sorted))
      assert(metas.head.row_count == times.length)
    }
    assertNoStaging(dir)
  }

  test("a bucket with no rows gives an empty file with the schema, alone or grouped") {
    def check(dir: File, b: Bucket, metas: Vector[FileMeta]): Unit = {
      assert(metas.length == 1)
      val m = metas.head
      assert(m.path == b.outputPath && m.row_count == 0)
      val f = new File(dir, m.path)
      assert(f.length() == m.size_bytes)
      val df = spark.read.parquet(f.toString)
      assert(df.columns.toSeq == Seq("time", "tag", "sensor", "value"))
      assert(df.count() == 0)
    }
    val aloneDir = Files.createTempDirectory("graft_mergeall_e").toFile
    val empty = writeBucket(aloneDir, 21, 2, 0)
    check(aloneDir, empty, new Compactor(spark, Compactor.localFs(spark))
      .merge(new Path(aloneDir.toString), empty))

    // first in its group (its partition is index 0, which Spark always
    // writes) and not first (its partition gets no file from Spark)
    for (emptyAt <- Seq(0, 1)) {
      val dir = Files.createTempDirectory("graft_mergeall_eg").toFile
      val hours = Seq(21, 22, 23)
      val buckets = hours.map(h =>
        writeBucket(dir, h, 2, if (h == hours(emptyAt)) 0 else 20)).toVector
      val out = new Compactor(spark, Compactor.localFs(spark))
        .mergeAll(new Path(dir.toString), buckets)
      out.zipWithIndex.foreach { case ((b, metas), i) =>
        if (i == emptyAt) check(dir, b, metas)
        else {
          assert(metas.map(_.row_count) == Vector(40L))
          val tags = spark.read.parquet(new File(dir, metas.head.path).toString)
            .select("tag").distinct().collect().map(_.getString(0)).toSeq
          assert(tags == Seq(s"h${b.hourStart}"))
        }
      }
      assertNoStaging(dir)
    }
  }
}
