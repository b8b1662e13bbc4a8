package graft.compact

import java.io.File
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** `Compactor.mergeAll` writes a host's same-schema buckets with one Spark
  * job and hands each bucket its own partitions' part files. A bucket
  * merged inside a group must come out exactly as it does merged alone,
  * and no part may ever carry another bucket's rows. */
class MergeAllSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val base = 1737928800L * 1000000000L
  private val hourNs = 3600L * 1000000000L

  /** One bucket of `files` WAL files in `hour`, `rows` rows each; the
    * `tag` column names the bucket so a mixed part would show. */
  private def writeBucket(dir: File, hour: Int, files: Int, rows: Int): Bucket = {
    import spark.implicits._
    val metas = (0 until files).map { f =>
      val wal = f"${hour * 10 + f + 1}%010d"
      val rel = f"edge0/dbs/db-0/table-0/2025-01-26/$hour%02d-${f * 10}%02d/$wal.parquet"
      val dest = new File(dir, rel)
      dest.getParentFile.mkdirs()
      val tmp = new File(dest.getParentFile, ".t")
      val t0 = base + hour * hourNs
      // interleaved across files, so the merge really has to sort
      val data = (0 until rows).map(i =>
        (t0 + (i.toLong * files + f) * 1000003L, s"h$hour", s"sensor${i % 7}", i * 0.5))
      data.toDF("time", "tag", "sensor", "value").coalesce(1)
        .write.mode("overwrite").option("compression", "none").parquet(tmp.toString)
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
  // fully determined. Where a bucket is range-sorted (hours 21 and 22),
  // the split points come from Spark's RangePartitioner sample, which is
  // seeded by the RDD id and so differs between ANY two runs, alone or
  // grouped: those buckets are compared by rows, row order, row groups,
  // output names and their stats summed over the outputs; the
  // one-partition bucket is compared stat for stat, sizes included.
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
        def summary(ms: Vector[FileMeta]) = (ms.map(m => (m.id, m.path, m.chunk_time)),
          ms.map(_.row_count).sum, ms.map(_.min_time).min, ms.map(_.max_time).max)
        assert(summary(a) == summary(g), s"bucket ${b.hourStart}: stats differ")
        if (b.hourStart == 23) assert(a == g, "one-partition bucket: stats differ")
      }
      assertNoStaging(aloneDir)
      assertNoStaging(groupDir)
    }

  test("a group larger than one write carries is split across writes") {
    val dir = Files.createTempDirectory("graft_mergeall_cap").toFile
    // one bucket written by Spark, the rest copies of its two files
    val first = writeBucket(dir, 0, 2, 10)
    val n = Compactor.MaxBucketsPerWrite + 1
    val buckets = first +: (1 until n).map { i =>
      val files = first.files.map { m =>
        val rel = m.path.replace("table-0", s"table-$i")
        val dest = new File(dir, rel)
        dest.getParentFile.mkdirs()
        Files.copy(new File(dir, m.path).toPath, dest.toPath)
        m.copy(path = rel)
      }
      first.copy(table = s"table-$i", files = files, sources = files.map(_.path).toSet)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.contains("Compactor.scala"))) jobs.incrementAndGet()
    }
    graft.Bench.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val out =
      try new Compactor(spark, Compactor.localFs(spark))
        .mergeAll(new Path(dir.toString), buckets, parallelism = 4)
      finally {
        graft.Bench.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(jobs.get == 2, s"$n buckets of one schema took ${jobs.get} writes")
    out.foreach { case (b, metas) =>
      assert(metas.map(_.row_count) == Vector(20L))
      assert(metas.head.path.startsWith(s"edge0/dbs/db-0/${b.table}/"))
    }
    assertNoStaging(dir)
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
