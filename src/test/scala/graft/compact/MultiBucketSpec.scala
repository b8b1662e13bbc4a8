package graft.compact

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Many-bucket, multi-host orchestration: 2 hosts × 2 tables × 3 hours ×
  * 3 files — 12 buckets compacted concurrently, all metadata rewritten,
  * nothing leaking across hosts or tables. Every table has one schema, so
  * each host's 6 buckets are written by exactly one Spark job: the read
  * schema comes from the footers the schema guard already read, not from
  * an inference job, and same-schema buckets share one write. */
class MultiBucketSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val base = 1737928800L * 1000000000L
  private val hourNs = 3600L * 1000000000L

  test("12 buckets across 2 hosts compact concurrently and correctly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_multi").toFile

    def writeFile(rel: String, rows: Seq[(Long, String, Double)]): FileMeta = {
      val dest = new File(dir, rel)
      dest.getParentFile.mkdirs()
      val tmp = new File(dest.getParentFile, ".t")
      rows.toDF("time", "sensor", "value").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles.foreach(_.delete()); tmp.delete()
      FileMeta(rel.hashCode.toLong & 0xffffff, rel, dest.length(), rows.length,
        rows.map(_._1).min, rows.map(_._1).min, rows.map(_._1).max)
    }

    val hosts = Seq("hostA", "hostB")
    val metasByHost = hosts.map { host =>
      val metas = for {
        table <- Seq("table-0", "table-1")
        hour <- 0 until 3
        file <- 0 until 3
      } yield {
        val wal = f"${hour * 10 + file + 1}%010d"
        val rel = s"$host/dbs/db-0/$table/2025-01-26/" +
          f"$hour%02d-${file * 20}%02d/$wal.parquet"
        val t0 = base + hour * hourNs
        writeFile(rel, (0 until 10).map(i =>
          (t0 + (file * 10 + i).toLong * 1000000000L, s"$host-$table", i * 1.0)))
      }
      host -> metas
    }
    metasByHost.foreach { case (host, metas) =>
      val byTable = metas.groupBy(m => m.path.split('/')(3))
      val snap = SnapshotMeta(host, metas.map(_.size_bytes).sum,
        metas.map(_.row_count).sum, metas.map(_.min_time).min,
        metas.map(_.max_time).max,
        Vector(DbTables(0,
          byTable.toVector.sortBy(_._1).zipWithIndex.map { case ((_, fs), i) =>
            TableFiles(i, fs.toVector)
          })))
      val snapDir = new File(dir, s"$host/snapshots"); snapDir.mkdirs()
      Files.writeString(Paths.get(snapDir.toString, "0000000001.info.json"),
        SnapshotCodec.render(snap))
    }

    // jobs the merges submit, by call site (planning jobs come from the
    // Orchestrator and Planner)
    val mergeJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.name.contains("Compactor.scala")))
          mergeJobs.incrementAndGet()
    }
    graft.Bench.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    // threshold 0 forces the executor-side planning path — the full E2E
    // (merge + metadata rewrite + delete) must behave identically on it
    val reports =
      try new Orchestrator(spark, CompactConfig(
        dataDir = dir.toString, bucketParallelism = 4,
        distributedPlanThreshold = 0)).run()
      finally {
        graft.Bench.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(mergeJobs.get == 2, s"2 hosts of one schema submitted ${mergeJobs.get} merge jobs")
    assert(reports.map(_.host) == Seq("hostA", "hostB"))
    assert(reports.forall(_.compacted == 6)) // 2 tables x 3 hours each
    reports.foreach { r =>
      assert(r.outputFiles.length == 6)
      assert(r.outputFiles.forall(_.row_count == 30))
      assert(r.deleted.length == 18)
      // outputs stay inside their own host tree
      assert(r.outputFiles.forall(_.path.startsWith(s"${r.host}/dbs/")))
    }
    // spot-check one compacted file: contents only from its own host+table
    val out = new File(dir,
      "hostA/dbs/db-0/table-1/2025-01-26/01-00/c_0000000011_0000000013_h01.parquet")
    assert(out.isFile)
    val sensors = spark.read.parquet(out.toString)
      .select("sensor").distinct().collect().map(_.getString(0)).toSeq
    assert(sensors == Seq("hostA-table-1"))
  }
}
