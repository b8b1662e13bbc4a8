package graft.compact

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Fleet-scale metadata I/O (r2 verdict "what's wrong #2"): the
  * orchestrator's driver-side FS metadata calls must scale with the number
  * of DIRECTORIES, not the number of FILES — at 10⁵–10⁶ files/host on an
  * object store, per-file HEAD round-trips (`exists`) are the wall-clock
  * bottleneck while executors idle. Asserted by running two fixtures with
  * the SAME directory shape but 4× the files, under a call-counting
  * FileSystem: `exists` and `listStatus` counts must be identical.
  * (Per-file `delete` calls remain — the local FS bulk-delete page size is
  * 1 — but they are issued through the BulkDelete API, which object stores
  * coalesce into one round-trip per page.) The listing method follows the
  * store: a `file:` root is walked with `listStatus` and never asks for
  * `LocatedFileStatus` listings (each forks `ls -ld` per entry without
  * libhadoop); an object-store root gets one recursive `listFiles` per
  * date directory.
  */
class MetadataScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val base = 1737928800L * 1000000000L

  /** Counts the orchestrator-initiated metadata calls — each models one
    * driver→store round-trip on an object store (where a recursive
    * `listFiles` is a flat paged LIST of the prefix, not the local FS's
    * internal per-subdir recursion, which is deliberately not counted). */
  private class CountingFs(under: org.apache.hadoop.fs.FileSystem)
      extends FilterFileSystem(under) {
    val existsCalls = new AtomicInteger
    val listCalls = new AtomicInteger
    val listFilesCalls = new AtomicInteger
    val locatedListCalls = new AtomicInteger
    val statusListed = new java.util.concurrent.ConcurrentLinkedQueue[Path]
    val deleteCalls = new AtomicInteger
    override def exists(p: Path): Boolean = {
      existsCalls.incrementAndGet(); super.exists(p)
    }
    override def listStatus(p: Path): Array[FileStatus] = {
      listCalls.incrementAndGet(); statusListed.add(p); super.listStatus(p)
    }
    override def listFiles(p: Path, recursive: Boolean)
        : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
      listCalls.incrementAndGet(); listFilesCalls.incrementAndGet()
      super.listFiles(p, recursive)
    }
    override def listLocatedStatus(p: Path)
        : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
      locatedListCalls.incrementAndGet(); super.listLocatedStatus(p)
    }
    override def delete(p: Path, recursive: Boolean): Boolean = {
      deleteCalls.incrementAndGet(); super.delete(p, recursive)
    }
  }

  /** 1 host × 1 table × 2 hour-dirs × `filesPerHour` WAL files. */
  private def buildFixture(filesPerHour: Int): File = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft_metascale_$filesPerHour").toFile
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
    val metas = for {
      hour <- Seq(0, 1)
      file <- 0 until filesPerHour
    } yield {
      // same minute dir per hour: the dir SHAPE is held constant across
      // fixtures so a call count that scales with files shows up as a
      // count difference, not a dir-count difference
      val wal = f"${hour * 100 + file + 1}%010d"
      val rel = s"edge0/dbs/db-0/table-0/2025-01-26/" +
        f"$hour%02d-00/$wal.parquet"
      val t0 = base + hour * 3600L * 1000000000L
      writeFile(rel, (0 until 5).map(i =>
        (t0 + (file * 10 + i).toLong * 1000000000L, "s", i * 1.0)))
    }
    val snap = SnapshotMeta("edge0", metas.map(_.size_bytes).sum,
      metas.map(_.row_count).sum, metas.map(_.min_time).min,
      metas.map(_.max_time).max,
      Vector(DbTables(0, Vector(TableFiles(0, metas.toVector)))))
    val snapDir = new File(dir, "edge0/snapshots"); snapDir.mkdirs()
    Files.writeString(Paths.get(snapDir.toString, "0000000001.info.json"),
      SnapshotCodec.render(snap))
    dir
  }

  private def countedRun(filesPerHour: Int): (CountingFs, Seq[HostReport]) = {
    val dir = buildFixture(filesPerHour)
    val fs = new CountingFs(Compactor.localFs(spark))
    val reports = new Orchestrator(spark,
      CompactConfig(dataDir = dir.toString), Some(fs)).run()
    (fs, reports)
  }

  test("exists/listStatus call counts scale with directories, not files") {
    val (fsSmall, repSmall) = countedRun(filesPerHour = 2)
    val (fsBig, repBig) = countedRun(filesPerHour = 8)
    // both runs compacted everything (2 hour-buckets each)
    assert(repSmall.head.compacted == 2 && repBig.head.compacted == 2)
    assert(repBig.head.deleted.length == 16)
    // same directory shape => identical metadata-call counts, despite 4×
    // the files: nothing in the exists/list path is per-file any more
    assert(fsBig.existsCalls.get == fsSmall.existsCalls.get,
      s"exists scaled with files: ${fsSmall.existsCalls} -> ${fsBig.existsCalls}")
    assert(fsBig.listCalls.get == fsSmall.listCalls.get,
      s"listings scaled with files: ${fsSmall.listCalls} -> ${fsBig.listCalls}")
    // a file: root is walked with listStatus, never a located listing
    Seq(fsSmall, fsBig).foreach { f =>
      assert(f.listFilesCalls.get == 0 && f.locatedListCalls.get == 0,
        s"located listings on a file: root: listFiles ${f.listFilesCalls}, " +
          s"listLocatedStatus ${f.locatedListCalls}")
    }
    // deletes go file-by-file on the local FS (BulkDelete page size 1) but
    // must not exceed files + dirs (GC) + per-bucket tmp dirs
    assert(fsBig.deleteCalls.get <= 16 + 2 + 2 * 3 + 4,
      s"unexpected delete amplification: ${fsBig.deleteCalls}")
  }

  test("an object-store root lists each date dir with one recursive listFiles") {
    val dir = buildFixture(filesPerHour = 3)
    val under = new graft.operators.ObjSimFileSystem
    under.initialize(java.net.URI.create("objsim:///"),
      spark.sparkContext.hadoopConfiguration)
    val fs = new CountingFs(under)
    // dry run: planning plus the existence check, no data moves
    val r = new Orchestrator(spark,
      CompactConfig(dataDir = "objsim:" + dir.toString, dryRun = true),
      Some(fs)).run().head
    assert(r.buckets == 2 && r.missingFiles.isEmpty)
    // one date directory (2025-01-26) => one listFiles, and no
    // per-directory listStatus walk of the data tree
    assert(fs.listFilesCalls.get == 1, s"listFiles calls: ${fs.listFilesCalls}")
    import scala.jdk.CollectionConverters._
    val walked = fs.statusListed.asScala.filter(_.toString.contains("/dbs/"))
    assert(walked.isEmpty, s"listStatus under dbs/: ${walked.mkString(", ")}")
  }

  test("merged output is correct under the counting FS (sanity)") {
    val (_, reports) = countedRun(filesPerHour = 3)
    val r = reports.head
    assert(r.outputFiles.length == 2)
    assert(r.deleted.length == 6)
  }
}
