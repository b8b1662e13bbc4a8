package graft.compact

import java.io.File
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The resurrected sizing logic (reference dead config, kompactor.ts:38-57):
  * outputs beyond the 130% cutoff split into n ≈ total/target time-ranged
  * files, each individually sorted, with per-file footer-exact metadata. */
class SizingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val base = 1737928800L * 1000000000L

  test("oversized bucket splits into time-disjoint sorted parts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sizing").toFile
    val fs = Compactor.localFs(spark)

    // two input files ~> a few hundred KB total, target 64 KB -> split
    def writeInput(name: String, offset: Long, n: Int): (String, File) = {
      val rel = s"edge0/dbs/db-0/table-0/2025-01-26/22-00/$name"
      val f = new File(dir, rel)
      f.getParentFile.mkdirs()
      val tmp = new File(f.getParentFile, ".t")
      (0 until n).map(i => (base + offset + i.toLong * 1000003L, s"sensor$i", i * 0.5))
        .toDF("time", "sensor", "value")
        .coalesce(1).write.mode("overwrite")
        .option("compression", "none").parquet(tmp.toString)
      val part = tmp.listFiles.find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, f.toPath)
      tmp.listFiles.foreach(_.delete()); tmp.delete()
      (rel, f)
    }
    val (relA, fa) = writeInput("0000000001.parquet", 0L, 30000)
    val (relB, fb) = writeInput("0000000002.parquet", 500L, 30000)

    val bucket = Bucket("edge0", "db-0", "table-0", "2025-01-26", 22,
      Vector(
        FileMeta(1, relA, fa.length(), 30000, base, base, base + 30000L * 1000003L),
        FileMeta(2, relB, fb.length(), 30000, base, base + 500,
          base + 500 + 30000L * 1000003L)),
      Set(relA, relB))

    val compactor = new Compactor(spark, fs,
      maxDesiredFileSizeBytes = 64L * 1024)
    val result = compactor.merge(new Path(dir.toString), bucket)

    assert(result.length > 1, s"expected split, got ${result.length}")
    // exact naming contract with part suffixes
    assert(result.forall(_.path.matches(
      ".*c_0000000001_0000000002_h22_p\\d\\d\\.parquet")))
    // per-file stats are real footer values; parts cover disjoint,
    // ascending time ranges; total row count preserved
    assert(result.map(_.row_count).sum == 60000)
    val ranges = result.map(f => (f.min_time, f.max_time))
    assert(ranges == ranges.sortBy(_._1))
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(aMax <= bMin)
      case _ => ()
    }
    // every part exists and is itself time-sorted
    result.foreach { f =>
      val times = spark.read.parquet(new File(dir, f.path).toString)
        .select("time").collect().map(_.getLong(0))
      assert(times.sameElements(times.sorted))
      assert(times.length == f.row_count)
      assert(new File(dir, f.path).length() == f.size_bytes)
    }

    // single-file contract via PARALLEL parts + row-group concat: tiny
    // sort partitions force multiple parts, large target forces one file
    val concat = new Compactor(spark, fs,
      maxDesiredFileSizeBytes = 1L << 30, sortPartitionBytes = 32L * 1024)
    val single = concat.merge(new Path(dir.toString), bucket)
    assert(single.length == 1)
    val f = single.head
    assert(f.path.endsWith("c_0000000001_0000000002_h22.parquet"))
    assert(f.row_count == 60000)
    val merged = spark.read.parquet(new File(dir, f.path).toString)
      .select("time").collect().map(_.getLong(0))
    assert(merged.length == 60000)
    assert(merged.sameElements(merged.sorted)) // globally sorted across parts
    assert(f.min_time == merged.head && f.max_time == merged.last)

    // REGRESSION: a bucket whose inputs include split parts (_pNN) plus a
    // late WAL file must re-plan (the part names carry the WAL range) and
    // re-merge rather than crash the planner
    val partMetas = result
    val (relC, fc) = writeInput("0000000003.parquet", 900L, 1000)
    val lateMeta = FileMeta(3, relC, fc.length(), 1000, base,
      base + 900, base + 900 + 1000L * 1000003L)
    val reFiles = (partMetas :+ lateMeta).sortBy(m =>
      (WalSeq.extractOrThrow(m.path.substring(m.path.lastIndexOf('/') + 1)),
        m.path))
    val reBucket = Bucket("edge0", "db-0", "table-0", "2025-01-26", 22,
      reFiles.toVector, reFiles.map(_.path).toSet)
    assert(reBucket.firstWal == 1L && reBucket.lastWal == 3L)
    val refolded = concat.merge(new Path(dir.toString), reBucket)
    assert(refolded.length == 1)
    assert(refolded.head.path.endsWith("c_0000000001_0000000003_h22.parquet"))
    assert(refolded.head.row_count == 61000)
  }
}
