package graft.bench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.Sessions
import graft.compact.{Bucket, Compactor, FileMeta}

/** Compaction-throughput microbench: merge N time-shuffled parquet WAL
  * files into one sorted ZSTD file — the reference's entire data path
  * (kompactor.ts:107-111). Run `tools/merge_bench_duckdb.py` on the same
  * fixture for the engine-to-engine comparison (DuckDB = the reference's
  * embedded engine, threads=4 as it configures).
  *
  * Usage: runMain graft.bench.MergeBench [rowsPerFile] [nFiles]
  * Prints one JSON line with fixture stats and merge seconds.
  */
object MergeBench {
  def main(args: Array[String]): Unit = {
    val rowsPerFile = args.lift(0).map(_.toInt).getOrElse(400000)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(12)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")

    // optional 3rd arg: fixture dir — files already present are reused
    // (re-time merges under different host conditions without 15 min of
    // regeneration), missing ones are generated into it
    val root = args.lift(2).map { d =>
      Files.createDirectories(Paths.get(d)); Paths.get(d)
    }.getOrElse(Files.createTempDirectory("graft_merge_bench"))
    val base = 1737928800L * 1000000000L
    val relDir = "edge0/dbs/db-0/table-0/2025-01-26/22-00"
    Files.createDirectories(Paths.get(root.toString, relDir))

    // fixture: nFiles WAL files, times interleaved across files so the
    // merge sort actually has to work
    val metas = (0 until nFiles).map { f =>
      val rel = f"$relDir/${f + 1}%010d.parquet"
      val dest = Paths.get(root.toString, rel)
      if (!Files.exists(dest)) {
        val tmp = Paths.get(root.toString, s".tmp$f")
        spark.range(rowsPerFile)
          .select(
            (lit(base) + (col("id") * nFiles + f) * 1000000L).as("time"),
            concat(lit("sensor"), pmod(col("id"), lit(500))).as("sensor"),
            (col("id") % 1000).cast("double").as("value"),
            sha1(concat(lit(f), col("id"))).as("payload"))
          .coalesce(1).write.mode("overwrite")
          .option("compression", "zstd").parquet(tmp.toString)
        val part = Files.list(tmp).filter(p => p.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      }
      val size = Files.size(dest)
      FileMeta(f + 1, rel, size, rowsPerFile,
        base, base + f * 1000000L, base + (rowsPerFile.toLong * nFiles) * 1000000L)
    }.toVector
    val totalBytes = metas.map(_.size_bytes).sum

    val fs = Compactor.localFs(spark)
    val bucket = Bucket("edge0", "db-0", "table-0", "2025-01-26", 22,
      metas, metas.map(_.path).toSet)

    // single-file contract (reference parity): no split
    val compactor = new Compactor(spark, fs,
      maxDesiredFileSizeBytes = totalBytes * 2)
    compactor.merge(new Path(root.toString), bucket) // untimed warm-up
    val t0 = System.nanoTime()
    val result = compactor.merge(new Path(root.toString), bucket)
    val singleSec = (System.nanoTime() - t0) / 1e9

    // split path: the 100 MB-target multi-file variant
    val splitter = new Compactor(spark, fs,
      maxDesiredFileSizeBytes = math.max(1L, totalBytes / 8))
    val t1 = System.nanoTime()
    val resultSplit = splitter.merge(new Path(root.toString), bucket)
    val splitSec = (System.nanoTime() - t1) / 1e9

    val rows = metas.map(_.row_count).sum
    println(
      s"""{"fixture_dir":"${root}","rows":$rows,"input_files":$nFiles,""" +
        s""""input_bytes":$totalBytes,"single_file_sec":$singleSec,""" +
        s""""single_rows":${result.map(_.row_count).sum},""" +
        s""""split_sec":$splitSec,"split_files":${resultSplit.length},""" +
        s""""split_rows":${resultSplit.map(_.row_count).sum}}""")
    spark.stop()
  }
}
