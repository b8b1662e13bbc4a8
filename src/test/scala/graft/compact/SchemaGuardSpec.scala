package graft.compact

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** A bucket whose input files disagree on schema must refuse to merge:
  * Spark's multi-file parquet read otherwise adopts ONE footer's schema
  * and silently drops the other files' extra columns from the output.
  * A bucket that agrees is read with the schema the guard took from the
  * footers, which must be the schema Spark would have inferred.
  */
class SchemaGuardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val base = 1737928800L * 1000000000L

  private def writeFile(dest: File, df: org.apache.spark.sql.DataFrame): Unit = {
    dest.getParentFile.mkdirs()
    val tmp = new File(dest.getParentFile, ".tmp_" + dest.getName)
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles.find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
    tmp.listFiles.foreach(_.delete()); tmp.delete()
  }

  test("mismatched input schemas fail loudly instead of dropping columns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_schema_guard").toFile
    val rel1 = "edge0/dbs/db-0/table-0/2025-01-26/22-00/0000000001.parquet"
    val rel2 = "edge0/dbs/db-0/table-0/2025-01-26/22-10/0000000002.parquet"
    writeFile(new File(dir, rel1),
      Seq((base + 1L, "s", 1.0)).toDF("time", "sensor", "value"))
    // second file has an EXTRA column — a schema-evolution landing
    writeFile(new File(dir, rel2),
      Seq((base + 2L, "s", 2.0, "eu")).toDF("time", "sensor", "value", "region"))
    def fm(id: Long, p: String) =
      FileMeta(id, p, new File(dir, p).length(), 1, base, base, base + 2)
    val bucket = Bucket("edge0", "db-0", "table-0", "2025-01-26", 22,
      Vector(fm(1, rel1), fm(2, rel2)), Set(rel1, rel2))

    val err = intercept[IllegalArgumentException] {
      new Compactor(spark, Compactor.localFs(spark))
        .merge(new Path(dir.toString), bucket)
    }
    assert(err.getMessage.contains("disagree on schema"), err.getMessage)
    // nothing was written or deleted
    assert(new File(dir, rel1).isFile && new File(dir, rel2).isFile)
    assert(!new File(dir,
      "edge0/dbs/db-0/table-0/2025-01-26/22-00/c_0000000001_0000000002_h22.parquet").exists())
  }

  /** A raw WAL file as the database writes it: parquet-mr, required
    * columns, no Spark row metadata; columns in the order `cols` lists. */
  private def writeRaw(dest: File, cols: Seq[String],
      rows: Seq[(Long, String, Double)]): Unit = {
    dest.getParentFile.mkdirs()
    val types = Map("time" -> "required int64 time;",
      "sensor" -> "required binary sensor (STRING);",
      "value" -> "required double value;")
    val schema = MessageTypeParser.parseMessageType(
      cols.map(types).mkString("message wal {\n", "\n", "\n}"))
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(dest.toString), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try rows.foreach { case (t, s, v) =>
      w.write(g.newGroup().append("time", t).append("sensor", s).append("value", v))
    } finally w.close()
  }

  test("the read schema from the footers equals Spark's inferred schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_read_schema").toFile
    val root = new Path(dir.toString)
    val t = "edge0/dbs/db-0/table-0/2025-01-26"
    def row(s: Int, tag: String) = (base + s * 1000000000L, tag, s * 0.5)
    // hour 22: a Spark-written c_* file sorts first (its row metadata is
    // the schema), then raw WAL files, one with reordered columns
    val c22 = s"$t/22-00/c_0000000001_0000000003_h22.parquet"
    val w4 = s"$t/22-30/0000000004.parquet"
    val w5 = s"$t/22-40/0000000005.parquet"
    writeFile(new File(dir, c22), Seq(row(3, "c"), row(1, "c"), row(2, "c"))
      .toDF("time", "sensor", "value"))
    writeRaw(new File(dir, w4), Seq("sensor", "value", "time"),
      Seq(row(1810, "w"), row(1805, "w")))
    writeRaw(new File(dir, w5), Seq("time", "sensor", "value"), Seq(row(2405, "v")))
    // hour 23: a late raw WAL file in the hour's first minute dir sorts
    // first by path though last by WAL sequence; its columns are reordered
    val h23 = 3600
    val w7 = s"$t/23-10/0000000007.parquet"
    val w8 = s"$t/23-00/0000000008.parquet"
    writeFile(new File(dir, w7), Seq(row(h23 + 601, "s"), row(h23 + 600, "s"))
      .toDF("time", "sensor", "value"))
    writeRaw(new File(dir, w8), Seq("value", "time", "sensor"),
      Seq(row(h23 + 9, "w"), row(h23 + 2, "w")))

    def fm(id: Long, p: String) = FileMeta(id, p, new File(dir, p).length(), 1,
      base, base, base + 1)
    val buckets = Seq(
      Bucket("edge0", "db-0", "table-0", "2025-01-26", 22,
        Vector(fm(1, c22), fm(4, w4), fm(5, w5)), Set(c22, w4, w5)),
      Bucket("edge0", "db-0", "table-0", "2025-01-26", 23,
        Vector(fm(7, w7), fm(8, w8)), Set(w7, w8)))
    val compactor = new Compactor(spark, Compactor.localFs(spark))
    buckets.foreach { b =>
      val inputs = b.files.map(f => new File(dir, f.path).toString)
      val inferred = spark.read.parquet(inputs: _*)
      val (explicit, _) = compactor.readInputs(root, b, timeRanges = false)
      assert(explicit.fieldNames.toSeq == inferred.schema.fieldNames.toSeq)
      assert(spark.read.schema(explicit).parquet(inputs: _*).schema == inferred.schema)
      val expected = inferred.orderBy("time").collect().toSeq

      val out = compactor.merge(root, b).map(f => new File(dir, f.path).toString)
      val merged = spark.read.parquet(out: _*)
      assert(merged.schema.fieldNames.toSeq == inferred.schema.fieldNames.toSeq)
      val rows = merged.collect().toSeq
      assert(rows == expected) // same rows, same column order, time-sorted
    }
    // the two buckets really took different first-file column orders
    assert(spark.read.parquet(new File(dir, s"$t/22-00/c_0000000001_0000000005_h22.parquet")
      .toString).schema.fieldNames.toSeq == Seq("time", "sensor", "value"))
    assert(spark.read.parquet(new File(dir, s"$t/23-00/c_0000000007_0000000008_h23.parquet")
      .toString).schema.fieldNames.toSeq == Seq("value", "time", "sensor"))
  }
}
