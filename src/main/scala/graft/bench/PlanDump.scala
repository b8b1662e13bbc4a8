package graft.bench

import org.apache.spark.sql.execution.ExplainMode
import graft.{Sessions, SparkEntry}

/** Plan dumper: `runMain graft.bench.PlanDump <outDir> <suffix>
  * <query>[,<query>...] [sfDir]` writes each query's finalized formatted
  * physical plan to `<outDir>/<query>_<suffix>.txt` — one Spark session
  * for the whole list, so a before/after capture across a query family
  * pays the sbt+Spark startup once. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sf = args.lift(3).getOrElse("/root/testdata/sf0.001")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = Sessions.local("8")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize AQE so reuse/codegen shows in the plan
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      spark.catalog.clearCache()
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
