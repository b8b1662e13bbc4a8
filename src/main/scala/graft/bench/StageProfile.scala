package graft.bench

import org.apache.spark.sql.SparkSession
import graft.{Sessions, SparkEntry}

/** Per-stage wall/task profile of one or more declared queries —
  * `runMain graft.bench.StageProfile <query>[,<query>...] [sfDir] [cpus]`.
  * The bench gives per-query totals; this answers WHERE inside a query
  * the time goes (guide §1.1/§7.1 without the UI, which the sessions
  * keep disabled): one warm-up pass, then a timed pass with a
  * [[StageListener]] printing duration / task count / shuffle bytes per
  * stage, sorted by duration. Measurement tooling only — no query semantics. */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sf = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.quietBenignWarnings()
    val listener = new StageListener
    names.foreach { name =>
      def run(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sf)
          .write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm-up
      listener.reset()
      spark.sparkContext.addSparkListener(listener)
      val sec = run()
      // drain the listener bus so the final stages are captured
      graft.Bench.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val stages = listener.stages
      println(f"== $name: $sec%.2f s, ${stages.size} stages, " +
        f"${stages.map(_.tasks).sum} tasks ==")
      stages.sortBy(-_.ms).take(25).foreach { s =>
        println(f"  ${s.ms}%6d ms  tasks=${s.tasks}%4d  " +
          f"sread=${s.shuffleRead}%9d  swrite=${s.shuffleWrite}%9d  in=${s.input}%9d  " +
          f"[${s.id}] ${s.name.take(90)}")
      }
    }
    spark.stop()
  }
}
