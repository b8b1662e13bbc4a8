package kbench

import java.nio.file.{Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.Sessions

/** Shared state of one benchmark process: the session, the probes and the
  * op counters. A round of a workload is a sequence of ops; an op fails
  * when its call throws or when a check of its output finds a violation,
  * and each failed op counts once toward `error_rate`. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
    val plant: String) {
  val tracer = new Tracer(false)
  var listener: Option[JobListener] = None
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()

  final class Op(val name: String) {
    private var bad = false
    var secs = 0.0
    var start = 0L
    var end = 0L
    def fail(why: String): Unit = {
      if (problems.length < 20) problems += s"$name: $why"
      if (!bad) { bad = true; failed += 1 }
    }
    def check(ok: Boolean, why: => String): Unit = if (!ok) fail(why)
  }

  /** Run one op of the closed loop: the caller waits for it to return. */
  def call[T](name: String)(body: => T): (Op, Option[T]) = {
    val op = new Op(name)
    attempted += 1
    op.start = System.nanoTime()
    val r =
      try Some(tracer.op(name)(body))
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          op.fail(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          None
      }
    op.end = System.nanoTime()
    op.secs = (op.end - op.start) / 1e9
    (op, r)
  }

  /** Spark work attributed to `op`, optionally only jobs whose call site
    * passes `site` (bucket merges overlap inside one orchestrator run). */
  def sparkOf(op: Op, site: String => Boolean = _ => true): SparkSums = {
    Probe.drain(spark.sparkContext)
    listener.get.sums(op.start, op.end, site)
  }
}

/** One workload: a set-up, then rounds of a closed loop. End-to-end
  * metrics come from untraced rounds; `layers` summarizes traced ones. */
trait Workload {
  /** Write the inputs from the seed, replacing any earlier copy: set-up
    * runs it several times and counts its median wall. */
  def generate(): Unit
  /** Warm up on the generated inputs, checking the outputs; returns what
    * the fixture holds. */
  def warmUp(): Seq[(String, Any)]
  /** One round of the loop; returns its wall in seconds (the round's
    * timed calls, without the off-clock fixture copies and checks). */
  def round(traced: Boolean): Double
  /** Walls of the timed calls of untraced rounds after the warm-up, keyed
    * by call (the same call recurs once per round). */
  def timed: Map[String, Seq[Double]]
  /** The keys of `timed` that are user-facing calls for `call_gmean_ms`. */
  def isCall(key: String): Boolean = true
  def layers: Seq[(String, Double)]
  /** Rounds an untraced run makes at least, whatever `--seconds` says. */
  def minRounds: Int
  /** Traced runs only: extra traced calls after the loop. */
  def finish(): Unit = ()
  /** Extra facts for the run record (e.g. inputs of the reference replay). */
  def extra: Seq[(String, Any)] = Nil
}

/** `kbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * [--plant FAULT]`: runs one workload in one Spark session at
  * `local[nproc]` and prints one JSON line (metrics, counters, facts). */
object Main {
  /** Input generations per set-up; `setup_s` counts their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.deleteTree(work)
    Files.mkdirs(work)

    val cores = Runtime.getRuntime.availableProcessors
    val (spark, sessionS) = Probe.time {
      val s = Sessions.configure(SparkSession.builder().master(s"local[$cores]"),
        cores.toString).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      Sessions.quietBenignWarnings()
      graft.functions.GraftFunctions.register(s)
      s
    }
    val ctx = new Ctx(spark, seed, work, opts.getOrElse("plant", ""))
    val wl: Workload = workload match {
      case "compact_hourly" => new CompactHourly(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up = session start + median input generation + warm-up
    val genS = (1 to SetupReps).map(_ => Probe.time(wl.generate())._2)
    val (fixture, warmS) = Probe.time(wl.warmUp())
    val setupS = sessionS + Probe.median(genS) + warmS

    // closed loop; a traced run alternates untraced and traced rounds,
    // untraced first and last, so the difference between the two is the
    // tracing overhead rather than the warm-up between them. All three
    // probes (spans, the listener, the counting file system) are on in
    // traced rounds only.
    val listener = new JobListener
    def traced[T](body: => T): T = {
      spark.sparkContext.addSparkListener(listener)
      ctx.listener = Some(listener)
      ctx.tracer.enabled = true
      try body
      finally {
        ctx.tracer.enabled = false
        Probe.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        ctx.listener = None
      }
    }
    val t0 = System.nanoTime()
    val walls = mutable.ArrayBuffer[(Boolean, Double)]()
    val minRounds = if (trace) 3 else wl.minRounds
    while (walls.length < minRounds || (System.nanoTime() - t0) / 1e9 < seconds ||
        (trace && walls.length % 2 == 0)) {
      val on = trace && walls.length % 2 == 1
      walls += on -> (if (on) traced(wl.round(true)) else wl.round(false))
    }
    val untraced = walls.collect { case (false, w) => w }.toSeq
    val tracedWalls = walls.collect { case (true, w) => w }.toSeq
    if (trace) {
      traced(wl.finish())
      ctx.tracer.writeTo(work.resolve(s"../trace/$workload-$seed.jsonl").normalize)
    }

    // Units come from BENCHMARK.json; the runner attaches them. Each
    // timed call counts with its fastest wall over the run's rounds (host
    // jitter only ever adds time, as graft.Bench notes): round_s sums
    // them; call_gmean_ms is their geometric mean over the user-facing
    // calls, which weighs the small-call tail as much as the heavy calls
    // and, unlike a median of a handful of calls, does not jump between
    // calls from run to run.
    val best = wl.timed.view.mapValues(_.min).toMap
    val callBest = best.filter(kv => wl.isCall(kv._1)).values
    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        "round_s" -> best.values.sum,
        "call_gmean_ms" -> math.exp(callBest.map(math.log).sum / callBest.size) * 1e3)
      else wl.layers ++ Seq(
        "trace_overhead" -> (Probe.median(tracedWalls) / Probe.median(untraced) - 1),
        "error_rate" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
        "jvm.gc_s" -> Probe.gcSecs(),
        "jvm.peak_heap_mb" -> Probe.peakHeapMb())
    val facts = Seq(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "nproc" -> cores,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "round_walls_s" -> untraced, "traced_round_walls_s" -> tracedWalls,
      "call_walls_s" -> wl.timed,
      "setup_parts_s" -> Map("session" -> sessionS, "generate" -> genS,
        "warm_up" -> warmS),
      "fixture" -> fixture.toMap, "problems" -> ctx.problems.toSeq) ++ wl.extra
    println(Json.obj(Seq(
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> metrics.toMap,
      "facts" -> facts.toMap)))
    spark.stop()
  }
}
