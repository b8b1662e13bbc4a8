package kbench

import java.nio.file.{Files => JFiles, Path}
import scala.collection.mutable
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.compact.{CompactConfig, Compactor, HostReport, Orchestrator,
  Planner, SnapshotCodec}

/** The paper's own job: `Orchestrator.run` over a seeded InfluxDB 3 tree
  * (InfluxTree), each round on a fresh copy of the pristine tree made off
  * the clock, because compaction deletes its inputs. After each run it
  * times a seeded set of time-range scans over the files the rewritten
  * snapshots list (the read cost the compacted layout buys). */
final class CompactHourly(ctx: Ctx) extends Workload {
  import CompactHourly._
  private val spark = ctx.spark
  private val pristine = ctx.work.resolve("pristine")
  private val tree = ctx.work.resolve("tree")
  private var fx: InfluxFixture = _
  private var expected: Map[BucketKey, FileStats] = Map.empty
  private var pristineFiles: Set[String] = Set.empty
  private val calls = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private val layer = mutable.ArrayBuffer[Map[String, Double]]()

  def generate(): Unit =
    fx = InfluxTree.generate(pristine, ctx.seed, Hours, SmallRows, HotFactor, NScans)

  def warmUp(): Seq[(String, Any)] = {
    pristineFiles = fx.stats.keySet
    expected = fx.stats.toSeq.groupMapReduce(f => bucketOf(f._1).get)(_._2)(_ + _)
    // checked like every round, but its walls do not count: the JIT is
    // still compiling through the first rounds
    (1 to WarmupRounds).foreach(_ => round(traced = false))
    calls.clear()
    Seq("rows" -> fx.rows, "bytes" -> fx.bytes, "files" -> fx.files,
      "buckets" -> fx.buckets, "snapshots" -> fx.snapshots, "scans" -> fx.scans.length)
  }

  /** Walls fall ~25 % over the first rounds and level off around the
    * fifth; each call counts with its fastest of four. */
  def minRounds: Int = 4

  def timed: Map[String, Seq[Double]] = calls.view.mapValues(_.toSeq).toMap
  override def isCall(key: String): Boolean = key.startsWith("scan")

  def round(traced: Boolean): Double = {
    val extras = if (traced) layerCalls() else Map.empty[String, Double]
    Files.copyTree(pristine, tree)
    if (ctx.plant == "failed_op") Files.deleteTree(tree.resolve("host-0/dbs"))
    val counting =
      if (traced) Some(new CountingFs(spark.sparkContext.hadoopConfiguration)) else None
    val fs0 = Probe.fsCounters()
    val (run, reports) = ctx.call("compact.run") {
      new Orchestrator(spark, CompactConfig(dataDir = tree.toString), counting).run()
    }
    val fs1 = Probe.fsCounters()
    val merge = if (traced) Some(ctx.sparkOf(run, _.contains("Compactor"))) else None
    val all = if (traced) Some(ctx.sparkOf(run)) else None
    plantFault()
    val outBytes = verify(run, reports.getOrElse(Nil))

    val scanFiles = snapshotFiles()
    val fs2 = Probe.fsCounters()
    val scanSecs = fx.scans.map { s =>
      val files = scanFiles.getOrElse((s.host, s.db, s.table), Nil)
        .map(f => tree.resolve(f).toString)
      val (op, n) = ctx.call("compact.scan") {
        spark.read.parquet(files: _*)
          .filter(col("time") >= s.lo && col("time") < s.hi).count()
      }
      n.foreach(c => op.check(c == s.expected,
        s"scan ${s.host}/${s.db}/${s.table} counted $c, generator says ${s.expected}"))
      op.secs
    }
    val fs3 = Probe.fsCounters()
    if (!traced) (("run" -> run.secs) +: scanSecs.zipWithIndex.map { case (w, i) =>
      s"scan$i" -> w }).foreach { case (k, w) =>
      calls.getOrElseUpdate(k, mutable.ArrayBuffer()) += w }
    else {
      val m = merge.get
      layer += extras ++ Map(
        "compact.orchestrator.driver_self_s" -> (run.secs - all.get.busySecs),
        "compact.merge.jobs" -> m.jobs.toDouble,
        "compact.merge.tasks" -> m.tasks.toDouble,
        "compact.merge.job_p50_s" -> Probe.median(m.jobSecs),
        "compact.merge.job_max_s" -> (if (m.jobSecs.isEmpty) 0.0 else m.jobSecs.max),
        "compact.merge.executor_run_s" -> m.runSecs,
        "compact.merge.executor_cpu_s" -> m.cpuSecs,
        "compact.merge.shuffle_write_bytes" -> m.shuffleWrite.toDouble,
        "compact.merge.spill_bytes" -> m.spill.toDouble,
        "compact.fs.bytes_read" -> (fs1(0) - fs0(0)).toDouble,
        "compact.fs.bytes_written" -> (fs1(1) - fs0(1)).toDouble,
        "compact.fs.read_ops" -> counting.get.reads.get.toDouble,
        "compact.fs.write_ops" -> counting.get.writes.get.toDouble,
        "compact.write_amp" -> (fs1(1) - fs0(1)).toDouble / fx.bytes,
        "compact.out_bytes_ratio" -> outBytes,
        "compact.read_s" -> scanSecs.sum,
        "compact.read.bytes_read" -> (fs3(0) - fs2(0)).toDouble)
    }
    run.secs + scanSecs.sum
  }

  /** Direct calls into the codec, planner and a dry run, each timed on
    * its own fresh copy: the layers under `Orchestrator.run`. */
  private def layerCalls(): Map[String, Double] = {
    val snaps = Files.list(pristine).filter(_.endsWith(".info.json"))
      .map(f => new String(JFiles.readAllBytes(pristine.resolve(f)), "UTF-8"))
    val (parsed, parseS) = Probe.time(ctx.tracer.span("compact.codec.parse")(
      snaps.map(SnapshotCodec.parse)))
    val (_, renderS) = Probe.time(ctx.tracer.span("compact.codec.render")(
      parsed.map(SnapshotCodec.render)))
    val ((buckets, _), planS) = Probe.time(ctx.tracer.span("compact.planner.plan")(
      Planner.plan(parsed)))
    Files.copyTree(pristine, tree)
    val (dry, _) = ctx.call("compact.dryrun") {
      new Orchestrator(spark, CompactConfig(dataDir = tree.toString, dryRun = true)).run()
    }
    // the hot bucket merged alone, through the Compactor directly
    val (h, d, t) = InfluxTree.Hot
    val hot = buckets.find(b => b.host == h && b.db == d && b.table == t &&
      b.hourStart == 0).get
    val fs = new HPath(tree.toString).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (one, _) = ctx.call("compact.one_bucket") {
      new Compactor(spark, fs).merge(new HPath(tree.toString), hot)
    }
    Map("compact.codec.parse_s" -> parseS, "compact.codec.render_s" -> renderS,
      "compact.planner.plan_s" -> planS,
      "compact.planner.buckets" -> buckets.length.toDouble,
      "compact.orchestrator.dryrun_s" -> dry.secs,
      "compact.one_bucket_s" -> one.secs)
  }

  /** Self-test hook: damage the compacted output the way a faulty merge
    * would, so the checks below must notice. */
  private def plantFault(): Unit = ctx.plant match {
    case "drop_row" | "unsorted_part" =>
      val victim = Files.list(tree).filter(f => f.endsWith(".parquet") &&
        !pristineFiles(f)).head
      val p = tree.resolve(victim).toString
      val df = spark.read.parquet(p)
      val bad =
        if (ctx.plant == "drop_row") df.orderBy("time").limit(df.count().toInt - 1)
        else df.orderBy(col("time").desc)
      val tmp = ctx.work.resolve("planted").toString
      bad.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(ctx.work.resolve("planted"))
        .find(f => f.startsWith("part-") && f.endsWith(".parquet")).get
      JFiles.move(ctx.work.resolve("planted").resolve(part), tree.resolve(victim),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    case _ =>
  }

  /** Off-clock checks of one run; returns compacted bytes / input bytes. */
  private def verify(run: ctx.Op, reports: Seq[HostReport]): Double = {
    val onDisk = Files.list(tree).filter(_.endsWith(".parquet"))
    val stats = onDisk.map(f => f -> InfluxTree.readStats(tree.resolve(f))).toMap
    // rows and content conserved per bucket
    val after = stats.toSeq.groupMapReduce(f => bucketOf(f._1).get)(_._2)(_ + _)
    expected.foreach { case (b, e) =>
      val a = after.getOrElse(b, FileStats.Empty)
      run.check(a.rows == e.rows && a.digest == e.digest,
        s"bucket $b: ${a.rows} rows (digest ${a.digest}), expected ${e.rows} (${e.digest})")
    }
    // each output file is sorted by time (raw inputs are not)
    stats.filterNot(f => pristineFiles(f._1)).foreach { case (f, s) =>
      run.check(s.descents == 0, s"$f has ${s.descents} rows out of time order")
    }
    // no merged original remains
    reports.flatMap(_.deleted).foreach(f =>
      run.check(!JFiles.exists(tree.resolve(f)), s"merged input $f still on disk"))
    val compacted = expected.keySet.filter { b =>
      pristineFiles.count(f => bucketOf(f).contains(b)) > 1 }
    onDisk.filter(f => pristineFiles(f) && bucketOf(f).exists(compacted))
      .foreach(f => run.check(false, s"original $f of a compacted bucket remains"))
    run.check(reports.flatMap(_.missingFiles).toSet == fx.missing,
      s"missing files reported ${reports.flatMap(_.missingFiles)}, planted ${fx.missing}")
    // every snapshot entry resolves and its stats match the file
    Files.list(tree).filter(_.endsWith(".info.json")).foreach { sf =>
      val snap = SnapshotCodec.parse(
        new String(JFiles.readAllBytes(tree.resolve(sf)), "UTF-8"))
      val files = snap.allFiles
      run.check(snap.row_count == files.map(_.row_count).sum &&
        snap.parquet_size_bytes == files.map(_.size_bytes).sum &&
        snap.min_time == files.map(_.min_time).min &&
        snap.max_time == files.map(_.max_time).max, s"$sf aggregates disagree with its files")
      files.filterNot(f => fx.missing(f.path)).foreach { f =>
        stats.get(f.path) match {
          case None => run.check(false, s"$sf lists ${f.path}, not on disk")
          case Some(s) => run.check(s.rows == f.row_count && s.minTime == f.min_time &&
            s.maxTime == f.max_time && JFiles.size(tree.resolve(f.path)) == f.size_bytes,
            s"$sf entry ${f.path} disagrees with the file")
        }
      }
    }
    val out = onDisk.filterNot(pristineFiles).map(f => JFiles.size(tree.resolve(f))).sum
    val in = pristineFiles.filterNot(f => JFiles.exists(tree.resolve(f)))
      .toSeq.map(f => JFiles.size(pristine.resolve(f))).sum
    if (in == 0) 0.0 else out.toDouble / in
  }

  /** (host, db, table) -> data files listed by the current snapshots. */
  private def snapshotFiles(): Map[(String, String, String), Seq[String]] =
    Files.list(tree).filter(_.endsWith(".info.json")).flatMap { sf =>
      SnapshotCodec.parse(new String(JFiles.readAllBytes(tree.resolve(sf)), "UTF-8"))
        .allFiles.map(_.path)
    }.distinct.filter(f => JFiles.exists(tree.resolve(f))).flatMap(f =>
      bucketOf(f).map(b => (b.host, b.db, b.table) -> f)).groupMap(_._1)(_._2)

  def layers: Seq[(String, Double)] = {
    val names = layer.flatMap(_.keys).distinct
    names.map(n => n -> Probe.median(layer.flatMap(_.get(n)).toSeq)).toSeq
  }

  override def extra: Seq[(String, Any)] =
    Seq("hot_bucket_inputs" -> fx.hotInputs.map(f => pristine.resolve(f).toString))
}

object CompactHourly {
  val Hours = 2
  val SmallRows = 400
  val HotFactor = 20
  val NScans = 8
  val WarmupRounds = 1

  final case class BucketKey(host: String, db: String, table: String,
      date: String, hour: Int) {
    override def toString: String = s"$host/$db/$table/$date/$hour"
  }
  private val PathRx =
    """^([^/]+)/dbs/([^/]+)/([^/]+)/(\d{4}-\d{2}-\d{2})/(\d{2})-\d{2}/[^/]+\.parquet$""".r
  def bucketOf(rel: String): Option[BucketKey] = rel match {
    case PathRx(h, d, t, date, hh) => Some(BucketKey(h, d, t, date, hh.toInt))
    case _ => None
  }
}
