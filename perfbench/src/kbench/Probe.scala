package kbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One closed span around a call into a layer. Times are
  * `System.nanoTime` readings; `parent` is the id of the enclosing span
  * (-1 at the root) and `op` the id of the workload op it belongs to. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Int)

/** In-memory span recorder. With `enabled = false` every `span` call is a
  * plain call, so untraced runs pay nothing; traced runs keep the spans
  * until `writeTo` dumps them as JSON lines when the run ends. */
final class Tracer(var enabled: Boolean) {
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Int, Int)]() // (span id, op id)
  private var nextId = 0
  private var nextOp = 0

  /** A span that starts a new op (a top-level call of the closed loop). */
  def op[T](name: String)(f: => T): T = open(name, newOp = true)(f)
  def span[T](name: String)(f: => T): T = open(name, newOp = false)(f)

  private def open[T](name: String, newOp: Boolean)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val opId =
        if (newOp || stack.isEmpty) { nextOp += 1; nextOp }
        else stack.head._2
      stack.push(id -> opId)
      val t0 = System.nanoTime()
      try f
      finally {
        done += Span(id, name, t0, System.nanoTime(), parent, opId)
        stack.pop()
      }
    }

  def writeTo(path: java.nio.file.Path): Unit = {
    Files.mkdirs(path.getParent)
    val lines = done.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** A finished Spark job as the benchmark's listener saw it. */
final case class JobRec(id: Int, start: Long, end: Long, callSite: String,
    stages: Seq[Int])

/** A finished task's metrics. */
final case class TaskRec(stage: Int, durationMs: Long, runMs: Long,
    cpuNs: Long, shuffleWrite: Long, spill: Long)

/** Sums over the jobs and tasks attributed to one op or one time window. */
final case class SparkSums(jobs: Int, tasks: Int, jobSecs: Seq[Double],
    busySecs: Double, runSecs: Double, cpuSecs: Double, shuffleWrite: Long,
    spill: Long, taskMs: Seq[Long]) {
  def skew: Double = {
    val s = taskMs.sorted
    if (s.isEmpty) 0.0 else s.last.toDouble / math.max(1L, s(s.length / 2))
  }
}

/** The benchmark's own SparkListener: it keeps job intervals (by the
  * driver's nanoTime clock, converted from the bus's wall-clock stamps)
  * and every task's metrics, so the harness can attribute Spark work to
  * the op whose span encloses the job's start. */
final class JobListener extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  // bus events carry epoch millis; map them onto nanoTime
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNano(ms: Long): Long = ms * 1000000L + offsetNs

  // a stage's name is its call site, e.g. "parquet at Compactor.scala:123"
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (toNano(e.time), e.stageInfos.map(_.name).mkString(";"),
      e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, site, st) =>
      jobs.add(JobRec(e.jobId, t0, toNano(e.time), site, st))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Jobs whose start lies in [t0, t1] and whose call site passes `site`,
    * with their tasks. */
  def sums(t0: Long, t1: Long, site: String => Boolean = _ => true): SparkSums = {
    val js = jobs.asScala.filter(j => j.start >= t0 && j.start <= t1 && site(j.callSite)).toSeq
    val stages = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.filter(t => stages(t.stage)).toSeq
    SparkSums(js.length, ts.length, js.map(j => (j.end - j.start) / 1e9),
      Probe.covered(js.map(j => j.start -> j.end), t0, t1) / 1e9,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9,
      ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum, ts.map(_.durationMs))
  }
}

object Probe {
  /** Nanoseconds of [lo, hi] covered by the union of `ivs`. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => math.max(a, lo) -> math.min(b, hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Block until every event posted so far reached the listeners. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Hadoop storage statistics of the local file system (all threads,
    * driver and local executors alike): bytes read, bytes written. */
  def fsCounters(): Array[Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Array(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def gcSecs(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def peakHeapMb(): Double = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The `fsOverride` seam of `graft.compact.Orchestrator`: the local file
  * system as the orchestrator configures it (no checksum files), counting
  * the driver-side calls it and its Compactor make. Hadoop's local file
  * system keeps no op counts of its own. */
final class CountingFs(conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.hadoop.fs.FilterFileSystem(
      org.apache.hadoop.fs.FileSystem.newInstance(java.net.URI.create("file:///"), conf)) {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  val reads = new java.util.concurrent.atomic.AtomicLong
  val writes = new java.util.concurrent.atomic.AtomicLong
  fs.setVerifyChecksum(false)
  fs.setWriteChecksum(false)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f) }
  override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive) }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, p) }
}
