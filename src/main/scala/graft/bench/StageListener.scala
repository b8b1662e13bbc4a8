package graft.bench

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerTaskEnd}

/** Per-stage metrics of the work that runs while it is registered: tasks,
  * shuffle read and write bytes, input bytes (summed over `onTaskEnd`),
  * and the stage's wall (submission to completion). The sessions keep the
  * Spark UI off, so this is how `graft.Bench` and `StageProfile` see
  * stages. Drain with `graft.Bench.drainListenerBus` before reading, or
  * the last task-ends may still be queued. */
final class StageListener extends SparkListener {
  private val byId = scala.collection.mutable.LinkedHashMap[Int, StageStats]()

  private def update(id: Int)(f: StageStats => StageStats): Unit =
    byId(id) = f(byId.getOrElse(id, StageStats(id)))

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) synchronized(update(t.stageId)(s => s.copy(
      tasks = s.tasks + 1,
      shuffleRead = s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      input = s.input + m.inputMetrics.bytesRead)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val ms = for (a <- i.completionTime; b <- i.submissionTime) yield a - b
    synchronized(update(i.stageId)(_.copy(
      name = i.name.takeWhile(_ != '\n'), ms = ms.getOrElse(-1L))))
  }

  def stages: Vector[StageStats] = synchronized(byId.values.toVector)
  def reset(): Unit = synchronized(byId.clear())
}

final case class StageStats(id: Int, name: String = "", ms: Long = -1L,
    tasks: Long = 0L, shuffleRead: Long = 0L, shuffleWrite: Long = 0L,
    input: Long = 0L)
