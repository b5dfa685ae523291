package graft.bench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spark's own job and task metrics, summed per job group. */
final case class GroupTotals(jobs: Long = 0, tasks: Long = 0, runMs: Long = 0,
    cpuNs: Long = 0, shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, deadLetters: Long = 0) {
  def +(o: GroupTotals): GroupTotals = GroupTotals(jobs + o.jobs, tasks + o.tasks,
    runMs + o.runMs, cpuNs + o.cpuNs, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes,
    deadLetters + o.deadLetters)
}

/** Records jobs, tasks, executor run and CPU time, shuffle bytes, spill and
  * the program's dead-letter accumulator updates, keyed by the job group
  * the job ran under (`NoGroup` for jobs outside any group, such as a
  * streaming query's micro-batches). */
class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, GroupTotals]()

  private def add(g: String, t: GroupTotals): Unit =
    totals.merge(g, t, (a: GroupTotals, b: GroupTotals) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(LayerListener.NoGroup)
    e.stageIds.foreach(stageGroup.put(_, g))
    add(g, GroupTotals(jobs = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, LayerListener.NoGroup)
    val m = e.taskMetrics
    val dead = if (e.reason != org.apache.spark.Success) 0L
      else e.taskInfo.accumulables.iterator
        .filter(_.name.contains(graft.streaming.Pipeline.DeadLetterAccumulator))
        .flatMap(_.update).collect { case n: java.lang.Number => n.longValue }.sum
    add(g, if (m == null) GroupTotals(tasks = 1, deadLetters = dead)
      else GroupTotals(tasks = 1, runMs = m.executorRunTime, cpuNs = m.executorCpuTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled, deadLetters = dead))
  }

  def group(g: String): GroupTotals = totals.getOrDefault(g, GroupTotals())
  def all: GroupTotals = totals.values.asScala.foldLeft(GroupTotals())(_ + _)
  def reset(): Unit = totals.clear()
}

object LayerListener {
  val NoGroup = "<none>"
}

/** Keeps the progress of every micro-batch that ran (no-data polls, which
  * carry no `addBatch` duration, are skipped). */
class ProgressListener extends StreamingQueryListener {
  private val buf = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.durationMs.containsKey("addBatch")) buf.add(e.progress)
  def batches: Seq[StreamingQueryProgress] = buf.asScala.toSeq.sortBy(_.batchId)
  def reset(): Unit = buf.clear()
}
