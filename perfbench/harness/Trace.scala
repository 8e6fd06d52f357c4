package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's own collector for traced runs: a SparkListener plus a
  * StreamingQueryListener that file every event under the query in
  * flight. Only one query is ever in flight and the listener bus is
  * drained before the next one starts, so a job without the benchmark's
  * job group (a micro-batch thread's) is attributed by time window:
  * to whatever query is current when its events arrive.
  *
  * Nothing is recorded while `current` is -1 (set-up, untraced runs).
  */
final class Trace extends SparkListener {

  @volatile var current: Int = -1

  final class Acc {
    var jobs, stages, stagesSkipped, tasks, tasksFailed = 0L
    var delayMs, runMs, cpuNs, deserMs, gcMs, peakMem = 0L
    var inputBytes, inputRecords = 0L
    var shufWrite, shufRead, fetchWaitMs, shufRecords = 0L
    var spillDisk, spillMem = 0L
    var blocks, blockBytes = 0L
    // (jobId, group, startMs, endMs)
    val jobSpans = mutable.ArrayBuffer[(Int, String, Long, Long)]()
    // one map of duration/state fields per streaming micro-batch
    val batches = mutable.ArrayBuffer[Map[String, Double]]()
    // last progress per stream run: (state rows, state bytes)
    val streamState = mutable.LinkedHashMap[String, (Long, Long)]()
  }

  private val accs = mutable.HashMap[Int, Acc]()
  // jobId -> (query, job group, start ms, stages listed)
  private val jobStart = mutable.HashMap[Int, (Int, String, Long, Int)]()
  private val stageJob = mutable.HashMap[Int, Int]() // stageId -> newest job listing it
  private val stagesRun = mutable.HashMap[Int, Int]() // jobId -> stages completed

  private def acc(q: Int): Acc = accs.getOrElseUpdate(q, new Acc)

  /** Removes and returns what was recorded for query `q`. */
  def take(q: Int): Acc = synchronized(accs.remove(q).getOrElse(new Acc))

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    // a benchmark job group names its query; otherwise the time window does
    val q = if (g.startsWith("perfbench-q")) g.stripPrefix("perfbench-q").toInt else current
    if (q >= 0) {
      jobStart(e.jobId) = (q, g, e.time, e.stageIds.size)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      acc(q).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (q, g, t0, nStages) =>
      val a = acc(q)
      a.jobSpans += ((e.jobId, g, t0, e.time))
      a.stagesSkipped += math.max(0, nStages - stagesRun.remove(e.jobId).getOrElse(0))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (current >= 0) acc(current).stages += 1
    stageJob.get(e.stageInfo.stageId).foreach(j => stagesRun(j) = stagesRun.getOrElse(j, 0) + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (current >= 0) {
      val a = acc(current)
      a.tasks += 1
      if (e.reason != Success) a.tasksFailed += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.deserMs += m.executorDeserializeTime
        a.gcMs += m.jvmGCTime
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRecords += m.inputMetrics.recordsRead
        a.shufWrite += m.shuffleWriteMetrics.bytesWritten
        a.shufRecords += m.shuffleWriteMetrics.recordsWritten
        a.shufRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillDisk += m.diskBytesSpilled
        a.spillMem += m.memoryBytesSpilled
        // the Spark UI's scheduler delay: task wall not spent deserializing,
        // running, serializing the result or fetching it
        if (info != null && info.finishTime > 0)
          a.delayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (current >= 0 && b.blockId.isRDD && b.storageLevel.isValid) {
      val a = acc(current)
      a.blocks += 1
      a.blockBytes += b.memSize + b.diskSize
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        if (current >= 0) {
          val p = e.progress
          val a = acc(current)
          val durations = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
            .map { case (k, v) => k -> v.toDouble }.toMap
          val ops = p.stateOperators
          a.batches += durations ++ Map(
            "stateCommit" -> ops.map(_.commitTimeMs.toDouble).sum,
            "numInputRows" -> p.numInputRows.toDouble)
          a.streamState(p.runId.toString) =
            (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
        }
      }
  }
}
