package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder: Spark jobs and stages from a
  * `SparkListener`, streaming progress from a `StreamingQueryListener`.
  * Everything stays in memory until the run ends; `run.py` turns the
  * records into spans (workload → operation → job → stage).
  *
  * Jobs carry the local properties that parent them: the job group
  * the harness sets per query call, and the streaming query id and
  * batch id Spark sets on micro-batch jobs.
  */
final class Tracer extends SparkListener {
  private val started = new ConcurrentHashMap[Int, (Long, Map[String, Any])]()
  private val taskMs = new ConcurrentHashMap[(Int, Int), ArrayBuffer[Long]]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val progress = new ConcurrentLinkedQueue[Json.Raw]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Option[String] =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    started.put(e.jobId, (e.time, Map(
      "group" -> prop("spark.jobGroup.id"),
      "query_id" -> prop("sql.streaming.queryId"),
      "batch_id" -> prop("streaming.sql.batchId").map(_.toLong),
      "stages" -> e.stageIds)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { case (t0, m) =>
      jobs.add(m ++ Map("id" -> e.jobId, "start_ms" -> t0,
        "end_ms" -> e.time, "ok" -> (e.jobResult == JobSucceeded)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) {
      val buf = taskMs.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => ArrayBuffer.empty[Long])
      buf.synchronized(buf += e.taskInfo.duration)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val ms = Option(taskMs.remove((si.stageId, si.attemptNumber())))
      .map(b => b.synchronized(b.sorted.toSeq)).getOrElse(Seq.empty)
    val tm = Option(si.taskMetrics)
    stages.add(Map(
      "id" -> si.stageId,
      "tasks" -> si.numTasks,
      "start_ms" -> si.submissionTime,
      "end_ms" -> si.completionTime,
      "shuffle_read_bytes" ->
        tm.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      "shuffle_write_bytes" ->
        tm.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      "spill_bytes" ->
        tm.map(m => m.memoryBytesSpilled + m.diskBytesSpilled).getOrElse(0L),
      "task_ms_max" -> ms.lastOption,
      "task_ms_median" -> ms.lift(ms.size / 2)))
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(Json.Raw(e.progress.json))
  }

  def record: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "progress" -> progress.asScala.toSeq)
}
