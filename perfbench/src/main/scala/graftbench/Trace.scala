package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a call boundary of the benchmark. `parent` is -1
 * for a top-level span. Times are epoch nanoseconds (wall clock anchored
 * once, advanced by System.nanoTime); `cpu*Ns` is the JVM's process CPU
 * time (all threads) at the span's start and end. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, cpuStartNs: Long, var endNs: Long = -1L, var cpuEndNs: Long = -1L,
    var ok: Boolean = true, var error: String = "")

/** Spans at the benchmark's own call boundaries, kept in memory. They are
 * recorded in every run (the operation timings come from them); Spark's
 * listeners are attached only in a traced run. */
final class Spans {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowNs: Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  val all = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Run `body` inside a span; a throw marks the span failed and is
   * rethrown. */
  def apply[T](name: String, kind: String)(body: => T): T = {
    val s = Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name, kind, nowNs, cpuNs)
    all += s
    stack = s :: stack
    try body
    catch { case t: Throwable =>
      s.ok = false
      s.error = Option(t.getMessage).getOrElse(t.getClass.getName)
        .linesIterator.take(1).mkString.take(300)
      throw t
    } finally {
      s.endNs = nowNs
      s.cpuEndNs = cpuNs
      stack = stack.tail
    }
  }
}

/** Spark-side events of a traced run, from Spark's public listener APIs:
 * jobs, stages and tasks (SparkListener), Catalyst phases and exchanges
 * of each executed query (QueryExecutionListener), and micro-batch
 * progress (StreamingQueryListener). Each event keeps its wall-clock
 * time so it can be placed under the benchmark span that was open. */
final class Layers extends SparkListener with QueryExecutionListener {
  import Layers._

  val jobs = ArrayBuffer.empty[Job]
  val stages = ArrayBuffer.empty[Stage]
  val tasks = ArrayBuffer.empty[Task]
  val planned = ArrayBuffer.empty[Planned]
  val batches = ArrayBuffer.empty[Batch]
  @volatile var events = 0L
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    jobs += Job(e.jobId, e.time, -1L, prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId"))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    events += 1
    val i = e.stageInfo
    stages += Stage(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m == null) tasks += Task(e.stageId, info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    else tasks += Task(e.stageId, info.launchTime, info.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.shuffleReadMetrics.fetchWaitTime, m.inputMetrics.bytesRead,
      m.inputMetrics.recordsRead)
  }

  private val planHelper = new AdaptiveSparkPlanHelper {}
  private def record(qe: QueryExecution): Unit = synchronized {
    events += 1
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val at = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    val ex = try planHelper.collectWithSubqueries(qe.executedPlan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size catch { case _: Throwable => 0 }
    planned += Planned(at, ms("analysis"), ms("optimization"), ms("planning"), ex)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Layers.this.synchronized {
        events += 1
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val ops = p.stateOperators
        batches += Batch(p.id.toString, p.batchId, start,
          start + d("triggerExecution"), d("latestOffset"), d("queryPlanning"),
          d("addBatch"), d("walCommit") + d("commitOffsets"),
          ops.map(_.numRowsTotal).sum, ops.map(_.numRowsRemoved).sum,
          ops.map(_.commitTimeMs).sum)
      }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  /** Listener events arrive on Spark's asynchronous bus: wait until no new
   * event has arrived for a few polls. */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    var waited = 0
    while (quiet < 3 && waited < 40) {
      Thread.sleep(100); waited += 1
      if (events == last) quiet += 1 else { quiet = 0; last = events }
    }
  }
}

object Layers {
  /** `query`/`batch`: the streaming query id and micro-batch id of a job
   * run by a stream, empty otherwise. */
  final case class Job(id: Int, startMs: Long, var endMs: Long, query: String, batch: String)
  final case class Stage(id: Int, job: Int, submitMs: Long, endMs: Long, tasks: Int)
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shWrite: Long, shRead: Long, spill: Long, fetchWaitMs: Long,
      inBytes: Long, inRows: Long)
  final case class Planned(atMs: Long, analysisMs: Long, optimizerMs: Long,
      planningMs: Long, exchanges: Int)
  final case class Batch(query: String, batchId: Long, startMs: Long, endMs: Long,
      latestOffsetMs: Long, planningMs: Long, addBatchMs: Long, commitMs: Long,
      stateRows: Long, stateRemoved: Long, stateCommitMs: Long)
}
