package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * Harness spans are taken around the benchmark's own calls into each
  * layer of a traced request. Spark-side records come from public
  * listeners, attached for the whole timed phase of a traced run. Jobs
  * (and their stages) are tied to a traced request through the job-local
  * property [[ReqProp]], set by the client thread before the request; the
  * final execution of a request is claimed by its client ([[claim]]).
  * Records of untraced requests carry no request id. Every timestamp is
  * epoch milliseconds as a double, so harness spans (nanoTime-based) and
  * listener events (epoch ms) share one clock.
  */
object Trace {
  val ReqProp = "perfbench.req"

  private var attached = false

  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + epochOffsetNs) / 1e6

  final case class Span(id: Long, parent: Long, name: String, req: Long,
      start: Double, end: Double)
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** (request id, innermost open span id) of the calling client thread;
    * the id is -1 outside a traced request.
    */
  private val ctx = new ThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (-1L, 0L)
  }
  private def tracing: Boolean = ctx.get()._1 >= 0

  /** Time `body` as span `name`, child of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val (req, parent) = ctx.get()
      val id = ids.incrementAndGet()
      ctx.set((req, id))
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, parent, name, req, t0, nowMs))
        ctx.set((req, parent))
      }
    }

  /** Run one traced request as the root span `request`, attributing
    * Spark work.
    */
  def request[A](spark: SparkSession, req: Long)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ReqProp, req.toString)
    ctx.set((req, 0L))
    try span("request")(body)
    finally {
      ctx.set((-1L, 0L))
      sc.setLocalProperty(ReqProp, null)
    }
  }

  /** Tie `qe` (an execution the calling client just ran) to its request;
    * the QueryExecutionListener reports it under the same id.
    */
  def claim(qe: QueryExecution): Unit = if (tracing) {
    val req = ctx.get()._1
    Trace.synchronized { claimed(qe.id) = req }
  }

  // ---- Spark-side records -------------------------------------------

  final class StageRec(val id: Int, val attempt: Int) {
    var req = -1L
    var submitted = Double.NaN
    var completed = Double.NaN
    var firstLaunch = Double.PositiveInfinity
    val taskMs = mutable.ArrayBuffer.empty[Double]
    var shuffleWriteBytes, shuffleWriteRecords = 0L
    var shuffleReadBytes, shuffleReadRecords = 0L
    var spillBytes, inputBytes, inputRecords = 0L
  }
  final case class JobRec(id: Int, req: Long, start: Double,
      var end: Double = Double.NaN)
  final case class PhaseRec(execId: Long, analysis: (Double, Double),
      optimization: (Double, Double), planning: (Double, Double))
  final case class BatchRec(query: String, batchId: Long, start: Double,
      durationMs: Map[String, Long], stateCommitMs: Long, stateRows: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageReq = mutable.HashMap.empty[Int, Long]
  /** QueryExecution id -> request, for executions a client ran itself. */
  val claimed = mutable.HashMap.empty[Long, Long]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]

  private def reqOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(ReqProp)))
      .map(_.toLong).getOrElse(-1L)

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      val req = reqOf(e.properties)
      jobs(e.jobId) = JobRec(e.jobId, req, e.time.toDouble)
      e.stageIds.foreach(s => stageReq(s) = req)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    private def stage(info: StageInfo): StageRec = {
      val r = stages.getOrElseUpdate((info.stageId, info.attemptNumber()),
        new StageRec(info.stageId, info.attemptNumber()))
      r.req = stageReq.getOrElse(info.stageId, -1L)
      r
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.synchronized {
        val r = stage(e.stageInfo)
        e.stageInfo.submissionTime.foreach(t => r.submitted = t.toDouble)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.synchronized {
        val r = stage(e.stageInfo)
        e.stageInfo.submissionTime.foreach(t => r.submitted = t.toDouble)
        e.stageInfo.completionTime.foreach(t => r.completed = t.toDouble)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      val r = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageRec(e.stageId, e.stageAttemptId))
      val ti = e.taskInfo
      r.firstLaunch = math.min(r.firstLaunch, ti.launchTime.toDouble)
      r.taskMs += ti.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
        r.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def of(p: String): (Double, Double) = ph.get(p)
        .map(s => (s.startTimeMs.toDouble, s.endTimeMs.toDouble))
        .getOrElse((Double.NaN, Double.NaN))
      Trace.synchronized {
        phases += PhaseRec(qe.id, of("analysis"), of("optimization"),
          of("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val rec = BatchRec(Option(p.name).getOrElse(""), p.batchId, start,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum)
      Trace.synchronized { batches += rec }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Attach or detach every listener; called only while no request runs. */
  def setOn(spark: SparkSession, enable: Boolean): Unit = if (enable != attached) {
    if (enable) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    attached = enable
  }
}
