package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span around one call into a layer. `start`/`end` are epoch
  * milliseconds (the clock Spark's listener events carry, used to place
  * jobs in spans); `wallNs` is the span's duration on the monotonic
  * clock. */
final case class Span(id: Int, parent: Int, name: String, start: Long,
    var end: Long = -1L, var wallNs: Long = 0L)

final case class JobRec(id: Int, span: Int, desc: String, execId: Long,
    start: Long, stages: Seq[Int], var end: Long = -1L)

final case class StageRec(id: Int, start: Long, end: Long)

final case class TaskRec(stage: Int, durMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    peakMem: Long, inBytes: Long, outBytes: Long, outRecords: Long)

/** Micro-batch phase times (ms) from one StreamingQueryProgress. */
final case class Progress(at: Long, durations: Map[String, Long])

/** Spans kept in memory plus the counters of the Spark, SQL and streaming
  * listeners this benchmark registers. Jobs are attributed to the
  * innermost open span through the `perfbench.span` local property, which
  * streaming execution threads inherit from the thread that starts them.
  * Listeners are registered only while [[enabled]]; timed passes run
  * without them. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val SpanProp = "perfbench.span"

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  /** execution id → latest (final, under AQE) physical plan */
  val plans = mutable.Map.empty[Long, SparkPlanInfo]
  val progress = mutable.ArrayBuffer.empty[Progress]
  private var nextId = 0
  private var on = false

  def enabled: Boolean = on

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val rec = JobRec(e.jobId,
        prop(SpanProp).map(_.toInt).getOrElse(-1),
        prop("spark.job.description").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        e.time, e.stageIds)
      Tracer.this.synchronized { jobs += rec }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val rec = StageRec(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
      Tracer.this.synchronized { stages += rec }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val rec = TaskRec(e.stageId, e.taskInfo.duration,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.peakExecutionMemory, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
        Tracer.this.synchronized { tasks += rec }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { plans(s.executionId) = s.sparkPlanInfo }
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        Tracer.this.synchronized { plans(u.executionId) = u.sparkPlanInfo }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val at = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      val rec = Progress(at, d)
      Tracer.this.synchronized { progress += rec }
    }
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def start(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    on = true
  }

  def stop(): Unit = if (on) {
    drain()
    sc.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Run `f` inside a span named `name` when tracing is on; a plain call
    * otherwise. */
  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(-1), name,
        System.currentTimeMillis())
      nextId += 1
      spans += s
      stack.push(s)
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      val t0 = System.nanoTime()
      try f
      finally {
        s.wallNs = System.nanoTime() - t0
        s.end = System.currentTimeMillis()
        stack.pop()
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  // ---- queries over the recorded trace ----

  private lazy val childrenOf: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** `s` and every span below it. */
  def subtree(s: Span): Set[Int] = {
    val out = mutable.Set(s.id)
    val todo = mutable.Stack(s.id)
    while (todo.nonEmpty)
      for (c <- childrenOf.getOrElse(todo.pop(), Nil)) { out += c.id; todo.push(c.id) }
    out.toSet
  }

  def children(s: Span): Seq[Span] = childrenOf.getOrElse(s.id, Nil)

  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = subtree(s)
    jobs.toSeq.filter(j => ids(j.span))
  }

  private lazy val stagesById: Map[Int, StageRec] = stages.map(s => s.id -> s).toMap
  private lazy val tasksByStage: Map[Int, Seq[TaskRec]] = tasks.toSeq.groupBy(_.stage)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stages).distinct.flatMap(stagesById.get)

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] =
    js.flatMap(_.stages).distinct.flatMap(id => tasksByStage.getOrElse(id, Nil))

  /** Shuffle and broadcast exchanges in the final plans of the SQL
    * executions that `js` ran for. */
  def exchanges(js: Seq[JobRec]): (Int, Int) = {
    val execs = js.map(_.execId).filter(_ >= 0).distinct
    var shuffles = 0; var broadcasts = 0
    def walk(p: SparkPlanInfo): Unit = {
      if (p.nodeName == "Exchange") shuffles += 1
      if (p.nodeName == "BroadcastExchange") broadcasts += 1
      p.children.foreach(walk)
    }
    execs.flatMap(plans.get).foreach(walk)
    (shuffles, broadcasts)
  }
}

object Tracer {
  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def clip(iv: (Long, Long), lo: Long, hi: Long): (Long, Long) =
    (math.max(iv._1, lo), math.min(iv._2, hi))
}
