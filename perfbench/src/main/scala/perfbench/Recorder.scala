package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run records, kept in memory and written out when
  * the run ends. Spans are opened by the harness around its calls into
  * graft; Spark jobs, query executions and streaming progress arrive
  * through Spark's public listener APIs. Nothing is recorded inside graft.
  *
  * A job belongs to the innermost span open on the submitting thread:
  * the span id travels as a Spark local property. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var open: List[Int] = Nil
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, Agg]()
  private val execs = new java.util.concurrent.ConcurrentHashMap[Long, ExecRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val writes = new java.util.concurrent.ConcurrentHashMap[Long, WriteRec]()
  /** Accumulator id of a write command's driver-side metric -> (execution, metric). */
  private val writeAccums = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  /** Spans are recorded only while enabled (the traced rounds). */
  @volatile var enabled = false

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = spans.size
    spans += SpanRec(id, open.headOption.getOrElse(-1), name, System.nanoTime(), -1L,
      System.currentTimeMillis(), -1L)
    open = id :: open
    spark.sparkContext.setLocalProperty(SpanKey, id.toString)
    try body
    finally {
      spans(id).endNs = System.nanoTime()
      spans(id).endWallMs = System.currentTimeMillis()
      open = open.tail
      spark.sparkContext.setLocalProperty(SpanKey,
        open.headOption.map(_.toString).orNull)
    }
  }

  private val jobListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, ExecRec(graftFrames(s.details), s.time))
        writeMetrics(s.sparkPlanInfo).foreach { case (id, key) =>
          writes.putIfAbsent(s.executionId, WriteRec(graftFrames(s.details)))
          writeAccums.put(id, (s.executionId, key))
        }
      // a write command posts its file, byte and row counts from the driver
      case u: SparkListenerDriverAccumUpdates =>
        u.accumUpdates.foreach { case (id, v) =>
          Option(writeAccums.get(id)).foreach { case (exec, key) =>
            writes.get(exec).counts(key) = v
          }
        }
      case e: SparkListenerSQLExecutionEnd =>
        Option(execs.get(e.executionId)).foreach(_.endMs = e.time)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanKey).map(_.toInt).getOrElse(-1)
      val last = e.stageInfos.maxBy(_.stageId)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      // Jobs a query submits from Spark's own threads (broadcasts,
      // adaptive stages) carry no user frames; their SQL execution holds
      // the call site of the action that started it.
      val own = graftFrames(last.details)
      val frames = if (own.nonEmpty) own else
        Seq("spark.sql.execution.id", "spark.sql.execution.root.id").flatMap(prop)
          .flatMap(id => Option(execs.get(id.toLong))).map(_.frames).find(_.nonEmpty)
          .getOrElse(Nil)
      jobs.add(JobRec(e.jobId, span, e.time, -1L, frames))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val m = e.taskMetrics
        val a = stageAgg.computeIfAbsent(e.stageId, _ => new Agg)
        a.synchronized {
          a.tasks += 1
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.outputBytes += m.outputMetrics.bytesWritten
          val info = e.taskInfo
          a.schedDelayMs += math.max(0L, (info.finishTime - info.launchTime) -
            m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      queries.add(queryRec(qe))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      queries.add(queryRec(qe))
  }

  private def queryRec(qe: QueryExecution): QueryRec = {
    val ph = qe.tracker.phases
    QueryRec(Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum)
  }

  /** Micro-batch progress of every streaming query: phase durations and
    * the state operators' rows, memory and commit time. */
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add(Json.obj("run" -> p.runId.toString, "batch" -> p.batchId,
        "input_rows" -> p.numInputRows, "ms" -> d,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum))
    }
  }

  private var installed = false

  /** Register the job and query listeners. */
  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    installed = true
  }

  def uninstall(): Unit = if (installed) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    installed = false
  }

  /** Wait for the asynchronous listener bus to deliver queued events. */
  def drain(): Unit = {
    val m = classOf[org.apache.spark.SparkContext].getDeclaredMethods
      .find(_.getName == "listenerBus")
    m.foreach { mm =>
      mm.setAccessible(true)
      val bus = mm.invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    Thread.sleep(50)
  }

  def record: Map[String, Any] = {
    val js = jobs.asScala.toVector.sortBy(_.id).map { j =>
      val aggs = stageJob.asScala.collect { case (s, jid) if jid == j.id => s }
        .flatMap(s => Option(stageAgg.get(s))).toSeq
      val a = aggs.foldLeft(new Agg)(_ + _)
      Json.obj("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "frames" -> j.frames, "stages" -> aggs.size, "m" -> a.toMap)
    }
    val ss = spans.toVector.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "start_wall_ms" -> s.startWallMs, "end_wall_ms" -> s.endWallMs))
    val qs = queries.asScala.toVector.map(q => Json.obj("plan_ms" -> q.planMs))
    val ws = writes.asScala.toVector.sortBy(_._1).map { case (_, w) =>
      Json.obj("frames" -> w.frames) ++ w.counts.toMap }
    val es = execs.asScala.toVector.sortBy(_._1).map { case (_, x) =>
      Json.obj("frames" -> x.frames, "start_ms" -> x.startMs, "end_ms" -> x.endMs) }
    Json.obj("spans" -> ss, "jobs" -> js, "queries" -> qs, "writes" -> ws, "executions" -> es,
      "progress" -> progress.asScala.toVector)
  }
}

object Recorder {
  val SpanKey = "perfbench.span"

  final case class SpanRec(id: Int, parent: Int, name: String, startNs: Long, var endNs: Long,
      startWallMs: Long, var endWallMs: Long)
  final case class JobRec(id: Int, span: Int, startMs: Long, var endMs: Long,
      frames: Seq[String])
  final case class QueryRec(planMs: Long)
  /** A SQL execution: the graft frames of its call site and its interval. */
  final case class ExecRec(frames: Seq[String], startMs: Long) { var endMs = -1L }
  /** A write command's call site and its driver-side counts. */
  final case class WriteRec(frames: Seq[String]) {
    val counts: mutable.Map[String, Long] =
      mutable.Map("files" -> 0L, "bytes" -> 0L, "rows" -> 0L)
  }

  /** Display names of the counts a file write command reports. */
  val WriteMetricNames = Map("number of written files" -> "files",
    "written output" -> "bytes", "number of output rows" -> "rows")

  /** (accumulator id, count) of every write command in a plan: the
    * `Execute <command>` nodes that carry the file-write counts. */
  def writeMetrics(plan: SparkPlanInfo): Seq[(Long, String)] = {
    val own = if (plan.nodeName.startsWith("Execute "))
      plan.metrics.flatMap(m => WriteMetricNames.get(m.name).map(m.accumulatorId -> _))
    else Nil
    own ++ plan.children.flatMap(writeMetrics)
  }

  /** The graft frames of a long call site, innermost first, as
    * `package.Class.method(File.scala:line)`. */
  def graftFrames(longCallSite: String): Seq[String] =
    Option(longCallSite).toSeq.flatMap(_.split("\n")).map(_.trim)
      .filter(_.startsWith("graft."))

  final class Agg {
    var tasks, runMs, cpuNs, gcMs, deserMs, shuffleWrite, shuffleRead, spill,
        fetchWaitMs, inputBytes, outputBytes, schedDelayMs = 0L
    def +(o: Agg): Agg = {
      val r = new Agg
      r.tasks = tasks + o.tasks; r.runMs = runMs + o.runMs; r.cpuNs = cpuNs + o.cpuNs
      r.gcMs = gcMs + o.gcMs; r.deserMs = deserMs + o.deserMs
      r.shuffleWrite = shuffleWrite + o.shuffleWrite; r.shuffleRead = shuffleRead + o.shuffleRead
      r.spill = spill + o.spill; r.fetchWaitMs = fetchWaitMs + o.fetchWaitMs
      r.inputBytes = inputBytes + o.inputBytes; r.outputBytes = outputBytes + o.outputBytes
      r.schedDelayMs = schedDelayMs + o.schedDelayMs
      r
    }
    def toMap: Map[String, Any] = Map("tasks" -> tasks, "run_ms" -> runMs,
      "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "deser_ms" -> deserMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "fetch_wait_ms" -> fetchWaitMs,
      "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
      "sched_delay_ms" -> schedDelayMs)
  }
}
