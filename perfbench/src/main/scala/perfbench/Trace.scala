package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval on the benchmark's side of a layer boundary, or one
  * interval Spark reports. `parent` is the span that caused it; the
  * root span of an operation (query or micro-batch) has
  * parent "".
  */
final case class Span(id: String, parent: String, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double])

/** Spans and per-operation counters of a traced run, kept in memory and
  * written out when the run ends. An untraced run builds a Tracer with
  * `enabled = false`: it registers no listener and keeps nothing.
  *
  * Operations are attributed by job group: the benchmark sets the
  * group to the operation id before it calls into the program, and the
  * Spark listener reads it from each job's properties. Planning and
  * streaming-progress events carry no group, so the traced run drains
  * the listener bus at the end of every operation and charges them to
  * the operation that is current.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
  private val stageOp = mutable.Map.empty[Int, String]
  private val jobOp = mutable.Map.empty[Int, (String, Long)]
  @volatile private var current: String = ""
  /** Prefix of the operation id of a micro-batch: `<prefix><batchId>`. */
  @volatile var streamPrefix: String = ""

  def add(op: String, key: String, v: Double): Unit = if (enabled) synchronized {
    val m = counts.getOrElseUpdate(op, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    m(key) = m(key) + v
  }

  def record(s: Span): Unit = if (enabled) synchronized { spans += s }

  /** Times `body` as a span under `parent`; the span is kept only when
    * tracing. Returns the body's value and its duration in ns.
    */
  def span[T](id: String, parent: String, name: String)(body: => T): (T, Long) = {
    val us = if (enabled) Tracer.nowUs else 0L
    val t0 = System.nanoTime()
    val v = body
    val ns = System.nanoTime() - t0
    if (enabled) record(Span(id, parent, name, us, us + ns / 1000, Map.empty))
    (v, ns)
  }

  /** Marks `op` as the operation that events without a job group belong to. */
  def begin(spark: SparkSession, op: String): Unit = {
    current = op
    spark.sparkContext.setJobGroup(op, op, interruptOnCancel = false)
  }

  def end(spark: SparkSession): Unit =
    if (enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def opCounts(op: String): Map[String, Double] = synchronized {
    counts.get(op).map(_.toMap).getOrElse(Map.empty)
  }

  def allSpans: Seq[Span] = synchronized { spans.toList }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(progressListener)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(current)
      Tracer.this.synchronized {
        jobOp(e.jobId) = (op, e.time * 1000L)
        e.stageIds.foreach(s => stageOp(s) = op)
      }
      add(op, "spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val found = Tracer.this.synchronized { jobOp.remove(e.jobId) }
      found.foreach { case (op, startUs) =>
        record(Span(s"job:${e.jobId}", op, "spark.job", startUs, e.time * 1000L, Map.empty))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val op = Tracer.this.synchronized { stageOp.getOrElse(info.stageId, current) }
      add(op, "spark.stages", 1)
      if (info.rddInfos.exists(_.name.contains("DataSourceRDD")))
        add(op, "streaming.source_partitions", info.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = Tracer.this.synchronized { stageOp.getOrElse(e.stageId, current) }
      add(op, "spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(op, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(op, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(op, "spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(op, "spark.executor_run_ms", m.executorRunTime)
        add(op, "spark.executor_cpu_ms", m.executorCpuTime / 1e6)
        add(op, "spark.gc_ms", m.jvmGCTime)
        add(op, "scan.input_bytes", m.inputMetrics.bytesRead)
        add(op, "scan.input_rows", m.inputMetrics.recordsRead)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = current
      qe.tracker.phases.foreach { case (phase, s) => add(op, s"plan.${phase}_ms", s.durationMs) }
      add(op, "plan.exchanges", Tracer.exchanges(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val op = s"$streamPrefix${p.batchId}"
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      Seq("walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms",
        "queryPlanning" -> "query_planning_ms", "latestOffset" -> "latest_offset_ms",
        "triggerExecution" -> "trigger_ms", "addBatch" -> "add_batch_ms")
        .foreach { case (k, name) => add(op, s"streaming.$name", d.getOrElse(k, 0.0)) }
      add(op, "streaming.input_rows", p.numInputRows.toDouble)
      val startUs = Instant.parse(p.timestamp).toEpochMilli * 1000L
      record(Span(s"trigger:$op", op, "streaming.trigger", startUs,
        startUs + d.getOrElse("triggerExecution", 0.0).toLong * 1000L, d.toMap))
    }
  }
}

object Tracer {
  /** Wall-clock time in microseconds since the epoch. */
  def nowUs: Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Exchanges in the plan that ran: the final adaptive plan, query stages
    * unwrapped, subqueries included; a reused exchange is not counted.
    */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
      1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
