package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace tree; times are epoch microseconds. */
final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nanos0 = System.nanoTime()
  /** Epoch microseconds on the monotonic clock. */
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nanos0) / 1000L
}

/** Spans recorded in memory and written out when the run ends. The
  * benchmark opens spans around its own calls into the library; Spark's
  * executions and stages are attached under them afterwards from the
  * listener records ([[SparkTrace]]). Every span of one rep shares that
  * rep's run id, `<workload>/<root span name>`.
  */
final class Spans(workload: String) {
  val all = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()

  def add(parent: Int, name: String, startUs: Long, endUs: Long): Int = {
    all += Span(all.size, parent, name, startUs, endUs)
    all.size - 1
  }

  /** Times `body` as a child of the innermost open span (-1 = root). */
  def span[T](name: String)(body: => T): T = {
    val id = add(open.headOption.getOrElse(-1), name, Clock.nowUs(), -1L)
    open.push(id)
    try body
    finally {
      open.pop()
      all(id) = all(id).copy(endUs = Clock.nowUs())
    }
  }

  def children(id: Int): Seq[Span] = all.filter(_.parent == id).toSeq

  /** Duration minus the part of the interval its children cover. */
  def selfUs(s: Span): Long = s.durUs - coveredUs(s, children(s.id))

  private def coveredUs(s: Span, kids: Seq[Span]): Long = {
    val iv = kids.map(k => (k.startUs.max(s.startUs), k.endUs.min(s.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = curB.max(b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  /** Innermost benchmark span of the subtree under `root` that contains
    * `us`. Execution spans are skipped: a stage is placed under an execution
    * by its job, never by time.
    */
  def innermost(root: Int, us: Long): Int =
    children(root).find(k => !k.name.startsWith("exec") && k.startUs <= us && us <= k.endUs)
      .map(k => innermost(k.id, us)).getOrElse(root)

  private def rootOf(s: Span): Span = if (s.parent < 0) s else rootOf(all(s.parent))

  def toJson: String = Json(all.map(s => Json.obj(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_us" -> s.startUs,
    "end_us" -> s.endUs, "self_us" -> selfUs(s), "run" -> s"$workload/${rootOf(s).name}")))
}

/** Spark-side records for one traced rep, collected through Spark's public
  * listener interfaces only: SQL execution start/end, jobs, stages and task
  * metrics (`SparkListener`), planning phases and final physical plans
  * (`QueryExecutionListener`).
  */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  final case class Exec(id: Long, startMs: Long, var endMs: Long = -1L)
  final case class QeInfo(phasesMs: Map[String, Long], exchanges: Int)
  final case class Stage(id: Int, startMs: Long, endMs: Long, tasks: Int)
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long, writeBytes: Long,
                        writeRecords: Long, fetchWaitMs: Long, spillBytes: Long)

  val execs = mutable.LinkedHashMap[Long, Exec]()
  val qes = mutable.HashMap[Long, QeInfo]()
  val jobExec = mutable.HashMap[Int, Option[Long]]()
  val stageJob = mutable.HashMap[Int, Int]()
  val stages = mutable.ArrayBuffer[Stage]()
  val tasks = mutable.ArrayBuffer[Task]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => execs(s.executionId) = Exec(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd => execs.get(s.executionId).foreach(_.endMs = s.time)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobExec(j.jobId) = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    j.stageIds.foreach(stageJob(_) = j.jobId)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    stages += Stage(i.stageId, i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L), i.numTasks)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val m = t.taskMetrics
    if (m != null) tasks += Task(t.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val ex = SparkTrace.exchanges(qe.executedPlan)
    synchronized { qes(qe.id) = QeInfo(phases, ex) }
  }

  def jobs: Int = synchronized(jobExec.size)

  def execOfStage(stage: Int): Option[Long] = synchronized {
    stageJob.get(stage).flatMap(jobExec.get).flatten
  }
}

object SparkTrace {
  /** Shuffle exchanges in the plan as executed: AQE's final plan, through
    * its query stages; a reused exchange shuffles nothing and is skipped.
    */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case _: ReusedExchangeExec => 0
    case other =>
      (if (other.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
        other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  /** Registers `t` on both listener interfaces for the duration of `body`. */
  def attached[T](spark: SparkSession, t: SparkTrace)(body: => T): T = {
    // events of earlier work must not reach the new listener
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    try body
    finally {
      // every event of the body is delivered before the listener leaves
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(t)
      spark.sparkContext.removeSparkListener(t)
    }
  }
}

/** Micro-batch progress of every streaming query, by query name. */
final class StreamTrace extends StreamingQueryListener {
  final case class Batch(batchId: Long, endMs: Long, numInputRows: Long,
                         durations: Map[String, Long], stateRows: Long, stateBytes: Long)
  val batches = mutable.HashMap[String, mutable.ArrayBuffer[Batch]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val b = Batch(p.batchId, start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
    synchronized { batches.getOrElseUpdate(p.name, mutable.ArrayBuffer()) += b }
  }

  def of(name: String): Seq[Batch] = synchronized(batches.get(name).map(_.toSeq).getOrElse(Nil))
}
