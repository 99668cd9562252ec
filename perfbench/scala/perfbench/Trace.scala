package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbenchshim.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span (self, not inclusive). */
final class Counters {
  var jobs, stages, tasks, closureJobs = 0L
  var closureJobMs, planMs, runMs, gcMs, waitMs = 0L
  var cpuNs, shuffleWrite, shuffleRead, spill = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    closureJobs += o.closureJobs; closureJobMs += o.closureJobMs
    planMs += o.planMs; runMs += o.runMs; gcMs += o.gcMs
    waitMs += o.waitMs; cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** One traced interval: a layer call made by the benchmark. */
final class Span(val name: String, val parent: Span, val op: Int,
                 val start: Long) {
  var end = 0L
  var childNs = 0L
  val c = new Counters
  def selfNs: Long = end - start - childNs
}

/** What a traced op left persisted, and the numbers its workload noted. */
final case class OpRecord(op: Int, persisted: Int, notes: Map[String, Double])

/** Bench-side tracing. Spans are opened around each layer call the
  * workload makes, kept in memory, and summarized per op at the end.
  * Spark counters come from a SparkListener and a
  * QueryExecutionListener and are attributed to the innermost open
  * span: the listener bus is drained at every span boundary, so an
  * event is always delivered while the span that caused it is open.
  * Frames returned by [[frame]] are materialized at the span's end
  * (local checkpoint), so each span holds the work of its own layer;
  * the materializations are released when the op ends.
  *
  * With `on = false` nothing is registered and every call is a plain
  * pass-through.
  */
final class Tracer(spark: SparkSession, on: Boolean) {
  private val sc = spark.sparkContext
  @volatile private var cur: Span = null
  private var opRoot: Span = null
  val spans = ArrayBuffer.empty[Span]
  private val owned = ArrayBuffer.empty[DataFrame]
  private var persistedBefore = Set.empty[Int]
  private var cacheBefore = 0
  private var codegenBefore = 0L
  /** Per-op numbers a workload records next to the spans. */
  val notes = mutable.LinkedHashMap.empty[String, Double]
  /** One record per traced op. */
  val opRecords = ArrayBuffer.empty[OpRecord]

  def active: Boolean = cur != null

  if (on) {
    sc.addSparkListener(new Listener)
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plan(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plan(qe)
    })
  }

  private def plan(qe: QueryExecution): Unit = {
    val s = cur
    if (s != null)
      s.c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  private def drain(): Unit = Bus.drain(sc)

  /** Start an op; `traced` opens its root span. */
  def opStart(op: Int, traced: Boolean): Unit = if (on && traced) {
    drain()
    persistedBefore = sc.getPersistentRDDs.keySet.toSet
    cacheBefore = Bus.cacheEntries(spark)
    notes.clear()
    codegenBefore = Tracer.codegen()
    opRoot = new Span("op", null, op, System.nanoTime())
    spans += opRoot
    cur = opRoot
  }

  /** End the op: close the root span, count what the op left
    * persisted, then release the benchmark's own materializations.
    */
  def opEnd(): Unit = if (opRoot != null) {
    drain()
    opRoot.end = System.nanoTime()
    cur = null
    notes("spark.codegen_compiles") = (Tracer.codegen() - codegenBefore).toDouble
    val ownedIds = owned.flatMap(rddOf).map(_.id).toSet
    val after = sc.getPersistentRDDs.keySet.toSet -- persistedBefore -- ownedIds
    val persisted = after.size +
      math.max(0, Bus.cacheEntries(spark) - cacheBefore)
    opRecords += OpRecord(opRoot.op, persisted, notes.toMap)
    owned.foreach(df => rddOf(df).foreach(_.unpersist(blocking = false)))
    owned.clear()
    opRoot = null
  }

  private def rddOf(df: DataFrame) = df.queryExecution.analyzed match {
    case l: LogicalRDD => Some(l.rdd)
    case _ => None
  }

  /** Run `body` as span `name` (a pass-through when not tracing). */
  def span[T](name: String)(body: => T): T = {
    val parent = cur
    if (parent == null) body
    else {
      drain()
      val s = new Span(name, parent, parent.op, System.nanoTime())
      spans += s
      cur = s
      try body
      finally {
        drain()
        s.end = System.nanoTime()
        parent.childNs += s.end - s.start
        cur = parent
      }
    }
  }

  /** Span `name` around building `df`; when tracing, the frame is
    * materialized inside the span. `probe` sees the executed source
    * frame (for plan metrics) and runs outside every span.
    */
  def frame(name: String)(df: => DataFrame)(
      probe: DataFrame => Unit = _ => ()): DataFrame = {
    if (cur == null) df
    else {
      var src: DataFrame = null
      val m = span(name) {
        src = df
        val d = src.localCheckpoint(eager = true)
        owned += d
        d
      }
      quiet(probe(src))
      m
    }
  }

  /** Run bench-side bookkeeping with span attribution switched off. */
  def quiet[T](body: => T): T = {
    val s = cur
    if (s == null) body
    else {
      drain(); cur = null
      try body finally { drain(); cur = s }
    }
  }

  def note(key: String, v: Double): Unit =
    if (opRoot != null) notes(key) = notes.getOrElse(key, 0.0) + v

  private final class Listener extends SparkListener {
    private val maxTask = mutable.HashMap.empty[(Int, Int), Long]
    private val jobs = mutable.HashMap.empty[Int, (Long, Span)]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = cur
      if (s != null) {
        s.c.jobs += 1
        val closure = e.stageInfos.exists(i => Tracer.isClosure(i.details))
        if (closure) {
          s.c.closureJobs += 1
          jobs(e.jobId) = (e.time, s)
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (t0, s) =>
        s.c.closureJobMs += e.time - t0
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = cur
      if (s != null && e.taskInfo != null) {
        s.c.tasks += 1
        val k = (e.stageId, e.stageAttemptId)
        maxTask(k) = math.max(maxTask.getOrElse(k, 0L), e.taskInfo.duration)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val k = (i.stageId, i.attemptNumber())
      val longest = maxTask.remove(k).getOrElse(0L)
      val s = cur
      if (s != null) {
        s.c.stages += 1
        val m = i.taskMetrics
        if (m != null) {
          s.c.runMs += m.executorRunTime
          s.c.cpuNs += m.executorCpuTime
          s.c.gcMs += m.jvmGCTime
          s.c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        for (sub <- i.submissionTime; done <- i.completionTime)
          s.c.waitMs += math.max(0L, done - sub - longest)
      }
    }
  }
}

object Tracer extends AdaptiveSparkPlanHelper {

  /** Generated-code compilations so far (codegen cache misses). */
  def codegen(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A job belongs to the connected-components closure when the call
    * site that launched it runs inside `Dedup.duplicateClusters` (the
    * iterative closure) or its single-task union-find.
    */
  def isClosure(callSite: String): Boolean =
    callSite != null && (callSite.contains("Dedup$.duplicateClusters") ||
      callSite.contains("unionFindMinLabels"))

  /** Output rows of the executed joins whose join keys include a
    * column named `key` (e.g. the LSH band join's `band_idx`).
    */
  def joinOutputRows(df: DataFrame, key: String): Long = {
    def keyed(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.references.exists(_.name == key))
    val plan: SparkPlan = df.queryExecution.executedPlan
    collectWithSubqueries(plan) {
      case j: HashJoin if keyed(j.leftKeys) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case j: SortMergeJoinExec if keyed(j.leftKeys) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
  }
}
