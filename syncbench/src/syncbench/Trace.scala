package syncbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.syncbench.ExecutionEnd

/** One timed interval: `parent` is the enclosing span's id (-1 at the
  * root); every span of one run shares `run`. */
final case class Span(id: Int, run: String, name: String, parent: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Length of the union of `intervals`, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part its direct
    * children cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - covered(c, s.startNs, s.endNs))
    }.toMap
  }
}

/** Counters of one layer, filled from Spark's listener events. */
final class LayerStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var taskFailures = 0L
  var taskRunMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  /** Task (launch, finish) wall intervals in epoch ms. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var writeRows = 0L
  var writeParts = 0L
  var cacheScanRows = 0L
  var candidatePairs = 0L
  var verifiedPairs = 0L
  var ccRounds = 0L
  var stagedRows = 0L
}

/** Per-layer collector: spans recorded around the benchmark's calls into
  * each engine layer, plus a `SparkListener` that charges Spark's job,
  * stage, task and executed-plan metrics to the layer whose job group
  * submitted them. Everything stays in memory until [[report]].
  */
final class Trace(spark: SparkSession, val cores: Int) extends SparkListener {

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long, Long)]
  private var nextId = 0
  private val stats = mutable.LinkedHashMap.empty[String, LayerStats]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val execLayer = mutable.Map.empty[Long, String]
  private val boundaries = mutable.Map.empty[Long, String]
  var runId = ""
  /** Bytes held by the persisted quad input of the view layer. */
  var viewCacheBytes = 0L

  /** Mark the query `qeId` as the staging of `layer`'s output: its
    * output rows count as the layer's rows out. */
  def expectStage(qeId: Long, layer: String): Unit = synchronized(boundaries(qeId) = layer)

  def layer(name: String): LayerStats = synchronized(stats.getOrElseUpdate(name, new LayerStats))

  def install(): Unit = sc.addSparkListener(this)

  /** Time `body` as a span named `name`; when `group` is set, the span
    * is a layer call and its Spark jobs run under that job group. */
  def span[T](name: String, group: Boolean = false)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = if (open.isEmpty) -1 else open.top._1
    open.push((id, name, System.nanoTime(), System.currentTimeMillis()))
    if (group) sc.setJobGroup(name, name, interruptOnCancel = false)
    try body finally {
      if (group) sc.clearJobGroup()
      val (_, _, t0, m0) = open.pop()
      spans += Span(id, runId, name, parent, t0, System.nanoTime(), m0, System.currentTimeMillis())
    }
  }

  // ---- SparkListener ---------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      layer(g).jobs += 1
      e.stageIds.foreach(id => stageLayer.getOrElseUpdate(id, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageLayer.get(e.stageInfo.stageId).foreach(layer(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageLayer.get(e.stageId).foreach { g =>
      val l = layer(g)
      l.tasks += 1
      if (e.reason != Success || e.taskInfo.attemptNumber > 0) l.taskFailures += 1
      l.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        l.taskRunMs += m.executorRunTime
        l.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        l.spillBytes += m.diskBytesSpilled
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) l.emptyTasks += 1
      }
    }
  }

  // ---- SQL executions: plan metrics -----------------------------------

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => synchronized(execLayer(s.executionId) = g))
    case end: SparkListenerSQLExecutionEnd if end.errorMessage.forall(_.isEmpty) =>
      val qe = ExecutionEnd.queryExecution(end)
      val g = synchronized(execLayer.remove(end.executionId))
      if (qe != null) executed(g, qe)
    case _ =>
  }

  private def executed(g: Option[String], qe: QueryExecution): Unit = {
    g.foreach { name =>
      val l = layer(name)
      val nodes = Trace.nodes(qe.executedPlan)
      def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
      synchronized {
        nodes.foreach {
          case w: DataWritingCommandExec =>
            l.writeRows += metric(w, "numOutputRows")
            l.writeParts += metric(w, "numParts")
          case s: InMemoryTableScanExec => l.cacheScanRows += metric(s, "numOutputRows")
          // the MinHash verify step: candidates in, verified pairs out
          case f: FilterExec if f.condition.sql.contains("array_intersect") =>
            l.verifiedPairs += metric(f, "numOutputRows")
            l.candidatePairs += Trace.outputRows(f.child)
          case j: BaseJoinExec if j.condition.exists(_.sql.contains("array_intersect")) =>
            l.verifiedPairs += metric(j, "numOutputRows")
            l.candidatePairs += Trace.outputRows(j.left)
          case _ =>
        }
        l.ccRounds += qe.observedMetrics.keys.count(_.startsWith("cc_round_"))
      }
    }
    synchronized(boundaries.remove(qe.id)).foreach { name =>
      val rows = Trace.outputRows(qe.executedPlan)
      synchronized(layer(name).stagedRows += rows)
    }
  }

  /** Wait until every listener event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.syncbench.Bus.drain(sc)

  /** The per-layer metrics of every span named in `layers`, in the
    * `<layer>.<metric>` form; layers that did not run report zeros. */
  def report(layers: Seq[String]): Seq[(String, Double, String)] = {
    drain()
    val self = Spans.selfNs(spans.toSeq)
    layers.flatMap { name =>
      val l = layer(name)
      val mine = spans.filter(_.name == name)
      val wallS = mine.map(s => self(s.id)).sum / 1e9
      val busyMs = mine.map(s => Spans.covered(l.taskIntervals.toSeq, s.startMs, s.endMs)).sum
      val mineMs = mine.map(s => s.endMs - s.startMs).sum
      val taskS = l.taskRunMs / 1e3
      Seq(
        ("wall_s", wallS, "s"),
        ("driver_s", math.max(0L, mineMs - busyMs) / 1e3, "s"),
        ("task_s", taskS, "s"),
        ("util", if (wallS > 0) taskS / (wallS * cores) else 0.0, "ratio"),
        ("jobs", l.jobs.toDouble, "count"),
        ("stages", l.stages.toDouble, "count"),
        ("tasks", l.tasks.toDouble, "count"),
        ("empty_task_share", if (l.tasks > 0) l.emptyTasks.toDouble / l.tasks else 0.0, "ratio"),
        ("shuffle_mb", l.shuffleBytes / 1e6, "MB"),
        ("spill_mb", l.spillBytes / 1e6, "MB"),
        ("rows_out", (l.stagedRows + l.writeRows).toDouble, "count"),
        ("task_failures", l.taskFailures.toDouble, "count"))
        .map { case (m, v, u) => (s"$name.$m", v, u) }
    }
  }
}

object Trace {
  /** Every node of a physical plan, through adaptive wrappers and
    * query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Rows a plan produced: the top-most row count, summed over union
    * branches; operators without a count pass their child's through. */
  def outputRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case q: QueryStageExec => outputRows(q.plan)
    case c: CommandResultExec => outputRows(c.commandPhysicalPlan)
    case u: org.apache.spark.sql.execution.UnionExec => u.children.map(outputRows).sum
    case x if x.metrics.contains("numOutputRows") => x.metrics("numOutputRows").value
    case x if x.metrics.contains("shuffleRecordsWritten") => x.metrics("shuffleRecordsWritten").value
    case x if x.children.length == 1 => outputRows(x.children.head)
    case _ => 0L
  }
}
