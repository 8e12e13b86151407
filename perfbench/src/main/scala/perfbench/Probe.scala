package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark operation of a closed loop: a write-side op (a config job,
  * a commit, a flagship run), a serving read, or table maintenance.
  */
final class Op(val id: Int, val kind: String, val name: String, val cycle: Int) {
  var startNs = 0L
  var endNs = 0L
  var error = ""
  var rowsIn = 0L
  var bytesIn = 0L
  var bytesOut = 0L
  var rowsOut = 0L
  def ok: Boolean = error.isEmpty
  def seconds: Double = (endNs - startNs) / 1e9
  def fail(msg: String): Unit = if (ok) error = msg
}

/** A traced call into one layer. `parent` is the enclosing span, -1 at an
  * op's root.
  */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val layer: String, val startNs: Long) {
  var endNs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span through its job group. */
final class Work {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, gcMs, cpuNs, schedWaitMs, scanTaskMs = 0L
  var shuffleWrite, shuffleRead, spill, inBytes, inRecords = 0L
  var barriers, barrierBytes = 0L
}

/** Counters read off one executed plan. */
final case class PlanCounts(
    scanFiles: Long = 0, scanRows: Long = 0,
    writeFiles: Long = 0, writeBytes: Long = 0, writeRows: Long = 0, commitMs: Long = 0,
    dedupIn: Long = 0, dedupOut: Long = 0)

/** One SQL execution, reported by the QueryExecutionListener; `execId`
  * is the SQL execution id, linked through the execution's end event.
  */
final class Exec(val durNs: Long, val analysisMs: Long, val optimizationMs: Long,
    val planningMs: Long, val plan: PlanCounts) {
  var execId = -1L
}

/** One RDD of a stage: its id, its parents' ids and its creation site. */
final case class RddRec(id: Int, parents: Seq[Int], callSite: String)

/** A submitted stage, its RDDs and its task time. */
final case class StageRec(stageId: Int, span: Int, rdds: Seq[RddRec], var taskMs: Long)

/** Records ops always and, when `traced`, spans plus the Spark counters of
  * a SparkListener and a QueryExecutionListener registered on the
  * benchmark's own session. Each span sets a job group `pb-<span>` around
  * its calls, which is how jobs, stages, tasks and SQL executions are
  * attributed to the innermost open span. Spans and counters stay in
  * memory until the run ends.
  */
final class Probe(val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var sc: SparkContext = null

  // listener state; written on the listener bus, read after drain()
  val work = mutable.HashMap.empty[Int, Work]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val execs = mutable.ArrayBuffer.empty[Exec]
  val execSpan = mutable.HashMap.empty[Long, Int]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageRecs = mutable.HashMap.empty[Int, StageRec]
  private val barrierRdds = mutable.HashSet.empty[(Int, Int)]
  private var lastJobSpan = -1
  // an execution's end event and its listener callback arrive in either order
  private val endedExec = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]()
  private val pendingExec = new java.util.IdentityHashMap[QueryExecution, Exec]()

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (traced) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(queryListener)
    }
  }

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = if (traced) org.apache.spark.sql.perfbench.Bridge.drain(sc)

  /** The closed loop's current cycle; ops record it. */
  var cycle = 0

  /** Time one op; a throw marks it failed and is not rethrown. */
  def op[A](kind: String, name: String)(body: Op => A): Option[A] = {
    val o = new Op(ops.size, kind, name, cycle)
    ops += o
    o.startNs = System.nanoTime()
    val r =
      try Some(span(name, "op", o.id)(body(o)))
      catch { case e: Exception => o.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    o.endNs = System.nanoTime()
    r
  }

  /** A span around one call into `layer`; a plain call when untraced. */
  def span[A](name: String, layer: String, opId: Int = -1)(body: => A): A =
    if (!traced) body
    else {
      val parent = open.headOption
      val s = new Span(spans.size, parent.map(_.id).getOrElse(-1),
        if (opId >= 0) opId else parent.map(_.op).getOrElse(-1), name, layer, System.nanoTime())
      spans += s
      open = s :: open
      sc.setJobGroup(s"pb-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("pb-") => g.substring(3).toInt }
      .getOrElse(-1)

  private def w(span: Int): Work = work.getOrElseUpdate(span, new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val s = spanOf(e.properties)
      jobSpan(e.jobId) = s
      lastJobSpan = s
      jobStart(e.jobId) = e.time
      e.stageInfos.foreach(si => if (!stageJob.contains(si.stageId)) stageJob(si.stageId) = e.jobId)
      w(s).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Probe.this.synchronized {
      val s = stageJob.get(e.stageInfo.stageId).flatMap(jobSpan.get).getOrElse(-1)
      w(s).stages += 1
      val rdds = e.stageInfo.rddInfos.map(r => RddRec(r.id, r.parentIds, r.callSite))
      val rec = StageRec(e.stageInfo.stageId, s, rdds, 0L)
      stageRecs(e.stageInfo.stageId) = rec
      stages += rec
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val job = stageJob.getOrElse(e.stageId, -1)
      val x = w(jobSpan.getOrElse(job, -1))
      x.tasks += 1
      if (e.reason != Success) x.taskFailures += 1
      val info = e.taskInfo
      if (info != null) jobTasks.getOrElseUpdate(job, mutable.ArrayBuffer.empty) +=
        (info.launchTime -> info.finishTime)
      val m = e.taskMetrics
      if (m != null) {
        x.runMs += m.executorRunTime
        x.cpuNs += m.executorCpuTime
        x.gcMs += m.jvmGCTime
        x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        x.inBytes += m.inputMetrics.bytesRead
        x.inRecords += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) x.scanTaskMs += m.executorRunTime
        stageRecs.get(e.stageId).foreach(_.taskMs += m.executorRunTime)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      val wall = e.time - jobStart.getOrElse(e.jobId, e.time)
      val covered = Stats.unionLength(jobTasks.remove(e.jobId).getOrElse(Nil).toSeq)
      w(jobSpan.getOrElse(e.jobId, -1)).schedWaitMs += math.max(0L, wall - covered)
    }
    // a materialized barrier (localCheckpoint, persist): RDD blocks stored
    // by the tasks of the span whose job started last
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Probe.this.synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case org.apache.spark.storage.RDDBlockId(rdd, _) if info.storageLevel.isValid =>
          val x = w(lastJobSpan)
          if (barrierRdds.add(lastJobSpan -> rdd)) x.barriers += 1
          x.barrierBytes += info.memSize + info.diskSize
        case _ =>
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Probe.this.synchronized {
        execSpan(s.executionId) = s.jobGroupId
          .collect { case g if g.startsWith("pb-") => g.substring(3).toInt }.getOrElse(-1)
      }
      case end: SparkListenerSQLExecutionEnd => Probe.this.synchronized {
        val qe = org.apache.spark.sql.perfbench.Bridge.queryExecution(end)
        if (qe != null) Option(pendingExec.remove(qe)) match {
          case Some(x) => x.execId = end.executionId
          case None => endedExec.put(qe, end.executionId)
        }
      }
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, 0L)
  }

  private def record(qe: QueryExecution, durNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val counts = try Probe.planCounts(qe.executedPlan) catch { case _: Exception => PlanCounts() }
    val x = new Exec(durNs, ms("analysis"), ms("optimization"), ms("planning"), counts)
    synchronized {
      execs += x
      Option(endedExec.remove(qe)) match {
        case Some(id) => x.execId = id
        case None => pendingExec.put(qe, x)
      }
    }
  }
}

object Probe {

  /** Every physical node, looking through adaptive plans, query stages,
    * reused exchanges, command wrappers and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case other => other.children ++ other.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** First metric-bearing row count at or below `p` (Project nodes carry none). */
  private def rowsBelow(p: SparkPlan): Long = p match {
    case _ if p.metrics.contains("numOutputRows") => metric(p, "numOutputRows")
    case _ if p.children.size == 1 => rowsBelow(p.children.head)
    case _ => 0L
  }

  private def isShuffleInput(p: SparkPlan): Boolean = p match {
    case i: InputAdapter => isShuffleInput(i.child)
    case _: QueryStageExec | _: Exchange | _: AQEShuffleReadExec | _: ReusedExchangeExec => true
    case _ => false
  }

  def planCounts(root: SparkPlan): PlanCounts = {
    var c = PlanCounts()
    nodes(root).foreach {
      case s: FileSourceScanExec =>
        c = c.copy(scanFiles = c.scanFiles + metric(s, "numFiles"),
          scanRows = c.scanRows + metric(s, "numOutputRows"))
      case d: DataWritingCommandExec =>
        def m(n: String) = d.cmd.metrics.get(n).map(_.value).getOrElse(0L)
        c = c.copy(writeFiles = c.writeFiles + m("numFiles"),
          writeBytes = c.writeBytes + m("numOutputBytes"), writeRows = c.writeRows + m("numOutputRows"),
          commitMs = c.commitMs + m("jobCommitTime") + m("taskCommitTime"))
      // a whole-row dedup: grouping on every output column, no aggregate
      case h: HashAggregateExec if h.aggregateExpressions.isEmpty &&
          h.groupingExpressions.nonEmpty && h.groupingExpressions.size == h.output.size =>
        val child = h.child
        if (isShuffleInput(child)) c = c.copy(dedupOut = c.dedupOut + metric(h, "numOutputRows"))
        else c = c.copy(dedupIn = c.dedupIn + rowsBelow(child))
      case _ =>
    }
    c
  }
}
