package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Final}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Where a Spark job came from: the pass, the operation and the phase within
  * it ("construct", "action", "read"), read from the local properties the
  * harness sets on the issuing thread before each call into the engine. */
final case class Tag(pass: Int, op: String, phase: String)

object Tag {
  val Pass = "perfbench.pass"
  val Op = "perfbench.op"
  val Phase = "perfbench.phase"
  val None: Tag = Tag(-9, "", "")

  def of(props: java.util.Properties): Tag =
    if (props == null || props.getProperty(Pass) == null) None
    else Tag(props.getProperty(Pass).toInt, props.getProperty(Op, ""), props.getProperty(Phase, ""))
}

/** Task-level sums for one pass. */
final class Acc {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, inBytes, inRows, outBytes, outRows = 0L
  var shuffleWrite, shuffleRead, spill = 0L
}

final case class JobSpan(id: Int, tag: Tag, startMs: Long, endMs: Long)
/** One executed query: its planning phases and plan size, and what
  * [[FullEvaluation]] checks: the columns a write command wrote, whether
  * the executed plan has a global sort, and its final aggregate functions. */
final case class PlanRec(startMs: Long, endMs: Long, funcName: String, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, nodes: Int, kernels: Int, graftNodes: Int,
    written: Seq[String], globalSort: Boolean, finalAggs: Seq[String])
final case class BatchRec(timeMs: Long, rows: Long, durationMs: Long)

/** Metrics collected at the engine's layer boundaries through Spark's public
  * listener APIs.
  *
  * Always on (both modes): one SparkListener summing task metrics per pass,
  * tagged through local properties. With `trace` on it also keeps job
  * spans, a QueryExecutionListener reading each executed query's planning
  * phases from its own tracker, and a StreamingQueryListener. Events arrive
  * asynchronously; [[drain]] waits until everything issued so far has been
  * delivered. */
final class Recorder(spark: SparkSession, trace: Boolean) {
  private val sc = spark.sparkContext
  private val stageTag = new ConcurrentHashMap[Int, Tag]()
  private val jobStart = new ConcurrentHashMap[Int, (Tag, Long)]()
  private val accs = new ConcurrentHashMap[Int, Acc]()
  val jobSpans = new ConcurrentLinkedQueue[JobSpan]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val markerSeen = new AtomicLong(-1)
  private val markerNext = new AtomicLong(0)

  def acc(pass: Int): Acc = accs.computeIfAbsent(pass, _ => new Acc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Tag.of(e.properties)
      e.stageIds.foreach(stageTag.put(_, tag))
      jobStart.put(e.jobId, (tag, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (tag, t0) = Option(jobStart.remove(e.jobId)).getOrElse((Tag.None, e.time))
      if (tag.op == "marker") markerSeen.set(tag.phase.toLong)
      else {
        acc(tag.pass).jobs += 1
        if (trace) jobSpans.add(JobSpan(e.jobId, tag, t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      acc(stageTag.getOrDefault(e.stageInfo.stageId, Tag.None).pass).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(stageTag.getOrDefault(e.stageId, Tag.None).pass)
      a.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRows += m.outputMetrics.recordsWritten
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  sc.addSparkListener(listener)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.get("analysis").orElse(ph.values.headOption).map(_.startTimeMs).getOrElse(0L)
      val nodes = Recorder.nodes(qe.executedPlan)
      val exprs = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      val end = (start +: ph.values.map(_.endTimeMs).toSeq).max
      plans.add(PlanRec(start, end, funcName, ms("analysis"), ms("optimization"), ms("planning"),
        nodes.size,
        exprs.count(_.getClass.getName.startsWith("graft.functions.")),
        nodes.count(_.getClass.getName.startsWith("graft.plans.")),
        qe.optimizedPlan.children.headOption.map(_.output.map(_.name)).getOrElse(Nil),
        nodes.exists { case s: SortExec => s.global; case _ => false },
        nodes.collect { case a: BaseAggregateExec => a.aggregateExpressions }.flatten
          .filter(ae => ae.mode == Final || ae.mode == Complete)
          .map(_.aggregateFunction.prettyName)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, p.batchDuration))
    }
  }

  if (trace) {
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener has seen every job issued so far: a marker job
    * is queued behind them and the bus delivers in order. Plan and
    * streaming events travel on other queues, so those are given a short
    * settle time on top. */
  def drain(): Unit = {
    val id = markerNext.getAndIncrement()
    val saved = Seq(Tag.Pass, Tag.Op, Tag.Phase).map(k => k -> sc.getLocalProperty(k))
    sc.setLocalProperty(Tag.Pass, "-9")
    sc.setLocalProperty(Tag.Op, "marker")
    sc.setLocalProperty(Tag.Phase, id.toString)
    sc.parallelize(Seq(1), 1).count()
    saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    val deadline = System.nanoTime() + 30e9.toLong
    while (markerSeen.get() < id && System.nanoTime() < deadline) Thread.sleep(5)
    require(markerSeen.get() >= id, "listener bus did not drain within 30 s")
    if (trace) {
      var n = -1
      while (n != plans.size + batches.size) { n = plans.size + batches.size; Thread.sleep(200) }
    }
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    if (trace) {
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
  }
}

object Recorder {
  /** Every node of a physical plan, through AQE stages, reused exchanges and
    * subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val below = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case other => other.children.flatMap(nodes)
    }
    (p +: below) ++ p.subqueries.flatMap(nodes)
  }

  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap the work still holds after a full collection, in MiB. Taken
    * between passes, outside their timers. */
  def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
