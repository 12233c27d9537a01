package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Turns the timed operations and the recorder's counters into the named
  * metrics. End-to-end metrics need no tracing; per-layer metrics are filled
  * only on traced runs and are means per warm pass, except those named
  * `_cold` (the cold pass alone) and the `tables.*`, `cache.*` and
  * `exec.failed_tasks` snapshots. */
object Metrics {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it (the 11th
    * largest value), but never below the 75th percentile, which it is when
    * there are fewer than 44 samples. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(s.size - 11, math.ceil(0.75 * s.size).toInt - 1))
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def compute(recs: Seq[OpRec], passes: Seq[(Int, Long, Long, Double)], compiles: Seq[Long],
      gcs: Seq[Long], rec: Recorder, cores: Int, setupS: Double, resolveS: Double,
      peakHeapMb: Double, cacheBytes: Long, persisted: Int,
      trace: Boolean, spans: ArrayBuffer[Map[String, Any]]): scala.collection.Map[String, Any] = {
    val cold = recs.filter(_.pass == 0)
    val warm = recs.filter(_.pass > 0)
    // per-operation latencies are over the workload's own operations:
    // queries where there are any, row reads otherwise
    def primary(rs: Seq[OpRec]): Seq[Double] = {
      val qs = rs.filterNot(_.op.startsWith("rows_"))
      (if (qs.nonEmpty) qs else rs).map(_.totalS)
    }
    val nWarm = passes.count(_._1 > 0).toDouble
    val warmWall = passes.filter(_._1 > 0).map(_._4)
    // rows over read time (getRows call .. last row), summed over the reads:
    // a projected read lasts a few tenths of a second, too short for the
    // median of per-read rates to be steady
    def rate(rs: Seq[OpRec]): Double = {
      val readS = rs.map(r => r.totalS - r.constructS).sum
      if (readS > 0) rs.map(_.rows).sum / readS else 0.0
    }
    val m = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "cold_pass_s" -> passes.head._4,
      "warm_pass_s" -> median(warmWall),
      "cold_gmean_s" -> math.exp(primary(cold).map(math.log).sum / primary(cold).size),
      "warm_p50_s" -> median(primary(warm)),
      "rows_per_s" -> rate(warm.filter(_.op.startsWith("rows_all"))),
      "proj_rows_per_s" -> rate(warm.filter(_.op.startsWith("rows_proj"))),
      "jvm.peak_heap_mb" -> peakHeapMb,
      "ops.cold_p50_s" -> median(primary(cold)),
      "ops.cold_tail_s" -> tail(primary(cold)),
      "ops.warm_tail_s" -> tail(primary(warm)),
      "sources.first_row_s" -> median(warm.filter(_.op.startsWith("rows_all")).map(_.firstRowS)),
      "n.cold_ops" -> primary(cold).size,
      "n.warm_ops" -> primary(warm).size,
      "n.warm_passes" -> nWarm)
    if (!trace) return m

    // ---- per-layer, traced runs only ----
    val jobs = rec.jobSpans.asScala.toSeq
    val jobsBy = jobs.groupBy(j => (j.tag.pass, j.tag.op, j.tag.phase))
    def jobIv(pass: Int, op: String, phase: String) =
      jobsBy.getOrElse((pass, op, phase), Nil).map(j => (j.startMs, j.endMs))
    def perWarm(x: Double): Double = if (nWarm > 0) x / nWarm else 0.0
    val accWarm = passes.filter(_._1 > 0).map(p => rec.acc(p._1))
    def sumWarm(f: Acc => Long): Double = accWarm.map(f).sum.toDouble
    def passOf(ms: Long): Int =
      passes.find(p => ms >= p._2 && ms <= p._3).map(_._1).getOrElse(-1)

    var construct, constructSelf, actionSelf, jobCovered, constructJobs, open, fetchStall, readS = 0.0
    var rowJobs, rows = 0L
    warm.foreach { r =>
      val rowRead = r.op.startsWith("rows_")
      val cJobs = jobIv(r.pass, r.op, "construct")
      val cCov = covered(cJobs, r.startMs, r.splitMs)
      val aJobs = jobIv(r.pass, r.op, if (rowRead) "read" else "action")
      val aCov = covered(aJobs, r.splitMs, r.endMs)
      jobCovered += (cCov + aCov) / 1e3
      if (rowRead) {
        open += r.constructS
        rowJobs += aJobs.size; fetchStall += aCov / 1e3; rows += r.rows
        readS += r.totalS - r.constructS
      } else {
        construct += r.constructS
        constructSelf += math.max(0, r.splitMs - r.startMs - cCov) / 1e3
        constructJobs += cJobs.size
        actionSelf += math.max(0, r.endMs - r.splitMs - aCov) / 1e3
      }
    }
    val plans = rec.plans.asScala.toSeq.map(p => (passOf(p.startMs), p))
    val warmPlans = plans.filter(_._1 > 0).map(_._2)
    val batches = rec.batches.asScala.toSeq.map(b => (passOf(b.timeMs), b))
    val warmBatches = batches.filter(_._1 > 0).map(_._2)
    val allAcc = passes.map(p => rec.acc(p._1))
    val outBytes = allAcc.map(_.outBytes).sum.toDouble
    val inBytes = allAcc.map(_.inBytes).sum.toDouble
    val tuned = warm.filter(_.op.startsWith("rows_tuned"))

    m ++= Seq(
      "trace.cold_pass_s" -> passes.head._4,
      "trace.warm_pass_s" -> median(warmWall),
      "sources.open_s" -> perWarm(open),
      "sources.rows" -> perWarm(rows.toDouble),
      "sources.row_jobs" -> perWarm(rowJobs.toDouble),
      "sources.fetch_stall_s" -> perWarm(fetchStall),
      "sources.lower_ns_per_row" -> (if (rows > 0) (readS - fetchStall) * 1e9 / rows else 0.0),
      "sources.tuned_rows_per_s" -> rate(tuned),
      "sources.output_bytes" -> perWarm(sumWarm(_.outBytes)),
      "sources.output_rows" -> perWarm(sumWarm(_.outRows)),
      "sources.output_bytes_cold" -> rec.acc(0).outBytes.toDouble,
      "sources.write_amp" -> (if (inBytes > 0) outBytes / inBytes else 0.0),
      "operators.construct_s" -> perWarm(construct),
      "operators.construct_cold_s" -> cold.filterNot(_.op.startsWith("rows_")).map(_.constructS).sum,
      "operators.construct_self_s" -> perWarm(constructSelf),
      "operators.construct_jobs" -> perWarm(constructJobs),
      "operators.action_self_s" -> perWarm(actionSelf),
      "plans.analysis_s" -> perWarm(warmPlans.map(_.analysisMs).sum / 1e3),
      "plans.optimization_s" -> perWarm(warmPlans.map(_.optimizationMs).sum / 1e3),
      "plans.planning_s" -> perWarm(warmPlans.map(_.planningMs).sum / 1e3),
      "plans.executions" -> perWarm(warmPlans.size.toDouble),
      "plans.plan_nodes" -> perWarm(warmPlans.map(_.nodes).sum.toDouble),
      "plans.graft_nodes" -> perWarm(warmPlans.map(_.graftNodes).sum.toDouble),
      "functions.kernel_exprs" -> perWarm(warmPlans.map(_.kernels).sum.toDouble),
      "codegen.compiles" -> perWarm(compiles.drop(1).sum.toDouble),
      "codegen.compiles_cold" -> compiles.head.toDouble,
      "exec.jobs" -> perWarm(sumWarm(_.jobs)),
      "exec.stages" -> perWarm(sumWarm(_.stages)),
      "exec.tasks" -> perWarm(sumWarm(_.tasks)),
      "exec.failed_tasks" -> allAcc.map(_.failedTasks).sum.toDouble,
      "exec.job_s" -> perWarm(jobCovered),
      "exec.idle_core_share" ->
        (1.0 - sumWarm(_.runMs) / 1e3 / math.max(1e-9, warmWall.sum * cores)),
      "exec.task_run_s" -> perWarm(sumWarm(_.runMs) / 1e3),
      "exec.task_cpu_s" -> perWarm(sumWarm(_.cpuNs) / 1e9),
      "exec.cpu_ns_per_input_row" -> sumWarm(_.cpuNs) / math.max(1.0, sumWarm(_.inRows)),
      "exec.scan_bytes" -> perWarm(sumWarm(_.inBytes)),
      "exec.scan_rows" -> perWarm(sumWarm(_.inRows)),
      "exec.shuffle_write_bytes" -> perWarm(sumWarm(_.shuffleWrite)),
      "exec.shuffle_read_bytes" -> perWarm(sumWarm(_.shuffleRead)),
      "exec.spill_bytes" -> perWarm(sumWarm(_.spill)),
      "streaming.batches" -> perWarm(warmBatches.size.toDouble),
      "streaming.empty_batches" -> perWarm(warmBatches.count(_.rows == 0).toDouble),
      "streaming.useful_batch_ratio" ->
        (if (warmBatches.isEmpty) 0.0 else warmBatches.count(_.rows > 0).toDouble / warmBatches.size),
      "streaming.input_rows" -> perWarm(warmBatches.map(_.rows).sum.toDouble),
      "streaming.batch_s" -> perWarm(warmBatches.map(_.durationMs).sum / 1e3),
      "tables.resolve_s" -> resolveS,
      "cache.storage_bytes" -> cacheBytes.toDouble,
      "cache.persisted_rdds" -> persisted.toDouble,
      "jvm.gc_s" -> perWarm(gcs.drop(1).sum / 1e3))

    // Spans: operation → construct / action (or open / read) → Spark jobs.
    var id = 0
    def span(name: String, parent: Int, a: Long, b: Long, attrs: (String, Any)*): Int = {
      id += 1
      spans += Map("id" -> id, "parent" -> parent, "name" -> name, "start_ms" -> a, "end_ms" -> b) ++ attrs
      id
    }
    recs.foreach { r =>
      val rowRead = r.op.startsWith("rows_")
      val o = span("op", 0, r.startMs, r.endMs, "op" -> r.op, "pass" -> r.pass)
      val c = span(if (rowRead) "sources.open" else "operators.construct", o, r.startMs, r.splitMs)
      val x = span(if (rowRead) "sources.read" else "action", o, r.splitMs, r.endMs)
      jobsBy.getOrElse((r.pass, r.op, "construct"), Nil).foreach(j =>
        span("spark.job", c, j.startMs, j.endMs, "job" -> j.id))
      jobsBy.getOrElse((r.pass, r.op, if (rowRead) "read" else "action"), Nil).foreach(j =>
        span("spark.job", x, j.startMs, j.endMs, "job" -> j.id))
    }
    plans.foreach { case (p, r) =>
      span("plans.phases", 0, r.startMs, r.startMs + r.analysisMs + r.optimizationMs + r.planningMs,
        "pass" -> p, "analysis_ms" -> r.analysisMs, "optimization_ms" -> r.optimizationMs,
        "planning_ms" -> r.planningMs, "nodes" -> r.nodes)
    }
    m
  }
}
