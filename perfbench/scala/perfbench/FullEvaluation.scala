package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Sort}

/** Pins that the benchmark's timed action ([[Harness.evaluate]]) evaluates
  * the whole result. For each named query, every plan the timed runs
  * actually executed (as recorded by the [[Recorder]]'s
  * QueryExecutionListener inside the operation's action window) must keep
  * the query's final global sort, every output column, and every aggregate
  * function of the query's own optimized plan. `count()` fails this (it
  * drops the sort and the aggregates nobody reads), which is why the
  * benchmark does not time it. Returns one message per violation. */
object FullEvaluation {

  def check(spark: SparkSession, dataDir: String, ids: Seq[String], recs: Seq[OpRec],
      plans: Seq[PlanRec]): Seq[String] =
    ids.flatMap { id =>
      val q = SparkEntry.engineQueries.find(_.name.startsWith(id + "_"))
        .getOrElse(sys.error(s"no query $id"))
      // the query as its caller sees it, built again after the timed region
      val df = q.run(spark, dataDir)
      val own = df.queryExecution.optimizedPlan
      val wanted = own.collect { case a: Aggregate => a.aggregateExpressions }.flatten
        .flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction.prettyName })
      val sorted = own match { case s: Sort => s.global; case _ => false }
      val timed = recs.filter(r => r.op == q.name && r.error.isEmpty)
      val errs = Seq.newBuilder[String]
      if (timed.isEmpty) errs += s"${q.name}: no successful timed execution to check"
      if (wanted.isEmpty) errs += s"${q.name}: query has no aggregate to check"
      timed.foreach { r =>
        plans.filter(p => p.endMs >= r.splitMs && p.endMs <= r.endMs).lastOption match {
          case None => errs += s"${q.name}: no executed plan observed for the timed action (pass ${r.pass})"
          case Some(p) =>
            if (p.written != df.columns.toSeq)
              errs += s"${q.name}: timed ${p.funcName} outputs ${p.written}, query has ${df.columns.toSeq}"
            if (sorted && !p.globalSort)
              errs += s"${q.name}: timed plan lost the final global sort"
            val missing = wanted.diff(p.finalAggs)
            if (missing.nonEmpty) errs += s"${q.name}: timed plan lost aggregates ${missing.mkString(", ")}"
        }
      }
      errs.result().distinct
    }
}
