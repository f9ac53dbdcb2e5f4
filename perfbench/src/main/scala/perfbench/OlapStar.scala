package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkEntry

/**
 * `olap_star`: the reference's own traffic, star-schema queries over the test
 * tables: four TPC-H queries (scan and aggregate, three- and six-way joins, an IN
 * subquery, top-N) and two SSB flights over the StarCache-materialized `lineorder`
 * star. Each query is built through its `SparkEntry.queries` builder and
 * drained into the `noop` sink. One cold pass over the distinct queries, then
 * `warmPasses` warm passes; every pass runs in its own seeded order.
 */
final class OlapStar(input: String, work: String, seed: Long, warmPasses: Int)
    extends Workload {
  val mix: Seq[String] =
    Seq("tpch_q1", "tpch_q3", "tpch_q5", "tpch_q18", "ssb_q1_1", "ssb_q4_1")

  /** Building one SSB query materializes the SSB StarCache star. */
  private val starSeed = "ssb_q1_1"

  private val builders = SparkEntry.queries
  private val shapes = mutable.Map.empty[String, Map[String, Int]]

  private def family(q: String) = q.takeWhile(_ != '_')

  override def setup(spark: SparkSession, rec: Recorder): Unit =
    rec.span("sources.star_build")(builders(starSeed)(spark, input))

  /** The cold pass, then one untimed pass that writes every result for the output
    * check (it also warms the JIT), then the warm passes. */
  def run(spark: SparkSession, rec: Recorder): Unit = {
    def pass(p: Int): Unit = {
      rec.pass = p
      new scala.util.Random(seed * 7919 + p).shuffle(mix).foreach { q =>
        rec.op("query", q, cold = p == 0)(execute(spark, rec, q))
      }
    }
    pass(0)
    mix.foreach(q => builders(q)(spark, input).write.mode("overwrite").parquet(s"$work/results/$q"))
    (1 to warmPasses).foreach(pass)
  }

  /** Untraced: builder call, then the noop sink. Traced: the same work split at the
    * plan phases, draining the already-planned physical plan. */
  private def execute(spark: SparkSession, rec: Recorder, q: String): Unit =
    if (!rec.tracing) builders(q)(spark, input).write.format("noop").mode("overwrite").save()
    else {
      val df = rec.span("plans.build")(builders(q)(spark, input))
      rec.span("plans.optimize")(df.queryExecution.optimizedPlan)
      rec.span("plans.physical")(df.queryExecution.executedPlan)
      rec.span(s"operators.exec.${family(q)}")(df.queryExecution.toRdd.foreach(_ => ()))
      shapes(q) = PlanShape(df.queryExecution.executedPlan)
    }

  def checkData(spark: SparkSession): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    Map("results" -> s"$work/results", "oracle" -> mix.map(q => q -> oracle(q)).toMap)
  }

  override def tracedCounters(spark: SparkSession): Map[String, Any] = {
    val n = shapes.size.max(1).toDouble
    PlanShape.kinds.map(k => s"plans.$k" -> shapes.values.map(_(k)).sum / n).toMap
  }

  def storedDirs(tmp: String): Seq[String] = Seq(s"$tmp/graft_star")
}

/** Node counts of a query's final (post-AQE) physical plan, subqueries included. */
object PlanShape extends AdaptiveSparkPlanHelper {
  val kinds = Seq("exchanges", "reused_exchanges", "smj", "bhj", "scans", "topk_nodes")

  def apply(plan: SparkPlan): Map[String, Int] = {
    val names = collectWithSubqueries(plan) { case p => p.getClass.getSimpleName }
    def n(f: String => Boolean) = names.count(f)
    Map(
      "exchanges" -> n(c => c.endsWith("ExchangeExec") && !c.startsWith("Reused")),
      "reused_exchanges" -> n(_ == "ReusedExchangeExec"),
      "smj" -> n(_ == "SortMergeJoinExec"),
      "bhj" -> n(_ == "BroadcastHashJoinExec"),
      "scans" -> n(c => c == "FileSourceScanExec" || c == "BatchScanExec"),
      "topk_nodes" -> n(c => c.contains("TopK") || c == "TakeOrderedAndProjectExec" ||
        c == "WindowGroupLimitExec"))
  }
}
