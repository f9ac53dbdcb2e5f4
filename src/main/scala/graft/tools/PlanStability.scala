package graft.tools

import java.io.PrintWriter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.ReusedSubqueryExec

import graft.GraftSession

/**
 * Plan-stability fingerprints — the graft analog of the reference's approved-plans
 * suite (gazelle_plugin: native-sql-engine/core/src/test/resources/tpcds-plan-
 * stability/approved-plans-v1_4, -v2_7, -modified): a golden snapshot of each
 * benchmark query's physical plan SHAPE, so a silent plan regression (a dim falling
 * out of broadcast, a join flipping to sort-merge, an extra shuffle appearing) fails
 * a test instead of surfacing as unexplained bench drift three rounds later.
 *
 * The fingerprint is deliberately coarse — an ordered multiset of join descriptors
 * (join class + join type + build side) plus exchange counts — NOT the full plan
 * string: expression IDs, statistics, and file paths churn on every run, and
 * pinning them would make the snapshot flake. What the fingerprint pins is exactly
 * what matters at 100 TB: which joins broadcast, which shuffle, and how many
 * exchanges the plan pays.
 *
 * Snapshot lives at src/test/resources/plan_fingerprints.tsv (name TAB fingerprint),
 * computed at sf0.001 under the same session shape the test suite uses (local[4]).
 * Regenerate after an INTENTIONAL plan change: sbt "runMain graft.tools.PlanStability"
 * and commit the diff — the diff itself is then the reviewable plan change.
 */
object PlanStability {

  /** Queries covered: the verbatim benchmark surfaces (plan shape is the contract
    * there — the bodies can't change) — TPC-H, TPC-DS (incl. variants), SSB. */
  def coveredKeys: Seq[String] = graft.SparkEntry.queries.keys.toSeq
    .filter(k => k.startsWith("tpch_") || k.startsWith("tpcds_") || k.startsWith("ssb_"))
    .sorted

  /** Every node of a physical plan, descending through AQE stage and reuse wrappers and
    * into reused subqueries. */
  private[graft] def walk(p: SparkPlan): Seq[SparkPlan] = {
    val through: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case r: ReusedSubqueryExec    => Seq(r.child)
      case _                        => p.children
    }
    p +: through.flatMap(walk)
  }

  /** Shape fingerprint of the INITIAL physical plan (pre-execution: deterministic,
    * cheap, and exactly what the static planner decided from file stats). */
  def fingerprint(df: DataFrame): String = {
    val nodes = walk(df.queryExecution.executedPlan)
    // joinType.toString can embed expression IDs (ExistenceJoin(exists#14002)),
    // which churn per session — strip them or the snapshot flakes.
    def noIds(s: String) = s.replaceAll("#\\d+", "")
    val joins = nodes.collect {
      case j: BroadcastHashJoinExec       => noIds(s"BHJ:${j.joinType}:${j.buildSide}")
      case j: ShuffledHashJoinExec        => noIds(s"SHJ:${j.joinType}:${j.buildSide}")
      case j: SortMergeJoinExec           => noIds(s"SMJ:${j.joinType}")
      case j: BroadcastNestedLoopJoinExec => noIds(s"BNLJ:${j.joinType}:${j.buildSide}")
      case _: CartesianProductExec        => "CARTESIAN"
    }.sorted
    val shuffles   = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    val broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
    (joins :+ s"shuffles=$shuffles" :+ s"broadcasts=$broadcasts").mkString(";")
  }

  val snapshotPath = "src/test/resources/plan_fingerprints.tsv"

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // Same session shape as SparkTestBase so the spec reproduces these exactly.
    val spark = GraftSession.get("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val out = new PrintWriter(snapshotPath, "UTF-8")
    try {
      coveredKeys.foreach { name =>
        val fp =
          try fingerprint(graft.SparkEntry.queries(name)(spark, dir))
          catch { case e: Throwable => s"ERROR:${e.getClass.getSimpleName}" }
        out.println(s"$name\t$fp")
      }
    } finally out.close()
    println(s"[planstability] wrote ${coveredKeys.size} fingerprints to $snapshotPath")
    spark.stop()
  }
}
