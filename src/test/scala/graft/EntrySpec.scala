package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

import graft.tools.PlanStability

/** Driver-contract smoke: entry() yields rows; every query key has a runnable plan, and
  * that plan passes the scale lint below. */
class EntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  // Plan lint: shapes that are fine at test SF but wrong at 100 TB — unexpected
  // cartesian products, and nested-loop joins whose broadcast side can GROW with the
  // data. A query whose plan is INTENTIONALLY a flagged shape needs an entry in an
  // allow-list below with a written justification.
  private val allowCartesian = Set(
    "q_cross", // the CartesianProduct demonstration itself (dims only)
    "dedup_embedding_exact", // the O(n²) oracle twin, deliberately demoted
    "tpch_q15", "q_scalar_subquery", "tpch_q22", // 1-row scalar frame cross joins
    "q_math" // single-row aggregate
  )
  // BNLJ over a MULTI-row but bounded-by-construction broadcast frame: the non-stream
  // side's cardinality is fixed by the algorithm (query set, centroid count, class
  // count), not by the data volume — it broadcasts at ANY corpus size. The 1-row
  // scalar-frame case needs no entry here: boundedFrame proves it from the plan.
  private val allowNestedLoop = Set(
    "q_join_nonequi", // the BNLJ demonstration
    "tpch_q19", // disjunctive-predicate join (BNLJ over broadcast part is the right plan)
    "q_cross", // crossJoin of two broadcastable dims plans as broadcast-NLJ
    "ann_bruteforce", // broadcast query set x corpus scan IS the brute-force design
    "ann_mmr", // MMR re-rank: bounded top-k candidate frame per query
    "dedup_embedding_exact", // the O(n²) oracle twin (crossJoin + filter lowers to BNLJ)
    "ann_quantized", "ann_rrf", // bounded query-set frames re-ranked per corpus row
    "dedup_semantic_fixed", // broadcast fixed-centroid frame
    "q_kmeans", // k centroids re-broadcast per iteration (k fixed by the algorithm)
    "text_nb_lang", // class-cardinality totals frame (|languages| rows)
    // distributedCumSum's carry frame: a triangular non-equi self-join over the
    // one-row-PER-PARTITION totals (<= numRanges = 32 rows) — bounded by the
    // partitioning config, not the data (AnalyticsOps.distributedCumSum). q_rfm
    // rides the same carry frame three times.
    "q_abc", "q_concurrency", "q_ks_drift", "corpus_overlap_minhash", "q_rfm",
    // skyline phase 2: broadcast anti-join of the partition-pruned candidate
    // frontier against itself — quadratic only on ~O(frontier) survivors
    "q_skyline",
    // the derived DS star's inventory GENERATOR: a deliberate
    // calendar x warehouse x part grid (TpcdsRealQueries prefix); the broadcast
    // side is calendar-weeks x the <=10-row nation-derived warehouse dim —
    // bounded by the calendar span and dim caps, never by fact volume
    "tpcds_q21", "tpcds_q22", "tpcds_q22a", "tpcds_q39a", "tpcds_q39b",
    "tpcds_q72", "tpcds_q82"
  )

  /** True when the subtree's OUTPUT cardinality is DATA-INDEPENDENT, so broadcasting
    * it is never a scale risk. Structural, root-down — a bounding operator must
    * DOMINATE the output (sit between the root and every data-reading leaf), not
    * merely exist somewhere in the subtree (bigTable JOIN scalarAgg contains a global
    * aggregate, but its root output scales with bigTable):
    *  - a grouping-less (global) aggregate bounds everything below it to 1 row;
    *  - a global limit / top-N bounds everything below it to its literal k
    *    (LocalLimit does NOT: k rows PER PARTITION scales with the partition count);
    *  - leaves: LocalTableScan / Range are code-constant frames; file/table scans
    *    are the data itself;
    *  - every other operator is bounded only if ALL its inputs are (a join's output
    *    scales with either input; a union's with their sum). */
  private def boundedFrame(p: SparkPlan): Boolean = p match {
    // AQE / reuse wrappers: look through
    case a: AdaptiveSparkPlanExec => boundedFrame(a.executedPlan)
    case q: QueryStageExec        => boundedFrame(q.plan)
    case r: ReusedExchangeExec    => boundedFrame(r.child)
    case r: ReusedSubqueryExec    => boundedFrame(r.child)
    // bounding operators: cut off the subtree below
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
    case _: GlobalLimitExec | _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
    // data-reading leaves: unbounded by definition
    case _: FileSourceScanExec | _: RowDataSourceScanExec | _: BatchScanExec => false
    // code-constant leaves: cardinality fixed by the program, not the data
    case _: LocalTableScanExec | _: RangeExec => true
    // Generate MULTIPLIES: a bounded input does not bound the output —
    // explode(collect_list(x)) above a global aggregate is 1 row in,
    // data-cardinality rows out. Bounded only when the generator expands
    // LITERALS (explode(sequence(DATE…, DATE…)): the calendar frame), where the
    // fan-out per row is fixed by the program; attribute-fed generators are
    // unbounded no matter how bounded the input frame is.
    case g: GenerateExec =>
      g.generator.children.forall(_.foldable) && g.children.forall(boundedFrame)
    // everything else (joins, unions, projects, grouped aggregates…): output is
    // bounded only when every input is; unknown LEAVES stay conservative
    case other => other.children.nonEmpty && other.children.forall(boundedFrame)
  }

  /** Lint findings for `name`'s executed plan; empty when the plan is clean. */
  private def lint(name: String, plan: SparkPlan): Seq[String] = {
    val nodes = PlanStability.walk(plan)
    // The BUILD side is what gets broadcast: an unbounded build side is a scale killer
    // no matter how small the stream side is.
    val riskyBnlj = nodes.exists {
      case b: BroadcastNestedLoopJoinExec =>
        !boundedFrame(if (b.buildSide == BuildLeft) b.left else b.right)
      case _ => false
    }
    Seq(
      // the plan string also prints subquery plans, which the node walk skips
      (plan.toString.contains("CartesianProduct") && !allowCartesian(name)) ->
        "unexpected CartesianProduct",
      (riskyBnlj && !allowNestedLoop(name)) ->
        "BroadcastNestedLoopJoin with an unbounded (non-scalar-frame) side"
    ).collect { case (true, msg) => msg }
  }

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key is a queries key") {
    val orphan = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphan.isEmpty, s"oracle without query: $orphan")
  }

  test("every query at sf0.001 executes") {
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val df = fn(spark, sf)
        // execute the frame's OWN QueryExecution so AQE finalizes the plan linted below
        df.queryExecution.toRdd.foreachPartition((_: Iterator[_]) => ())
        Right(lint(name, df.queryExecution.executedPlan).map(msg => s"$name: $msg"))
      } catch { case e: Throwable => Left(s"$name: ${String.valueOf(e.getMessage).take(120)}") }
    }
    val failures = results.collect { case Left(msg) => msg }
    assert(failures.isEmpty, failures.mkString("\n"))
    val flagged = results.collect { case Right(msgs) => msgs }.flatten
    assert(flagged.isEmpty, s"plan lint flagged:\n${flagged.mkString("\n")}")
  }
}
