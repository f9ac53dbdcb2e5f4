package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.TableIO

/**
 * Feature–label dependence scoring: mutual information and chi-squared statistics of
 * candidate (binned) features against a label column — the feature-selection pass a
 * training pipeline runs before committing 100 TB to feature materialization (and the
 * classifier-free twin of the naive-Bayes scorer in Sampling: same contingency-table
 * plan, different statistic).
 *
 * Plan shape (since r13): ONE pass over the fact table total. The K features unpivot
 * map-side — each row explodes into its K (feature, x) pairs — and ONE map-side-
 * combined groupBy(feature, x, y) builds every contingency table at once; the
 * |ΣX|x|Y|-row contingency frame (bounded by bin design, never by corpus size) is
 * localCheckpoint'd because it feeds four consumers whose per-consumer pruning
 * defeats ReuseExchange, and marginals broadcast-join back. Everything after the one
 * scan is arithmetic over that tiny frame.
 *
 * MI  = Σ_xy (n_xy/N) · ln(N·n_xy / (n_x·n_y))       (natural log, > 0 terms only by
 *                                                     construction since n_xy >= 1)
 * chi² = Σ_xy (n_xy − e_xy)² / e_xy with e_xy = n_x·n_y/N over observed cells, plus
 *        e_xy for unobserved cells — equivalently Σ over observed of n²/e − N, which
 *        needs no dense cell enumeration (absent cells contribute exactly e_xy).
 */
object FeatureStats {

  /** (mi6, chi2r) one-row frame for a single feature expression vs a label.
    *
    * r13: the contingency frame is localCheckpoint'd. It feeds FOUR consumers (nx,
    * ny, n, and the scored join) and per-consumer column pruning makes the subtrees
    * canonicalize differently, so ReuseExchange never fires and each consumer re-ran
    * the full input scan — the r12 plan re-scanned the fact table four times per
    * call (plans/r13/q_feature_mi_before.txt: 12 scans for 3 features). The frame is
    * |X|x|Y| rows — bounded by bin design, the cheapest thing in the job to
    * materialize. One scan per call now.
    *
    * EAGER-MATERIALIZATION CONTRACT (since r13): constructing this frame runs a Spark
    * job immediately (the localCheckpoint above), and the checkpointed contingency
    * blocks live in executor-local (non-fault-tolerant) storage until consumed — an
    * intentional trade for the 4x scan cut. Callers composing plans fully lazily, or
    * needing the intermediate to survive executor loss, should build the contingency
    * table themselves.
    *
    * r14 (ADVICE r13): the MI log ratio and the chi² n²/e term cast to double BEFORE
    * multiplying — n_x·n_y and n_xy² as long·long silently wrap past ~3e9-row cells
    * (lineitem at 100 TB is ~6e11 rows against 2-3 label values), while the DuckDB
    * oracle SQL casts first. Below 2^53 the double products are exact, so results at
    * every rehearsal scale are bit-identical to the long form. */
  def dependence(df: DataFrame, feature: Column, label: Column): DataFrame = {
    val cont = df.select(feature.as("x"), label.as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("nxy"))
      .localCheckpoint()
    val nx = cont.groupBy(col("x")).agg(sum(col("nxy")).as("nx"))
    val ny = cont.groupBy(col("y")).agg(sum(col("nxy")).as("ny"))
    val n = cont.agg(sum(col("nxy")).as("n"))
    val joined = cont.join(broadcast(nx), "x").join(broadcast(ny), "y")
      .crossJoin(broadcast(n))
    val p = col("nxy").cast("double") / col("n")
    val mi = sum(p * log(col("n").cast("double") * col("nxy")
      / (col("nx").cast("double") * col("ny"))))
    val e = col("nx").cast("double") * col("ny") / col("n")
    val chi2 = sum(col("nxy").cast("double") * col("nxy") / e) - first(col("n")).cast("double")
    joined.agg(round(mi, 6).as("mi6"), round(chi2, 4).as("chi2r"))
  }

  /**
   * `q_feature_mi`: score three candidate lineitem features against the return flag —
   * equal-width quantity bins, 5%-wide discount bins, and the categorical line status.
   *
   * ONE scan explodes each row into its three (feature, x) pairs map-side, ONE
   * map-side-combined groupBy(feature, x, y) builds all three contingency tables at
   * once, and the marginals/statistics carry the feature key through the same
   * broadcast-join shape — where [[dependence]] per feature would scan lineitem three
   * times. Per-cell values equal the per-feature form's; the per-feature double-sum
   * ORDER differs, inside the round-6/round-4 grain, and the oracle hash-matches.
   */
  def qFeatureMi(spark: SparkSession, dir: String): DataFrame = {
    val l = TableIO.lineitem(spark, dir)
    val pairs = array(
      struct(lit("qty_bin").as("feature"),
        floor((col("l_quantity") - 1) / 10).cast("int").cast("string").as("x")),
      struct(lit("disc_bin").as("feature"),
        floor(col("l_discount") * 20).cast("int").cast("string").as("x")),
      struct(lit("linestatus").as("feature"), col("l_linestatus").cast("string").as("x")))
    val src = l.select(explode(pairs).as("fx"), col("l_returnflag").as("y"))
      .select(col("fx.feature").as("feature"), col("fx.x").as("x"), col("y"))
    // localCheckpoint for the same reason as [[dependence]]: four consumers, pruning
    // defeats ReuseExchange — without it even the fused form re-scanned lineitem 4x
    // (one per marginal). |Σ|X|| x |Y| rows; one scan total with it.
    val cont = src.groupBy(col("feature"), col("x"), col("y")).agg(count(lit(1)).as("nxy"))
      .localCheckpoint()
    val nx = cont.groupBy(col("feature"), col("x")).agg(sum(col("nxy")).as("nx"))
    val ny = cont.groupBy(col("feature"), col("y")).agg(sum(col("nxy")).as("ny"))
    val n = cont.groupBy(col("feature")).agg(sum(col("nxy")).as("n"))
    val joined = cont
      .join(broadcast(nx), Seq("feature", "x"))
      .join(broadcast(ny), Seq("feature", "y"))
      .join(broadcast(n), Seq("feature"))
    // double-first multiplies, mirroring [[dependence]] (r14 overflow fix — see its doc)
    val p = col("nxy").cast("double") / col("n")
    val mi = sum(p * log(col("n").cast("double") * col("nxy")
      / (col("nx").cast("double") * col("ny"))))
    val e = col("nx").cast("double") * col("ny") / col("n")
    val chi2 = sum(col("nxy").cast("double") * col("nxy") / e) - first(col("n")).cast("double")
    joined.groupBy(col("feature"))
      .agg(round(mi, 6).as("mi6"), round(chi2, 4).as("chi2r"))
      .orderBy(col("feature"))
  }

  val qFeatureMiSql: String =
    """WITH src AS (
      |  SELECT CAST(CAST(floor((l_quantity - 1) / 10) AS INT) AS VARCHAR) AS qty_bin,
      |         CAST(CAST(floor(l_discount * 20) AS INT) AS VARCHAR) AS disc_bin,
      |         l_linestatus AS linestatus, l_returnflag AS y
      |  FROM lineitem
      |), feats AS (
      |  SELECT 'qty_bin' AS feature, qty_bin AS x, y FROM src
      |  UNION ALL SELECT 'disc_bin', disc_bin, y FROM src
      |  UNION ALL SELECT 'linestatus', linestatus, y FROM src
      |), cont AS (
      |  SELECT feature, x, y, count(*) AS nxy FROM feats GROUP BY 1, 2, 3
      |), nx AS (
      |  SELECT feature, x, sum(nxy) AS nx FROM cont GROUP BY 1, 2
      |), ny AS (
      |  SELECT feature, y, sum(nxy) AS ny FROM cont GROUP BY 1, 2
      |), n AS (
      |  SELECT feature, sum(nxy) AS n FROM cont GROUP BY 1
      |)
      |SELECT c.feature,
      |       round(sum((CAST(c.nxy AS DOUBLE) / n.n)
      |             * ln(CAST(n.n AS DOUBLE) * c.nxy / (nx.nx * ny.ny))), 6) AS mi6,
      |       round(sum(CAST(c.nxy AS DOUBLE) * c.nxy
      |             / (CAST(nx.nx AS DOUBLE) * ny.ny / n.n)) - any_value(n.n), 4) AS chi2r
      |FROM cont c
      |JOIN nx ON nx.feature = c.feature AND nx.x = c.x
      |JOIN ny ON ny.feature = c.feature AND ny.y = c.y
      |JOIN n ON n.feature = c.feature
      |GROUP BY c.feature
      |ORDER BY c.feature""".stripMargin

  // ---- two-sample Kolmogorov–Smirnov drift ---------------------------------------------

  /**
   * `q_ks_drift`: two-sample KS statistic of each source's doc-length distribution
   * against the REST of the corpus — the distribution-drift screen run before
   * admitting a new source into a training mix (and the nonparametric complement of
   * the entropy screen in 72am). D = max over observed values v of
   * |F_src(v) − F_rest(v)|, computed exactly:
   *
   *   - per-(source, value) counts: ONE map-side-combined groupBy;
   *   - the evaluation grid is each source x the GLOBAL distinct-value frame
   *     (bounded by distinct lengths — never corpus-sized) via a broadcast;
   *   - both CDFs come from running sums over windows partitioned BY SOURCE — no
   *     global window; F_rest(v) derives from the global cumulative minus the
   *     source's own (one subtraction, no second pass);
   *   - each F is a single integer-count division, so both engines compare
   *     bit-identical doubles before the final round.
   */
  def qKsDrift(spark: SparkSession, dir: String): DataFrame = {
    val lens = TableIO.documents(spark, dir)
      .select(col("source"), col("n_chars").as("v"))
    val perSrc = lens.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
    val perVal = lens.groupBy(col("v")).agg(count(lit(1)).as("c_all"))
    val srcTot = perSrc.groupBy(col("source")).agg(sum(col("c")).as("n_src"))
    val nAll = lens.agg(count(lit(1)).as("n_all"))
    val grid = srcTot.select(col("source"), col("n_src"))
      .crossJoin(broadcast(perVal))
    val bySrc = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(perSrc, Seq("source", "v"), "left")
      .withColumn("cum_src", sum(coalesce(col("c"), lit(0L))).over(bySrc))
      .withColumn("cum_all", sum(col("c_all")).over(bySrc))
      .crossJoin(broadcast(nAll))
      .withColumn("f_src", col("cum_src").cast("double") / col("n_src"))
      .withColumn("f_rest",
        (col("cum_all") - col("cum_src")).cast("double") / (col("n_all") - col("n_src")))
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_docs"),
        round(max(abs(col("f_src") - col("f_rest"))), 6).as("ks"))
      .orderBy(col("source"))
  }

  val qKsDriftSql: String =
    """WITH lens AS (SELECT source, n_chars AS v FROM documents),
      |per_src AS (SELECT source, v, count(*) AS c FROM lens GROUP BY 1, 2),
      |per_val AS (SELECT v, count(*) AS c_all FROM lens GROUP BY 1),
      |src_tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM per_src GROUP BY 1),
      |n_all AS (SELECT count(*) AS n_all FROM lens),
      |grid AS (SELECT s.source, s.n_src, p.v, p.c_all FROM src_tot s CROSS JOIN per_val p),
      |cdf AS (
      |  SELECT g.source, g.n_src, g.v,
      |    sum(coalesce(ps.c, 0)) OVER (PARTITION BY g.source ORDER BY g.v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_src,
      |    sum(g.c_all) OVER (PARTITION BY g.source ORDER BY g.v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
      |  FROM grid g LEFT JOIN per_src ps ON ps.source = g.source AND ps.v = g.v)
      |SELECT c.source, max(c.n_src) AS n_docs,
      |  round(max(abs(CAST(cum_src AS DOUBLE) / n_src
      |    - CAST(cum_all - cum_src AS DOUBLE) / (n_all - n_src))), 6) AS ks
      |FROM cdf c CROSS JOIN n_all
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /**
   * Generic exact two-sample KS statistic between two single-column value frames —
   * the [[qKsDrift]] plan generalized to arbitrary samples: per-value counts for
   * each side, evaluation over the union grid of distinct values, CDFs from one
   * running-sum window each, D = max |F_a − F_b|. Returns one row (n_a, n_b, ks).
   */
  def twoSampleKs(a: DataFrame, b: DataFrame): DataFrame = {
    import graft.operators.AnalyticsOps.distributedCumSum
    val ca = a.toDF("v").groupBy(col("v")).agg(count(lit(1)).as("c_a"))
    val cb = b.toDF("v").groupBy(col("v")).agg(count(lit(1)).as("c_b"))
    val grid = ca.join(cb, Seq("v"), "full")
      .select(col("v"), coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    // CDFs ride the distributed prefix-sum primitive (29z) — exact integer cumsums
    // over the distinct-value grid with no single-partition window
    val g1 = distributedCumSum(grid, Seq(col("v")), col("c_a"))
      .withColumnRenamed("cum", "cum_a")
    val g2 = distributedCumSum(g1, Seq(col("v")), col("c_b"))
      .withColumnRenamed("cum", "cum_b")
    val tot = grid.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    g2.crossJoin(broadcast(tot))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        round(max(abs(col("cum_a") / col("n_a") - col("cum_b") / col("n_b"))), 6)
          .as("ks"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_feature_mi" -> (qFeatureMi(_, _)),
    "q_ks_drift" -> (qKsDrift(_, _)))

  val oracles: Map[String, String] = Map(
    "q_feature_mi" -> qFeatureMiSql,
    "q_ks_drift" -> qKsDriftSql)
}
