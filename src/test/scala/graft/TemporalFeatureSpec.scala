package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TemporalOps
import graft.pipeline.{FeatureStats, Linkage, TextRetrieval}

/** Temporal/lakehouse ops (point-in-time join, snapshot diff, DQ audit) and the
  * round-5 feature/text additions (edit-distance join, TF-IDF, MI/chi²). */
class TemporalFeatureSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf
  import spark.implicits._

  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  // --- point-in-time join -----------------------------------------------------------

  test("pointInTime resolves interval boundaries half-open: [from, to)") {
    val dim = Seq(
      // key 1: v1 valid [10, 20), v2 valid [20, null)
      (1L, "v1", 10L, Option(20L)), (1L, "v2", 20L, None),
      // key 2: only a current version from 15
      (2L, "w1", 15L, None)
    ).toDF("k", "payload", "valid_from", "valid_to")
    val facts = Seq((1L, 10L), (1L, 19L), (1L, 20L), (1L, 25L), (2L, 14L), (2L, 15L))
      .toDF("fk", "ts")
    val out = TemporalOps.pointInTime(facts, dim, "fk", "k", "ts", "valid_from", "valid_to")
      .select(col("fk"), col("ts"), col("payload")).as[(Long, Long, String)]
      .collect().toSet
    // ts=10,19 hit v1; ts=20 flips to v2 (from-inclusive, to-exclusive); ts=14 predates
    // key 2's history entirely -> dropped
    assert(out === Set((1L, 10L, "v1"), (1L, 19L, "v1"), (1L, 20L, "v2"),
      (1L, 25L, "v2"), (2L, 15L, "w1")))
  }

  test("q_temporal_join matches every order exactly once (no interval overlap)") {
    val out = TemporalOps.qTemporalJoin(spark, sf)
    val n = out.count()
    val nOrders = graft.sources.TableIO.orders(spark, sf).count()
    assert(n === nOrders, "each order must resolve to exactly one dimension version")
    val dup = out.groupBy("o_orderkey").count().filter(col("count") > 1).count()
    assert(dup === 0L)
  }

  test("q_temporal_join is an equi-join with interval filter, never nested-loop") {
    val plan = executedPlan(TemporalOps.qTemporalJoin(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"point-in-time lookup must ride the key equi-join:\n$plan")
  }

  // --- snapshot diff ----------------------------------------------------------------

  test("snapshotDiff classifies added/removed/changed and drops unchanged") {
    val before = Seq((1L, 10.0, "A"), (2L, 20.0, "A"), (3L, 30.0, "B"))
      .toDF("k", "price", "status")
    val after = Seq((2L, 20.0, "A"), (3L, 31.0, "B"), (4L, 40.0, "C"))
      .toDF("k", "price", "status")
    val out = TemporalOps.snapshotDiff(before, after, "k", Seq("price", "status"))
      .select(col("k"), col("change")).as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
  }

  test("snapshotDiff change column is null-safe on compare columns") {
    val before = Seq((1L, Option(10.0)), (2L, Option.empty[Double])).toDF("k", "price")
    val after = Seq((1L, Option(10.0)), (2L, Option.empty[Double])).toDF("k", "price")
    // NULL <=> NULL must not read as changed; identical rows are unchanged -> empty diff
    val out = TemporalOps.snapshotDiff(before, after, "k", Seq("price"))
    assert(out.count() === 0L, "identical snapshots must produce an empty change feed")
  }

  // --- data-quality report ----------------------------------------------------------

  test("q_dq_report detects the real key duplication in the synthetic lineitem") {
    val rows = TemporalOps.qDqReport(spark, sf)
      .select(col("rule"), col("violations")).as[(String, Long)].collect().toMap
    assert(rows.keySet === Set("null_quantity", "range_quantity", "range_discount",
      "set_returnflag", "null_shipdate", "unique_key", "fk_orderkey"))
    // the driver's synthetic lineitem is clean on every scalar + FK rule, but its
    // (l_orderkey, l_linenumber) pairs genuinely repeat — the audit must surface that
    val l = graft.sources.TableIO.lineitem(spark, sf)
    val expectedDups = l.count() -
      l.select(col("l_orderkey"), col("l_linenumber")).distinct().count()
    assert(rows("unique_key") === expectedDups && expectedDups > 0L,
      s"unique_key must equal the independently-counted duplicates: $rows")
    assert((rows - "unique_key").values.forall(_ === 0L),
      s"all other rules are clean by construction: $rows")
  }

  // --- edit-distance banded join ----------------------------------------------------

  test("editDistJoin finds the minimum-distance match within the band") {
    val clean = Seq((1L, "apple pie", "pie"), (2L, "apples pie", "pie"), (3L, "maple pie", "pie"))
      .toDF("id", "name", "block")
    val dirty = Seq((10L, "aple pie", "pie"), (11L, "zzzzzz pie", "pie"))
      .toDF("id", "name", "block")
    val out = Linkage.editDistJoin(clean, dirty, maxDist = 2)
      .select(col("dirty_id"), col("clean_id"), col("dist")).as[(Long, Long, Int)]
      .collect().map { case (d, c, x) => (d, (c, x)) }.toMap
    // "aple pie": dist 1 to "apple pie" (clean_id 1 wins over "apples pie" dist 2 and
    // "maple pie" dist 2); "zzzzzz pie" is beyond the band everywhere -> no row
    assert(out === Map(10L -> ((1L, 1))))
  }

  test("editDistJoin length pre-filter loses no within-band matches") {
    // names whose lengths differ by > maxDist cannot be within maxDist edits, so the
    // pre-filter is lossless: compare against the unfiltered variant on real names
    val p = graft.sources.TableIO.part(spark, sf).select(col("p_partkey"), col("p_name"))
    val clean = p.groupBy(col("p_name")).agg(min(col("p_partkey")).as("id"))
      .select(col("id"), col("p_name").as("name"),
        substring_index(col("p_name"), " ", -1).as("block"))
    val dirty = p.limit(200).select(col("p_partkey").as("id"),
      concat(lit("x"), col("p_name")).as("name"),
      substring_index(col("p_name"), " ", -1).as("block"))
    val banded = Linkage.editDistJoin(clean, dirty, 2)
    val naive = {
      val c = clean.select(col("id").as("clean_id"), col("name").as("clean_name"), col("block"))
      val d = dirty.select(col("id").as("dirty_id"), col("name").as("dirty_name"), col("block"))
      d.join(c, "block")
        .withColumn("dist", levenshtein(col("dirty_name"), col("clean_name")))
        .filter(col("dist") <= 2)
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("dirty_id")).orderBy(col("dist"), col("clean_id"))))
        .filter(col("rn") === 1)
        .select(col("dirty_id"), col("clean_id"), col("dist"))
    }
    assert(banded.select(col("dirty_id"), col("clean_id"), col("dist")).collect().toSet ===
      naive.collect().toSet)
  }

  // --- TF-IDF -----------------------------------------------------------------------

  test("tfidfTopTerms scores by tf * smoothed idf with deterministic tie-breaks") {
    val docs = Seq(
      (1L, "alpha alpha beta common"),
      (2L, "beta gamma common"),
      (3L, "common common gamma")
    ).toDF("doc_id", "text")
    val out = TextRetrieval.tfidfTopTerms(docs, 2)
      .select(col("doc_id"), col("rk"), col("term")).as[(Long, Int, String)]
      .collect().toSet
    // doc 1: alpha tf=2 df=1 -> top; beta tf=1 df=2 beats common tf=1 df=3
    // doc 2: beta and gamma tie exactly (tf=1, df=2 each) -> term asc breaks it
    // doc 3: common tf=2 df=3 -> 2*(ln(4/4)+1)=2.0 beats gamma 1*(ln(2)+1)~1.69
    assert(out === Set((1L, 1, "alpha"), (1L, 2, "beta"),
      (2L, 1, "beta"), (2L, 2, "gamma"), (3L, 1, "common"), (3L, 2, "gamma")))
  }

  test("text_tfidf rides the native TopKPerKey pre-limit (no per-doc full sort)") {
    val plan = executedPlan(TextRetrieval.tfidfQuery(spark, sf))
    assert(plan.contains("TopKPerKey"),
      s"rank<=3 per doc must rewrite through RankLimitRule:\n$plan")
  }

  // --- mutual information / chi² ----------------------------------------------------

  test("dependence: independent feature scores ~0 MI and ~0 chi²") {
    // 1000 = 125 full cycles of 8, so x=(i/2)%4 and y=i%2 are exactly independent
    val df = (0 until 1000).map(i => ((i / 2) % 4, i % 2)).toDF("x", "y")
    val Array((mi, chi2)) = FeatureStats.dependence(df, col("x").cast("string"), col("y").cast("string"))
      .as[(Double, Double)].collect()
    assert(math.abs(mi) < 1e-9, s"x,y constructed independent; mi=$mi")
    assert(math.abs(chi2) < 1e-6, s"chi2=$chi2")
  }

  test("dependence: identical feature yields MI = label entropy") {
    // y uniform over 4 values -> H(y) = ln 4; MI(x=y) = H(y)
    val df = (0 until 400).map(i => (i % 4, i % 4)).toDF("x", "y")
    val Array((mi, _)) = FeatureStats.dependence(df, col("x").cast("string"), col("y").cast("string"))
      .as[(Double, Double)].collect()
    assert(math.abs(mi - math.log(4)) < 1e-6, s"mi=$mi expected ln4=${math.log(4)}")
  }

  test("fused q_feature_mi equals the per-feature-scan twin") {
    // the one-pass fusion must give the same cells, statistics and rounding as one
    // dependence() scan per feature
    val l = graft.sources.TableIO.lineitem(spark, sf)
    val feats = Seq(
      "qty_bin" -> floor((col("l_quantity") - 1) / 10).cast("int"),
      "disc_bin" -> floor(col("l_discount") * 20).cast("int"),
      "linestatus" -> col("l_linestatus"))
    val perFeature = feats.map { case (name, f) =>
      FeatureStats.dependence(l, f.cast("string"), col("l_returnflag"))
        .select(lit(name).as("feature"), col("mi6"), col("chi2r"))
    }.reduce(_ unionByName _).orderBy(col("feature"))
      .collect().map(_.toString).toSeq
    val fused = FeatureStats.qFeatureMi(spark, sf).collect().map(_.toString).toSeq
    assert(perFeature == fused)
  }

  // --- bloom semi-join reduction ----------------------------------------------------

  test("bloomSemiJoin equals the plain inner join (false positives die in the join)") {
    val probe = (1L to 5000L).map(i => (i, s"p$i")).toDF("k", "pv")
    val build = (1L to 5000L by 50).map(i => (i, s"b$i")).toDF("k", "bv")
    val got = graft.operators.BloomJoin.bloomSemiJoin(probe, build, "k", 200L)
      .select(col("k"), col("pv"), col("bv")).collect().map(_.toString).sorted
    val want = probe.join(build, "k")
      .select(col("k"), col("pv"), col("bv")).collect().map(_.toString).sorted
    assert(got.sameElements(want), s"${got.length} vs ${want.length} rows")
  }

  test("bloomSemiJoin filters the probe BELOW the join (shuffle reduction in the plan)") {
    // parquet-backed probe: a LocalRelation probe would have the filter folded into the
    // local scan at optimize time and prove nothing about the plan shape
    val df = graft.operators.BloomJoin.qBloomJoin(spark, SparkTestBase.sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"probe must be pre-filtered by the bloom filter:\n$plan")
    val filterAt = plan.indexOf("might_contain")
    val joinAt = math.max(plan.indexOf("SortMergeJoin"), plan.indexOf("BroadcastHashJoin"))
    assert(joinAt >= 0 && filterAt > joinAt,
      s"the bloom probe filter must sit BELOW the join in the plan tree:\n$plan")
  }

  // --- MAD outliers -----------------------------------------------------------------

  test("madOutliers: an extreme point cannot mask itself (contamination immunity)") {
    // 19 points near 10 plus one at 1000: classic z-score sees z ~ sqrt(n) capped well
    // below 3.5 for small n because the outlier inflates the stddev; MAD flags it
    val vals = (1 to 19).map(i => 10.0 + (i % 5) * 0.5) :+ 1000.0
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, "g", v) }
      .toDF("id", "grp", "v")
    val out = graft.operators.Percentiles.madOutliers(df, Seq("grp"), "v")
      .filter(col("robust_z") > 3.5).select(col("id")).as[Long].collect()
    assert(out.toSet === Set(19L), s"only the planted outlier flags: ${out.toList}")
  }

  test("madOutliers drops degenerate MAD=0 groups instead of dividing by zero") {
    val df = Seq((1L, "c", 5.0), (2L, "c", 5.0), (3L, "c", 5.0), (4L, "c", 99.0))
      .toDF("id", "grp", "v") // median 5, >=half the group ON the median -> MAD 0
    val out = graft.operators.Percentiles.madOutliers(df, Seq("grp"), "v")
    assert(out.count() === 0L, "MAD=0 group has no finite score and must drop")
  }

  // --- winsorization ----------------------------------------------------------------

  test("winsorize clips exactly the tail mass and preserves row count") {
    // 1..100 in one group: p10 boundary = 10.9, p90 = 90.1 (interpolated);
    // values below/above clip to the boundary, everything else passes through
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val out = graft.operators.Percentiles.winsorize(df, Seq("grp"), "v", 0.10, 0.90)
      .select(col("v"), col("clipped"), col("lo"), col("hi"))
      .as[(Double, Double, Double, Double)].collect()
    assert(out.length === 100, "winsorization keeps every row")
    val (lo, hi) = (out.head._3, out.head._4)
    assert(math.abs(lo - 10.9) < 1e-9 && math.abs(hi - 90.1) < 1e-9, s"bounds ($lo, $hi)")
    out.foreach { case (v, c, l, h) =>
      val expect = math.min(math.max(v, l), h)
      assert(c === expect, s"v=$v clipped=$c")
    }
    assert(out.count(r => r._2 == lo) === 10 && out.count(r => r._2 == hi) === 10,
      "exactly the 10% tails land on each boundary")
  }

  // --- PMI collocations -------------------------------------------------------------

  test("pmiCollocations ranks associated pairs above popular-but-independent ones") {
    // "strong tea" always co-occur; "the x" pairs are frequent but spread
    val docs = (1L to 30L).map { i =>
      (i, if (i <= 20) s"strong tea is the drink $i" else s"the drink $i is fine")
    }.toDF("doc_id", "text")
    val out = graft.pipeline.TextAnalysis.pmiCollocations(docs, 5, 3)
      .select(col("x"), col("y"), col("cxy"), col("pmi6"))
      .as[(String, String, Long, Double)].collect()
    assert(out.nonEmpty)
    // exclusive pairs ("strong tea": c_x=c_y=c_xy=20) must out-rank "is the"
    // (both sides frequent corpus-wide)
    val top = out.head
    assert(top._1 == "strong" && top._2 == "tea", s"top pair: $top")
    // PMI hand-check: N=unigram tokens (20 six-token + 10 five-token docs),
    // M=bigrams (5 and 4 per doc respectively)
    val nUni = 20 * 6 + 10 * 5
    val nBi = 20 * 5 + 10 * 4
    val expected = math.log((20.0 / nBi) / ((20.0 / nUni) * (20.0 / nUni)))
    assert(math.abs(top._4 - BigDecimal(expected).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-6, s"pmi ${top._4} vs $expected")
    assert(out.forall(_._3 >= 3), "min-support floor respected")
  }

  // --- source entropy ---------------------------------------------------------------

  test("sourceEntropy: uniform vocabulary gives ln(k); constant token gives 0") {
    val docs = Seq(
      (1L, "a b c d", "uni"), (2L, "x x x x", "const")
    ).toDF("doc_id", "text", "source")
    val rows = graft.pipeline.TextAnalysis.sourceEntropy(docs)
      .select(col("source"), col("n_tokens"), col("n_types"), col("entropy6"), col("ttr6"))
      .as[(String, Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    val (_, nt, ty, h, ttr) = rows("uni")
    assert(nt === 4L && ty === 4L && math.abs(h - math.log(4)) < 1e-6 && ttr === 1.0)
    val (_, nt2, ty2, h2, ttr2) = rows("const")
    assert(nt2 === 4L && ty2 === 1L && h2 === 0.0 && ttr2 === 0.25)
  }

  test("dependence contingency pipeline has no corpus-size cartesian (broadcast marginals)") {
    val l = graft.sources.TableIO.lineitem(spark, sf)
    val plan = executedPlan(FeatureStats.dependence(l,
      col("l_linestatus"), col("l_returnflag")))
    assert(!plan.contains("CartesianProduct"), s"marginals must broadcast:\n$plan")
  }
}
