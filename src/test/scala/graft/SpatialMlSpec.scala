package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.SpatialOps
import graft.pipeline.{Clustering, Regression}

class SpatialMlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  // ------------------------------------------------------------ geo radius join

  /** The epsilon-grid must be lossless: compare against the exhaustive cross form
    * computed in Spark itself (same haversine), on the full sf0.001 tables. */
  test("grid radius join finds exactly the exhaustive within-radius pair set") {
    import graft.sources.TableIO
    val c = TableIO.customer(spark, sf).select(
      col("c_custkey").as("id"),
      ((col("c_custkey") * 7919L % 12000L) / 100.0 - 60.0).as("lat"),
      ((col("c_custkey") * 104729L % 36000L) / 100.0 - 180.0).as("lon"))
    val s = TableIO.supplier(spark, sf).select(
      col("s_suppkey").as("sid"),
      ((col("s_suppkey") * 7919L % 12000L) / 100.0 - 60.0).as("slat"),
      ((col("s_suppkey") * 104729L % 36000L) / 100.0 - 180.0).as("slon"))
    val exhaustive = c.crossJoin(s)
      .withColumn("dist",
        SpatialOps.haversineKm(col("lat"), col("lon"), col("slat"), col("slon")))
      .filter(col("dist") <= 500.0)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_near"), round(min(col("dist")), 3).as("min_km"))
    val got = SpatialOps.qGeoRadiusJoin(spark, sf)
    assert(got.count() > 0)
    assert(got.exceptAll(exhaustive).isEmpty && exhaustive.exceptAll(got).isEmpty)
  }

  test("geo knn ranks at most 3 suppliers per customer, nearest first") {
    val rows = SpatialOps.qGeoKnn(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to g.length))
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(identity).toSeq)
      assert(g.length <= 3)
    }
  }

  // ------------------------------------------------------------------- k-means

  test("k-means is deterministic, partitions all vectors, and 2nd round helps") {
    val out = Clustering.qKmeans(spark, sf).collect()
    val total = graft.sources.TableIO.embeddings(spark, sf).count()
    assert(out.map(_.getLong(1)).sum == total) // every vector assigned exactly once
    assert(out.map(_.getLong(0)).toSet.size == out.length) // distinct cluster ids
    val again = Clustering.qKmeans(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq) // bit-stable rerun
  }

  /** The interpreted higher-order-function form of sq_dist_long — its reference. */
  private def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)

  test("r14 native sq_dist_long equals the interpreted HOF form, incl. null/length parity") {
    import spark.implicits._
    import org.apache.spark.sql.graft.VectorExpressions.sqDistLong
    val rnd = new scala.util.Random(71)
    val rows = Seq.tabulate(500) { i =>
      (i.toLong, Array.fill(16)(rnd.nextInt(4001).toLong - 2000),
        Array.fill(16)(rnd.nextInt(4001).toLong - 2000))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(col("id"),
        sqDistLong(col("a"), col("b")).as("native"),
        sqDistHof(col("a"), col("b")).as("hof"))
      .collect()
    both.foreach(r => assert(r.getLong(1) == r.getLong(2), s"row ${r.getLong(0)} diverged"))
    // length mismatch: zip_with pads with null -> HOF null; native must be null too
    val mism = Seq((1L, Array(1L, 2L), Array(1L, 2L, 3L))).toDF("id", "a", "b")
      .select(sqDistLong(col("a"), col("b")).as("native"),
        sqDistHof(col("a"), col("b")).as("hof"))
      .collect()(0)
    assert(mism.isNullAt(0) && mism.isNullAt(1))
  }

  test("sq_dist_long is nullable over non-nullable inputs and nulls a length mismatch") {
    import org.apache.spark.sql.graft.VectorExpressions.sqDistLong
    val in = spark.range(1)
    assert(!in.schema("id").nullable, "the check needs non-nullable inputs")
    val df = in.select(sqDistLong(array(col("id"), col("id")), array(col("id"))).as("d"))
    assert(df.schema("d").nullable)
    assert(df.collect().head.isNullAt(0))
  }

  // ----------------------------------------------------------------------- OLS

  test("closed-form OLS reproduces hand-planted coefficients exactly") {
    import spark.implicits._
    // y = 7 + 3*x1 - 2*x2 exactly, in the quantized units qLinreg uses
    val rnd = new scala.util.Random(11)
    val rows = (1 to 400).map { _ =>
      val x1 = rnd.nextInt(50) + 1
      val x2 = rnd.nextInt(11)
      (x1.toDouble, x2 / 100.0, (7 + 3 * x1 - 2 * x2) / 100.0)
    }
    val dir = java.nio.file.Files.createTempDirectory("linreg").toString
    rows.toDF("l_quantity", "l_discount", "l_extendedprice").write
      .mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = Regression.qLinreg(spark, dir).collect().head
    assert(r.getLong(0) == 400)
    assert(math.abs(r.getDouble(1) - 7.0) < 1e-6) // a0 (cents)
    assert(math.abs(r.getDouble(2) - 3.0) < 1e-6) // a1 per quantity unit
    assert(math.abs(r.getDouble(3) - (-2.0)) < 1e-6) // a2 per discount pct
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-9) // exact fit -> R^2 = 1
  }
}
