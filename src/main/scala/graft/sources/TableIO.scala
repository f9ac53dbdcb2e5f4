package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Loaders for the driver-generated tables (see /root/repo/TESTDATA.md).
 *
 * Mirrors the reference's arrow-data-source read path (gazelle_plugin:
 * arrow-data-source/standard/src/main/scala/com/intel/oap/spark/sql/ArrowWriteExtension.scala
 * and .../execution/ArrowFileSourceScanExec) — in graft the vectorized parquet reader plus
 * Catalyst column pruning / filter pushdown provide the same columnar scan. Specs assert
 * the pushdown actually reaches the scan (PushedFilters / ReadSchema).
 */
object TableIO {
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /**
   * events.ts normalizes to Spark's session-timezone TIMESTAMP whatever the file
   * carries: older driver drops wrote TIMESTAMP(NANOS) (read as LongType nanos under
   * spark.sql.legacy.parquet.nanosAsLong), the current drop writes timezone-naive
   * micros (read as TIMESTAMP_NTZ, which watermarks/windows reject). The session
   * timezone is pinned to UTC (GraftSession), so the NTZ cast is value-preserving and
   * DuckDB reading the same file naively sees identical wall-clock values.
   */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Register all tables as temp views so spark.sql(...) queries can reference them.
    * `events` is registered with the SAME normalized timestamp the Scala loaders expose —
    * a SQL user must not see raw nanos longs where the API sees timestamps. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else table(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }

  /** Read Arrow-IPC (`.arrow` / Feather v2) files — the reference's namesake
    * arrow-data-source format. One file per task; schema from the file footer.
    * See org.apache.spark.sql.graft.ArrowSourceV2 for the mechanism: column pruning
    * reaches the scan and batches deliver columnar. */
  def readArrow(spark: SparkSession, path: String): DataFrame =
    spark.read.format(classOf[org.apache.spark.sql.graft.ArrowSourceV2].getName).load(path)

  /**
   * Fan a narrow scan out to all cores before CPU-heavy per-row compute (regex scoring,
   * shingling, hashing). A small table arrives as ONE parquet split and would pin
   * everything before the first shuffle to a single thread; at production scale the scan
   * already has >= defaultParallelism splits and this is a no-op — no extra exchange.
   */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
