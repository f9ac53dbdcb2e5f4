package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory for the graft engine.
 *
 * The reference (gazelle_plugin: native-sql-engine/core/src/main/scala/com/intel/oap/
 * GazellePlugin.scala:1) wires its engine in as a SparkSessionExtensions plugin plus a
 * columnar shuffle manager. graft keeps that shape — one place that produces a correctly
 * configured session — but the execution layer is stock Spark 4.x (whole-stage codegen,
 * vectorized parquet, AQE), which already covers what Gazelle's native kernels were for.
 *
 * Scale notes (local[32] here; 1000-executor cluster in prod):
 *  - AQE on: runtime partition coalescing, skew-join splitting, dynamic join strategy.
 *  - shuffle.partitions defaults to cores locally; in prod set ~2-3x total cores.
 *  - UTC session timezone so results are reproducible and oracle-comparable.
 */
object GraftSession {
  def builder(master: String = "local[32]", cpus: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE starts wide and coalesces: big shuffles keep 8x cores partitions (smaller
      // per-task sorts -> less spill on 100 TB-class SMJs), small ones coalesce back to
      // ~advisory size so the extra granularity costs nothing when data is small.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cpus * 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // StarCache's item-bucketed facts write exactly one file per bucket, sorted;
      // this lets the scan publish that sort order (Spark only trusts it when every
      // bucket is a single file), so the q72-class item SMJ skips exchange AND sort.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // events.parquet carries TIMESTAMP(NANOS) which Spark's reader rejects; read as
      // long nanos and normalize in TableIO.events (micros precision, like Spark itself).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)

  def get(master: String = "local[32]", cpus: Int = 32): SparkSession = {
    val spark = builder(master, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
