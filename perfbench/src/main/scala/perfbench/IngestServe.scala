package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.pipeline.Dedup
import graft.sources.{Compaction, FileSkipIndex}
import graft.streaming.{CorpusStreaming, TableMaintenance}

/**
 * `ingest_serve`: a curation pipeline that ingests while it serves, writing and
 * reading the same growing tables. Each micro-batch is cleaned through
 * `graft.api.Graft` (normalize, then a quality filter), then passes the
 * incremental near-duplicate gate (`CorpusStreaming.admitBatch`), whose persist step
 * appends the admitted rows to the corpus table and refreshes its file-skip
 * manifests; the batch's keyed updates go through `TableMaintenance.applyUpserts`
 * into a hive-partitioned table; every `CompactEvery` batches `Compaction.compact`
 * rewrites the corpus table's small files. After each batch the client issues a
 * fixed set of reads: a manifest-pruned range scan, a bloom point lookup and an exact
 * top-5 nearest-neighbour query on the corpus, and a key read on the upserted table.
 */
final class IngestServe(input: String, work: String, seed: Long, nKeys: Int)
    extends Workload {
  private val corpus = s"$work/corpus"
  private val index = s"$work/index"
  private val table = s"$work/upserts"
  private val CompactEvery = 2
  private val TargetBytes = 1L << 20
  private val SmallBytes = 256L << 10
  private val readKinds = Seq("range", "point", "ann", "key")

  private val rnd = new scala.util.Random(seed)
  private val nQueries = 64
  private val nBatches =
    new java.io.File(input).list().count(n => n.startsWith("docs_") && n.endsWith(".parquet"))
  private val admittedLog = ArrayBuffer.empty[Any]
  private val readLog = ArrayBuffer.empty[Map[String, Any]]
  private var maxId = 0L
  private var filesTouched, matchingFiles, indexedReads = 0L
  private var compactions, compactBytes = 0L

  /** Every generated batch, each followed by its reads. */
  def run(spark: SparkSession, rec: Recorder): Unit =
    (0 until nBatches).foreach { b =>
      rec.pass = b
      val admitted = rec.op("batch", "apply", cold = b == 0)(applyBatch(spark, rec, b))
      admittedLog += admitted.orNull
      admitted.foreach(ids => maxId = (maxId +: ids).max)
      readKinds.foreach(kind => read(spark, rec, b, kind, cold = b == 0))
    }

  /** One micro-batch; returns the admitted doc ids (the client's acknowledgement). */
  private def applyBatch(spark: SparkSession, rec: Recorder, b: Int): Seq[Long] = {
    val raw = spark.read.parquet(f"$input/docs_$b%04d.parquet")
    val docs = rec.span("pipeline.clean") {
      val good = Graft.qualityFeatures(Graft.normalize(raw).withColumnRenamed("norm_text", "text"))
        .filter(col("n_tokens") >= 20 && col("quality_score") >= 0.5)
      raw.join(good.select("doc_id"), Seq("doc_id"), "left_semi").localCheckpoint()
    }
    val admitted = rec.span("streaming.admit")(CorpusStreaming.admitBatch(docs, index, 0.8,
      persist = df => rec.span("sources.append") {
        df.write.mode("append").parquet(corpus)
        refreshManifests(spark)
      }))
    rec.span("sources.upsert")(TableMaintenance.applyUpserts(
      spark.read.parquet(f"$input/upd_$b%04d.parquet"), table, "k", "part", "ts"))
    if ((b + 1) % CompactEvery == 0) rec.span("sources.compact") {
      compactBytes += Compaction.compact(spark, corpus, TargetBytes, SmallBytes)._4
      compactions += 1
      refreshManifests(spark)
    }
    admitted.select("doc_id").collect().map(_.getLong(0)).toSeq
  }

  /** FileSkipIndex keeps its min/max and bloom manifests beside the data, under
    * `_manifest` and `_bloom_manifest`; appends and compaction must rewrite both. */
  private def refreshManifests(spark: SparkSession): Unit = {
    FileSkipIndex.computeManifest(spark, corpus, Seq("doc_id"))
      .coalesce(1).write.mode("overwrite").parquet(s"$corpus/_manifest")
    FileSkipIndex.computeBloomManifest(spark, corpus, "doc_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$corpus/_bloom_manifest")
  }

  private def read(spark: SparkSession, rec: Recorder, b: Int, kind: String,
      cold: Boolean): Unit = {
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val entry: Map[String, Any] = kind match {
      case "range" =>
        val lo = (rnd.nextDouble() * maxId).toLong
        val hi = lo + 99
        val res = rec.op("read", kind, cold)(
          ids(FileSkipIndex.readPruned(spark, corpus, "doc_id", lit(lo), lit(hi))))
        if (rec.tracing) countFiles(FileSkipIndex.filesTouched(spark, corpus, "doc_id",
          lit(lo), lit(hi)), FileSkipIndex.readPruned(spark, corpus, "doc_id", lit(lo), lit(hi)))
        Map("lo" -> lo, "hi" -> hi, "ids" -> res)
      case "point" =>
        val id = (rnd.nextDouble() * (maxId + 1)).toLong
        val res = rec.op("read", kind, cold)(
          ids(FileSkipIndex.readPointLookup(spark, corpus, "doc_id", lit(id))))
        if (rec.tracing) countFiles(FileSkipIndex.bloomFilesTouched(spark, corpus, "doc_id",
          lit(id)), FileSkipIndex.readPointLookup(spark, corpus, "doc_id", lit(id)))
        Map("id" -> id, "ids" -> res)
      case "ann" =>
        val qid = rnd.nextInt(nQueries)
        val res = rec.op("read", kind, cold)(rec.span("functions.topk")(Graft.topKNeighbors(
          spark.read.parquet(corpus).select(col("doc_id").as("vec_id"), col("embedding")),
          spark.read.parquet(s"$input/queries.parquet").filter(col("query_id") === qid), 5)
          .select("neighbor_id", "cos4").collect())
          .map(r => Seq(r.getLong(0), r.getDouble(1))).toSeq)
        Map("query" -> qid, "neighbours" -> res)
      case "key" =>
        val k = rnd.nextInt(nKeys)
        val res = rec.op("read", kind, cold)(
          spark.read.parquet(table).filter(col("k") === k).select("k", "ts", "v").collect()
            .map(r => Seq(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
        Map("k" -> k, "rows" -> res)
    }
    readLog += entry ++ Map("kind" -> kind, "after" -> b)
  }

  private def countFiles(touched: Long, result: org.apache.spark.sql.DataFrame): Unit = {
    filesTouched += touched
    matchingFiles += result.select(input_file_name()).distinct().count()
    indexedReads += 1
  }

  def checkData(spark: SparkSession): Map[String, Any] = Map(
    "admitted" -> admittedLog.toSeq,
    "reads" -> readLog.toSeq,
    "corpus_ids" -> spark.read.parquet(corpus).select("doc_id").collect().map(_.getLong(0))
      .sorted.toSeq,
    "table_rows" -> spark.read.parquet(table).select("k", "ts", "v").collect()
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)

  /** Counters that need extra work, so only the traced run pays for them: file pruning
    * of the reads, compaction volume, and the minhash kernel and pair counts on the
    * first batch's documents. */
  override def tracedCounters(spark: SparkSession): Map[String, Any] = {
    val docs = spark.read.parquet(f"$input/docs_0000.parquet").localCheckpoint()
    val n = docs.count()
    val t0 = System.nanoTime()
    val sigs = Dedup.minhashSignatures(Dedup.gramHashSets(docs)).localCheckpoint()
    val minhashS = (System.nanoTime() - t0) / 1e9
    val bands = Dedup.lshBands(sigs)
    val candidates = bands.select(col("doc_id").as("a"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("b"), col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    val verified = Graft.nearDupPairs(docs, 0.8).count()
    Map(
      "functions.minhash_docs_per_s" -> n / minhashS,
      "pipeline.candidate_pairs" -> candidates,
      "pipeline.verified_pairs" -> verified,
      "streaming.index_rows" -> spark.read.parquet(index).count(),
      "sources.table_files" -> Option(new java.io.File(corpus).list()).toSeq.flatten
        .count(_.endsWith(".parquet")),
      "sources.files_touched_per_read" -> filesTouched.toDouble / indexedReads.max(1),
      "sources.read_file_yield" -> matchingFiles.toDouble / filesTouched.max(1),
      "sources.compact_bytes_rewritten" -> compactBytes.toDouble / compactions.max(1))
  }

  def storedDirs(tmp: String): Seq[String] = Seq(corpus, index, table)
}
