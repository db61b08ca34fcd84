package perfbench

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Dedup, IngestLoop, Profiling, SearchIndex}
import graft.sources.{TableLoader, TrainingExport}

/** An oracle-checked end state: the name its SQL is registered under in
  * `SparkEntry.oracleSql`, the frame to write, and the ops whose attempts
  * fail if the output does not match.
  */
final case class OracleCheck(name: String, sql: String, output: DataFrame,
    ops: Seq[String])

trait Workload {
  /** Fixture tables cached during set-up. */
  def tables: Seq[String]
  /** Set-up beyond the cache fill (e.g. store builds), run once before
    * the warm-up pass.
    */
  def prepare(): Unit = ()
  def pass(r: Runner, p: Int): Unit
  def hasPass: Boolean = true
  /** Read ops whose warm-up output is checked against their entry's
    * oracle.
    */
  def entryChecks: Seq[String] = Nil
  /** End-state outputs checked after the timed passes. */
  def endChecks(): Seq[OracleCheck] = Nil
  /** Workload-specific end-to-end metrics. */
  def extraMetrics(r: Runner): Seq[Metric] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, work: String,
      seed: Long): Workload = name match {
    case "tpch" => new Tpch(spark, data, seed)
    case "corpus" => new Corpus(spark, data)
    case "ingest" => new Ingest(spark, data, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def entry(spark: SparkSession, data: String,
      name: String): DataFrame = SparkEntry.queries(name)(spark, data)

  /** Row count and an order-independent content hash of a frame. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")): _*)
    val row = df.agg(count(lit(1)),
      coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (row.getLong(0), BigDecimal(row.getDecimal(1)))
  }
}

/** The 22 TPC-H queries; one pass is one stream in a seed-chosen order. */
final class Tpch(spark: SparkSession, data: String, seed: Long) extends Workload {
  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")
  val queries: Seq[String] = (1 to 22).map(i => s"q$i")

  def streamOrder(p: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + p).shuffle(queries)

  def pass(r: Runner, p: Int): Unit =
    streamOrder(p).foreach(q => r.read(q)(Workload.entry(spark, data, q)))

  override def entryChecks: Seq[String] = queries
}

/** One batch curation pass over the corpus. */
final class Corpus(spark: SparkSession, data: String) extends Workload {
  val tables = Seq("documents", "embeddings")
  val oracleOps = Seq("dedup_clusters", "dedup_keep_best",
    "dedup_exact_substring", "text_repetition", "text_quality",
    "pipeline_curate", "text_bm25_rerank")
  /** Entries without a DuckDB oracle: checked for a stable row count and
    * content hash across passes.
    */
  val rowsOnlyOps = Seq("dedup_minhash_lsh", "sim_ann_lsh", "sim_ivf_topk")
  val ops: Seq[String] = Seq("dedup_minhash_lsh", "dedup_clusters",
    "dedup_keep_best", "dedup_exact_substring", "text_repetition",
    "text_quality", "pipeline_curate", "sim_ann_lsh", "sim_ivf_topk",
    "text_bm25_rerank")
  private val seen = scala.collection.mutable.Map.empty[String, (Long, BigDecimal)]

  def pass(r: Runner, p: Int): Unit = ops.foreach { op =>
    val df = r.read(op)(Workload.entry(spark, data, op))
    if (rowsOnlyOps.contains(op)) df.foreach { d =>
      r.untimed {
        val fp = Workload.fingerprint(d)
        val first = seen.getOrElseUpdate(op, fp)
        if (fp != first) r.fail(op, s"rows/hash $fp differ from $first")
      }
    }
  }

  override def entryChecks: Seq[String] = oracleOps
}

/** Writes beside reads on the persisted stores: each pass folds one
  * delta batch into all six artifacts, runs the compactions on a fixed
  * cadence and reads the cluster map and the BM25 index back.
  */
final class Ingest(spark: SparkSession, data: String, work: String)
    extends Workload {
  val tables = Seq("documents")
  /** Delta documents per pass. */
  val batchDocs = 25
  /** Compaction threshold in batches: 1 compacts the cluster map, the
    * index and the substring store after every batch, so every pass
    * completes one full compaction cycle.
    */
  val compactEvery = 1
  private val root = s"$work/stores"
  private def docs: DataFrame = TableLoader.table(spark, data, "documents")
  private lazy val nDocs: Long = docs.agg(max("doc_id")).head().getLong(0) + 1
  lazy val baseEnd: Long = nDocs * 4 / 5
  /** Exclusive doc_id bound of everything ingested so far. */
  var watermark: Long = -1L
  private val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  /** Builds the six base stores from the first 4/5 of the doc_ids. */
  override def prepare(): Unit = {
    fs.delete(new Path(root), true)
    val base = docs.filter(col("doc_id") < baseEnd)
    Dedup.writeSignatureStore(base, s"$root/sigs", sampleMod = 2)
    Dedup.writeClusterMap(base, s"$root/map", 2)
    TrainingExport.exportShards(base, s"$root/export", shards = 16, waves = 2)
    SearchIndex.writeIndexStore(base, s"$root/index")
    Profiling.writeProfileStore(base, s"$root/profile")
    Dedup.writeSubstringStore(base.select("doc_id", "text"), s"$root/substr")
    watermark = baseEnd
  }

  override def hasPass: Boolean = watermark + batchDocs <= nDocs

  def pass(r: Runner, p: Int): Unit = {
    val lo = watermark
    val hi = lo + batchDocs
    val batchId = (lo - baseEnd) / batchDocs
    val delta = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
    r.write("run_batch", "write") {
      require(IngestLoop.runBatch(s"$root/map", s"$root/sigs",
        s"$root/export", delta, batchId, sampleMod = 2,
        indexPath = Some(s"$root/index"),
        profilePath = Some(s"$root/profile"),
        substringPath = Some(s"$root/substr")), s"batch $batchId replayed")
    }
    watermark = hi
    r.write("maintain", "maintain") {
      Dedup.maintainClusterMap(spark, s"$root/map", compactEvery)
      SearchIndex.maintainIndexStore(spark, s"$root/index", compactEvery)
      Dedup.maintainSubstringStore(spark, s"$root/substr", compactEvery)
    }
    val ingested = docs.filter(col("doc_id") < hi)
    r.read("keep_best_from_store")(Dedup.keepBestFromStore(ingested, s"$root/map"))
    r.read("bm25_from_store")(SearchIndex.bm25FromStore(spark, s"$root/index"))
  }

  /** The store end state against fresh recomputations over everything
    * ingested: the loop report, keep-best over the grown cluster map and
    * retrieval over the grown index.
    */
  override def endChecks(): Seq[OracleCheck] = {
    val ingested = docs.filter(col("doc_id") < watermark)
    Seq(
      OracleCheck("pipeline_ingest_loop", IngestLoop.ingestLoopSql(),
        IngestLoop.loopReport(ingested, root), Seq("run_batch", "maintain")),
      OracleCheck("dedup_keep_best_store", SparkEntry.oracleSql("dedup_keep_best_store"),
        Dedup.keepBestFromStore(ingested, s"$root/map"),
        Seq("keep_best_from_store")),
      OracleCheck("pipeline_ingest_search", SparkEntry.oracleSql("pipeline_ingest_search"),
        SearchIndex.bm25FromStore(spark, s"$root/index"),
        Seq("bm25_from_store")))
  }

  /** Total bytes and files under the store root. */
  def storeUsage(): (Long, Long) = {
    val cs = fs.getContentSummary(new Path(root))
    (cs.getLength, cs.getFileCount)
  }

  /** UTF-8 bytes of the texts with doc_id in [lo, hi). */
  def textBytes(lo: Long, hi: Long): Long =
    docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      .agg(coalesce(sum(octet_length(col("text"))), lit(0L))).head().getLong(0)

  override def extraMetrics(r: Runner): Seq[Metric] = {
    val writes = r.samples("write")
    val maint = r.samples("maintain")
    val batches = writes.size
    Seq(
      Metric("write_p50_s", Stats.median(writes), "s"),
      Metric("write_docs_per_s",
        batches.toDouble * batchDocs / (writes.sum + maint.sum), "docs/s"),
      Metric("store_space_ratio",
        storeUsage()._1.toDouble / textBytes(0L, watermark), "ratio"))
  }
}
