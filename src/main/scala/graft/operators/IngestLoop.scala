package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TrainingExport

/** The COMPOSED production ingest loop — the end-to-end shape a 100 TB
  * training-data pipeline actually runs per arriving batch, wiring the
  * individually-verified store families together in their contractual
  * order:
  *
  *  1. [[Dedup.appendToClusterMap]] — fold the batch's near-dup edges
  *     into the persisted cluster map (MUST run against the signature
  *     store WITHOUT the batch — the append's probe contract);
  *  2. [[Dedup.appendToSignatureStore]] — fold the batch's signatures
  *     in so the NEXT batch probes them as base;
  *  3. [[TrainingExport.appendBatchToExport]] — archive the batch into
  *     the manifest'd shard export (replay-watermarked).
  *
  * Resolution ([[Dedup.keepBestFromStore]]) then reads the grown map —
  * a refresh pass, deliberately OUTSIDE the per-batch loop: appends
  * cost ∝ batch (each store family's measured contract), while the
  * refresh is map-sized by definition (one linear scan + aggregate,
  * run on the consumer's cadence, not the ingest cadence).
  *
  * The driver entry `pipeline_ingest_loop` oracle-checks the WHOLE
  * loop against a from-scratch DuckDB recomputation over the union
  * ([[ingestLoopSql]]): the export manifest per shard joined with the
  * per-shard census of keep-best winners — bit-equality proves every
  * store ended in fresh-equivalent state through the composed appends.
  * Reference frame: the point of the reference scheduler's key-reuse
  * (`/root/reference/distributed/scheduler.py:4497`) is never redoing
  * stable work; this loop is that discipline as persisted artifacts.
  */
object IngestLoop {

  /** Run one delta batch through the full maintenance loop. Returns
    * whether the export append applied (false = replayed batch id).
    * The two r12 families ride along when their paths are given —
    * each individually replay-safe, so the composed loop stays
    * exactly-once without a coordinator:
    *  - `indexPath`: fold the batch into the BM25 inverted index
    *    ([[SearchIndex.appendBatchToIndexStore]] — manifest tag +
    *    watermark);
    *  - `profilePath`: absorb the batch's bin counts into the
    *    reference profile ([[Profiling.appendBatchToProfileStore]] —
    *    watermark; the drift ALERT against the pre-absorb profile is
    *    the stream wrapper's concern, not the batch fold's);
    *  - `substringPath` (r15): fold the batch's exact-substring gram
    *    counts into the persisted store
    *    ([[Dedup.appendToSubstringStore]] — content-tagged overlay +
    *    `_applied` ledger), so the NEXT batch's
    *    [[Dedup.exactSubstringDedupIncremental]] gate sees it as base.
    */
  def runBatch(mapPath: String, sigStorePath: String, exportPath: String,
      delta: DataFrame, batchId: Long, sampleMod: Int = 2,
      indexPath: Option[String] = None,
      profilePath: Option[String] = None,
      substringPath: Option[String] = None): Boolean = {
    // order matters: the cluster-map append probes the signature
    // store WITHOUT the delta (its scaladoc'd contract), so it goes
    // first; the signature fold makes the delta visible to the NEXT
    // batch; the export archive rides its own replay watermark
    Dedup.appendToClusterMap(mapPath, sigStorePath, delta,
      sampleMod = sampleMod)
    Dedup.appendToSignatureStore(delta, sigStorePath,
      sampleMod = sampleMod)
    indexPath.foreach(p =>
      SearchIndex.appendBatchToIndexStore(p, delta, batchId))
    profilePath.foreach(p =>
      Profiling.appendBatchToProfileStore(p, delta, batchId))
    // r15: the exact-substring gram-count store rides too — additive
    // counts under a content-tagged overlay, replay-guarded by its
    // own _applied ledger
    substringPath.foreach(p =>
      Dedup.appendToSubstringStore(delta.select("doc_id", "text"), p))
    TrainingExport.appendBatchToExport(exportPath, delta, batchId)
  }

  /** Build-once fixture for the driver entry: carve `docs` into base
    * (first 4/5 of doc_ids) and one delta batch, build the three base
    * artifacts (signature store, cluster map, shard export) under a
    * staging root, run the batch through [[runBatch]], and publish the
    * whole loop state via one [[StoreSwap]] — the completeness gate
    * can never mistake a base-only root (crash between build and
    * batch) for the post-batch artifact. The path fingerprint folds a
    * content hash, so same-shape regenerated fixtures rebuild.
    */
  def ensureIngestLoop(docs: DataFrame, tag: String, sampleMod: Int = 2,
      shards: Int = 16): String = {
    // full-text content hash: the root now carries the BM25 index,
    // whose postings depend on the WORDS — a same-ids/same-lengths
    // regenerated fixture (the amplifier's alphabet permutation is
    // exactly that shape) must rebuild, not serve stale postings
    val fp = StoreSwap.contentFp(docs, "ensureIngestLoop", "doc_id",
      Seq("doc_id", "text", "source", "lang", "n_chars"))
    // `_ix` marks the generation that also carries the index +
    // profile artifacts — pre-r12-late roots lack them and must
    // rebuild by PATH, not pass the completeness gate
    // `_ixs` marks the generation that also carries the substring
    // gram-count store (r15); `_ixw` the generation whose gram store
    // is WIDE-keyed (the r17 default flip — a stored value's
    // derivation changed, so the ensure path must bump or stale
    // narrow-key roots would serve a width the census oracle no
    // longer expects)
    val root =
      s"/tmp/graft_ingestloop_${tag}_${fp.tag}_m${sampleMod}s${shards}_ixw"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    if (!Dedup.isCompleteSignatureStore(fs, root)) {
      val building = root + ".building"
      val bp = new org.apache.hadoop.fs.Path(building)
      fs.delete(bp, true)
      fs.mkdirs(bp)
      val thr = (fp.maxId * 4L) / 5L
      val base = docs.filter(col("doc_id") < thr)
      val delta = docs.filter(col("doc_id") >= thr)
      Dedup.writeSignatureStore(base, s"$building/sigs",
        sampleMod = sampleMod)
      Dedup.writeClusterMap(base, s"$building/map", sampleMod)
      TrainingExport.exportShards(base, s"$building/export",
        shards = shards, waves = 2)
      SearchIndex.writeIndexStore(base, s"$building/index")
      Profiling.writeProfileStore(base, s"$building/profile")
      Dedup.writeSubstringStore(base.select("doc_id", "text"),
        s"$building/substr")
      require(runBatch(s"$building/map", s"$building/sigs",
        s"$building/export", delta, batchId = 0L, sampleMod,
        indexPath = Some(s"$building/index"),
        profilePath = Some(s"$building/profile"),
        substringPath = Some(s"$building/substr")),
        "ingest-loop batch did not apply")
      val out = fs.create(
        new org.apache.hadoop.fs.Path(bp, "_SUCCESS"), true)
      out.close()
      StoreSwap.swapIn(fs, bp, new org.apache.hadoop.fs.Path(root))
    }
    root
  }

  /** Post-batch loop state as one oracle-checkable frame: the export
    * manifest per shard (count / xor content hash / char sum / id
    * range — proves the archive holds exactly base ∪ delta) joined
    * with the per-shard census of keep-best winners from the appended
    * cluster map (proves the signature + map appends reproduced the
    * fresh clustering). Shard keying reuses the export's salted-md5
    * rule, portable to DuckDB. One map-sized aggregate + a
    * shards-sized join — no windows, no unbounded groups.
    */
  def loopReport(docs: DataFrame, root: String, sampleMod: Int = 2,
      shards: Int = 16): DataFrame = {
    val spark = docs.sparkSession
    val manifest = TrainingExport.readManifest(spark, s"$root/export")
    val kept = Dedup.keepBestFromStore(docs, s"$root/map", sampleMod)
      .select(col("kept_doc"))
      .withColumn("shard", pmod(Sampling.hashBucketFull(
        TrainingExport.ShardSalt, col("kept_doc")), lit(shards.toLong)))
      .groupBy("shard").agg(count(lit(1)).as("n_kept"))
    // kept is ≤`shards` rows by construction — broadcast it, else the
    // planner's unknown-size default serves a sort-merge join here
    manifest.join(broadcast(kept), Seq("shard"), "left")
      .na.fill(0L, Seq("n_kept"))
      .orderBy("shard")
  }

  /** DuckDB oracle for [[loopReport]]: recompute BOTH halves from the
    * raw `documents` table — the manifest aggregates
    * ([[TrainingExport.manifestSql]]'s formulation) and the keep-best
    * winner census (the [[Dedup.keepBestSql]] CTE chain) — and join
    * them per shard. Bit-equality against the loop-grown artifacts is
    * the end-to-end append ≡ fresh law for the composed loop.
    */
  def ingestLoopSql(sampleMod: Int = 2, shards: Int = 16): String = {
    val wgrid = QualitySignals.wgridSqlExpr()
    val manKey = Sampling.hashBucketFullSql(TrainingExport.ShardSalt,
      "doc_id")
    val keptKey = Sampling.hashBucketFullSql(TrainingExport.ShardSalt,
      "kept_doc")
    s"""WITH RECURSIVE ${Dedup.clusterLshLblCtes(sampleMod)},
       |tok AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                w -> w <> '') AS ws
       |  FROM documents WHERE doc_id % $sampleMod = 0),
       |score AS (
       |  SELECT doc_id,
       |    CAST(list_sum(list_transform(ws, w -> $wgrid)) AS DOUBLE)
       |      / CAST(len(ws) AS BIGINT) / 1e6 AS score
       |  FROM tok WHERE len(ws) > 0),
       |ranked AS (
       |  SELECT l.cluster_id, l.doc_id, s.score,
       |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
       |      ORDER BY s.score DESC, l.doc_id ASC) AS rk
       |  FROM lbl l JOIN csize c USING (cluster_id)
       |  JOIN score s USING (doc_id)),
       |best AS (SELECT doc_id AS kept_doc FROM ranked WHERE rk = 1),
       |man AS (
       |  SELECT $manKey % $shards AS shard, count(*) AS n_rows,
       |    bit_xor(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
       |      || ':' || text), 1, 15) AS BIGINT)) AS xor_hash,
       |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |    MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
       |  FROM documents GROUP BY 1),
       |keptsh AS (
       |  SELECT $keptKey % $shards AS shard, count(*) AS n_kept
       |  FROM best GROUP BY 1)
       |SELECT m.shard, m.n_rows, m.xor_hash, m.sum_chars, m.min_doc,
       |  m.max_doc, COALESCE(k.n_kept, 0) AS n_kept
       |FROM man m LEFT JOIN keptsh k USING (shard)
       |ORDER BY m.shard""".stripMargin
  }
}
