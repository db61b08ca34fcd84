package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference has NO streaming query
  * engine (SURVEY §2.10 — its pub/sub/queues are engine plumbing, not
  * data-plane operators); this module adds the streaming capabilities
  * a training-data pipeline needs, as incremental versions of the
  * batch operators in [[graft.operators.EventOps]]:
  *
  *  - tumbling event-time window aggregation with a watermark
  *    (late-data bound) — the streaming twin of
  *    `EventOps.tumblingHourly`;
  *  - stateful sessionization via `flatMapGroupsWithState` — the
  *    streaming twin of `EventOps.sessionize`.
  *
  * At scale this is the standard Spark story: state lives in the state
  * store keyed by group, partitioned by the shuffle; nothing here is
  * driver-side.
  */
object EventStream {

  /** events fixture schema with `ts` carried as `tsType` — the
    * physical type depends on the fixture generation (long nanos under
    * `nanosAsLong` pre-r8, timestamp[us]-without-tz = TIMESTAMP_NTZ
    * r8+), so the stream schema is derived from the batch footer
    * rather than pinned (see [[graft.queries.Ctx.events]]).
    */
  def eventsSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** File-source stream over a directory of events parquet, `ts`
    * normalized to a session-UTC microsecond TIMESTAMP exactly like
    * the batch-side [[graft.queries.Ctx.events]] (one footer peek
    * picks the fixture generation; streaming source schemas are fixed
    * up-front, so the branch cannot live in the plan). An INITIALLY
    * EMPTY directory can't be peeked — the stream then starts with
    * `defaultTsType` (timestamp[us]-without-tz, the r8+ fixture
    * generation) and picks up files as they arrive; pass the actual
    * type explicitly if a not-yet-populated source holds legacy
    * long-nanos parquet.
    */
  def readEvents(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None,
      defaultTsType: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.TimestampNTZType): DataFrame = {
    val tsType =
      try spark.read.parquet(dir).schema("ts").dataType
      catch {
        // "unable to infer schema" — no files yet; don't refuse to
        // start a stream over a source that simply hasn't produced
        case _: org.apache.spark.sql.AnalysisException => defaultTsType
      }
    val reader = spark.readStream.schema(eventsSchema(tsType))
    val raw = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
    tsType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Tumbling 1-hour event-time windows per event type with a
    * 10-minute watermark.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Run a streaming aggregate to a named memory sink until the input
    * is exhausted (batch-driving a stream for tests/demos).
    */
  def runToMemory(agg: DataFrame, name: String,
      mode: OutputMode = OutputMode.Complete()): StreamingQuery = {
    val q = agg.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }

  /** Durable streaming sink via foreachBatch: each micro-batch lands
    * as parquet (append), the standard incremental-ingest shape (the
    * batch side of the pipeline then reads the same directory). Use
    * `Trigger.AvailableNow` for catch-up runs.
    */
  def runToParquet(df: DataFrame, outDir: String, checkpointDir: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("append").parquet(outDir)
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** documents fixture schema for file-source document streams. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a directory of documents parquet. */
  def readDocuments(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(documentsSchema)
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** embeddings fixture schema for file-source embedding streams. */
  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over a directory of embeddings parquet. */
  def readEmbeddings(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(embeddingsSchema)
    maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** Streaming incremental SEMANTIC dedup against a persisted Lloyd
    * index ([[graft.operators.Similarity.writeSemanticStore]]) — the
    * streaming composition of
    * [[graft.operators.Similarity.semanticDedupIncremental]]: each
    * micro-batch of newly-ingested embeddings is assigned to its cell
    * by the stored codebook and verified within-cell against the
    * stored base vectors, landing one verdict row per vector. The
    * codebook and base vectors are RE-READ from the store per
    * micro-batch (a replaced/republished index is picked up at the
    * next trigger; there is no routing sketch to go stale — the
    * correctness-safe default). Verdicts depend only on the vector's
    * own embedding vs the store (no delta-delta interaction), so
    * output is independent of micro-batch boundaries; per-batch cost
    * is |batch| × cell occupancy, independent of base size. Sink is
    * the idempotent `batch=<id>` overwrite discipline (exactly-once
    * under checkpoint replay).
    */
  def semanticDedupStream(vecs: DataFrame, storePath: String,
      outDir: String, checkpointDir: String,
      tau: Double = 0.4): StreamingQuery = {
    val q = vecs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Similarity
          .semanticDedupIncremental(storePath, batch.toDF(), tau)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming fluency scoring against a PERSISTED unigram LM
    * ([[graft.operators.QualitySignals.writeLmStore]]) — each
    * micro-batch of ingested documents scores against the frozen
    * store (vocabulary broadcast per batch, add-one OOV rule), the
    * CCNet frozen-reference-LM gate streamed. Verdicts depend only on
    * the doc's own tokens vs the store, so output is independent of
    * micro-batch boundaries; sink is the idempotent `batch=<id>`
    * overwrite discipline.
    */
  def lmScoreStream(docs: DataFrame, storePath: String,
      outDir: String, checkpointDir: String): StreamingQuery = {
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.QualitySignals
          .scoreAgainstLmStore(storePath, batch.toDF())
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming maintenance of the PERSISTED per-source HLL sketch
    * store ([[graft.operators.Sketches.writeSketchStore]]): each
    * micro-batch of ingested documents folds its own per-source
    * sketches into the store — the "distinct tokens per source,
    * maintained across ingests" production loop. Unlike the frozen
    * read-only stores above, this stream MUTATES the store, so replay
    * safety comes from the applied-batch watermark inside the store's
    * atomic publish ([[graft.operators.Sketches.appendBatchToSketchStore]])
    * rather than from the `batch=<id>` sink overwrite: a re-delivered
    * batch id is skipped exactly, never double-counted.
    */
  def sketchStream(docs: DataFrame, storePath: String,
      checkpointDir: String): StreamingQuery = {
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Sketches
          .appendBatchToSketchStore(storePath, batch.toDF(), batchId)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming closure of the TERMINAL pipeline stage: each
    * micro-batch of curated documents lands in the training-shard
    * export ([[graft.sources.TrainingExport.appendBatchToExport]]) —
    * shards grow by `b<id>-`-prefixed file moves and the manifest
    * merges the batch's aggregates, so the trainer-side reader and
    * the `export_manifest` audit stay correct mid-stream. This
    * stream MUTATES the export, so replay safety is the
    * applied-batch watermark INSIDE the manifest's atomic publish
    * (the [[sketchStream]] discipline): a re-delivered batch id is
    * skipped exactly — a blind re-append would double-write every
    * doc in the batch and the manifest would faithfully count the
    * damage. Batch rows must carry the export schema
    * (doc_id, text, n_chars) and be disjoint from the export (the
    * upstream dedup gate's contract, unchanged from the batch path).
    */
  def exportStream(docs: DataFrame, exportPath: String,
      checkpointDir: String): StreamingQuery = {
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.sources.TrainingExport
          .appendBatchToExport(exportPath, batch.toDF(), batchId)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming maintenance of the KLL quantile store — identical
    * replay discipline to [[sketchStream]] (the applied-batch
    * watermark inside the store's atomic publish; a re-delivered
    * batch id is skipped exactly).
    */
  def quantileStream(docs: DataFrame, storePath: String,
      checkpointDir: String): StreamingQuery = {
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Sketches
          .appendBatchToQuantileStore(storePath, batch.toDF(), batchId)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming maintenance of the CONTAINMENT store — the last
    * ingest-side store family without a `foreachBatch` wrapper (r11
    * verdict "missing" #5): each micro-batch of newly-ingested
    * documents (1) PROBES the store for directed containment
    * C(batch→base) via
    * [[graft.operators.Dedup.containmentFromStore]], landing verdicts
    * in an idempotent `batch=<id>` overwrite sink, then (2) FOLDS
    * itself in via
    * [[graft.operators.Dedup.appendToContainmentStore]] so the NEXT
    * batch sees it as base — probe-before-append, the incremental
    * ingest-loop order.
    *
    * Replay discipline: the append is content-tagged (a re-delivered
    * batch overwrites its own `batch=` store dirs — no double-counted
    * shingles), and the probe anti-joins its verdicts against the
    * batch's OWN doc_ids on the container side — on the first
    * delivery that removes nothing (the store cannot contain the
    * batch yet), while on a replay AFTER a committed append it
    * removes exactly the batch-self pairs the store would now
    * surface, so replayed output is bit-identical (spec-checked).
    * Per-batch cost is O(batch) compute + column-pruned store scans,
    * the [[graft.operators.Dedup.containmentFromStore]] contract.
    */
  def containmentStream(docs: DataFrame, storePath: String,
      outDir: String, checkpointDir: String, tau: Double = 0.5,
      chunkWords: Int = 16, stride: Int = 8, numHashes: Int = 16,
      bands: Int = 4, sampleMod: Int = 1,
      compactAt: Int = 0): StreamingQuery = {
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // the batch feeds three consumers (probe, replay-exclusion
        // ids, append) — one materialization
        val b = batch.toDF().localCheckpoint()
        val verdicts = graft.operators.Dedup
          .containmentFromStore(storePath, b, tau, numHashes, bands,
            sampleMod)
          .join(b.select(col("doc_id").as("d2")), Seq("d2"), "left_anti")
          .select("d1", "d2", "n1", "n2", "common", "containment")
        verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        graft.operators.Dedup.appendToContainmentStore(b, storePath,
          chunkWords, stride, numHashes, bands, sampleMod)
        // optional read-amplification bound: fold batch dirs once
        // their count reaches compactAt (0 = never; the fold changes
        // no store CONTENT and the `_applied` ledger outlives it, so
        // a crash anywhere around it re-runs cleanly)
        if (compactAt > 0)
          graft.operators.Dedup.maintainContainmentStore(
            b.sparkSession, storePath, compactAt)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming drift monitor over the PERSISTED reference profile
    * ([[graft.operators.Profiling.writeProfileStore]]): each
    * micro-batch of ingested documents (1) computes its PSI/KL drift
    * AGAINST the stored reference
    * ([[graft.operators.Profiling.driftFromStore]]) into a
    * `batch=<id>` report sink, then (2) if `absorb`, folds its own
    * bin counts into the store so the reference tracks the accepted
    * stream — alert-then-absorb, the production ingest-QA order.
    *
    * Replay discipline: the report is computed against the
    * PRE-absorb store and written BEFORE the absorb, and both steps
    * are gated on the applied-batch watermark inside the store's
    * atomic publish — a re-delivered batch id skips report and
    * absorb together, so at every crash point the on-disk report
    * matches the store generation it was measured against
    * (spec-checked). With `absorb = false` the store is frozen and
    * the `batch=` overwrite alone is idempotent. `binsOf` picks the
    * marginals (documents by default; pass
    * [[graft.operators.Profiling.eventBins]] to monitor an event
    * stream against a traffic baseline — same store machinery).
    */
  def driftMonitorStream(docs: DataFrame, storePath: String,
      outDir: String, checkpointDir: String, absorb: Boolean = true,
      binsOf: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame =
        graft.operators.Profiling.featureBins): StreamingQuery = {
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF()
        val spark = b.sparkSession
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val applied = graft.operators.Profiling
          .lastAppliedProfileBatch(fs, storePath)
        if (!absorb || batchId > applied) {
          graft.operators.Profiling
            .driftFromStore(spark, storePath, b, binsOf)
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          if (absorb) {
            graft.operators.Profiling
              .appendBatchToProfileStore(storePath, b, batchId, binsOf)
            ()
          }
        }
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming maintenance of the persisted BM25 inverted-index store
    * ([[graft.operators.SearchIndex]]): each micro-batch of curated
    * documents folds its postings/doclens in at batch-proportional
    * cost, so retrieval always runs against the full ingested corpus.
    * This stream MUTATES the store — replay safety is the
    * applied-batch watermark riding the atomic meta publish PLUS the
    * content-tag manifest (either alone suffices; together they make
    * both the stamped and unstamped append paths idempotent), the
    * [[sketchStream]] discipline.
    */
  def searchIndexStream(docs: DataFrame, storePath: String,
      checkpointDir: String, compactAt: Int = 0): StreamingQuery = {
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF()
        graft.operators.SearchIndex
          .appendBatchToIndexStore(storePath, b, batchId)
        // fold batch dirs once the manifest reaches compactAt (0 =
        // never): scores are unchanged by construction and the
        // applied ledger keeps replays no-ops, so the fold is
        // replay-neutral at every crash point
        if (compactAt > 0)
          graft.operators.SearchIndex.maintainIndexStore(
            b.sparkSession, storePath, compactAt)
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** The COMPOSED ingest loop from a stream — each micro-batch of
    * newly-ingested documents runs [[graft.operators.IngestLoop
    * .runBatch]] (cluster-map append → signature append → export
    * append, the production order). Exactly-once under checkpoint
    * replay WITHOUT a sink of its own: all three appends are
    * individually replay-safe — the cluster map by content tag, the
    * signature store by its `_applied/<tag>` marker (r12), the export
    * by the batch-id watermark inside the manifest publish — so a
    * re-delivered micro-batch is a provable no-op across every
    * artifact (spec-checked). Per-batch cost is the sum of the three
    * flat appends (the `ingestloop` ScaleBench rung). The r12-late
    * families ride along when their paths are given (search index by
    * manifest tag + watermark, reference profile by watermark) —
    * still coordinator-free exactly-once — six artifacts with the r15
    * substring gram-count store riding via `substringPath`
    * (`compactSubstringAt` bounds its overlay count in-loop).
    */
  def ingestLoopStream(docs: DataFrame, mapPath: String,
      sigStorePath: String, exportPath: String, checkpointDir: String,
      sampleMod: Int = 2, compactMapAt: Int = 0,
      indexPath: Option[String] = None,
      profilePath: Option[String] = None,
      compactIndexAt: Int = 0,
      substringPath: Option[String] = None,
      compactSubstringAt: Int = 0): StreamingQuery = {
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.IngestLoop.runBatch(mapPath, sigStorePath,
          exportPath, batch.toDF(), batchId, sampleMod,
          indexPath = indexPath, profilePath = profilePath,
          substringPath = substringPath)
        // optional read-amplification bound: fold overlays once their
        // count reaches compactMapAt (0 = never; compaction is
        // idempotent and replay-neutral — it changes no map CONTENT,
        // so a crash anywhere around it re-runs cleanly)
        if (compactMapAt > 0)
          graft.operators.Dedup.maintainClusterMap(
            batch.sparkSession, mapPath, compactMapAt)
        if (compactIndexAt > 0)
          indexPath.foreach(p => graft.operators.SearchIndex
            .maintainIndexStore(batch.sparkSession, p, compactIndexAt))
        if (compactSubstringAt > 0)
          substringPath.foreach(p => graft.operators.Dedup
            .maintainSubstringStore(batch.sparkSession, p,
              compactSubstringAt))
        ()
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Streaming incremental near-dup gate against a PERSISTED base
    * signature store ([[graft.operators.Dedup.writeSignatureStore]])
    * — the streaming composition of the store-backed batch path: each
    * micro-batch of newly-ingested documents computes ITS OWN MinHash
    * signatures and band-joins them against the static store, landing
    * one verdict row per ingested doc (dup count, best base match,
    * estimated similarity) as appended parquet — every ingested doc
    * with the default `sampleMod = 1`; a production gate must rule on
    * the whole batch, so the md5 twin's 1-in-`sampleMod`
    * verification-budget sampling is opt-in here (verdict rows then
    * cover only the sampled docs, and the store must be built with
    * the same `sampleMod`). MinHash signing is a
    * multi-stage batch aggregation, so it runs per micro-batch via
    * `foreachBatch` (the standard shape for compound batch logic on a
    * stream); the store MAY grow by concurrent appends mid-run — each
    * batch re-reads the store parquet, so a batch sees every append
    * published before it starts. Verdicts depend only on the
    * doc's own signatures vs the store (no delta-delta interaction),
    * so output is independent of micro-batch boundaries; per-batch
    * cost is O(batch · bands) + bucket probes, independent of base
    * size. Parity with the batch
    * [[graft.operators.Dedup.incrementalLshStore]] is spec-checked
    * row for row.
    *
    * The sink is IDEMPOTENT under micro-batch replay: verdicts land in
    * a `batch=<id>` directory overwritten whole, so a batch re-run
    * after a crash-restart (Spark replays the last uncommitted batch
    * from the checkpoint) replaces its own output instead of appending
    * duplicates — effective exactly-once, the foreachBatch contract
    * done right. Readers see `batch` as a partition column and drop
    * it.
    */
  def incrementalDedupStream(docs: DataFrame, storePath: String,
      outDir: String, checkpointDir: String,
      sampleMod: Int = 1,
      onBatchStart: Long => Unit = _ => ()): StreamingQuery = {
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // driver-side per-batch hook (default no-op): lets tests and
        // operators interpose between micro-batches — the staleness
        // spec appends to the store here to prove a later batch probes
        // the grown store
        onBatchStart(batchId)
        graft.operators.Dedup.incrementalLshStore(
          storePath, batch.toDF(), sampleMod = sampleMod)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
    q.processAllAvailable()
    q
  }

  /** Stream-static join: enrich the event stream with a static
    * dimension (broadcast per micro-batch — the standard Spark
    * pattern; the static side may be a slowly-refreshed table).
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Stream-stream range join — the incremental twin of
    * `operators/RangeOps.rangeJoin`: pair each left event with right
    * events of the same key whose time falls in (lT, lT + window].
    * Spark's stream-stream join keeps both sides in the state store;
    * the watermarks plus the time-range predicate bound how long each
    * row is retained (a right row can only match lefts at most
    * `window` older, so state is evicted once the watermark passes) —
    * the same band-bounding idea as the batch bucket join, expressed
    * as state TTL instead of bucket replication.
    */
  def rangeJoinStream(left: DataFrame, right: DataFrame, key: String,
      window: String = "10 minutes", lateness: String = "10 minutes"): DataFrame = {
    val l = left.select(col(key), col("event_id").as("l_id"),
        col("ts").as("l_ts"))
      .withWatermark("l_ts", lateness)
    val r = right.select(col(key).as("r_key"), col("event_id").as("r_id"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", lateness)
    l.join(r,
      col(key) === col("r_key") &&
        col("r_ts") > col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $window"))
      .select(col(key), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** Streaming exact dedup — the training-pipeline dedup operator in
    * its incremental form: state = fingerprints seen within the
    * watermark horizon; `dropDuplicates` keyed on the content
    * fingerprint. (Batch twin: `operators/Dedup.exact/fingerprint`.)
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates(keyCols :+ "ts")

  /** Streaming corpus quality gate — the PII scan/redaction applied to
    * a DOCUMENT stream as it ingests. The operator is a pure
    * map + filter (no state, no watermark, no shuffle), so the batch
    * implementation streams unchanged in append mode; only the
    * batch-side total order is dropped (meaningless on a stream).
    * Parity with the batch operator is spec-checked row for row.
    *
    * `augment = false` is the real-ingest default: the deterministic
    * fixture augmentation (synthetic PII appended by doc_id) exists
    * only so the PII-free synthetic corpus exercises the scanner —
    * production streams must scan their text as-is. Only the
    * spec/driver parity path opts in.
    */
  def piiGateStream(docs: DataFrame, augment: Boolean = false): DataFrame =
    graft.operators.QualitySignals.piiRedact(docs, augment = augment,
      ordered = false)

  /** Streaming quality-classifier gate — the hash-trick linear scorer
    * ([[graft.operators.QualitySignals.qualityScore]]) applied to a
    * document stream, keeping documents with a positive score. Like
    * the PII gate this is a pure map + filter (no state, no
    * watermark), so the batch implementation streams unchanged in
    * append mode; parity with batch is spec-checked row for row.
    */
  def qualityGateStream(docs: DataFrame): DataFrame =
    graft.operators.QualitySignals.qualityScore(docs)
      .filter(col("score") > 0)

  /** Streaming per-source quota capping — the batch
    * [[graft.operators.Sampling.sourceQuota]] incrementally maintained
    * as a stateful stream: each source's k-smallest salted-hash
    * selection lives in the state store (`mapGroupsWithState`, state
    * BOUNDED at ≤`quota` entries per source — quota × |sources| total,
    * independent of stream length), every micro-batch merges its rows
    * and emits the source's CURRENT quota report with a state
    * `version` (update count) so a sink keeps the latest row per
    * source. Batch-boundary-independent by construction: k-smallest
    * merge by the exact (key, doc_id) order is associative — the same
    * law that makes the batch `BottomKByKey` partials correct — so the
    * final report equals the batch sourceQuota over everything
    * ingested (spec-checked).
    */
  def sourceQuotaStream(docs: DataFrame, quota: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("source"),
        graft.operators.Sampling.hashBucketFull("quo:", col("doc_id"))
          .as("key"),
        col("doc_id"), col("n_chars"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (source: String, rows: Iterator[(String, Long, Long, Long)],
         state: GroupState[(Long, Seq[(Long, Long, Long)])]) => {
          val (ver, cur) = state.getOption
            .getOrElse((0L, Seq.empty[(Long, Long, Long)]))
          val merged = (cur ++ rows.map(r => (r._2, r._3, r._4)))
            .sortBy(e => (e._1, e._2)).take(quota)
          state.update((ver + 1, merged))
          (source, ver + 1, merged.size.toLong,
            merged.map(_._2).min, merged.map(_._2).max,
            merged.map(_._3).sum)
        })
      .toDF("source", "version", "n_kept", "min_doc", "max_doc",
        "sum_chars")
  }

  final case class AsofEvent(user_id: Long, eus: Long, is_right: Boolean,
    id: Long, v: Double, ts: java.sql.Timestamp)
  final case class AsofJoinState(rights: List[(Long, Double)],
    pending: List[(Long, Long)])
  final case class AsofMatch(user_id: Long, event_id: Long, eus: Long,
    matched_eus: Option[Long], matched_value: Option[Double])

  /** Streaming as-of join — the incremental twin of the batch
    * [[graft.plans.AsofJoinExec]] via `AsofOps.clicksWithLastView`:
    * enrich each `click` with the latest `view` value at-or-before its
    * event time, per user. Correctness under out-of-order arrival
    * comes from WATERMARK GATING: a click is emitted only once the
    * watermark has passed its event time — at that point no earlier
    * view can still arrive, so "latest at-or-before" is final.
    * State per key is bounded: pending clicks live at most the
    * watermark delay; of the views at-or-before the watermark only the
    * latest is retained (older ones can never win again), views ahead
    * of the watermark are kept until it passes them. Same-time views
    * collapse to max(value), mirroring the batch entry's
    * pre-aggregation. Clicks newer than the final watermark stay in
    * state (correct for an unbounded stream — a later view could still
    * precede them).
    */
  def asofEnrichStream(spark: SparkSession, events: DataFrame,
      lateness: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    val tagged = events
      .filter(col("event_type").isin("click", "view"))
      .withWatermark("ts", lateness)
      .select(col("user_id"), unix_micros(col("ts")).as("eus"),
        (col("event_type") === "view").as("is_right"),
        col("event_id").as("id"), col("value").as("v"), col("ts"))
      .as[AsofEvent]
    tagged
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[AsofEvent],
         state: GroupState[AsofJoinState]) => {
          // on timeout (watermark passed a pending click with no new
          // events for this key) the emission logic below runs with an
          // empty delta — the event-time timeout is what guarantees
          // ripe clicks are flushed without waiting for key activity
          val rs = if (state.hasTimedOut) Seq.empty[AsofEvent] else rows.toSeq
          val st = state.getOption.getOrElse(AsofJoinState(Nil, Nil))
          // merge new views; same-time views keep max(value)
          val rights = (st.rights ++ rs.filter(_.is_right).map(e => (e.eus, e.v)))
            .groupBy(_._1).map { case (t, vs) => (t, vs.map(_._2).max) }
            .toList.sortBy(_._1)
          val pending = st.pending ++
            rs.filter(!_.is_right).map(e => (e.id, e.eus))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, young) = pending.partition(_._2 <= wmUs)
          val out = ripe.sortBy(_._1).map { case (id, t) =>
            val m = rights.takeWhile(_._1 <= t).lastOption
            AsofMatch(user, id, t, m.map(_._1), m.map(_._2))
          }
          val (past, ahead) = rights.partition(_._1 <= wmUs)
          state.update(AsofJoinState(past.takeRight(1) ::: ahead, young))
          // re-arm: fire again when the watermark passes the earliest
          // still-pending click (all young > wmUs, so this is valid)
          if (young.nonEmpty)
            state.setTimeoutTimestamp(young.map(_._2).min / 1000L + 1L)
          out.iterator
        })
      .toDF()
  }

  // ts stays in the row so the watermarked column survives to the
  // flatMapGroupsWithState child (required for event-time timeout)
  final case class SessionEvent(user_id: Long, eus: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, n_events: Long, span_us: Long)

  /** Stateful sessionization: per-user state carries the open
    * session; a gap > `gapMicros` closes it, and an event-time
    * TIMEOUT (watermark passing last-event + gap) flushes idle open
    * sessions in a live stream — so state is bounded and every session
    * is eventually emitted. Mirrors `EventOps.sessionize` semantics
    * for ordered per-user input.
    */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
      gapMicros: Long = 1800L * 1000000L): DataFrame = {
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("eus"), col("ts"))
      .as[SessionEvent]
    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[SessionEvent],
         state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed last + gap with no new events: the open
            // session can never be extended — emit and clear
            val st = state.get
            state.remove()
            Iterator.single(SessionOut(user, st.n, st.last - st.start))
          } else {
            val sorted = rows.map(_.eus).toSeq.sorted
            var out = List.empty[SessionOut]
            var st = state.getOption.orNull
            for (t <- sorted) {
              if (st == null) st = SessionState(t, t, 1)
              else if (t - st.last > gapMicros) {
                out = SessionOut(user, st.n, st.last - st.start) :: out
                st = SessionState(t, t, 1)
              } else st = SessionState(st.start, t, st.n + 1)
            }
            if (st != null) {
              state.update(st)
              state.setTimeoutTimestamp((st.last + gapMicros) / 1000L)
            }
            out.reverseIterator
          }
        })
      .toDF()
  }
}
