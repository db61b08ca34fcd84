package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.EventOps
import graft.queries.Ctx
import graft.streaming.EventStream

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sfDir = "/root/testdata/sf0.001"

  // the file-stream source wants a directory; stage the single-file
  // fixture into one
  private lazy val eventsDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming tumbling counts match the batch operator") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val q = EventStream.runToMemory(
      EventStream.tumblingCounts(stream), "tumbling_test")
    try {
      val streamed = spark.table("tumbling_test")
        .select("hour", "event_type", "n")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      val batch = EventOps.tumblingHourly(Ctx(spark, sfDir).events)
        .select(col("hour"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming PII gate equals the batch redaction row for row") {
    val docsDir = {
      val dir = java.nio.file.Files.createTempDirectory("graft_docs_stream")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
        dir.resolve("documents.parquet"))
      dir.toString
    }
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(docsDir)
    val q = EventStream.runToMemory(
      EventStream.piiGateStream(stream, augment = true),
      "pii_gate_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val streamed = spark.table("pii_gate_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      val batch = graft.operators.QualitySignals
        .piiRedact(Ctx(spark, sfDir).documents).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
    // real-ingest default: NO fixture augmentation — the synthetic
    // corpus is PII-free, so the gate must pass nothing through
    val q2 = EventStream.runToMemory(
      EventStream.piiGateStream(stream), "pii_gate_plain",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try assert(spark.table("pii_gate_plain").count() == 0L)
    finally q2.stop()
    // the quality-classifier gate streams the batch scorer unchanged
    val q3 = EventStream.runToMemory(
      EventStream.qualityGateStream(stream), "quality_gate_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val streamed = spark.table("quality_gate_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.operators.QualitySignals
        .qualityScore(Ctx(spark, sfDir).documents)
        .filter(org.apache.spark.sql.functions.col("score") > 0).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q3.stop()
  }

  test("streaming incremental dedup matches the store-backed batch path") {
    import graft.operators.Dedup
    val docs = Ctx(spark, sfDir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc_stream")
    val store = tmp.resolve("store").toString
    val deltaDir = tmp.resolve("delta").toString
    val outDir = tmp.resolve("out").toString
    // sampleMod=1 throughout: the streaming gate rules on EVERY
    // ingested doc by default, so the store and the batch twin must
    // be unsampled too
    Dedup.writeSignatureStore(base, store, sampleMod = 1)
    // stage the delta as a directory the file source can ingest;
    // multiple files → multiple micro-batches under AvailableNow,
    // so batch-boundary independence is actually exercised
    delta.repartition(3).write.parquet(deltaDir)
    val q = EventStream.incrementalDedupStream(
      EventStream.readDocuments(spark, deltaDir), store, outDir,
      tmp.resolve("ckpt").toString)
    try {
      // batch=<id> is the idempotent-replay partition axis — dropped
      // on read
      val streamed = spark.read.parquet(outDir).drop("batch")
        .collect().map(_.toString).sorted
      val batch = Dedup.incrementalLshStore(store, delta, sampleMod = 1)
        .collect().map(_.toString).sorted
      assert(streamed.sameElements(batch))
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming semantic dedup matches the store-fed batch path") {
    import graft.operators.Similarity
    val emb = Ctx(spark, sfDir).embeddings
    val base = emb.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sem_stream")
    val store = tmp.resolve("store").toString
    val deltaDir = tmp.resolve("delta").toString
    val outDir = tmp.resolve("out").toString
    // seeds (vec_id < cells) must exist in the base slice: shifting
    // the base ids down one maps {1,2,4,…} → {0,1,3,…}, so cells=2
    // seeds from vecs 0 and 1 (base ids are independent of the delta)
    Similarity.writeSemanticStore(base.withColumn("vec_id",
        col("vec_id") - 1), store, cells = 2, iters = 2)
    // multiple files → multiple micro-batches under AvailableNow, so
    // batch-boundary independence is actually exercised
    delta.repartition(3).write.parquet(deltaDir)
    val q = EventStream.semanticDedupStream(
      EventStream.readEmbeddings(spark, deltaDir), store, outDir,
      tmp.resolve("ckpt").toString)
    try {
      val streamed = spark.read.parquet(outDir).drop("batch")
        .collect().map(_.toString).sorted
      val batch = Similarity.semanticDedupIncremental(store, delta)
        .collect().map(_.toString).sorted
      assert(streamed.sameElements(batch))
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming LM scoring matches the store-fed batch path") {
    import graft.operators.QualitySignals
    val docs = Ctx(spark, sfDir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_lm_stream")
    val store = tmp.resolve("lm").toString
    val deltaDir = tmp.resolve("delta").toString
    val outDir = tmp.resolve("out").toString
    QualitySignals.writeLmStore(base, store)
    delta.repartition(3).write.parquet(deltaDir)
    val q = EventStream.lmScoreStream(
      EventStream.readDocuments(spark, deltaDir), store, outDir,
      tmp.resolve("ckpt").toString)
    try {
      val streamed = spark.read.parquet(outDir).drop("batch")
        .collect().map(_.toString).sorted
      val batch = QualitySignals.scoreAgainstLmStore(store, delta)
        .collect().map(_.toString).sorted
      assert(streamed.sameElements(batch))
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming sketch-store maintenance equals a fresh build over all docs") {
    import graft.operators.Sketches
    val docs = Ctx(spark, sfDir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sketch_stream")
    val store = tmp.resolve("store").toString
    val deltaDir = tmp.resolve("delta").toString
    Sketches.writeSketchStore(base, store)
    // multiple files -> the AvailableNow file source may split them
    // into several micro-batches; the stamped folds must compose
    delta.repartition(3).write.parquet(deltaDir)
    val q = EventStream.sketchStream(
      EventStream.readDocuments(spark, deltaDir), store,
      tmp.resolve("ckpt").toString)
    try {
      val streamed = Sketches.estimateStore(spark, store)
        .collect().map(_.toString).sorted
      val freshDir = tmp.resolve("fresh").toString
      Sketches.writeSketchStore(docs, freshDir)
      val fresh = Sketches.estimateStore(spark, freshDir)
        .collect().map(_.toString).sorted
      assert(streamed.sameElements(fresh))
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming search-index maintenance: retrieval equals a fresh index over all docs") {
    import graft.operators.{Search, SearchIndex}
    val docs = Ctx(spark, sfDir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sidx_stream")
    val store = tmp.resolve("store").toString
    val deltaDir = tmp.resolve("delta").toString
    SearchIndex.writeIndexStore(base, store)
    // multiple files -> possibly several micro-batches; the stamped
    // tagged folds must compose
    delta.repartition(3).write.parquet(deltaDir)
    val q = EventStream.searchIndexStream(
      EventStream.readDocuments(spark, deltaDir), store,
      tmp.resolve("ckpt").toString)
    try {
      val streamed = SearchIndex.bm25FromStore(spark, store)
        .collect().map(_.toString)
      val direct = Search.bm25Queries(docs).collect().map(_.toString)
      assert(streamed.sameElements(direct) && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming drift monitor: single-batch report matches the batch path; absorb folds the batch in") {
    import graft.operators.Profiling
    val docs = Ctx(spark, sfDir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift_stream")
    val store = tmp.resolve("store").toString
    val deltaDir = tmp.resolve("delta").toString
    val outDir = tmp.resolve("out").toString
    Profiling.writeProfileStore(base, store)
    // ONE file -> the AvailableNow source delivers one micro-batch,
    // so the report is deterministically "delta vs pre-absorb base"
    delta.coalesce(1).write.parquet(deltaDir)
    val q = EventStream.driftMonitorStream(
      EventStream.readDocuments(spark, deltaDir), store, outDir,
      tmp.resolve("ckpt").toString)
    try {
      val streamed = spark.read.parquet(s"$outDir/batch=0")
        .collect().map(_.toString).sorted
      val batch = Profiling.driftReport(base, delta)
        .collect().map(_.toString).sorted
      assert(streamed.sameElements(batch) && streamed.nonEmpty)
      // absorb: the store now equals a fresh build over the union
      val fresh = tmp.resolve("fresh").toString
      Profiling.writeProfileStore(docs, fresh)
      def bins(p: String) = spark.read.parquet(s"$p/bins")
        .orderBy("feature", "bin").collect().map(_.toString)
      assert(bins(store).sameElements(bins(fresh)))
    } finally q.stop()
  }

  test("events drift monitor: traffic baseline via eventBins, report + absorb") {
    import graft.operators.Profiling
    val events = Ctx(spark, sfDir).events
    val base = events.filter(pmod(col("event_id"), lit(3)) =!= 0)
    val delta = events.filter(pmod(col("event_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_evdrift_stream")
    val store = tmp.resolve("store").toString
    val deltaDir = tmp.resolve("delta").toString
    val outDir = tmp.resolve("out").toString
    Profiling.writeProfileStore(base, store, Profiling.eventBins)
    delta.coalesce(1).write.parquet(deltaDir)
    val q = EventStream.driftMonitorStream(
      EventStream.readEvents(spark, deltaDir), store, outDir,
      tmp.resolve("ckpt").toString, binsOf = Profiling.eventBins)
    try {
      val streamed = spark.read.parquet(s"$outDir/batch=0")
        .collect().map(_.toString).sorted
      val batch = Profiling.eventsDrift(base, delta)
        .collect().map(_.toString).sorted
      assert(streamed.sameElements(batch) && streamed.nonEmpty)
      // absorb: the store now equals a fresh EVENT profile over the
      // union — the marginal projection rode the whole loop
      val fresh = tmp.resolve("fresh").toString
      Profiling.writeProfileStore(events, fresh, Profiling.eventBins)
      def bins(p: String) = spark.read.parquet(s"$p/bins")
        .orderBy("feature", "bin").collect().map(_.toString)
      assert(bins(store).sameElements(bins(fresh)))
    } finally q.stop()
  }

  test("streaming export maintenance equals a fresh export over all docs; replay is a no-op") {
    import graft.sources.TrainingExport
    val docs = Ctx(spark, sfDir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_export_stream")
    val export = tmp.resolve("export").toString
    val deltaDir = tmp.resolve("delta").toString
    TrainingExport.exportShards(base, export, shards = 8, waves = 2)
    // multiple files -> the AvailableNow file source may split them
    // into several micro-batches; each lands as its own manifest'd
    // append and the merged aggregates must compose
    delta.repartition(3).write.parquet(deltaDir)
    val q = EventStream.exportStream(
      EventStream.readDocuments(spark, deltaDir), export,
      tmp.resolve("ckpt").toString)
    try {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val applied = TrainingExport.lastAppendedBatch(fs, export)
      assert(applied >= 0L)
      def m(p: String) = TrainingExport.readManifest(spark, p)
        .collect().map(_.toString).sorted.toSeq
      // stream-grown manifest equals a fresh export over everything,
      // and still equals the from-files truth (every doc landed
      // exactly once, in its correct shard)
      val freshDir = tmp.resolve("fresh").toString
      TrainingExport.exportShards(docs, freshDir, shards = 8, waves = 2)
      assert(m(export) == m(freshDir) && m(export).nonEmpty)
      assert(m(export) == TrainingExport.manifestFromFiles(spark, export)
        .collect().map(_.toString).sorted.toSeq)
      // replayed batch id (foreachBatch redelivery after a crash):
      // skipped exactly by the watermark inside the manifest publish
      assert(!TrainingExport.appendBatchToExport(export, delta, applied))
      assert(m(export) == m(freshDir))
      // trainer-side reader sees base + streamed docs interleaved in
      // training order for an arbitrary shard
      val got = TrainingExport.readShard(spark, export, 3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val want = docs
        .withColumn("shard", pmod(graft.operators.Sampling.hashBucketFull(
          TrainingExport.ShardSalt, col("doc_id")), lit(8L)))
        .filter(col("shard") === 3).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming containment store: probe-then-append parity; replay is a no-op") {
    import graft.operators.Dedup
    import spark.implicits._
    def filler(w: String, n: Int) =
      Seq.tabulate(n)(i => s"$w$i").mkString(" ")
    val embedded = filler("uno", 17)
    val embedded2 = filler("dos", 17)
    def docRow(id: Long, text: String) =
      (id, text, "en", "web", text.length.toLong)
    // base holds a container of `embedded`; batch 1 brings the
    // contained probe 0 AND a container of `embedded2`; batch 2's
    // probe 5 is contained in batch 1's doc 40 — found only if the
    // stream's append made batch 1 visible as base (the loop order)
    val base = Seq(
      docRow(10L, s"${filler("pre", 54)} $embedded ${filler("post", 54)}"),
      docRow(20L, "totally unrelated words about something else entirely"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d1 = Seq(docRow(0L, embedded),
      docRow(40L, s"${filler("aaa", 52)} $embedded2 ${filler("bbb", 52)}"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val d2 = Seq(docRow(5L, embedded2))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ct_stream")
    val store = tmp.resolve("store").toString
    val twin = tmp.resolve("twin").toString
    val streamDir = tmp.resolve("stream").toString
    val outDir = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    Dedup.writeContainmentStore(base, store, stride = 4, sampleMod = 1)
    Dedup.writeContainmentStore(base, twin, stride = 4, sampleMod = 1)
    def runStream(): Unit = {
      val q = EventStream.containmentStream(
        EventStream.readDocuments(spark, streamDir), store, outDir,
        ckpt, tau = 0.9, stride = 4)
      q.stop()
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // batch 1: one file → one micro-batch; batch twin = probe + append
    d1.coalesce(1).write.mode("append").parquet(streamDir)
    runStream()
    val v1 = rows(Dedup.containmentFromStore(twin, d1, tau = 0.9,
      sampleMod = 1).select("d1", "d2", "n1", "n2", "common",
      "containment"))
    Dedup.appendToContainmentStore(d1, twin, stride = 4, sampleMod = 1)
    assert(rows(spark.read.parquet(outDir).drop("batch")) == v1)
    assert(v1.nonEmpty, "batch 1 found no containment")
    // batch 2: the SAME checkpoint resumes and sees only the new file;
    // its probe must find d2's doc 5 inside batch 1's doc 40 — proof
    // the stream's append landed before the next trigger
    d2.coalesce(1).write.mode("append").parquet(streamDir)
    runStream()
    val v2 = rows(Dedup.containmentFromStore(twin, d2, tau = 0.9,
      sampleMod = 1).select("d1", "d2", "n1", "n2", "common",
      "containment"))
    Dedup.appendToContainmentStore(d2, twin, stride = 4, sampleMod = 1)
    assert(v2.exists(_.contains("[5,40,")),
      s"cross-batch containment 5→40 not found: $v2")
    assert(rows(spark.read.parquet(outDir).drop("batch")) == (v1 ++ v2).sorted)
    // replay the last batch by hand (what a crash-restart would
    // re-deliver): the probe's batch-self exclusion makes the output
    // bit-identical even though the store now CONTAINS d2, and the
    // content-tagged re-append leaves the store unchanged
    val replayed = rows(Dedup.containmentFromStore(store, d2, tau = 0.9,
        sampleMod = 1)
      .join(d2.select(col("doc_id").as("d2")), Seq("d2"), "left_anti")
      .select("d1", "d2", "n1", "n2", "common", "containment"))
    assert(replayed == v2, "replayed probe diverged")
    val probeBefore = rows(Dedup.containmentFromStore(store, d2
      .withColumn("doc_id", col("doc_id") + 1000L), tau = 0.9,
      sampleMod = 1))
    Dedup.appendToContainmentStore(d2, store, stride = 4, sampleMod = 1)
    assert(rows(Dedup.containmentFromStore(store, d2
      .withColumn("doc_id", col("doc_id") + 1000L), tau = 0.9,
      sampleMod = 1)) == probeBefore, "replayed append changed the store")
  }

  test("streaming ingest loop with index+profile+substr: six artifacts end fresh-equivalent") {
    import graft.operators.{Dedup, IngestLoop, Profiling, Search, SearchIndex}
    import graft.sources.TrainingExport
    val docs = Ctx(spark, sfDir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_iloop_full")
    val sigs = tmp.resolve("sigs").toString
    val map = tmp.resolve("map").toString
    val export = tmp.resolve("export").toString
    val index = tmp.resolve("index").toString
    val profile = tmp.resolve("profile").toString
    val substr = tmp.resolve("substr").toString
    val streamDir = tmp.resolve("stream").toString
    Dedup.writeSignatureStore(base, sigs, sampleMod = 1)
    Dedup.writeClusterMap(base, map, sampleMod = 1)
    TrainingExport.exportShards(base, export, shards = 8, waves = 2)
    SearchIndex.writeIndexStore(base, index)
    Profiling.writeProfileStore(base, profile)
    Dedup.writeSubstringStore(base.select("doc_id", "text"), substr)
    delta.repartition(2).write.parquet(streamDir)
    // compactIndexAt/compactSubstringAt = 1 fold after EVERY
    // micro-batch — the harshest cadence — so the fresh-equivalence
    // assertions below also prove in-loop compaction is invisible
    val q = EventStream.ingestLoopStream(
      EventStream.readDocuments(spark, streamDir), map, sigs, export,
      tmp.resolve("ckpt").toString, sampleMod = 1,
      indexPath = Some(index), profilePath = Some(profile),
      compactIndexAt = 1,
      substringPath = Some(substr), compactSubstringAt = 1)
    try {
      // the index was actually folded (one compact dir, c-prefixed)
      val visibleTags = spark.read.parquet(s"$index/meta/tags")
        .collect().map(_.getString(0))
      assert(visibleTags.length == 1 && visibleTags.head.startsWith("c"),
        s"index not compacted: ${visibleTags.toSeq}")
      // the two riding stores ended exactly as a fresh build over the
      // union would (the three core stores carry their own spec)
      val viaLoop = SearchIndex.bm25FromStore(spark, index).collect()
        .map(_.toString)
      val fresh = Search.bm25Queries(docs).collect().map(_.toString)
      assert(viaLoop.sameElements(fresh) && viaLoop.nonEmpty)
      val freshProfile = tmp.resolve("profile_fresh").toString
      Profiling.writeProfileStore(docs, freshProfile)
      def bins(p: String) = spark.read.parquet(s"$p/bins")
        .orderBy("feature", "bin").collect().map(_.toString)
      assert(bins(profile).sameElements(bins(freshProfile)))
      // the riding substring store ended exactly as a fresh build over
      // the union would, with its overlays folded away in-loop
      val freshSubstr = tmp.resolve("substr_fresh").toString
      Dedup.writeSubstringStore(docs.select("doc_id", "text"),
        freshSubstr)
      def census(p: String) = Dedup.substringStoreReport(spark, p)
        .collect().map(_.toString)
      assert(census(substr).sameElements(census(freshSubstr)) &&
        census(substr).nonEmpty)
      val fs2 = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      assert(fs2.listStatus(new org.apache.hadoop.fs.Path(substr))
        .count(_.getPath.getName.startsWith("batch=")) == 0,
        "substring overlays not folded in-loop")
    } finally q.stop()
  }

  test("streaming ingest loop: final state equals fresh; replayed batch no-ops everywhere") {
    import graft.operators.{Dedup, IngestLoop}
    import graft.sources.TrainingExport
    val docs = Ctx(spark, sfDir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val d1 = docs.filter(pmod(col("doc_id"), lit(6)) === 0)
    val d2 = docs.filter(pmod(col("doc_id"), lit(6)) === 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft_iloop_stream")
    val sigs = tmp.resolve("sigs").toString
    val map = tmp.resolve("map").toString
    val export = tmp.resolve("export").toString
    val streamDir = tmp.resolve("stream").toString
    val ckpt = tmp.resolve("ckpt").toString
    Dedup.writeSignatureStore(base, sigs, sampleMod = 1)
    Dedup.writeClusterMap(base, map, sampleMod = 1)
    TrainingExport.exportShards(base, export, shards = 8, waves = 2)
    def runStream(): Unit = EventStream.ingestLoopStream(
      EventStream.readDocuments(spark, streamDir), map, sigs, export,
      ckpt, sampleMod = 1).stop()
    // two controlled micro-batches: one file per trigger round
    d1.coalesce(1).write.mode("append").parquet(streamDir)
    runStream()
    d2.coalesce(1).write.mode("append").parquet(streamDir)
    runStream()
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // stream-grown cluster map resolves identically to a from-scratch
    // clustering of everything (append ≡ fresh, composed over batches)
    val streamedKeep = rows(Dedup.keepBestFromStore(docs, map,
      sampleMod = 1))
    assert(streamedKeep == rows(Dedup.keepBest(docs, sampleMod = 1)) &&
      streamedKeep.nonEmpty, "stream-grown map diverged from fresh")
    // export grew to exactly base ∪ d1 ∪ d2
    val freshExp = tmp.resolve("fresh_export").toString
    TrainingExport.exportShards(docs, freshExp, shards = 8, waves = 2)
    def manifest(p: String) = rows(TrainingExport.readManifest(spark, p))
    assert(manifest(export) == manifest(freshExp))
    // replay the LAST batch by hand (what a crash-restart would
    // re-deliver): every artifact no-ops — export by watermark (the
    // runBatch return), map by content tag, signature store by its
    // _applied marker (file census unchanged)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def sigFiles(): Int = fs
      .listStatus(new org.apache.hadoop.fs.Path(sigs))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("band="))
      .map(d => fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet"))).sum
    val (mapBefore, filesBefore, manBefore) =
      (rows(Dedup.readClusterMap(spark, map)), sigFiles(), manifest(export))
    assert(!IngestLoop.runBatch(map, sigs, export, d2, batchId = 1L,
      sampleMod = 1), "replayed batch applied to the export")
    assert(rows(Dedup.readClusterMap(spark, map)) == mapBefore,
      "replayed batch changed the cluster map")
    assert(sigFiles() == filesBefore,
      "replayed batch duplicated signature rows")
    assert(manifest(export) == manBefore)
    // compaction (the compactMapAt policy) is replay-neutral: fold the
    // overlays, then the same re-delivered batch STILL no-ops — the
    // _applied ledger outlives the overlay dirs
    assert(Dedup.maintainClusterMap(spark, map, maxBatches = 1) >= 1)
    assert(rows(Dedup.readClusterMap(spark, map)) == mapBefore,
      "compaction changed map contents")
    assert(!IngestLoop.runBatch(map, sigs, export, d2, batchId = 1L,
      sampleMod = 1), "replay applied after compaction")
    assert(rows(Dedup.readClusterMap(spark, map)) == mapBefore)
  }

  test("streaming quantile-store maintenance equals a fresh build over all docs") {
    import graft.operators.Sketches
    val docs = Ctx(spark, sfDir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_qsk_stream")
    val store = tmp.resolve("store").toString
    val deltaDir = tmp.resolve("delta").toString
    Sketches.writeQuantileStore(base, store)
    delta.repartition(3).write.parquet(deltaDir)
    val q = EventStream.quantileStream(
      EventStream.readDocuments(spark, deltaDir), store,
      tmp.resolve("ckpt").toString)
    try {
      val streamed = Sketches.quantileReport(spark, store)
        .collect().map(_.toString).sorted
      val freshDir = tmp.resolve("fresh").toString
      Sketches.writeQuantileStore(docs, freshDir)
      val fresh = Sketches.quantileReport(spark, freshDir)
        .collect().map(_.toString).sorted
      assert(streamed.sameElements(fresh))
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("mid-stream store appends reach later micro-batches (per-batch store re-read)") {
    import graft.operators.Dedup
    val docs = Ctx(spark, sfDir).documents
    val base = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    // appended mid-stream: a copy of EVERY delta doc under shifted ids
    // — whichever docs the file source routes to the later batches,
    // they are guaranteed dups against the grown store, so a batch
    // probing a stale snapshot of the store would rule differently
    val grown = delta.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_stale_stream")
    val deltaDir = tmp.resolve("delta").toString
    // 3 files + maxFilesPerTrigger=1 → batches 0,1,2; the append
    // lands at the START of batch 1, so batches 1–2 must see it
    delta.repartition(3).write.parquet(deltaDir)
    def runStream(tag: String, appendAt: Option[Long]): (String, String) = {
      val store = tmp.resolve(s"store_$tag").toString
      Dedup.writeSignatureStore(base, store, sampleMod = 1)
      val out = tmp.resolve(s"out_$tag").toString
      val q = EventStream.incrementalDedupStream(
        EventStream.readDocuments(spark, deltaDir,
          maxFilesPerTrigger = Some(1)),
        store, out, tmp.resolve(s"ckpt_$tag").toString,
        onBatchStart = bid => if (appendAt.contains(bid))
          Dedup.appendToSignatureStore(grown, store, sampleMod = 1))
      q.stop()
      (store, out)
    }
    def verdicts(out: String, later: Boolean): Array[String] =
      spark.read.parquet(out)
        .filter(if (later) col("batch") >= 1 else col("batch") === 0)
        .drop("batch").collect().map(_.toString).sorted
    val (grownStore, grownOut) = runStream("app", Some(1L))
    val (_, staticOut) = runStream("static", None)
    // batch 0 ran before the append: the unappended store's verdicts
    assert(verdicts(grownOut, later = false)
      .sameElements(verdicts(staticOut, later = false)))
    // batches 1–2 ran after it: the batch path over the grown store,
    // row for row
    val laterDocs = delta.join(spark.read.parquet(grownOut)
      .filter(col("batch") >= 1).select("doc_id"), Seq("doc_id"), "left_semi")
    val expected = Dedup.incrementalLshStore(grownStore, laterDocs,
      sampleMod = 1).collect().map(_.toString).sorted
    assert(verdicts(grownOut, later = true).sameElements(expected) &&
      expected.nonEmpty, "a micro-batch probed a stale store")
    // sanity that the scenario has teeth: the same stream over a store
    // that is NOT appended must rule differently on the later batches
    // (otherwise the append never influenced any verdict)
    assert(!verdicts(staticOut, later = true)
      .sameElements(verdicts(grownOut, later = true)),
      "append never influenced later batches — scenario is vacuous")
  }

  test("stream-static join enriches events with a dimension") {
    import spark.implicits._
    val dim = Ctx(spark, sfDir).events.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("user_total"))
    val stream = EventStream.readEvents(spark, eventsDir)
    val q = EventStream.runToMemory(
      EventStream.enrich(stream, dim, "user_id")
        .groupBy("user_total").count(),
      "enrich_test")
    try {
      val joined = spark.table("enrich_test")
        .agg(org.apache.spark.sql.functions.sum("count")).head.getLong(0)
      assert(joined == Ctx(spark, sfDir).events.count())
    } finally q.stop()
  }

  test("streaming dedup keeps one row per key within the watermark") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val dd = EventStream.dedupStream(stream, Seq("event_id"))
    val q = EventStream.runToMemory(dd, "dedup_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val streamed = spark.table("dedup_test").count()
      val batch = Ctx(spark, sfDir).events.dropDuplicates("event_id", "ts").count()
      assert(streamed == batch)
    } finally q.stop()
  }

  test("foreachBatch sink lands the stream as parquet") {
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val stream = EventStream.readEvents(spark, eventsDir)
      .select("event_id", "ts", "event_type", "value")
    val q = EventStream.runToParquet(stream, s"$out/events", ckpt)
    try {
      val landed = spark.read.parquet(s"$out/events").count()
      assert(landed == Ctx(spark, sfDir).events.count())
    } finally q.stop()
  }

  test("stateful sessionization closes all but the open session per user") {
    val stream = EventStream.readEvents(spark, eventsDir)
    val sess = EventStream.sessionizeStream(spark, stream)
    val q = EventStream.runToMemory(sess, "sessions_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val closed = spark.table("sessions_test").count()
      val batch = EventOps.sessionize(Ctx(spark, sfDir).events)
        .agg(sum("n_sessions"), count(lit(1))).head
      val totalSessions = batch.getLong(0)
      val users = batch.getLong(1)
      // gap-closed sessions all emit; open sessions emit only if the
      // event-time timeout (watermark > last + gap) fired before the
      // stream ended — per-user last sessions near the global max ts
      // stay in state
      assert(closed >= totalSessions - users && closed <= totalSessions,
        s"closed=$closed total=$totalSessions users=$users")
    } finally q.stop()
  }

  test("streaming as-of join matches batch as-of on watermark-ripe clicks") {
    import org.apache.spark.sql.expressions.Window
    // stage the events as 4 time-ordered files so the watermark
    // advances across micro-batches (maxFilesPerTrigger=1)
    val dir = java.nio.file.Files.createTempDirectory("graft_asof_stream")
    val raw = spark.read.parquet(s"$sfDir/events.parquet") // ts as written
    val n = raw.count()
    val chunked = raw
      .withColumn("rn", row_number().over(Window.orderBy("ts", "event_id")))
      .withColumn("chunk", ((col("rn") - 1) * 4 / n).cast("int"))
    for (i <- 0 until 4) {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_asof_c$i")
      chunked.filter(col("chunk") === i).drop("rn", "chunk")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      val dest = dir.resolve(f"chunk$i%02d.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dest)
      dest.toFile.setLastModified(1600000000000L + i * 60000L)
    }
    val stream = EventStream.readEvents(spark, dir.toString,
      maxFilesPerTrigger = Some(1))
    val q = EventStream.runToMemory(
      EventStream.asofEnrichStream(spark, stream), "asof_stream_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      def key(r: org.apache.spark.sql.Row) = r.getLong(1)
      def payload(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
      val streamed = spark.table("asof_stream_test")
        .select("user_id", "event_id", "eus", "matched_eus", "matched_value")
        .collect().map(r => key(r) -> payload(r)).toMap
      val batch = graft.operators.AsofOps
        .clicksWithLastView(Ctx(spark, sfDir).events)
        .select("user_id", "event_id", "eus", "matched_eus", "matched_value")
        .collect().map(r => key(r) -> payload(r)).toMap
      // exactness: every emitted click matches the batch as-of row
      assert(streamed.nonEmpty)
      streamed.foreach { case (id, p) => assert(batch(id) == p, s"id=$id") }
      // coverage: every click older than final watermark was emitted
      val maxUs = Ctx(spark, sfDir).events
        .agg(max(unix_micros(col("ts")))).head.getLong(0)
      val ripe = batch.filter { case (_, p) => p._2 <= maxUs - 600000000L }
      assert(ripe.keySet.subsetOf(streamed.keySet),
        s"missing ${ripe.keySet -- streamed.keySet}")
    } finally q.stop()
  }

  test("stream-stream range join matches the batch banded range join") {
    val errors = EventStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "error")
    val clicks = EventStream.readEvents(spark, eventsDir)
      .filter(col("event_type") === "click")
    val q = EventStream.runToMemory(
      EventStream.rangeJoinStream(errors, clicks, "user_id",
        window = "4 hours"),
      "range_join_test",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val streamed = spark.table("range_join_test")
        .select("l_id", "r_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ev = Ctx(spark, sfDir).events
      val e = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("l_id"),
          unix_micros(col("ts")).as("l_us"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("r_id"),
          unix_micros(col("ts")).as("r_us"))
      val batch = graft.operators.RangeOps
        .rangeJoin(e, c, Seq("user_id"), "l_us", "r_us",
          0L, 4L * 3600L * 1000000L)
        .select("l_id", "r_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("sourceQuotaStream: final state equals batch sourceQuota, any batching") {
    import spark.implicits._
    val docs = Seq.tabulate(300)(i =>
      (i.toLong, s"text $i", "en", s"src${i % 3}", (10 + i % 5).toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_quota_stream")
    val dir = tmp.resolve("docs").toString
    // 3 files + maxFilesPerTrigger=1 → 3 micro-batches
    docs.repartition(3).write.parquet(dir)
    val q = EventStream.runToMemory(
      EventStream.sourceQuotaStream(
        EventStream.readDocuments(spark, dir, maxFilesPerTrigger = Some(1)),
        quota = 15),
      "quota_stream", org.apache.spark.sql.streaming.OutputMode.Update())
    try {
      val mem = spark.sql("select * from quota_stream")
      // the sink's latest row per source = the max-version update
      val latest = mem.groupBy("source")
        .agg(max_by(struct(col("n_kept"), col("min_doc"), col("max_doc"),
          col("sum_chars")), col("version")).as("s"))
        .select(col("source"), col("s.n_kept"), col("s.min_doc"),
          col("s.max_doc"), col("s.sum_chars"))
        .collect().map(_.toString).sorted
      val batch = graft.operators.Sampling.sourceQuota(docs, quota = 15)
        .collect().map(_.toString).sorted
      assert(latest.sameElements(batch))
      // non-vacuity: the state really advanced across micro-batches
      assert(mem.agg(max("version")).collect().head.getLong(0) >= 2L)
    } finally q.stop()
  }
}
