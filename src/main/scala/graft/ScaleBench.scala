package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof harness (one-off, not the per-round bench): pushes the
  * two places the small-SF bench can't see toward reference scale and
  * records wall-clock,
  *
  *  1. TPC-H heavy hitters (q1, q5, q9, q18, q21) over the sf0.1
  *     fixture amplified 1×/4×/16× ON DISK (fact tables replicated
  *     with shifted order keys, dims untouched so joins stay valid) —
  *     ~9.6M lineitem rows at 16×; near-linear growth here is the
  *     evidence the one-shuffle broadcast plans hold as data scales.
  *  2. Block matmul at 2048²/4096²/8192² with 512-blocks — the
  *     reference's `matrix_multiplication.py:16-27` exercise shape
  *     (64k² with 8k chunks on a cluster); n³ work on n² data, so the
  *     check is flops-rate stability, not linearity.
  *
  * Usage: runMain graft.ScaleBench [fact-mults] [matmul-sizes]
  * (comma-separated; defaults "1,4,16" and "2048,4096,8192").
  * Results land in docs/BENCH_NOTES.md by hand.
  */
object ScaleBench {

  /** Cache path for an amplified corpus — VERSIONED (`p1` = the
    * permutation amplifier): the exists-check below reuses whatever
    * sits at the path, so an amplifier semantics change MUST bump the
    * tag or hosts with cached /tmp dirs silently measure the old
    * fixture (the caesar-era lesson).
    */
  def ampCorpusDir(mult: Int): String = s"/tmp/graft_amp_corpus_p1_$mult"

  def amplifyToDir(spark: SparkSession, srcDir: String, outDir: String,
      mult: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(outDir))) return
    def amplify(df: DataFrame, keys: Seq[String]): DataFrame =
      (0 until mult).map { i =>
        keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(i.toLong * 100000000L)))
      }.reduce(_ unionAll _)
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val or = spark.read.parquet(s"$srcDir/orders.parquet")
    amplify(li, Seq("l_orderkey")).write.parquet(s"$outDir/lineitem.parquet")
    amplify(or, Seq("o_orderkey")).write.parquet(s"$outDir/orders.parquet")
    for (t <- Seq("customer", "supplier", "part", "nation", "region"))
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.parquet(s"$outDir/$t.parquet")
  }

  /** Amplify the documents/embeddings corpora: doc/vec ids shift per
    * copy; document TEXT is remapped through a PER-COPY alphabet
    * permutation (md5-seeded deterministic shuffle — the r10 fix: the
    * old caesar rotation WRAPPED at 26 copies, so ≥26× corpora
    * contained true duplicate texts by construction and the dedup
    * ladder points measured output volume, not plan scaling) so
    * replicas are never artificial near-duplicates at any mult.
    */
  def amplifyCorpusToDir(spark: SparkSession, srcDir: String, outDir: String,
      mult: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(outDir))) return
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def perm(i: Int): String =
      if (i == 0) alpha
      else alpha.sortBy { c =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"amp:$i:$c".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      }.mkString
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    (0 until mult).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 100000000L))
        .withColumn("text", translate(col("text"), alpha, perm(i)))
    }.reduce(_ unionAll _).write.parquet(s"$outDir/documents.parquet")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    (0 until mult).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 100000000L))
    }.reduce(_ unionAll _).write.parquet(s"$outDir/embeddings.parquet")
  }

  /** Amplify the events stream: user ids shift per copy so each copy
    * is a disjoint population of users with intact per-user event
    * sequences — the as-of/sessionize workloads then scale in keys,
    * not in per-key density (the realistic 100 TB growth axis).
    */
  def amplifyEventsToDir(spark: SparkSession, srcDir: String, outDir: String,
      mult: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(outDir))) return
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    (0 until mult).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i.toLong * 100000000L))
    }.reduce(_ unionAll _).write.parquet(s"$outDir/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val factMults = args.headOption.getOrElse("1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val matmulSizes = (if (args.length > 1) args(1) else "2048,4096,8192")
      .split(",").map(_.trim.toInt).toSeq
    // optional 3rd arg: comma list of sections to run
    // (tpch,pipeline,events,svd,matmul) — default all
    val sections = (if (args.length > 2) args(2)
      else "tpch,pipeline,events,svd,matmul,lloyd,ccchain,incstore," +
        "megabucket,incstore_compact,semdedup,bloomgate,giantcluster," +
        "seminc,globalrank,giantsource,sketchstore,exportstore,clustermap," +
        "ctstore,ingestloop,clustermap_compact,profilestore,searchindex," +
        "storecompact,compactdirs,rerankqueries,indexbytes,phrase")
      .split(",").map(_.trim).toSet
    // optional 4th arg: comma list restricting the pipeline section's
    // entries (re-running one family's ladder without paying the full
    // ~50-entry sweep) — default all
    val opsFilter: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet)
      else None
    def section(name: String)(body: => Unit): Unit =
      if (sections(name)) body
    val spark = Engine.session("graft-scale-bench", master = "local[32]")
    val src = "/root/testdata/sf0.1"
    val heavy = Seq("q1", "q5", "q9", "q17", "q18", "q21")

    // The ladders time `count()`, not Bench's noop sink: the slopes in
    // docs/SCALE.md and docs/BENCH_NOTES.md were measured that way, and
    // a ladder is read against its own earlier rungs.
    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // `time` plus the longest task (the straggler rungs' signal)
    def timedMaxTask(body: => Long): (Double, Long, Long) = {
      val maxMs = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskInfo != null)
            maxMs.getAndAccumulate(te.taskInfo.duration, math.max(_, _))
      }
      spark.sparkContext.addSparkListener(l)
      val (sec, rows) = time(body)
      Thread.sleep(500) // listener bus is async; let task-end events drain
      spark.sparkContext.removeSparkListener(l)
      (sec, maxMs.get, rows)
    }

    section("tpch") {
      println("== TPC-H heavy hitters vs fact-table scale ==")
      println(f"${"mult"}%-6s${"query"}%-8s${"sec"}%8s${"rows"}%10s")
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = s"/tmp/graft_amp_$mult"
            amplifyToDir(spark, src, d, mult)
            d
          }
        // warm-up pass (codegen + footers), then measured
        for (q <- heavy) {
          try SparkEntry.queries(q)(spark, dir).count()
          catch { case _: Throwable => () }
          val (sec, rows) = time(SparkEntry.queries(q)(spark, dir).count())
          println(f"$mult%-6d$q%-8s$sec%8.2f$rows%10d")
        }
      }
    }

    section("pipeline") {
      println("== LLM-pipeline ops vs corpus scale ==")
      val pipelineOps = Seq("dedup_minhash_lsh", "dedup_simhash_pairs",
        "dedup_clusters", "sim_ann_lsh", "sim_cosine_topk", "sim_ivf_topk",
        "sim_ivf_kmeans", "dedup_incremental", "pipeline_decontaminate",
        "pipeline_pack_sequences", "pipeline_bpe_merges",
        "pipeline_bpe_encode",
        "text_repetition", "text_unigram_lm", "text_pii_redact",
        "text_heavy_hitters", "sim_quantize_int8",
        "dedup_passages", "text_quality_classifier", "sample_temperature",
        "dedup_keep_best", "text_winnow_fingerprint", "pipeline_curate",
        "dedup_within_doc", "sample_shuffle", "text_repeated_ngrams",
        "dedup_spans", "dedup_keep_best_store", "sim_semantic_dedup",
        "text_bm25_topk", "pipeline_dsir_select",
        "text_gopher_rules", "text_perplexity_buckets", "sim_rp_topk",
        // stats_quantiles_rank reads LINEITEM — it ladders in the tpch
        // section's amplified dirs, never the corpus ones
        "sim_pq_topk", "dedup_source_overlap", "pipeline_chunk_documents",
        "text_lm_store_score", "sim_hard_negatives",
        // r10 entries: bounded-heap quota, LSH/chunk containment,
        // query-table BM25, clustered recall gate
        "sample_source_quota", "dedup_containment_lsh_md5",
        "dedup_containment_chunk_lsh_md5", "text_bm25_queries",
        "sim_ann_recall_clustered", "text_vocab_growth",
        "text_bigram_fluency", "pipeline_corpus_diff", "sample_exact_k",
        "pipeline_subword_vocab", "pipeline_subword_stats",
        "export_manifest", "sketch_source_quantiles",
        // r12-late entries: distributional + content drift, profiler
        // (events_drift ladders with the events section's dirs — the
        // corpus amplifier writes no events.parquet)
        "pipeline_drift_psi", "embeddings_drift", "profile_columns",
        "text_heavy_hitter_churn", "text_source_signature",
        // r13: the all-integer per-bin drift diagnostics (same
        // hash-agg shape as the scored entries — expected flat)
        "pipeline_drift_bins", "embeddings_drift_bins",
        // r15: suffix-ranking exact-substring dedup (packed doubling)
        // + its gram-count-store ingest path (probe cost ∝ delta)
        "dedup_exact_substring", "dedup_exact_substring_store",
        // r16: the rerank stage — expected cost = retrieval's slope
        // (shared corpus scan) + a FLAT rerank term (candidate page is
        // query-load-sized, independent of corpus scale)
        "text_bm25_rerank",
        // r17: the model scorer over the same plumbing — same slope
        // expected (the scorer is a row-local dot product) — and the
        // positional-index path (store ensured per corpus; the probe
        // itself touches only wb-pruned index buckets)
        "text_bm25_rerank_model", "text_bm25_rerank_index")
        .filter(q => opsFilter.forall(_.contains(q)))
      println(f"${"mult"}%-6s${"query"}%-22s${"sec"}%8s${"rows"}%10s")
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        for (q <- pipelineOps) {
          try SparkEntry.queries(q)(spark, dir).count()
          catch { case _: Throwable => () }
          Bench.gcSettle()
          val (sec, rows) = time(SparkEntry.queries(q)(spark, dir).count())
          println(f"$mult%-6d$q%-22s$sec%8.2f$rows%10d")
        }
      }
    }

    section("lloyd") {
      // per-round cost must stay FLAT as iters grows: before the
      // per-round codebook checkpoint, round i replayed assignments
      // 1…i−1 over the corpus (quadratic corpus passes in iters)
      println("== IVF k-means: total sec vs Lloyd iterations ==")
      println(f"${"iters"}%-7s${"sec"}%8s${"sec/iter"}%10s")
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      for (iters <- Seq(2, 4, 8, 16)) {
        graft.operators.Similarity
          .ivfKmeansTopK(emb, iters = iters).count() // warm-up
        val (sec, _) = time(graft.operators.Similarity
          .ivfKmeansTopK(emb, iters = iters).count())
        println(f"$iters%-7d$sec%8.2f${sec / iters}%10.3f")
      }
    }

    section("ccchain") {
      // adversarial long-chain graphs: star contraction must converge
      // in O(log n) rounds where min-label propagation needs n
      println("== Connected components: rounds vs chain length ==")
      println(f"${"n"}%-9s${"rounds"}%7s${"sec"}%8s")
      for (n <- Seq(1000L, 10000L, 100000L, 1000000L)) {
        val edges = spark.range(0L, n - 1, 1L, 32)
          .select(col("id").as("d1"), (col("id") + 1L).as("d2"))
        val nodes = spark.range(0L, n, 1L, 32).select(col("id").as("node"))
        val t0 = System.nanoTime()
        val (lbl, rounds) = graft.operators.Dedup.ccWithRounds(
          edges.toDF(), nodes.toDF(), maxIter = 60)
        val distinctLbls = lbl.select("lbl").distinct().count()
        val sec = (System.nanoTime() - t0) / 1e9
        require(distinctLbls == 1L, s"chain split into $distinctLbls labels")
        println(f"$n%-9d$rounds%7d$sec%8.2f")
      }
    }

    section("incstore") {
      // per-batch cost must stay ~flat as the persisted base grows:
      // the base side is a column-pruned parquet read of stored
      // signatures (no shingle/md5 recompute), and amplified copies
      // are alphabet-permuted so bucket occupancy doesn't grow by
      // construction — growth here would mean the join rescans or
      // recomputes the base
      println("== Store-backed incremental dedup vs base-corpus size ==")
      println(f"${"mult"}%-6s${"store_write_s"}%14s${"batch_s"}%9s${"rows"}%8s")
      val delta = spark.read.parquet(s"$src/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val base = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 =!= 0)
        val store = s"/tmp/graft_sigstore_scale_p1_$mult"
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val (wsec, _) = time {
          if (!fs.exists(new org.apache.hadoop.fs.Path(store)))
            graft.operators.Dedup.writeSignatureStore(base, store)
          1L
        }
        graft.operators.Dedup.incrementalLshStore(store, delta).count()
        val (sec, rows) = time(
          graft.operators.Dedup.incrementalLshStore(store, delta).count())
        println(f"$mult%-6d$wsec%14.2f$sec%9.2f$rows%8d")
      }
    }

    section("clustermap") {
      // the cluster-map store family's append path: folding a fixed
      // delta into the persisted map must cost delta + touched
      // components, independent of how large the clustered base has
      // grown (amplified copies are alphabet-permuted, so the delta
      // touches the SAME components at every mult — growth here would
      // mean the append re-clusters or rescans the base quadratically;
      // the narrow map/signature scans are the only O(base) terms)
      println("== Incremental cluster-map append vs base-corpus size ==")
      println(f"${"mult"}%-6s${"map_build_s"}%12s${"append_s"}%10s${"rows"}%9s")
      val delta = spark.read.parquet(s"$src/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val conf = spark.sparkContext.hadoopConfiguration
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val base = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 =!= 0)
        val sigStore = s"/tmp/graft_clmaprung_sigs_p1_$mult"
        val baseMap = s"/tmp/graft_clmaprung_map_p1_$mult"
        if (!fs.exists(new org.apache.hadoop.fs.Path(sigStore)))
          graft.operators.Dedup.writeSignatureStore(base, sigStore)
        val (bsec, _) = time {
          if (!fs.exists(new org.apache.hadoop.fs.Path(baseMap)))
            graft.operators.Dedup.writeClusterMap(base, baseMap)
          1L
        }
        // append MUTATES its map: measure against a scratch copy so
        // the rung is re-runnable (copy cost excluded — a production
        // append works in place)
        val scratch = s"/tmp/graft_clmaprung_scratch_$mult"
        def freshScratch(): Unit = {
          fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
          org.apache.hadoop.fs.FileUtil.copy(fs,
            new org.apache.hadoop.fs.Path(baseMap), fs,
            new org.apache.hadoop.fs.Path(scratch), false, conf)
        }
        freshScratch()
        graft.operators.Dedup.appendToClusterMap(scratch, sigStore, delta)
        freshScratch()
        val (sec, _) = time {
          graft.operators.Dedup.appendToClusterMap(scratch, sigStore, delta)
          1L
        }
        val rows = graft.operators.Dedup
          .readClusterMap(spark, scratch).count()
        println(f"$mult%-6d$bsec%12.2f$sec%10.2f$rows%9d")
      }
    }

    section("ctstore") {
      // the containment store's ingest loop: per-batch PROBE (delta
      // whole-doc signatures vs the stored chunk index + exact verify
      // against stored shingle hashes) and APPEND (fold the delta's
      // chunk/shingle/size frames in) must stay free of base-side
      // COMPUTE as the base grows — remaining growth is column-pruned
      // store scans only (the incrementalLshStore story)
      println("== Containment store: per-batch probe/append vs base scale ==")
      println(f"${"mult"}%-6s${"build(s)"}%10s${"probe(s)"}%10s" +
        f"${"append(s)"}%11s${"rows"}%9s")
      val ctDelta = spark.read.parquet(s"$src/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val base = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 =!= 0)
        val store = s"/tmp/graft_ctstore_rung_p1_$mult"
        val (bsec, _) = time {
          if (!fs.exists(new org.apache.hadoop.fs.Path(s"$store/_SUCCESS")))
            graft.operators.Dedup.writeContainmentStore(base, store)
          1L
        }
        // warm-up, then measured probe
        graft.operators.Dedup.containmentFromStore(store, ctDelta).count()
        Bench.gcSettle()
        val (psec, rows) = time(
          graft.operators.Dedup.containmentFromStore(store, ctDelta).count())
        // measured append, then sweep the new batch dirs so the store
        // stays base-only and the rung is re-runnable (a production
        // append keeps them — the sweep is bookkeeping, not workload)
        def batchDirs(sub: String): Set[String] =
          fs.listStatus(new org.apache.hadoop.fs.Path(s"$store/$sub"))
            .map(_.getPath.getName).toSet
        val subs = Seq("chunks", "shingles", "sizes")
        val before = subs.map(s => s -> batchDirs(s)).toMap
        Bench.gcSettle()
        val (asec, _) = time {
          graft.operators.Dedup.appendToContainmentStore(ctDelta, store)
          1L
        }
        for (s <- subs; d <- batchDirs(s) -- before(s))
          fs.delete(new org.apache.hadoop.fs.Path(s"$store/$s/$d"), true)
        println(f"$mult%-6d$bsec%10.2f$psec%10.2f$asec%11.2f$rows%9d")
      }
    }

    section("ingestloop") {
      // the COMPOSED per-batch maintenance loop (IngestLoop.runBatch:
      // cluster-map append → signature append → export append) must
      // stay flat as the base corpus grows — each family's measured
      // flat-append law has to survive COMPOSITION (shared session,
      // shared shuffle budget). The keep-best REFRESH is reported
      // separately: it aggregates the whole map by definition
      // (consumer-cadence work, not ingest-cadence), so its column is
      // EXPECTED to grow linearly with base — flat batch(s) next to a
      // growing refresh(s) is the designed split.
      println("== Composed ingest loop: per-batch cost vs base scale ==")
      println(f"${"mult"}%-6s${"build(s)"}%10s${"batch(s)"}%10s" +
        f"${"refresh(s)"}%11s${"rows"}%9s")
      val delta = spark.read.parquet(s"$src/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val conf = spark.sparkContext.hadoopConfiguration
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val docsAll = spark.read.parquet(s"$dir/documents.parquet")
        val base = docsAll.filter(col("doc_id") % 3 =!= 0)
        val root = s"/tmp/graft_iloop_rung_p2_$mult"
        val (bsec, _) = time {
          if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_SUCCESS"))) {
            graft.operators.Dedup.writeSignatureStore(base, s"$root/sigs")
            graft.operators.Dedup.writeClusterMap(base, s"$root/map")
            graft.sources.TrainingExport.exportShards(base,
              s"$root/export", shards = 16, waves = 2)
            graft.operators.SearchIndex.writeIndexStore(base,
              s"$root/index")
            graft.operators.Profiling.writeProfileStore(base,
              s"$root/profile")
            fs.create(new org.apache.hadoop.fs.Path(s"$root/_SUCCESS"),
              true).close()
          }
          1L
        }
        // the loop MUTATES all three artifacts: measure against a
        // scratch copy so the rung is re-runnable (copy excluded — a
        // production loop works in place)
        val scratch = s"/tmp/graft_iloop_scratch_$mult"
        def freshScratch(): Unit = {
          fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
          org.apache.hadoop.fs.FileUtil.copy(fs,
            new org.apache.hadoop.fs.Path(root), fs,
            new org.apache.hadoop.fs.Path(scratch), false, conf)
        }
        // FIVE artifacts per batch since r12-late (index + profile
        // ride along) — the flat-in-base claim covers the full loop
        def run(): Boolean = graft.operators.IngestLoop.runBatch(
          s"$scratch/map", s"$scratch/sigs", s"$scratch/export",
          delta, batchId = 0L,
          indexPath = Some(s"$scratch/index"),
          profilePath = Some(s"$scratch/profile"))
        freshScratch(); run() // warm-up
        freshScratch(); Bench.gcSettle()
        val (sec, _) = time { require(run(), "batch skipped"); 1L }
        Bench.gcSettle()
        val (rsec, rows) = time(graft.operators.Dedup
          .keepBestFromStore(docsAll, s"$scratch/map").count())
        println(f"$mult%-6d$bsec%10.2f$sec%10.2f$rsec%11.2f$rows%9d")
      }
    }

    section("clustermap_compact") {
      // overlay ACCUMULATION: eight sequential disjoint delta batches
      // into one persisted map. Claims measured: (a) per-append cost
      // stays flat as overlays stack (each append reads latest-wins
      // over k overlays — overlay-sized work); (b) the latest-wins
      // read cost grows only mildly with overlay count (broadcast
      // anti-join path — the base never shuffles); (c) compaction
      // returns the read to the fresh-base time and the applied
      // ledger keeps every batch's replay guard.
      println("== Cluster map: 8-batch overlay accumulation + compaction ==")
      val docsAll = spark.read.parquet(s"$src/documents.parquet")
      val base = docsAll.filter(col("doc_id") % 24 >= 8)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val conf = spark.sparkContext.hadoopConfiguration
      val root = "/tmp/graft_clcomp_rung_p1"
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_SUCCESS"))) {
        graft.operators.Dedup.writeSignatureStore(base, s"$root/sigs")
        graft.operators.Dedup.writeClusterMap(base, s"$root/map")
        fs.create(new org.apache.hadoop.fs.Path(s"$root/_SUCCESS"), true)
          .close()
      }
      val scratch = "/tmp/graft_clcomp_scratch"
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(root), fs,
        new org.apache.hadoop.fs.Path(scratch), false, conf)
      def readTime(): Double = {
        Bench.gcSettle()
        val (s, _) = time(graft.operators.Dedup
          .readClusterMap(spark, s"$scratch/map").count())
        s
      }
      println(f"${"batch"}%-7s${"append_s"}%9s")
      for (k <- 0 until 8) {
        val delta = docsAll.filter(col("doc_id") % 24 === k)
        Bench.gcSettle()
        val (s, _) = time {
          graft.operators.Dedup.appendToClusterMap(s"$scratch/map",
            s"$scratch/sigs", delta)
          graft.operators.Dedup.appendToSignatureStore(delta,
            s"$scratch/sigs")
          1L
        }
        println(f"$k%-7d$s%9.2f")
      }
      val r8 = readTime()
      val folded = graft.operators.Dedup.compactClusterMap(spark,
        s"$scratch/map")
      val r0 = readTime()
      println(f"read with 8 overlays: $r8%6.2f s; after compaction " +
        f"($folded folded): $r0%6.2f s")
    }

    section("incstore_compact") {
      // the ingest loop appends one file set per batch per band; after
      // ~50 small appends the store scan pays 50× the file open /
      // footer cost per band and the per-batch gate creeps even
      // though signing cost is flat. compactSignatureStore rewrites
      // fat band dirs; the gate must return to the fresh-store time.
      println("== Store-backed batch gate vs append count + compaction ==")
      val docsAll = spark.read.parquet(s"$src/documents.parquet")
      val delta = docsAll.filter(col("doc_id") % 3 === 0)
      val base = docsAll.filter(col("doc_id") % 3 =!= 0)
      val store = "/tmp/graft_sigstore_compact_rung"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      graft.operators.Dedup.writeSignatureStore(
        base.filter(col("doc_id") % 500 >= 50), store)
      def gate(): Double = {
        graft.operators.Dedup.incrementalLshStore(store, delta).count()
        val (s1, _) = time(graft.operators.Dedup
          .incrementalLshStore(store, delta).count())
        val (s2, _) = time(graft.operators.Dedup
          .incrementalLshStore(store, delta).count())
        math.min(s1, s2)
      }
      def files(): Int = fs.listStatus(new org.apache.hadoop.fs.Path(store))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("band="))
        .map(d => fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))).sum
      println(f"${"state"}%-22s${"files"}%7s${"batch_s"}%9s")
      println(f"${"fresh"}%-22s${files()}%7d${gate()}%9.2f")
      for (k <- 0 until 50)
        graft.operators.Dedup.appendToSignatureStore(
          base.filter(col("doc_id") % 500 === k), store)
      println(f"${"after 50 appends"}%-22s${files()}%7d${gate()}%9.2f")
      val nc = graft.operators.Dedup.compactSignatureStore(spark, store)
      println(f"${s"compacted ($nc bands)"}%-22s${files()}%7d${gate()}%9.2f")
    }

    section("megabucket") {
      // adversarial degenerate-bucket fixture: one boilerplate string
      // repeated n times on top of the normal sf0.1 corpus — every
      // LSH band bucket for it holds all n copies, the web-corpus
      // pathology (templates/empty texts) that made the unguarded
      // band self-join emit n²/2 pairs on one shuffle key. With the
      // occupancy guard (cap=DefaultBucketCap) candidates grow
      // LINEARLY in n: n−1 star edges + the flat ambient pair set.
      // The unguarded mode is run once at the smallest n as the
      // quadratic baseline (≈n²/2 pairs).
      println("== LSH mega-bucket guard: candidates vs boilerplate copies ==")
      println(f"${"boilerN"}%-9s${"mode"}%-11s${"sec"}%8s${"pairs"}%12s")
      val corpus = spark.read.parquet(s"$src/documents.parquet")
        .select("doc_id", "text")
      for (n <- Seq(1000L, 4000L, 10000L)) {
        val boiler = spark.range(0L, n, 1L, 32)
          .select((col("id") + 1000000000L).as("doc_id"),
            lit("standard legal footer boilerplate repeated verbatim " +
              "across every page of the web corpus").as("text"))
        val df = corpus.unionAll(boiler)
        val modes: Seq[(String, Int)] =
          if (n == 1000L)
            Seq("guarded" -> graft.operators.Dedup.DefaultBucketCap,
              "unguarded" -> Int.MaxValue)
          else Seq("guarded" -> graft.operators.Dedup.DefaultBucketCap)
        for ((label, cap) <- modes) {
          graft.operators.Dedup.minHashLsh(df, bucketCap = cap).count()
          val (sec, rows) = time(
            graft.operators.Dedup.minHashLsh(df, bucketCap = cap).count())
          println(f"$n%-9d$label%-11s$sec%8.2f$rows%12d")
        }
      }
    }

    section("bloomgate") {
      // ingest-gate economics: a Bloom filter over the base keys
      // routes definitely-new delta docs AWAY from the exact join, so
      // the join's delta side shrinks to the suspected slice (true
      // dups + fpp stragglers) — verdicts identical by construction
      // (spec + oracle). The structural number that matters at 100 TB
      // is the suspect fraction: that is the factor by which the
      // per-batch join input (and its shuffle) shrinks.
      println("== Bloom ingest gate: suspected slice vs corpus size ==")
      println(f"${"mult"}%-6s${"delta"}%9s${"suspect"}%9s${"plain_s"}%9s" +
        f"${"bloom_s"}%9s")
      import graft.functions.{BloomGate, TextFunctions}
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val docsAll = spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "text")
        val fp = docsAll.select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        val baseFp = fp.filter(col("doc_id") % 3 =!= 0)
        val deltaFp = fp.filter(col("doc_id") % 3 === 0)
        val nDelta = deltaFp.count()
        val bloom = BloomGate.build(baseFp.select(col("fp")), col("fp"),
          baseFp.count(), 0.01)
        val suspect = deltaFp.filter(
          BloomGate.mightContain(bloom, col("fp"))).count()
        def plain(): Long = deltaFp.join(
          baseFp.groupBy("fp").agg(min("doc_id").as("fs")),
          Seq("fp"), "left").count()
        plain()
        val (psec, _) = time(plain())
        graft.operators.Dedup.incrementalExactBloom(docsAll).count()
        val (bsec, _) = time(
          graft.operators.Dedup.incrementalExactBloom(docsAll).count())
        println(f"$mult%-6d$nDelta%9d$suspect%9d$psec%9.2f$bsec%9.2f")
      }
      // the LSH signature-store gate: same store, probed through the
      // sidecar — delta band rows with no possible base bucket-mates
      // never enter the band join
      println(f"${"mult"}%-6s${"ungated_s"}%10s${"gated_s"}%9s${"rows"}%8s")
      val delta = spark.read.parquet(s"$src/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else ampCorpusDir(mult)
        val base = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 =!= 0)
        val store = s"/tmp/graft_sigstore_scale_p1_$mult"
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(new org.apache.hadoop.fs.Path(store)))
          graft.operators.Dedup.writeSignatureStore(base, store)
        graft.operators.Dedup.ensureStoreBloom(spark, store) // sidecar upgrade
        graft.operators.Dedup.incrementalLshStore(store, delta).count()
        val (usec, _) = time(
          graft.operators.Dedup.incrementalLshStore(store, delta).count())
        graft.operators.Dedup.incrementalLshStoreBloom(store, delta).count()
        val (gsec, rows) = time(
          graft.operators.Dedup.incrementalLshStoreBloom(store, delta).count())
        println(f"$mult%-6d$usec%10.2f$gsec%9.2f$rows%8d")
      }
    }

    section("sketchstore") {
      // the sketch-store law at 100 TB: per-append cost is the BATCH's
      // aggregation plus a dictionary-sized (≤|sources| rows) merge +
      // republish — independent of how much corpus the stored sketches
      // already summarize. Delta held constant while the summarized
      // base grows 1× → 64×; the estimate report must stay
      // milliseconds (KB-sized store read, no corpus access).
      println("== HLL sketch store: fixed-delta append vs summarized base ==")
      println(f"${"mult"}%-6s${"write_s"}%9s${"append_s"}%10s${"report_s"}%10s")
      val deltaDocs = spark.read.parquet(s"$src/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val base = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 =!= 0)
        val store = s"/tmp/graft_sketchstore_scale_$mult"
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        // fresh store per run: wsec must measure the BUILD, and the
        // un-stamped warm-up append below would otherwise accumulate
        // the delta's additive n_tokens run over run
        fs.delete(new org.apache.hadoop.fs.Path(store), true)
        val (wsec, _) = time {
          graft.operators.Sketches.writeSketchStore(base, store)
          1L
        }
        graft.operators.Sketches.appendToSketchStore(store, deltaDocs)
        val (asec, _) = time {
          graft.operators.Sketches.appendToSketchStore(store, deltaDocs); 1L
        }
        graft.operators.Sketches.estimateStore(spark, store).count()
        val (rsec, _) = time(
          graft.operators.Sketches.estimateStore(spark, store).count())
        println(f"$mult%-6d$wsec%9.2f$asec%10.2f$rsec%10.2f")
      }
    }

    section("exportstore") {
      // the export's scale law: write cost ~linear in corpus (waves×
      // scans + hash shuffle + per-task sorts), re-run of a completed
      // export a no-op, manifest read KB-sized regardless of corpus
      println("== Training-shard export: write / no-op / manifest vs corpus ==")
      println(f"${"mult"}%-6s${"write_s"}%9s${"noop_s"}%9s${"manifest_s"}%11s")
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val path = s"/tmp/graft_export_scale_$mult"
        org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(path), true)
        val (wsec, _) = time {
          graft.sources.TrainingExport.exportShards(docs, path); 1L }
        val (nsec, _) = time {
          graft.sources.TrainingExport.exportShards(docs, path); 1L }
        val (msec, _) = time(
          graft.sources.TrainingExport.readManifest(spark, path).count())
        println(f"$mult%-6d$wsec%9.2f$nsec%9.2f$msec%11.2f")
      }
    }

    section("semdedup") {
      // SemDeDup's cost law: the quadratic step is the within-cell
      // self-join — Σ occupancy² ≈ n·occ candidate cosines — so CELL
      // COUNT is the knob a 100 TB run raises ∝ corpus (the paper ran
      // 50k cells). Two sweeps prove it: the same corpus under more
      // cells (cost falls with occupancy), and a 16× corpus at
      // CONSTANT occupancy (cost grows ~linearly, never corpus²).
      // semanticDedup is eager (CC fixpoint), so timing wraps
      // construction.
      println("== Semantic dedup: cost vs cell occupancy ==")
      println(f"${"n"}%-8s${"cells"}%7s${"occ"}%7s${"sec"}%8s${"dropped"}%9s")
      def synth(n: Long): DataFrame = spark.range(0L, n, 1L, 32)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), j -> " +
            "CAST(CAST(xxhash64(id, j) % 1000 AS DOUBLE) / 1000.0 AS FLOAT))")
            .as("embedding"))
      def run(n: Long, cells: Int): Long =
        graft.operators.Similarity
          .semanticDedup(synth(n), cells = cells, iters = 1, tau = 0.3)
          .filter(!col("keep")).count()
      for ((n, cells) <- Seq((8000L, 8), (8000L, 32), (8000L, 128),
          (2000L, 8), (32000L, 128))) {
        run(n, cells)
        val (sec, dropped) = time(run(n, cells))
        println(f"$n%-8d$cells%7d${n / cells}%7d$sec%8.2f$dropped%9d")
      }
      // degenerate mass: 8000 distinct + 8000 IDENTICAL boilerplate
      // embeddings. The exact-dup collapse keeps the self-join at the
      // distinct set, so cost stays near the plain 8000-row rung
      // instead of paying an occupancy-8000 cell (32M pairs).
      val boiler = spark.range(8000L, 16000L, 1L, 32)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), j -> CAST(0.5 AS FLOAT))")
            .as("embedding"))
      def runBoiler(): Long = graft.operators.Similarity
        .semanticDedup(synth(8000L).unionAll(boiler),
          cells = 32, iters = 1, tau = 0.3)
        .filter(!col("keep")).count()
      runBoiler()
      val (bsec, bdropped) = time(runBoiler())
      println(f"${"8000+8k dup mass"}%-22s${32}%7d$bsec%8.2f$bdropped%9d")
    }

    section("seminc") {
      // the store property: per-ingest cost must be ~independent of
      // BASE size (delta held constant while the persisted index
      // grows 1× → 16×). Cell count scales with the base (constant
      // occupancy — the semdedup knob), so the within-cell verify per
      // delta vector stays flat.
      println("== Incremental semantic dedup: fixed delta vs growing base ==")
      println(f"${"base_n"}%-9s${"cells"}%7s${"sec"}%8s${"dups"}%7s")
      def synthV(lo: Long, hi: Long): DataFrame =
        spark.range(lo, hi, 1L, 32)
          .select(col("id").as("vec_id"),
            expr("transform(sequence(0, 63), j -> " +
              "CAST(CAST(xxhash64(id, j) % 1000 AS DOUBLE) / 1000.0 AS FLOAT))")
              .as("embedding"), lit(0).as("label"))
      val delta = synthV(10000000L, 10002000L)
      for ((n, cells) <- Seq((4000L, 8), (16000L, 32), (64000L, 128))) {
        val store = s"/tmp/graft_semstore_ladder_${n}_$cells"
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        if (!graft.operators.Similarity.isCompleteSemanticStore(fs, store))
          graft.operators.Similarity.writeSemanticStore(
            synthV(0L, n), store, cells = cells, iters = 1)
        def run(): Long = graft.operators.Similarity
          .semanticDedupIncremental(store, delta, tau = 0.3)
          .filter(col("is_dup")).count()
        run()
        Bench.gcSettle()
        val (sec, dups) = time(run())
        println(f"$n%-9d$cells%7d$sec%8.2f$dups%7d")
      }
      // the pruning payoff: a CLUSTERED batch (every vector near one
      // centroid → one touched cell) against the biggest store, with
      // the literal cell IN-filter on vs off — pruned reads 1/cells
      // of the partitions
      println("== clustered 200-vec batch vs 64k store: pruned vs full scan ==")
      val one = spark.range(0L, 200L, 1L, 8)
        .select((col("id") + 20000000L).as("vec_id"),
          expr("transform(sequence(0, 63), j -> " +
            "CAST(CASE WHEN j = 0 THEN 1.0 + CAST(id % 97 AS DOUBLE) / 1e6 " +
            "ELSE 0.0 END AS FLOAT))").as("embedding"),
          lit(0).as("label"))
      val bigStore = "/tmp/graft_semstore_ladder_64000_128"
      def runP(prune: Boolean): Long = graft.operators.Similarity
        .semanticDedupIncremental(bigStore, one, tau = 0.3,
          pruneCells = prune).count()
      runP(true); Bench.gcSettle()
      val (ps, _) = time(runP(true))
      Bench.gcSettle()
      val (fs2, _) = time(runP(false))
      println(f"${"pruned"}%-9s$ps%8.2f   ${"full"}%-7s$fs2%8.2f")

      // append drift → rebuild closure (r10): frozen-codebook appends
      // concentrate a clustered ingest into ONE cell; the periodic
      // rebuildSemanticStore re-trains and restores occupancy balance
      // (max/avg cell occupancy is the drift signal a production
      // deployment alarms on)
      println("== append drift vs rebuild: max/avg cell occupancy ==")
      val driftStore = "/tmp/graft_semstore_drift_r10"
      org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(driftStore), true)
      graft.operators.Similarity.writeSemanticStore(
        synthV(0L, 16000L), driftStore, cells = 32, iters = 1)
      def occImbalance(): (Long, Double) = {
        val r = spark.read.parquet(driftStore + "/vectors")
          .groupBy("cell").count()
          .agg(max("count").as("mx"), avg("count").as("av"))
          .collect().head
        (r.getLong(0), r.getLong(0) / r.getDouble(1))
      }
      val (m0, i0) = occImbalance()
      // 3000 vectors from a NEW dense region (dominant dim-0 component
      // + genuine internal spread, so the region is splittable — 3000
      // copies of one point would be unsplittable by any k-means);
      // under the frozen codebook they pile into whichever old cell is
      // nearest, kept because nothing matches the isotropic base
      val clusteredBatch = spark.range(0L, 3000L, 1L, 8)
        .select((col("id") + 30000000L).as("vec_id"),
          expr("transform(sequence(0, 63), j -> " +
            "CAST(CASE WHEN j = 0 THEN 10.0 " +
            "ELSE CAST(xxhash64(id, j) % 1000 AS DOUBLE) / 1000.0 " +
            "END AS FLOAT))").as("embedding"),
          lit(0).as("label"))
      graft.operators.Similarity.appendToSemanticStore(
        driftStore, clusteredBatch, tau = 0.999)
      val (m1, i1) = occImbalance()
      val t0r = System.nanoTime()
      graft.operators.Similarity.rebuildSemanticStore(
        spark, driftStore, cells = 32, iters = 3)
      val rebSec = (System.nanoTime() - t0r) / 1e9
      val (m2, i2) = occImbalance()
      println(f"${"fresh"}%-9s max=$m0%-6d max/avg=$i0%5.2f")
      println(f"${"drifted"}%-9s max=$m1%-6d max/avg=$i1%5.2f")
      println(f"${"rebuilt"}%-9s max=$m2%-6d max/avg=$i2%5.2f  " +
        f"(rebuild $rebSec%.2f s)")
    }

    section("globalrank") {
      // exact global rank: the range-sharded kernel vs the naive
      // unpartitioned window (row_number over a global order funnels
      // the whole frame through ONE reducer task — WindowExec requires
      // a single partition when partitionBy is empty). The kernel's
      // wall clock should scale ~linearly with balanced shards; the
      // window's single task is both the wall clock AND the max-task
      // straggler.
      println("== Global rank: range-sharded kernel vs single-reducer window ==")
      println(f"${"n"}%-10s${"kernel_s"}%9s${"window_s"}%9s")
      for (n <- Seq(1000000L, 4000000L, 16000000L)) {
        val df = spark.range(0L, n, 1L, 32)
          .select(col("id"), (col("id") * 2654435761L % 1000003L).as("v"))
        def kernel(): Long = graft.operators.Kernels
          .globalRank(df, Seq(col("v"), col("id")), "rnk")
          .agg(max("rnk")).collect().head.getLong(0)
        def window(): Long = {
          import org.apache.spark.sql.expressions.Window
          df.withColumn("rnk", row_number().over(
              Window.orderBy(col("v"), col("id"))).cast("bigint"))
            .agg(max("rnk")).collect().head.getLong(0)
        }
        kernel(); Bench.gcSettle()
        val (ks, kr) = time(kernel())
        Bench.gcSettle()
        val (ws, wr) = time(window())
        require(kr == n && wr == n, s"rank mismatch: $kr / $wr vs $n")
        println(f"$n%-10d$ks%9.2f$ws%9.2f")
      }
    }

    section("giantcluster") {
      // the r8 `weak`: cluster RESOLUTION rode row_number/count
      // windows partitioned on cluster_id — a giant duplicate
      // component (the guaranteed shape of a web corpus: chained
      // boilerplate near-dups) lands on ONE window reducer task that
      // AQE cannot split. r9 replaced the windows with partial-
      // aggregatable max_by/count aggregates; this rung injects a
      // single giant cluster over the ambient corpus and compares the
      // agg path against the old window formulation. The number that
      // matters is max-task time: the agg's stays flat as the
      // component grows (map-side partials split it), the window's
      // grows linearly with the component.
      println("== Giant-cluster resolution: agg (r9) vs window (r8) ==")
      val corpus = spark.read.parquet(s"$src/documents.parquet")
        .select("doc_id", "text")
      def windowKeepBest(docs: DataFrame, clusters: DataFrame): Long = {
        // the r8 formulation, kept here as the straggler baseline
        val scores = graft.operators.QualitySignals.qualityScore(docs)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id")
          .orderBy(col("score").desc, col("doc_id").asc)
        clusters.join(scores.hint("shuffle_hash"), "doc_id")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("cluster_id"), col("cluster_size"),
            col("doc_id").as("kept_doc"), col("score").as("kept_score"))
          .count()
      }
      println(f"${"giantN"}%-9s${"mode"}%-8s${"sec"}%8s${"maxtask_ms"}%11s" +
        f"${"rows"}%9s")
      var lastClusters: DataFrame = null
      for (n <- Seq(100000L, 400000L, 1600000L)) {
        val giant = spark.range(0L, n, 1L, 32)
          .select((col("id") + 2000000000L).as("doc_id"),
            concat(lit("chained boilerplate near duplicate variant "),
              (col("id") % 977).cast("string")).as("text"))
        val docs = corpus.unionAll(giant)
        val clusters = corpus.select(col("doc_id"),
            col("doc_id").as("cluster_id"), lit(1L).as("cluster_size"))
          .unionAll(giant.select(col("doc_id"),
            lit(2000000000L).as("cluster_id"), lit(n).as("cluster_size")))
        lastClusters = clusters
        val modes: Seq[(String, () => Long)] = Seq(
          "agg" -> (() => graft.operators.Dedup
            .keepBestFromClusters(docs, clusters, sampleMod = 1).count()),
          "window" -> (() => windowKeepBest(docs, clusters)))
        for ((label, f) <- modes) {
          f() // warm-up
          val (sec, maxMs, rows) = timedMaxTask(f())
          println(f"$n%-9d$label%-8s$sec%8.2f$maxMs%11d$rows%9d")
        }
      }
      // observability: the component-size histogram + cap guard a
      // production run would log before resolution
      println("component-size histogram (largest rung):")
      graft.operators.Dedup.componentSizeHistogram(lastClusters)
        .collect().foreach(r => println(
          f"  log2=${r.getLong(0)}%-4d clusters=${r.getLong(1)}%-9d " +
            f"max=${r.getLong(2)}%d"))
      println(s"clusters over cap 10000: " + graft.operators.Dedup
        .oversizedClusterCount(lastClusters, 10000L))
    }

    section("giantsource") {
      // the r9 `weak`: sourceQuota rode a row_number window
      // partitioned on source — the dominant source of any real crawl
      // (one common-crawl dump, one giant domain) lands on ONE window
      // reducer task that AQE cannot split (skew mitigation splits
      // JOIN partitions, never window partitions). r10 replaced the
      // window with the BottomKByKey k-smallest-heap aggregate:
      // map-side partials carry ≤quota rows per (source, partition).
      // This rung injects a single source holding ~90%+ of the corpus
      // and compares agg vs window; the number that matters is
      // max-task time — the agg's stays flat as the hot source grows,
      // the window's grows linearly with it.
      println("== Giant-source quota: agg (r10) vs window (r9) ==")
      val corpusDocs = spark.read.parquet(s"$src/documents.parquet")
        .select("doc_id", "source", "n_chars")
      def windowQuota(docs: DataFrame, quota: Int): Long = {
        // the r9 formulation, kept here as the straggler baseline
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(graft.operators.Sampling
            .hashBucketFull("quo:", col("doc_id")), col("doc_id"))
        docs.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= quota)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), min("doc_id").as("min_doc"),
            max("doc_id").as("max_doc"), sum("n_chars").as("sum_chars"))
          .count()
      }
      // equivalence check once, at the smallest rung: agg ≡ window
      val smallGiant = spark.range(0L, 50000L, 1L, 32)
        .select((col("id") + 2000000000L).as("doc_id"),
          lit("giantsrc").as("source"), (col("id") % 997).as("n_chars"))
      val smallDocs = corpusDocs.unionAll(smallGiant)
      val aggRows = graft.operators.Sampling.sourceQuota(smallDocs)
        .collect().map(_.toString).sorted.toSeq
      val winRows = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(graft.operators.Sampling
            .hashBucketFull("quo:", col("doc_id")), col("doc_id"))
        smallDocs.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 20)
          .groupBy("source")
          .agg(count(lit(1)).cast("bigint").as("n_kept"),
            min("doc_id").as("min_doc"), max("doc_id").as("max_doc"),
            sum("n_chars").as("sum_chars"))
          .collect().map(_.toString).sorted.toSeq
      }
      require(aggRows == winRows,
        s"agg/window quota mismatch:\n$aggRows\n$winRows")
      println("equivalence agg == window: OK")
      println(f"${"giantN"}%-9s${"mode"}%-8s${"sec"}%8s${"maxtask_ms"}%11s" +
        f"${"rows"}%9s")
      for (n <- Seq(100000L, 400000L, 1600000L, 6400000L)) {
        val giant = spark.range(0L, n, 1L, 32)
          .select((col("id") + 2000000000L).as("doc_id"),
            lit("giantsrc").as("source"), (col("id") % 997).as("n_chars"))
        val docs = corpusDocs.unionAll(giant)
        val modes: Seq[(String, () => Long)] = Seq(
          "agg" -> (() => graft.operators.Sampling.sourceQuota(docs).count()),
          "window" -> (() => windowQuota(docs, 20)))
        for ((label, f) <- modes) {
          f() // warm-up
          val (sec, maxMs, rows) = timedMaxTask(f())
          println(f"$n%-9d$label%-8s$sec%8.2f$maxMs%11d$rows%9d")
        }
      }
    }

    section("events") {
      println("== Event-stream ops vs user-population scale ==")
      val eventOps = Seq("events_asof_join", "events_range_join",
        "events_sessionize", "events_sessionize_capped", "events_top_days",
        // r12 late; the amplifier's even event_id shift preserves the
        // drift split's parity
        "events_drift")
      println(f"${"mult"}%-6s${"query"}%-22s${"sec"}%8s${"rows"}%10s")
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = s"/tmp/graft_amp_events_$mult"
            amplifyEventsToDir(spark, src, d, mult)
            d
          }
        for (q <- eventOps) {
          try SparkEntry.queries(q)(spark, dir).count()
          catch { case _: Throwable => () }
          val (sec, rows) = time(SparkEntry.queries(q)(spark, dir).count())
          println(f"$mult%-6d$q%-22s$sec%8.2f$rows%10d")
        }
      }
    }

    section("svd") {
      println("== Tall-skinny SVD vs scale (k=16) ==")
      // up to the reference's 1M x 1k headline (svd_tall_skinny_matrix
      // .py:24-25): Gram-matrix path — cost is one pass + a cols^2
      // reduce (1k cols -> an 8 MB Gram, trivially driver-collectable)
      println(f"${"rows x cols"}%-14s${"sec"}%8s")
      for ((r, c) <- Seq((20000L, 64), (200000L, 256), (1000000L, 256),
          (1000000L, 1024))) {
        val (sec, _) = time {
          val m = new org.apache.spark.mllib.linalg.distributed.RowMatrix(
            graft.ml.MLParity.randomMatrix(spark, r, c, rowsPerBlock = 16384)
              .rows.map(_.vector))
          graft.ml.MLParity.svd(m, 16)
          1L
        }
        println(f"${s"${r}x$c"}%-14s$sec%8.2f")
      }
    }

    section("mlref") {
      println("== Reference-size ML exercises ==")
      // kmeans.py:22-29: make_blobs 10M samples (2 features by
      // default), 1M chunks, k=3 — X persisted before fit, mirrored
      // here (the fit is what's timed in both harnesses)
      locally {
        val df = spark.createDataFrame(
          graft.ml.MLParity.randomMatrix(spark, 10000000L, 2,
              rowsPerBlock = 1000000)
            .rows.map(r => Tuple1(
              org.apache.spark.ml.linalg.Vectors.dense(r.vector.toArray))))
          .toDF("features").persist()
        df.count()
        val (sec, _) = time { graft.ml.MLParity.kmeans(df, 3); 1L }
        println(f"${"kmeans 10Mx2 k=3"}%-26s$sec%8.2f")
        df.unpersist()
      }
      // parallelizing_svm.py:24-40: predict over 100M x 20 (sklearn
      // make_classification default n_features=20) in 5M chunks; the
      // reference's timed predict materializes the lazy random input,
      // so generation is billed into the timer here as well
      locally {
        // fit on a 1k-sample 20-feature set (sklearn
        // make_classification's defaults in parallelizing_svm.py:32);
        // the separating direction is the feature sum — enough to give
        // LinearSVC a real decision boundary to broadcast
        val train = spark.createDataFrame(
          graft.ml.MLParity.randomMatrix(spark, 1000L, 20,
              rowsPerBlock = 1000)
            .rows.map { r =>
              val a = r.vector.toArray
              (org.apache.spark.ml.linalg.Vectors.dense(a),
                if (a.sum > 0) 1.0 else 0.0)
            }).toDF("features", "label")
        val model = graft.ml.MLParity.fitSvc(train)
        val big = spark.createDataFrame(
          graft.ml.MLParity.randomMatrix(spark, 100000000L, 20,
              rowsPerBlock = 5000000)
            .rows.map(r => Tuple1(
              org.apache.spark.ml.linalg.Vectors.dense(r.vector.toArray))))
          .toDF("features")
        // aggregate OVER the prediction column: a bare count() lets
        // Catalyst prune the scoring UDF away and times nothing
        val (sec, n) = time {
          graft.ml.MLParity.parallelPredictSvc(big, model)
            .agg(count(col("prediction")), sum(col("prediction")))
            .collect().head.getLong(0)
        }
        println(f"${"svc_predict 100Mx20"}%-26s$sec%8.2f  rows=$n")
      }
      // svd_square_matrix.py:18-29: da.random 16k×16k in 4k chunks,
      // svd_compressed(k=5) — the randomized (Halko) SVD; one power
      // iteration like dask's default
      locally {
        val a = graft.ml.MLParity
          .randomBlockMatrix(spark, 16384, 4096, seed = 42L)
        a.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        a.blocks.count()
        val (sec, _) = time {
          val (_, sv, _) =
            graft.ml.MLParity.svdCompressed(a, k = 5, powerIters = 1)
          sv.length.toLong
        }
        println(f"${"svd_compressed 16kx16k k=5"}%-26s$sec%8.2f")
        a.blocks.unpersist()
      }
    }

    section("matmul") {
      // record WHICH BLAS backs the run on every execution slot (the
      // runOnExecutors env-probe use case): dev.ludovic.netlib loads
      // the OS libblas when present, silently falls back to Java —
      // the two differ ~10× in rate, so a ladder number without its
      // backend is meaningless
      // best-effort (non-barrier) probe: this runs unconditionally in
      // a shared session, where demanding every slot simultaneously
      // free could abort the whole ladder for a diagnostic label
      val blas = graft.api.Coordination
        .runOnExecutors(spark, requireAllSlots = false) { () =>
          dev.ludovic.netlib.blas.BLAS.getInstance().getClass.getSimpleName
        }
      println(s"== Block matmul (512-blocks; BLAS per executor: " +
        blas.map { case (e, b) => s"$e=$b" }.mkString(", ") + ") ==")
      println(f"${"n"}%-8s${"sec"}%8s${"gflops"}%10s")
      for (n <- matmulSizes) {
        val (sec, _) = time {
          val a = graft.ml.MLParity.randomBlockMatrix(spark, n, 512)
          val b = graft.ml.MLParity.randomBlockMatrix(spark, n, 512, seed = 7L)
          a.multiply(b).blocks.count()
        }
        val gflops = 2.0 * n.toDouble * n * n / sec / 1e9
        println(f"$n%-8d$sec%8.2f$gflops%10.2f")
      }
    }
    section("searchindex") {
      // the index-store law at 100 TB: per-append cost is the BATCH's
      // tokenize-agg + two content-tagged dir writes + a KB meta
      // republish — independent of the indexed base; the query probe
      // reads ONLY its terms' wb partitions + the doclens join, so it
      // may grow with matched postings but never re-tokenizes the
      // corpus. Delta and query table held constant while the indexed
      // base grows.
      println("== BM25 index store: fixed-delta append vs indexed base ==")
      println(f"${"mult"}%-6s${"write_s"}%9s${"append_s"}%10s${"probe_s"}%9s")
      val deltaDocs = spark.read.parquet(s"$src/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val base = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 =!= 0)
        val store = s"/tmp/graft_searchindex_scale_$mult"
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        // fresh store per run: replayed content tags would no-op the
        // measured append otherwise
        fs.delete(new org.apache.hadoop.fs.Path(store), true)
        val (wsec, _) = time {
          graft.operators.SearchIndex.writeIndexStore(base, store); 1L
        }
        // measured append must LAND (distinct content): shift doc_ids
        val d2 = deltaDocs.withColumn("doc_id",
          col("doc_id") + lit(900000000L))
        graft.operators.SearchIndex.appendToIndexStore(store, deltaDocs)
        Bench.gcSettle()
        val (asec, _) = time {
          graft.operators.SearchIndex.appendToIndexStore(store, d2); 1L
        }
        graft.operators.SearchIndex.bm25FromStore(spark, store).count()
        val (psec, _) = time(
          graft.operators.SearchIndex.bm25FromStore(spark, store).count())
        println(f"$mult%-6d$wsec%9.2f$asec%10.2f$psec%9.2f")
      }
    }

    section("storecompact") {
      // the compaction law: CONTENT constant, batch-dir COUNT varies —
      // K appends leave K dirs and every probe pays K× file
      // listings/footers; the fold restores the one-dir read without
      // changing a single result row. Read the probe_k → probe_1 drop,
      // not absolute seconds (single-run probes bounce ±0.5 s).
      println("== store compaction: probe vs batch-dir count (constant content) ==")
      println(f"${"family"}%-8s${"dirs"}%6s${"probe_k_s"}%10s" +
        f"${"compact_s"}%10s${"probe_1_s"}%10s${"folded"}%8s")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val K = 12
      locally {
        val store = "/tmp/graft_sidx_compact_scale"
        fs.delete(new org.apache.hadoop.fs.Path(store), true)
        graft.operators.SearchIndex.writeIndexStore(
          docs.filter(pmod(col("doc_id"), lit(K.toLong)) === 0), store)
        for (i <- 1 until K)
          graft.operators.SearchIndex.appendToIndexStore(store,
            docs.filter(pmod(col("doc_id"), lit(K.toLong)) === i))
        def probe(): Long =
          graft.operators.SearchIndex.bm25FromStore(spark, store).count()
        probe(); Bench.gcSettle()
        val (pk, _) = time(probe())
        val (cs, folded) = time(
          graft.operators.SearchIndex.compactIndexStore(spark, store)
            .toLong)
        probe(); Bench.gcSettle()
        val (p1, _) = time(probe())
        println(f"${"bm25"}%-8s$K%6d$pk%10.2f$cs%10.2f$p1%10.2f$folded%8d")
      }
      locally {
        val store = "/tmp/graft_ct_compact_scale"
        fs.delete(new org.apache.hadoop.fs.Path(store), true)
        // delta carved OUT of the ingested base (probe ≠ store ids)
        val delta = docs.filter(pmod(col("doc_id"), lit(17L)) === 0)
        val base = docs.filter(pmod(col("doc_id"), lit(17L)) =!= 0)
        graft.operators.Dedup.writeContainmentStore(
          base.filter(pmod(col("doc_id"), lit(K.toLong)) === 0), store)
        for (i <- 1 until K)
          graft.operators.Dedup.appendToContainmentStore(
            base.filter(pmod(col("doc_id"), lit(K.toLong)) === i), store)
        def probe(): Long = graft.operators.Dedup
          .containmentFromStore(store, delta).count()
        probe(); Bench.gcSettle()
        val (pk, _) = time(probe())
        val (cs, folded) = time(
          graft.operators.Dedup.compactContainmentStore(spark, store)
            .toLong)
        probe(); Bench.gcSettle()
        val (p1, _) = time(probe())
        println(f"${"ctstore"}%-8s$K%6d$pk%10.2f$cs%10.2f$p1%10.2f$folded%8d")
      }
    }

    section("rerankqueries") {
      // The rerank stage's scale variable is |queries|·topK, NOT the
      // corpus (the corpus ladder in `pipeline` proves the flat-in-
      // corpus half) — this rung varies the QUERY TABLE at 1×/8×/64×
      // of the 5-query fixture over the FIXED sf0.1 corpus. Expected
      // shape: retrieval grows mildly (more postings survive the
      // query-term semi-join), the rerank DELTA grows ~linearly in
      // |queries| (per-pair features over the candidate page), and
      // the over-cap column (cap 0 → every page takes the
      // shuffle_hash left-semi prune) pays roughly one extra corpus
      // scan + exchange at EVERY rung — the honest degraded cost of
      // the r17 guard, exercised at all rungs including the top one.
      // Query synthesis is deterministic: 3 words per query drawn
      // md5(qid)-wise from the corpus's top-256 df vocabulary, so
      // candidate pages are real and distinct across qids.
      // r18: + the INDEX-ONLY path at the same rungs — rerankFromStore
      // over a positional store built once from the same corpus, its
      // within-cap and over-cap columns beside the fresh path's. The
      // wb-bucket fan-out grows with |query terms| and the cap guard
      // runs per page, so the expected shape is the same
      // linear-in-queries / flat-in-corpus the fresh path shows.
      println("== rerank vs QUERY-table scale (corpus fixed, sf0.1) ==")
      println(f"${"mult"}%-6s${"queries"}%8s${"retrieve_s"}%11s" +
        f"${"rerank_s"}%10s${"overcap_s"}%11s${"index_s"}%9s" +
        f"${"ixover_s"}%10s${"rows"}%7s")
      // NO checkpoint on the corpus (r17 review finding): a
      // LogicalRDD would swallow the parquet In-pushdown the
      // within-cap column exists to measure — the rung must contrast
      // a row-group-pruned re-read against the degraded full scan,
      // exactly as production parquet-backed entries plan
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val vocab = docs.select(col("doc_id"),
          explode(graft.functions.TextFunctions.words(col("text")))
            .as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("w")).limit(256)
        .collect().map(_.getString(0))
      def qtable(n: Int): Seq[(Long, String)] =
        (0L until n.toLong).map { i =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val h = md.digest(s"rq:$i".getBytes("UTF-8"))
          val ws = (0 until 3).map { j =>
            vocab((((h(j) & 0xff) << 8) | (h(j + 3) & 0xff))
              % vocab.length)
          }
          (i, ws.distinct.mkString(" "))
        }
      // positional store built ONCE from the same corpus (outside the
      // timed windows; NOT checkpoint-fed — the store path's own wb
      // pruning is part of what the index columns measure)
      val ixStore = "/tmp/graft_sidx_rerankq"
      val fsIx = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fsIx.delete(new org.apache.hadoop.fs.Path(ixStore), true)
      graft.operators.SearchIndex.writeIndexStore(docs, ixStore,
        positions = true)
      for (mult <- Seq(1, 8, 64)) {
        val qt = qtable(5 * mult)
        def retrieve(): Long =
          graft.operators.Search.bm25Queries(docs, queryTable = qt)
            .count()
        def rerank(cap: Long): Long =
          graft.operators.Search.bm25Rerank(docs, queryTable = qt,
            maxPushdownIds = cap).count()
        def irerank(cap: Long): Long =
          graft.operators.SearchIndex.rerankFromStore(spark, ixStore,
            queryTable = qt, maxPushdownIds = cap).count()
        retrieve(); Bench.gcSettle()
        val (rs, _) = time(retrieve())
        rerank(graft.operators.Search.defaultMaxPushdownIds); Bench.gcSettle()
        val (ks, rows) =
          time(rerank(graft.operators.Search.defaultMaxPushdownIds))
        // the over-cap branch gets its own warm-up too (its
        // shuffle_hash semi-join codegen is distinct from the
        // within-cap plan's — an unwarmed first-ever execution at the
        // bottom rung would land JIT inside the measured window)
        rerank(0L); Bench.gcSettle()
        val (os, _) = time(rerank(0L))
        irerank(graft.operators.Search.defaultMaxPushdownIds); Bench.gcSettle()
        val (is_, _) =
          time(irerank(graft.operators.Search.defaultMaxPushdownIds))
        irerank(0L); Bench.gcSettle()
        val (ios, _) = time(irerank(0L))
        println(f"$mult%-6d${qt.size}%8d$rs%11.2f$ks%10.2f$os%11.2f" +
          f"$is_%9.2f$ios%10.2f$rows%7d")
      }
    }

    section("indexbytes") {
      // The positional layout's STORAGE price (r18 — the one scale
      // claim r17 argued without a number): position lists are the
      // dominant byte cost of `positions = true`, so record plain vs
      // positional store bytes (and the corpus parquet for reference)
      // at each corpus rung. The ratio feeds SCALE.md's
      // when-to-pay-it decision rule: pay positions when
      // query_load × rerank_reread_cost > position_bytes ×
      // storage_cost — the wide-key-flip treatment.
      println("== index store bytes: plain vs positional vs corpus ==")
      println(f"${"mult"}%-6s${"corpus_mb"}%11s${"plain_mb"}%10s" +
        f"${"pos_mb"}%8s${"pos/plain"}%10s${"pos/corpus"}%11s")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        def bytes(p: String): Long =
          fs.getContentSummary(new org.apache.hadoop.fs.Path(p))
            .getLength
        val (plain, pos) = (s"/tmp/graft_sidx_bytes_p_$mult",
          s"/tmp/graft_sidx_bytes_q_$mult")
        for (p <- Seq(plain, pos))
          fs.delete(new org.apache.hadoop.fs.Path(p), true)
        graft.operators.SearchIndex.writeIndexStore(docs, plain)
        graft.operators.SearchIndex.writeIndexStore(docs, pos,
          positions = true)
        val (cb, pb, qb) =
          (bytes(s"$dir/documents.parquet"), bytes(plain), bytes(pos))
        println(f"$mult%-6d${cb / 1e6}%11.1f${pb / 1e6}%10.1f" +
          f"${qb / 1e6}%8.1f${qb.toDouble / pb}%10.2f" +
          f"${qb.toDouble / cb}%11.2f")
        for (p <- Seq(plain, pos))
          fs.delete(new org.apache.hadoop.fs.Path(p), true)
      }
    }

    section("phrase") {
      // Exact-phrase search (r18): the fresh path re-tokenizes the
      // corpus every probe (cost ∝ corpus), the positional-store path
      // reads the phrase terms' wb-pruned postings buckets only (cost
      // ∝ phrase-term postings — sub-linear in corpus for fixed
      // phrases). Store build lands OUTSIDE the timed window (it's
      // the indexing cost, paid once; the probe is the daily cost).
      println("== exact-phrase: fresh corpus scan vs positional store probe ==")
      println(f"${"mult"}%-6s${"fresh_s"}%9s${"store_s"}%9s${"rows"}%7s")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val store = s"/tmp/graft_sidx_phrase_$mult"
        if (!graft.operators.SearchIndex.isCompleteIndexStore(fs, store))
          graft.operators.SearchIndex.writeIndexStore(docs, store,
            positions = true)
        def fresh(): Long =
          graft.operators.Search.phraseSearch(docs).count()
        def probe(): Long = graft.operators.SearchIndex
          .phraseFromStore(spark, store).count()
        fresh(); probe(); Bench.gcSettle()
        val (fsec, rows) = time(fresh())
        val (ssec, _) = time(probe())
        println(f"$mult%-6d$fsec%9.2f$ssec%9.2f$rows%7d")
      }
    }

    section("compactdirs") {
      // compaction at the regime it EXISTS for (r12 honesty note: the
      // 12-dir point is footer-overhead-dominated): O(100+) batch
      // dirs, the daily-ingest accumulation. The variable is DIR
      // COUNT — batches are tiny (~40 docs), bytes constant-small —
      // so the probe_k curve isolates the per-dir listing/footer
      // read-amplification the fold reclaims. Probe twice per rung
      // and read the min (single-run listings bounce with FS cache).
      println("== compaction at O(100+) dirs: probe vs dir count (tiny batches) ==")
      println(f"${"dirs"}%6s${"probe_s"}%9s")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val docs = spark.read.parquet(s"$src/documents.parquet")
        .localCheckpoint()
      val K = 129 // base + 128 tiny appends
      val store = "/tmp/graft_sidx_compactdirs"
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      graft.operators.SearchIndex.writeIndexStore(
        docs.filter(pmod(col("doc_id"), lit(K.toLong)) === 0), store)
      def probe(): Long =
        graft.operators.SearchIndex.bm25FromStore(spark, store).count()
      def probeMin(): Double = {
        probe(); Bench.gcSettle()
        val (a, _) = time(probe()); val (b, _) = time(probe())
        math.min(a, b)
      }
      val marks = Set(1, 17, 65, 129)
      println(f"${1}%6d${probeMin()}%9.2f")
      for (i <- 1 until K) {
        graft.operators.SearchIndex.appendToIndexStore(store,
          docs.filter(pmod(col("doc_id"), lit(K.toLong)) === i))
        if (marks(i + 1)) println(f"${i + 1}%6d${probeMin()}%9.2f")
      }
      val (cs, folded) = time(
        graft.operators.SearchIndex.compactIndexStore(spark, store)
          .toLong)
      println(f"compact: $cs%.2f s, folded $folded dirs; " +
        f"post-fold probe ${probeMin()}%.2f s")
      // same curve for the LISTING-read discipline (containment store,
      // whole-root-swap fold) — dir-count amplification there hits the
      // reader's own file enumeration, not a manifest
      println("== containment (listing-read) at O(64+) dirs ==")
      println(f"${"dirs"}%6s${"probe_s"}%9s")
      val K2 = 65
      val cstore = "/tmp/graft_ct_compactdirs"
      fs.delete(new org.apache.hadoop.fs.Path(cstore), true)
      val delta = docs.filter(pmod(col("doc_id"), lit(17L)) === 0)
        .localCheckpoint()
      val base = docs.filter(pmod(col("doc_id"), lit(17L)) =!= 0)
      graft.operators.Dedup.writeContainmentStore(
        base.filter(pmod(col("doc_id"), lit(K2.toLong)) === 0), cstore)
      def cprobe(): Long = graft.operators.Dedup
        .containmentFromStore(cstore, delta).count()
      def cprobeMin(): Double = {
        cprobe(); Bench.gcSettle()
        val (a, _) = time(cprobe()); val (b, _) = time(cprobe())
        math.min(a, b)
      }
      val cmarks = Set(1, 9, 33, 65)
      println(f"${1}%6d${cprobeMin()}%9.2f")
      for (i <- 1 until K2) {
        graft.operators.Dedup.appendToContainmentStore(
          base.filter(pmod(col("doc_id"), lit(K2.toLong)) === i), cstore)
        if (cmarks(i + 1)) println(f"${i + 1}%6d${cprobeMin()}%9.2f")
      }
      val (ccs, cfolded) = time(
        graft.operators.Dedup.compactContainmentStore(spark, cstore)
          .toLong)
      println(f"compact: $ccs%.2f s, folded $cfolded dirs; " +
        f"post-fold probe ${cprobeMin()}%.2f s")
    }

    section("profilestore") {
      // the profile-store law at 100 TB: per-append cost is the
      // BATCH's (feature, bin) aggregation plus a dictionary-sized
      // merge + republish — independent of how much corpus the stored
      // counts summarize; the drift report reads KBs of stored bins
      // plus the probe snapshot, never the reference corpus. Delta
      // and probe held constant while the summarized base grows.
      println("== profile store: fixed-delta append vs summarized base ==")
      println(f"${"mult"}%-6s${"write_s"}%9s${"append_s"}%10s${"drift_s"}%9s")
      val deltaDocs = spark.read.parquet(s"$src/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
      for (mult <- factMults) {
        val dir =
          if (mult == 1) src
          else {
            val d = ampCorpusDir(mult)
            amplifyCorpusToDir(spark, src, d, mult)
            d
          }
        val base = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 3 =!= 0)
        val store = s"/tmp/graft_profilestore_scale_$mult"
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        // fresh store per run: additive counts would accumulate the
        // warm-up append run over run
        fs.delete(new org.apache.hadoop.fs.Path(store), true)
        val (wsec, _) = time {
          graft.operators.Profiling.writeProfileStore(base, store); 1L
        }
        graft.operators.Profiling.appendToProfileStore(store, deltaDocs)
        val (asec, _) = time {
          graft.operators.Profiling.appendToProfileStore(store, deltaDocs)
          1L
        }
        graft.operators.Profiling.driftFromStore(spark, store, deltaDocs)
          .count()
        val (dsec, _) = time(
          graft.operators.Profiling.driftFromStore(spark, store, deltaDocs)
            .count())
        println(f"$mult%-6d$wsec%9.2f$asec%10.2f$dsec%9.2f")
      }
    }
    spark.stop()
  }
}
