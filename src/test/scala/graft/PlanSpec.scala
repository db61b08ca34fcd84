package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Ctx, Tpch}

/** Plan-shape regression guards: the scale properties that make these
  * queries viable at 100 TB must stay visible in the physical plan.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def ctx = Ctx(spark, "/root/testdata/sf0.001")

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q6: filters and projection reach the parquet scan") {
    val p = planOf(Tpch.q6(ctx))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // column pruning: only the 4 needed columns in ReadSchema
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate"), p)
  }

  test("q3: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = planOf(Tpch.q3(ctx))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q5: dimension joins broadcast (no shuffle join in the chain)") {
    val p = planOf(Tpch.q5(ctx))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q20: qualified set broadcasts — no sort-merge join in the suite's last holdout") {
    val p = planOf(Tpch.q20(ctx))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q21: EXISTS/NOT EXISTS plan as semi/anti joins") {
    val p = planOf(Tpch.q21(ctx))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("range join: banded equi-join, never a nested-loop fallback") {
    val p = planOf(graft.operators.RangeOps
      .errorClickFollowups(ctx.events))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the band predicate must be an equi-join key, not a filter-only
    assert(p.contains("__band"), p)
  }

  test("sample_stratified: pure scan + filter, no shuffle") {
    val p = planOf(graft.operators.Sampling
      .stratifiedSample(ctx.documents))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("Join"), p)
  }

  test("dedup clustering: sort-free join pipeline") {
    val p = planOf(graft.operators.Dedup.clusters(ctx.documents))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("composed pipeline: sort-free, no nested loops") {
    val p = planOf(graft.operators.CorpusPipeline
      .corpusStats(ctx.documents))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("k-means IVF: codebook stays broadcast through every Lloyd round") {
    val p = planOf(graft.operators.Similarity.ivfKmeansTopK(
      ctx.embeddings, cells = 4, iters = 2))
    // training scores are corpus × broadcast-codebook; the probe is a
    // broadcast hash join on cell — a shuffle join of either would be
    // the scale-killer shape
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("repetition signals: one text scan, one wide gram shuffle") {
    val p = planOf(graft.operators.QualitySignals
      .repetition(ctx.documents))
    // the kind-tagged fused form: a single parquet scan feeds words,
    // 2-grams and 3-grams — three scans would triple the corpus read
    // (count the "(n) Scan parquet" detail entries; the tree renders
    // each operator a second time)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("PII redaction: pure map + filter, no exchange at all") {
    val p = planOf(graft.operators.QualitySignals
      .piiRedact(ctx.documents).limit(10))
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("incremental dedup: hash joins only, verdict join included") {
    val p = planOf(graft.operators.Dedup
      .incrementalLsh(ctx.documents))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("heavy hitters: candidate recount is a broadcast join") {
    val p = planOf(graft.operators.TextAnalysis
      .heavyHitters(ctx.documents))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("BPE encode: dictionary fold rides broadcast joins only") {
    val p = planOf(graft.operators.CorpusPipeline
      .bpeEncode(ctx.documents, numMerges = 2))
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("passage dedup: narrow hash-keyed joins, no sort-merge, no loops") {
    val p = planOf(graft.operators.Dedup.passageDedup(ctx.documents))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semantic dedup: within-cell pairing rides hash joins, no SMJ") {
    val p = planOf(graft.operators.Similarity.semanticDedup(
      ctx.embeddings, cells = 4, iters = 1))
    // the quadratic step must stay confined to the cell-keyed hash
    // self-join; a sort-merge or cartesian would be the scale-killer
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("span dedup: narrow hash-keyed joins, no sort-merge, no loops") {
    val p = planOf(graft.operators.Dedup.spanDedup(ctx.documents))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("linear classifier: pure map — no exchange before the output sort") {
    val p = planOf(graft.operators.QualitySignals
      .linearClassifier(ctx.documents).limit(10))
    assert(!p.contains("Exchange hashpartitioning"), p)
    assert(!p.contains("BroadcastHashJoin"), p) // no model join either
  }

  test("temperature sample: rates broadcast back over the corpus") {
    val p = planOf(graft.operators.Sampling
      .temperatureSample(ctx.documents))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("deterministic shuffle: window partitions on shard, no global sort") {
    val p = planOf(graft.operators.Sampling
      .deterministicShuffle(ctx.documents))
    // the rank window must hash-partition on shard — a single-partition
    // window would serialize the whole corpus through one task
    // formatted mode details the exchange as "Arguments: hashpartitioning(…"
    assert(p.contains("hashpartitioning(shard"), p)
    // the only acceptable non-hash exchange is the final presentation
    // orderBy (range partitioning) — never a single-partition funnel
    assert(!p.contains("SinglePartition"), p)
  }

  test("source quota: bounded-heap aggregate, no window partitioned on source") {
    // a row_number window partitioned on source sends every row of the
    // dominant source (a real crawl always has one) to ONE reducer —
    // AQE cannot split window partitions. Selection must ride the
    // k-smallest-heap aggregate: map-side partials carry ≤quota rows
    // per (source, partition)
    val p = planOf(graft.operators.Sampling.sourceQuota(ctx.documents))
    assert(!p.contains("Window"), p)
    assert(p.contains("bottom_k_by_key"), p)
    // partial aggregation visible: the agg runs in two phases around
    // the single source-keyed exchange
    assert(p.contains("hashpartitioning(source"), p)
    assert(!p.contains("Join"), p)
  }

  test("chunk containment: hash joins only, no windows, nothing quadratic") {
    val p = planOf(graft.operators.Dedup
      .containmentChunkLshMd5(ctx.documents, sampleMod = 1))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("store-backed incremental dedup: hash joins only over the store scan") {
    val store = graft.operators.Dedup.ensureSignatureStore(
      ctx.documents.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(3L)) =!= 0),
      "plan_spec_store")
    val p = planOf(graft.operators.Dedup.incrementalLshStore(
      store, ctx.documents.filter(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.lit(3L)) === 0)))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the base side is the parquet store scan, not a recompute
    assert(p.contains("Scan parquet"), p)
  }

  test("exact incremental gate: base verifies via broadcast semi") {
    val p = planOf(graft.operators.Dedup.incrementalExact(ctx.documents))
    // the delta's fingerprints broadcast against the base scan — the
    // base is never shuffled, and no membership filter is built
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("might_contain"), p)
  }

  test("cluster resolution: no window on cluster_id/group_id — aggregates only") {
    // a row_number/count window partitioned on the cluster label sends
    // every member of a component to ONE reducer task (a web corpus's
    // giant duplicate cluster = one unsplittable straggler); resolution
    // must ride partial-aggregatable max_by/min_by/count instead
    val keep = planOf(graft.operators.Dedup.keepBest(ctx.documents))
    assert(!keep.contains("Window"), keep)
    assert(keep.contains("max_by"), keep)
    val clus = planOf(graft.operators.Dedup.clusters(ctx.documents))
    assert(!clus.contains("Window"), clus)
    val sem = planOf(graft.operators.Similarity.semanticDedup(
      ctx.embeddings, cells = 4, iters = 1))
    assert(!sem.contains("Window"), sem)
    assert(sem.contains("min_by"), sem)
  }

  test("bm25: one corpus materialization, stats broadcast, heap top-k") {
    val p = planOf(graft.operators.Search.bm25TopK(ctx.documents))
    // the lazy checkpoint barrier means the corpus-derived per-doc
    // frame materializes ONCE — no second parquet scan per consumer
    assert(!p.contains("Scan parquet"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only loop join is the broadcast of the 1-row stats frame
    assert(p.split("BroadcastNestedLoopJoin").length <= 3, p)
  }

  test("dsir: bucket weights broadcast over the gram stream, heap top-k") {
    val p = planOf(graft.operators.CorpusPipeline.dsirSelect(ctx.documents))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the ≤`buckets`-row weight table reaches the per-doc join as a
    // broadcast — the corpus-side gram stream never shuffles for it
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("knn classify: bounded heap top-k + max_by vote, no windows") {
    val p = planOf(graft.operators.Similarity.knnClassify(ctx.embeddings))
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("top_k_by_score"), p)
    assert(p.contains("max_by"), p)
  }

  test("lsh eval: confusion join is a shuffled hash join, never SMJ") {
    val p = planOf(graft.operators.Dedup.lshEval(ctx.documents,
      sampleMod = 1))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mix epochs: recipe rates broadcast, epoch fan-out is a generator") {
    val p = planOf(graft.operators.Sampling.mixEpochs(ctx.documents))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("BroadcastHashJoin"), p) // ≤|sources|-row rates
    assert(p.contains("Generate"), p) // explode(sequence(0, epochs))
  }

  test("semantic decontaminate: bench broadcast, argmax is an aggregate") {
    val p = planOf(graft.operators.Similarity
      .semanticDecontaminate(ctx.embeddings))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("max_by"), p)
    // the benchmark side broadcasts — the corpus never shuffles for
    // the probe (stream side of the broadcast loop join)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("curation pipeline: one lazy DAG, sort-free") {
    val p = planOf(graft.operators.CorpusPipeline.curate(ctx.documents))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join is the 1-row normalizer broadcast (the
    // scalar-subquery pattern used throughout the repo) — never a
    // data-sized loop. Formatted explain names each node twice
    // (tree + details), so ONE such join = 2 mentions.
    assert(p.split("BroadcastNestedLoopJoin").length <= 3, p)
  }

  test("semantic incremental: store scan partition-prunes to the touched cells") {
    import org.apache.spark.sql.functions._
    val c = ctx
    val thr = c.embeddings.agg(expr("(max(vec_id) * 4) div 5").as("t"))
    val base = c.embeddings.crossJoin(broadcast(thr))
      .filter(col("vec_id") < col("t")).drop("t")
    val delta = c.embeddings.crossJoin(broadcast(thr))
      .filter(col("vec_id") >= col("t")).drop("t")
    val store = graft.operators.Similarity
      .ensureSemanticStore(base, "planspec_semstore")
    val p = planOf(graft.operators.Similarity
      .semanticDedupIncremental(store, delta))
    // the literal touched-cell IN-filter must reach the hive-partition
    // scan (PartitionFilters), the delta must broadcast (base streams)
    // and nothing sort-merges
    assert(p.contains("PartitionFilters: [cell"), p)
    assert(p.contains(" IN ("), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("rp topk: projection is a broadcast map, ranking a bounded heap — no windows") {
    val p = planOf(graft.operators.Similarity.rpTopK(ctx.embeddings))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    // three sanctioned nested-loop joins only: the 1-row sign-matrix
    // broadcast under EACH of the query and corpus branches (the query
    // branch is filter-pruned to numQueries rows, so the corpus still
    // streams once) and the tiny query-set broadcast (non-equi
    // qid<>cid) — formatted explain names each node twice
    assert(p.split("BroadcastNestedLoopJoin").length <= 7, p)
  }

  test("chunking: pure map — no exchange before the output sort, no joins") {
    val p = planOf(graft.operators.CorpusPipeline
      .chunkDocuments(ctx.documents))
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // the only exchange is the presentation orderBy's range partition
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("hard negatives: broadcast scored pairs + bounded heap, no SMJ/window") {
    val p = planOf(graft.operators.Similarity.hardNegatives(ctx.embeddings))
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("top_k_by_score"), p)
  }

  test("gopher rules: one corpus shuffle on doc_id, no windows, no joins") {
    val p = planOf(graft.operators.QualitySignals.gopherRules(ctx.documents))
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // exactly one wide exchange (the doc_id hash-agg) + the output sort
    assert(p.contains("hashpartitioning(doc_id"), p)
  }

  test("constraint audit: conditional aggs + one anti-join, no windows, no SMJ") {
    val p = planOf(graft.operators.Validate.constraintReport(
      ctx.lineitem, ctx.orders, ctx.customer, ctx.documents))
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("subword stats: dictionary rounds stay windowless, result is a bounded top-k") {
    val p = planOf(graft.operators.CorpusPipeline
      .subwordStats(ctx.documents, vocabSize = 20))
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("export shard reader: shard predicate is a partition filter, not a scan filter") {
    val path = graft.sources.TrainingExport.ensureExport(
      ctx.documents, "planspec")
    val p = planOf(graft.sources.TrainingExport.readShard(spark, path, 0))
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("shard"), p)
    // the data filter list must NOT re-check shard (pruning did it)
    assert(!p.contains("PushedFilters: [IsNotNull(shard)"), p)
  }

  test("perplexity buckets: rank rides the range exchange, corpus window partitions on shard") {
    val p = planOf(graft.operators.QualitySignals
      .perplexityBuckets(ctx.documents))
    // the corpus-side rank window hash-partitions on the shard tag —
    // the ONLY unpartitioned window is the ledger prefix sum, whose
    // input is the ≤width-row per-shard count frame (the range
    // exchange itself sits inside the kernel's eager checkpoint, so it
    // is not visible in this plan)
    assert(p.contains("hashpartitioning(__shard"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("substring grams: one pruned scan + generate, no exchange, no join") {
    // the store's content unit and the probe front end: must stay a
    // pure map-side explode — any exchange here multiplies by the
    // n·minLen gram fan-out before the aggregate can reduce it
    val p = planOf(graft.operators.Dedup.substringGrams(ctx.documents, 40))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("Generate"), p)
    // column pruning: only (doc_id, text) leave the parquet scan
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("substring rank frame: every window hash-partitions on doc_id " +
    "(pre-barrier building block)") {
    // the production path's lazy barrier sits directly on this frame —
    // the audit must run pre-checkpoint (SearchIndexSpec pattern). The
    // packed-doubling windows and the final rb/rl reads must all ride
    // doc_id hash partitioning; the ONLY unpartitioned window allowed
    // is globalRank's ledger prefix sum over the ≤width-row per-shard
    // count frame (the perplexity-buckets exemption) — every
    // corpus-scale frame must show a partitioned exchange
    val p = planOf(graft.operators.Dedup
      .substringFinFrame(ctx.documents, 40))
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(doc_id"), p)
    // the seed ranking's corpus-side window rides the shard tag
    assert(p.contains("hashpartitioning(__shard") ||
      p.contains("hashpartitioning(g"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // consecutive packed rounds stack on ONE doc_id exchange+sort (the
    // r15 17.3→3.5 s arc): exactly one doc_id-partitioned exchange
    // feeds the whole window chain
    assert("hashpartitioning\\(doc_id".r.findAllIn(p).length == 1, p)
  }

  test("substring store probe: store scan pruned by the broadcast " +
    "delta keys, no windows, no SMJ") {
    import org.apache.spark.sql.functions.expr
    val base = ctx.documents.filter(expr("pmod(doc_id, 3) != 0"))
    val delta = ctx.documents.filter(expr("pmod(doc_id, 3) = 0"))
    val store = graft.operators.Dedup.ensureSubstringStore(base,
      "plan_spec_substr")
    val p = planOf(graft.operators.Dedup
      .exactSubstringDedupIncremental(delta, store))
    // the store side is the parquet scan joined against the
    // broadcast probe keys BEFORE any aggregation — the store never
    // shuffles; suffix windows don't exist on this path at all
    assert(p.contains("Scan parquet"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bm25 rerank: candidate plumbing is broadcast-only, no SMJ, " +
    "window confined to the bounded page") {
    val p = planOf(graft.operators.Search.bm25Rerank(ctx.documents))
    // the candidate ids/terms/page are query-load-sized: every join on
    // the rerank side must broadcast or shuffle_hash — a sort-merge
    // would mean a corpus-sized frame leaked into the rerank stage
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the candidate re-read filters on the COLLECTED id list (INSET),
    // not a semi-join — a semi-join re-read scans the whole corpus
    // (the ladder's growth term before the pushdown)
    assert(p.contains("INSET"), p)
    // the final cut's window partitions on qid (≤ topK rows per qid by
    // construction — the schema-bounded window class)
    assert(p.contains("hashpartitioning(qid"), p)
    // the parquet scan itself sits behind the matched-positions
    // barrier; prove the pushdown on the pre-barrier pattern — a
    // candidate-page-sized isin() over the documents relation reaches
    // the scan as PushedFilters In(doc_id, …)
    val pre = planOf(ctx.documents.filter(
      org.apache.spark.sql.functions.col("doc_id")
        .isin((0L until 50L): _*)))
    assert(pre.contains("PushedFilters: [In(doc_id"), pre)
  }

  test("bm25 rerank cap guard: both prunedCandidateScan branches keep " +
    "their plan shape (pre-barrier building block, r12 convention)") {
    // the candidate re-read sits behind the matched-positions lazy
    // checkpoint in the full entry plan, so the branches are asserted
    // on the shared building block directly (the SearchIndexSpec
    // pattern for barrier-hidden scans)
    import org.apache.spark.sql.functions.col
    val ids = ctx.documents.select(col("doc_id"))
      .filter(col("doc_id") < 50).distinct()
    // within cap: the id list is COLLECTED and pushed into the parquet
    // scan — PushedFilters: In(doc_id, …), no join at all
    val within = planOf(graft.operators.Search.prunedCandidateScan(
      ctx.documents, ids, maxPushdownIds = 100000L))
    assert(within.contains("PushedFilters: [In(doc_id"), within)
    assert(!within.contains("Join"), within)
    // over cap (cap 0): a shuffle_hash left-semi prune against the
    // candidate-id frame — NO collected id list in the plan (the
    // honest degraded cost is one corpus scan + one corpus-sized
    // exchange, never an unbounded driver collect), and still no SMJ
    val over = planOf(graft.operators.Search.prunedCandidateScan(
      ctx.documents, ids, maxPushdownIds = 0L))
    assert(over.contains("ShuffledHashJoin"), over)
    assert(over.contains("LeftSemi"), over)
    assert(!over.contains("INSET") && !over.contains("In(doc_id"), over)
    assert(!over.contains("SortMergeJoin"), over)
  }

  test("positional index path: ZERO corpus scan (cold-corpus invariant, " +
    "machine-checked) and ONE shared postings read for retrieve+rerank") {
    val store = graft.operators.SearchIndex.ensureAppendedIndexStore(
      ctx.documents, "plan_spec_pos", positions = true)
    // (a) the full entry: NO parquet scan survives past the barriers at
    // all — the shared postings page and the candidate page are both
    // lazy checkpoints, and even the doclens join sits inside the
    // candidate barrier — and in particular nothing references the
    // documents fixture. The corpus-can-live-in-cold-storage claim as
    // a machine-checked invariant (r18, verdict task 6): a corpus
    // re-read leaking into any post-barrier stage surfaces here, and
    // the pre-barrier store reads are pinned in (b).
    val entryPlan = planOf(
      graft.operators.SearchIndex.rerankFromStore(spark, store))
    assert(!entryPlan.contains("documents.parquet"), entryPlan)
    assert(!entryPlan.contains("Scan parquet"), entryPlan)
    // (b) the shared page building block (pre-barrier, the r12
    // convention — the barrier would hide the scan, the harness-
    // barrier trap in PLANS.md's header): wb partition-pruned, reads
    // ONLY the store's postings, and its required schema carries ps
    // for the positional page while the plain-retrieval projection
    // never pays it
    val spark2 = spark
    import spark2.implicits._
    val qterms = Seq((0L, "hash"), (0L, "join")).toDF("qid", "w")
    val tags = spark.read.parquet(s"$store/meta/tags")
      .collect().map(_.getString(0)).toSeq
    for (withPos <- Seq(true, false)) {
      val p = planOf(graft.operators.SearchIndex.queryPostingsBlock(
        spark, store, tags, qterms, withPositions = withPos))
      assert(p.contains("Scan parquet"), p)
      assert(!p.contains("documents.parquet"), p)
      assert(p.contains("/postings"), p)
      assert(!p.contains("/doclens"), p)
      assert("PartitionFilters: \\[[^\\]]*wb".r.findFirstIn(p).nonEmpty,
        s"shared page lost the wb partition prune:\n$p")
      assert(p.contains("ps:array<bigint>") == withPos,
        s"ps column presence wrong for withPositions=$withPos:\n$p")
    }
  }

  test("phrase-from-store: ZERO corpus scan (the cold-corpus invariant " +
    "extends to the second positional consumer)") {
    val store = graft.operators.SearchIndex.ensureAppendedIndexStore(
      ctx.documents, "plan_spec_pos", positions = true)
    // entry plan: nothing may reference the documents fixture — the
    // phrase probe reads postings buckets only (the rerankFromStore
    // assert's discipline; the shared-page building block's wb prune
    // and ps projection are pinned by the rerank test above, and
    // phraseFromStore rides the SAME queryPostings block)
    val p = planOf(
      graft.operators.SearchIndex.phraseFromStore(spark, store))
    assert(!p.contains("documents.parquet"), p)
    // the only parquet scan below the page barrier is none at all —
    // phraseHits consumes the checkpointed page, broadcast phrase
    // sides are local relations
    assert(!p.contains("Scan parquet"), p)
  }

  test("docs/PLANS.md audit covers every SparkEntry query (regenerate via PlanStats)") {
    // the audit went stale in r11 because nothing failed when a new
    // entry lacked a row — this is the loud failure: add an entry,
    // re-run `sbt "runMain graft.PlanStats"` before sealing the round
    val plansFile = new java.io.File("docs/PLANS.md")
    assert(plansFile.exists, "docs/PLANS.md missing — run graft.PlanStats")
    val audited = java.nio.file.Files.readAllLines(plansFile.toPath,
        java.nio.charset.StandardCharsets.UTF_8)
      .toArray(Array.empty[String]).toSeq
      .filter(_.startsWith("| "))
      .map(_.split("\\|")(1).trim)
      .filterNot(n => n == "query" || n.startsWith("---"))
      .toSet
    val missing = SparkEntry.queries.keySet.diff(audited)
    assert(missing.isEmpty,
      s"PLANS.md stale — entries without an audit row: " +
        s"${missing.toSeq.sorted.mkString(", ")}; " +
        "regenerate with `sbt \"runMain graft.PlanStats\"`")
    // and the other direction: a removed entry must not leave its row
    val stale = audited.diff(SparkEntry.queries.keySet)
    assert(stale.isEmpty,
      s"PLANS.md stale — rows for entries no longer in SparkEntry: " +
        s"${stale.toSeq.sorted.mkString(", ")}; " +
        "regenerate with `sbt \"runMain graft.PlanStats\"`")
  }
}
