package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Kernels.dsum

/** Deduplication operators over a `(doc_id, text)` corpus — the
  * LLM-training-pipeline extension surface (builder brief). Exact and
  * fingerprint dedup are pure hash-aggregations (one shuffle on the
  * hash, no pairwise work — the only shape that survives 100 TB).
  * Near-dup detection comes in two flavours: an all-pairs
  * set-similarity join (correctness baseline, quadratic in bucket
  * size) and the scale path — MinHash+LSH banding and SimHash banding,
  * where candidate generation is a shuffle on band keys and only
  * bucket-mates are compared.
  */
object Dedup {

  /** Exact dedup: survivors = min doc_id per identical text. A single
    * hash aggregation; at scale, group on `md5(text)` instead of the
    * full text to keep shuffle rows narrow (here the oracle needs the
    * text grouping, semantics identical as md5 collisions are
    * negligible).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  val exactSql: String =
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin

  /** Normalized-fingerprint dedup: canonicalize (lowercase, collapse
    * whitespace) then md5 — catches whitespace/case-variant
    * duplicates. md5 matches across engines → oracle-checkable.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.withColumn("fp", TextFunctions.fingerprint(col("text")))
      .groupBy("fp")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("fp", "doc_id", "n_copies")
      .orderBy("doc_id")

  val fingerprintSql: String =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |  MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Distinct (doc_id, word) pairs — shared by the similarity ops. */
  private def docWords(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(TextFunctions.words(col("text"))).as("w"))
      .where(col("w") =!= "")
      .distinct()

  /** All-pairs word-set Jaccard, reported as a histogram of pair
    * similarity (20 buckets). This is the exact baseline for near-dup
    * detection: token inverted-index self-join → common-token counts →
    * |A∩B| / |A∪B|. Inherently quadratic in corpus size (the *output*
    * is all pairs), so it runs on a deterministic 1-in-`sampleMod`
    * document sample — the ground-truth yardstick against which the
    * scale paths ([[minHashLsh]], [[simHashPairs]], whose candidates
    * approximate exactly this measure on the FULL corpus) are judged.
    * Integer counts divide to bit-identical doubles across engines, so
    * the bucket histogram is deterministic.
    */
  def jaccardHistogram(docs: DataFrame, sampleMod: Int = 10): DataFrame = {
    val words = docWords(docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0))
    val sizes = words.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = words.as("a")
      .join(words.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jaccard",
        col("common") / (col("n1") + col("n2") - col("common")))
      .groupBy(floor(col("jaccard") * 20).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("bucket")
  }

  /** Asymmetric word-set CONTAINMENT pairs — `C(A→B) = |A∩B| / |A|` —
    * the near-superset detector symmetric Jaccard structurally misses:
    * a short document wholly embedded in a long one scores
    * `|A|/|B| ≈ 0` on Jaccard but `1.0` on containment (the signal
    * behind quote/boilerplate-inclusion and doc-in-doc dedup, e.g.
    * Broder's containment sketches, SEQUENCES '97). Emits each
    * over-threshold pair once with BOTH directions' scores and the
    * dominant direction.
    *
    * Same inverted-index shape as [[jaccardHistogram]]'s exact
    * baseline (token self-join, set sizes joined to the pair
    * aggregate, shuffle_hash-hinted like [[shingleJaccardPairs]]) and,
    * like it, run on a deterministic 1-in-`sampleMod` sample because
    * the all-pairs OUTPUT is the quadratic part. The 100 TB path is
    * [[containmentLshMd5]]: candidates from the shared minhash band
    * front end (same occupancy guards), exact containment verified on
    * candidates only. Scores are exact-integer ratios — unrounded by
    * the house rule. Tokens with document frequency above `maxDf` are
    * dropped from BOTH the sets and the denominators (mirrored in the
    * oracle): a stopword shared by df docs contributes df² pairs to
    * the inverted-index self-join while carrying no containment
    * signal — the per-key occupancy bound that keeps a skewed sample
    * from going quadratic on one token.
    */
  def containmentPairs(docs: DataFrame, tau: Double = 0.5,
      sampleMod: Int = 10, maxDf: Int = 256): DataFrame = {
    val raw = docWords(docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0))
    // df cap (one hash-agg + a hash semi-join keyed on the token —
    // both partial-aggregatable; NOT a window on w, which would be
    // the very single-reducer occupancy problem being guarded)
    val lowDf = raw.groupBy("w").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("w")
    // one materialization of the df-capped token frame — its THREE
    // consumers (sizes + both self-join sides) would otherwise each
    // replay the scan+tokenize+df chain (lazy, so construction stays
    // free)
    val words = raw.join(lowDf.hint("shuffle_hash"), Seq("w"), "left_semi")
      .localCheckpoint(eager = false)
    val sizes = words.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = words.as("a").hint("shuffle_hash")
      .join(words.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1"))
        .hint("shuffle_hash"), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2"))
        .hint("shuffle_hash"), "d2")
      .withColumn("c12", col("common").cast("double") / col("n1"))
      .withColumn("c21", col("common").cast("double") / col("n2"))
      .withColumn("containment", greatest(col("c12"), col("c21")))
      .filter(col("containment") >= tau)
      .withColumn("direction",
        when(col("c12") >= col("c21"), lit("1_in_2")).otherwise(lit("2_in_1")))
      .select("d1", "d2", "n1", "n2", "common", "c12", "c21",
        "containment", "direction")
      .orderBy("d1", "d2")
  }

  def containmentPairsSql(tau: Double = 0.5, sampleMod: Int = 10,
      maxDf: Int = 256): String =
    s"""WITH raw AS (
       |  SELECT DISTINCT doc_id, w FROM (
       |    SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents WHERE doc_id % $sampleMod = 0) t WHERE w <> ''),
       |keep AS (SELECT w FROM raw GROUP BY w HAVING COUNT(*) <= $maxDf),
       |words AS (SELECT raw.doc_id, raw.w FROM raw JOIN keep USING (w)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d1, d2, s1.n AS n1, s2.n AS n2, common,
       |    CAST(common AS DOUBLE) / s1.n AS c12,
       |    CAST(common AS DOUBLE) / s2.n AS c21
       |  FROM pairs
       |  JOIN sizes s1 ON d1 = s1.doc_id
       |  JOIN sizes s2 ON d2 = s2.doc_id)
       |SELECT d1, d2, n1, n2, common, c12, c21,
       |  GREATEST(c12, c21) AS containment,
       |  CASE WHEN c12 >= c21 THEN '1_in_2' ELSE '2_in_1' END AS direction
       |FROM scored WHERE GREATEST(c12, c21) >= $tau
       |ORDER BY d1, d2""".stripMargin

  /** Cross-SOURCE shingle-overlap matrix — the dedup diagnostic a
    * multi-source corpus runs before mixing: for every source pair,
    * how many distinct word-3-gram shingles they share and the
    * Jaccard of their shingle sets (which feeds "these two crawls are
    * the same site" / "this source is a re-scrape" decisions before
    * any pairwise doc dedup is attempted).
    *
    * Scale shape: the frame is (source, shingle-hash) DISTINCT —
    * dictionary-sized, not corpus-sized — and the self-join is an
    * inverted index keyed by the 60-bit hash whose per-key occupancy
    * is bounded by the SOURCE COUNT (≤ sources rows per shingle, so
    * pairs per key ≤ sources², independent of corpus size). Output is
    * sources² rows. Checkpointed before self-joining per the house
    * rule; Jaccard is an exact-integer ratio, unrounded.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("source"), TextFunctions.words(col("text")).as("ws"))
      // r19: per-doc array_distinct PRE-shrinks the exchange feeding
      // the cross-doc distinct (which stays — dedup here is per
      // SOURCE, across documents, so the map-side set alone is not
      // enough); same final set, fewer shuffled rows (guide §2.3)
      .select(col("source"), explode(array_distinct(expr(shingleArrExpr))).as("sh"))
      .select(col("source"), expr(shingleHashExpr).as("h"))
      .distinct()
      .localCheckpoint()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    sh.as("a").hint("shuffle_hash")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("source_a"), col("n").as("n_a"))
        .hint("shuffle_hash"), "source_a")
      .join(sizes.select(col("source").as("source_b"), col("n").as("n_b"))
        .hint("shuffle_hash"), "source_b")
      .withColumn("jaccard",
        col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")))
      .select("source_a", "source_b", "n_a", "n_b", "n_shared", "jaccard")
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String =
    """WITH sh AS (
      |  SELECT source,
      |    concat_ws(' ', arr[j], arr[j + 1], arr[j + 2]) AS sh
      |  FROM (SELECT source, arr,
      |          UNNEST(range(1, greatest(len(arr) - 3, 0) + 2)) AS j
      |        FROM (SELECT source,
      |                regexp_split_to_array(trim(text), '\s+') AS arr
      |              FROM documents) t0) t1),
      |shh AS (
      |  SELECT DISTINCT source,
      |    CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) AS h
      |  FROM sh),
      |sizes AS (SELECT source, COUNT(*) AS n FROM shh GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    COUNT(*) AS n_shared
      |  FROM shh a JOIN shh b ON a.h = b.h AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_shared,
      |  CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON source_a = sa.source
      |JOIN sizes sb ON source_b = sb.source
      |ORDER BY source_a, source_b""".stripMargin

  val jaccardHistogramSql: String =
    """WITH words AS (
      |  SELECT DISTINCT doc_id, w FROM (
      |    SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS w
      |    FROM documents WHERE doc_id % 10 = 0) t WHERE w <> ''),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
      |  FROM words a JOIN words b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT CAST(FLOOR(CAST(common AS DOUBLE) / (s1.n + s2.n - common) * 20)
      |         AS BIGINT) AS bucket,
      |       COUNT(*) AS n_pairs
      |FROM pairs
      |JOIN sizes s1 ON d1 = s1.doc_id
      |JOIN sizes s2 ON d2 = s2.doc_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Word 3-gram shingles per document. `get()` (NULL out of bounds,
    * matching DuckDB's 1-indexed `arr[j]`) instead of `ws[i]` — under
    * ANSI mode a direct index THROWS for documents shorter than 3
    * words, which real corpora contain even though the fixtures don't;
    * `concat_ws` then drops the missing tail words on both engines
    * identically.
    */
  /** SQL-expression fragment building the word-3-gram shingle array
    * from a token array `ws` — the ONE definition every shingle
    * consumer (explode paths and the map-side set-size computation)
    * shares, so the Jaccard denominator can never silently diverge
    * from the joined shingle sets.
    */
  private val shingleArrExpr: String =
    """transform(sequence(0, greatest(size(ws) - 3, 0)),
      |          i -> concat_ws(' ', get(ws, i), get(ws, i+1), get(ws, i+2)))""".stripMargin

  /** The repo's portable 60-bit md5 hash of a shingle string `sh` —
    * the fused [[graft.functions.Md5Prefix60]] kernel (r19),
    * bit-identical to `CAST(conv(substring(md5(sh), 1, 15), 16, 10)
    * AS BIGINT)` (spec-pinned) without the hex/substring/radix-parse
    * allocations. The DuckDB oracles keep the literal conv form —
    * same value by construction.
    */
  private val shingleHashExpr: String = "md5_prefix60(sh)"

  /** r19: the per-doc shingle-set dedup is MAP-SIDE
    * (`array_distinct` on the shingle array before the explode), not
    * a `distinct()` — doc_id rides every row, so global distinct ≡
    * within-doc distinct, and the exchange+two-hash-aggregates the
    * old form paid (the dominant term of the md5-LSH signature
    * pipeline per the r18 OptProbe split) buy nothing a per-row hash
    * set doesn't. Same row set, zero shuffles (guide §2.4).
    */
  private def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFunctions.words(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(expr(shingleArrExpr))).as("sh"))

  /** Width guard for CPU-heavy per-shingle pipelines (×numHashes md5
    * per shingle, r19): with the shingle `distinct()` exchange gone
    * map-side, the seed-explode md5 work runs pipelined FROM THE SCAN
    * — and a single-file fixture parquet (or a small delta) offers one
    * scan task, serializing work the old accidental exchange used to
    * spread. Spread the narrow (doc_id, text) rows across the session
    * slots first, but ONLY when the scan is narrower than the session
    * (the r18 CC-width rule): at corpus scale the scan width already
    * exceeds the slot count and no exchange is added — strictly fewer
    * shuffled bytes than the old post-explode distinct at any scale
    * (raw text vs ~3× overlapping shingle strings). Hash-keyed on
    * doc_id (deterministic under retry, guide §2.5) with an explicit
    * count so AQE's size-targeted coalescing can't re-serialize the
    * byte-small, CPU-heavy stage (r15 convention).
    */
  private def widthSpread(docs: DataFrame): DataFrame =
    Kernels.widthSpread(docs, col("doc_id"))

  /** MinHash + LSH banding near-dup candidates — the scale path.
    * k=64 minhashes per doc (one pass over exploded shingles, 64
    * `min(xxhash64(seed, shingle))` aggregates — a single shuffle);
    * signatures banded 16×4 and exploded to (band, bandHash) keys; a
    * self-join per bucket yields candidates (threshold ≈ (1/16)^(1/4)
    * ≈ 0.5); estimated similarity = matching signature fraction.
    * At 100 TB: candidate generation shuffles only (doc, band) rows —
    * never all pairs — and degenerate buckets are occupancy-guarded
    * (see [[DefaultBucketCap]]): buckets over the cap link members to
    * the bucket-min doc linearly instead of pairing quadratically.
    * xxhash64 is Spark-specific → rows-only check (no DuckDB oracle),
    * covered by unit test instead.
    */
  /** xxhash64 signatures banded to (doc_id, sig, band, band_hash) —
    * the shared front end of [[minHashLsh]] and [[incrementalLsh]].
    */
  private def bandedXxSigs(docs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    // one-pass signature via the custom TypedImperativeAggregate —
    // k× smaller expression tree than k separate min(xxhash64(...))
    // columns, same single-shuffle partial-agg shape
    // the expensive shingle → minhash pipeline is materialized ONCE,
    // as the narrow (doc_id, sig) frame, and the band explode is
    // derived LAZILY from the checkpoint per consumer side — a
    // post-explode checkpoint would store `bands` copies of every
    // 64-element signature (16× the bytes), which was the shared-JVM
    // heap churn behind the r8 16×-ladder outlier (116 s in-sweep vs
    // 17 s isolated). Re-deriving the explode from the checkpoint is
    // a hash-of-slice per band — trivial next to the avoided storage.
    val sigs = shingles(docs).groupBy("doc_id").agg(
      graft.functions.VectorFunctions
        .minhash_signature(col("sh"), numHashes).as("sig"))
      .localCheckpoint()
    sigs.select(col("doc_id"), col("sig"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> hash(slice(sig, b*$rowsPerBand + 1, $rowsPerBand)))")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** Default per-(band, bucket) occupancy cap for the LSH band
    * self-joins. A band join emits occupancy² candidate pairs per
    * bucket; real web-scale corpora GUARANTEE degenerate buckets
    * (boilerplate templates, empty/near-empty texts) of 10⁴–10⁶ docs,
    * and one 10⁶-occupancy bucket is 5·10¹¹ pairs on a single shuffle
    * key — a stage that never finishes. Buckets at or under the cap
    * pair exactly; buckets over it take a LINEAR star-edge shortcut
    * (members of a mega-bucket share a full band signature and are
    * near-certain duplicates, so linking each to the bucket-min doc
    * preserves the downstream connected component without pairing).
    * 256 keeps the worst normal bucket at ≤32k pairs while never
    * triggering at fixture scale, so every oracle entry's plan and
    * output are unchanged there.
    */
  val DefaultBucketCap: Int = 256

  /** Over-cap (mega) buckets of a banded signature frame: one row per
    * (keys…) bucket whose occupancy exceeds `cap`, carrying the
    * bucket-min doc_id. One map-side-combined aggregate over the
    * banded frame. NOT checkpointed here (r18): the common corpus has
    * zero mega buckets, where the guard's `count()` is the frame's
    * only consumer — an up-front checkpoint was a second
    * materialization job paid on every construction; the rare
    * non-empty branch checkpoints at its call site before reuse.
    */
  private def overCapBuckets(banded: DataFrame, keys: Seq[String],
      cap: Int): DataFrame =
    banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("occ"), min(col("doc_id")).as("bmin"))
      .filter(col("occ") > cap)
      .select((keys :+ "bmin").map(col): _*)

  /** Occupancy-guarded band self-join — the shared candidate
    * generator behind [[minHashLsh]], [[minHashLshMd5]] and
    * [[simHashPairs]]. Emits one (d1, d2, score) row per banded
    * collision (call sites dedup): buckets ≤ `cap` self-join exactly
    * as before; mega buckets emit bucket-min → member star edges,
    * linear in occupancy. When no bucket exceeds the cap (every
    * fixture) the plan is EXACTLY the unguarded self-join — the only
    * added work is the occupancy aggregate. The mega-bucket frame is
    * broadcast when small and shuffle-hash-joined past 100k buckets
    * (degenerate-beyond-degenerate corpora), so the guard itself
    * can't become the bottleneck.
    *
    * CONSTRUCTION IS EAGER (the `connectedComponents` convention):
    * choosing between the plain self-join, a broadcast guard and a
    * shuffled guard requires the actual mega-bucket count, so
    * building the returned frame runs the occupancy aggregate (plus
    * the upstream signature checkpoint) as real jobs. Every public
    * caller notes this; a lazy both-branches union was considered and
    * rejected — it would pay the guard's anti-join on every corpus to
    * save two cheap jobs on construction.
    */
  private def guardedSelfJoinPairs(banded: DataFrame, keys: Seq[String],
      cap: Int)(score: Column, scoreName: String): DataFrame = {
    def pairJoin(left: DataFrame, right: DataFrame,
        ordered: Boolean): DataFrame = {
      val keyCond = keys.map(k => col(s"a.$k") === col(s"b.$k"))
        .reduce(_ && _)
      val cond =
        if (ordered) keyCond && col("a.doc_id") < col("b.doc_id")
        else keyCond
      left.as("a").join(right.as("b"), cond)
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          score.as(scoreName))
    }
    val mega0 = overCapBuckets(banded, keys, cap)
    val megaCount = mega0.count()
    if (megaCount == 0L) pairJoin(banded, banded, ordered = true)
    else {
      // non-empty guard branch: NOW checkpoint — the frame is read by
      // both the anti-join prune and the star-edge split below (one
      // extra aggregate run vs the old always-checkpoint, paid only on
      // degenerate corpora that actually have mega buckets)
      val mega = mega0.localCheckpoint()
      val keyed =
        if (megaCount <= 100000L) broadcast(mega)
        else mega.hint("shuffle_hash")
      val normal = banded.join(keyed.select(keys.map(col): _*),
        keys, "left_anti")
      val flagged = banded.join(keyed, keys)
        .select((banded.columns :+ "bmin").toIndexedSeq.map(col): _*)
      val roots = flagged.filter(col("doc_id") === col("bmin")).drop("bmin")
      val members = flagged.filter(col("doc_id") =!= col("bmin")).drop("bmin")
      pairJoin(normal, normal, ordered = true)
        .unionAll(pairJoin(roots, members, ordered = false))
    }
  }

  /** CONSTRUCTING this frame is eager: the signature checkpoint and
    * the occupancy-guard branch run as jobs before the frame returns
    * (see [[guardedSelfJoinPairs]]).
    */
  def minHashLsh(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      minEstSim: Double = 0.5,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val banded = bandedXxSigs(docs, numHashes, bands)
    // score each banded collision immediately (est_sim is a pure
    // function of the pair, identical across its ≤`bands` copies),
    // then dedup three scalars — not a distinct() hauling two
    // 64-element signature arrays per candidate through the shuffle
    guardedSelfJoinPairs(banded, Seq("band", "band_hash"), bucketCap)(
        expr(s"""aggregate(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1, 0)),
           |          0, (acc, v) -> acc + v) / CAST($numHashes AS DOUBLE)""".stripMargin),
        "est_sim")
      .groupBy("d1", "d2").agg(first("est_sim").as("est_sim"))
      .filter(col("est_sim") >= minEstSim)
      .select("d1", "d2", "est_sim")
      .orderBy("d1", "d2")
  }

  /** [[minHashLsh]] with a cross-engine-portable hash family: minhash
    * h(seed, shingle) = int(md5(seed:shingle)[0:15 hex]) — md5 is
    * identical in every engine, so unlike the xxhash64 form this
    * variant is fully DuckDB-oracle-checkable (the hard evidence that
    * the banding/candidate/estimation pipeline is right; the xxhash64
    * form stays the bench path — one fused aggregate vs k md5 calls).
    * Same LSH shape: shuffle on (band, band signature), never
    * all-pairs. As a verification artifact its budget is capped: 16
    * hashes × 4 bands over a deterministic 1-in-`sampleMod` document
    * sample — the proof of pipeline shape doesn't need the full corpus
    * or the full signature width.
    */
  /** md5-family signatures banded to (doc_id, sig, band, bsig) over a
    * deterministic 1-in-`sampleMod` document sample — the shared front
    * end of [[minHashLshMd5]] and [[incrementalLshMd5]].
    */
  private def bandedMd5Sigs(docs: DataFrame, numHashes: Int, bands: Int,
      sampleMod: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val mins = shingles(widthSpread(
        docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0)))
      .select(col("doc_id"), col("sh"),
        explode(expr(s"sequence(0, ${numHashes - 1})")).as("seed"))
      .withColumn("h", expr(
        "md5_prefix60(concat(CAST(seed AS STRING), ':', sh))"))
      .groupBy("doc_id", "seed").agg(min(col("h")).as("mh"))
    // same checkpoint discipline as [[bandedXxSigs]]: the md5
    // signature pipeline is materialized once pre-explode (narrow
    // (doc_id, sig)); the band slices are derived lazily per side
    val sigs = mins.groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(seed, mh))), x -> x.mh)")
        .as("sig"))
      .localCheckpoint()
    sigs.select(col("doc_id"), col("sig"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> slice(sig, b*$rowsPerBand + 1, $rowsPerBand))")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bsig")
  }

  /** CONSTRUCTING this frame is eager — signature checkpoint +
    * occupancy-guard jobs (see [[guardedSelfJoinPairs]]).
    */
  def minHashLshMd5(docs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      minEstSim: Double = 0.5, sampleMod: Int = 2,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    minHashLshMd5Collisions(docs, numHashes, bands, minEstSim, sampleMod,
        bucketCap)
      .groupBy("d1", "d2").agg(first("est_sim").as("est_sim"))
      .select("d1", "d2", "est_sim")
      .orderBy("d1", "d2")

  /** Per-collision md5-LSH candidate rows — [[minHashLshMd5]] WITHOUT
    * the terminal (d1, d2) dedup: one row per banded collision (a pair
    * colliding in k bands appears k times), already threshold-filtered.
    * `est_sim` is a pure function of the pair's signatures, identical
    * across its copies, so filtering per collision row ≡ filtering the
    * deduped pair (what [[minHashLshMd5]] does by grouping first).
    * Consumers that dedup downstream anyway ([[clustersLshMd5]]'s edge
    * canonicalization inside [[connectedComponents]]) take this form
    * and skip one whole exchange+aggregate per clustering entry (r18).
    * CONSTRUCTION IS EAGER (the [[guardedSelfJoinPairs]] convention).
    */
  private[operators] def minHashLshMd5Collisions(docs: DataFrame,
      numHashes: Int = 16, bands: Int = 4, minEstSim: Double = 0.5,
      sampleMod: Int = 2, bucketCap: Int = DefaultBucketCap): DataFrame = {
    val banded = bandedMd5Sigs(docs, numHashes, bands, sampleMod)
    // same per-collision scoring as [[minHashLsh]]
    guardedSelfJoinPairs(banded, Seq("band", "bsig"), bucketCap)(
        expr(s"""CAST(aggregate(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1, 0)),
           |     0, (acc, v) -> acc + v) AS DOUBLE) / $numHashes""".stripMargin),
        "est_sim")
      .filter(col("est_sim") >= minEstSim)
  }

  /** DuckDB oracle for [[minHashLshMd5]] — the same md5-derived hash
    * family via `CAST('0x…' AS BIGINT)`, banding via list-valued group
    * keys, estimation via a pairwise seed join.
    */
  def minHashLshMd5Sql(numHashes: Int = 16, bands: Int = 4,
      minEstSim: Double = 0.5, sampleMod: Int = 2,
      ordered: Boolean = true): String = {
    val rowsPerBand = numHashes / bands
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id,
       |    concat_ws(' ', arr[j], arr[j + 1], arr[j + 2]) AS sh
       |  FROM (SELECT doc_id, arr,
       |          UNNEST(range(1, greatest(len(arr) - 3, 0) + 2)) AS j
       |        FROM (SELECT doc_id,
       |                regexp_split_to_array(trim(text), '\\s+') AS arr
       |              FROM documents
       |              WHERE doc_id % $sampleMod = 0) t0) t1),
       |mins AS (
       |  SELECT doc_id, seed,
       |    MIN(CAST('0x' || substring(md5(seed || ':' || sh), 1, 15) AS BIGINT)) AS mh
       |  FROM sh CROSS JOIN (SELECT UNNEST(range(0, $numHashes)) AS seed) s
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, seed // $rowsPerBand AS band,
       |    LIST(mh ORDER BY seed) AS bsig
       |  FROM mins GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id)
       |SELECT d1, d2,
       |  CAST(SUM(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) AS DOUBLE)
       |    / $numHashes AS est_sim
       |FROM cands
       |JOIN mins m1 ON m1.doc_id = d1
       |JOIN mins m2 ON m2.doc_id = d2 AND m1.seed = m2.seed
       |GROUP BY 1, 2
       |HAVING est_sim >= $minEstSim""".stripMargin +
      (if (ordered) "\nORDER BY d1, d2" else "")
  }

  /** [[containmentPairs]]' 100 TB path — the banded-candidate rewrite
    * (real code as of r10; the exact inverted-index form stays the
    * sampled yardstick): candidates come from the SHARED md5
    * minhash-LSH front end ([[bandedMd5Sigs]] — same sample, same
    * occupancy guards via [[guardedSelfJoinPairs]]), and exact SHINGLE
    * containment is computed on candidates only — never all pairs.
    * The identity C(A→B) = J(A,B)·(|A∪B|/|A|) states the effective
    * candidate threshold: banding recalls pairs at Jaccard ≳
    * (1/bands)^(rows/hashes) ≈ 0.5, i.e. containment candidates at
    * C ≳ τ_J·|A∪B|/|A| — a near-superset pair with a tiny |A|/|B|
    * ratio can sit below the symmetric banding threshold (the
    * structural recall limit of Jaccard-LSH fronting an asymmetric
    * measure; [[containmentChunkLshMd5]] is the asymmetric path that
    * closes it by banding the long side at chunk granularity).
    * Scores are exact-integer ratios over the
    * 60-bit shingle hashes — unrounded by the house rule — so the
    * whole pipeline is DuckDB-oracle-checkable.
    *
    * Scale shape: one guarded band self-join (≤cap² pairs per bucket),
    * then per-candidate set intersection via two hash joins against
    * the narrow (doc_id, shingle-hash) frame — cost linear in
    * (candidates × shingles-per-doc), nothing quadratic in corpus.
    *
    * CONSTRUCTING this frame is eager — signature + shingle-set
    * checkpoints and the occupancy-guard jobs (see
    * [[guardedSelfJoinPairs]]).
    */
  def containmentLshMd5(docs: DataFrame, tau: Double = 0.5,
      numHashes: Int = 16, bands: Int = 4, sampleMod: Int = 2,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val banded = bandedMd5Sigs(docs, numHashes, bands, sampleMod)
    val cands = guardedSelfJoinPairs(banded, Seq("band", "bsig"), bucketCap)(
        lit(1), "one")
      .select("d1", "d2").distinct()
    // narrow (doc_id, 60-bit shingle hash) set frame, read three times
    // (sizes + both intersection sides) → checkpoint once
    val sh = shingles(docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0))
      .select(col("doc_id"), expr(shingleHashExpr).as("h"))
      .localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cands.hint("shuffle_hash")
      .join(sh.select(col("doc_id").as("d1"), col("h")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("h")).hint("shuffle_hash"),
        Seq("d2", "h"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1"))
        .hint("shuffle_hash"), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2"))
        .hint("shuffle_hash"), "d2")
      .withColumn("c12", col("common").cast("double") / col("n1"))
      .withColumn("c21", col("common").cast("double") / col("n2"))
      .withColumn("containment", greatest(col("c12"), col("c21")))
      .filter(col("containment") >= tau)
      .withColumn("direction",
        when(col("c12") >= col("c21"), lit("1_in_2")).otherwise(lit("2_in_1")))
      .select("d1", "d2", "n1", "n2", "common", "c12", "c21",
        "containment", "direction")
      .orderBy("d1", "d2")
  }

  /** DuckDB oracle for [[containmentLshMd5]] — same md5 minhash
    * banding as [[minHashLshMd5Sql]], then exact shingle containment
    * on the banded candidates only.
    */
  def containmentLshMd5Sql(tau: Double = 0.5, numHashes: Int = 16,
      bands: Int = 4, sampleMod: Int = 2): String = {
    val rowsPerBand = numHashes / bands
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id,
       |    concat_ws(' ', arr[j], arr[j + 1], arr[j + 2]) AS sh
       |  FROM (SELECT doc_id, arr,
       |          UNNEST(range(1, greatest(len(arr) - 3, 0) + 2)) AS j
       |        FROM (SELECT doc_id,
       |                regexp_split_to_array(trim(text), '\\s+') AS arr
       |              FROM documents
       |              WHERE doc_id % $sampleMod = 0) t0) t1),
       |shh AS (
       |  SELECT doc_id,
       |    CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) AS h
       |  FROM sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY 1),
       |mins AS (
       |  SELECT doc_id, seed,
       |    MIN(CAST('0x' || substring(md5(seed || ':' || sh), 1, 15) AS BIGINT)) AS mh
       |  FROM sh CROSS JOIN (SELECT UNNEST(range(0, $numHashes)) AS seed) s
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, seed // $rowsPerBand AS band,
       |    LIST(mh ORDER BY seed) AS bsig
       |  FROM mins GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
       |com AS (
       |  SELECT d1, d2, COUNT(*) AS common
       |  FROM cands
       |  JOIN shh s1 ON s1.doc_id = d1
       |  JOIN shh s2 ON s2.doc_id = d2 AND s1.h = s2.h
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d1, d2, z1.n AS n1, z2.n AS n2, common,
       |    CAST(common AS DOUBLE) / z1.n AS c12,
       |    CAST(common AS DOUBLE) / z2.n AS c21
       |  FROM com
       |  JOIN sizes z1 ON d1 = z1.doc_id
       |  JOIN sizes z2 ON d2 = z2.doc_id)
       |SELECT d1, d2, n1, n2, common, c12, c21,
       |  GREATEST(c12, c21) AS containment,
       |  CASE WHEN c12 >= c21 THEN '1_in_2' ELSE '2_in_1' END AS direction
       |FROM scored WHERE GREATEST(c12, c21) >= $tau
       |ORDER BY d1, d2""".stripMargin
  }

  /** Per-doc shingle-hash frame (doc_id, h) — the narrow exact-verify
    * input shared by the containment paths and persisted by
    * [[writeContainmentStore]]. `docs` arrives pre-sampled.
    */
  private def shingleHashFrame(docs: DataFrame): DataFrame =
    shingles(docs).select(col("doc_id"), expr(shingleHashExpr).as("h"))

  /** Per-chunk banded md5 minhash signatures (doc_id, band, bsig) over
    * a deterministic 1-in-`sampleMod` document sample — the container
    * index of [[containmentChunkLshMd5]], factored out so the one-shot
    * path and the persisted store ([[writeContainmentStore]] /
    * [[appendToContainmentStore]]) build the IDENTICAL frame. Chunks
    * are sliding word windows of `chunkWords` every `stride` (the
    * [[CorpusPipeline.chunkDocuments]] window rule); signatures are
    * pre-explode-checkpointed (r9 convention) and band rows derived
    * lazily.
    */
  private def chunkBandedMd5Sigs(docs: DataFrame, chunkWords: Int,
      stride: Int, numHashes: Int, bands: Int,
      sampleMod: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sample = widthSpread(
      docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0))
    val chunkSigs = sample
      .select(col("doc_id"), TextFunctions.words(col("text")).as("ws"))
      .where(size(col("ws")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, greatest(CAST(ceil((size(ws) - $chunkWords)
           |  / CAST($stride AS DOUBLE)) AS INT), 0)),
           |  ci -> slice(ws, ci * $stride + 1, $chunkWords))""".stripMargin)))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "ws")
      // r19: per-(doc, chunk) shingle dedup map-side (array_distinct,
      // the [[shingles]] rule) — the old explode→distinct() exchange
      // bought nothing a per-row hash set doesn't
      .select(col("doc_id"), col("chunk"),
        explode(array_distinct(expr(shingleArrExpr))).as("sh"))
      .select(col("doc_id"), col("chunk"), col("sh"),
        explode(expr(s"sequence(0, ${numHashes - 1})")).as("seed"))
      .withColumn("h", expr(
        "md5_prefix60(concat(CAST(seed AS STRING), ':', sh))"))
      .groupBy("doc_id", "chunk", "seed").agg(min(col("h")).as("mh"))
      .groupBy("doc_id", "chunk")
      .agg(expr("transform(array_sort(collect_list(struct(seed, mh))), x -> x.mh)")
        .as("sig"))
      .localCheckpoint()
    chunkSigs
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> slice(sig, b*$rowsPerBand + 1, $rowsPerBand))")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bsig")
      .select("doc_id", "band", "bsig").distinct()
  }

  /** ASYMMETRIC containment via chunk-LSH — the recall closure for
    * the tiny-A-in-giant-B case that symmetric Jaccard banding
    * ([[containmentLshMd5]]) structurally misses: a short document
    * wholly embedded in a long one has Jaccard |A|/|B| ≈ 0, so no
    * whole-signature band can collide. Here the LONG side is banded
    * at CHUNK granularity (sliding word windows of `chunkWords` /
    * `stride` — the [[CorpusPipeline.chunkDocuments]] window rule), so
    * an embedded A matches the chunk covering it at chunk-local
    * Jaccard ≈ |A|/chunkWords, back above the banding threshold
    * whatever |B| is. Candidates = whole-doc signatures ⋈ chunk
    * signatures on (band, bsig); exact DIRECTED shingle containment
    * C(d1→d2) = |S(d1) ∩ S(d2)| / |S(d1)| is then verified on
    * candidates only, over FULL document shingle sets.
    *
    * Scale shape: chunk signatures cost (len/stride)× the whole-doc
    * signature pass but stay linear in corpus size; the container
    * chunk index is occupancy-guarded ([[truncateOverCapBuckets]] — a
    * boilerplate chunk shared by 10⁶ docs pairs each probe against ≤
    * `bucketCap` of them, deterministically); the verify stage is the
    * same two hash joins against the narrow (doc_id, shingle-hash)
    * frame as the symmetric path. Nothing quadratic anywhere.
    *
    * CONSTRUCTING this frame is eager — signature/shingle checkpoints
    * + the occupancy-guard jobs (house convention).
    */
  def containmentChunkLshMd5(docs: DataFrame, tau: Double = 0.5,
      chunkWords: Int = 16, stride: Int = 8, numHashes: Int = 16,
      bands: Int = 4, sampleMod: Int = 2,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val sample = docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0)
    // SHORT side: whole-doc signatures from the shared front end
    val whole = bandedMd5Sigs(docs, numHashes, bands, sampleMod)
      .select(col("doc_id").as("d1"), col("band"), col("bsig"))
    // LONG side: per-chunk banded signatures (shared with the
    // containment store so the two paths can never diverge)
    val chunkBanded = chunkBandedMd5Sigs(docs, chunkWords, stride,
      numHashes, bands, sampleMod)
    val guarded = truncateOverCapBuckets(chunkBanded, Seq("band", "bsig"),
      bucketCap)
    val cands = whole.hint("shuffle_hash")
      .join(guarded.select(col("doc_id").as("d2"), col("band"), col("bsig")),
        Seq("band", "bsig"))
      .filter(col("d1") =!= col("d2"))
      .select("d1", "d2").distinct()
    // exact DIRECTED verify on candidates, over FULL doc shingle sets
    val sh = shingleHashFrame(sample).localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    cands.hint("shuffle_hash")
      .join(sh.select(col("doc_id").as("d1"), col("h")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("h")).hint("shuffle_hash"),
        Seq("d2", "h"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1"))
        .hint("shuffle_hash"), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2"))
        .hint("shuffle_hash"), "d2")
      .withColumn("containment", col("common").cast("double") / col("n1"))
      .filter(col("containment") >= tau)
      .select("d1", "d2", "n1", "n2", "common", "containment")
      .orderBy("d1", "d2")
  }

  /** DuckDB oracle for [[containmentChunkLshMd5]] — whole-doc and
    * per-chunk md5 minhash banding, asymmetric band join, exact
    * directed containment on candidates.
    */
  def containmentChunkLshMd5Sql(tau: Double = 0.5, chunkWords: Int = 16,
      stride: Int = 8, numHashes: Int = 16, bands: Int = 4,
      sampleMod: Int = 2): String =
    containmentChunkSql(tau, chunkWords, stride, numHashes, bands,
      sampleMod, wholePred = "", chunkPred = "")

  /** DuckDB oracle for [[containmentFromStore]] over the standard
    * base/delta carve (`doc_id % deltaMod`): the SAME one-frame SQL
    * with the whole-doc (probe) side restricted to the delta and the
    * chunk (container) side to the base — the
    * store-round-trip-changes-nothing pattern.
    */
  def containmentStoreSql(tau: Double = 0.5, deltaMod: Int = 3,
      chunkWords: Int = 16, stride: Int = 8, numHashes: Int = 16,
      bands: Int = 4, sampleMod: Int = 2): String =
    containmentChunkSql(tau, chunkWords, stride, numHashes, bands,
      sampleMod, wholePred = s"doc_id % $deltaMod = 0",
      chunkPred = s"doc_id % $deltaMod <> 0")

  /** Shared SQL builder for the chunk-LSH containment twins.
    * `wholePred` / `chunkPred` restrict the whole-doc (probe) and
    * chunk (container) sides respectively — empty = unrestricted (the
    * symmetric one-frame twin). The shingle-hash / size CTEs stay
    * unrestricted: only candidate pairs consult them, and a pair's
    * endpoints already satisfy the side predicates.
    */
  private def containmentChunkSql(tau: Double, chunkWords: Int,
      stride: Int, numHashes: Int, bands: Int, sampleMod: Int,
      wholePred: String, chunkPred: String): String = {
    val rowsPerBand = numHashes / bands
    val wWhere = if (wholePred.isEmpty) "" else s" WHERE $wholePred"
    val cAnd = if (chunkPred.isEmpty) "" else s" AND $chunkPred"
    s"""WITH docs_s AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
       |  FROM documents WHERE doc_id % $sampleMod = 0),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    concat_ws(' ', ws[j], ws[j + 1], ws[j + 2]) AS sh
       |  FROM (SELECT doc_id, ws,
       |          UNNEST(range(1, greatest(len(ws) - 3, 0) + 2)) AS j
       |        FROM docs_s) t),
       |shh AS (
       |  SELECT doc_id,
       |    CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) AS h
       |  FROM sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY 1),
       |wmins AS (
       |  SELECT doc_id, seed,
       |    MIN(CAST('0x' || substring(md5(seed || ':' || sh), 1, 15) AS BIGINT)) AS mh
       |  FROM sh CROSS JOIN (SELECT UNNEST(range(0, $numHashes)) AS seed) s$wWhere
       |  GROUP BY 1, 2),
       |wbands AS (
       |  SELECT doc_id, seed // $rowsPerBand AS band,
       |    LIST(mh ORDER BY seed) AS bsig
       |  FROM wmins GROUP BY 1, 2),
       |ch AS (
       |  SELECT doc_id, ci,
       |    ws[ci * $stride + 1 : ci * $stride + $chunkWords] AS cws
       |  FROM (SELECT doc_id, ws,
       |          UNNEST(range(0, GREATEST(CAST(ceil((len(ws) - $chunkWords)
       |            / CAST($stride AS DOUBLE)) AS INTEGER), 0) + 1)) AS ci
       |        FROM docs_s WHERE len(ws) > 0$cAnd) t),
       |csh AS (
       |  SELECT DISTINCT doc_id, ci,
       |    concat_ws(' ', cws[j], cws[j + 1], cws[j + 2]) AS sh
       |  FROM (SELECT doc_id, ci, cws,
       |          UNNEST(range(1, greatest(len(cws) - 3, 0) + 2)) AS j
       |        FROM ch) t),
       |cmins AS (
       |  SELECT doc_id, ci, seed,
       |    MIN(CAST('0x' || substring(md5(seed || ':' || sh), 1, 15) AS BIGINT)) AS mh
       |  FROM csh CROSS JOIN (SELECT UNNEST(range(0, $numHashes)) AS seed) s
       |  GROUP BY 1, 2, 3),
       |cbands AS (
       |  SELECT DISTINCT doc_id, band, bsig FROM (
       |    SELECT doc_id, ci, seed // $rowsPerBand AS band,
       |      LIST(mh ORDER BY seed) AS bsig
       |    FROM cmins GROUP BY 1, 2, 3) t),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM wbands a JOIN cbands b
       |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id <> b.doc_id),
       |com AS (
       |  SELECT d1, d2, COUNT(*) AS common
       |  FROM cands
       |  JOIN shh s1 ON s1.doc_id = d1
       |  JOIN shh s2 ON s2.doc_id = d2 AND s1.h = s2.h
       |  GROUP BY 1, 2)
       |SELECT d1, d2, z1.n AS n1, z2.n AS n2, common,
       |  CAST(common AS DOUBLE) / z1.n AS containment
       |FROM com
       |JOIN sizes z1 ON d1 = z1.doc_id
       |JOIN sizes z2 ON d2 = z2.doc_id
       |WHERE CAST(common AS DOUBLE) / z1.n >= $tau
       |ORDER BY d1, d2""".stripMargin
  }

  // -------------------------------------------------------------------
  // Containment store — persisted chunk-LSH container index
  // -------------------------------------------------------------------

  /** Content-derived batch tag for the containment store's
    * `batch=<tag>` subdirectories: row count, max doc_id and a
    * bit_xor(xxhash64(doc_id)) content fold (r10 ensure* convention)
    * of the batch. Deterministic, so RE-RUNNING an append overwrites
    * its own directories instead of double-appending — the
    * `batch=<id>` idempotent-sink convention, applied to a batch API.
    * Returns None for an empty batch (a no-op append).
    */
  private def containmentBatchTag(docs: DataFrame): Option[String] = {
    val fp = docs.agg(count(lit(1)).as("n"), max(col("doc_id")).as("mx"),
      expr("bit_xor(xxhash64(doc_id))").as("xh")).collect().head
    if (fp.getLong(0) == 0L) None
    else Some(s"b${fp.getLong(0)}_${fp.getLong(1)}_" +
      java.lang.Long.toHexString(fp.getLong(2)))
  }

  /** One batch's three store frames, written under `batch=<tag>`
    * subdirectories with OVERWRITE — shared by
    * [[writeContainmentStore]] (into the temp staging dir) and
    * [[appendToContainmentStore]] (into the live store). Write order
    * is verify-side first, probe index LAST: at every crash point the
    * store yields only CORRECT values — a batch whose chunk index
    * hasn't landed is simply invisible to the band probe (reduced
    * recall until the idempotent retry), never a candidate whose
    * exact-verify inputs are missing (which the inner verify joins
    * would silently drop — a persistent false negative) and never
    * duplicated shingle rows (which would inflate `common`).
    */
  private def writeContainmentBatch(docs: DataFrame, root: String,
      tag: String, chunkWords: Int, stride: Int, numHashes: Int,
      bands: Int, sampleMod: Int): Unit = {
    val sample = docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0)
    // one shingle pass feeds both the hash frame and the sizes
    val sh = shingleHashFrame(sample).localCheckpoint()
    sh.write.mode("overwrite").parquet(s"$root/shingles/batch=$tag")
    sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$root/sizes/batch=$tag")
    chunkBandedMd5Sigs(docs, chunkWords, stride, numHashes, bands,
        sampleMod)
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$root/chunks/batch=$tag")
  }

  /** Persist the base corpus's CONTAINMENT INDEX — the durable
    * artifact that makes delta-vs-base containment
    * ([[containmentFromStore]]) cost ∝ batch instead of re-running
    * [[containmentChunkLshMd5]]'s container pass over the whole base
    * per ingest. Three frames under one root:
    *
    *  - `chunks/`  — per-chunk banded signatures (doc_id, bsig)
    *    hive-partitioned by `band` inside `batch=` dirs, so the band
    *    join reads whole-band directories with partition pruning;
    *  - `shingles/` — the narrow (doc_id, shingle-hash) frame the
    *    exact directed verify joins against;
    *  - `sizes/`   — per-doc shingle-set sizes (the `n2` output).
    *
    * Persisting shingle hashes is what keeps the verify stage free of
    * base-side COMPUTE: a batch's probe re-reads them as a
    * column-pruned parquet scan — no re-tokenization, no md5 — the
    * same scan-not-recompute story as [[incrementalLshStore]].
    * Published atomically: everything is written under a temp sibling,
    * a root `_SUCCESS` completeness marker last, then one
    * [[StoreSwap]].
    */
  def writeContainmentStore(baseDocs: DataFrame, path: String,
      chunkWords: Int = 16, stride: Int = 8, numHashes: Int = 16,
      bands: Int = 4, sampleMod: Int = 2): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      baseDocs.sparkSession.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".inprogress")
    fs.delete(tmp, true)
    // an EMPTY base writes no batch at all (the append path's None
    // contract): a zero-row partitionBy write produces no partition
    // dirs or files, which a later read would fail to schema-infer —
    // the store is just the completeness marker, and
    // containmentFromStore returns an empty frame for batch-less roots
    containmentBatchTag(baseDocs).foreach { tag =>
      writeContainmentBatch(baseDocs, tmp.toString, tag, chunkWords,
        stride, numHashes, bands, sampleMod)
      writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp,
        s"_applied/$tag"), Array.emptyByteArray)
    }
    fs.mkdirs(tmp)
    writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"),
      Array.emptyByteArray)
    StoreSwap.swapIn(fs, tmp, dst)
  }

  /** Fold a delta batch into the containment store so the NEXT
    * batch's probe sees it as base. Delta doc_ids must be new
    * (disjoint from the store). The append is IDEMPOTENT: all three
    * frames land under content-tagged `batch=` subdirectories with
    * overwrite ([[writeContainmentBatch]]), so a crashed append is
    * simply re-run — at every intermediate state the store returns
    * correct (at worst recall-incomplete) results, never wrong
    * values. Cost ∝ batch: chunking/signing/shingling only the delta,
    * directory-level adds, no rewrite of existing base files.
    * Append ≡ fresh [[writeContainmentStore]] over the union is
    * spec-checked (per-doc signatures and shingle sets are
    * independent of the rest of the corpus, so the union of
    * batch directories IS the fresh store's content).
    */
  def appendToContainmentStore(deltaDocs: DataFrame, path: String,
      chunkWords: Int = 16, stride: Int = 8, numHashes: Int = 16,
      bands: Int = 4, sampleMod: Int = 2): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      deltaDocs.sparkSession.sparkContext.hadoopConfiguration)
    // never seed orphan batch dirs into a missing or half-published
    // store (the TrainingExport append's contract)
    require(isCompleteSignatureStore(fs, path),
      s"appendToContainmentStore: $path is not a complete store")
    containmentBatchTag(deltaDocs).foreach { tag =>
      // `_applied/<tag>` ledger (the signature-store discipline),
      // written LAST: a replayed batch whose dirs a compaction has
      // since folded away must stay a no-op — recreating them would
      // double its shingle rows (inflating `common`) and chunk sigs.
      // A crash before the marker just re-overwrites the same dirs.
      val marker = new org.apache.hadoop.fs.Path(path, s"_applied/$tag")
      if (!fs.exists(marker)) {
        writeContainmentBatch(deltaDocs, path, tag, chunkWords, stride,
          numHashes, bands, sampleMod)
        writeSmallFile(fs, marker, Array.emptyByteArray)
      }
    }
  }

  /** [[containmentChunkLshMd5]] with the container side fed from a
    * PERSISTED store — the production ingest shape: each batch
    * computes only its OWN whole-doc signatures and shingle hashes,
    * probes the stored chunk index (band-bucket join, occupancy-capped
    * via [[truncateOverCapBuckets]]), and exact-verifies directed
    * containment C(delta→base) against the STORED shingle frame.
    * Per-batch work is O(delta) compute plus column-pruned store
    * scans — no base-side tokenization, hashing or chunking, ever
    * again. With base/delta carved from one corpus by
    * `doc_id % deltaMod`, the output is bit-identical to the
    * one-frame chunk path restricted to cross-side pairs, so
    * [[containmentStoreSql]] is this path's oracle — proving the
    * store round-trip changes nothing.
    *
    * CONSTRUCTING this frame is eager — delta signature/shingle
    * checkpoints + the store-index occupancy guard (house
    * convention).
    */
  def containmentFromStore(storePath: String, delta: DataFrame,
      tau: Double = 0.5, numHashes: Int = 16, bands: Int = 4,
      sampleMod: Int = 2,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    val spark = delta.sparkSession
    // a store written over an EMPTY base holds no batch dirs at all
    // (writeContainmentStore skips the zero-row write, which parquet
    // cannot read back) — containment against nothing is empty
    val fsc = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val chunksRoot = new org.apache.hadoop.fs.Path(s"$storePath/chunks")
    if (!fsc.exists(chunksRoot) || fsc.listStatus(chunksRoot)
        .forall(s => !s.getPath.getName.startsWith("batch="))) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long, Long, Double)]
        .toDF("d1", "d2", "n1", "n2", "common", "containment")
    }
    val whole = bandedMd5Sigs(delta, numHashes, bands, sampleMod)
      .select(col("doc_id").as("d1"), col("band"), col("bsig"))
    val baseChunks = spark.read.parquet(s"$storePath/chunks")
      .select("doc_id", "band", "bsig")
    val guarded = truncateOverCapBuckets(baseChunks, Seq("band", "bsig"),
      bucketCap)
    val cands = whole.hint("shuffle_hash")
      .join(guarded.select(col("doc_id").as("d2"), col("band"),
        col("bsig")), Seq("band", "bsig"))
      .filter(col("d1") =!= col("d2"))
      .select("d1", "d2").distinct()
    val sample = delta.filter(pmod(col("doc_id"), lit(sampleMod)) === 0)
    val sh1 = shingleHashFrame(sample).localCheckpoint()
    val n1s = sh1.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sh2 = spark.read.parquet(s"$storePath/shingles")
      .select("doc_id", "h")
    val n2s = spark.read.parquet(s"$storePath/sizes")
      .select("doc_id", "n")
    cands.hint("shuffle_hash")
      .join(sh1.select(col("doc_id").as("d1"), col("h")), "d1")
      .join(sh2.select(col("doc_id").as("d2"), col("h"))
        .hint("shuffle_hash"), Seq("d2", "h"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("common"))
      .join(n1s.select(col("doc_id").as("d1"), col("n").as("n1"))
        .hint("shuffle_hash"), "d1")
      .join(n2s.select(col("doc_id").as("d2"), col("n").as("n2"))
        .hint("shuffle_hash"), "d2")
      .withColumn("containment", col("common").cast("double") / col("n1"))
      .filter(col("containment") >= tau)
      .select("d1", "d2", "n1", "n2", "common", "containment")
      .orderBy("d1", "d2")
  }

  /** Tags of COMPLETE batches in a containment store: all three frame
    * dirs landed (their `_SUCCESS` markers exist — chunks last, per
    * the write order). A crashed append's partial dirs (shingles/sizes
    * without chunks) are excluded: they were never probe-visible, so
    * dropping them at compaction changes no result.
    */
  private def containmentStoreBatchTags(
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[String] = {
    val chunks = new org.apache.hadoop.fs.Path(s"$path/chunks")
    if (!fs.exists(chunks)) return Seq.empty
    fs.listStatus(chunks).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch="))
      .filter { t =>
        Seq("chunks", "shingles", "sizes").forall(sub => fs.exists(
          new org.apache.hadoop.fs.Path(s"$path/$sub/batch=$t/_SUCCESS")))
      }.toSeq
  }

  /** Fold all complete batch directories into ONE — the maintenance
    * pass bounding probe read-amplification in APPEND COUNT (the
    * [[compactClusterMap]] role for this family): without it every
    * probe's three store scans pay batch-count × file
    * listings/footers. Batches are doc_id-disjoint (the append
    * contract), so the fold is a pure re-layout — no aggregation,
    * probe results bit-identical (spec law).
    *
    * Published as a WHOLE-ROOT [[StoreSwap]] (this store's readers
    * enumerate batch dirs by listing, so per-dir replacement can't be
    * atomic for them): merged frames + the carried `_applied` ledger
    * + `_SUCCESS` staged under a temp sibling, one swap. The ledger
    * gains every folded tag (covering pre-ledger batches), which is
    * what keeps a replayed old batch a no-op once its dir is gone.
    * The compact tag is deterministic in the folded set (prefix `c`,
    * disjoint from content tags' `b`), so a re-run overwrites itself.
    * Returns the number of batch dirs folded (0 = nothing to do).
    */
  def compactContainmentStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    require(isCompleteSignatureStore(fs, path),
      s"compactContainmentStore: $path is not a complete store")
    compactContainmentTags(spark, path,
      containmentStoreBatchTags(fs, path))
  }

  private def compactContainmentTags(
      spark: org.apache.spark.sql.SparkSession, path: String,
      tags: Seq[String]): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (tags.size <= 1) return 0
    val ctag = StoreSwap.compactTag(tags)
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".inprogress")
    fs.delete(tmp, true)
    def merged(sub: String) = spark.read
      .option("basePath", s"$path/$sub")
      .parquet(tags.map(t => s"$path/$sub/batch=$t"): _*)
      .drop("batch")
    merged("shingles").write.parquet(s"$tmp/shingles/batch=$ctag")
    merged("sizes").write.parquet(s"$tmp/sizes/batch=$ctag")
    merged("chunks").write.partitionBy("band")
      .parquet(s"$tmp/chunks/batch=$ctag")
    val applied = new org.apache.hadoop.fs.Path(path, "_applied")
    val carried =
      if (fs.exists(applied))
        fs.listStatus(applied).map(_.getPath.getName).toSeq
      else Seq.empty
    (carried ++ tags).distinct.foreach(t =>
      writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp,
        s"_applied/$t"), Array.emptyByteArray))
    writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"),
      Array.emptyByteArray)
    StoreSwap.swapIn(fs, tmp, dst)
    tags.size
  }

  /** Compaction policy knob (the [[maintainClusterMap]] convention):
    * fold only once the complete-batch count reaches `maxBatches`, so
    * an ingest loop calls this after every append and amortizes the
    * store-sized rewrite over `maxBatches` appends. Goes through the
    * self-healing completeness gate FIRST (house rule: never a bare
    * listing on a store a crashed swap may have left in `.old`); one
    * dir listing covers both the threshold check and the fold.
    *
    * Reader caveat (single-writer, CONCURRENT readers): the fold's
    * whole-root swap retires the old generation, so a LAZY frame
    * built over the store before it breaks at execution — execute
    * store-read frames within a store generation
    * ([[containmentFromStore]] is construction-eager, so the driver
    * entries already do).
    */
  def maintainContainmentStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      maxBatches: Int = 16): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    require(isCompleteSignatureStore(fs, path),
      s"maintainContainmentStore: $path is not a complete store")
    val tags = containmentStoreBatchTags(fs, path)
    if (tags.size >= maxBatches)
      compactContainmentTags(spark, path, tags)
    else 0
  }

  /** Build-once helper for the driver entry — the containment-store
    * twin of [[ensureSignatureStore]]: `_SUCCESS` completeness gate +
    * content-fingerprint path keying, so crashed partials and stale
    * stores from regenerated fixtures are rebuilt, never trusted.
    */
  def ensureContainmentStore(baseDocs: DataFrame, tag: String,
      chunkWords: Int = 16, stride: Int = 8, numHashes: Int = 16,
      bands: Int = 4, sampleMod: Int = 2): String = {
    val fp = StoreSwap.contentFp(baseDocs, "ensureContainmentStore",
      "doc_id", Seq("doc_id", "text"))
    val path = s"/tmp/graft_ctstore_${tag}_${fp.tag}_" +
      s"${chunkWords}w${stride}s${numHashes}x${bands}" +
      s"m$sampleMod"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      baseDocs.sparkSession.sparkContext.hadoopConfiguration)
    if (!isCompleteSignatureStore(fs, path))
      writeContainmentStore(baseDocs, path, chunkWords, stride,
        numHashes, bands, sampleMod)
    path
  }

  /** Truncate over-cap buckets of a banded frame to their `cap`
    * LOWEST doc_ids, leaving normal buckets untouched — the
    * asymmetric-join occupancy guard shared by
    * [[incrementalReportSplit]] (base side) and
    * [[containmentChunkLshMd5]] (container chunk index). Bounded
    * min-k per bucket via the TopKByScore heap aggregate, NOT a
    * row_number window: the window would sort EVERY member of an
    * over-cap bucket on ONE reducer task (a 10⁶-member boilerplate
    * bucket = one straggler sorting it whole — the same
    * single-reducer class as the r8 cluster-resolution windows). The
    * k-capped heap partial-aggregates map-side (≤cap rows per bucket
    * per partition ride the shuffle); the kept row set is recovered
    * with a semi-join on the kept ids. −doc_id as the heap score is
    * exact (doc_ids ≪ 2^53), so the kept set — the cap LOWEST ids per
    * bucket — is identical to the window formulation's, row for row.
    * CONSTRUCTION IS EAGER (occupancy aggregate + count, the
    * [[guardedSelfJoinPairs]] convention).
    */
  private def truncateOverCapBuckets(b: DataFrame, keys: Seq[String],
      cap: Int): DataFrame = {
    val megaB0 = overCapBuckets(b, keys, cap)
    val megaCount = megaB0.count()
    if (megaCount == 0L) b
    else {
      // non-empty branch re-reads the mega frame (prune + both join
      // sides) — checkpoint it HERE, not inside overCapBuckets (r18:
      // the empty common case pays only the one counting aggregate)
      val megaB = megaB0.localCheckpoint()
      val keyCols = keys.map(col)
      val keyFrame = megaB.select(keyCols: _*)
      val keyed =
        if (megaCount <= 100000L) broadcast(keyFrame)
        else keyFrame.hint("shuffle_hash")
      val keepIds = b.join(keyed, keys)
        .groupBy(keyCols: _*)
        .agg(graft.functions.TopKByScore.top_k_by_score(struct(
          (-col("doc_id")).cast("double").as("score"),
          col("doc_id").as("id")), cap).as("tk"))
        .select(keyCols :+
          explode(expr("transform(tk, x -> x.id)")).as("doc_id"): _*)
      val keepKeyed =
        if (megaCount <= 100000L) broadcast(keepIds)
        else keepIds.hint("shuffle_hash")
      val capped = b.join(keyed, keys)
        .join(keepKeyed, keys :+ "doc_id", "left_semi")
        .select(b.columns.toIndexedSeq.map(col): _*)
      b.join(keyed, keys, "left_anti")
        .select(b.columns.toIndexedSeq.map(col): _*)
        .unionAll(capped)
    }
  }

  /** Shared back end of the incremental dedup pair: asymmetric
    * delta-vs-base band join over pre-banded signatures, per-collision
    * scoring, then one verdict row PER DELTA DOC (n_dups=0 rows
    * included — the keep-list a pipeline actually consumes).
    */
  private def incrementalReport(banded: DataFrame, keyCol: String,
      deltaDocs: DataFrame, deltaMod: Int, numHashes: Int,
      minEstSim: Double, bucketCap: Int = DefaultBucketCap): DataFrame = {
    val isDelta = pmod(col("doc_id"), lit(deltaMod)) === 0
    incrementalReportSplit(banded.filter(isDelta), banded.filter(!isDelta),
      keyCol, deltaDocs.filter(isDelta), numHashes, minEstSim, bucketCap)
  }

  /** Candidate-pair core of the asymmetric delta-vs-base probe: banded
    * delta signatures joined against base signatures on (band, key),
    * per-collision MinHash scoring, deduped to one `(dd, db, est_sim)`
    * row per pair at `est_sim >= minEstSim`. Shared by the per-doc
    * verdict report ([[incrementalReportSplit]]) and the incremental
    * cluster-map append ([[appendToClusterMap]]), which consumes the
    * pairs as graph edges.
    *
    * Occupancy guard, asymmetric form: a mega base bucket
    * (boilerplate signatures shared by 10⁴⁺ stored docs) would pair
    * every matching delta row against ALL of them. Base buckets over
    * the cap are truncated to their `cap` LOWEST doc_ids — the
    * verdict for a colliding delta doc still flags it as a dup with
    * a deterministic best_match; only its n_dups undercounts (at
    * ≥cap, which at that magnitude reads "many"). Deterministic
    * truncation keeps the store path ≡ one-frame twin (both guard
    * identically), and no fixture bucket reaches the cap, so oracle
    * outputs are unchanged. Normal buckets pass through the
    * anti-join untouched.
    */
  private def deltaBasePairSims(d: DataFrame, b: DataFrame,
      keyCol: String, numHashes: Int, minEstSim: Double,
      bucketCap: Int): DataFrame = {
    val bG = truncateOverCapBuckets(b, Seq("band", keyCol), bucketCap)
    // shuffle_hash on both joins: sorting band buckets (or the final
    // verdict assembly) for a merge join is pure waste before hash
    // lookups, and it keeps the suite's zero-SMJ invariant at any size
    d.as("a").hint("shuffle_hash")
      .join(bG.as("b"),
        col("a.band") === col("b.band") &&
          col(s"a.$keyCol") === col(s"b.$keyCol"))
      .select(col("a.doc_id").as("dd"), col("b.doc_id").as("db"),
        expr(s"""CAST(aggregate(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1, 0)),
           |     0, (acc, v) -> acc + v) AS DOUBLE) / $numHashes""".stripMargin)
          .as("est_sim"))
      .groupBy("dd", "db").agg(first("est_sim").as("est_sim"))
      .filter(col("est_sim") >= minEstSim)
  }

  /** [[incrementalReport]] with the delta and base signature sets as
    * separate frames — the entry point the persisted-store path uses,
    * where the base side is READ from parquet, never recomputed.
    */
  private def incrementalReportSplit(d: DataFrame, b: DataFrame,
      keyCol: String, deltaDocs: DataFrame, numHashes: Int,
      minEstSim: Double, bucketCap: Int = DefaultBucketCap): DataFrame = {
    val sims = deltaBasePairSims(d, b, keyCol, numHashes, minEstSim,
      bucketCap)
    val agg = sims.groupBy("dd")
      .agg(count(lit(1)).as("n_dups"),
        max("est_sim").as("best_sim"),
        max_by(col("db"), struct(col("est_sim"), (-col("db")).as("nb")))
          .as("best_match"))
      .withColumnRenamed("dd", "doc_id")
    deltaDocs.select(col("doc_id"))
      .join(agg.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("best_match"), lit(-1L)).as("best_match"),
        coalesce(col("best_sim"), lit(0.0)).as("best_sim"))
      .orderBy("doc_id")
  }

  /** Incremental (delta-vs-base) near-dup detection — the production
    * ingestion mode: a new batch (here the deterministic slice
    * `doc_id % deltaMod == 0`) is checked against the existing corpus
    * WITHOUT regenerating base-vs-base pairs. The band join is
    * asymmetric (delta × base only), so ingesting a delta of size d
    * into a corpus of size N shuffles O(d·bands) delta rows against
    * the stored base signatures — at 100 TB the base side is the
    * persisted signature store (amortized across batches), never
    * recomputed, and cost per batch is independent of N except
    * through bucket occupancy. Output: one verdict row per delta doc
    * (dup count, best base match, estimated similarity).
    * xxhash64 family → rows-only check; [[incrementalLshMd5]] is the
    * oracle-checked portable twin.
    * CONSTRUCTING this frame is eager — signature checkpoint + the
    * asymmetric occupancy-guard count run as jobs (the
    * [[guardedSelfJoinPairs]] convention); so for every
    * `incremental*` variant below.
    */
  def incrementalLsh(docs: DataFrame, deltaMod: Int = 3,
      numHashes: Int = 64, bands: Int = 16, minEstSim: Double = 0.5,
      bucketCap: Int = DefaultBucketCap): DataFrame =
    incrementalReport(bandedXxSigs(docs, numHashes, bands), "band_hash",
      docs, deltaMod, numHashes, minEstSim, bucketCap)

  /** [[incrementalLsh]] with the md5-portable hash family (16×4
    * signatures over a 1-in-`sampleMod` sample — the capped-budget
    * twin convention): fully DuckDB-oracle-checkable, proving the
    * asymmetric delta/base banding, scoring and verdict assembly
    * bit-for-bit.
    */
  def incrementalLshMd5(docs: DataFrame, deltaMod: Int = 3,
      numHashes: Int = 16, bands: Int = 4, minEstSim: Double = 0.5,
      sampleMod: Int = 2, bucketCap: Int = DefaultBucketCap): DataFrame =
    incrementalReport(bandedMd5Sigs(docs, numHashes, bands, sampleMod),
      "bsig", docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0),
      deltaMod, numHashes, minEstSim, bucketCap)

  /** DuckDB oracle for [[incrementalLshMd5]]. */
  def incrementalLshMd5Sql(deltaMod: Int = 3, numHashes: Int = 16,
      bands: Int = 4, minEstSim: Double = 0.5,
      sampleMod: Int = 2): String = {
    val rowsPerBand = numHashes / bands
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id,
       |    concat_ws(' ', arr[j], arr[j + 1], arr[j + 2]) AS sh
       |  FROM (SELECT doc_id, arr,
       |          UNNEST(range(1, greatest(len(arr) - 3, 0) + 2)) AS j
       |        FROM (SELECT doc_id,
       |                regexp_split_to_array(trim(text), '\\s+') AS arr
       |              FROM documents
       |              WHERE doc_id % $sampleMod = 0) t0) t1),
       |mins AS (
       |  SELECT doc_id, seed,
       |    MIN(CAST('0x' || substring(md5(seed || ':' || sh), 1, 15) AS BIGINT)) AS mh
       |  FROM sh CROSS JOIN (SELECT UNNEST(range(0, $numHashes)) AS seed) s
       |  GROUP BY 1, 2),
       |bands AS (
       |  SELECT doc_id, seed // $rowsPerBand AS band,
       |    LIST(mh ORDER BY seed) AS bsig
       |  FROM mins GROUP BY 1, 2),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS dd, b.doc_id AS db
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bsig = b.bsig
       |  WHERE a.doc_id % $deltaMod = 0 AND b.doc_id % $deltaMod <> 0),
       |sims AS (
       |  SELECT dd, db,
       |    CAST(SUM(CASE WHEN m1.mh = m2.mh THEN 1 ELSE 0 END) AS DOUBLE)
       |      / $numHashes AS est_sim
       |  FROM cands
       |  JOIN mins m1 ON m1.doc_id = dd
       |  JOIN mins m2 ON m2.doc_id = db AND m1.seed = m2.seed
       |  GROUP BY 1, 2
       |  HAVING est_sim >= $minEstSim),
       |rk AS (
       |  SELECT dd, db, est_sim,
       |    ROW_NUMBER() OVER (PARTITION BY dd
       |      ORDER BY est_sim DESC, db) AS rn,
       |    COUNT(*) OVER (PARTITION BY dd) AS n_dups,
       |    MAX(est_sim) OVER (PARTITION BY dd) AS best_sim
       |  FROM sims),
       |agg AS (SELECT dd, n_dups, db AS best_match, best_sim
       |        FROM rk WHERE rn = 1)
       |SELECT d.doc_id,
       |  COALESCE(n_dups, 0) AS n_dups,
       |  COALESCE(best_match, -1) AS best_match,
       |  COALESCE(best_sim, 0.0) AS best_sim
       |FROM (SELECT doc_id FROM documents
       |      WHERE doc_id % $sampleMod = 0 AND doc_id % $deltaMod = 0) d
       |LEFT JOIN agg ON agg.dd = d.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Persist the base corpus's banded MinHash signature store — the
    * durable artifact a production ingest pipeline keeps BETWEEN
    * batches so base signatures are computed once, ever. Layout:
    * hive-partitioned by `band` ([[graft.sources.PartitionedSink]]),
    * so a band-bucket join reads whole-band directories with partition
    * pruning, and appending the next batch's signatures later is a
    * directory-level merge.
    */
  def writeSignatureStore(baseDocs: DataFrame, path: String,
      numHashes: Int = 16, bands: Int = 4, sampleMod: Int = 2): Unit = {
    // atomic publish: write under a temp sibling, then rename into
    // place — a crash mid-write leaves only the temp dir, never a
    // half-written store that a bare exists-check would later trust
    val fs = org.apache.hadoop.fs.FileSystem.get(
      baseDocs.sparkSession.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".inprogress")
    fs.delete(tmp, true)
    graft.sources.PartitionedSink.writePartitioned(
      bandedMd5Sigs(baseDocs, numHashes, bands, sampleMod),
      tmp.toString, Seq("band"))
    StoreSwap.swapIn(fs, tmp, dst)
  }

  /** A published parquet artifact is COMPLETE iff the `_SUCCESS`
    * marker exists — [[writeSignatureStore]] (and [[writeClusterMap]])
    * publish via temp+rename so the marker and the data become visible
    * together; a directory without it is a crashed partial write.
    */
  def isCompleteSignatureStore(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Boolean = {
    def ok(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    val dst = new org.apache.hadoop.fs.Path(path)
    // self-healing: a crash between swapIn's two renames leaves the
    // complete generation in `.old` — restore it instead of reporting
    // the store missing (which would trigger a from-scratch rebuild)
    if (!ok(dst)) StoreSwap.recover(fs, dst, ok)
    ok(dst)
  }

  /** Rewrite any band directory whose parquet file count exceeds
    * `maxFilesPerBand` into one file set — the maintenance half of
    * the append-based ingest loop: [[appendToSignatureStore]] adds one
    * file set per batch per band, so thousands of batches degrade
    * store SCANS linearly in file count (open/footer cost) even
    * though per-batch signing stays flat. Compaction is per-band
    * atomic: the replacement is written to a temp sibling and swapped
    * in via two renames, so a reader never sees a half-compacted
    * band. Target file count derives from the band's byte size
    * (~128 MB per file, min 1). Returns the number of bands
    * compacted.
    */
  def compactSignatureStore(spark: org.apache.spark.sql.SparkSession,
      path: String, maxFilesPerBand: Int = 8): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val bandDirs = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("band="))
    var compacted = 0
    for (bd <- bandDirs) {
      val files = fs.listStatus(bd.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
      if (files.length > maxFilesPerBand) {
        val bytes = files.map(_.getLen).sum
        val target = math.max(1, (bytes / (128L << 20)).toInt)
        val tmp = new org.apache.hadoop.fs.Path(
          path, bd.getPath.getName + ".compacting")
        fs.delete(tmp, true)
        spark.read.parquet(bd.getPath.toString)
          .repartition(target)
          .write.mode("overwrite").parquet(tmp.toString)
        val old = new org.apache.hadoop.fs.Path(
          path, bd.getPath.getName + ".precompact")
        fs.delete(old, true)
        require(fs.rename(bd.getPath, old) && fs.rename(tmp, bd.getPath),
          s"compaction swap failed for ${bd.getPath}")
        fs.delete(old, true)
        compacted += 1
      }
    }
    compacted
  }

  /** Read back a persisted signature store (schema
    * `doc_id, sig, bsig, band`). */
  def readSignatureStore(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    graft.sources.PartitionedSink.read(spark, path)

  /** [[incrementalLshMd5]] against a PERSISTED base signature store —
    * the real production ingestion shape: the base side is READ from
    * [[writeSignatureStore]] output, never recomputed, and each batch
    * computes only its OWN signatures before the asymmetric band join.
    * Per-batch cost is O(delta · bands) plus bucket-occupancy probes,
    * independent of how large the base corpus has grown (the store
    * scan is a column-pruned parquet read, no shingling or md5 work).
    * With base/delta carved from one corpus by `doc_id % deltaMod`,
    * the output is bit-identical to [[incrementalLshMd5]] on the
    * combined frame, so [[incrementalLshMd5Sql]] doubles as this
    * path's oracle — proving store round-trip + split-frame banding
    * changes nothing.
    */
  def incrementalLshStore(storePath: String, delta: DataFrame,
      numHashes: Int = 16, bands: Int = 4, minEstSim: Double = 0.5,
      sampleMod: Int = 2, bucketCap: Int = DefaultBucketCap): DataFrame = {
    val spark = delta.sparkSession
    val base = readSignatureStore(spark, storePath)
      .select("doc_id", "sig", "band", "bsig")
    incrementalReportSplit(
      bandedMd5Sigs(delta, numHashes, bands, sampleMod), base, "bsig",
      delta.filter(pmod(col("doc_id"), lit(sampleMod)) === 0),
      numHashes, minEstSim, bucketCap)
  }

  /** Fold a processed delta INTO the signature store — the second half
    * of the production ingest loop: after a batch is gated
    * ([[incrementalLshStore]]), its kept documents' signatures join the
    * base so the NEXT batch dedups against them too. Signatures are
    * computed once per batch either way; parquet `append` into the same
    * band-partitioned layout is a directory-level merge, no rewrite of
    * existing base files. Equivalence of grow-by-append with
    * build-from-scratch is spec-checked.
    */
  def appendToSignatureStore(deltaDocs: DataFrame, path: String,
      numHashes: Int = 16, bands: Int = 4, sampleMod: Int = 2): Unit = {
    val appendFs = org.apache.hadoop.fs.FileSystem.get(
      deltaDocs.sparkSession.sparkContext.hadoopConfiguration)
    require(isCompleteSignatureStore(appendFs, path),
      s"appendToSignatureStore: $path is not a complete store")
    // content-tagged replay discipline (r12 — the store-family rule,
    // retrofitted onto what was the one blind mode("append") left):
    // an `_applied/<tag>` marker records a landed batch, written LAST;
    // batch files carry a `b<tag>-` name prefix and a retry deletes
    // same-prefix leftovers before re-moving, so a crashed append
    // re-runs cleanly and a REPLAYED batch (marker present) is a
    // no-op — never duplicated signature rows inflating probes.
    val tagOpt = containmentBatchTag(deltaDocs)
    if (tagOpt.isEmpty) return // empty delta
    val tag = tagOpt.get
    val marker = new org.apache.hadoop.fs.Path(path, s"_applied/$tag")
    if (appendFs.exists(marker)) return // replayed batch
    val sigs = bandedMd5Sigs(deltaDocs, numHashes, bands, sampleMod)
    // sweep stale temp dirs from crashed appends of ANY batch
    for (st <- appendFs.listStatus(new org.apache.hadoop.fs.Path(path))
        if st.getPath.getName.startsWith(".appendtmp_"))
      appendFs.delete(st.getPath, true)
    val tmp = new org.apache.hadoop.fs.Path(path, s".appendtmp_$tag")
    sigs.write.partitionBy("band").parquet(tmp.toString)
    for (bd <- appendFs.listStatus(tmp)
        if bd.getPath.getName.startsWith("band=")) {
      val dstDir = new org.apache.hadoop.fs.Path(path, bd.getPath.getName)
      appendFs.mkdirs(dstDir)
      // clean partial leftovers of a crashed attempt of THIS batch
      for (f <- appendFs.listStatus(dstDir)
          if f.getPath.getName.startsWith(s"b$tag-"))
        appendFs.delete(f.getPath, false)
      for (f <- appendFs.listStatus(bd.getPath)
          if f.getPath.getName.endsWith(".parquet"))
        require(appendFs.rename(f.getPath, new org.apache.hadoop.fs.Path(
          dstDir, s"b$tag-${f.getPath.getName}")),
          s"signature batch move failed: ${f.getPath}")
    }
    appendFs.delete(tmp, true)
    writeSmallFile(appendFs, marker, Array.emptyByteArray)
  }

  /** Build-once helper for the driver entries: write the store for
    * `baseDocs` under a deterministic per-fixture path unless a
    * COMPLETE store for the same content already exists (the
    * amortized-across-batches semantics — a real pipeline writes the
    * store once and every later batch reuses it). Two safeguards over
    * a bare exists-check: (a) completeness requires the `_SUCCESS`
    * marker ([[isCompleteSignatureStore]]) so a crashed partial write
    * is rebuilt, not trusted; (b) the path is keyed on a content
    * fingerprint (row count + max doc_id + store params) of the base
    * frame, so a store built from since-regenerated fixture data
    * under the same tag goes stale by PATH and is rebuilt rather
    * than silently yielding wrong dedup verdicts. The fingerprint is
    * one column-pruned count over the base — cheap next to signing.
    */
  def ensureSignatureStore(baseDocs: DataFrame, tag: String,
      numHashes: Int = 16, bands: Int = 4, sampleMod: Int = 2): String = {
    val fp = StoreSwap.contentFp(baseDocs, "ensureSignatureStore",
      "doc_id", Seq("doc_id", "text"))
    val path = s"/tmp/graft_sigstore_${tag}_${fp.tag}_" +
      s"${numHashes}x${bands}m$sampleMod"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      baseDocs.sparkSession.sparkContext.hadoopConfiguration)
    if (!isCompleteSignatureStore(fs, path))
      writeSignatureStore(baseDocs, path, numHashes, bands, sampleMod)
    path
  }

  /** Store marker and meta files (`_SUCCESS`, `_applied/<tag>`,
    * `_meta_*`): a few bytes each, written and read whole. */
  private def writeSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** EXACT incremental dedup — the fingerprint-level ingest gate: new
    * docs (`doc_id % deltaMod == 0`) are checked for exact
    * (normalized-md5, [[fingerprint]]) duplication against the base
    * corpus. The delta's distinct fingerprints are BROADCAST into a
    * semi-join over the base, so the base is scanned once and never
    * shuffled; the matching base rows' min doc_id per fingerprint is
    * broadcast back onto the delta. Output per delta doc: `first_seen`
    * (min base doc_id with the same fingerprint, −1 if new) and
    * `is_dup`. A NULL fingerprint (NULL text) never matches. Lazy: no
    * job runs until an action. Oracle: [[incrementalExactSql]].
    */
  def incrementalExact(docs: DataFrame, deltaMod: Int = 3): DataFrame = {
    val withFp = docs.select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val isDelta = pmod(col("doc_id"), lit(deltaMod)) === 0
    val delta = withFp.filter(isDelta)
    val firstSeen = withFp.filter(!isDelta)
      .join(broadcast(delta.select("fp").distinct()), Seq("fp"), "left_semi")
      .groupBy("fp").agg(min("doc_id").as("first_seen"))
    delta
      .join(broadcast(firstSeen), Seq("fp"), "left")
      .select(col("doc_id"),
        coalesce(col("first_seen"), lit(-1L)).as("first_seen"),
        when(col("first_seen").isNotNull, lit(1L)).otherwise(lit(0L))
          .as("is_dup"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[incrementalExact]]: a plain left join. */
  def incrementalExactSql(deltaMod: Int = 3): String =
    s"""WITH fp AS (
       |  SELECT doc_id,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents),
       |base AS (
       |  SELECT fp, MIN(doc_id) AS first_seen
       |  FROM fp WHERE doc_id % $deltaMod <> 0 GROUP BY fp)
       |SELECT d.doc_id,
       |  COALESCE(first_seen, -1) AS first_seen,
       |  CAST(CASE WHEN first_seen IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |    AS is_dup
       |FROM fp d LEFT JOIN base USING (fp)
       |WHERE d.doc_id % $deltaMod = 0
       |ORDER BY doc_id""".stripMargin

  /** Per-document 64-bit SimHash via the one-pass
    * [[graft.functions.SimHash64]] aggregate (token multiplicity = the
    * term-frequency weight; single shuffle, mergeable partials).
    */
  private def docSimHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextFunctions.words(col("text"))).as("w"))
      .where(col("w") =!= "")
      .groupBy("doc_id")
      .agg(graft.functions.VectorFunctions.simhash64(col("w")).as("simhash"))

  /** 64-bit SimHash per document (term-frequency weighted), plus
    * banded near-dup candidate pairs at Hamming distance ≤ 3.
    * Banding: 4×16-bit chunks — any pair within distance 3 must share
    * a chunk (pigeonhole), so candidate generation is again a shuffle
    * on (chunk index, chunk value), never all pairs.
    * CONSTRUCTING this frame is eager — simhash checkpoint +
    * occupancy-guard jobs (see [[guardedSelfJoinPairs]]).
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
      bucketCap: Int = DefaultBucketCap): DataFrame = {
    // materialized once pre-explode (same checkpoint discipline as
    // [[bandedXxSigs]]) — the self-join would replay the simhash
    // aggregation per side; the 4-chunk explode is derived lazily
    val hashes = docSimHashes(docs).localCheckpoint()
    val banded = hashes.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), k -> (shiftright(simhash, k*16) & 65535))")))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    guardedSelfJoinPairs(banded, Seq("chunk", "chunk_val"), bucketCap)(
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"), "hamming")
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("d1", "d2")
  }

  /** Per-document SimHash values (for tests / downstream use). */
  def simHash(docs: DataFrame): DataFrame =
    docSimHashes(docs).orderBy("doc_id")

  /** [[simHashPairs]] with a cross-engine-portable hash family: a
    * 60-bit token hash from md5 (15 hex chars — 64 would overflow
    * signed BIGINT in the oracle), TF-weighted bit votes, 4×15-bit
    * chunk banding (pigeonhole ≤3 Hamming). Fully
    * DuckDB-oracle-checkable, the hard evidence for the SimHash
    * banding pipeline; the one-pass `SimHash64` aggregate stays the
    * bench path. Verification-artifact budget: runs on a
    * deterministic 1-in-`sampleMod` document sample (like
    * [[minHashLshMd5]] — the pipeline proof doesn't need the corpus).
    */
  def simHashPairsMd5(docs: DataFrame, maxHamming: Int = 3,
      sampleMod: Int = 2): DataFrame = {
    // per-bit votes as 60 parallel sum columns instead of a 60x row
    // explode: vote_j > 0 ⇔ 2*ones_j > n_words, so one map-side
    // partially-aggregated groupBy(doc_id) replaces the 60x-inflated
    // (doc_id, j) shuffle the first version paid (4.0 s → ~1 s at
    // sf0.1). The oracle states the per-(doc, j) ±1 vote form — same
    // bits, different dataflow.
    val bitSums = (0 until 60).map(j =>
      sum(expr(s"(h >> $j) & 1")).as(s"b$j"))
    val simhashExpr = (0 until 60)
      .map(j => s"IF(2 * b$j > nw, shiftleft(CAST(1 AS BIGINT), $j), CAST(0 AS BIGINT))")
      .mkString(" + ")
    val hashes = widthSpread(
        docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0))
      .select(col("doc_id"), explode(TextFunctions.words(col("text"))).as("w"))
      .where(col("w") =!= "")
      .withColumn("h", expr(
        "md5_prefix60(w)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nw"), bitSums: _*)
      .select(col("doc_id"), expr(simhashExpr).as("simhash"))
    val banded = hashes.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> (shiftright(simhash, c*15) & 32767))")))
      .withColumnRenamed("pos", "chunk")
      .withColumnRenamed("col", "chunk_val")
    banded.as("a")
      .join(banded.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("d1", "d2")
  }

  /** DuckDB oracle for [[simHashPairsMd5]]. */
  def simHashPairsMd5Sql(maxHamming: Int = 3, sampleMod: Int = 2): String =
    s"""WITH toks AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents WHERE doc_id % $sampleMod = 0) t WHERE w <> ''),
       |hv AS (
       |  SELECT doc_id, CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) AS h
       |  FROM toks),
       |votes AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM hv CROSS JOIN (SELECT UNNEST(range(0, 60)) AS j) bits
       |  GROUP BY 1, 2),
       |sh AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j)
       |             ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY 1),
       |banded AS (
       |  SELECT doc_id, simhash, c AS chunk,
       |    (simhash >> (c * 15)) & 32767 AS chunk_val
       |  FROM sh CROSS JOIN (SELECT UNNEST(range(0, 4)) AS c) chunks)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM banded a JOIN banded b
       |  ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming
       |ORDER BY d1, d2""".stripMargin

  /** Exact word-3-gram-shingle Jaccard pairs via an inverted-index
    * self-join (shared-shingle candidates → common counts → |A∩B| /
    * |A∪B|). Unlike single-word Jaccard (dense on any same-domain
    * corpus), shingle Jaccard is bimodal — noise pairs land < 0.1 and
    * true near-dups ≥ 0.9 — so a mid threshold is robust to either
    * side. Integer counts divide to bit-identical doubles across
    * engines.
    */
  def shingleJaccardPairs(docs: DataFrame): DataFrame = {
    // materialize the distinct shingle set once — each self-join side
    // would otherwise replay the scan+explode+md5+DISTINCT (a full
    // shuffle) independently
    val sh = shingleHashes(docs).localCheckpoint()
    // per-doc set sizes are computed MAP-SIDE from the shingle array
    // (size∘array_distinct over the same md5 hashes — identical
    // semantics to counting the exploded distinct rows) and joined to
    // the PAIR aggregate, which is far smaller than the shingle set.
    // The earlier window form shuffled every shingle row by doc_id
    // twice (once per self-join side) just to attach n; this shape
    // shuffles only the inverted index (by h) and the pair set.
    // shuffle_hash: sorting for a merge join is pure waste before a
    // hash agg, and AQE upgrades the small sizes side to broadcast.
    val sizes = docs
      .select(col("doc_id"), TextFunctions.words(col("text")).as("ws"))
      .select(col("doc_id"), expr(
        s"size(array_distinct(transform($shingleArrExpr, sh -> $shingleHashExpr)))")
        .cast("bigint").as("n"))
    sh.as("a").hint("shuffle_hash")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1"))
        .hint("shuffle_hash"), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2"))
        .hint("shuffle_hash"), "d2")
      .select(col("d1"), col("d2"),
        (col("common") / (col("n1") + col("n2") - col("common")))
          .as("jaccard"))
  }

  /** DuckDB CTE pair `sh` (raw 3-gram shingles) + `shh` (distinct
    * 60-bit md5 hashes) — the SQL twin of [[shingleHashes]], embedded
    * by [[clusterLblCtes]] and the decontamination oracle.
    */
  private[operators] val shingleHashCtes: String =
    """sh AS (
      |  SELECT doc_id,
      |    concat_ws(' ', arr[j], arr[j + 1], arr[j + 2]) AS sh
      |  FROM (SELECT doc_id, arr,
      |          UNNEST(range(1, greatest(len(arr) - 3, 0) + 2)) AS j
      |        FROM (SELECT doc_id,
      |                regexp_split_to_array(trim(text), '\s+') AS arr
      |              FROM documents) t0) t1),
      |shh AS (
      |  SELECT DISTINCT doc_id,
      |    CAST('0x' || substring(md5(sh), 1, 15) AS BIGINT) AS h
      |  FROM sh)""".stripMargin

  /** Distinct (doc_id, 60-bit-md5-of-shingle) pairs — the shared
    * front end of [[shingleJaccardPairs]] and
    * [[CorpusPipeline.decontaminate]]. Joining on a 60-bit md5 of the
    * shingle, not the string, and deduping AFTER hashing means both
    * the distinct and any downstream inverted-index shuffle carry
    * 8-byte keys instead of ~30-char text. Any hash collision is
    * produced identically by the oracle (same md5), so results stay
    * bit-exact cross-engine. SQL form: [[shingleHashCtes]].
    */
  private[operators] def shingleHashes(docs: DataFrame): DataFrame =
    // r19: hash + dedup both MAP-SIDE (array_distinct over the hashed
    // array — dedup-after-hash, exactly the oracle's DISTINCT over
    // shh), replacing the explode→distinct exchange + two hash
    // aggregates with a per-row hash set; same row set, zero shuffles
    // (guide §2.4). This is the same size∘array_distinct∘transform
    // composition [[shingleJaccardPairs]]' sizes leg already trusted.
    docs.select(col("doc_id"), TextFunctions.words(col("text")).as("ws"))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform($shingleArrExpr, sh -> $shingleHashExpr))"))
        .as("h"))

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC '14): each round rewires neighbours to the
    * minimum of a node's closed neighbourhood — large-star rewires the
    * LARGER neighbours, small-star collapses the smaller ones — and
    * the edge set converges to depth-1 stars rooted at each
    * component's minimum node id in O(log n) rounds even on
    * adversarial long chains, where plain min-label propagation needs
    * diameter-many rounds (the round-6 scale flaw). Labels are
    * canonical (component-min id), independent of round count and
    * partitioning. Each half-round is one aggregate + one hash join +
    * one distinct, all shuffling on node id; `localCheckpoint` cuts
    * the growing lineage so round N never replays rounds 1…N−1.
    *
    * Loop parallelism derives from the EDGE volume (~100k edges per
    * task) with NO upper cap — a fixed ceiling throttles the 100 TB
    * dedup backbone, where LSH candidate edges run to billions —
    * floored at 1 so tiny graphs don't pay scheduler overhead, and
    * snapped to a multiple of `spark.sql.shuffle.partitions` once the
    * graph saturates the session's configured width.
    *
    * Convergence detection is EXACT, not probabilistic: a directed
    * (hi→lo) edge set is a depth-1 star forest iff (a) no node appears
    * as both a child and a root AND (b) every child has exactly one
    * parent — both violation sources are unioned into one per-round
    * job. Disjointness alone is NOT sufficient: the hub graph
    * {1–3, 2–3} canonicalizes to {(3→1),(3→2)}, whose child set {3}
    * and root set {1,2} are disjoint while node 3 still has two
    * parents; accepting it would label node 2 as 2 instead of the
    * component min 1. A checksum compare could likewise collide and
    * silently hand back wrong labels to oracle-checked cluster
    * assignments.
    *
    * The caller's edge pipeline is lazily checkpointed before the
    * canonicalization below: without that plan barrier, the
    * `u =!= v` predicate pushes down into the caller's plan, where
    * Catalyst may REORDER filter conjuncts — e.g. hoist an
    * interpreted verify expression ahead of a codegen'd prefilter
    * (measured 20× on semanticDedup's decimal-cosine verify at
    * sf0.1: 15 s vs 0.7 s for the identical edge set). The barrier
    * keeps every edge generator exactly the shape its author tuned,
    * at the cost of one extra narrow (d1, d2) materialization.
    *
    * NOTE — eager by necessity: unlike the lazy Lloyd/BPE loops
    * (`eager = false` checkpoints), CONSTRUCTING this result runs the
    * contraction loop, because the driver-coordinated fixpoint test
    * must execute each round to decide whether another is needed.
    * Merely building a plan over `dedup_clusters` (e.g. in Explain /
    * plan tooling) therefore executes the edge pipeline; there is no
    * lazy formulation of a data-dependent round count.
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 30): DataFrame =
    ccWithRounds(edges, nodes, maxIter)._1

  /** [[connectedComponents]] plus the number of star-contraction
    * rounds taken — observable so tests and the scale ladder can
    * assert O(log n) convergence on long-chain graphs. */
  private[graft] def ccWithRounds(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 30): (DataFrame, Int) = {
    // canonical directed edge set (hi → lo), deduped, materialized
    // once — without the checkpoint every round would replay the
    // (possibly expensive) edge-generation pipeline upstream. The
    // inner lazy checkpoint is the predicate-pushdown barrier (see
    // scaladoc): the caller's tuned edge plan runs verbatim, then the
    // canonicalization rides on its narrow (d1, d2) output.
    val e0 = edges.localCheckpoint(eager = false)
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    val sess = edges.sparkSession.sessionState.conf.numShufflePartitions
    val desired = (e0.count() / 100000L).toInt
    val parts =
      if (desired <= 1) 1
      else if (desired < sess) desired
      else ((desired + sess - 1) / sess) * sess

    // large-star: every node u sends its LARGER neighbours to
    // m = min(Γ(u) ∪ {u}); each directed edge is processed once, from
    // its smaller endpoint. Output stays directed hi → lo.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      // r19: NO terminal distinct — every consumer is duplicate-
      // tolerant (smallStar's min aggregates; its terminal distinct
      // restores set semantics at the round boundary, which is the
      // only frame the convergence check — which REQUIRES edge-
      // distinct input — ever sees). Dropping it removes one
      // exchange + hash aggregate per round; the duplicate copies a
      // shared (v, m) pair contributes are bounded by Γ(v), rows the
      // old distinct shuffled anyway.
      sym.join(mins.hint("shuffle_hash"), "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }

    // small-star: every node u collapses its smaller neighbourhood
    // onto m = min(Γ⁻(u)); emits (v, m) for each smaller neighbour
    // v ≠ m plus (u, m). Output stays directed hi → lo.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min(col("v")).as("m"))
      val joined = e.join(mins.hint("shuffle_hash"), "u")
      joined.where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(joined.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // exact fixpoint test: a directed hi→lo edge set is a depth-1
    // star forest iff child/root node sets are disjoint AND no child
    // has two distinct parents (see scaladoc — disjointness alone
    // accepts the multi-parent hub state {(3→1),(3→2)}). r18 shape:
    // ONE partial-aggregatable groupBy instead of the former
    // left-semi join + countDistinct union (3 exchanges → 1, measured
    // 0.57 s → 0.23 s per check at sf0.1) — every frame this sees is
    // already edge-DISTINCT (e0 and each round end in distinct()), so
    // a child's parent count IS its distinct-parent count, and the
    // null-parent root rows make "child that is also a root" visible
    // as 0 < parent-rows < total-rows within one group.
    def isStarForest(e: DataFrame): Boolean = {
      val vt = e.schema("v").dataType
      e.select(col("u").as("n"), col("v").as("p"))
        .unionAll(e.select(col("v").as("n"), lit(null).cast(vt).as("p")))
        .groupBy("n")
        .agg(count(col("p")).as("nc"), count(lit(1)).as("tot"))
        .where(col("nc") > 1 || (col("nc") > 0 && col("nc") < col("tot")))
        .isEmpty
    }

    // r18: force the width only when the edge-derived width EXCEEDS
    // the session width (the rule the loop below already applies per
    // round) — under it, AQE right-sizes every half-round's exchange
    // anyway, so the up-front repartition was one full extra
    // materialization of the edge set per clustering entry
    var e =
      if (parts > sess) e0.repartition(parts, col("u")).localCheckpoint()
      else e0
    var it = 0
    var converged = isStarForest(e)
    while (!converged && it < maxIter) {
      // each half-round already ends in a distinct (a shuffle) that
      // AQE right-sizes at runtime, so a per-round repartition would
      // normally add a full extra shuffle of the edge set for nothing;
      // it's forced ONLY when the edge-derived width exceeds the
      // session's configured shuffle width — i.e. when the config
      // would under-provision the loop at very large edge volumes
      val next = smallStar(largeStar(e))
      e = (if (parts > sess) next.repartition(parts, col("u")) else next)
        .localCheckpoint()
      it += 1
      converged = isStarForest(e)
    }
    // never hand back non-converged (wrong) labels silently — callers
    // feed these into oracle-checked cluster assignments
    require(converged,
      s"connected components did not converge in $maxIter rounds; " +
        "raise maxIter")
    // at the fixpoint e is (child → component-min root): children
    // label with their root, roots label themselves; only nodes
    // touching an edge ever enter the loop — singletons (the vast
    // majority of a deduped corpus) are self-labelled by the coalesce
    val labels = e.select(col("u").as("node"), col("v").as("lbl"))
      .unionAll(e.select(col("v").as("node"), col("v").as("lbl")))
      .groupBy("node").agg(min(col("lbl")).as("lbl"))
    val out = nodes.select(col("node"))
      .join(labels.withColumnRenamed("lbl", "conn_lbl").hint("shuffle_hash"),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("conn_lbl"), col("node")).as("lbl"))
    (out, it)
  }

  /** Dedup clustering — the canonical-document assignment a real
    * pipeline needs AFTER pair generation: build the near-dup graph
    * (here: exact shingle-Jaccard ≥ `tau` over the full corpus; at
    * 100 TB the edge source is [[minHashLsh]] candidates + exact
    * verify, same downstream), take connected components, and assign
    * every document its component's min doc_id plus the cluster size.
    * Keeping `cluster_id == doc_id` rows (singletons) makes the output
    * a total map: `WHERE doc_id = cluster_id` is the keep-list,
    * everything else is the drop-list.
    */
  def clusters(docs: DataFrame, tau: Double = 0.5): DataFrame = {
    val edges = shingleJaccardPairs(docs)
      .filter(col("jaccard") >= tau).select("d1", "d2")
    clusterize(edges, docs.select(col("doc_id").as("node")))
  }

  /** Components + canonical id + cluster size from an arbitrary edge
    * set. Cluster size is a `groupBy.count` + join, NOT a window count:
    * `count(*) over (partition by lbl)` would shuffle every member row
    * of a component to ONE reducer task — a real web corpus's giant
    * duplicate component (chained boilerplate near-dups, 10⁷–10⁸ docs)
    * turns that into a single unsplittable straggler. The aggregate
    * partial-aggregates map-side and AQE can split the size join's
    * skew. The label frame is EAGERLY checkpointed so the two
    * references (rows + sizes) share one materialization — lazy
    * would let the sizes-agg and join-probe stages race to compute
    * the labels twice within the one job; `connectedComponents` is
    * construction-eager anyway, so this adds no new eagerness.
    */
  private def clusterize(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val lbl = connectedComponents(edges, nodes)
      .localCheckpoint()
    val sizes = lbl.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    // no terminal orderBy: nothing consumes map order — the driver's
    // selfcheck sorts rows before hashing and every map consumer
    // (keepBest*, splitLeakage, histogram) aggregates — so a total
    // sort here was one avoidable full range exchange per cluster
    // construction (r11 verdict finding 2)
    lbl.join(sizes.hint("shuffle_hash"), "lbl")
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"))
  }

  /** [[clusters]] with the 100 TB edge source: MinHash-LSH candidate
    * pairs instead of the exact all-pairs index — the md5-portable LSH
    * variant, so the ENTIRE production dedup path (shingle → minhash →
    * band → candidate → component → canonical id) is DuckDB-checkable
    * bit-for-bit. Nodes are the twin's 1-in-`sampleMod` document
    * sample, so unsampled docs don't appear as spurious singletons.
    */
  def clustersLshMd5(docs: DataFrame, sampleMod: Int = 2): DataFrame = {
    // collision rows, not deduped pairs: connectedComponents
    // canonicalizes + distincts the edge set anyway, so the pair-level
    // groupBy inside minHashLshMd5 was a redundant second dedup
    // exchange on the same keys (r18)
    val edges = minHashLshMd5Collisions(docs, sampleMod = sampleMod)
      .select("d1", "d2")
    val nodes = docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0)
      .select(col("doc_id").as("node"))
    clusterize(edges, nodes)
  }

  /** DuckDB oracle for [[clustersLshMd5]] — the md5-LSH pair SQL as a
    * CTE feeding the same recursive-closure component formulation.
    */
  def clustersLshMd5Sql(sampleMod: Int = 2): String =
    s"""WITH RECURSIVE ${clusterLshLblCtes(sampleMod)}
       |SELECT l.doc_id, l.cluster_id, c.cluster_size
       |FROM lbl l JOIN csize c USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** Train/valid/test SPLIT-LEAKAGE report — the eval-hygiene check a
    * pipeline runs before shipping splits: near-duplicate documents
    * that land in different splits leak training data into eval (the
    * contamination mechanism Lee et al. arXiv:2107.06499 §6.2 measure
    * — deduplicated eval sets change reported perplexities). Joins
    * the production LSH cluster map ([[clustersLshMd5]]) with the
    * deterministic split assignment ([[Sampling.stratifiedSample]]'s
    * salted-md5 permille buckets, applied UNSAMPLED so every
    * clustered doc has a split) and reports, per multi-member
    * cluster, its split census and a leaky flag.
    *
    * Scale shape: cluster map + one hash-agg keyed on cluster_id
    * with conditional-count partials (no windows — the r9 resolution
    * convention); `count(distinct split)` expands over a 3-value
    * domain, so the distinct aggregation is bounded. At 100 TB the
    * cluster map comes from the persisted store
    * ([[ensureClusterMap]]) rather than being recomputed.
    */
  def splitLeakage(docs: DataFrame, sampleMod: Int = 2): DataFrame =
    splitLeakageFromClusters(docs, clustersLshMd5(docs, sampleMod))

  /** [[splitLeakage]] fed from an existing cluster map — the
    * production shape: the map comes from the persisted store
    * ([[ensureClusterMap]]/[[readClusterMap]]), so the leakage audit
    * never re-runs the clustering (the [[keepBestFromStore]]
    * discipline).
    */
  def splitLeakageFromClusters(docs: DataFrame,
      clusterMap: DataFrame): DataFrame = {
    val spl = Sampling.hashBucket("spl:", col("doc_id"))
    val splits = docs.select(col("doc_id"),
      when(spl < 800, "train").when(spl < 900, "valid").otherwise("test")
        .as("split"))
    clusterMap
      .filter(col("cluster_size") > 1)
      .join(splits.hint("shuffle_hash"), "doc_id")
      .groupBy("cluster_id")
      .agg(first(col("cluster_size")).as("cluster_size"),
        sum(Kernels.indicator(col("split") === "train")).as("n_train"),
        sum(Kernels.indicator(col("split") === "valid")).as("n_valid"),
        sum(Kernels.indicator(col("split") === "test")).as("n_test"),
        (countDistinct(col("split")) > 1).cast("int").as("leaky"))
      .orderBy("cluster_id")
  }

  def splitLeakageSql(sampleMod: Int = 2): String =
    s"""WITH RECURSIVE ${clusterLshLblCtes(sampleMod)},
       |spl AS (
       |  SELECT doc_id,
       |    CASE WHEN ${Sampling.hashBucketSql("spl:", "doc_id")} < 800
       |           THEN 'train'
       |         WHEN ${Sampling.hashBucketSql("spl:", "doc_id")} < 900
       |           THEN 'valid'
       |         ELSE 'test' END AS split
       |  FROM documents)
       |SELECT l.cluster_id, c.cluster_size,
       |  CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_train,
       |  CAST(SUM(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_valid,
       |  CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_test,
       |  CAST(COUNT(DISTINCT split) > 1 AS INTEGER) AS leaky
       |FROM lbl l
       |JOIN csize c USING (cluster_id)
       |JOIN spl USING (doc_id)
       |WHERE c.cluster_size > 1
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** CTE chain md5-LSH candidates → recursive components → `lbl`
    * (doc_id, cluster_id) + `csize` — shared by [[clustersLshMd5Sql]]
    * and [[keepBestSql]] so the component formulation can never
    * diverge between the two oracles. Must follow `WITH RECURSIVE`.
    */
  private[operators] def clusterLshLblCtes(sampleMod: Int): String =
    s"""cand AS (
       |${minHashLshMd5Sql(sampleMod = sampleMod, ordered = false)}),
       |nodes AS (SELECT doc_id FROM documents WHERE doc_id % $sampleMod = 0),
       |sym AS (SELECT d1 AS src, d2 AS dst FROM cand
       |        UNION ALL SELECT d2, d1 FROM cand),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM nodes
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
       |lbl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
       |        FROM reach GROUP BY 1),
       |csize AS (SELECT cluster_id, COUNT(*) AS cluster_size
       |          FROM lbl GROUP BY 1)""".stripMargin

  /** DuckDB oracle for [[clusters]]: the same edge set stated as raw
    * SQL, components via a recursive transitive closure + MIN — an
    * independent formulation (closure is quadratic per component, fine
    * at oracle scale; the Spark side is the scalable iteration).
    */
  def clustersSql(tau: Double = 0.5): String =
    s"""WITH RECURSIVE ${clusterLblCtes(tau)},
       |csize AS (SELECT cluster_id, COUNT(*) AS cluster_size
       |          FROM lbl GROUP BY 1)
       |SELECT l.doc_id, l.cluster_id, c.cluster_size
       |FROM lbl l JOIN csize c USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** CTE chain shingles → edges → recursive components → `lbl`
    * (doc_id, cluster_id) — shared by [[clustersSql]] and the composed
    * pipeline oracle ([[CorpusPipeline.corpusStatsSql]]). Must follow a
    * `WITH RECURSIVE` keyword at the call site.
    */
  private[operators] def clusterLblCtes(tau: Double): String =
    s"""$shingleHashCtes,
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM shh a JOIN shh b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT d1, d2 FROM pairs
       |  JOIN sizes s1 ON d1 = s1.doc_id
       |  JOIN sizes s2 ON d2 = s2.doc_id
       |  WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= $tau),
       |sym AS (SELECT d1 AS src, d2 AS dst FROM edges
       |        UNION ALL SELECT d2, d1 FROM edges),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
       |lbl AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
       |        FROM reach GROUP BY 1)""".stripMargin

  // ---------------------------------------------------------------
  // Cluster resolution: keep the BEST copy, not the first
  // ---------------------------------------------------------------

  /** Near-dup cluster RESOLUTION — the decision step a real pipeline
    * runs after clustering: per cluster keep the highest-quality
    * member, not the lowest doc_id. Composes the production dedup path
    * ([[clustersLshMd5]]: shingle → minhash → band → candidate →
    * component) with the hash-trick quality score
    * ([[QualitySignals.linearClassifier]]); winner = max score, ties
    * by min doc_id (total order). One aggregation shuffle keyed on
    * cluster_id on top of the cluster pipeline.
    *
    * Score comparisons are cross-engine safe: the score is a ratio of
    * exact integers, so the doubles (and hence the argmax) are
    * bit-identical in DuckDB.
    */
  def keepBest(docs: DataFrame, sampleMod: Int = 2): DataFrame =
    keepBestFromClusters(docs, clustersLshMd5(docs, sampleMod), sampleMod)

  /** [[keepBest]]'s resolution half over a PRECOMPUTED cluster map —
    * the compositional shape a 100 TB pipeline actually runs: the
    * cluster assignment (the expensive shingle → minhash → band → CC
    * path) is computed once and held as an artifact
    * ([[writeClusterMap]]), and resolution passes (different quality
    * models, re-runs, audits) consume it without re-clustering.
    * `clusters` must be a `(doc_id, cluster_id, cluster_size)` map
    * over the 1-in-`sampleMod` document sample ([[clustersLshMd5]]'s
    * output schema).
    */
  def keepBestFromClusters(docs: DataFrame, clusters: DataFrame,
      sampleMod: Int = 2): DataFrame = {
    // only the 1-in-sampleMod node sample can survive the cluster
    // join — score exactly that slice, not the whole corpus
    val scores = graft.operators.QualitySignals.qualityScore(
      docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0))
    // per-cluster argmax as a partial-aggregatable max_by, NOT a
    // row_number window: a window shuffles every member of a cluster
    // to one reducer task and sorts it there — a giant duplicate
    // component (the guaranteed shape of a web corpus) becomes a
    // single straggler AQE cannot split. max_by over the
    // (score, -doc_id) struct preserves the exact (score desc,
    // doc_id asc) total order and does map-side partials: the final
    // stage sees ONE row per cluster per map partition, so the giant
    // component's reducer input is #partitions rows, not #members
    // (the giantcluster rung measures the max task FLAT at 16× the
    // component size where the window's straggler grows linearly).
    // Known plan shape: the struct-typed buffer makes Spark pick
    // SortAggregate over HashAggregate — the sort is per-partition,
    // by the grouping key, parallel and spillable; a deliberate trade
    // against both the window (unsplittable) and an argmax-via-
    // self-join (second full shuffle). Score comparisons stay
    // cross-engine safe (ratio of exact integers → bit-identical
    // doubles).
    // big-big at scale — hash join, never a sort (AQE broadcasts when small)
    clusters.join(scores.hint("shuffle_hash"), "doc_id")
      .groupBy("cluster_id")
      .agg(max(col("cluster_size")).as("cluster_size"),
        max_by(struct(col("doc_id"), col("score")),
          struct(col("score"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"), col("cluster_size"),
        col("best.doc_id").as("kept_doc"), col("best.score").as("kept_score"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  /** Persist the [[clustersLshMd5]] cluster map as a durable parquet
    * artifact — same atomic temp+rename publish discipline as
    * [[writeSignatureStore]], so a crash mid-write never leaves a
    * trustable-looking partial map.
    *
    * Layout (since r12): `path/base/` holds the full map;
    * `path/batch=<seq>_<tag>/` overlay directories hold REPLACEMENT
    * rows from incremental appends ([[appendToClusterMap]]), read
    * back latest-wins by [[readClusterMap]]. The overlay is what
    * makes the append's PUBLISH cost ∝ delta + touched components
    * instead of a full-map rewrite per batch (the r11 verdict's one
    * `weak`); [[compactClusterMap]] folds overlays back into `base/`
    * when batch count grows. Root `_SUCCESS` is the completeness
    * marker ([[isCompleteSignatureStore]]).
    */
  def writeClusterMap(docs: DataFrame, path: String,
      sampleMod: Int = 2): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".inprogress")
    fs.delete(tmp, true)
    clustersLshMd5(docs, sampleMod)
      .write.parquet(new org.apache.hadoop.fs.Path(tmp, "base").toString)
    writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"),
      Array.emptyByteArray)
    StoreSwap.swapIn(fs, tmp, dst)
  }

  /** Overlay batch directories of a cluster map, (seq, path) sorted
    * by seq — only COMPLETE batches (parquet `_SUCCESS` present;
    * publishes are temp+rename so an incomplete one means a crash
    * mid-rename on a non-atomic FS, which must stay invisible).
    */
  private def clusterMapBatches(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .filter(s => fs.exists(
        new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map { s =>
        val name = s.getPath.getName.stripPrefix("batch=")
        (name.takeWhile(_.isDigit).toLong, s.getPath)
      }
      .sortBy(_._1)
  }

  /** Read back a persisted cluster map
    * (`doc_id, cluster_id, cluster_size`) — latest-wins over the
    * base frame plus any overlay `batch=` directories: each append
    * republishes rows ONLY for the components it touched (plus its
    * delta docs), so the row for a doc is the one from the highest
    * batch seq that carries it. With no overlays the base streams
    * through untouched (no shuffle). With overlays, latest-wins
    * among the OVERLAY rows is always an overlay-sized aggregate;
    * how the base joins in is picked from FS METADATA (total overlay
    * bytes — no Spark job, the read stays lazy):
    *
    *  - overlays small (the production shape — batch-sized deltas on
    *    a corpus-sized base): the base anti-joins the overlay winner
    *    ids under an explicit `broadcast()` — the BASE NEVER
    *    SHUFFLES, the exact property that matters at 100 TB;
    *  - overlays large (many uncompacted appends): one
    *    hash-partitioned max_by aggregate over base ∪ overlays
    *    (map-side partials collapse the 1–(#batches) rows per doc).
    *
    * Both shapes produce identical rows (base gen 0 loses to every
    * overlay gen; max_by over small-integer seqs is exact).
    * [[compactClusterMap]] restores the no-overlay fast path. A
    * crashed swap generation is auto-recovered from `.old` before
    * reading ([[StoreSwap.recover]]).
    */
  def readClusterMap(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    StoreSwap.recover(fs, new org.apache.hadoop.fs.Path(path),
      p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
    val cols = Seq("doc_id", "cluster_id", "cluster_size")
    val base = spark.read.parquet(s"$path/base").select(cols.map(col): _*)
    val batches = clusterMapBatches(fs, path)
    if (batches.isEmpty) base
    else {
      val overlays = batches.map { case (seq, p) =>
        spark.read.parquet(p.toString)
          .select(cols.map(col): _*).withColumn("gen", lit(seq))
      }.reduce(_ unionAll _)
      val overlayBytes = batches
        .map(b => fs.getContentSummary(b._2).getLength).sum
      if (overlayBytes <= 64L * 1024 * 1024) {
        // window bound n/a: overlay-sized agg + broadcast anti-join
        val ovLatest = overlays.groupBy("doc_id")
          .agg(max_by(struct(col("cluster_id"), col("cluster_size")),
            col("gen")).as("s"))
          .select(col("doc_id"), col("s.cluster_id").as("cluster_id"),
            col("s.cluster_size").as("cluster_size"))
        base.join(broadcast(ovLatest.select("doc_id")), Seq("doc_id"),
            "left_anti")
          .unionAll(ovLatest)
      } else {
        base.withColumn("gen", lit(0L)).unionAll(overlays)
          .groupBy("doc_id")
          .agg(max_by(struct(col("cluster_id"), col("cluster_size")),
            col("gen")).as("s"))
          .select(col("doc_id"), col("s.cluster_id").as("cluster_id"),
            col("s.cluster_size").as("cluster_size"))
      }
    }
  }

  /** Fold a cluster map's overlay batches back into one `base/`
    * frame — the amortized maintenance pass bounding overlay count
    * (the [[compactSignatureStore]] story): reads latest-wins,
    * republishes as a fresh base via one atomic [[StoreSwap]].
    * Read-before-replace: the merged frame is eagerly checkpointed
    * before the swap deletes its inputs. Compact ≡ no-op for readers
    * (spec-checked). Returns the number of batches folded.
    */
  /** Compaction POLICY: fold overlays only once their count reaches
    * `maxBatches` — the knob an ingest loop calls after every append
    * so read amplification stays bounded without paying a map rewrite
    * per batch (rewrite cost amortizes over `maxBatches` appends).
    * Returns the number of batches folded (0 = under threshold).
    */
  def maintainClusterMap(spark: org.apache.spark.sql.SparkSession,
      path: String, maxBatches: Int = 16): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (clusterMapBatches(fs, path).size >= maxBatches)
      compactClusterMap(spark, path)
    else 0
  }

  def compactClusterMap(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val nBatches = clusterMapBatches(fs, path).size
    if (nBatches == 0) return 0
    val merged = readClusterMap(spark, path).localCheckpoint()
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".inprogress")
    fs.delete(tmp, true)
    merged.write.parquet(new org.apache.hadoop.fs.Path(tmp, "base").toString)
    // carry the applied-tag ledger into the new generation: it is the
    // replay evidence that outlives the overlay dirs being folded
    val applied = new org.apache.hadoop.fs.Path(path, "_applied")
    if (fs.exists(applied))
      for (m <- fs.listStatus(applied))
        writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp,
          s"_applied/${m.getPath.getName}"), Array.emptyByteArray)
    writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"),
      Array.emptyByteArray)
    StoreSwap.swapIn(fs, tmp, dst)
    nBatches
  }

  /** Fold a DELTA batch into a persisted cluster map — the append
    * path the cluster-map store family was missing: refreshing the
    * map [[keepBestFromStore]] consumes costs delta + touched
    * components, never a full re-clustering of the base corpus.
    *
    * Inputs: `mapPath` holds the base map ([[writeClusterMap]]
    * layout); `storePath` holds the base corpus's banded signature
    * store ([[writeSignatureStore]]) WITHOUT the delta — the same
    * artifact pair a production ingest loop already maintains. After
    * this call, fold the delta's signatures in via
    * [[appendToSignatureStore]] so the NEXT batch probes them too.
    * (If the signature store already contains the delta, correctness
    * is unchanged — self-pairs are dropped by the component loop's
    * `u =!= v` filter and delta-delta pairs just arrive twice — but
    * the probe pays for the redundant rows; keep the documented
    * order.) Delta doc_ids must be new (disjoint from the base).
    *
    * Edge set = delta-delta candidates (the same guarded band
    * self-join the fresh path uses, over delta-only signatures) ∪
    * delta-base candidates (the [[incrementalLshStore]] probe,
    * pair-level) ∪ the stored components' star edges (member →
    * cluster_id) restricted to TOUCHED components — those containing
    * a base endpoint of some delta-base candidate. Star edges carry
    * exactly the stored connectivity, so running the existing
    * star-contraction loop over this subgraph relabels precisely the
    * components the delta can change; every untouched row streams
    * through unchanged (one narrow map scan, no shuffle beyond the
    * semi/anti join).
    *
    * Append ≡ fresh ([[writeClusterMap]] over base ∪ delta,
    * spec-checked law): per-doc banding is independent of the rest of
    * the corpus, so delta-delta and delta-base candidates equal the
    * fresh union's pairs touching a delta doc, base-base candidates
    * equal the stored map's connectivity, and component labels
    * (min doc_id) and sizes are determined by connectivity alone.
    * The one deviation is the bucket-occupancy guard at the cap
    * boundary: fresh decides over-cap on UNION occupancy while the
    * append sees delta-only (self-join) and base-truncation
    * ([[truncateOverCapBuckets]]) views, so a bucket crossing the
    * cap BECAUSE of the append can leave the appended map with
    * strictly MORE connectivity than fresh (which degrades the
    * over-cap bucket to a star around its min doc and can lose
    * est_sim-filtered links). Monotone-only: the append never drops
    * a link fresh would keep. Below the cap the two are
    * bit-identical — the same boundary caveat the incremental
    * verdict path documents.
    *
    * Scale shape: one column-pruned scan of each store (signature
    * probe + map pass-through), candidate work ∝ delta · bands +
    * bucket probes, star-contraction over |delta edges| + |touched
    * members| — per-batch cost independent of base size except
    * through the scans (measured flat on the ScaleBench rung). The
    * PUBLISH honors the same contract (since r12): only the rebuilt
    * rows (touched members + delta docs) land, as one atomic
    * content-tagged `batch=<seq>_<tag>` overlay directory that
    * [[readClusterMap]] merges latest-wins — never a rewrite (or
    * global sort) of the whole map. Untouched rows are never even
    * read as a frame, let alone rewritten. Re-running the same
    * delta's append is a no-op (same content tag already published —
    * the `batch=` idempotent-sink convention), so crashed appends
    * are simply retried. [[compactClusterMap]] bounds overlay count.
    */
  def appendToClusterMap(mapPath: String, storePath: String,
      deltaDocs: DataFrame, numHashes: Int = 16, bands: Int = 4,
      minEstSim: Double = 0.5, sampleMod: Int = 2,
      bucketCap: Int = DefaultBucketCap): Unit = {
    val spark = deltaDocs.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    require(isCompleteSignatureStore(fs, mapPath),
      s"appendToClusterMap: $mapPath is not a complete cluster map")
    val tagOpt = containmentBatchTag(deltaDocs)
    if (tagOpt.isEmpty) return // empty delta — no-op append
    val tag = tagOpt.get
    val existing = clusterMapBatches(fs, mapPath)
    // replayed batch — no-op. The `_applied/<tag>` ledger (not the
    // overlay dir's name) is the durable evidence: compaction folds
    // overlay DIRS away but carries the ledger into the new
    // generation, so a batch replayed after a compaction still skips
    // (re-appending an already-folded delta would feed its docs into
    // the node frame twice and double-count cluster sizes)
    val appliedMarker = new org.apache.hadoop.fs.Path(mapPath,
      s"_applied/$tag")
    if (fs.exists(appliedMarker) ||
        existing.exists(_._2.getName.endsWith("_" + tag))) return
    // overlay publish never replaces base/, so the old
    // read-before-replace checkpoint (an O(base) materialization per
    // append) is gone. The two consumers (touched lookup + member
    // semi-join) each re-scan the column-pruned parquet — cheap, and
    // the only O(base) term the contract allows. Only when overlays
    // already exist is the latest-wins AGGREGATE worth materializing
    // once instead of running per consumer.
    val storedRaw = readClusterMap(spark, mapPath)
      .select("doc_id", "cluster_id", "cluster_size")
    val stored =
      if (existing.isEmpty) storedRaw else storedRaw.localCheckpoint()
    val base = readSignatureStore(spark, storePath)
      .select("doc_id", "sig", "band", "bsig")
    val dBanded = bandedMd5Sigs(deltaDocs, numHashes, bands, sampleMod)
    // delta-delta: the fresh path's own guarded self-join, delta-only
    val ddPairs = guardedSelfJoinPairs(dBanded, Seq("band", "bsig"),
        bucketCap)(
        expr(s"""CAST(aggregate(zip_with(a.sig, b.sig, (x, y) -> IF(x = y, 1, 0)),
           |     0, (acc, v) -> acc + v) AS DOUBLE) / $numHashes""".stripMargin),
        "est_sim")
      .groupBy("d1", "d2").agg(first("est_sim").as("est_sim"))
      .filter(col("est_sim") >= minEstSim).select("d1", "d2")
    // delta-base: pair-level store probe (shared with the verdict path)
    val dbPairs = deltaBasePairSims(dBanded, base, "bsig", numHashes,
        minEstSim, bucketCap)
      .select(col("dd").as("d1"), col("db").as("d2"))
    // eager: shared by the touched-component lookup and the CC loop
    val deltaEdges = ddPairs.unionAll(dbPairs).localCheckpoint()
    // touched components = those owning a probed base endpoint;
    // bounded by the delta's candidate count, so usually broadcast
    val touched = stored
      .join(dbPairs.select(col("d2").as("doc_id")).distinct(), "doc_id")
      .select("cluster_id").distinct().localCheckpoint()
    val touchedKeyed =
      if (touched.count() <= 100000L) broadcast(touched)
      else touched.hint("shuffle_hash")
    val members = stored.join(touchedKeyed, Seq("cluster_id"), "left_semi")
    val starEdges = members.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("d1"), col("cluster_id").as("d2"))
    val nodes = deltaDocs
      .filter(pmod(col("doc_id"), lit(sampleMod)) === 0)
      .select(col("doc_id").as("node"))
      .unionAll(members.select(col("doc_id").as("node")))
    // overlay publish: ONLY the rebuilt rows (touched members + delta
    // docs) are written; untouched base rows stay where they are and
    // win by absence at read time. Temp+rename inside the store root
    // (dot-prefixed temp dirs are invisible to clusterMapBatches and
    // to parquet readers), so the batch appears atomically.
    val rebuilt = clusterize(deltaEdges.unionAll(starEdges), nodes)
    val seq = existing.lastOption.map(_._1 + 1L).getOrElse(1L)
    val batchDir = new org.apache.hadoop.fs.Path(mapPath,
      s"batch=${seq}_$tag")
    // sweep ALL stale temp dirs, not just this tag's — a crashed
    // append of a DIFFERENT batch would otherwise leave its tmp
    // orphaned forever (single-writer discipline, like every publish)
    for (st <- fs.listStatus(new org.apache.hadoop.fs.Path(mapPath))
        if st.getPath.getName.startsWith(".batchtmp_"))
      fs.delete(st.getPath, true)
    val tmp = new org.apache.hadoop.fs.Path(mapPath, s".batchtmp_$tag")
    rebuilt.write.parquet(tmp.toString)
    require(fs.rename(tmp, batchDir),
      s"cluster-map batch publish failed: $batchDir")
    // ledger AFTER the batch is visible: a crash in between re-runs
    // the append, which skips via the batch dir's own tag
    writeSmallFile(fs, appliedMarker, Array.emptyByteArray)
  }

  /** [[keepBest]] fed from a PERSISTED cluster map — resolution reads
    * the artifact ([[readClusterMap]]), never re-runs the clustering
    * pipeline. With the map written by [[writeClusterMap]] over the
    * same corpus, the output is bit-identical to the one-shot
    * [[keepBest]], so [[keepBestSql]] doubles as this path's oracle —
    * proving the store round-trip changes nothing.
    */
  def keepBestFromStore(docs: DataFrame, storePath: String,
      sampleMod: Int = 2): DataFrame =
    keepBestFromClusters(docs,
      readClusterMap(docs.sparkSession, storePath), sampleMod)

  /** Build-once helper for the driver entries — the cluster-map twin
    * of [[ensureSignatureStore]]: same `_SUCCESS` completeness gate
    * and content-fingerprint path keying, so crashed partials and
    * stale maps from regenerated fixtures are rebuilt, never trusted.
    */
  def ensureClusterMap(docs: DataFrame, tag: String,
      sampleMod: Int = 2): String = {
    val fp = StoreSwap.contentFp(docs, "ensureClusterMap",
      "doc_id", Seq("doc_id", "text"))
    val path = s"/tmp/graft_clustermap_${tag}_${fp.tag}_m$sampleMod"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    if (!isCompleteSignatureStore(fs, path))
      writeClusterMap(docs, path, sampleMod)
    path
  }

  /** Build-once helper for the APPENDED-map driver entry: carve
    * `docs` into base (`doc_id < 4/5·max`) and delta slices, build
    * the base cluster map + base signature store, fold the delta in
    * via [[appendToClusterMap]], and publish the result under a
    * content-fingerprint-keyed path. The whole build runs in a
    * staging directory and lands via one [[StoreSwap]], so the
    * completeness gate can never mistake a base-only map (crash
    * between build and append) for the appended artifact.
    */
  def ensureAppendedClusterMap(docs: DataFrame, tag: String,
      sampleMod: Int = 2): String = {
    val fp = StoreSwap.contentFp(docs, "ensureAppendedClusterMap",
      "doc_id", Seq("doc_id", "text"))
    val path = s"/tmp/graft_clustermap_app_${tag}_${fp.tag}_m$sampleMod"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    if (!isCompleteSignatureStore(fs, path)) {
      val thr = (fp.maxId * 4L) / 5L
      val baseDocs = docs.filter(col("doc_id") < thr)
      val deltaDocs = docs.filter(col("doc_id") >= thr)
      val sigStore = ensureSignatureStore(baseDocs, tag + "_appbase",
        sampleMod = sampleMod)
      val staging = path + ".building"
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
      writeClusterMap(baseDocs, staging, sampleMod)
      appendToClusterMap(staging, sigStore, deltaDocs,
        sampleMod = sampleMod)
      StoreSwap.swapIn(fs, new org.apache.hadoop.fs.Path(staging),
        new org.apache.hadoop.fs.Path(path))
    }
    path
  }

  def keepBestSql(sampleMod: Int = 2): String = {
    val wgrid = QualitySignals.wgridSqlExpr()
    s"""WITH RECURSIVE ${clusterLshLblCtes(sampleMod)},
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
       |  SELECT l.cluster_id, c.cluster_size, l.doc_id, s.score,
       |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
       |      ORDER BY s.score DESC, l.doc_id ASC) AS rk
       |  FROM lbl l JOIN csize c USING (cluster_id)
       |  JOIN score s USING (doc_id))
       |SELECT cluster_id, cluster_size, doc_id AS kept_doc,
       |  score AS kept_score, cluster_size - 1 AS n_dropped
       |FROM ranked WHERE rk = 1
       |ORDER BY cluster_id""".stripMargin
  }

  /** Component-size histogram of a cluster map (`doc_id, cluster_id,
    * cluster_size` — [[clustersLshMd5]]'s output schema): one row per
    * log₂ occupancy bucket with the cluster count and the largest
    * member. The giant-component OBSERVABILITY hook: a web-scale
    * dedup run prints this (ScaleBench's giantcluster rung does) so a
    * pathological mega-component surfaces as a number in the log
    * instead of a straggling downstream stage. Pure partial-
    * aggregatable aggregation — cheap at any scale.
    */
  def componentSizeHistogram(clusterMap: DataFrame): DataFrame =
    clusterMap.groupBy("cluster_id")
      .agg(max(col("cluster_size")).as("sz"))
      // floor(log2(n)) as binary-digit count: exact integer logic on
      // both engines, where a float log2 can land 1.999…8 at exact
      // powers of two and floor the bucket differently per engine
      .groupBy((length(bin(col("sz"))) - 1).cast("long").as("log2_size"))
      .agg(count(lit(1)).as("n_clusters"), max(col("sz")).as("max_size"))
      .orderBy("log2_size")

  /** DuckDB oracle for [[componentSizeHistogram]] over [[clusters]]'
    * map — the same binary-digit bucketing on the recursive-closure
    * component sizes.
    */
  def clusterHistogramSql(tau: Double = 0.5): String =
    s"""WITH RECURSIVE ${clusterLblCtes(tau)},
       |csize AS (SELECT cluster_id, COUNT(*) AS cluster_size
       |          FROM lbl GROUP BY 1)
       |SELECT CAST(length(bin(cluster_size)) - 1 AS BIGINT) AS log2_size,
       |  COUNT(*) AS n_clusters, MAX(cluster_size) AS max_size
       |FROM csize GROUP BY 1 ORDER BY 1""".stripMargin

  /** Optional cap guard over a cluster map: the number of components
    * larger than `cap`. Callers that would rather fail fast (or page)
    * than feed a mega-component into a resolution pass check this
    * once — one aggregate, no windows.
    */
  def oversizedClusterCount(clusterMap: DataFrame, cap: Long): Long =
    clusterMap.filter(col("cluster_size") > cap)
      .select("cluster_id").distinct().count()

  // ---------------------------------------------------------------
  // Passage-level (line-level) dedup — the CCNet/C4 boilerplate filter
  // ---------------------------------------------------------------

  /** Passage-level exact dedup: split each document into passages,
    * count each passage's occurrences CORPUS-WIDE, strip passages that
    * occur at least `maxOccurrences` times (headers, footers, cookie
    * banners — the CCNet/C4 line-dedup boilerplate filter), and
    * reassemble the surviving text in document order. Output per doc:
    * passage counts and the md5 of the reassembled text (proving the
    * reconstruction itself matches across engines, not just counts).
    *
    * The production splitting rule is newline; the synthetic corpus is
    * single-line word salad, so the driver entry splits into
    * fixed-width `width`-word passages — the splitter is the pluggable
    * part, everything downstream is identical.
    *
    * Scale shape: passages are keyed by their 60-bit md5 (CLAUDE.md
    * portable-hash convention), so the count aggregation and the
    * count-back join shuffle narrow (hash, pos) rows — never full
    * text; reassembly is one hash-agg keyed on doc_id whose state is
    * bounded by the document itself. Three shuffles total, nothing
    * quadratic, no broadcast of anything corpus-sized.
    */
  def passageDedup(docs: DataFrame, width: Int = 3,
      maxOccurrences: Int = 3): DataFrame =
    flaggedPassages(docs, width, maxOccurrences)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        count(when(col("keep"), lit(1))).as("n_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("pos"), col("passage"))))),
            s => s.getField("passage")),
          " ")).as("kept_md5"))
      .orderBy("doc_id")

  /** The cleaned corpus itself — surviving passages reassembled in
    * document order as a `clean` text column, the form downstream
    * stages (classifier gate, tokenization) consume. Same pipeline as
    * [[passageDedup]]; that entry's oracle checks this reconstruction
    * via its md5.
    */
  def passageClean(docs: DataFrame, width: Int = 3,
      maxOccurrences: Int = 3): DataFrame =
    flaggedPassages(docs, width, maxOccurrences)
      .groupBy("doc_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("passage"))))),
          s => s.getField("passage")),
        " ").as("clean"))

  /** WITHIN-document passage dedup — the in-document twin of
    * [[passageDedup]]: keep each passage's FIRST occurrence inside its
    * own document, drop repeats (navigation blocks, repeated
    * boilerplate paragraphs within a page — the in-doc half of the
    * Gopher repetition findings, as a removal instead of a flag).
    * Corpus state is never consulted, so this is a PURE MAP: split,
    * keep-first and reassembly are one array-HOF chain per row — zero
    * shuffles at any corpus size (plus the output sort). The md5 of
    * the reassembled text proves the reconstruction cross-engine.
    */
  def withinDocDedup(docs: DataFrame, width: Int = 3): DataFrame =
    docs
      .select(col("doc_id"),
        expr(s"filter(${TextFunctions.wordsSql("text")}, w -> w != '')")
          .as("ws"))
      .withColumn("ps", expr(
        s"""CASE WHEN size(ws) < 1 THEN array()
           |ELSE transform(sequence(1, int(ceil(size(ws) / $width.0))),
           |               i -> concat_ws(' ', slice(ws, (i-1)*$width+1, $width)))
           |END""".stripMargin))
      // keep-first: a passage survives iff its index is the FIRST
      // position where it occurs in this document (order-preserving)
      .withColumn("kept",
        expr("filter(ps, (p, i) -> array_position(ps, p) = i + 1)"))
      .select(col("doc_id"),
        size(col("ps")).cast("bigint").as("n_passages"),
        size(col("kept")).cast("bigint").as("n_unique"),
        md5(array_join(col("kept"), " ")).as("clean_md5"))
      .orderBy("doc_id")

  def withinDocDedupSql(width: Int = 3): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                w -> w <> '') AS ws
       |  FROM documents),
       |p AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ws) < 1 THEN []
       |    ELSE list_transform(range(1, CAST(ceil(len(ws)/$width.0) AS BIGINT)+1),
       |      i -> array_to_string(ws[(i-1)*$width+1 : (i-1)*$width+$width], ' '))
       |    END AS ps
       |  FROM t),
       |k AS (
       |  SELECT doc_id, ps,
       |    list_filter(ps, (x, i) -> list_position(ps, x) = i) AS kept
       |  FROM p)
       |SELECT doc_id, CAST(len(ps) AS BIGINT) AS n_passages,
       |  CAST(len(kept) AS BIGINT) AS n_unique,
       |  md5(array_to_string(kept, ' ')) AS clean_md5
       |FROM k ORDER BY doc_id""".stripMargin

  /** CROSS-document duplicated-SPAN removal — the removal half of the
    * Lee et al. pipeline ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499) whose detection half is
    * [[TextAnalysis.repeatedNgrams]]: a `width`-token window
    * (stride 1) is duplicated iff the identical window occurs in ≥2
    * DISTINCT documents; every token covered by at least one
    * duplicated window is stripped, in EVERY document (the
    * strip-everywhere variant, like [[passageDedup]]'s corpus-wide
    * boilerplate filter — deterministic and symmetric, no privileged
    * first copy), and the surviving tokens reassemble in order.
    * Output per doc: token count, removed count, md5 of the
    * reassembled text (proving the reconstruction cross-engine, the
    * passage-dedup convention). Docs shorter than one window carry no
    * windows and pass through untouched.
    *
    * Scale shape: the window explosion is one row per token keyed by
    * the portable 60-bit md5 (the [[TextAnalysis.repeatedNgrams]]
    * front end with the start position kept); the tally is a hash-agg
    * on the 8-byte key; dup starts flow back as narrow (doc_id, i)
    * rows into one per-doc list (bounded by the doc itself — same
    * state class as reassembly in [[passageDedup]]); the rebuild is a
    * map-side array-HOF over the token array. Four shuffles, nothing
    * quadratic, no corpus-sized broadcast.
    */
  def spanDedup(docs: DataFrame, width: Int = 8): DataFrame = {
    val toks = docs.select(col("doc_id"),
      expr(s"filter(${TextFunctions.wordsSql("text")}, w -> w != '')")
        .as("ws"))
    val gram = (0 until width).map(j => s"element_at(ws, i + $j)")
      .mkString("concat_ws(' ', ", ", ", ")")
    val grams = toks.select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(ws) < $width THEN array()
           |ELSE transform(sequence(1, size(ws) - ${width - 1}),
           |  i -> struct(i AS i, md5_prefix60($gram) AS gh))
           |END""".stripMargin)).as("g"))
      .select(col("doc_id"), col("g.i").as("i"), col("g.gh").as("gh"))
    val tally = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
    val dupStarts = grams.join(tally.hint("shuffle_hash"), "gh")
      .filter(col("nd") >= 2)
      .groupBy("doc_id").agg(collect_list(col("i")).as("starts"))
    toks.join(dupStarts.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("ss",
        coalesce(col("starts"), expr("CAST(array() AS array<int>)")))
      .withColumn("kept", expr(
        s"""CASE WHEN size(ws) < 1 THEN array()
           |ELSE transform(
           |  filter(sequence(1, size(ws)),
           |    p -> NOT exists(ss, s -> p >= s AND p <= s + ${width - 1})),
           |  p -> element_at(ws, p))
           |END""".stripMargin))
      .select(col("doc_id"),
        size(col("ws")).cast("bigint").as("n_tokens"),
        (size(col("ws")) - size(col("kept"))).cast("bigint")
          .as("n_removed"),
        md5(array_join(col("kept"), " ")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[spanDedup]] — same 1-based window starts,
    * same 60-bit md5 gram keys, same covered-token rebuild.
    */
  def spanDedupSql(width: Int = 8): String = {
    val gram = (0 until width).map(j => s"ws[i + $j]")
      .mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                w -> w <> '') AS ws
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, i,
       |    CAST('0x' || substring(md5($gram), 1, 15) AS BIGINT) AS gh
       |  FROM t,
       |    UNNEST(range(1, greatest(len(ws) - ${width - 1}, 0) + 1))
       |      AS u(i)),
       |c AS (SELECT gh, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
       |s AS (
       |  SELECT doc_id, LIST(i) AS starts
       |  FROM g JOIN c USING (gh) WHERE nd >= 2 GROUP BY doc_id),
       |r AS (
       |  SELECT t.doc_id, t.ws, COALESCE(s.starts, []) AS ss
       |  FROM t LEFT JOIN s USING (doc_id)),
       |k AS (
       |  SELECT doc_id, ws,
       |    list_transform(
       |      list_filter(range(1, len(ws) + 1),
       |        p -> len(list_filter(ss,
       |               s -> p >= s AND p <= s + ${width - 1})) = 0),
       |      p -> ws[p]) AS kept
       |  FROM r)
       |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
       |  CAST(len(ws) - len(kept) AS BIGINT) AS n_removed,
       |  md5(COALESCE(array_to_string(kept, ' '), '')) AS clean_md5
       |FROM k ORDER BY doc_id""".stripMargin
  }

  /** Returns `df` with an order- and equality-preserving BIGINT rank
    * of its `keys` tuple, plus the distinct-key count (the rank upper
    * bound). The DISTINCT key tuples get a unique rank from
    * [[Kernels.globalRank]] (range-shard + ledger — no unpartitioned
    * window), joined back onto every row; the bound is read off
    * globalRank's `n_total` on the already-eager ranked frame — a
    * 1-row collect of the fingerprint class — which is what lets
    * [[exactSubstringDedup]] decide per round whether the next
    * doubling can pack map-side. Only rank EQUALITY is consumed
    * downstream, so the (Spark-internal) collation of the total order
    * never reaches the oracle. Construction-EAGER via globalRank's
    * checkpointed shard tagging (documented per the r9 convention);
    * the eager job runs over the distinct-key frame only, never the
    * corpus-sized input.
    */
  private def rankByKeysCounted(df: DataFrame, keys: Seq[String],
      out: String): (DataFrame, Long) = {
    val distinctKeys = df.select(keys.map(col): _*).distinct()
    val ranked = Kernels.globalRank(distinctKeys, keys.map(col), out)
    val d = ranked.select(col("n_total")).limit(1).collect()
      .headOption.map(_.getLong(0)).getOrElse(0L)
    (df.join(ranked.drop("n_total").hint("shuffle_hash"), keys), d)
  }

  /** EXACT-substring dedup via distributed suffix ranking — the true
    * Lee et al. algorithm ("Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499, §4.1: suffix-array duplicate
    * detection at a byte threshold), complementing [[spanDedup]]'s
    * fixed-width-8 TOKEN window approximation with CHARACTER-level
    * granularity at an arbitrary threshold `minLen`.
    *
    * Semantics: a character is removed iff it lies inside some
    * substring of length ≥ `minLen` that occurs ≥ 2 times in the
    * corpus (any second occurrence counts — cross-doc, within-doc, or
    * self-overlapping, the paper's criterion; contrast [[spanDedup]]
    * which requires ≥ 2 DISTINCT documents). That removal set equals
    * "characters covered by a duplicated length-`minLen` window":
    * a duplicated run of length M ≥ minLen duplicates each of its
    * length-`minLen` sub-windows, and conversely a duplicated window
    * IS such a run — which is what makes the operator oracle-checkable
    * by an INDEPENDENT algorithm (the DuckDB side extracts literal
    * substrings; a hash match proves the suffix-ranking path computes
    * the same classes, not just a translation of itself).
    *
    * Algorithm (prefix doubling, the distributed suffix-array
    * construction of Flick & Aluru, "Parallel distributed memory
    * construction of suffix and LCP arrays", SC'15 — reformulated on
    * DataFrames): positions carry a rank equal to the equivalence
    * class of their length-k prefix; each round pairs rank[p] with
    * rank[p+k] (per-doc `lead`, sentinel 0 past the end) and re-ranks
    * the pairs, doubling k. After reaching K = 2^⌊log2 minLen⌋, the
    * length-`minLen` window class is the pair
    * (rank_K[p], rank_K[p + minLen − K]) — two overlapping length-K
    * windows covering [p, p+minLen) exactly, both unclipped whenever
    * p has ≥ minLen characters remaining. Duplicated starts are class
    * members with corpus-wide multiplicity ≥ 2; covered characters are
    * stripped and the survivors reassemble in order (md5-proved, the
    * [[spanDedup]] convention), plus merged-span statistics from the
    * start set (the suffix-array granularity [[spanDedup]] cannot
    * express).
    *
    * Scale shape: the corpus explodes ONCE into (doc_id, pos, seed)
    * rows where the seed is the length-`min(8, K)` prefix (the
    * Manber–Myers packed-word seeding — a fixed 8-char string is the
    * width of the two BIGINT ranks it replaces, and it cuts the round
    * count in half versus single-character seeds without changing the
    * doubling invariant: clipped prefixes compare equal iff the
    * strings do). Every later frame is three 8-byte columns — ranks,
    * never text. A doubling round is MAP-SIDE (an injective BIGINT
    * pack of the rank pair — see the loop comment) while the rank
    * bound fits 31 bits; consecutive packed rounds stack their `lead`
    * windows over ONE doc_id exchange and sort. Only a bound overflow
    * pays the classical re-rank round: one per-doc window sort, one
    * distinct aggregation, one join-back — all narrow rows — plus
    * [[Kernels.globalRank]] on the distinct-class frame. The round
    * count is fixed by `minLen` (⌈log2(K/seed)⌉+1, at most every
    * other one a re-rank below ~2e9 classes), NOT by corpus size:
    * n·log(minLen) narrow-row shuffle bytes total, vs the n·minLen
    * gram bytes a direct length-40 gram explode would hash map-side —
    * the published reason suffix ranking wins at scale.
    * Lazy localCheckpoint barriers sit exactly on the twice-consumed
    * frames (r7 iterative convention; see the loop comment).
    * Construction is EAGER (each re-rank's globalRank checkpoints its
    * distinct-class shard tagging; documented per the r9 convention).
    * Reassembly is a map-side array HOF bounded by the document
    * itself, as in [[spanDedup]].
    *
    * Output per doc: `n_chars`, `n_dup_starts` (duplicated window
    * starts), `n_removed` (characters stripped), `n_spans` (maximal
    * merged duplicated intervals), `clean_md5` (md5 of the stripped
    * reassembly).
    *
    * Character semantics: positions/lengths count Spark string
    * characters (`length`/`substring`), which the DuckDB oracle
    * matches on the ASCII fixtures; a non-ASCII corpus should confirm
    * the oracle engine's substring/length units align before trusting
    * the cross-engine hash. The Spark-side unit assumption itself is
    * pinned by a test, not prose: DedupSpec's multi-byte law runs both
    * rank paths on an é/中/ß corpus against the literal-gram reference
    * and asserts the planted removal in CHARACTER units.
    */
  def exactSubstringDedup(docs: DataFrame, minLen: Int = 40): DataFrame =
    exactSubstringDedup(docs, minLen, (1L << 31) - 1)

  /** [[exactSubstringDedup]] with the pack/re-rank decision threshold
    * exposed (clamped to the 2^31−1 overflow-safety ceiling — packs
    * must keep (bound+1)² < 2^63). A spec seam: `packCap = 0` forces
    * the classical re-rank on every doubling, proving both loop
    * branches compute identical classes on the same corpus.
    */
  private[graft] def exactSubstringDedup(docs: DataFrame, minLen: Int,
      packCapRequested: Long): DataFrame = {
    // lazy barrier on the twice-consumed rank frame (tally + join);
    // the pre-barrier shape is plan-audited via [[substringFinFrame]]
    val fin = substringFinFrame(docs, minLen, packCapRequested)
      .localCheckpoint(false)
    val tally = fin.groupBy("r", "rb").agg(count(lit(1)).as("cnt"))
    val dupStarts = fin.join(tally.hint("shuffle_hash"), Seq("r", "rb"))
      .filter(col("cnt") >= 2)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ss"))
    assembleSubstringReport(docs, dupStarts, minLen)
  }

  /** The suffix-ranking front end of [[exactSubstringDedup]],
    * UN-checkpointed: eligible window starts with their (r, rb) class
    * pair. Exposed `private[graft]` as the plan-audit seam — the
    * production path's lazy barrier sits directly on this frame and
    * hides its window exchanges from entry-level explains, so PlanSpec
    * asserts the per-doc hash partitioning (and the absence of any
    * unpartitioned window) HERE, on the pre-checkpoint building block
    * (the SearchIndexSpec pattern, r12).
    */
  private[graft] def substringFinFrame(docs: DataFrame, minLen: Int,
      packCapRequested: Long = (1L << 31) - 1): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val K = Integer.highestOneBit(minLen)
    import org.apache.spark.sql.expressions.Window
    // window bound: per-document (inherent shape — bounded by the
    // longest single document, the sessionize/per-doc class; residual
    // skew = one pathologically long document, which would already
    // bound the reassembly HOFs below)
    val perDoc = Window.partitionBy("doc_id").orderBy("pos")
    val seedLen = math.min(8, K)
    val seeds = docs
      .select(col("doc_id"), col("text"), explode(expr(
        "CASE WHEN length(text) < 1 THEN array() " +
          "ELSE sequence(1, length(text)) END")).as("pos"))
      .select(col("doc_id"), col("pos"),
        // naturally clipped at the end — prefix of min(seedLen, rem),
        // exactly the doubling invariant's class at k = seedLen
        expr(s"substring(text, pos, $seedLen)").as("g"))
    // lazy barriers go on the frames consumed TWICE (rankByKeysCounted
    // reads its input for the distinct pass and the join-back; `fin`
    // feeds both the tally and the tally join) — pack rounds have one
    // consumer and stay barrier-free, so consecutive packs stack their
    // lead windows over a SINGLE doc_id exchange and sort
    val (seedRanked, seedCount) =
      rankByKeysCounted(seeds.localCheckpoint(false), Seq("g"), "r")
    var cur = seedRanked.select(col("doc_id"), col("pos"), col("r"))
    // Packed doubling with adaptive compression: while the rank upper
    // bound fits 31 bits, a doubling round is the MAP-SIDE injective
    // pack r·(bound+1) + lead(r, k) (sentinel 0 past the end; ranks
    // are ≥ 1 so the sentinel cannot collide) — no ranking shuffle at
    // all, product < 2^62. Only when the bound overflows does a round
    // pay the classical two-column re-rank, which also resets the
    // bound to the (exact) class count. Downstream consumes rank
    // EQUALITY only, so any injective encoding is a valid rank. At
    // ≤ ~2e9 distinct classes this re-ranks at most every other
    // round; past it the loop degrades gracefully to the standard
    // re-rank-per-round algorithm.
    val packCap = math.min(packCapRequested, (1L << 31) - 1)
    var bound = seedCount
    var k = seedLen
    while (k < K) {
      if (bound <= packCap) {
        cur = cur.withColumn("r",
          col("r") * (bound + 1) +
            coalesce(lead(col("r"), k).over(perDoc), lit(0L)))
        bound = (bound + 1) * (bound + 1) - 1
      } else {
        val paired = cur.withColumn("r2",
            coalesce(lead(col("r"), k).over(perDoc), lit(0L)))
          .localCheckpoint(false)
        val (reranked, d) = rankByKeysCounted(paired, Seq("r", "r2"), "rn")
        cur = reranked.select(col("doc_id"), col("pos"),
          col("rn").as("r"))
        bound = d
      }
      k <<= 1
    }
    val rb = if (minLen == K) col("r")
      else lead(col("r"), minLen - K).over(perDoc)
    cur
      .withColumn("rb", rb)
      // eligible start: >= minLen characters remain in the document
      .withColumn("rl", lead(col("r"), minLen - 1).over(perDoc))
      .filter(col("rl").isNotNull)
      .select(col("doc_id"), col("pos"), col("r"), col("rb"))
  }

  /** The shared reassembly tail of [[exactSubstringDedup]] and
    * [[exactSubstringDedupIncremental]]: given per-doc duplicated
    * window starts, strip covered characters and emit the per-doc
    * report. Tests each position against the MERGED spans (a few per
    * doc), not the raw start list (dozens per doc on a dup-heavy
    * corpus) — same removal set by construction (within a merged run
    * consecutive start gaps are <= L, so the union of [s, s+L-1] is
    * exactly [head, last_start + L - 1]), ~an order of magnitude less
    * per-position lambda work on the CPU-bound final stage. Per-doc
    * array state bounded by the document itself.
    */
  private def assembleSubstringReport(docs: DataFrame,
      dupStarts: DataFrame, minLen: Int): DataFrame = {
    val L = minLen
    docs.join(dupStarts.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("ss",
        coalesce(col("ss"), expr("CAST(array() AS array<int>)")))
      // merged-interval heads: no earlier start within L of s keeps
      // the coverage contiguous (intervals [s, s+L-1] overlap or abut
      // exactly when the gap is <= L)
      .withColumn("hs", expr(
        s"filter(ss, s -> size(filter(ss, p -> p < s AND s - p <= $L)) = 0)"))
      // per-head span end: largest member start before the next head,
      // + L-1 (the size guard keeps element_at in bounds under ANSI)
      .withColumn("he", expr(
        s"""transform(hs, (h, i) -> aggregate(
           |  filter(ss, s2 -> s2 >= h AND
           |    (i + 2 > size(hs) OR s2 < element_at(hs, i + 2))),
           |  h, (m, x) -> greatest(m, x)) + ${L - 1})""".stripMargin))
      .withColumn("kept", expr(
        s"""concat_ws('', transform(
           |  filter(CASE WHEN length(text) < 1 THEN array()
           |         ELSE sequence(1, length(text)) END,
           |    p -> size(filter(hs,
           |      (h, i) -> p >= h AND p <= element_at(he, i + 1))) = 0),
           |  p -> substring(text, p, 1)))""".stripMargin))
      .select(col("doc_id"),
        length(col("text")).cast("bigint").as("n_chars"),
        size(col("ss")).cast("bigint").as("n_dup_starts"),
        (length(col("text")) - length(col("kept"))).cast("bigint")
          .as("n_removed"),
        size(col("hs")).cast("bigint").as("n_spans"),
        md5(col("kept")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[exactSubstringDedup]] — deliberately the
    * OTHER algorithm: literal length-`minLen` substring extraction and
    * corpus-wide multiplicity, no suffix ranks anywhere. A hash match
    * therefore certifies the prefix-doubling equivalence classes
    * against ground truth rather than mirroring the implementation.
    */
  def exactSubstringDedupSql(minLen: Int = 40): String = {
    val L = minLen
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS n FROM documents),
       |g AS (
       |  SELECT doc_id, i, substring(text, CAST(i AS INT), $L) AS s
       |  FROM d, UNNEST(range(1, greatest(n - $L + 1, 0) + 1)) AS u(i)),
       |c AS (SELECT s, count(*) AS cnt FROM g GROUP BY 1),
       |st AS (
       |  SELECT doc_id, list_sort(LIST(i)) AS ss
       |  FROM g JOIN c USING (s) WHERE cnt >= 2 GROUP BY doc_id),
       |r AS (
       |  SELECT d.doc_id, d.text, d.n, COALESCE(st.ss, []) AS ss
       |  FROM d LEFT JOIN st USING (doc_id)),
       |k AS (
       |  SELECT doc_id, n, ss,
       |    COALESCE(array_to_string(list_transform(
       |      list_filter(range(1, n + 1),
       |        p -> len(list_filter(ss,
       |               s -> p >= s AND p <= s + $L - 1)) = 0),
       |      p -> substring(text, CAST(p AS INT), 1)), ''), '') AS kept
       |  FROM r)
       |SELECT doc_id,
       |  CAST(n AS BIGINT) AS n_chars,
       |  CAST(len(ss) AS BIGINT) AS n_dup_starts,
       |  CAST(n - length(kept) AS BIGINT) AS n_removed,
       |  CAST(len(list_filter(ss,
       |    s -> len(list_filter(ss,
       |           p -> p < s AND s - p <= $L)) = 0)) AS BIGINT)
       |    AS n_spans,
       |  md5(kept) AS clean_md5
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // Persisted substring gram-count store + incremental exact-substring
  // dedup (the ingest-batch path: base corpus never re-ranked)
  // -------------------------------------------------------------------

  /** Eligible window starts with their md5 gram keys — (doc_id, pos,
    * gh, gh2) for every position with >= `minLen` characters
    * remaining. The probe-side front end of the incremental path and
    * the store's content unit.
    *
    * Each gram is keyed by 120 of the 128 md5 bits as TWO BIGINT
    * columns (hex 1-15 and 16-30; 16 hex digits would overflow a
    * signed BIGINT in both engines — the portable-twin house rule).
    * One 60-bit key would start merging distinct grams around 2^30 of
    * them; two push the any-collision probability at the 100 TB
    * design point (~2^46.5 distinct grams) below 2^-28. The oracle is
    * key-independent (it groups LITERAL substrings), so the layout is
    * certified against ground truth.
    */
  private[graft] def substringGrams(docs: DataFrame,
      minLen: Int): DataFrame =
    docs
      .select(col("doc_id"), col("text"), explode(expr(
        s"""CASE WHEN length(text) < $minLen THEN array()
           |ELSE sequence(1, length(text) - ${minLen - 1}) END"""
          .stripMargin)).as("pos"))
      // r19: one fused digest yields BOTH 60-bit halves
      // ([[graft.functions.Md5Prefix120]], spec-pinned to the hex
      // conv chain) — this is the hottest md5 site in the repo (one
      // hash per character position of every document)
      .withColumn("h", expr(s"md5_prefix120(substring(text, pos, $minLen))"))
      .select(col("doc_id"), col("pos"), expr("h[0]").as("gh"),
        expr("h[1]").as("gh2"))

  /** The store's key columns — every store consumer joins/aggregates
    * on exactly this set.
    */
  private val substringKeyCols = Seq("gh", "gh2")

  /** Every store consumer's precondition: the store at `path` is
    * complete AND carries the 120-bit key layout (`_meta_keywidth` =
    * 120, the LM store's `iln` lesson: a stored value's derivation is
    * visible in the layout). A legacy 60-bit store holds (gh, cnt)
    * rows with no `_meta_keywidth`; probing it would mis-join and an
    * append would land a (gh, gh2, cnt) overlay beside a (gh, cnt)
    * base, so it is refused before anything is read or written.
    * Returns the store's `minLen`.
    */
  private def requireSubstringStore(fs: org.apache.hadoop.fs.FileSystem,
      path: String, op: String): Int = {
    def meta(name: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(path, name)
      if (fs.exists(p)) Some(new String(readSmallFile(fs, p), "UTF-8").trim)
      else None
    }
    require(isCompleteSignatureStore(fs, path),
      s"$op: $path is not a complete substring store; " +
        "build it with writeSubstringStore")
    require(meta("_meta_keywidth").contains("120"),
      s"$op: $path is a legacy 60-bit-key substring store " +
        "(no `_meta_keywidth` = 120); rebuild it with writeSubstringStore")
    meta("_meta_minlen").get.toInt
  }

  /** Layout meta + `_SUCCESS` into the staged `tmp` root, then the
    * atomic swap — the publish tail shared by build and compaction.
    */
  private def publishSubstringStore(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      minLen: Int): Unit = {
    writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp, "_meta_minlen"),
      minLen.toString.getBytes("UTF-8"))
    writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp, "_meta_keywidth"),
      "120".getBytes("UTF-8"))
    writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"),
      Array.emptyByteArray)
    StoreSwap.swapIn(fs, tmp, dst)
  }

  /** Persist the base corpus's substring gram-count store: one
    * (gh, gh2, cnt) row per distinct length-`minLen` window (the
    * 120-bit keys of [[substringGrams]]) — the durable
    * artifact that lets every later ingest batch run exact-substring
    * dedup WITHOUT re-touching (or re-ranking) the base corpus.
    * Layout: `base/` parquet + overlay `batch=` dirs (appends) + the
    * `_applied/<tag>` replay ledger + `_meta_minlen` / `_meta_keywidth`
    * discriminators (a store is only valid for the threshold and key
    * layout it was built at — the LM store's `iln` path-discriminator
    * lesson, r14; checked by [[requireSubstringStore]]). Atomic
    * temp+rename publish; counts are ADDITIVE, so append ≡ fresh
    * EXACTLY and compaction is a pure re-layout.
    */
  def writeSubstringStore(docs: DataFrame, path: String,
      minLen: Int = 40): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".inprogress")
    fs.delete(tmp, true)
    substringGrams(docs, minLen)
      .groupBy(substringKeyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .write.parquet(new org.apache.hadoop.fs.Path(tmp, "base").toString)
    publishSubstringStore(fs, tmp, new org.apache.hadoop.fs.Path(path),
      minLen)
  }

  /** Base ∪ overlay gram-count rows, UN-aggregated (a gram present in
    * k dirs carries k rows whose counts sum to its true multiplicity).
    * Callers that need exact totals aggregate AFTER any pruning join,
    * so a delta-sized probe never pays a store-sized shuffle.
    */
  private def readSubstringRaw(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    StoreSwap.recover(fs, new org.apache.hadoop.fs.Path(path),
      p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
    val cols = substringKeyCols :+ "cnt"
    val base = spark.read.parquet(s"$path/base").select(cols.map(col): _*)
    clusterMapBatches(fs, path).map { case (_, p) =>
      spark.read.parquet(p.toString).select(cols.map(col): _*)
    }.foldLeft(base)(_ unionAll _)
  }

  /** Content tag for a substring-store batch: unlike
    * [[containmentBatchTag]] this folds `text` as well as `doc_id` —
    * the stored gram counts DERIVE from text (the r13 ensure-
    * fingerprint rule), so a same-ids/different-text replay must land
    * as a new batch, not silently no-op against the old marker.
    */
  private def substringBatchTag(docs: DataFrame): Option[String] = {
    val fp = docs.agg(count(lit(1)).as("n"), max(col("doc_id")).as("mx"),
      expr("bit_xor(xxhash64(doc_id, text))").as("xh")).collect().head
    if (fp.getLong(0) == 0L) None
    else Some(s"b${fp.getLong(0)}_${fp.getLong(1)}_" +
      java.lang.Long.toHexString(fp.getLong(2)))
  }

  /** Fold an ingest batch's gram counts INTO the store so the NEXT
    * batch dedups against it too: one overlay `batch=<seq>_<tag>`
    * directory holding only the delta's counts (additive — never a
    * base rewrite), published temp+rename with the `_applied/<tag>`
    * marker written LAST. A replayed batch (marker present) is a
    * no-op; a crashed append re-runs cleanly (same-tag dir replaced).
    * `minLen` comes from the STORE's meta, so appends need no caller
    * coordination.
    */
  def appendToSubstringStore(delta: DataFrame, path: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      delta.sparkSession.sparkContext.hadoopConfiguration)
    val minLen = requireSubstringStore(fs, path, "appendToSubstringStore")
    val tagOpt = substringBatchTag(delta)
    if (tagOpt.isEmpty) return // empty delta
    val tag = tagOpt.get
    val marker = new org.apache.hadoop.fs.Path(path, s"_applied/$tag")
    if (fs.exists(marker)) return // replayed batch
    val seq = (clusterMapBatches(fs, path).map(_._1) :+ 0L).max + 1
    val dstDir = new org.apache.hadoop.fs.Path(path, s"batch=${seq}_$tag")
    // a crashed attempt of THIS batch may have left a same-tag dir at
    // an earlier seq — remove it before republishing
    for ((_, p) <- clusterMapBatches(fs, path)
        if p.getName.endsWith(s"_$tag")) fs.delete(p, true)
    val tmp = new org.apache.hadoop.fs.Path(path, s".appendtmp_$tag")
    fs.delete(tmp, true)
    substringGrams(delta, minLen)
      .groupBy(substringKeyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .write.parquet(tmp.toString)
    require(fs.rename(tmp, dstDir), s"substring batch move failed: $tmp")
    writeSmallFile(fs, marker, Array.emptyByteArray)
  }

  /** Compaction POLICY (the [[maintainClusterMap]] shape): fold once
    * the overlay count reaches `maxBatches`. Returns batches folded.
    */
  def maintainSubstringStore(spark: org.apache.spark.sql.SparkSession,
      path: String, maxBatches: Int = 16): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    if (clusterMapBatches(fs, path).size >= maxBatches)
      compactSubstringStore(spark, path)
    else 0
  }

  /** Fold overlay batches back into one `base/` frame (read
    * amplification maintenance, the cluster-map discipline): additive
    * counts make the fold a pure re-layout. The `_applied` ledger
    * OUTLIVES the fold (r12 invariant — replay checks consult the
    * ledger, reads consult visibility), and so do both `_meta`
    * discriminators (minLen, key width). Returns batches folded.
    */
  def compactSubstringStore(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val minLen = requireSubstringStore(fs, path, "compactSubstringStore")
    val nBatches = clusterMapBatches(fs, path).size
    if (nBatches == 0) return 0
    // read-before-replace: eager checkpoint before the swap deletes
    // the inputs (the r9 store-append convention)
    val merged = readSubstringRaw(spark, path)
      .groupBy(substringKeyCols.map(col): _*)
      .agg(sum("cnt").as("cnt"))
      .localCheckpoint()
    val tmp = new org.apache.hadoop.fs.Path(path + ".inprogress")
    fs.delete(tmp, true)
    merged.write.parquet(new org.apache.hadoop.fs.Path(tmp, "base").toString)
    val ledger = new org.apache.hadoop.fs.Path(path, "_applied")
    if (fs.exists(ledger))
      for (m <- fs.listStatus(ledger))
        writeSmallFile(fs, new org.apache.hadoop.fs.Path(tmp,
          s"_applied/${m.getPath.getName}"), Array.emptyByteArray)
    publishSubstringStore(fs, tmp, new org.apache.hadoop.fs.Path(path),
      minLen)
    nBatches
  }

  /** The store-side prune shared by BOTH probe paths
    * ([[exactSubstringDedupIncremental]], [[substringDecontaminate]])
    * — one definition so the cap policy and the prune shape cannot
    * diverge between them. `probeKeys` must be DISTINCT key tuples.
    * Within cap: the keys broadcast into the store scan — the store
    * never shuffles. Over cap: a shuffle_hash left-semi prune, which
    * SHUFFLES THE FULL STORE's (key, cnt) rows once — the honest cost
    * of an over-cap probe (the job degrades to one store-sized
    * exchange instead of failing the broadcast; every aggregate after
    * the prune is still probe-sized). The key count is one job over
    * the caller's checkpointed key frame (construction-eager, see
    * callers' scaladoc).
    */
  private def prunedSubstringScan(spark: org.apache.spark.sql.SparkSession,
      storePath: String, probeKeys: DataFrame,
      maxBroadcastKeys: Long): DataFrame =
    if (probeKeys.count() <= maxBroadcastKeys)
      readSubstringRaw(spark, storePath)
        .join(broadcast(probeKeys), substringKeyCols)
    else
      readSubstringRaw(spark, storePath)
        .join(probeKeys.hint("shuffle_hash"), substringKeyCols, "left_semi")

  /** Exact-substring dedup of an ingest BATCH against the persisted
    * gram-count store — per-batch cost proportional to the delta, the
    * base corpus never re-read beyond a store probe. A delta window is
    * duplicated iff its corpus-wide multiplicity
    * (store count + within-delta count) is >= 2 — bit-identical to
    * [[exactSubstringDedup]] over base ∪ delta restricted to the delta
    * docs (spec law), so the batch path's oracle doubles for this one.
    *
    * Scale shape: the delta explodes once into (doc_id, pos, gh, gh2);
    * the store side is pruned BEFORE any aggregation by broadcasting
    * the delta's distinct gram keys into the store scan (the store NEVER
    * shuffles — the [[incrementalLshStore]] property), so the exact
    * total per probed gram is a delta-sized aggregate even when
    * overlay batches overlap. No windows anywhere; reassembly is the
    * shared per-doc span tail.
    *
    * Broadcast guard ([[prunedSubstringScan]], shared with the
    * decontaminate probe): a real ingest batch can carry hundreds of
    * millions of distinct gram keys — far past driver memory and the
    * broadcast cap — so the probe counts them first and, above
    * `maxBroadcastKeys`, degrades to a shuffle_hash left-semi prune.
    * The degraded branch shuffles the FULL store's (key, cnt) rows
    * once (the honest over-cap cost: one store-sized exchange instead
    * of a failed broadcast; post-prune aggregates stay probe-sized).
    * Construction is therefore EAGER (the key count — one job over
    * the checkpointed per-key frame, which every downstream branch
    * reuses anyway; the [[guardedSelfJoinPairs]] documentation
    * convention).
    */
  def exactSubstringDedupIncremental(delta: DataFrame,
      storePath: String,
      maxBroadcastKeys: Long = 4000000L): DataFrame = {
    val spark = delta.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val minLen = requireSubstringStore(fs, storePath,
      "exactSubstringDedupIncremental")
    val grams = substringGrams(delta, minLen).localCheckpoint(false)
    val deltaCnt = grams.groupBy(substringKeyCols.map(col): _*)
      .agg(count(lit(1)).as("dcnt"))
      .localCheckpoint(false)
    val pruned = prunedSubstringScan(spark, storePath,
      deltaCnt.select(substringKeyCols.map(col): _*), maxBroadcastKeys)
    val baseCnt = pruned.groupBy(substringKeyCols.map(col): _*)
      .agg(sum("cnt").as("bcnt"))
    val dupGh = deltaCnt
      .join(baseCnt.hint("shuffle_hash"), substringKeyCols, "left")
      .filter(col("dcnt") + coalesce(col("bcnt"), lit(0L)) >= 2)
      .select(substringKeyCols.map(col): _*)
    val dupStarts = grams.join(dupGh.hint("shuffle_hash"), substringKeyCols)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ss"))
    assembleSubstringReport(delta, dupStarts, minLen)
  }

  /** Oracle-checkable CENSUS of a substring store's content: exact
    * gram totals bucketed by `gh % 16`, with a portable 60-bit-md5
    * xor content hash over the (gh, gh2, cnt) rows (the export-manifest
    * convention). Both sides are recomputable by DuckDB from the raw
    * `documents` table ([[ingestSubstringSql]]), so bit-equality
    * proves a store grown through any sequence of appends (e.g. the
    * composed ingest loop) holds EXACTLY the fresh gram counts. One
    * store-sized aggregate; 16-row output.
    */
  def substringStoreReport(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    requireSubstringStore(fs, path, "substringStoreReport")
    val counts = readSubstringRaw(spark, path)
      .groupBy(substringKeyCols.map(col): _*).agg(sum("cnt").as("cnt"))
    // content hash folds EVERY key column
    counts
      .groupBy(pmod(col("gh"), lit(16L)).as("bucket"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("cnt")).as("n_windows"),
        expr("""bit_xor(md5_prefix60(concat(cast(gh as string), ':',
          cast(gh2 as string), ':', cast(cnt as string))))""")
          .as("xor_hash"))
      .orderBy("bucket")
  }

  /** DuckDB oracle for [[substringStoreReport]] over a store holding
    * the WHOLE `documents` table (base build + loop-appended batches):
    * recompute every length-`minLen` window's two 60-bit md5 key
    * halves and its exact multiplicity from the raw table, then the
    * same census with the same key-folding content hash.
    */
  def ingestSubstringSql(minLen: Int = 40): String = {
    val L = minLen
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS n FROM documents),
       |g AS (
       |  SELECT CAST('0x' || substring(h, 1, 15) AS BIGINT) AS gh,
       |    CAST('0x' || substring(h, 16, 15) AS BIGINT) AS gh2
       |  FROM (
       |    SELECT md5(substring(text, CAST(i AS INT), $L)) AS h
       |    FROM d, UNNEST(range(1, greatest(n - $L + 1, 0) + 1)) AS u(i)
       |  ) hh),
       |c AS (SELECT gh, gh2, count(*) AS cnt
       |      FROM g GROUP BY 1, 2)
       |SELECT gh % 16 AS bucket,
       |  count(*) AS n_grams,
       |  CAST(SUM(cnt) AS BIGINT) AS n_windows,
       |  bit_xor(CAST('0x' || substring(md5(CAST(gh AS VARCHAR) || ':'
       |    || CAST(gh2 AS VARCHAR) || ':'
       |    || CAST(cnt AS VARCHAR)), 1, 15) AS BIGINT)) AS xor_hash
       |FROM c GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Substring-level DECONTAMINATION against a persisted train-side
    * gram-count store — the Lee et al. decontamination step at
    * character granularity: a probe (eval/test) window is contaminated
    * iff the SAME length-`minLen` window occurs ANYWHERE in the stored
    * corpus (store presence, count ≥ 1). Within-probe duplication
    * deliberately does NOT count — the criterion is train∩test
    * overlap, not test-internal repetition — which is exactly where
    * this differs from [[exactSubstringDedupIncremental]]'s ≥ 2
    * corpus-multiplicity rule (spec-contrasted: a probe-only repeated
    * run survives decontamination untouched). Same scale shape as the
    * incremental path: probe grams once, distinct keys broadcast into
    * the store scan (the store never shuffles), shared merged-span
    * reassembly; output reports the probe docs with contaminated
    * spans stripped. Same broadcast guard (and the same documented
    * construction-eager key count) as
    * [[exactSubstringDedupIncremental]] — the ONE shared
    * [[prunedSubstringScan]]: an over-`maxBroadcastKeys` probe
    * degrades to a shuffle_hash left-semi prune that shuffles the
    * full store once.
    */
  def substringDecontaminate(probe: DataFrame,
      storePath: String,
      maxBroadcastKeys: Long = 4000000L): DataFrame = {
    val spark = probe.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val minLen = requireSubstringStore(fs, storePath,
      "substringDecontaminate")
    val grams = substringGrams(probe, minLen).localCheckpoint(false)
    val probeKeys = grams.select(substringKeyCols.map(col): _*).distinct()
      .localCheckpoint(false)
    val pruned = prunedSubstringScan(spark, storePath, probeKeys,
      maxBroadcastKeys)
    val hit = pruned.select(substringKeyCols.map(col): _*).distinct()
    val dupStarts = grams.join(hit.hint("shuffle_hash"), substringKeyCols)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ss"))
    assembleSubstringReport(probe, dupStarts, minLen)
  }

  /** DuckDB oracle for [[substringDecontaminate]] over the
    * base/probe split `doc_id % deltaMod == deltaRem` (probe) vs the
    * rest (stored): literal windows of the probe docs marked iff the
    * same substring occurs in the BASE slice — independent of the
    * md5-gram store mechanics entirely.
    */
  def substringDecontaminateSql(minLen: Int = 40,
      deltaMod: Int = 5, deltaRem: Int = 0): String = {
    val L = minLen
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS n FROM documents),
       |pg AS (
       |  SELECT doc_id, i, substring(text, CAST(i AS INT), $L) AS s
       |  FROM d, UNNEST(range(1, greatest(n - $L + 1, 0) + 1)) AS u(i)
       |  WHERE doc_id % $deltaMod = $deltaRem),
       |bg AS (
       |  SELECT DISTINCT substring(text, CAST(i AS INT), $L) AS s
       |  FROM d, UNNEST(range(1, greatest(n - $L + 1, 0) + 1)) AS u(i)
       |  WHERE doc_id % $deltaMod <> $deltaRem),
       |st AS (
       |  SELECT doc_id, list_sort(LIST(i)) AS ss
       |  FROM pg JOIN bg USING (s) GROUP BY doc_id),
       |r AS (
       |  SELECT d.doc_id, d.text, d.n, COALESCE(st.ss, []) AS ss
       |  FROM d LEFT JOIN st USING (doc_id)
       |  WHERE d.doc_id % $deltaMod = $deltaRem),
       |k AS (
       |  SELECT doc_id, n, ss,
       |    COALESCE(array_to_string(list_transform(
       |      list_filter(range(1, n + 1),
       |        p -> len(list_filter(ss,
       |               s -> p >= s AND p <= s + $L - 1)) = 0),
       |      p -> substring(text, CAST(p AS INT), 1)), ''), '') AS kept
       |  FROM r)
       |SELECT doc_id,
       |  CAST(n AS BIGINT) AS n_chars,
       |  CAST(len(ss) AS BIGINT) AS n_dup_starts,
       |  CAST(n - length(kept) AS BIGINT) AS n_removed,
       |  CAST(len(list_filter(ss,
       |    s -> len(list_filter(ss,
       |           p -> p < s AND s - p <= $L)) = 0)) AS BIGINT)
       |    AS n_spans,
       |  md5(kept) AS clean_md5
       |FROM k ORDER BY doc_id""".stripMargin
  }

  /** Content fingerprint path component shared by the ensure helpers:
    * folds (count, max doc_id, xxhash64(doc_id, text)); guards the
    * EMPTY frame (max is null there — an opaque NPE otherwise).
    */
  private def substringEnsureFp(docs: DataFrame): String = {
    val r = docs.agg(count(lit(1)).as("n"), max(col("doc_id")).as("mx"),
      expr("bit_xor(xxhash64(doc_id, text))").as("h")).collect().head
    if (r.getLong(0) == 0L) "empty"
    else s"${r.getLong(0)}_${r.getLong(1)}_" +
      java.lang.Long.toHexString(r.getLong(2))
  }

  /** Build-once helper for the driver entries ([[ensureSignatureStore]]
    * pattern): content fingerprint folds every column the store
    * derives from — (count, max doc_id, xxhash64(doc_id, text)) — plus
    * `minLen`, so a regenerated fixture or a different threshold
    * rebuilds rather than serving stale counts. The fixed `_w120`
    * suffix names the 120-bit key layout: a legacy 60-bit cache at
    * the suffix-less path (the r13 rule) is never served.
    */
  def ensureSubstringStore(baseDocs: DataFrame, tag: String,
      minLen: Int = 40): String = {
    val path = s"/tmp/graft_substrstore_${tag}_" +
      s"${substringEnsureFp(baseDocs)}_L${minLen}_w120"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      baseDocs.sparkSession.sparkContext.hadoopConfiguration)
    if (!isCompleteSignatureStore(fs, path))
      writeSubstringStore(baseDocs, path, minLen)
    path
  }

  /** Build-once helper for the APPEND-path driver entry: store built
    * from `base`, one batch folded in via [[appendToSubstringStore]].
    * The path folds BOTH frames' content fingerprints — a regenerated
    * batch under an unchanged base must re-derive the whole store, not
    * stack a second overlay beside the stale one (the marker replay
    * guard alone can only make IDENTICAL batches idempotent).
    * Repeated construction over unchanged fixtures is cheap: the build
    * is path-cached and the append replays as a marker no-op.
    */
  def ensureAppendedSubstringStore(base: DataFrame, batch: DataFrame,
      tag: String, minLen: Int = 40): String = {
    val path = s"/tmp/graft_substrstore_${tag}_${substringEnsureFp(base)}" +
      s"__${substringEnsureFp(batch)}_L${minLen}_w120"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      base.sparkSession.sparkContext.hadoopConfiguration)
    if (!isCompleteSignatureStore(fs, path))
      writeSubstringStore(base, path, minLen)
    appendToSubstringStore(batch, path)
    path
  }

  /** DuckDB oracle for [[exactSubstringDedupIncremental]] over the
    * base/delta split `doc_id % deltaMod == deltaRem` — the FRESH
    * full-corpus literal-gram computation restricted to the delta
    * docs, which is what the store path must equal exactly: counts
    * over base ∪ delta, output for delta only. The same SQL covers
    * the build-then-append store (additive counts make grow-by-append
    * ≡ build-fresh), so a green hash proves the whole store round
    * trip — publish, overlay append, replay guard — changes nothing.
    */
  def exactSubstringDedupIncrementalSql(minLen: Int = 40,
      deltaMod: Int = 5, deltaRem: Int = 0): String = {
    val L = minLen
    s"""WITH d AS (
       |  SELECT doc_id, text, length(text) AS n FROM documents),
       |g AS (
       |  SELECT doc_id, i, substring(text, CAST(i AS INT), $L) AS s
       |  FROM d, UNNEST(range(1, greatest(n - $L + 1, 0) + 1)) AS u(i)),
       |c AS (SELECT s, count(*) AS cnt FROM g GROUP BY 1),
       |st AS (
       |  SELECT doc_id, list_sort(LIST(i)) AS ss
       |  FROM g JOIN c USING (s) WHERE cnt >= 2 GROUP BY doc_id),
       |r AS (
       |  SELECT d.doc_id, d.text, d.n, COALESCE(st.ss, []) AS ss
       |  FROM d LEFT JOIN st USING (doc_id)
       |  WHERE d.doc_id % $deltaMod = $deltaRem),
       |k AS (
       |  SELECT doc_id, n, ss,
       |    COALESCE(array_to_string(list_transform(
       |      list_filter(range(1, n + 1),
       |        p -> len(list_filter(ss,
       |               s -> p >= s AND p <= s + $L - 1)) = 0),
       |      p -> substring(text, CAST(p AS INT), 1)), ''), '') AS kept
       |  FROM r)
       |SELECT doc_id,
       |  CAST(n AS BIGINT) AS n_chars,
       |  CAST(len(ss) AS BIGINT) AS n_dup_starts,
       |  CAST(n - length(kept) AS BIGINT) AS n_removed,
       |  CAST(len(list_filter(ss,
       |    s -> len(list_filter(ss,
       |           p -> p < s AND s - p <= $L)) = 0)) AS BIGINT)
       |    AS n_spans,
       |  md5(kept) AS clean_md5
       |FROM k ORDER BY doc_id""".stripMargin
  }

  /** (doc_id, pos, passage, keep) with corpus-wide occurrence flags —
    * the shared front end of [[passageDedup]]/[[passageClean]].
    */
  private def flaggedPassages(docs: DataFrame, width: Int,
      maxOccurrences: Int): DataFrame = {
    val passages = docs
      .select(col("doc_id"),
        expr(s"filter(${TextFunctions.wordsSql("text")}, w -> w != '')")
          .as("ws"))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(ws) < 1 THEN array()
           |ELSE transform(sequence(1, int(ceil(size(ws) / $width.0))),
           |               i -> concat_ws(' ', slice(ws, (i-1)*$width+1, $width)))
           |END""".stripMargin)))
      .toDF("doc_id", "pos", "passage")
      .withColumn("ph", expr("md5_prefix60(passage)"))
    val counts = passages.groupBy("ph").agg(count(lit(1)).as("c"))
    // at 100 TB both sides are big: hint shuffle_hash so Catalyst
    // never sorts for a join whose build side comes straight out of a
    // hash aggregate (AQE still converts to broadcast when small)
    passages.join(counts.hint("shuffle_hash"), "ph")
      .withColumn("keep", col("c") < maxOccurrences)
  }

  def passageDedupSql(width: Int = 3, maxOccurrences: Int = 3): String =
    s"""WITH ${passageCtes(width)}
       |SELECT doc_id,
       |  COUNT(*) AS n_passages,
       |  COUNT(CASE WHEN c < $maxOccurrences THEN 1 END) AS n_kept,
       |  md5(COALESCE(string_agg(passage, ' ' ORDER BY pos)
       |        FILTER (WHERE c < $maxOccurrences), '')) AS kept_md5
       |FROM h JOIN c USING (ph)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** CTE chain documents → fixed-width passages → 60-bit keys →
    * corpus-wide counts (`t`/`p`/`h`/`c`) — shared by
    * [[passageDedupSql]] and `CorpusPipeline.curateSql` so the
    * splitter (the pluggable part) can never diverge between the
    * standalone and composed oracles.
    */
  private[operators] def passageCtes(width: Int): String =
    s"""t AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                w -> w <> '') AS ws
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    array_to_string(ws[(i-1)*$width+1 : (i-1)*$width+$width], ' ')
       |      AS passage
       |  FROM t, UNNEST(range(1, CAST(ceil(len(ws)/$width.0) AS BIGINT)+1))
       |    AS u(i)),
       |h AS (
       |  SELECT doc_id, pos, passage,
       |    CAST('0x' || substring(md5(passage), 1, 15) AS BIGINT) AS ph
       |  FROM p),
       |c AS (SELECT ph, COUNT(*) AS c FROM h GROUP BY 1)""".stripMargin

  // ---------------------------------------------------------------
  // Estimator evaluation: LSH candidates vs exact-Jaccard truth
  // ---------------------------------------------------------------

  /** Precision/recall of the [[minHashLshMd5]] near-dup detector
    * against exact shingle-Jaccard ground truth — the calibration step
    * a pipeline runs before trusting an LSH configuration at corpus
    * scale: sweep (numHashes, bands, tau) on a sample, read this one
    * row, then ship the config. Truth = pairs with exact word-3-gram
    * shingle Jaccard ≥ `tau` (the very quantity minhash estimates);
    * detected = LSH candidates with est_sim ≥ `tau`. Both sides run on
    * the SAME deterministic 1-in-`sampleMod` document sample, so the
    * confusion counts line up pair-for-pair.
    *
    * Scale shape: the truth side is the inverted-index self-join —
    * inherently pair-quadratic, which is exactly why it stays
    * SAMPLE-BOUNDED (the [[jaccardHistogram]] yardstick rationale);
    * the LSH side is the banded/guarded production path. The
    * confusion matrix is one full-outer join on (d1, d2) plus a global
    * aggregate with map-side partials. CONSTRUCTING this frame is
    * eager (the LSH half rides [[guardedSelfJoinPairs]]).
    *
    * Cross-engine exactness: every count is an exact integer;
    * precision/recall are emitted as UNROUNDED integer-ratio divisions
    * (bit-identical IEEE, CLAUDE.md), NULL when the denominator is
    * empty — identically in both engines.
    */
  def lshEval(docs: DataFrame, tau: Double = 0.5, numHashes: Int = 16,
      bands: Int = 4, sampleMod: Int = 2): DataFrame = {
    val cand = minHashLshMd5(docs, numHashes, bands, minEstSim = tau,
        sampleMod = sampleMod)
      .select("d1", "d2").withColumn("c", lit(1L))
    // r19: the truth-side inverted-index self-join keys on the house
    // 60-bit md5 shingle hash instead of the raw ~30-char shingle
    // STRING — the join shuffles 8-byte keys (guide §2.3), identical
    // result set (the [[shingleHashFrame]] exact-verify convention:
    // distinct-strings-then-hash, candidate/common counts unchanged
    // absent 60-bit collisions, which the string-keyed DuckDB oracle
    // certifies against at every SF). Checkpointed once: three
    // consumers (sizes + both self-join sides).
    val sh = shingleHashFrame(
      docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0))
      .localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = sh.as("a").hint("shuffle_hash")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .filter(col("common").cast("double") /
        (col("n1") + col("n2") - col("common")) >= tau)
      .select("d1", "d2").withColumn("t", lit(1L))
    // shuffle-hash hint: Spark's default full-outer is a sort-merge
    // join; both sides here are hash-keyed candidate-pair sets (no
    // useful ordering), so SHJ is the right shape at any scale
    cand.join(truth.hint("shuffle_hash"), Seq("d1", "d2"), "full_outer")
      // coalesce the sums too: an empty sample reads "0 pairs, null
      // rates", not a row of nulls
      .agg(coalesce(sum(coalesce(col("c"), lit(0L))), lit(0L))
          .as("n_detected"),
        coalesce(sum(coalesce(col("t"), lit(0L))), lit(0L)).as("n_truth"),
        coalesce(sum(when(col("c").isNotNull && col("t").isNotNull, lit(1L))
          .otherwise(lit(0L))), lit(0L)).as("tp"))
      .select(col("n_detected"), col("n_truth"), col("tp"),
        (col("n_detected") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        when(col("n_detected") === 0, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") / col("n_detected"))
          .as("precision"),
        when(col("n_truth") === 0, lit(null).cast("double"))
          .otherwise(col("tp").cast("double") / col("n_truth"))
          .as("recall"))
  }

  /** DuckDB oracle for [[lshEval]]: the [[minHashLshMd5Sql]] candidate
    * CTE against an exact shingle-Jaccard truth CTE (same 3-gram
    * shingle fragment as the minhash side), confusion counts via the
    * same full-outer join.
    */
  def lshEvalSql(tau: Double = 0.5, numHashes: Int = 16, bands: Int = 4,
      sampleMod: Int = 2): String =
    s"""WITH cand AS (
       |${minHashLshMd5Sql(numHashes, bands, minEstSim = tau,
          sampleMod = sampleMod, ordered = false)}),
       |sh2 AS (
       |  SELECT DISTINCT doc_id,
       |    concat_ws(' ', arr[j], arr[j + 1], arr[j + 2]) AS sh
       |  FROM (SELECT doc_id, arr,
       |          UNNEST(range(1, greatest(len(arr) - 3, 0) + 2)) AS j
       |        FROM (SELECT doc_id,
       |                regexp_split_to_array(trim(text), '\\s+') AS arr
       |              FROM documents
       |              WHERE doc_id % $sampleMod = 0) t0) t1),
       |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY 1),
       |tpairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT d1, d2 FROM tpairs
       |  JOIN szs s1 ON d1 = s1.doc_id
       |  JOIN szs s2 ON d2 = s2.doc_id
       |  WHERE CAST(common AS DOUBLE) / (s1.n + s2.n - common) >= $tau),
       |m AS (
       |  SELECT
       |    CAST(COALESCE(SUM(COALESCE(c, 0)), 0) AS BIGINT) AS n_detected,
       |    CAST(COALESCE(SUM(COALESCE(t, 0)), 0) AS BIGINT) AS n_truth,
       |    CAST(COALESCE(SUM(CASE WHEN c IS NOT NULL AND t IS NOT NULL
       |                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp
       |  FROM (SELECT d1, d2, 1 AS c FROM cand) cf
       |  FULL OUTER JOIN (SELECT d1, d2, 1 AS t FROM truth) tf
       |    USING (d1, d2))
       |SELECT n_detected, n_truth, tp,
       |  n_detected - tp AS fp,
       |  n_truth - tp AS fn,
       |  CASE WHEN n_detected = 0 THEN NULL
       |       ELSE CAST(tp AS DOUBLE) / n_detected END AS precision,
       |  CASE WHEN n_truth = 0 THEN NULL
       |       ELSE CAST(tp AS DOUBLE) / n_truth END AS recall
       |FROM m""".stripMargin
}
