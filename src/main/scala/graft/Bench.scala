package graft

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ml.MLParity

/** Benchmark harness — mirrors the reference's
  * `benchmark/test_tpch.py:75-153` (load, per-query wall-clock, print)
  * with the driver's one-line-JSON contract.
  *
  * Methodology (steady-state, isolated phases):
  *   1. the table cache is primed once, untimed (the reference harness
  *      persists tables before timing, `test_tpch.py:114-115`);
  *   2. PRODUCTION entries: one unmeasured warm-up pass (JIT +
  *      whole-stage-codegen compilation), a GC settle, then TWO
  *      measured passes reporting the per-query MINIMUM — the shared
  *      sandbox exhibits multi-second scheduling stalls on identical
  *      code (docs/BENCH_NOTES.md), and per-run minima are the
  *      documented signal; min-of-2 applies that stance inside one
  *      invocation so a single stall can't pollute the scoreboard.
  *      SETTLE+RETAKE (r10): entries whose two passes disagree by >2×
  *      (and aren't trivially fast) were hit by a rotating host stall
  *      in one of them — they get ONE more settled pass and the min of
  *      all three, so the recorded window tracks plan quality, not
  *      scheduler noise (the stall ROTATES between entries across
  *      identical runs — BENCH_NOTES r9 — so per-entry disagreement is
  *      the cheap, targeted detector);
  *   3. VERIFICATION TWINS (the `_md5`/`_exact` oracle artifacts,
  *      deliberately interpreted per-row md5/decimal work) run in their
  *      own phase AFTER the production pass, so their allocation churn
  *      cannot pollute heap/GC state for the numbers that matter;
  *   4. ML/array workloads last, each with inputs materialized before
  *      the timer starts.
  *
  * Every timed pass writes the entry's full result to the `noop` sink
  * ([[materialize]]); [[phase]] is the only timing loop, shared with
  * [[BenchDbgen]].
  *
  * Usage: runMain graft.Bench [name…] (SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_CPUS). Named entries are timed alone: same session and
  * phases, twins still in their own later phase, no ML rungs.
  */
object Bench {

  /** Fixed-work, data-independent CPU probe (~1 s nominal): three
    * rounds of xorshift-fill + sort + hash-fold over 4M longs,
    * single-threaded, no Spark, no I/O. Timed at window start AND end
    * and recorded in BENCH.json as `"calibration"`, so a swing in the
    * public per-round numbers on untouched code is attributable: probe
    * moved too → host load; probe flat → investigate the plan. (The
    * r10 driver window moved the TPC-H subtotal +30% with zero TPC-H
    * code change — without a probe that swing is indistinguishable
    * from a regression.) Deterministic work; the returned hash check
    * keeps the JIT from eliding the loop.
    */
  def calibrationProbe(): Double = {
    val t0 = System.nanoTime()
    val sink = new java.util.concurrent.atomic.AtomicLong()
    probeWork(0, rounds = 3, n = 1 << 22, sink)
    require(sink.get() != 0L)
    (System.nanoTime() - t0) / 1e9
  }

  /** The shared fixed-work kernel of both probes: xorshift-fill + sort
    * + hash-fold, folding the result into `sink` so the JIT cannot
    * elide the loop.
    */
  private def probeWork(tid: Int, rounds: Int, n: Int,
      sink: java.util.concurrent.atomic.AtomicLong): Unit = {
    var h = 0x9E3779B97F4A7C15L ^ tid
    val a = new Array[Long](n)
    var round = 0
    while (round < rounds) {
      var x = 88172645463325252L ^ (round * 1000003 + tid)
      var i = 0
      while (i < n) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1
      }
      java.util.Arrays.sort(a)
      i = 0
      while (i < n) { h ^= a(i) * 0xff51afd7ed558ccdL; i += 1 }
      round += 1
    }
    sink.addAndGet(h | 1L)
  }

  /** Fixed-work PARALLEL probe: the same kernel fanned across
    * `threads` JVM threads at once (2 rounds of 2M longs each), wall
    * seconds until ALL finish. The single-threaded probe is blind to
    * co-tenant CPU contention — both r15 sweeps sat in measurably
    * different multi-core windows while it read clean (VERDICT r15
    * What's-wrong #1) — because a shared host steals THROUGHPUT
    * (cores), not single-core latency. Recorded alongside the serial
    * probe at window start AND end as `"mt_start"`/`"mt_end"`;
    * attribution rule (docs/BENCH_NOTES.md): entries moved + EITHER
    * probe moved → host window, re-measure; entries moved + both
    * probes flat → investigate the plan.
    */
  def calibrationProbeParallel(threads: Int): Double = {
    val t0 = System.nanoTime()
    val sink = new java.util.concurrent.atomic.AtomicLong()
    // completion counter: a thread dying (e.g. OOM on its array)
    // would otherwise under-measure silently — join() still returns
    // and the surviving folds keep the sink non-zero, so the probe
    // would report N threads' window from N−1 threads' work (the
    // exact blind-window class it exists to close). Fail loudly.
    val done = new java.util.concurrent.atomic.AtomicLong()
    val ts = (0 until threads).map { tid =>
      val t = new Thread(() => {
        probeWork(tid, rounds = 2, n = 1 << 21, sink)
        done.incrementAndGet()
      })
      t.start(); t
    }
    ts.foreach(_.join())
    require(done.get() == threads,
      s"calibration probe lost threads: ${done.get()}/$threads completed")
    require(sink.get() != 0L)
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val names = resolve(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Engine.harnessCpus
    // mirror the reference harness: tables persisted before timing
    // (benchmark/test_tpch.py:114-115)
    sys.props("graft.cacheTables") = "true"
    val spark = Engine.session("graft-bench", s"local[$cpus]", cpus)
    // calibration: one untimed JIT warm-up per probe, then the
    // recorded window-start readings (serial latency + multi-core
    // throughput — see the probe scaladocs; reading a window starts here)
    calibrationProbe()
    calibrationProbeParallel(cpus)
    val calStart = calibrationProbe()
    val mtStart = calibrationProbeParallel(cpus)
    // verification twins are correctness artifacts, not production
    // paths — timed in a separate later phase (see scaladoc)
    val (twins, core) =
      names.partition(n => n.endsWith("_md5") || n.endsWith("_exact"))
    val errors = mutable.ListBuffer[String]()
    // prime the table cache once, untimed
    for (t <- graft.sources.TableLoader.fixtureTables)
      try graft.sources.TableLoader.table(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    val all = SparkEntry.queries
    val timings = Seq(core, twins).filter(_.nonEmpty)
      .flatMap(qs => phase(qs, n => all(n)(spark, sfDir), errors))
    val rawPasses = timings.toMap
    val mlResults =
      if (args.nonEmpty) Seq.empty
      else { gcSettle(); mlRungs(spark, sfDir, errors) }
    // emit per-query times in the stable display order (q1..q22,
    // extensions, twins interleaved alphabetically) regardless of the
    // phase each ran in
    val allResults = names.map(n => n -> best(rawPasses(n))) ++ mlResults
    val qs = allResults.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = errors.distinct.map(e => "\"" + e.replace("\"", "'") + "\"")
      .mkString("[", ",", "]")
    val total = allResults.map(_._2).filter(_ >= 0).sum
    val tpch = allResults
      .filter { case (n, v) => n.matches("^q\\d+$") && v >= 0 }
      .map(_._2).sum
    // all raw measured passes per entry, for auditability of the
    // min-of-N methodology
    val passes = timings.map { case (k, vs) =>
      "\"" + k + "\":[" + vs.mkString(",") + "]"
    }.mkString("{", ",", "}")
    // compact headline first AND last: the driver's record keeps only a
    // small char window of the output (r6 lost q1-q22 to a 2000-char
    // tail), so the subtotal line must survive truncation at either end
    // which BLAS backed the ML rungs (dev.ludovic.netlib loads the OS
    // libblas when present, silently falls back to pure Java — the
    // two differ ~10× in matmul rate, so an ML number without its
    // backend is unattributable; the r8 8192² ceiling footnote
    // becomes an in-run fact)
    val blas =
      try dev.ludovic.netlib.blas.BLAS.getInstance().getClass.getSimpleName
      catch { case _: Throwable => "unavailable" }
    val calEnd = calibrationProbe()
    val mtEnd = calibrationProbeParallel(cpus)
    // self-attribution (r17): the mt contention threshold is a ledger
    // fact now (BENCH_NOTES — 0.80 s at either edge at 32 threads ⇒
    // contended window, re-measure); stamp the verdict into the JSON
    // so a driver-run window carries its own attribution. Calibrated
    // ONLY for 32 threads — other thread counts emit no flag.
    val contended =
      if (cpus == 32)
        s""","mt_contended":${mtStart > 0.80 || mtEnd > 0.80}"""
      else ""
    val cal = f"""{"start":$calStart%.3f,"end":$calEnd%.3f,""" +
      f""""mt_start":$mtStart%.3f,"mt_end":$mtEnd%.3f,""" +
      f""""mt_threads":$cpus$contended}"""
    val headline =
      s"""{"metric":"headline","tpch_subtotal":$tpch,"total":$total,"unit":"sec","calibration":$cal,"blas":"$blas","sf":"$sfDir"}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"passes":$passes,"errors":$errs,"calibration":$cal,"blas":"$blas","sf":"$sfDir"}"""
    // the driver machine-parses this: sbt prefixes every stdout line
    // with "[info] ", so the bare lines also go to disk and stderr
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH.json"),
      (headline + "\n" + json + "\n" + headline + "\n").getBytes("UTF-8"))
    println(headline)
    println(json)
    println(headline)
    System.err.println(headline)
    System.err.println(json)
    System.err.println(headline)
    spark.stop()
  }

  /** The one timed action: write every row and column to Spark's
    * `noop` sink (full materialization, no I/O). `count()` would let
    * Catalyst prune projected work out of the plan, so the number
    * would be the cost of counting rows, not of producing the entry.
    */
  private[graft] def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Let allocation churn from the previous phase drain before timing;
    * also lets the ContextCleaner release dead checkpoint blocks.
    */
  private[graft] def gcSettle(): Unit = {
    System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(200)
  }

  /** The entry names a harness run covers: every `SparkEntry.queries`
    * entry in display order (q1..q22, then extensions) when `names` is
    * empty, else `names` in the given order. Any name that is not an
    * entry throws `IllegalArgumentException` listing all of them, so a
    * typo fails before a session starts instead of silently covering
    * nothing.
    */
  private[graft] def resolve(names: Seq[String]): Seq[String] = {
    val all = SparkEntry.queries.keySet
    val unknown = names.filterNot(all)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown entries: ${unknown.distinct.mkString(", ")}")
    if (names.nonEmpty) names.distinct
    else all.toSeq.sortBy { n =>
      // numeric-aware sort: q1, q2, ..., q22, then extensions
      val m = "^q(\\d+)$".r.findFirstMatchIn(n)
      (m.isEmpty, m.map(_.group(1).toInt).getOrElse(0), n)
    }
  }

  /** Wall seconds of `f`; a failure is recorded as -1 plus an `errors`
    * line, never as a fast "success" timing.
    */
  private def timed(errors: mutable.Buffer[String], name: String)(
      f: => Unit): (String, Double) = {
    val t0 = System.nanoTime()
    try { f; name -> (System.nanoTime() - t0) / 1e9 }
    catch {
      case e: Throwable =>
        errors += s"$name: ${e.getClass.getSimpleName}"
        name -> -1.0
    }
  }

  /** The one timing loop: an unmeasured warm-up pass, a GC settle, two
    * measured passes, and a settled retake for entries whose two passes
    * disagree by >2× (see the object scaladoc). Every pass times
    * [[materialize]] of `run(name)`. Returns each entry's raw passes (2,
    * or 3 after a retake), in `names` order; [[best]] reduces them.
    */
  private[graft] def phase(names: Seq[String], run: String => DataFrame,
      errors: mutable.Buffer[String]): Seq[(String, Seq[Double])] = {
    for (name <- names)
      try materialize(run(name))
      catch { case _: Throwable => () }
    def pass(qs: Seq[String]): Map[String, Double] = {
      gcSettle()
      qs.map(n => timed(errors, n)(materialize(run(n)))).toMap
    }
    val p1 = pass(names)
    val p2 = pass(names)
    val suspects = names.filter { n =>
      val (a, b) = (p1(n), p2(n))
      a >= 0 && b >= 0 && math.max(a, b) > 2 * math.min(a, b) &&
        math.max(a, b) > 0.5
    }
    val p3 = if (suspects.isEmpty) Map.empty[String, Double] else pass(suspects)
    names.map(n => n -> (Seq(p1(n), p2(n)) ++ p3.get(n)))
  }

  /** The recorded time of one entry: the minimum of its clean passes,
    * -1 if every pass failed.
    */
  private[graft] def best(passes: Seq[Double]): Double = {
    val ok = passes.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** Array/ML workloads — the reference's own benchmark set
    * (matrix_multiplication.py, svd_tall_skinny_matrix.py, kmeans.py,
    * tree_reduction.py, parallelizing_svm.py; recorded numbers in
    * BASELINE.md), scaled to this rig. The RDD rungs keep their RDD
    * actions, which do not prune.
    */
  private def mlRungs(spark: SparkSession, sfDir: String,
      errors: mutable.Buffer[String]): Seq[(String, Double)] =
    Seq(
      // 2048² with 256-blocks, chunks generated directly as blocks
      // (the da.random analogue); pure-Java BLAS without a native libblas
      timed(errors, "ml_matmul_2k") {
        val a = MLParity.randomBlockMatrix(spark, 2048, 256)
        val b = MLParity.randomBlockMatrix(spark, 2048, 256, seed = 7L)
        a.multiply(b).blocks.count()
      },
      timed(errors, "ml_svd_tallskinny") {
        val m = new org.apache.spark.mllib.linalg.distributed.RowMatrix(
          MLParity.randomMatrix(spark, 20000, 64, rowsPerBlock = 2048)
            .rows.map(_.vector))
        MLParity.svd(m, 16)
      },
      timed(errors, "ml_kmeans_embeddings") {
        val feats = MLParity.embeddingFeatures(
          spark.read.parquet(s"$sfDir/embeddings.parquet"))
        materialize(
          MLParity.parallelPredict(feats, MLParity.kmeans(feats, k = 10)))
      },
      timed(errors, "ml_treereduce_1m") {
        val s = spark.sparkContext.range(0L, 1000000L, numSlices = 32)
          .map(_.toDouble).treeReduce(_ + _, depth = 3)
        require(s > 0)
      },
      // the reference's M7 exercise (parallelizing_svm.py:32-44).
      // Convention (docs/BENCH_NOTES.md): PREDICT-ONLY — the 1M×64
      // input is persisted and materialized BEFORE the timer, and the
      // small fit is untimed, so the number is pure broadcast-scoring
      // throughput. (The reference's own accounting is lazier: its
      // timed predict also materializes the da.random input.)
      {
        val emb = MLParity.embeddingFeatures(
          spark.read.parquet(s"$sfDir/embeddings.parquet"))
        val model = MLParity.fitSvc(
          emb.selectExpr("features", "cast(label < 5 as double) as label"))
        val big = spark.createDataFrame(
          MLParity.randomMatrix(spark, 1000000L, 64, rowsPerBlock = 65536)
            .rows.map(r => Tuple1(
              org.apache.spark.ml.linalg.Vectors.dense(r.vector.toArray))))
          .toDF("features").persist()
        big.count() // materialize outside the timer
        val r = timed(errors, "ml_svc_predict_1m") {
          materialize(MLParity.parallelPredictSvc(big, model))
        }
        big.unpersist()
        r
      })
}
