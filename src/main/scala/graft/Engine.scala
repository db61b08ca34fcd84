package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine — every harness, test and
  * benchmark builds its session here.
  *
  * The reference (`/root/reference/`, a dask/distributed fork) boots a
  * scheduler + N workers and connects a `Client`
  * (`benchmark/test_tpch.py:75-101`). In Spark all of that is the
  * `SparkSession`: driver = scheduler, executors = workers, Catalyst +
  * DAGScheduler subsume dask's graph optimizer and `decide_worker`
  * placement (SURVEY.md §3-4).
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting, shuffle
  * coalescing); shuffle partitions default to `GRAFT_SHUFFLE_PARTITIONS`
  * (32), harnesses pass their core count and the test session 4 — on a
  * real cluster this is a deploy-time knob, the query code never
  * hard-codes partition counts.
  *
  * Compiled code stays resident across a query stream, as the
  * reference never recomputes a result it already holds
  * (`client.py:1530-1533`). Spark's generated-code cache, keyed by
  * source text, holds 100 classes by default; one 22-query TPC-H pass
  * needs 300–500, so a repeated stream re-ran Janino and the JIT for
  * most of its stages. 1000 entries hold that working set.
  *
  * The retained classes cost heap, paid for by the status store's
  * completed-item history (1,000 executions, jobs and stages each by
  * default), which only the web UI reads — disabled in every graft
  * session; graft's tracers use their own listeners. Keeping 10 of
  * each holds live heap within a few percent of the default cache's.
  *
  * Both blocks are STATIC confs, honoured only by the first session
  * of a JVM (the cache is sized at the first compile, retention when
  * the SparkContext starts); a later `getOrCreate` keeps them.
  */
object Engine {

  /** Core count of every harness main's `local[n]` session (Bench,
    * Verify, SqlBatch, BenchDbgen, OptProbe, ScaleBench):
    * `SPARK_GRAFT_CPUS`, default 4.
    */
  def harnessCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def session(
      appName: String = "graft",
      master: String = sys.env.getOrElse("GRAFT_MASTER", "local[*]"),
      shufflePartitions: Int =
        sys.env.getOrElse("GRAFT_SHUFFLE_PARTITIONS", "32").toInt
  ): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime row-level join pruning: bloom filters built from the
      // selective side prune the probe-side scan (a big win for the
      // dimension-filtered fact joins at 100 TB)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the events fixture carries TIMESTAMP(NANOS) parquet, which
      // Spark 4 rejects by default; read as long and normalize in Ctx
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // static confs (see scaladoc): generated code stays resident
      // across a query stream ...
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // ... paid for by completed-item history only the UI reads
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "10")
      .config("spark.ui.retainedStages", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
