package graft

import org.scalatest.funsuite.AnyFunSuite

/** Laws for the bench harness: the calibration probes (fixed work,
  * JIT-elision sink, parallel fan-out), the entry-name resolver and the
  * timed action — measurement harness code deserves the same spec
  * coverage as operators: a probe that silently stops doing its work
  * would re-open the blind window class it exists to detect, and a
  * timer that lets the optimizer skip work measures the wrong thing.
  */
class ProbeSpec extends AnyFunSuite {

  test("serial probe: fixed work, positive wall time, repeatable") {
    // NO wall-clock ratio assert (r17, ADVICE): a timing band on a
    // shared host turns load into a test failure — the exact condition
    // the probe exists to MEASURE (the parallel test's stance, applied
    // here too; the first run is also pre-JIT relative to the second).
    // The probe's contract is the sink require inside it: lost work
    // fails loudly there.
    val a = Bench.calibrationProbe()
    val b = Bench.calibrationProbe()
    assert(a > 0 && b > 0)
  }

  test("parallel probe: every thread completes and is counted, wall " +
    "time positive") {
    // NO wall-clock ratio asserts here: timing properties on a shared
    // host turn load into test failures (the exact condition the
    // probe exists to MEASURE, not to fail on). The concurrency
    // contract is the completion counter inside the probe — a lost
    // thread fails the require loudly instead of under-measuring.
    val one = Bench.calibrationProbeParallel(1)
    val four = Bench.calibrationProbeParallel(4)
    assert(one > 0 && four > 0)
  }

  test("entry resolver: unknown names throw and are named; known names " +
    "keep their order; no names means every entry") {
    val e = intercept[IllegalArgumentException](
      Bench.resolve(Seq("q1", "no_such_entry", "q6", "typo_q")))
    assert(e.getMessage.contains("no_such_entry"))
    assert(e.getMessage.contains("typo_q"))
    assert(!e.getMessage.contains("q6"))
    assert(Bench.resolve(Seq("q6", "q1", "dedup_spans")) ==
      Seq("q6", "q1", "dedup_spans"))
    val all = Bench.resolve(Nil)
    assert(all.toSet == SparkEntry.queries.keySet)
    assert(all.size == SparkEntry.queries.size)
    assert(all.take(3) == Seq("q1", "q2", "q3"))
  }

  test("scale-bench section resolver: unknown sections throw and are " +
    "named; no list means every default section, mlref opt-in") {
    val e = intercept[IllegalArgumentException](
      ScaleBench.resolveSections(Some("phrase,bloomgate,tpch,typo_sec")))
    assert(e.getMessage.contains("bloomgate"))
    assert(e.getMessage.contains("typo_sec"))
    assert(!e.getMessage.contains("phrase"))
    assert(ScaleBench.resolveSections(Some("phrase, mlref")) ==
      Set("phrase", "mlref"))
    val all = ScaleBench.resolveSections(None)
    assert(all("tpch") && all("phrase") && all("megabucket"))
    assert(!all("mlref"))
  }

  test("timed action: count() prunes a projected UDF column, " +
    "materialize computes every row of it") {
    import org.apache.spark.sql.functions.{col, udf}
    val spark = TestSpark.spark
    val calls = spark.sparkContext.longAccumulator("udf-calls")
    val bump = udf { (x: Long) => calls.add(1); x * 2 }
    val df = spark.range(0L, 1000L, 1L, 4)
      .select(col("id"), bump(col("id")).as("doubled"))
    assert(df.count() == 1000L)
    assert(calls.value == 0L)
    Bench.materialize(df)
    assert(calls.value == 1000L)
  }
}
