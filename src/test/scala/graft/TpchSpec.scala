package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Ctx, Extensions, Tpch}

/** End-to-end execution of the full declared query surface at sf0.001.
  * Value-level correctness is enforced by the DuckDB oracle gate
  * (tools/selfcheck.py, mirrored by the driver); this suite asserts the
  * whole surface executes and that every oracle-declared query is
  * actually declared.
  */
class TpchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def ctx = Ctx(spark, "/root/testdata/sf0.001")

  test("every oracle has a matching query") {
    val declared = Tpch.queries.keySet ++ Extensions.queries.keySet
    val oracles = Tpch.oracles.keySet ++ Extensions.oracles.keySet
    assert(oracles.subsetOf(declared))
    assert(Tpch.queries.size == 22)
  }

  // Declared before the per-entry runs so the first stream starts cold.
  test("a repeated TPC-H stream reuses its compiled code") {
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for ((_, fn) <- Tpch.queries.toSeq.sortBy(_._1))
        fn(ctx).write.format("noop").mode("overwrite").save()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compiles()
    val repeat = compiles()
    assert(repeat * 10 < first,
      s"the first stream compiled $first classes, the repeat $repeat")
    // the static confs took effect through getOrCreate
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    for (k <- Seq("spark.sql.ui.retainedExecutions",
        "spark.ui.retainedJobs", "spark.ui.retainedStages"))
      assert(spark.conf.get(k) == "10", k)
  }

  for ((name, fn) <- (Tpch.queries ++ Extensions.queries).toSeq.sortBy(_._1)) {
    test(s"$name executes at sf0.001") {
      val df = fn(ctx)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
