package graft

import graft.queries.TpchFull

/** Benchmark of the ORIGINAL full-column TPC-H surface
  * ([[graft.queries.TpchFull]]) over dbgen-format `.tbl` input — the
  * closest apples-to-apples number to the reference's actual harness,
  * which ran dbgen `.tbl` at ~2 GB
  * (`/root/reference/benchmark/test_tpch.py:26-35,69-72`). Tables are
  * read from `.tbl` and persisted before timing (the reference's
  * `client.persist`, `test_tpch.py:114-115`), then the 22 queries run
  * through [[Bench.phase]] — warm-up, GC settle, min of two measured
  * passes (plus a retake on >2× disagreement), each through the `noop`
  * sink: the [[Bench]] methodology.
  *
  * Usage: runMain graft.BenchDbgen [tblDir] [scale]
  * Generates the deterministic [[graft.sources.DbgenGen]] fixture into
  * `tblDir` if it's missing (scale 1000 ≈ 6M lineitem rows, the
  * reference's dbgen-SF1 row count).
  */
object BenchDbgen {
  def main(args: Array[String]): Unit = {
    val tblDir = args.headOption.getOrElse("/tmp/graft_dbgen_bench")
    val scale = if (args.length > 1) args(1).toInt else 1000
    if (!new java.io.File(s"$tblDir/lineitem.tbl").exists()) {
      println(s"generating dbgen fixture at $tblDir (scale $scale)…")
      graft.sources.DbgenGen.write(tblDir, scale)
    }
    sys.props("graft.cacheTables") = "true"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // shuffle partitions sized to data (≈1 per ~250k lineitem rows,
    // min cpus): a fixed 32 means ~1M wide rows per partition at
    // scale 5000 — sort/spill territory; AQE coalesces the excess
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      math.max(cpus.toInt, scale * 6000 / 250000).toString)
    val spark = Engine.session("graft-bench-dbgen", s"local[$cpus]", shuffleParts.toInt)
    val ctx = TpchFull.DbgenCtx(spark, tblDir)
    // prime + persist all tables, untimed
    for (t <- Seq("lineitem", "orders", "customer", "supplier", "part",
        "partsupp", "nation", "region"))
      ctx.t(t).count()
    val names = TpchFull.queries.keys.toSeq
      .sortBy(n => n.drop(1).toInt)
    val errors = scala.collection.mutable.ListBuffer[String]()
    val results = Bench.phase(names, n => TpchFull.queries(n)(ctx), errors)
      .map { case (n, passes) => n -> Bench.best(passes) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"dbgen_total","value":$total,"unit":"sec","queries":$qs,"errors":[${errors.distinct.map("\"" + _ + "\"").mkString(",")}],"scale":$scale}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DBGEN.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    results.foreach { case (n, v) => println(f"$n%-4s ${v}%8.3f s") }
    spark.stop()
  }
}
