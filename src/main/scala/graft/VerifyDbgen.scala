package graft

import graft.queries.TpchFull

/** Correctness dump for the ORIGINAL full-column TPC-H surface over
  * dbgen `.tbl` input (`queries/TpchFull`) — same contract as
  * [[Verify]]: per-query parquet + oracle_sql.json, compared by
  * `tools/selfcheck_dbgen.py` against DuckDB reading the same `.tbl`
  * files.
  *
  * Usage: runMain graft.VerifyDbgen <tblDir> <outDir>
  * (generate a fixture first: runMain graft.sources.DbgenGen <tblDir>)
  */
object VerifyDbgen {
  def main(args: Array[String]): Unit = {
    val Array(tblDir, outDir) = args
    val spark = Engine.session("graft-verify-dbgen")
    val ctx = TpchFull.DbgenCtx(spark, tblDir)
    Verify.dump(outDir,
      TpchFull.queries.toSeq.map { case (n, fn) => n -> (() => fn(ctx)) },
      TpchFull.oracles)
    spark.stop()
  }
}
