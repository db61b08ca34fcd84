package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: restrict to these query names (local
    // iteration; the driver always passes exactly two)
    val (sfDir, outDir) = (args(0), args(1))
    val names = Bench.resolve(args.drop(2).toSeq)
    val cpus = Engine.harnessCpus
    val spark = Engine.session("graft-verify", s"local[$cpus]", cpus)
    val all = SparkEntry.queries
    dump(outDir, names.map(n => n -> (() => all(n)(spark, sfDir))),
      SparkEntry.oracleSql)
    spark.stop()
  }

  /** Writes each entry's result to `outDir/<name>` as one parquet file
    * (a failing entry is logged and skipped, so the compare reports it
    * missing) and every oracle to `outDir/oracle_sql.json`.
    */
  private[graft] def dump(outDir: String,
      entries: Seq[(String, () => DataFrame)],
      oracles: Map[String, String]): Unit = {
    new java.io.File(outDir).mkdirs()
    for ((name, run) <- entries)
      try run().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
