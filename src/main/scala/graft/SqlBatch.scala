package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Batch SQL runner for the differential fuzz harness
  * (`tools/fuzz_gen.py` → this → `tools/selfcheck.py`): executes each
  * generated query through the SAME session `Verify` uses
  * ([[Engine.session]]: GraftExtensions, UTC, nanos normalization,
  * AQE) and dumps one parquet directory per query, so the existing selfcheck
  * compare (columns sorted, rows sorted, values exact) adjudicates
  * Spark-vs-DuckDB agreement on queries nobody hand-picked.
  *
  * Input: `<outDir>/queries.tsv` — one `name<TAB>sql` per line (the
  * generator guarantees no tabs/newlines inside the SQL). The
  * generator also writes `<outDir>/oracle_sql.json` with the same
  * statements, which is what selfcheck.py consumes.
  *
  * `--search` mode (r18): a line whose SQL field starts with
  * `GRAFT_SEARCH ` is not SQL but a retrieval-pipeline SPEC
  * (`mode=…;k1=…;b=…;topK=…;topR=…;cap=…;w=…;q=qid:terms|…`). The
  * spec dispatches to the REAL Scala operators
  * ([[graft.operators.Search]] bm25Queries/bm25Rerank/bm25RerankModel
  * — so the fuzz exercises the operator implementation, not a SQL
  * re-transcription) and the DuckDB side comes from the SAME oracle
  * builders the curated entries use (`rerankFeatureCtes` via
  * bm25RerankSql etc.); the generated oracle statements are MERGED
  * into `<outDir>/oracle_sql.json` after the batch, so selfcheck runs
  * unchanged. Randomized query terms, k1/b, page sizes, integer-grid
  * weights and the over-cap branch (cap=0) all re-litigate the search
  * seam's cross-engine bets every seed-run.
  *
  * Usage: runMain graft.SqlBatch <sfDir> <outDir>
  */
object SqlBatch {

  /** Parse a GRAFT_SEARCH spec → (result frame, DuckDB oracle SQL). */
  private def dispatchSearch(spark: SparkSession,
      spec: String): (org.apache.spark.sql.DataFrame, String) = {
    import graft.operators.Search
    val kv = spec.split(";").map { p =>
      val Array(k, v) = p.split("=", 2); k -> v
    }.toMap
    val k1 = kv.getOrElse("k1", "1.2").toDouble
    val b = kv.getOrElse("b", "0.75").toDouble
    val topK = kv.getOrElse("topK", "10").toInt
    val topR = kv.getOrElse("topR", "5").toInt
    val cap = kv.get("cap").map(_.toLong)
      .getOrElse(Search.defaultMaxPushdownIds)
    val qt = kv("q").split("\\|").toSeq.map { s =>
      val Array(i, t) = s.split(":", 2); (i.toLong, t)
    }
    val docs = spark.table("documents")
    kv("mode") match {
      case "queries" =>
        (Search.bm25Queries(docs, qt, k1, b, topK),
          Search.bm25QueriesSql(qt, k1, b, topK))
      case "rerank" =>
        (Search.bm25Rerank(docs, qt, k1, b, topK, topR, cap),
          Search.bm25RerankSql(qt, k1, b, topK, topR))
      case m @ ("model" | "trained") =>
        val w = if (m == "trained") Search.trainedRerankWeights
          else kv("w").split(",").toSeq.map(_.toLong)
        (Search.bm25RerankModel(docs, qt, k1, b, topK, topR, w, cap),
          Search.bm25RerankModelSql(qt, k1, b, topK, topR, w))
      case "phrase" =>
        // exact-phrase containment (r18): the q list carries phrase
        // tables — both paths share the one layout-independent oracle,
        // so the fuzz covers the anchor arithmetic against ground truth
        (Search.phraseSearch(docs, qt), Search.phraseSearchSql(qt))
      case "phrase_store" =>
        // the positional-store path under the SAME oracle — every
        // seed-run re-certifies stored position lists vs the raw table
        val store = graft.operators.SearchIndex
          .ensureAppendedIndexStore(docs, "fuzz_phrase",
            positions = true)
        (graft.operators.SearchIndex.phraseFromStore(spark, store, qt),
          Search.phraseSearchSql(qt))
    }
  }

  /** JSON string escape shared with Verify's dump (control chars
    * included — a raw newline would break the driver-side json.load).
    */
  private def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val cpus = Engine.harnessCpus
    val spark = Engine.session("graft-sql-batch", s"local[$cpus]", cpus)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings"))
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    // events goes through the same nanos/NTZ normalization the curated
    // entries use (Ctx.events) — DuckDB's read of the same parquet
    // truncates ns→µs identically, so fuzzed timestamp comparisons and
    // min/max agree exactly
    graft.queries.Ctx(spark, sfDir).events.createOrReplaceTempView("events")
    // --nulls mode: the generator materializes null-injected fixture
    // derivatives under <outDir>/nullfix; register each as a view so
    // both engines read the SAME physical rows
    val nullfix = Paths.get(s"$outDir/nullfix")
    if (Files.isDirectory(nullfix))
      Files.list(nullfix).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach { p =>
          val name = p.getFileName.toString.stripSuffix(".parquet")
          spark.read.parquet(p.toString).createOrReplaceTempView(name)
        }
    var failed = 0
    val searchOracles = scala.collection.mutable.LinkedHashMap
      .empty[String, String]
    for (line <- Files.readAllLines(
        Paths.get(s"$outDir/queries.tsv")).asScala if line.nonEmpty) {
      // destructure inside the try: a malformed line (missing tab)
      // counts as ONE failure instead of aborting the whole batch
      try {
        val Array(name, sql) = line.split("\t", 2)
        if (sql.startsWith("GRAFT_SEARCH ")) {
          val (df, oracle) =
            dispatchSearch(spark, sql.stripPrefix("GRAFT_SEARCH "))
          df.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          searchOracles(name) = oracle
        } else
          spark.sql(sql).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(
          s"[sqlbatch] ${line.takeWhile(_ != '\t')} failed: ${e.getMessage}")
      }
    }
    // --search mode: fold the operator-side oracle statements into the
    // generator's oracle_sql.json so selfcheck adjudicates them like
    // any other fuzz query (the generator leaves these names out —
    // their DuckDB text only exists in the Scala builders)
    if (searchOracles.nonEmpty) {
      val p = Paths.get(s"$outDir/oracle_sql.json")
      val existing = Files.readString(p).trim.stripSuffix("}").trim
        .stripSuffix(",")
      val extra = searchOracles
        .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString(",\n ")
      val joined =
        if (existing == "{") s"{\n $extra\n}"
        else s"$existing,\n $extra\n}"
      Files.writeString(p, joined)
    }
    System.err.println(s"[sqlbatch] done, $failed failures")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
