package graft

import java.nio.file.{Files, Paths}

/** Plan audit: counts shuffle exchanges / broadcast joins / sort-merge
  * joins / scans per declared query and writes a markdown table —
  * the per-round "would this survive 100×?" review artifact
  * (docs/PLANS.md). Usage: runMain graft.PlanStats [sfDir] [outFile]
  */
object PlanStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "docs/PLANS.md"
    val spark = Engine.session("graft-planstats")
    val rows = SparkEntry.queries.toSeq
      .sortBy { case (n, _) =>
        val m = "^q(\\d+)$".r.findFirstMatchIn(n)
        (m.isEmpty, m.map(_.group(1).toInt).getOrElse(0), n)
      }
      .map { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          def c(token: String) = token.r.findAllIn(plan).size
          (name, c("Exchange hashpartitioning"),
            c("Exchange rangepartitioning"), c("Exchange SinglePartition"),
            c("BroadcastHashJoin"), c("SortMergeJoin"),
            c("TakeOrderedAndProject"), c("Scan parquet"),
            c("Scan ExistingRDD"))
        } catch { case e: Throwable =>
          System.err.println(s"[planstats] $name failed: ${e.getMessage}")
          (name, -1, -1, -1, -1, -1, -1, -1, -1)
        }
      }
    // fail LOUDLY on any unplannable entry — a -1 row silently riding
    // into PLANS.md is how audit gaps go unnoticed (r11 verdict #3)
    val broken = rows.filter(_._2 < 0).map(_._1)
    require(broken.isEmpty,
      s"plan audit failed for: ${broken.mkString(", ")}")
    val sb = new StringBuilder
    sb.append("# Physical-plan audit\n\n")
    sb.append(s"Generated by `graft.PlanStats` against `$sfDir` ")
    sb.append("(initial plans; AQE may further coalesce/convert at runtime).\n")
    sb.append("Columns: hash-partition exchanges (the real shuffles), ")
    sb.append("range-partition exchanges (global sorts — only LIMIT ")
    sb.append("tie-breaks and output-sized ORDER BYs belong here), ")
    sb.append("single-partition exchanges (final 1-row/ordered collects), ")
    sb.append("broadcast joins, sort-merge joins, top-k operators, ")
    sb.append("parquet scans.\n\n")
    sb.append("Note: the `probe_ln_grid{6,9,12}` entries are ")
    sb.append("ln-divergence MEASUREMENT canaries (they hash libm ")
    sb.append("`ln()` of a literal ladder at three grids) — red at ")
    sb.append("grid G on a verification engine means its `ln` ")
    sb.append("differs from the JVM's by ≳1/G; `probe_ln_intkernel` ")
    sb.append("is the deterministic control that must stay green. ")
    sb.append("See SURVEY.md §8 and CLAUDE.md's round-14 rule.\n\n")
    sb.append("The `barriers` column counts lazy localCheckpoint plan ")
    sb.append("barriers (`Scan ExistingRDD`): a row with barriers > 0 ")
    sb.append("is a TRUNCATED audit — shuffles/scans upstream of each ")
    sb.append("barrier are invisible here (they execute once at the ")
    sb.append("barrier's materialization), so pruning/window guarantees ")
    sb.append("for that upstream segment are asserted on the ")
    sb.append("pre-checkpoint building block in PlanSpec/unit specs ")
    sb.append("(the r12 SearchIndexSpec convention), not in this table. ")
    sb.append("The column makes the audit blind spot explicit instead ")
    sb.append("of letting a new barrier read as a plan improvement ")
    sb.append("(ADVICE r14).\n\n")
    sb.append("Barrier-truncated substring rows ")
    sb.append("(`dedup_exact_substring[,_store,_append]`, ")
    sb.append("`dedup_substring_decontaminate`): the upstream segments ")
    sb.append("hidden here are plan-asserted in PlanSpec's three ")
    sb.append("substring guards — the gram explode is a pure pruned ")
    sb.append("scan (no exchange), the suffix rank frame stacks all ")
    sb.append("windows on ONE doc_id exchange (globalRank's ≤width-row ")
    sb.append("ledger is the only unpartitioned window), and the store ")
    sb.append("probe prunes the store scan with the broadcast delta ")
    sb.append("keys before any aggregation.\n\n")
    sb.append("Harness-barrier rule (r18, from the r17 review's own ")
    sb.append("near-miss): bench/rung HARNESSES must not localCheckpoint ")
    sb.append("upstream of a pushdown or partition-prune they exist to ")
    sb.append("measure — the barrier swallows the parquet scan exactly ")
    sb.append("as it does in this audit, so the measured column silently ")
    sb.append("stops measuring the pruned plan (the first rerankqueries ")
    sb.append("rung checkpointed the corpus and erased the In-pushdown ")
    sb.append("it contrasted). Barriers in harnesses belong on frames ")
    sb.append("the measurement treats as INPUT, never on the measured ")
    sb.append("path.\n\n")
    sb.append("| query | shuffles | range | 1-part | bcast joins | SMJ | top-k | scans | barriers |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|\n")
    rows.foreach { case (n, sh, rg, sp, bc, smj, tk, sc, br) =>
      sb.append(s"| $n | $sh | $rg | $sp | $bc | $smj | $tk | $sc | $br |\n")
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out (${rows.size} queries)")
    spark.stop()
  }
}
