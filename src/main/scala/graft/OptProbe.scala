package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** r18 optimization-round diagnostic: splits the cluster-family entry
  * cost into its sequential phases (edge generation vs the CC
  * star-contraction fixpoint vs resolution) so the optimization work
  * targets the measured term, not a guess (guide §1). Ad-hoc, cheap,
  * fixture-only — not part of the bench contract. Each phase is timed
  * after a [[Bench.gcSettle]], through [[Bench.materialize]] or an
  * eager checkpoint.
  *
  * Usage: runMain graft.OptProbe [sfDir]
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    sys.props("graft.cacheTables") = "true"
    val spark = Engine.session("graft-opt-probe",
      master = s"local[${Engine.harnessCpus}]")
    val docs = graft.queries.Ctx(spark, dir).documents

    def time[A](name: String)(f: => A): A = {
      Bench.gcSettle()
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $name%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // warm-up: tables + codegen for the whole pipeline once
    Bench.materialize(Dedup.clustersLshMd5(docs))

    // phase split, each timed on a warm JVM
    val edges = time("minhash_lsh_md5 edges (eager)") {
      Dedup.minHashLshMd5(docs).select("d1", "d2").localCheckpoint()
    }
    val nodes = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("node"))
    val (lbl, rounds) = time("connectedComponents (fixpoint)") {
      val (l, r) = Dedup.ccWithRounds(edges, nodes)
      (l.localCheckpoint(), r)
    }
    println(s"[probe] cc rounds taken: $rounds, labels: ${lbl.count()}")
    time("clusterize tail (sizes+join)") {
      val sizes = lbl.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
      Bench.materialize(lbl.join(sizes.hint("shuffle_hash"), "lbl"))
    }
    time("full clustersLshMd5 entry") {
      Bench.materialize(Dedup.clustersLshMd5(docs))
    }
    time("full clusters (exact) entry") {
      Bench.materialize(Dedup.clusters(docs))
    }
    spark.stop()
  }
}
