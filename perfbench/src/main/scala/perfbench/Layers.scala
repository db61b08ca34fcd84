package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the span tree and the
  * collectors' counts. Totals are per traced pass; a layer the workload
  * does not touch reads 0.
  */
object Layers {

  val TpchOps: Seq[String] = (1 to 22).map(i => s"q$i")
  /** The 12 read ops of `corpus` and `ingest`. */
  val ReadOps: Seq[String] = Seq("dedup_minhash_lsh", "dedup_clusters",
    "dedup_keep_best", "dedup_exact_substring", "text_repetition",
    "text_quality", "pipeline_curate", "sim_ann_lsh", "sim_ivf_topk",
    "text_bm25_rerank", "keep_best_from_store", "bm25_from_store")

  private val MiB = 1048576.0

  /** Inputs measured outside the span tree. */
  final case class Context(
      cores: Int,
      tracedPasses: Int,
      tracedPassWallS: Seq[Double],
      untracedPassWallS: Seq[Double],
      cacheFillS: Double,
      fsBytesRead: Long,
      fsBytesWritten: Long,
      deltaTextBytes: Long,
      storeFiles: Long)

  def metrics(t: Tracer, opSpans: Seq[(Span, String)], c: Context): Seq[Metric] = {
    val spans = t.spans
    val children = spans.groupBy(_.parent)
    val jobsBySpan = t.jobs.groupBy(_.span.parent)
    val n = math.max(c.tracedPasses, 1).toDouble

    final case class OpView(span: Span, kind: String, jobs: Seq[JobRec],
        buildSpans: Seq[Span]) {
      def wall: Double = span.length / 1e3
      def jobUnionS(js: Seq[JobRec] = jobs): Double =
        Stats.unionLength(js.map(j => (j.span.start, j.span.end))) / 1e3
    }
    val ops = opSpans.map { case (s, kind) =>
      val kids = children.getOrElse(s.id, Nil)
      OpView(s, kind, kids.flatMap(k => jobsBySpan.getOrElse(k.id, Nil)),
        kids.filter(_.kind == "build"))
    }
    val jobs = ops.flatMap(_.jobs)
    def perPass(x: Double): Double = x / n
    def sumJobs(f: JobRec => Double): Double = jobs.map(f).sum

    val out = mutable.ArrayBuffer.empty[Metric]
    def m(name: String, v: Double, unit: String): Unit = out += Metric(name, v, unit)

    m("sources.cache_fill_s", c.cacheFillS, "s")
    m("sources.input_mb", perPass(c.fsBytesRead / MiB), "MiB")

    val builds = ops.flatMap(_.buildSpans)
    m("queries.build_s", perPass(builds.map(_.length / 1e3).sum), "s")
    m("queries.build_jobs",
      perPass(builds.map(b => jobsBySpan.getOrElse(b.id, Nil).size).sum), "count")

    val plans = ops.map(o => t.plan(o.span.id))
    m("plan.analysis_ms", perPass(plans.map(_.analysisMs).sum), "ms")
    m("plan.optimization_ms", perPass(plans.map(_.optimizationMs).sum), "ms")
    m("plan.planning_ms", perPass(plans.map(_.planningMs).sum), "ms")

    val runMs = sumJobs(_.runMs.toDouble)
    m("exec.jobs", perPass(jobs.size), "count")
    m("exec.stages", perPass(sumJobs(_.stageRunMs.size.toDouble)), "count")
    m("exec.tasks", perPass(sumJobs(_.tasks.toDouble)), "count")
    m("exec.sched_delay_s", perPass(sumJobs(_.schedMs / 1e3)), "s")
    m("exec.busy_frac",
      runMs / 1e3 / math.max(c.cores * c.tracedPassWallS.sum, 1e-9), "ratio")
    m("exec.job_s", perPass(ops.map(o => o.jobUnionS()).sum), "s")
    m("exec.cpu_s", perPass(sumJobs(_.cpuNs / 1e9)), "s")
    m("exec.run_s", perPass(runMs / 1e3), "s")
    m("exec.gc_s", perPass(sumJobs(_.gcMs / 1e3)), "s")
    m("exec.deser_s", perPass(sumJobs(_.deserMs / 1e3)), "s")
    m("exec.shuffle_write_mb", perPass(sumJobs(_.shuffleWrite / MiB)), "MiB")
    m("exec.shuffle_read_mb", perPass(sumJobs(_.shuffleRead / MiB)), "MiB")
    m("exec.fetch_wait_s", perPass(sumJobs(_.fetchWaitMs / 1e3)), "s")
    m("exec.spill_mb", perPass(sumJobs(_.spill / MiB)), "MiB")
    m("exec.peak_exec_mem_mb",
      if (jobs.isEmpty) 0.0 else jobs.map(_.peakMem).max / MiB, "MiB")
    val skews = ops.flatMap(o => taskSkew(o.jobs))
    m("exec.task_skew", if (skews.isEmpty) 0.0 else Stats.median(skews), "ratio")
    m("exec.failed_tasks", perPass(sumJobs(_.failedTasks.toDouble)), "count")

    m("driver.self_s", perPass(ops.map(o => o.wall - o.jobUnionS()).sum), "s")

    val byName = ops.groupBy(_.span.name)
    def opMedian(name: String)(f: OpView => Double): Double =
      byName.get(name).map(vs => Stats.median(vs.map(f))).getOrElse(0.0)
    for (q <- TpchOps) m(s"op.$q.wall_s", opMedian(q)(_.wall), "s")
    for (op <- ReadOps) {
      m(s"op.$op.wall_s", opMedian(op)(_.wall), "s")
      m(s"op.$op.jobs", opMedian(op)(_.jobs.size.toDouble), "count")
      m(s"op.$op.cpu_s", opMedian(op)(_.jobs.map(_.cpuNs / 1e9).sum), "s")
      m(s"op.$op.shuffle_mb",
        opMedian(op)(_.jobs.map(j => (j.shuffleWrite + j.shuffleRead) / MiB).sum), "MiB")
    }

    val batches = ops.filter(_.kind == "write")
    for (a <- CallSite.Artifacts) {
      val js = batches.map(b => b.jobs.filter(_.artifact.contains(a)))
      m(s"store.$a.s", perPass(batches.zip(js).map { case (b, j) => b.jobUnionS(j) }.sum), "s")
      m(s"store.$a.jobs", perPass(js.map(_.size).sum), "count")
    }
    m("store.unattributed_s", perPass(batches.map(b =>
      b.jobUnionS(b.jobs.filter(_.artifact.isEmpty))).sum), "s")
    val maint = ops.filter(_.kind == "maintain")
    m("store.maintain_s", perPass(maint.map(_.wall).sum), "s")
    m("store.maintain_jobs", perPass(maint.map(_.jobs.size).sum), "count")
    m("store.bytes_written_mb", perPass(c.fsBytesWritten / MiB), "MiB")
    m("store.write_amp",
      if (c.deltaTextBytes > 0) c.fsBytesWritten.toDouble / c.deltaTextBytes else 0.0,
      "ratio")
    m("store.files", c.storeFiles.toDouble, "count")

    val overhead =
      if (c.tracedPassWallS.isEmpty || c.untracedPassWallS.isEmpty) 0.0
      else Stats.median(c.tracedPassWallS) - Stats.median(c.untracedPassWallS)
    m("trace.overhead_s", overhead, "s")
    out.toList
  }

  /** Max over median task run time in the widest stage (most tasks) of
    * an op's jobs; run times are floored at 1 ms so that sub-millisecond
    * tasks do not divide by zero.
    */
  def taskSkew(jobs: Seq[JobRec]): Option[Double] = {
    val stages = jobs.flatMap(_.stageRunMs.values)
    if (stages.isEmpty) None
    else {
      val widest = stages.maxBy(_.size)
      val med = math.max(Stats.median(widest.map(_.toDouble).toSeq), 1.0)
      Some(math.max(widest.max.toDouble, 1.0) / med)
    }
  }

  /** The runBatch accounting check: per traced batch, wall time minus
    * the six artifacts' job time, unattributed job time and driver self
    * time. Non-zero only where artifacts' jobs overlap in time.
    */
  def batchResiduals(t: Tracer, opSpans: Seq[(Span, String)]): Seq[Double] = {
    val children = t.spans.groupBy(_.parent)
    val jobsBySpan = t.jobs.groupBy(_.span.parent)
    opSpans.collect { case (s, "write") =>
      val js = children.getOrElse(s.id, Nil).flatMap(k => jobsBySpan.getOrElse(k.id, Nil))
      def u(x: Seq[JobRec]): Long = Stats.unionLength(x.map(j => (j.span.start, j.span.end)))
      val parts = js.groupBy(_.artifact).values.map(u).sum
      val self = s.length - u(js)
      (s.length - parts - self) / 1e3
    }
  }
}
