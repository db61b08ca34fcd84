package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

import graft.{Engine, SparkEntry}
import graft.sources.TableLoader

/** Runs one workload against the production session and writes the
  * measured numbers to `<work>/result.json`; `run.py` adds input
  * generation, the DuckDB output check and the final result line.
  *
  * Usage: perfbench.Main --workload tpch|corpus|ingest --seed N
  *   --seconds S --trace 0|1 --data DIR --work DIR
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("work"))
  }

  /** The table cache fill is repeated and contributes its median to
    * `setup_s`.
    */
  val FillReps = 3

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def fsBytes(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val st = FileSystem.getAllStatistics.asScala
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Engine.session("perfbench", s"local[$cores]", cores)
    val sessionS = secs(t0)
    try run(o, spark, cores, sessionS)
    finally {
      val st0 = System.nanoTime()
      spark.stop()
      System.err.println(f"[perfbench] session stopped in ${secs(st0)}%.1f s; jvm up " +
        f"${(System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")
    }
  }

  def run(o: Opts, spark: SparkSession, cores: Int, sessionS: Double): Unit = {
    val tracer = if (o.trace) Some(new Tracer(spark, s"${o.workload}-${o.seed}")) else None
    val runner = new Runner(tracer)
    val wl = Workload(o.workload, spark, o.data, o.work, o.seed)

    // set-up: the cache fill is repeated and contributes its median;
    // the store build and the warm-up pass run once. The warm-up pass
    // writes the read ops' outputs for the oracle check.
    val fillS = (1 to FillReps).map { _ =>
      val f0 = System.nanoTime()
      spark.catalog.clearCache()
      wl.tables.foreach(t => TableLoader.table(spark, o.data, t).cache()
        .write.format("noop").mode("overwrite").save())
      secs(f0)
    }
    val s0 = System.nanoTime()
    wl.prepare()
    val prepareS = secs(s0)
    val w0 = System.nanoTime()
    runner.outputDir = s"${o.work}/check"
    runner.outputOps = wl.entryChecks.toSet
    wl.pass(runner, 0)
    runner.outputOps = Set.empty
    val warmS = secs(w0)
    val setupS = Stats.median(fillS) + prepareS + warmS
    println(f"set-up: session $sessionS%.2f s, cache fill " +
      fillS.map(x => f"$x%.2f").mkString("/") + f" s, prepare $prepareS%.2f s, " +
      f"warm-up pass $warmS%.2f s")

    // timed passes
    runner.recording = true
    val rootSpan = tracer.map(_.open("workload", o.workload, -1L))
    val passWall = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var fsRead, fsWritten, deltaBytes = 0L
    val cpu0 = Runner.processCpuNs()
    val untimedCpu0 = runner.untimedCpuNs
    val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
    // a traced run traces its passes in the order T U U T, repeated, so
    // that the tracing overhead compares two samples a side and a linear
    // drift over the passes (a growing store) cancels out
    val minPasses = if (o.trace) 4 else 1
    var p = 1
    def more: Boolean = passWall.size < minPasses || System.nanoTime() < deadline ||
      o.trace && passWall.size % 4 != 0
    while (more && wl.hasPass) {
      val traced = o.trace && (passWall.size % 4 == 0 || passWall.size % 4 == 3)
      runner.traced = traced
      val ps = tracer.filter(_ => traced).map { t =>
        t.install()
        val s = t.open("pass", s"pass-$p", rootSpan.get.id)
        runner.passSpan = s.id
        s
      }
      val (r0, w0) = fsBytes()
      val wm0 = wl match { case i: Ingest => i.watermark; case _ => 0L }
      val u0 = runner.untimedNs
      val p0 = System.nanoTime()
      wl.pass(runner, p)
      val wall = (System.nanoTime() - p0 - (runner.untimedNs - u0)) / 1e9
      ps.foreach { s =>
        val t = tracer.get
        t.drain()
        t.close(s)
        t.uninstall()
        val (r1, w1) = fsBytes()
        fsRead += r1 - r0
        fsWritten += w1 - w0
        wl match {
          case i: Ingest => deltaBytes += i.textBytes(wm0, i.watermark)
          case _ =>
        }
      }
      passWall += wall -> traced
      p += 1
    }
    val passes = passWall.size
    val cpuS = (Runner.processCpuNs() - cpu0 - (runner.untimedCpuNs - untimedCpu0)) / 1e9
    rootSpan.foreach(s => tracer.get.close(s))
    val heapMb = Runner.liveHeapMb()

    val metrics: Seq[Metric] = tracer match {
      case None =>
        val reads = runner.samples("read")
        Seq(
          Metric("pass_s", Stats.median(passWall.map(_._1).toSeq), "s"),
          Metric("read_p50_s", Stats.median(reads), "s"),
          Metric("cpu_s_per_pass", cpuS / passes, "s"),
          Metric("heap_live_mb", heapMb, "MiB")) ++
          Stats.p90(reads).map(Metric("read_p90_s", _, "s")) ++
          wl.extraMetrics(runner)
      case Some(t) =>
        val storeFiles = wl match { case i: Ingest => i.storeUsage()._2; case _ => 0L }
        val ctx = Layers.Context(cores, passWall.count(_._2),
          passWall.filter(_._2).map(_._1).toSeq,
          passWall.filterNot(_._2).map(_._1).toSeq,
          Stats.median(fillS), fsRead, fsWritten, deltaBytes, storeFiles)
        val residuals = Layers.batchResiduals(t, runner.opSpans.toSeq)
        if (residuals.nonEmpty)
          println(f"trace: runBatch accounting residual max ${residuals.map(math.abs).max}%.3f s " +
            s"over ${residuals.size} batches")
        Files.writeString(Paths.get(s"${o.work}/spans.jsonl"), t.spansJson)
        Layers.metrics(t, runner.opSpans.toSeq, ctx)
    }

    // untimed output check: end-state outputs go to parquet for run.py;
    // the writes run side by side since nothing is timed any more
    val c0 = System.nanoTime()
    val checks = mutable.LinkedHashMap.empty[String, Seq[String]]
    val sqls = mutable.LinkedHashMap.empty[String, String]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val written = wl.endChecks().map { c =>
      Future {
        c.output.coalesce(1).write.mode("overwrite").parquet(s"${o.work}/check/${c.name}")
      }.transform(r => scala.util.Success(c -> r.failed.toOption))
    }
    for (n <- wl.entryChecks) {
      checks(n) = Seq(n)
      sqls(n) = SparkEntry.oracleSql(n)
    }
    try for ((c, err) <- Await.result(Future.sequence(written), Duration.Inf)) err match {
      case None =>
        checks(c.name) = c.ops
        sqls(c.name) = c.sql
      case Some(e) =>
        System.err.println(s"[perfbench] check output ${c.name} failed: $e")
        c.ops.foreach(op => runner.failures(op) = runner.attempts(op))
    } finally pool.shutdown()
    System.err.println(f"[perfbench] check outputs written in ${secs(c0)}%.1f s")
    Files.createDirectories(Paths.get(s"${o.work}/check"))
    Files.writeString(Paths.get(s"${o.work}/check/oracle_sql.json"),
      Json.obj(sqls.toSeq.map { case (k, v) => k -> Json.str(v) }))

    val ints = (m: collection.Map[String, Int]) =>
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val result = Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "pass_wall_s" -> Json.arr(passWall.toSeq.map(w => Json.num(w._1))),
      "read_samples" -> Json.num(runner.samples("read").size),
      "session_s" -> Json.num(sessionS),
      "setup_s" -> Json.num(setupS),
      "metrics" -> Json.arr(metrics.map(m =>
        Json.arr(Seq(Json.str(m.name), Json.num(m.value), Json.str(m.unit))))),
      "op_wall_s" -> Json.obj(runner.opWall.toSeq.map { case (k, v) =>
        k -> Json.arr(v.toSeq.map(Json.num)) }),
      "attempts" -> ints(runner.attempts),
      "failures" -> ints(runner.failures),
      "checks" -> Json.obj(checks.toSeq.map { case (k, v) => k -> Json.arr(v.map(Json.str)) }),
      "doc_watermark" -> Json.num(wl match { case i: Ingest => i.watermark; case _ => -1L })))
    Files.writeString(Paths.get(s"${o.work}/result.json"), result)
  }
}
