package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

/** Issues a workload's ops one after another from the driver thread (a
  * closed loop with one client) and records their wall times, attempts
  * and failures. A read op is timed from the call of the entry or
  * operator function to the end of its `noop` write.
  */
final class Runner(val tracer: Option[Tracer]) {

  /** False during set-up: warm-up ops are neither recorded nor traced. */
  var recording = false
  /** Read ops that write their output as parquet under `outputDir` for
    * the oracle check instead of to the `noop` sink; set only for the
    * untimed warm-up pass.
    */
  var outputOps: Set[String] = Set.empty
  var outputDir = ""
  /** Whether the current pass records spans (traced runs only). */
  var traced = false
  var passSpan: Long = -1L

  val opWall: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  val opKind: mutable.Map[String, String] = mutable.Map.empty
  val attempts: mutable.Map[String, Int] = mutable.Map.empty.withDefaultValue(0)
  val failures: mutable.Map[String, Int] = mutable.Map.empty.withDefaultValue(0)
  /** Traced op spans with their kind (read, write or maintain). */
  val opSpans: mutable.ArrayBuffer[(Span, String)] = mutable.ArrayBuffer.empty

  /** Wall and CPU time of untimed checks run inside passes. */
  var untimedNs = 0L
  var untimedCpuNs = 0L

  def samples(kind: String): Seq[Double] =
    opWall.toSeq.filter { case (n, _) => opKind(n) == kind }.flatMap(_._2)

  def read(name: String)(build: => DataFrame): Option[DataFrame] =
    op(name, "read") { parent =>
      val df = phase("build", parent)(build)
      phase("execute", parent)(
        if (outputOps(name))
          df.coalesce(1).write.mode("overwrite").parquet(s"$outputDir/$name")
        else df.write.format("noop").mode("overwrite").save())
      df
    }

  def write(name: String, kind: String)(body: => Unit): Unit =
    op(name, kind)(parent => phase("execute", parent)(body))

  /** Marks an op that failed its output check. */
  def fail(name: String, why: String): Unit = {
    System.err.println(s"[perfbench] $name failed its check: $why")
    if (recording) failures(name) += 1
  }

  private def op[T](name: String, kind: String)(body: Long => T): Option[T] = {
    val span = tracer.filter(_ => traced).map(_.beginOp(name, passSpan))
    val t0 = System.nanoTime()
    val res =
      try Some(body(span.map(_.id).getOrElse(-1L)))
      catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
    val dt = (System.nanoTime() - t0) / 1e9
    span.foreach { s =>
      tracer.get.endOp(s)
      opSpans += s -> kind
    }
    if (recording) {
      opKind(name) = kind
      opWall.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
      attempts(name) += 1
      if (res.isEmpty) failures(name) += 1
    }
    res
  }

  private def phase[T](kind: String, parent: Long)(body: => T): T =
    tracer.filter(_ => traced) match {
      case Some(t) =>
        val s = t.open(kind, kind, parent)
        try t.within(s)(body) finally t.close(s)
      case None => body
    }

  /** Runs an output check inside a pass without counting its time. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    val c0 = Runner.processCpuNs()
    try body
    finally {
      untimedNs += System.nanoTime() - t0
      untimedCpuNs += Runner.processCpuNs() - c0
    }
  }
}

object Runner {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process; in local mode that is the driver and
    * the executors.
    */
  def processCpuNs(): Long = os.getProcessCpuTime

  /** Heap in use after a forced full collection, in MiB. Spark releases
    * some state asynchronously (cleaner, listener queues), so collections
    * repeat until two readings agree within 1 MiB.
    */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def reading(): Double = {
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = reading()
    var cur = prev
    var i = 0
    do {
      Thread.sleep(200)
      prev = cur
      cur = reading()
      i += 1
    } while (math.abs(cur - prev) >= 1.0 && i < 20)
    System.err.println(f"[perfbench] heap $cur%.1f MiB after ${i + 1} collections")
    cur
  }
}
