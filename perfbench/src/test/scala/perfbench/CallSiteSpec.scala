package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CallSiteSpec extends AnyFunSuite {

  /** `StageInfo.details` of a job inside `IngestLoop.runBatch`, as
    * recorded by the traced ingest run.
    */
  val recordedMapAppend: String =
    """org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)
      |graft.operators.Dedup$.readClusterMap(Dedup.scala:2729)
      |graft.operators.Dedup$.appendToClusterMap(Dedup.scala:2899)
      |graft.operators.IngestLoop$.runBatch(IngestLoop.scala:68)
      |perfbench.Ingest.$anonfun$pass$8(Workloads.scala:154)
      |scala.runtime.java8.JFunction0$mcV$sp.apply(JFunction0$mcV$sp.scala:18)
      |perfbench.Tracer.within(Trace.scala:162)
      |perfbench.Runner.phase(Runner.scala:83)
      |perfbench.Runner.$anonfun$write$1(Runner.scala:47)
      |scala.runtime.java8.JFunction1$mcVJ$sp.apply(JFunction1$mcVJ$sp.scala:18)
      |perfbench.Runner.op(Runner.scala:59)
      |perfbench.Runner.write(Runner.scala:47)
      |perfbench.Ingest.pass(Workloads.scala:150)
      |perfbench.Main$.run(Main.scala:97)
      |perfbench.Main$.main(Main.scala:52)
      |perfbench.Main.main(Main.scala)""".stripMargin

  /** A job submitted from Spark's broadcast pool: no graft frame. */
  val recordedAsync: String =
    """org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)
      |java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)
      |java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)
      |java.base/java.util.concurrent.ThreadPoolExecutor$Worker.run(ThreadPoolExecutor.java:635)
      |java.base/java.lang.Thread.run(Thread.java:840)""".stripMargin

  test("the recorded map-append call site names the map artifact") {
    assert(CallSite.artifact(recordedMapAppend).contains("map"))
    assert(CallSite.graftFrames(recordedMapAppend).take(3) == Seq(
      "graft.operators.Dedup$" -> "readClusterMap",
      "graft.operators.Dedup$" -> "appendToClusterMap",
      "graft.operators.IngestLoop$" -> "runBatch"))
  }

  test("a call site without graft frames names no artifact") {
    assert(CallSite.artifact(recordedAsync).isEmpty)
    assert(CallSite.artifact("").isEmpty)
  }

  test("lambda frames count for their enclosing method") {
    val viaOption =
      """org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)
        |graft.operators.SearchIndex$.$anonfun$appendBatchToIndexStore$2(SearchIndex.scala:260)
        |graft.operators.SearchIndex$.appendBatchToIndexStore(SearchIndex.scala:250)
        |graft.operators.IngestLoop$.$anonfun$runBatch$1(IngestLoop.scala:72)
        |scala.Option.foreach(Option.scala:437)
        |graft.operators.IngestLoop$.runBatch(IngestLoop.scala:71)""".stripMargin
    assert(CallSite.graftFrames(viaOption).head ==
      ("graft.operators.SearchIndex$" -> "appendBatchToIndexStore"))
    assert(CallSite.artifact(viaOption).contains("index"))
  }

  test("frames with a class-loader prefix or an 'at' are parsed") {
    val prefixed =
      """at app//graft.sources.TrainingExport$.appendBatchToExport(TrainingExport.scala:190)
        |app//graft.operators.IngestLoop$.runBatch(IngestLoop.scala:81)""".stripMargin
    assert(CallSite.artifact(prefixed).contains("export"))
  }

  test("every append method maps to one of the six artifacts") {
    assert(CallSite.ArtifactMethods.values.toSet == CallSite.Artifacts.toSet)
    assert(CallSite.Artifacts.size == 6)
  }
}
