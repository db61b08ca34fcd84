package perfbench

/** Attributes a Spark job inside `IngestLoop.runBatch` to the store
  * artifact whose append submitted it, from the job's stage call site
  * (`StageInfo.details`, one stack frame per line, innermost first).
  */
object CallSite {

  /** The six per-batch append methods `runBatch` calls, by artifact. */
  val ArtifactMethods: Map[String, String] = Map(
    "appendToClusterMap" -> "map",
    "appendToSignatureStore" -> "sigs",
    "appendBatchToIndexStore" -> "index",
    "appendBatchToProfileStore" -> "profile",
    "appendToSubstringStore" -> "substr",
    "appendBatchToExport" -> "export")

  val Artifacts: Seq[String] =
    Seq("sigs", "map", "index", "profile", "substr", "export")

  // `[loader/][module/]graft.pkg.Obj$.method(File.scala:12)`; lambdas
  // appear as `$anonfun$method$3`
  private val GraftFrame = """(?:^|/)(graft\.[\w$.]+)\.([\w$]+)\(""".r

  /** The `graft.*` frames of a call site as (class, method), innermost
    * first, with lambda frames named after their enclosing method.
    */
  def graftFrames(details: String): Seq[(String, String)] =
    details.linesIterator.map(_.trim.stripPrefix("at ")).flatMap { line =>
      GraftFrame.findFirstMatchIn(line).map { m =>
        (m.group(1), enclosingMethod(m.group(2)))
      }
    }.toSeq

  private def enclosingMethod(method: String): String =
    if (method.startsWith("$anonfun$"))
      method.stripPrefix("$anonfun$").split('$').headOption.getOrElse(method)
    else method

  /** The artifact named by the innermost `graft.*` frame that is one of
    * the six append methods, if any.
    */
  def artifact(details: String): Option[String] =
    graftFrames(details).collectFirst {
      case (_, m) if ArtifactMethods.contains(m) => ArtifactMethods(m)
    }
}
