package graft.tools

/** Dev tool: print the executed plan of named SparkEntry queries
  * (all queries when no names given).
  *
  * {{{ sbt "runMain graft.tools.Explain [sfDir] [query ...]" }}}
  *
  * With `SPARK_GRAFT_EXPLAIN_OUT=<dir>` set, additionally writes each
  * query's `.explain("formatted")` text to
  * `<dir>/<query><SPARK_GRAFT_EXPLAIN_SUFFIX>.txt` (suffix defaults to
  * empty) — the plan-evidence artifact format of the optimization
  * rounds (`plans/r09/<query>_before.txt` / `_after.txt`) — and its
  * output schema (`df.schema.json`) to `<dir>/<query><suffix>.schema.json`,
  * so a refactor can be checked to leave every plan and schema as it was.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq
    val outDir = sys.env.get("SPARK_GRAFT_EXPLAIN_OUT")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    val spark = graft.Session.local(4, logLevel = "ERROR")
    names.foreach { q =>
      println(s"===== $q =====")
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      outDir match {
        case Some(dir) =>
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          new java.io.File(dir).mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$dir/$q$suffix.txt"), txt)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$dir/$q$suffix.schema.json"), df.schema.json)
          println(s"[explain] wrote $dir/$q$suffix.txt")
        case None =>
          println(df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
