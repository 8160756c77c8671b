package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one place a graft session is configured — `Bench`, `Verify`,
  * the dev tools, `MeetingStreamJob` and the specs all build theirs
  * here, so what the specs check is what the bench measures. */
object Session {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, AQE, nano
    * timestamps read as longs, no UI, and graft's SQL function names
    * ([[GraftExtensions]]). A setting spark-submit passed (as a
    * `spark.*` system property, e.g. its master) wins over these. */
  def local(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val submitted = new SparkConf()
    val builder = SparkSession.builder().withExtensions(new GraftExtensions)
    Seq("spark.master" -> s"local[$cpus]",
        "spark.sql.shuffle.partitions" -> cpus.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.ui.enabled" -> "false")
      .foreach { case (k, v) => if (!submitted.contains(k)) builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    silenceBenignWarnings()
    spark
  }

  /** Two WARNs that fire on purpose would bury real warnings, so
    * exactly their loggers are set to ERROR; category log levels stay
    * untouched.
    *  - WindowExec's "No Partition Defined", ~176 lines per full run:
    *    every unpartitioned window in the query surface is k-bounded
    *    (ivfTrain/pqTrain seed rows, the top-100 vocabulary rank — each
    *    commented at its site), and a genuinely unpartitioned window over
    *    data still surfaces through plan lints (`PlanAuditSpec`).
    *  - MapPartitionsRDD's "locally checkpointed … cannot be recomputed
    *    after unpersisting", ~65 lines per Verify run: iterative
    *    operators release their `localCheckpoint`ed rounds on purpose. */
  private def silenceBenignWarnings(): Unit =
    for (cls <- Seq("org.apache.spark.sql.execution.window.WindowExec",
                    "org.apache.spark.sql.execution.window.WindowExecBase",
                    "org.apache.spark.rdd.MapPartitionsRDD"))
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        cls, org.apache.logging.log4j.Level.ERROR)
}
