package graft.sinks

import org.apache.spark.sql.DataFrame

/** Partition-grain upsert into a parquet lake table. The row-grain
  * upsert lives in [[JdbcUpsertSink]]; the reference's other sinks are
  * Spark's own writers — `writeStream.format("console")` (O14),
  * `write.jdbc` (O16) and `writeStream.format("kafka")` (O17).
  */
object Sinks {

  /** Partition-level upsert into a partitioned parquet lake table:
    * DYNAMIC partition overwrite rewrites only the partitions present
    * in `df` and leaves every other partition's files untouched — the
    * lake-side analog of the keyed JDBC upsert (and the standard
    * no-Delta idiom for daily re-processing: recompute a day, overwrite
    * that day, 100 TB of history never rewrites). Requires `df` to
    * carry complete partitions (it replaces at partition grain, not
    * row grain — row-grain upsert is [[JdbcUpsertSink]]'s job). */
  def upsertPartitions(df: DataFrame, path: String, partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "partition-level upsert needs partition columns")
    // per-write option, NOT a session conf mutation — flipping the
    // session default would silently change every later partitioned
    // overwrite in the session from truncate-and-replace to dynamic
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*).parquet(path)
  }
}
