package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC dimension snapshot source — the reference's
  * `JDBCInputFormat` (O2, CreateJDBCInputFormat.java:22–34) as
  * `spark.read.jdbc`, keeping its one good idea (push the dimension
  * pre-join down to the database, shipping only the projected columns)
  * and fixing its two limitations:
  *
  *  - snapshot staleness: a stream holds the dimension as one broadcast
  *    and re-reads it every `dimRefresh` off the micro-batch path
  *    ([[graft.streaming.HeldDimension]]), so freshness is a config,
  *    not a code change: a committed change reaches every micro-batch
  *    that starts more than `dimRefresh` plus one reload after it;
  *  - single-connection scan: `partitionColumn/numPartitions` split
  *    the snapshot read across executors when the dimension is large.
  */
object Jdbc {

  /** Pushed-down query scan (the reference's exact pattern: the 3-way
    * dimension join runs inside the database). */
  def query(spark: SparkSession, url: String, sql: String,
            props: Properties = new Properties()): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("query", sql)
      .options(propsMap(props))
      .load()

  /** Whole-table scan, optionally range-partitioned across executors
    * for large dimensions. */
  def table(spark: SparkSession, url: String, table: String,
            partitionColumn: Option[String] = None,
            bounds: Option[(Long, Long)] = None,
            numPartitions: Int = 1,
            props: Properties = new Properties()): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(propsMap(props))
    (partitionColumn, bounds) match {
      case (Some(c), Some((lo, hi))) =>
        base.option("partitionColumn", c)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", numPartitions)
          .load()
      case _ => base.load()
    }
  }

  private def propsMap(p: Properties): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }
}
