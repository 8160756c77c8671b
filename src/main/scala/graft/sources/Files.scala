package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The file-drop source of the CDC stream. Every other file format is
  * read through Spark's own `spark.read` / `spark.readStream` with an
  * explicit schema on semi-structured input — never `inferSchema` on a
  * feed whose column order and types must stay stable (the CDC lesson
  * from the reference).
  */
object Files {

  /** Raw line stream (one string column `value`) — the file-drop stand-in
    * for a Kafka topic of Canal flat-JSON. */
  def textStream(spark: SparkSession, path: String): DataFrame =
    Tables.normalize(spark).readStream.text(path)
}
