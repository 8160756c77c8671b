package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the harness parquet tables (TESTDATA.md) and the session
  * normalization every graft job needs.
  *
  * Scale posture: every loader is a parquet scan under a declared
  * schema, so Catalyst's predicate pushdown / column pruning reach the
  * scan (`PushedFilters`, `ReadSchema` in `.explain("formatted")`). The
  * schema is inferred from the footers once per file content and then
  * passed to `read.schema(…)`: a read without one runs a footer-merge
  * Spark job every time it is called. Nothing here assumes a single
  * file — at cluster scale the same code reads a partitioned directory
  * tree.
  */
object Tables {

  /** Runtime session normalization.
    *
    * - `events.ts` is INT64 TIMESTAMP(NANOS), which Spark's parquet
    *   reader rejects by default; `nanosAsLong` (SPARK-40819) reads it
    *   as nanos-since-epoch LongType. It is a runtime-settable SQLConf,
    *   so this works on any session the driver hands us.
    * - timezone pinned to UTC so TIMESTAMP↔TIMESTAMP_NTZ casts are
    *   wall-clock-identical (oracle parity with DuckDB's naive
    *   timestamps).
    */
  def normalize(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  /** Content fingerprint of `d/srcFile` (file names + lengths +
    * mtimes), recomputed per call — a cheap FS stat. Caches of anything
    * derived from a file key by it, so a file rewritten at the same
    * path is never served stale state. */
  def contentFingerprint(s: SparkSession, d: String, srcFile: String): String = {
    val src = new Path(s"$d/$srcFile")
    val sfs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stat = sfs.getFileStatus(src)
    val parts =
      if (stat.isDirectory)
        sfs.listStatus(src).map(f =>
          s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}").sorted.mkString("|")
      else s"${stat.getLen}:${stat.getModificationTime}"
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$d|$parts".getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
  }

  /** Inferred schema per (path, `nanosAsLong`), tagged with the content
    * fingerprint it was inferred from; a rewritten file replaces its
    * entry, so the map holds one schema per path and setting. */
  private val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val reader = normalize(spark).read
    val path = s"$sfDir/$name.parquet"
    val fp = contentFingerprint(spark, sfDir, s"$name.parquet")
    val nanosAsLong = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    val schema = schemas.compute(s"$path|$nanosAsLong", (_, old) =>
      if (old != null && old._1 == fp) old
      else fp -> reader.parquet(path).schema)._2
    reader.schema(schema).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Floor-division of long epoch nanos to epoch seconds in EXACT
    * integer arithmetic. `floor(ts / 1e9)` would route through double
    * division, and epoch nanos (~1.7e18) exceed 2^53 — the operand
    * rounds by up to ~256 ns, so a timestamp within that distance of a
    * second boundary could truncate to the wrong second. Subtracting
    * `pmod` first makes the dividend an exact multiple of 1e9 (and
    * floors toward -inf for negative ts, matching floor-division);
    * multiples of 1e9 are divisible by 2^9, hence exactly
    * representable as doubles up to 2^61 (epoch nanos through year
    * 2042), and the quotient (~1.7e9) is far below 2^53, so the
    * division is correctly rounded to the exact integer. */
  private def nanosToSec(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    ((ts - pmod(ts, lit(1000000000L))) / lit(1000000000L)).cast("long")

  /** `events` with the raw clock kept as `ts_ns` (long nanos) plus two
    * derived columns every operator downstream uses:
    *   - `ts_sec` — integer epoch seconds (stable across engines; used
    *     for arithmetic like session gaps),
    *   - `ts` — second-truncated TIMESTAMP_NTZ (the precision that is
    *     bit-stable between Spark and DuckDB regardless of the file's
    *     unit).
    *
    * The loader accepts BOTH physical encodings the harness has
    * shipped: INT64 TIMESTAMP(NANOS) (read as LongType nanos under
    * `nanosAsLong`) and plain TIMESTAMP micros (read as
    * TIMESTAMP/TIMESTAMP_NTZ — with the session pinned to UTC the
    * NTZ→LTZ cast is wall-clock exact). The micros path derives
    * `ts_sec` with `unix_seconds`, the nanos path with exact integer
    * floor-division — no float anywhere in the epoch math. Ends with
    * an explicit select so BOTH encodings yield the same column order
    * (raw columns minus `ts`, then `ts_ns`, `ts_sec`, `ts`). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    val withNs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts_sec", nanosToSec(col("ts_ns")))
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts").cast("timestamp")) * 1000L)
          .withColumn("ts_sec", unix_seconds(col("ts").cast("timestamp")))
          .drop("ts")
    }
    val canonical = raw.columns.filterNot(_ == "ts") ++ Seq("ts_ns", "ts_sec", "ts")
    withNs
      .withColumn("ts", timestamp_seconds(col("ts_sec")).cast("timestamp_ntz"))
      .select(canonical.map(col).toIndexedSeq: _*)
  }
}
