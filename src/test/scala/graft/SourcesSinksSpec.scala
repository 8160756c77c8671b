package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.sources.Jdbc

/** JDBC source (Derby round-trip incl. pushed-down query), the
  * partition-grain parquet upsert, the Kafka probe, observed metrics
  * and the compaction planner's file inventory.
  */
class SourcesSinksSpec extends SparkSpec {
  import spark.implicits._

  test("jdbc source: pushed-down dimension pre-join runs in the database") {
    val url = "jdbc:derby:memory:srcdb;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE rooms (id INT PRIMARY KEY, name VARCHAR(32), loc VARCHAR(16))")
    conn.createStatement().execute(
      "CREATE TABLE locs (code VARCHAR(16) PRIMARY KEY, city VARCHAR(32))")
    conn.createStatement().execute("INSERT INTO rooms VALUES (1,'A','f1'),(2,'B','f2')")
    conn.createStatement().execute("INSERT INTO locs VALUES ('f1','SH'),('f2','BJ')")
    // the reference's pattern: 2-table dim join pushed into the DB
    val dim = Jdbc.query(spark, url,
      "SELECT r.id AS room_id, r.name AS room_name, l.city FROM rooms r LEFT JOIN locs l ON r.loc = l.code")
    val rows = dim.orderBy("room_id").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1, "A", "SH"), (2, "B", "BJ")))
    // whole-table scan
    assert(Jdbc.table(spark, url, "rooms").count() === 2)
    conn.close()
  }

  test("dynamic partition overwrite rewrites only the delta's partitions") {
    val dir = tempDir("dpo") + "/t"
    Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b"), (3L, "2024-01-03", "c"))
      .toDF("id", "day", "v")
      .write.partitionBy("day").parquet(dir)
    val before = new java.io.File(s"$dir/day=2024-01-01").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    // re-process day 2 only: new content, day 1 and 3 must survive untouched
    Sinks.upsertPartitions(
      Seq((20L, "2024-01-02", "b2"), (21L, "2024-01-02", "b3")).toDF("id", "day", "v"),
      dir, Seq("day"))
    val back = spark.read.parquet(dir).select("id", "day", "v")
      .as[(Long, String, String)].collect().toSet
    assert(back === Set((1L, "2024-01-01", "a"), (20L, "2024-01-02", "b2"),
      (21L, "2024-01-02", "b3"), (3L, "2024-01-03", "c")))
    val after = new java.io.File(s"$dir/day=2024-01-01").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after === before, "untouched partition was rewritten")
  }

  test("kafka surface fails fast with an actionable error when the connector is absent") {
    // this image ships no spark-sql-kafka jar (zero-egress) — the probe
    // must catch that at wiring time, not at load()/start()
    assert(!graft.sources.KafkaSupport.connectorPresent)
    val src = intercept[IllegalStateException](
      graft.streaming.CdcStreamJob.fromKafka(spark, "broker:9092", "topic"))
    assert(src.getMessage.contains("spark-sql-kafka") &&
      src.getMessage.contains("Files.textStream"))
  }

  test("observed metrics ride along with the action — no second scan, correct totals") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val (obsDf, obs) = graft.operators.Relational.observed(docs, "curate_in",
      "n_docs" -> count(lit(1)),
      "total_chars" -> sum(length(col("text"))),
      "n_long" -> sum(when(col("n_chars") > 100, 1L).otherwise(0L)))
    // one action drives both the query result and the metrics
    val kept = obsDf.filter(col("n_chars") > 100).count()
    val m = obs.get
    assert(m("n_docs") === docs.count())
    assert(m("total_chars") ===
      docs.agg(sum(length(col("text")))).head().getLong(0))
    assert(m("n_long") === kept)
  }

  test("compaction plan: the inventory sees every file, bins follow the target") {
    import spark.implicits._
    import graft.operators.Partitioning
    def dataFiles(dir: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
    // a store dir accumulated as 24 tiny appends
    val dir = tempDir("compact_planned") + "/s"
    (1 to 24).foreach(i =>
      Seq((i.toLong, s"payload $i")).toDF("id", "v")
        .coalesce(1).write.mode("append").parquet(dir))
    assert(dataFiles(dir).size === 24)
    // the inventory sees exactly the data files the FS holds
    val inv = Partitioning.fileInventory(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(inv.size === 24)
    assert(inv.values.forall(_ > 0))
    // huge target: the plan says ONE bin, and the planned file count
    // is the plan's bin count, not the shuffle parallelism
    val target = 1L << 30
    val plannedBins = Partitioning.plannedCompaction(spark, dir, target).count()
    assert(plannedBins === 1L)
    assert(Partitioning.plannedFileCount(spark, dir, target) === 1)
    // tiny target: the plan cuts multiple bins
    val dir2 = tempDir("compact_planned2") + "/s"
    (1 to 12).foreach(i =>
      Seq.tabulate(50)(j => (i * 100L + j, s"padding padding $i $j"))
        .toDF("id", "v").coalesce(1).write.mode("append").parquet(dir2))
    val smallTarget = dataFiles(dir2).map(_.length).sum / 3
    assert(Partitioning.plannedFileCount(spark, dir2, smallTarget) > 1,
      "fixture must plan multiple bins")
  }
}
