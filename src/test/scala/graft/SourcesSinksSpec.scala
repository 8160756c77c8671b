package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.sinks.Sinks
import graft.sources.{Files, Jdbc, Tables}

/** JDBC source (Derby round-trip incl. pushed-down query), file
  * sources/sinks round-trips, and the temp-view registration surface.
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

  test("jdbc append sink + source round-trip") {
    val url = "jdbc:derby:memory:snkdb;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE sink_out (k INT, v VARCHAR(16))")
    Sinks.jdbcAppend(Seq((1, "a"), (2, "b")).toDF("k", "v"), url, "sink_out")
    assert(Jdbc.table(spark, url, "sink_out").count() === 2)
    conn.close()
  }

  test("csv and json round-trip with explicit schema") {
    val dir = tempDir("fmt")
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5)).toDF("id", "s", "v")
    df.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    df.write.mode("overwrite").json(s"$dir/json")
    val csvBack = Files.csv(spark, s"$dir/csv", Some(df.schema))
    val jsonBack = Files.json(spark, s"$dir/json", Some(df.schema))
    assert(csvBack.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
    assert(jsonBack.orderBy("id").collect().toSeq === df.orderBy("id").collect().toSeq)
  }

  test("partitioned parquet sink prunes partitions on read") {
    val dir = tempDir("part") + "/t"
    val df = Seq((1, "a", 10), (2, "b", 20), (3, "a", 30)).toDF("id", "grp", "v")
    Sinks.parquet(df, dir, partitionBy = Seq("grp"))
    val pruned = Files.parquet(spark, dir).filter(col("grp") === "a")
    assert(pruned.count() === 2)
    // partition pruning visible in the scan: only grp=a directory read
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("grp"), scan)
  }

  test("registerAll exposes every table to spark.sql (O6/O8 surface)") {
    Files.registerAll(spark, sf)
    assert(spark.sql("SELECT * FROM region").count() === 5)
    assert(spark.sql("SELECT count(*) FROM events WHERE ts IS NOT NULL").as[Long].head() > 0)
    val j = spark.sql(
      """SELECT r_name, count(*) AS n FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
    assert(j.count() === 5)
  }

  test("streaming parquet file source + parquet sink round-trip") {
    val in = tempDir("sin")
    val out = tempDir("sout")
    val ckpt = tempDir("sckpt")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    df.write.mode("overwrite").parquet(in)
    val stream = Files.parquetStream(spark, in, df.schema)
    val q = Sinks.parquetStream(stream.withColumn("s2", upper(col("s"))), s"$out/t", ckpt)
    q.processAllAvailable()
    q.stop()
    val back = Files.parquet(spark, s"$out/t")
    assert(back.count() === 2)
    assert(back.filter(col("s2") === "A").count() === 1)
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
    val df = Seq(("k", "v")).toDF("key", "value")
    val snk = intercept[IllegalStateException](
      Sinks.kafka(df, "broker:9092", "topic", "/tmp/ckpt"))
    assert(snk.getMessage.contains("spark-sql-kafka"))
  }

  test("fileStatsIndex + readPruned skip files outside the predicate range, results identical") {
    import spark.implicits._
    import graft.operators.Partitioning
    val dir = tempDir("skip_idx") + "/t"
    // range-clustered layout: 8 files, each a disjoint id range
    (0L until 800L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(8, col("id")).sortWithinPartitions(col("id"))
      .write.mode("overwrite").parquet(dir)
    val full = spark.read.parquet(dir)
    val nFiles = full.inputFiles.length
    assert(nFiles >= 4, s"layout produced only $nFiles files")
    val index = Partitioning.fileStatsIndex(full, Seq("id"))
    assert(index.count() === nFiles)
    // prune to a range covering ~2 of the 8 disjoint file ranges
    val pruned = Partitioning.readPruned(spark, index,
      col("max_id") >= 100L && col("min_id") <= 250L)
    assert(pruned.inputFiles.length < nFiles)
    val got = pruned.filter(col("id").between(100L, 250L))
      .as[(Long, String)].collect().sorted
    val want = full.filter(col("id").between(100L, 250L))
      .as[(Long, String)].collect().sorted
    assert(got.sameElements(want) && got.length === 151)
    // empty prune keeps the data schema (filters still resolve)
    val none = Partitioning.readPruned(spark, index, lit(false))
    assert(none.filter(col("id") > 0L).count() === 0L)
  }

  test("compactionRewrite: one file per planned bin, read-back ≡ input, cluster order kept") {
    import spark.implicits._
    import graft.operators.{Partitioning, Relational}
    val dir = tempDir("compact_rw") + "/t"
    // a small-files inventory: 2 sources, skewed sizes in ingest order
    val files = (0 until 300).map(i =>
      ("s" + (i % 2), i.toLong, 10L + (i * 7 % 50))).toDF("source", "fid", "bytes")
    val target = 600L
    val plan = Relational.compactionPlan(files, Seq(col("source")), col("fid"),
      col("bytes"), target)
    Partitioning.compactionRewrite(files, Seq("source"), col("fid"),
      col("bytes"), target, dir)
    val back = spark.read.parquet(dir)
    // read-back ≡ input (partition columns come back as directory values)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("source"), col("fid"), col("bytes"))
        .as[(String, Long, Long)].collect().toSet
    assert(rows(back) === rows(files))
    // executed layout ≡ plan: same (source, bin) set, one file per bin
    val gotBins = back.select(col("source"), col("bin").cast("long"))
      .distinct().as[(String, Long)].collect().toSet
    val planBins = plan.select(col("source"), col("bin"))
      .as[(String, Long)].collect().toSet
    assert(gotBins === planBins, "executed bins must equal the plan")
    val filesPerBin = back.withColumn("__f", input_file_name())
      .groupBy(col("source"), col("bin"))
      .agg(countDistinct(col("__f")).as("nf"))
      .select("nf").as[Long].collect()
    assert(filesPerBin.forall(_ === 1L), "each bin must land as exactly one file")
    // every bin but each source's last is within ONE input file of the
    // target on either side (bin = byte-offset div target: a bin under-
    // shoots exactly when its successor's first file straddles the cut)
    val maxFile = files.agg(max(col("bytes"))).as[Long].head()
    val sizes = back.groupBy(col("source"), col("bin").cast("long").as("bin"))
      .agg(sum(col("bytes")).as("b")).as[(String, Long, Long)].collect()
    val lastBin = sizes.groupBy(_._1).map { case (s, g) => s -> g.map(_._2).max }
    sizes.foreach { case (s, bin, b) =>
      if (bin != lastBin(s))
        assert(b > target - maxFile && b < target + maxFile,
          s"bin $s/$bin not within one file of target: $b")
    }
  }

  test("indexAppend computes stats only for new files and equals a full rebuild") {
    import spark.implicits._
    import graft.operators.Partitioning
    val dir = tempDir("skip_app") + "/t"
    (0L until 200L).map(i => (i, i * 2)).toDF("id", "v")
      .repartitionByRange(4, col("id")).write.mode("overwrite").parquet(dir)
    val index0 = Partitioning.fileStatsIndex(spark.read.parquet(dir), Seq("id"))
      .cache() // freeze the original index contents before the append
    assert(index0.count() === 4)
    (200L until 400L).map(i => (i, i * 2)).toDF("id", "v")
      .repartitionByRange(4, col("id")).write.mode("append").parquet(dir)
    val appended = Partitioning.indexAppend(spark, index0, dir, Seq("id"))
    val rebuilt = Partitioning.fileStatsIndex(spark.read.parquet(dir), Seq("id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("file", "rows", "min_id", "max_id")
        .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows(appended).sameElements(rows(rebuilt)))
    assert(appended.count() === 8)
    // no new files → the index comes back unchanged
    assert(Partitioning.indexAppend(spark, appended, dir, Seq("id")).count() === 8)
    index0.unpersist()
  }

  test("orc round-trips and pushes filters down to the scan") {
    import spark.implicits._
    val dir = tempDir("orc_rt") + "/docs"
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars")
    docs.write.mode("overwrite").orc(dir)
    val back = graft.sources.Files.orc(spark, dir)
    assert(back.count() === docs.count())
    val q = back.filter(col("doc_id") < 100).select("doc_id", "n_chars")
    val plan = q.queryExecution.executedPlan.toString
    // same scan contract as parquet: predicate reaches the ORC reader,
    // projection prunes to the two read columns
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(doc_id,100)"), plan.take(2000))
    assert(q.count() === docs.filter(col("doc_id") < 100).count())
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

  test("compactTo merges many small files into few, content preserved") {
    import spark.implicits._
    val inDir = tempDir("compact_in")
    val outDir = tempDir("compact_out") + "/out"
    // 20 tiny files
    (1 to 20).foreach(i =>
      Seq((i.toLong, s"row $i")).toDF("id", "v").write.mode("append").parquet(inDir))
    def parquetFiles(dir: String): Array[java.io.File] =
      new java.io.File(dir).listFiles((_, n) => n.endsWith(".parquet"))
    assert(parquetFiles(inDir).length === 20)
    val n = Sinks.compactTo(spark, inDir, outDir, targetBytes = 1L << 30)
    assert(n === 1 && parquetFiles(outDir).length === 1)
    // content identical (multiset)
    val a = spark.read.parquet(inDir).as[(Long, String)].collect().sorted
    val b = spark.read.parquet(outDir).as[(Long, String)].collect().sorted
    assert(a.sameElements(b))
  }
}
