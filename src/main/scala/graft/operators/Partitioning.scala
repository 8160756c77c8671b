package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partitioning hygiene helpers.
  *
  * A single small parquet file arrives as ONE input partition, and
  * narrow chains + broadcast joins preserve that — so a CPU-heavy
  * stage (hashing, shingling, pairwise scoring) would run on one core
  * no matter how many the cluster has. `fanOut` inserts a round-robin
  * exchange only when the input has fewer partitions than the session's
  * parallelism; on a real multi-TB input (already hundreds of
  * partitions) it is a no-op, so operators can call it unconditionally.
  */
object Partitioning {
  def fanOut(df: DataFrame): DataFrame = {
    // Streaming frames: `df.rdd` throws AnalysisException, and micro-batch
    // parallelism already comes from the source (Kafka topic partitions,
    // maxFilesPerTrigger) — an unconditional repartition would add a
    // shuffle to EVERY micro-batch. Pass through unchanged so the dedup /
    // similarity operators compose with readStream inputs.
    if (df.isStreaming) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }

  /** Morton (Z-order) code of two NON-NEGATIVE integer keys: bit i of
    * `a` lands at position 2i, bit i of `b` at 2i+1. Built from
    * shift/mask/add only (no XOR — identical operator surface in
    * DuckDB), all-narrow codegen arithmetic. `bits` must cover the key
    * range (`require` guards the doc; values ≥ 2^bits would collide). */
  def mortonCode(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      (shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
       shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)
  }

  /** Z-order layout clustering — the lakehouse data-skipping trick:
    * range-partition + sort the table by the interleaved key so each
    * output file covers a small RECTANGLE in (a, b) space, and
    * parquet min/max stats prune scans filtered on EITHER column (a
    * plain sort on `a` gives pruning on `a` only). Same
    * total-order-without-global-window shape as
    * [[Corpus.shuffleOrder]]: one range exchange, no Window. */
  def zorderBy(df: DataFrame, aCol: String, bCol: String, bits: Int = 20,
               partitions: Int = 0): DataFrame = {
    val keyed = df.withColumn("zorder", mortonCode(col(aCol), col(bCol), bits))
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    keyed.repartitionByRange(n, col("zorder"))
      .sortWithinPartitions(col("zorder"))
  }

  /** Hilbert-curve layout clustering — [[zorderBy]]'s successor for
    * data skipping (the curve liquid clustering replaced Z-order
    * with): both interleave two keys so range-partitioned files cover
    * axis-aligned rectangles, but Hilbert never takes Z-order's long
    * diagonal jumps between quadrants — consecutive indexes are
    * always Manhattan-adjacent cells, so equal-size index ranges
    * cover tighter boxes and per-file min/max stats overlap a
    * predicate less often. The index is the native codegen'd
    * [[graft.functions.HilbertIndex]] walk (narrow); the layout is
    * the same one-range-exchange shape as [[zorderBy]]. */
  def hilbertBy(df: DataFrame, aCol: String, bCol: String, bits: Int = 20,
                partitions: Int = 0): DataFrame = {
    import graft.functions.HilbertIndex.hilbert_index
    val keyed = df.withColumn("hilbert", hilbert_index(col(aCol), col(bCol), bits))
    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    keyed.repartitionByRange(n, col("hilbert"))
      .sortWithinPartitions(col("hilbert"))
  }

  /** LAYOUT SKIP AUDIT — the measurement that justifies (or refutes)
    * a clustering choice BEFORE rewriting 100 TB: for each candidate
    * layout, band rows into `nFiles` files by the layout key, build
    * the per-file min/max manifest a table format (Iceberg/Delta)
    * keeps, and score it against a probe workload — a file is
    * SKIPPABLE for probe [lo, hi] on column c iff its [min_c, max_c]
    * misses the range. A single-column sort layout scores ~perfect on
    * its own column and ~zero on the other;
    * Z-order/Hilbert trade a little of the first for most of the
    * second — this operator turns that folklore into a number per
    * (layout, workload).
    *
    * Files are VALUE-banded on the layout key — file = (k · nFiles)
    * div (max_k + 1) — not rank-banded: rank banding is a global sort
    * (or sampling-based `repartitionByRange`, whose boundaries are
    * nondeterministic), while value banding is one broadcast max and
    * a pure row function, deterministic for the oracle replay. Banded
    * file sizes then follow the key distribution, which the manifest
    * records honestly.
    *
    * Scale shape: one narrow STATS pass (per-layout key max — the
    * same extra pass `repartitionByRange` spends on sampling, but
    * deterministic) plus one ASSIGN pass computing every layout key
    * off a single scan (explode by layout: rows × |layouts|), then a
    * map-side-combinable manifest aggregation on (layout, file) —
    * manifest and probe frames are metadata-sized; every join is
    * broadcast (`PlanShapeSpec` pins 2 scans, broadcast joins, no
    * sort-merge).
    *
    * `probes`: (workload, on_col, lo, hi) — `on_col` names a column
    * of `statsCols`. Output per (layout, workload): n_files,
    * file_probe_pairs, skipped, skip_permille. */
  def skipAudit(df: DataFrame, layouts: Seq[(String, Column)],
                statsCols: Seq[String], nFiles: Int,
                probes: DataFrame): DataFrame = {
    require(layouts.nonEmpty && statsCols.nonEmpty && nFiles >= 2,
      "skipAudit needs layouts, stats columns and nFiles >= 2")
    val lay = df
      .select(statsCols.map(col) :+ explode(array(layouts.map { case (n, k) =>
        struct(lit(n).as("layout"), k.cast("long").as("k")) }: _*)).as("__l"): _*)
      .select(statsCols.map(col) :+ col("__l.layout") :+ col("__l.k"): _*)
    val maxes = lay.groupBy(col("layout")).agg(max(col("k")).as("__mxk"))
    val manifestAggs = count(lit(1)).as("rows") +: statsCols.flatMap(c =>
      Seq(min(col(c)).cast("long").as(s"__min_$c"),
        max(col(c)).cast("long").as(s"__max_$c")))
    val manifest = lay.join(broadcast(maxes), "layout")
      .withColumn("file", expr(s"(k * $nFiles) div (__mxk + 1)"))
      .groupBy(col("layout"), col("file"))
      .agg(manifestAggs.head, manifestAggs.tail: _*)
    // long form — one row per (layout, file, stats column) — so the
    // probe join is a plain equi-join on the column name
    val longForm = manifest.select(col("layout"), col("file"),
        explode(array(statsCols.map(c => struct(lit(c).as("on_col"),
          col(s"__min_$c").as("mn"), col(s"__max_$c").as("mx"))): _*)).as("__s"))
      .select(col("layout"), col("file"), col("__s.on_col"), col("__s.mn"),
        col("__s.mx"))
    longForm.join(broadcast(probes), "on_col")
      .groupBy(col("layout"), col("workload"))
      .agg(countDistinct(col("file")).as("n_files"),
        count(lit(1)).as("file_probe_pairs"),
        sum(when(col("mx") < col("lo") || col("mn") > col("hi"), 1L)
          .otherwise(0L)).as("skipped"))
      .withColumn("skip_permille",
        expr("(skipped * 1000) div file_probe_pairs"))
  }

  /** Write a NEW generation of `dir` via `write(tmpPath)` and swap it
    * in with the rename-with-backup protocol. Rename returns false
    * instead of throwing on several filesystems, and an unchecked
    * failure here is silent data damage — HDFS rename into an
    * EXISTING dir moves the source INSIDE it, so a failed (cur → bak)
    * followed by (tmp → cur) would nest the new data under the live
    * dir and leave the old files in place; abort loudly and keep
    * tmp/bak on disk for inspection (crash mid-swap leaves either
    * `.bak` or the new dir — both carry the full data). The writer
    * must fully materialize its input BEFORE this runs if that input
    * reads from `dir` (localCheckpoint — the old dir is renamed away
    * mid-swap). */
  def swapInDir(spark: org.apache.spark.sql.SparkSession, dir: String)
               (write: String => Unit): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val cur = new org.apache.hadoop.fs.Path(dir)
    val fs = cur.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(cur.getParent, s".${cur.getName}_compact")
    val bak = new org.apache.hadoop.fs.Path(cur.getParent, s".${cur.getName}_bak")
    fs.delete(tmp, true); fs.delete(bak, true)
    write(tmp.toString)
    require(fs.rename(cur, bak), s"swapInDir: rename $cur -> $bak failed; " +
      s"new data left at $tmp, dir unchanged")
    require(fs.rename(tmp, cur), s"swapInDir: rename $tmp -> $cur failed; " +
      s"original data preserved at $bak — restore by renaming it back")
    fs.delete(bak, true)
  }

  /** ⌈bytes/targetBytes⌉ output file count for a compaction of `dir` —
    * the arithmetic floor of the sizing rule (see [[plannedFileCount]]
    * for the planner-routed form every compactor actually uses). */
  def compactFileCount(spark: org.apache.spark.sql.SparkSession, dir: String,
                       targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new org.apache.hadoop.fs.Path(dir)
    val bytes = p.getFileSystem(spark.sessionState.newHadoopConf())
      .getContentSummary(p).getLength
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  /** (file, bytes) inventory of a parquet dir's DATA files (recursive,
    * `_`/`.` metadata skipped) — the [[Relational.compactionPlan]]
    * input for a live store. Driver-side listing is legitimate here:
    * the inventory IS the metadata, never the data. */
  def fileInventory(spark: org.apache.spark.sql.SparkSession,
                    dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith("."))
        buf += ((f.getPath.toString, f.getLen))
    }
    val rows = buf.sortBy(_._1).map { case (f, b) =>
      org.apache.spark.sql.Row(f, b) }.toSeq.asJava
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("bytes",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** The dir's compaction PLAN — [[Relational.compactionPlan]] over
    * its own [[fileInventory]] (files on one byte axis in name order,
    * cut at targetBytes boundaries). The shared seam between the
    * generic planner and every store compactor. */
  def plannedCompaction(spark: org.apache.spark.sql.SparkSession, dir: String,
                        targetBytes: Long): DataFrame =
    graft.operators.Relational.compactionPlan(fileInventory(spark, dir),
      Seq(), col("file"), col("bytes"), targetBytes)

  /** Planner-routed output file count — ONE code path sizes every
    * store compaction: the plan's bin
    * count, lower-bounded by ⌈bytes/target⌉ because the plan merges at
    * FILE granularity and cannot split an oversized input file, while
    * the executing rewrite (a row-level repartition) can. */
  def plannedFileCount(spark: org.apache.spark.sql.SparkSession, dir: String,
                       targetBytes: Long): Int = {
    val bins = plannedCompaction(spark, dir, targetBytes).count().toInt
    math.max(math.max(1, bins), compactFileCount(spark, dir, targetBytes))
  }

}
