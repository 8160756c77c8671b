package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.streaming.Changelog

/** `Changelog.compactBatch`, the sort-free micro-batch compactor:
  * parity with the window form `Relational.latestByKey` wherever
  * versions are unique per key, replay-stable version ties, the
  * version-type contract and `partitionBy`'s key grouping. */
class CompactBatchSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** A test that keeps all `spark.sql.shuffle.partitions` hash
    * partitions: AQE would coalesce a small batch into one and hide a
    * key split across them. */
  private def uncoalescedTest(name: String)(body: => Unit): Unit = test(name) {
    val conf = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try body finally spark.conf.set(conf, prev)
  }

  private def latest(df: DataFrame, keys: Seq[String], version: String): DataFrame =
    Relational.latestByKey(df, keys.map(col), Seq(col(version)))

  /** A CDC-shaped batch: composite key (k1, k2) with null k2 values,
    * I/U/D ops, versions unique per key. */
  private def cdcBatch(seed: Int, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val versions = rnd.shuffle((1 to n).map(_.toLong))
    val ops = Seq("INSERT", "UPDATE", "DELETE")
    versions.map { v =>
      val k2 = if (rnd.nextInt(5) == 0) null else s"r${rnd.nextInt(3)}"
      (rnd.nextInt(8), k2, s"code-$v", ops(rnd.nextInt(3)), v)
    }.toDF("k1", "k2", "code", "op", "es")
  }

  uncoalescedTest("compactBatch equals latestByKey on unique versions: composite and null keys, " +
    "DELETE rows, 3+ input partitions") {
    for (seed <- Seq(1, 2, 3); parts <- Seq(3, 5)) {
      val batch = cdcBatch(seed, 200).repartition(parts)
      assert(batch.rdd.getNumPartitions === parts)
      val got = Changelog.compactBatch(batch, Seq("k1", "k2"), "es")
      assert(got.schema === batch.schema)
      val want = rows(latest(batch, Seq("k1", "k2"), "es"))
      assert(rows(got) === want, s"seed $seed, $parts partitions")
      assert(want.exists(_.contains(",null,")) && want.exists(_.contains("DELETE")),
        "the fixture must keep a null key and a DELETE row")
      // the single-key form
      assert(rows(Changelog.compactBatch(batch, "k1", "es")) ===
        rows(latest(batch, Seq("k1"), "es")))
    }
  }

  uncoalescedTest("version ties keep the same row whatever the partitioning and arrival order") {
    // three rows per key share es (whole-second Canal timestamps);
    // one key also has an older version
    val base = Seq(
      (1, "mc-a", "INSERT", 100L), (1, "mc-c", "UPDATE", 100L), (1, "mc-b", "UPDATE", 100L),
      (1, "mc-z", "UPDATE", 99L),
      (2, "mc-x", "UPDATE", 7L), (2, null, "DELETE", 7L),
      (3, "mc-q", "UPDATE", 5L), (3, "mc-q", "DELETE", 5L))
    def compacted(order: Seq[(Int, String, String, Long)], parts: Int) =
      rows(Changelog.compactBatch(
        order.toDF("meeting_id", "meeting_code", "op", "es").repartition(parts),
        Seq("meeting_id"), "es"))
    val reference = compacted(base, 1)
    for (seed <- 1 to 4; parts <- Seq(1, 3))
      assert(compacted(new scala.util.Random(seed).shuffle(base), parts) === reference,
        s"seed $seed, $parts partitions")
    // the documented rule: remaining columns in schema order, nulls lowest
    assert(reference === Seq("[1,mc-c,UPDATE,100]", "[2,mc-x,UPDATE,7]", "[3,mc-q,UPDATE,5]"))
  }

  test("versions order by their own type; a null version loses; other types fail fast") {
    // string order ("9" > "10"), date and timestamp order
    val df = Seq(
      (1, "10", Date.valueOf("2024-01-09"), Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (1, "9", Date.valueOf("2024-01-10"), Timestamp.valueOf("2024-01-01 09:00:00"), "b"),
      (2, null, null, null, "c"),
      (2, "1", Date.valueOf("2024-01-01"), Timestamp.valueOf("2024-01-01 00:00:00"), "d"))
      .toDF("k", "vs", "vd", "vt", "p").repartition(3)
    for (v <- Seq("vs", "vd", "vt"))
      assert(rows(Changelog.compactBatch(df, "k", v)) === rows(latest(df, Seq("k"), v)), v)
    assert(rows(Changelog.compactBatch(df, "k", "vs").select("p")) === Seq("[b]", "[d]"))
    // narrower integral types
    val small = Seq((1, 3.toShort, 200.toByte), (1, 12.toShort, 1.toByte)).toDF("k", "s", "b")
    assert(rows(Changelog.compactBatch(small, "k", "s")) === Seq("[1,12,1]"))
    val err = intercept[IllegalArgumentException](
      Changelog.compactBatch(Seq((1, 1.5)).toDF("k", "v"), "k", "v"))
    assert(err.getMessage.contains("'v'"))
    intercept[IllegalArgumentException](
      Changelog.compactBatch(Seq((1, BigDecimal(1))).toDF("k", "v"), "k", "v"))
  }

  uncoalescedTest("keys group as partitionBy does: null, -0.0/0.0, NaN and binary keys") {
    val df = Seq(
      (Some(0.0), "x", 1L), (Some(-0.0), "y", 2L),
      (Some(Double.NaN), "n1", 3L), (Some(Double.NaN), "n2", 4L),
      (None, "u1", 5L), (None, "u2", 6L), (Some(1.5), "z", 7L))
      .toDF("kd", "p", "v").repartition(3)
    val got = Changelog.compactBatch(df, "kd", "v")
    assert(got.rdd.getNumPartitions === 4)
    assert(got.count() === 4L)
    assert(rows(got.select("p", "v")) === rows(latest(df, Seq("kd"), "v").select("p", "v")))
    val bin = Seq((Array[Byte](1, 2), 1L, "a"), (Array[Byte](1, 2), 2L, "b"),
      (Array[Byte](3), 1L, "c")).toDF("kb", "v", "p").repartition(3)
    assert(rows(Changelog.compactBatch(bin, "kb", "v").select("p")) === Seq("[b]", "[c]"))
  }

  test("an empty batch compacts to an empty frame of the same schema") {
    val empty = cdcBatch(1, 10).filter(lit(false))
    val got = Changelog.compactBatch(empty, Seq("k1", "k2"), "es")
    assert(got.schema === empty.schema)
    assert(got.collect().isEmpty)
  }
}
