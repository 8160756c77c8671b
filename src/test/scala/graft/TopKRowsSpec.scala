package graft

import org.apache.spark.sql.functions._

import graft.functions.TopKRows.topk_rows

/** Custom bounded top-k aggregate: semantics, serialization across
  * partial merges, and the bounded-shuffle plan property.
  */
class TopKRowsSpec extends SparkSpec {
  import spark.implicits._

  test("topk_rows keeps the k smallest structs in order") {
    val df = Seq((1, 30, "c"), (1, 10, "a"), (1, 20, "b"), (1, 40, "d"), (2, 5, "e"))
      .toDF("g", "ord", "payload")
    val got = df.groupBy(col("g"))
      .agg(topk_rows(struct(col("ord"), col("payload")), 2).as("top"))
      .select(col("g"), expr("transform(top, x -> x.payload)").as("p"))
      .as[(Int, Seq[String])].collect().toMap
    assert(got(1) === Seq("a", "b"))
    assert(got(2) === Seq("e"))
  }

  test("topk_rows survives partial aggregation across many partitions") {
    // 1000 rows over 16 partitions forces serialize/merge of partials
    val df = spark.range(1000).select(
      (col("id") % 7).as("g"), (lit(1000) - col("id")).as("ord"))
      .repartition(16)
    val got = df.groupBy(col("g"))
      .agg(topk_rows(struct(col("ord")), 3).as("top"))
      .select(col("g"), expr("transform(top, x -> x.ord)").as("o"))
      .as[(Long, Seq[Long])].collect().toMap
    // per group g: ids ≡ g (mod 7), ord = 1000 - id → smallest ords come
    // from the largest ids of that residue class
    (0L until 7L).foreach { g =>
      val ids = (0L until 1000L).filter(_ % 7 == g)
      val expect = ids.map(1000L - _).sorted.take(3)
      assert(got(g) === expect, s"group $g")
    }
  }

  test("topk_rows agrees with the window row_number form on real data") {
    val viaAgg = SparkEntry.queries("rel_topn_agg")(spark, sf).collect().toSeq
    val o = graft.sources.Tables.orders(spark, sf)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val viaWindow = o.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn").cast("long").as("rn"), col("o_orderkey"))
      .orderBy(col("o_custkey"), col("rn")).collect().toSeq
    assert(viaAgg === viaWindow)
  }

  test("topk_rows works as a stateful streaming aggregate") {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val agg = mem.toDF().toDF("g", "ord")
      .groupBy(col("g"))
      .agg(topk_rows(struct(col("ord")), 2).as("top"))
      .select(col("g"), expr("transform(top, x -> x.ord)").as("o"))
    val q = agg.writeStream.outputMode("update").format("memory")
      .queryName("topk_stream").start()
    mem.addData((1L, 30L), (1L, 10L))
    q.processAllAvailable()
    mem.addData((1L, 5L)) // displaces 30
    q.processAllAvailable()
    val latest = spark.table("topk_stream").as[(Long, Seq[Long])]
      .collect().last._2
    assert(latest === Seq(5L, 10L))
    q.stop()
  }

  test("hex_prefix16 matches the hex-digit decomposition") {
    val got = spark.sql(
      "SELECT hex_prefix16('beef1234'), hex_prefix16(md5('x'))").head()
    assert(got.getInt(0) === 0xbeef)
    // md5('x') = 9dd4e461268c8034f5c8564e155c67a6 → 0x9dd4
    assert(got.getInt(1) === 0x9dd4)
  }

  test("partial aggregation appears below the shuffle in the plan") {
    val df = graft.sources.Tables.orders(spark, sf)
      .groupBy(col("o_custkey"))
      .agg(topk_rows(struct(col("o_orderdate"), col("o_orderkey")), 3).as("top"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_rows"), plan)
  }
}
