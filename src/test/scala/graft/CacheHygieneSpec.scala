package graft

import org.apache.spark.sql.functions._

import graft.operators.{Caching, Dedup, TextAnalysis}
import graft.sources.Tables

/** Executor-storage hygiene: iterative/caching operators must leave no
  * persistent RDDs behind once their release path runs. At 100 TB a
  * leaked round of connected components (or a corpus-sized token
  * cache) is a full data copy pinned in executor storage for the rest
  * of the session.
  */
class CacheHygieneSpec extends SparkSpec {
  import spark.implicits._

  /** Persistent-RDD ids NOT present before `body` ran but present
    * after — i.e. what `body` leaked. */
  private def leakedAfter(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  test("connectedComponents retains only the final round until released") {
    val pairs = (1L to 40L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("doc_a", "doc_b") // one 40-node chain → several doubling rounds
    val leaked = leakedAfter {
      val cc = Dedup.connectedComponents(pairs)
      assert(cc.collect().forall(_.getLong(1) === 1L))
      Caching.releaseLocalCheckpoints(cc)
    }
    assert(leaked.isEmpty, s"connectedComponents leaked persistent RDDs: $leaked")
  }

  test("bpeMerges releases its vocabulary cache (and on empty input)") {
    val docs = Seq((1L, "abab abab ab")).toDF("doc_id", "text")
    val leaked = leakedAfter {
      assert(TextAnalysis.bpeMerges(docs, merges = 3).count() === 2L)
    }
    assert(leaked.isEmpty, s"bpeMerges leaked persistent RDDs: $leaked")
    val leakedEmpty = leakedAfter {
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
      assert(TextAnalysis.bpeMerges(empty, merges = 2).count() === 0L)
    }
    assert(leakedEmpty.isEmpty, s"bpeMerges (empty) leaked: $leakedEmpty")
  }

  test("connectedComponents on an empty pair set leaks nothing") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val leaked = leakedAfter {
      val cc = Dedup.connectedComponents(empty)
      assert(cc.count() === 0L)
      Caching.releaseLocalCheckpoints(cc)
    }
    assert(leaked.isEmpty, s"empty-case connectedComponents leaked: $leaked")
  }

  test("keepBest's release path reaches the checkpoint blocks through the joins") {
    val docs = (1L to 10L).map(i => (i, i)).toDF("doc_id", "score")
    val pairs = (1L to 10L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("doc_a", "doc_b") // one chain → one cluster; score=id → 10 wins
    val leaked = leakedAfter {
      val kept = Dedup.keepBest(docs, pairs, col("score"))
      assert(kept.select("doc_id").as[Long].collect() === Array(10L))
      Caching.releaseLocalCheckpoints(kept)
    }
    assert(leaked.isEmpty, s"keepBest leaked persistent RDDs: $leaked")
  }

  test("pqTrain releases its subvector cache; ivfTrain its quantized cache") {
    val emb = Tables.embeddings(spark, sf)
    val leaked = leakedAfter {
      assert(graft.operators.Similarity.pqTrain(emb, m = 4, k = 4, iters = 1).count() > 0L)
    }
    assert(leaked.isEmpty, s"pqTrain leaked persistent RDDs: $leaked")
    val leakedIvf = leakedAfter {
      assert(graft.operators.Similarity.ivfTrain(emb, k = 4, iters = 1).count() > 0L)
    }
    assert(leakedIvf.isEmpty, s"ivfTrain leaked persistent RDDs: $leakedIvf")
  }

  test("langId retains no executor state after evaluation") {
    val docs = Tables.documents(spark, sf)
    val leaked = leakedAfter {
      assert(TextAnalysis.langId(docs).count() > 0L)
    }
    assert(leaked.isEmpty, s"langId leaked persistent RDDs: $leaked")
  }

  test("graph pairs cache: a rewritten documents.parquet serves fresh pairs") {
    import graft.operators.Graph
    val dir = tempDir("pairs_cache")
    def publish(docs: org.apache.spark.sql.DataFrame): Unit =
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def expected(docs: org.apache.spark.sql.DataFrame) =
      Graph.degrees(Dedup.jaccardPairsBanded(docs, Seq("source", "lang"), 900))
        .orderBy(col("doc_id")).collect().toSeq
    def served() = SparkEntry.queries("graph_degrees")(spark, dir).collect().toSeq
    val all = spark.read.parquet(s"$sf/documents.parquet")
    publish(all)
    assert(served() === expected(all))
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val half = all.filter(col("doc_id") % 2 === 0)
    publish(half)
    val fresh = served()
    assert(fresh === expected(half), "pairs must follow the rewritten documents")
    assert(fresh !== expected(all), "fixture must change the pairs")
    assert(spark.sparkContext.getPersistentRDDs.size === persisted,
      "the replaced pairs' checkpoint must be released")
  }

  test("table schemas: a file rewritten at the same path is read under its new schema") {
    val dir = tempDir("schema_cache")
    val region = spark.read.parquet(s"$sf/region.parquet")
    region.write.parquet(s"$dir/region.parquet")
    assert(Tables.region(spark, dir).columns === region.columns)
    val wider = region.withColumn("r_extra", col("r_regionkey") * 10)
    wider.write.mode("overwrite").parquet(s"$dir/region.parquet")
    val fresh = Tables.region(spark, dir)
    assert(fresh.columns === wider.columns, "the rewritten file's schema must be served")
    assert(fresh.orderBy("r_regionkey").collect().toSeq ===
      wider.orderBy("r_regionkey").collect().toSeq)

    // events under both `ts` encodings, switched at one path: long
    // nanos (what nanosAsLong reads TIMESTAMP(NANOS) as) and plain
    // timestamp micros — the same canonical columns either way
    val events = spark.read.parquet(s"$sf/events.parquet")
    val nanos = events.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
    val expected = Tables.events(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("event_id").collect().toSeq
    for ((encoding, raw) <- Seq("nanos" -> nanos, "micros" -> events, "nanos again" -> nanos)) {
      raw.write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = Tables.events(spark, dir)
      withClue(encoding) {
        assert(got.schema === expected.schema)
        assert(rows(got) === rows(expected))
      }
    }
  }
}
