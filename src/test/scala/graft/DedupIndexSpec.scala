package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.Tables

/** Delta-vs-corpus dedup over a [[Dedup.DedupIndex]]: injected exact
  * and near duplicates of corpus docs are dropped, novel docs survive,
  * and the Bloom prune of the exact stage never changes the result.
  */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  test("dedupeAgainst drops injected exact and near dups, keeps novel docs") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 300)
    // delta = the real tail + an injected exact dup and near-dup of
    // corpus docs (new ids), so every code path fires
    val donor = corpus.filter(col("doc_id") === 7)
      .select(col("text")).as[String].head()
    val injected = Seq(
      (9001L, donor),                              // exact dup of corpus
      (9002L, donor + " extra"),                   // near-dup of corpus
      (9003L, "entirely novel delta document about nothing else at all " * 3)
    ).toDF("doc_id", "text")
    val delta = docs.filter(col("doc_id") >= 300).select(col("doc_id"), col("text"))
      .unionByName(injected)

    val direct = Dedup.dedupeAgainst(delta, corpus, thresholdPermille = 900)
      .select("doc_id").as[Long].collect().sorted

    // the injected dups were actually caught, the novel doc survived
    assert(!direct.contains(9001L) && !direct.contains(9002L))
    assert(direct.contains(9003L))
  }

  test("bloom-pruned exact stage is result-identical to the unpruned plan") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 300)
    val delta = docs.filter(col("doc_id") >= 300).select(col("doc_id"), col("text"))
    val index = Dedup.buildIndex(corpus)
    val pruned = Dedup.dedupeAgainstIndex(delta, index, 900, bloomFpp = Some(0.01))
      .select("doc_id").as[Long].collect().sorted
    val plain = Dedup.dedupeAgainstIndex(delta, index, 900, bloomFpp = None)
      .select("doc_id").as[Long].collect().sorted
    assert(pruned.sameElements(plain))
  }
}
