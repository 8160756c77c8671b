package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CharShingles.char_shingles
import graft.operators.Dedup

/** Exhaustive blocked Jaccard pairs — the ground truth the specs hold
  * the banded and weighted near-dup operators against. Every pair of
  * docs that share the blocking columns is scored; no LSH, no length
  * prefilter. Output: doc_a < doc_b, inter, uni and jac_permille =
  * floor(1000 · inter / uni), integer arithmetic throughout. */
object DedupReference {

  /** Token-set Jaccard pairs at or above `thresholdPermille`. */
  def jaccardPairs(docs: DataFrame, blockCols: Seq[String],
                   thresholdPermille: Int, idCol: String = "doc_id"): DataFrame =
    pairsOn(docs, array_distinct(Dedup.tokens(col("text"))), blockCols,
      thresholdPermille, idCol)

  /** Char k-gram-set Jaccard pairs at or above `thresholdPermille`. */
  def charNgramPairs(docs: DataFrame, blockCols: Seq[String],
                     thresholdPermille: Int, k: Int = 5,
                     idCol: String = "doc_id"): DataFrame = {
    pairsOn(docs, array_distinct(char_shingles(col("text"), k)), blockCols,
      thresholdPermille, idCol)
  }

  private def pairsOn(docs: DataFrame, setExpr: Column, blockCols: Seq[String],
                      thresholdPermille: Int, idCol: String): DataFrame = {
    val base = docs.select(col(idCol) +: setExpr.as("s") +: blockCols.map(col): _*)
    val a = base.select(col(idCol).as("doc_a") +: col("s").as("sa") +: blockCols.map(col): _*)
    val b = base.select(col(idCol).as("doc_b") +: col("s").as("sb") +:
      blockCols.map(c => col(c).as(s"__b_$c")): _*)
    val cond = blockCols.map(c => col(c) === col(s"__b_$c"))
      .foldLeft(col("doc_a") < col("doc_b"))(_ && _)
    a.join(b, cond)
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
      .withColumn("jac_permille", floor(col("inter") * 1000 / col("uni")).cast("long"))
      .filter(col("jac_permille") >= thresholdPermille)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"), col("jac_permille"))
  }
}
