package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BagOverlap, CdcChunks, CharShingles, FpInterCount, FpSet, FpWeightedInter, FreqTopK, HammingDistance, HammingWords, HexPrefix16, HexSliceLong, HilbertIndex, MergePair, NearestCell, TokenCounts, TopKRows, VectorDot, WinnowFp, WordShingles}

/** SQL names for graft's native expressions:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (what
  * [[graft.Session.local]] does) or
  * `spark.sql.extensions=graft.plans.GraftExtensions` makes
  * `hamming64(a, b)` available to plain SQL. The Column API
  * ([[graft.functions.HammingDistance.hamming64]]) builds the same
  * expressions directly and works on any session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // strict mode: reject condition-free inner/cross joins before
    // execution (no-op unless spark.graft.failOnCartesian=true)
    ext.injectOptimizerRule(session => new CartesianGuard(session))
  }
}

object GraftExtensions {
  private def fn[T <: Expression](name: String)(build: Seq[Expression] => T)(
      implicit ct: ClassTag[T]): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getName, name), build)

  /** Each SQL name with the expression it builds from its arguments;
    * the aggregates are wrapped by the analyzer. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("hamming64")(c => HammingDistance(c(0), c(1))),
    fn("hilbert_index")(c => HilbertIndex(c(0), c(1), c(2))),
    fn("vec_dot")(c => VectorDot(c(0), c(1))),
    fn("word_shingles")(c => WordShingles(c(0), c(1))),
    fn("topk_rows")(c => TopKRows(c(0), c(1))),
    fn("hex_prefix16")(c => HexPrefix16(c(0))),
    fn("hex_slice_long")(c => HexSliceLong(c(0), c(1))),
    fn("freq_topk")(c => FreqTopK(c(0), c(1))),
    fn("char_shingles")(c => CharShingles(c(0), c(1))),
    fn("merge_pair")(c => MergePair(c(0), c(1), c(2))),
    fn("token_counts")(c => TokenCounts(c(0))),
    fn("bag_overlap")(c => BagOverlap(c(0), c(1))),
    fn("fp32_set")(c => FpSet(c(0))),
    fn("fp_inter_count")(c => FpInterCount(c(0), c(1))),
    fn("fp_weighted_inter")(c => FpWeightedInter(c(0), c(1))),
    fn("cdc_chunks")(c => CdcChunks(c(0), c(1), c(2))),
    fn("nearest_cell")(c => NearestCell(c(0), c(1), c(2))),
    fn("hamming_words")(c => HammingWords(c(0), c(1))),
    fn("winnow_fp")(c => WinnowFp(c(0), c(1), c(2))))
}
