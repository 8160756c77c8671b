package graft

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.Dedup

/** Every Column-API form holds its native expression class from the
  * moment it is built: no name is looked up in a function registry,
  * so the forms work on any session. */
class ColumnApiSpec extends SparkSpec {

  private lazy val forms: Seq[(Column, Class[_ <: Expression])] = Seq(
    HammingDistance.hamming64(col("l"), col("l2")) -> classOf[HammingDistance],
    HilbertIndex.hilbert_index(col("l"), col("l2"), 4) -> classOf[HilbertIndex],
    VectorDot.vec_dot(col("d"), col("d")) -> classOf[VectorDot],
    WordShingles.word_shingles(col("t"), 2) -> classOf[WordShingles],
    TopKRows.topk_rows(col("s"), 2) -> classOf[TopKRows],
    HexPrefix16.hex_prefix16(col("h")) -> classOf[HexPrefix16],
    HexSliceLong.hex_slice_long(col("h"), 0) -> classOf[HexSliceLong],
    FreqTopK.freq_topk(col("t"), 2) -> classOf[FreqTopK],
    CharShingles.char_shingles(col("t"), 2) -> classOf[CharShingles],
    MergePair.merge_pair(col("arr"), "a", "b") -> classOf[MergePair],
    BagFunctions.token_counts(col("arr")) -> classOf[TokenCounts],
    BagFunctions.bag_overlap(col("bag"), col("bag")) -> classOf[BagOverlap],
    FpSet.fp32_set(col("arr")) -> classOf[FpSet],
    FpSet.fp_inter_count(col("w"), col("w")) -> classOf[FpInterCount],
    FpSet.fp_weighted_inter(col("bag"), col("bag")) -> classOf[FpWeightedInter],
    CdcChunks.cdc_chunks(col("arr"), 2, 2) -> classOf[CdcChunks],
    NearestCell.nearest_cell(lit(0L), col("w"), typedLit(Seq((0L, 1L, Seq(1L, 2L)))))
      -> classOf[NearestCell],
    HammingWords.hamming_words(col("w"), col("w")) -> classOf[HammingWords],
    WinnowFp.winnow_fp(col("t"), 2, 2) -> classOf[WinnowFp],
    Dedup.bloomFilterAgg(col("l"), 10L, 64L) -> classOf[BloomFilterAggregate],
    Dedup.mightContain(Array[Byte](0, 0, 0, 1), col("l"))
      -> classOf[BloomFilterMightContain])

  test("every graft.functions form and both Bloom expressions build their native class, no UnresolvedFunction") {
    val src = spark.range(1).select(col("id").as("l"), (col("id") + 1).as("l2"),
      array(lit(1.0), lit(2.0)).as("d"), lit("a b c").as("t"),
      array(lit("a"), lit("b")).as("arr"), array(col("id"), col("id")).as("w"),
      array(struct(lit("a").as("token"), col("id").as("cnt"))).as("bag"),
      struct(col("id"), lit("a")).as("s"), md5(lit("a b c")).as("h"))
    def unresolved(e: Expression) = e.exists(_.isInstanceOf[UnresolvedFunction])
    assert(forms.map(_._2).distinct.size === 21)
    forms.foreach { case (c, cls) =>
      val e = GraftColumnBridge.expression(c)
      assert(e.exists(cls.isInstance) && !unresolved(e), s"${cls.getName}: $e")
      val logical = src.select(c.as("out")).queryExecution.logical
      assert(logical.expressions.exists(_.exists(cls.isInstance)), s"${cls.getName}: $logical")
      assert(!logical.exists(_.expressions.exists(unresolved)), s"${cls.getName}: $logical")
    }
  }
}
