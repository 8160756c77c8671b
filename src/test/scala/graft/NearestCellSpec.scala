package graft

import org.apache.spark.sql.functions._

import graft.functions.NearestCell.nearest_cell

/** Native nearest_cell (narrow k-means assignment): differential
  * against the crossJoin + min(struct(s, cell)) form it replaced —
  * same argmin, same smaller-cell tie-break, null on missing sub. */
class NearestCellSpec extends SparkSpec {
  import spark.implicits._

  private def centsLit(rows: Seq[(Long, Long, Seq[Long])]) =
    array(rows.map { case (s, cell, cv) =>
      struct(lit(s).as("sub"), lit(cell).as("cell"),
        array(cv.map(lit): _*).as("cv")) }: _*)

  test("argmin and tie-break match the crossJoin + struct-min reference") {
    val rnd = new scala.util.Random(13)
    val dims = 6
    val cents = (0L until 5L).map(c => (0L, c, Seq.fill(dims)(rnd.nextInt(2001).toLong - 1000)))
    // include exact-duplicate centroids so the tie-break is exercised
    val centsWithDup = cents :+ ((0L, 5L, cents.head._3))
    val vecs = (0 until 300).map(i => (i.toLong, Seq.fill(dims)(rnd.nextInt(2001).toLong - 1000)))
    val q = vecs.toDF("__id", "qv")
    val fast = q.withColumn("cell",
        nearest_cell(lit(0L), col("qv"), centsLit(centsWithDup)))
      .select(col("__id"), col("cell"))
    val c = centsWithDup.map { case (_, cell, cv) => (cell, cv) }
      .toDF("cell", "cv")
      .withColumn("csq", graft.functions.VectorDot.vec_dot(
        col("cv").cast("array<double>"), col("cv").cast("array<double>")))
    val ref = q.crossJoin(broadcast(c))
      .withColumn("s", col("csq") - lit(2d) * graft.functions.VectorDot.vec_dot(
        col("qv").cast("array<double>"), col("cv").cast("array<double>")))
      .groupBy(col("__id"))
      .agg(min(struct(col("s"), col("cell"))).as("m"))
      .select(col("__id"), col("m.cell").as("cell"))
    assert(fast.except(ref).count() === 0 && ref.except(fast).count() === 0)
  }

  test("per-subspace dispatch and null on a sub with no candidates") {
    val cents = Seq((0L, 0L, Seq(0L, 0L)), (0L, 1L, Seq(10L, 10L)),
      (1L, 0L, Seq(100L, 100L)))
    val df = Seq((1L, 0L, Seq(9L, 9L)), (1L, 1L, Seq(1L, 1L)), (1L, 2L, Seq(1L, 1L)))
      .toDF("__id", "sub", "sqv")
      .withColumn("cell", nearest_cell(col("sub"), col("sqv"), centsLit(cents)))
    val got = df.select(col("sub"), col("cell")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(0L) === Some(1L)) // (9,9) nearer to (10,10)
    assert(got(1L) === Some(0L)) // only candidate in sub 1
    assert(got(2L) === None)     // no candidates in sub 2
  }

  test("nearest_cell runs inside WholeStageCodegen (no fallback span break)") {
    val cents = Seq((0L, 0L, Seq(1L, 1L)), (0L, 1L, Seq(5L, 5L)))
    // spark.range source: a local Seq would be constant-folded into a
    // LocalTableScan, leaving no runtime projection to codegen
    val df = spark.range(50)
      .select(col("id").as("__id"),
        array(pmod(col("id"), lit(7)).cast("long"), lit(3L)).as("qv"))
      .withColumn("c_lit", nearest_cell(lit(0L), col("qv"), centsLit(cents)))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the previous CodegenFallback marker kept the whole projection out
    // of WholeStageCodegen — the codegen'd Project line carries the
    // "*(n)" prefix
    assert(plan.linesIterator.exists(l =>
      l.contains("nearest_cell") && l.contains("*(")), plan.take(3000))
  }
}
