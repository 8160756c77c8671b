package graft

import org.apache.spark.sql.functions._

import graft.functions.HammingDistance.hamming64

/** Native hamming64 expression: eval + codegen paths, SQL registration,
  * and codegen participation. */
class HammingSpec extends SparkSpec {
  import spark.implicits._

  test("hamming64 computes popcount(xor) via Column API and SQL") {
    val df = Seq((0L, 0L), (1L, 0L), (0xffffL, 0L), (-1L, 0L), (0b1010L, 0b0101L))
      .toDF("a", "b")
    val got = df.select(hamming64(col("a"), col("b"))).as[Long].collect()
    assert(got.sameElements(Array(0L, 1L, 16L, 64L, 4L)))
    val viaSql = df.createOrReplaceTempView("hx")
    val _ = viaSql
    val sqlGot = spark.sql("SELECT hamming64(a, b) FROM hx").as[Long].collect()
    assert(sqlGot.sameElements(Array(0L, 1L, 16L, 64L, 4L)))
  }

  test("hamming64 is null-safe") {
    val df = Seq((Some(1L), None: Option[Long])).toDF("a", "b")
    assert(df.select(hamming64(col("a"), col("b"))).collect().head.isNullAt(0))
  }

  test("hamming64 participates in whole-stage codegen") {
    val df = spark.range(10).select(hamming64(col("id"), lit(3L)).as("h"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [hamming64"), plan)
    assert(df.agg(sum("h")).as[Long].head() > 0)
  }

  test("rejects non-long inputs at analysis") {
    val err = intercept[Exception] {
      Seq(("x", 1L)).toDF("a", "b").select(hamming64(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("hamming64") ||
      err.getMessage.toLowerCase.contains("data type"))
  }
}
