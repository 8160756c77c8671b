package graft

import org.apache.spark.sql.functions._

import graft.functions.FpSet.{fp32_set, fp_inter_count}

/** Native fp_inter_count (two-pointer |A∩B| over sorted distinct
  * sets): differential against size(array_intersect) — the expression
  * it replaced on the containment / Jaccard verification hot paths —
  * for both element types, plus edge shapes. */
class FpInterCountSpec extends SparkSpec {
  import spark.implicits._

  test("long sets: equals size(array_intersect) on fp32_set outputs, incl. empty/disjoint") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(40)}")
      (i.toLong, words(rnd.nextInt(30)), words(rnd.nextInt(30)))
    }
    val df = rows.toDF("id", "wa", "wb")
      .withColumn("sa", fp32_set(col("wa")))
      .withColumn("sb", fp32_set(col("wb")))
    val diff = df
      .withColumn("fast", fp_inter_count(col("sa"), col("sb")))
      .withColumn("ref", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("string sets: equals size(array_intersect) on array_sort(array_distinct) inputs") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      def words(n: Int) = Seq.fill(n)(s"tok${rnd.nextInt(25)}")
      (i.toLong, words(rnd.nextInt(25)), words(rnd.nextInt(25)))
    }
    val df = rows.toDF("id", "wa", "wb")
      .withColumn("sa", array_sort(array_distinct(col("wa"))))
      .withColumn("sb", array_sort(array_distinct(col("wb"))))
    val diff = df
      .withColumn("fast", fp_inter_count(col("sa"), col("sb")))
      .withColumn("ref", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("non-BMP strings order consistently between array_sort and the merge comparator") {
    // U+1D11E (surrogate pair) vs U+FF21: UTF-8 byte order differs from
    // UTF-16 code-unit order — both sides must use UTF8 binary order
    val hi = "𝄞"
    val df = Seq((Seq(hi, "Ａ", "a"), Seq("Ａ", hi))).toDF("wa", "wb")
      .withColumn("sa", array_sort(array_distinct(col("wa"))))
      .withColumn("sb", array_sort(array_distinct(col("wb"))))
    val got = df.select(fp_inter_count(col("sa"), col("sb"))).as[Long].head()
    assert(got === 2L)
  }

  test("hardening: null elements (sorted last) and duplicate runs match size(array_intersect)") {
    // ill-formed inputs reachable through the public jaccardVerifySets
    // boundary: nulls (array_sort puts them LAST) and duplicate runs —
    // previously an NPE / an over-count, now array_intersect semantics
    val cases = Seq(
      // both sides end in null → one null match
      (array(lit("a"), lit("b"), lit(null).cast("string")),
        array(lit("b"), lit(null).cast("string"))),
      // null on one side only → no null match
      (array(lit("a"), lit(null).cast("string")), array(lit("b"))),
      // duplicate runs count once
      (array(lit("x"), lit("x"), lit("y")), array(lit("x"), lit("x"))),
      (array(lit("x"), lit("x")), array(lit("x"), lit("y"), lit("y"))))
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      val row = spark.range(1).select(
        fp_inter_count(a, b).as("fast"),
        size(array_intersect(a, b)).cast("long").as("ref")).head()
      assert(row.getLong(0) === row.getLong(1), s"case $i")
    }
    // the long path: duplicates, and nulls (sorted last) on one side
    // and on both sides. A null slot reads as 0 without the guard, so
    // the cases put a real 0 where an unguarded null would meet it.
    val nullL = lit(null).cast("long")
    val longCases = Seq(
      (array(lit(1L), lit(1L), lit(2L)), array(lit(1L), lit(2L), lit(2L))),
      (array(lit(-3L), nullL), array(lit(0L), lit(1L))),
      (array(lit(1L), lit(2L)), array(lit(2L), nullL, nullL)),
      (array(lit(0L), nullL), array(lit(0L), nullL)),
      (array(nullL), array(nullL)))
    longCases.zipWithIndex.foreach { case ((a, b), i) =>
      val row = spark.range(1).select(
        fp_inter_count(a, b).as("fast"),
        size(array_intersect(a, b)).cast("long").as("ref")).head()
      assert(row.getLong(0) === row.getLong(1), s"long case $i")
    }
  }

  test("fp_weighted_inter: equals the explicit Σ w over A∩B; inclusion-exclusion union holds") {
    import graft.functions.FpSet.fp_weighted_inter
    val rnd = new scala.util.Random(23)
    // a global weight per token (w functionally dependent on t — the
    // idf contract)
    def w(t: String): Long = 1L + math.abs(t.hashCode % 997)
    val rows = (0 until 200).map { i =>
      def side() = Seq.fill(rnd.nextInt(25))(s"tok${rnd.nextInt(30)}")
        .distinct.sorted.map(t => (t, w(t)))
      val (a, b) = (side(), side())
      val inter = a.map(_._1).toSet.intersect(b.map(_._1).toSet)
      (i.toLong, a, b, inter.toSeq.map(w).sum,
        a.map(_._2).sum + b.map(_._2).sum - inter.toSeq.map(w).sum)
    }
    val df = rows.toDF("id", "a", "b", "expInter", "expUnion")
      .withColumn("gotInter", fp_weighted_inter(col("a"), col("b")))
    val bad = df.filter(col("gotInter") =!= col("expInter")).count()
    assert(bad === 0)
    // ASCII `sorted` above matches UTF8 binary order for these tokens;
    // prove the non-BMP ordering too: UTF8 binary order is
    // "a" < "Ａ"(EF BC A1) < 𝄞(F0 9D 84 9E), while Scala string sort
    // puts the surrogate pair before Ａ — build via Spark's own
    // sort_array to stay on the contract
    val hi = "𝄞"
    val df2 = Seq((Seq(("a", 3L), (hi, 7L), ("Ａ", 5L)), Seq((hi, 7L), ("Ａ", 5L))))
      .toDF("a0", "b0")
      .select(sort_array(col("a0")).as("a"), sort_array(col("b0")).as("b"))
      .select(fp_weighted_inter(col("a"), col("b")).as("g"))
    assert(df2.as[Long].head() === 12L)
  }

  test("fp32_set / fp_inter_count / fp_weighted_inter project inside WholeStageCodegen") {
    import graft.functions.FpSet.fp_weighted_inter
    // spark.range source (a local Seq would constant-fold into a
    // LocalTableScan) and struct arrays built WITHOUT transform — a
    // higher-order function in the same projection would itself break
    // the span and mask what this test checks. "a<d>" < "b" < "c<d>"
    // keeps every array on the sorted contract.
    val aTok = concat(lit("a"), col("id").cast("string"))
    val cTok = concat(lit("c"), col("id").cast("string"))
    val df = spark.range(20)
      .select(col("id"),
        array(aTok, lit("b")).as("wa"),
        array(lit("b"), cTok).as("wb"),
        array(struct(aTok.as("t"), lit(1L).as("w")),
          struct(lit("b").as("t"), lit(2L).as("w"))).as("ta"),
        array(struct(lit("b").as("t"), lit(2L).as("w")),
          struct(cTok.as("t"), lit(3L).as("w"))).as("tb"))
      .withColumn("sa", fp32_set(col("wa")))
      .withColumn("sb", fp32_set(col("wb")))
      .withColumn("n", fp_inter_count(col("sa"), col("sb")))
      .withColumn("tw", fp_weighted_inter(col("ta"), col("tb")))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the previous CodegenFallback marker kept these projections out of
    // WholeStageCodegen entirely (CollapseCodegenStages rejects plans
    // holding a fallback expression) — the codegen'd line carries "*(n)"
    for (fn <- Seq("fp32_set", "fp_inter_count", "fp_weighted_inter"))
      assert(plan.linesIterator.exists(l => l.contains(fn) && l.contains("*(")),
        fn + ": " + plan.take(3000))
  }
}
