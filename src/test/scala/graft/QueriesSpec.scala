package graft

/** Smoke + spot checks of the SparkEntry query surface on sf0.001.
  * The authoritative cross-engine check is the driver's DuckDB oracle
  * (tools/verify_local.py mimics it); these tests pin basic invariants
  * so refactors fail fast.
  */
class QueriesSpec extends SparkSpec {

  test("every query has an oracle or is explicitly rows-only") {
    val rowsOnly = Set(
      "rel_approx_sketches", // sketch algs differ per engine
      "text_bpe_merges100")  // 100 chained greedy folds aren't SQL-expressible;
                             // parity with the oracle-checked k≤8 form is
                             // spec-pinned in BpeScaleSpec
    assert(SparkEntry.suite.filter(_.oracle.isEmpty).map(_.name).toSet === rowsOnly)
  }

  test("suite names are unique") {
    // the name-keyed views keep one entry per name, so a duplicate
    // would silently drop a query
    val names = SparkEntry.suite.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"duplicate query names: $dups")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries execute on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      withClue(name) { assert(n >= 0) }
    }
  }

  test("cdc_enrich preserves stream cardinality (left join)") {
    val events = graft.sources.Tables.events(spark, sf).count()
    assert(SparkEntry.queries("cdc_enrich")(spark, sf).count() === events)
  }

  test("cdc_latest_by_key emits one row per user") {
    val df = SparkEntry.queries("cdc_latest_by_key")(spark, sf)
    assert(df.count() === df.select("user_id").distinct().count())
  }

  test("rel_pricing_summary sums are positive and grouped") {
    val rows = SparkEntry.queries("rel_pricing_summary")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    rows.foreach { r => assert(r.getAs[Double]("sum_qty") > 0) }
  }

  test("rel_topk is sorted descending") {
    val prices = SparkEntry.queries("rel_topk")(spark, sf)
      .collect().map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sortBy(-_)))
    assert(prices.length === 100)
  }

  test("rel_sessionize session counts bounded by event counts") {
    SparkEntry.queries("rel_sessionize")(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_sessions") <= r.getAs[Long]("n_events"))
      assert(r.getAs[Long]("n_sessions") >= 1)
    }
  }
}
