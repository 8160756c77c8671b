package graft

/** The shared test session is the one `Session.local` builds for the
  * bench and the mains — pin the settings they all rely on. */
class SessionSpec extends SparkSpec {

  test("Session.local: local[4], 4 shuffle partitions, UTC, AQE, nanosAsLong, no UI") {
    val conf = spark.conf
    assert(spark.sparkContext.master === "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") === "4")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.adaptive.enabled") === "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("Session.local carries graft's SQL function names") {
    assert(spark.sql("SELECT hamming64(1L, 2L)").head().getLong(0) === 2L)
  }
}
