package graft

import org.apache.spark.sql.functions.col

import graft.codec.CanalCodec

/** Canal envelope decode/filter/project — fixtures are hand-written
  * Canal flat-JSON in the documented public format (values as strings,
  * SQL NULL as JSON null, `data` an array of row-maps).
  */
class CanalCodecSpec extends SparkSpec {
  import spark.implicits._

  private def env(table: String, typ: String, isDdl: Boolean, rows: String): String =
    s"""{"data":$rows,"database":"mrbs","es":1700000000000,"id":7,"isDdl":$isDdl,
       |"mysqlType":{"id":"int"},"old":null,"sql":"","sqlType":{"id":4},
       |"table":"$table","ts":1700000000123,"type":"$typ"}""".stripMargin.replace("\n", "")

  private val insert = env("t_meeting_info", "INSERT",
    isDdl = false,
    """[{"id":"11","meeting_code":"mc-1","address_id":"3",
      |"mstart_date":"2024-05-01 09:00:00","mend_date":"2024-05-01 10:00:00"}]"""
      .stripMargin.replace("\n", ""))
  private val update = env("t_meeting_info", "UPDATE",
    isDdl = false,
    """[{"id":"11","meeting_code":"mc-1b","address_id":null,
      |"mstart_date":"2024-05-01 09:30:00","mend_date":null}]"""
      .stripMargin.replace("\n", ""))
  private val ddl = env("t_meeting_info", "CREATE", isDdl = true, "null")
  private val otherTable = env("t_other", "INSERT", isDdl = false, """[{"id":"1"}]""")
  private val multiRow = env("t_meeting_info", "INSERT",
    isDdl = false,
    """[{"id":"21","meeting_code":"a,b","address_id":"5",
      |"mstart_date":"2024-06-01 08:00:00","mend_date":"2024-06-01 09:00:00"},
      |{"id":"22","meeting_code":"c","address_id":"6",
      |"mstart_date":"2024-06-02 08:00:00","mend_date":"2024-06-02 09:00:00"}]"""
      .stripMargin.replace("\n", ""))

  private def raw = Seq(insert, update, ddl, otherTable, multiRow).toDF("value")

  test("decode yields typed envelope columns") {
    val env = CanalCodec.decode(raw)
    assert(env.schema.fieldNames.toSet.contains("isDdl"))
    assert(env.count() === 5)
    assert(env.filter(col("isDdl")).count() === 1)
  }

  test("changes filters table, ddl and op set; INSERT+UPDATE parameterized") {
    val ch = CanalCodec.changes(CanalCodec.decode(raw), "t_meeting_info", Set("INSERT", "UPDATE"))
    assert(ch.count() === 3) // insert, update, multiRow — not ddl, not t_other
    val insOnly = CanalCodec.changes(CanalCodec.decode(raw), "t_meeting_info", Set("INSERT"))
    assert(insOnly.count() === 2)
  }

  test("rows explodes multi-row data arrays") {
    val r = CanalCodec.rows(
      CanalCodec.changes(CanalCodec.decode(raw), "t_meeting_info", Set("INSERT", "UPDATE")))
    assert(r.count() === 4) // 1 + 1 + 2
  }

  private def envOld(typ: String, rows: String, old: String, db: String = "mrbs"): String =
    s"""{"data":$rows,"database":"$db","es":1700000000000,"id":7,"isDdl":false,
       |"mysqlType":{"id":"int"},"old":$old,"sql":"","sqlType":{"id":4},
       |"table":"t_meeting_info","ts":1700000000123,"type":"$typ"}"""
      .stripMargin.replace("\n", "")

  test("old rows align positionally with data rows") {
    val multi = envOld("UPDATE",
      """[{"id":"1","meeting_code":"a"},{"id":"2","meeting_code":"b"}]""",
      """[{"meeting_code":"a0"},{"address_id":"9"}]""")
    val r = CanalCodec.rows(CanalCodec.changes(
      CanalCodec.decode(Seq(multi).toDF("value")), "t_meeting_info"))
    val byId = r.collect().map(x =>
      x.getAs[Map[String, String]]("row")("id") ->
        x.getAs[Map[String, String]]("old_row")).toMap
    assert(byId("1") === Map("meeting_code" -> "a0"))
    assert(byId("2") === Map("address_id" -> "9"))
  }

  test("dropNoOpUpdates keeps only UPDATEs touching projected columns") {
    val touching = envOld("UPDATE", """[{"id":"1","meeting_code":"x"}]""",
      """[{"meeting_code":"was"}]""")
    val noOp = envOld("UPDATE", """[{"id":"2","meeting_code":"y"}]""",
      """[{"update_time":"2024-01-01 00:00:00"}]""")
    val noCapture = update // old: null in the shared fixture
    val ins = insert
    val df = Seq(touching, noOp, noCapture, ins).toDF("value")
    val kept = CanalCodec.dropNoOpUpdates(
      CanalCodec.rows(CanalCodec.changes(CanalCodec.decode(df), "t_meeting_info")),
      CanalCodec.meetingProjectedCols)
    val got = kept.collect()
    assert(got.length === 3) // noOp dropped; touching + null-old UPDATE + INSERT kept
    val ids = got.map(_.getAs[Map[String, String]]("row")("id")).toSet
    assert(ids === Set("1", "11")) // "2" (the no-op) is gone
  }

  test("misaligned old array (shorter than data) yields null old_row, not a crash") {
    val misaligned = envOld("UPDATE",
      """[{"id":"1","meeting_code":"a"},{"id":"2","meeting_code":"b"}]""",
      """[{"meeting_code":"a0"}]""") // old has 1 entry for 2 data rows
    val r = CanalCodec.rows(CanalCodec.changes(
      CanalCodec.decode(Seq(misaligned).toDF("value")), "t_meeting_info")).collect()
    assert(r.length === 2)
    val byId = r.map(x => x.getAs[Map[String, String]]("row")("id") ->
      Option(x.getAs[Map[String, String]]("old_row"))).toMap
    assert(byId("1") === Some(Map("meeting_code" -> "a0")))
    assert(byId("2") === None)
  }

  test("decodeOrDeadLetter routes corrupt and alien payloads, keeps good ones") {
    val corrupt = """{"data": [unterminated"""
    val alien = """{"some": "other json entirely"}"""
    val df = Seq(insert, corrupt, alien).toDF("value")
    val (good, dead) = CanalCodec.decodeOrDeadLetter(df)
    assert(good.count() === 1)
    assert(good.select("table").as[String].head() === "t_meeting_info")
    val deadRows = dead.select("value").as[String].collect().toSet
    assert(deadRows === Set(corrupt, alien)) // originals preserved verbatim
  }

  test("schema drift: unknown envelope fields and extra row columns are tolerated") {
    val drifted =
      """{"data":[{"id":"31","meeting_code":"mc-d","address_id":"3",
        |"mstart_date":"2024-05-01 09:00:00","mend_date":"2024-05-01 10:00:00",
        |"brand_new_column":"surprise"}],
        |"database":"mrbs","es":1700000000000,"id":7,"isDdl":false,
        |"newTopLevelField":{"nested":true},
        |"mysqlType":{},"old":null,"sql":"","sqlType":{},
        |"table":"t_meeting_info","ts":1,"type":"INSERT"}""".stripMargin.replace("\n", "")
    val ev = CanalCodec.meetingPipeline(Seq(drifted).toDF("value")).collect()
    assert(ev.length === 1)
    assert(ev.head.getAs[Int]("meeting_id") === 31)
  }

  test("database filter separates same-named tables across databases") {
    val a = envOld("INSERT", """[{"id":"1"}]""", "null", db = "mrbs")
    val b = envOld("INSERT", """[{"id":"2"}]""", "null", db = "other_db")
    val df = Seq(a, b).toDF("value")
    val all = CanalCodec.changes(CanalCodec.decode(df), "t_meeting_info")
    assert(all.count() === 2)
    val only = CanalCodec.changes(CanalCodec.decode(df), "t_meeting_info",
      database = Some("mrbs"))
    val rows = CanalCodec.rows(only).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Map[String, String]]("row")("id") === "1")
  }

  test("meetingPipeline(skipNoOpUpdates) drops UPDATEs that touch no projected column") {
    val touching = envOld("UPDATE",
      """[{"id":"1","meeting_code":"x","address_id":"3",
        |"mstart_date":"2024-05-01 09:00:00","mend_date":"2024-05-01 10:00:00"}]"""
        .stripMargin.replace("\n", ""),
      """[{"meeting_code":"was"}]""")
    val noOp = envOld("UPDATE",
      """[{"id":"2","meeting_code":"y","address_id":"3",
        |"mstart_date":"2024-05-01 09:00:00","mend_date":"2024-05-01 10:00:00"}]"""
        .stripMargin.replace("\n", ""),
      """[{"update_time":"2024-01-01 00:00:00"}]""")
    val df = Seq(touching, noOp).toDF("value")
    val all = CanalCodec.meetingPipeline(df).collect()
    assert(all.map(_.getAs[Int]("meeting_id")).toSet === Set(1, 2))
    val filtered = CanalCodec.meetingPipeline(df, skipNoOpUpdates = true).collect()
    assert(filtered.map(_.getAs[Int]("meeting_id")).toSet === Set(1))
  }

  test("meetingEvents types fields, survives commas in values and nulls") {
    val ev = CanalCodec.meetingPipeline(raw).collect()
    assert(ev.length === 4)
    val byId = ev.map(r => r.getAs[Int]("meeting_id") -> r).toMap
    // comma inside meeting_code survives (the reference's CSV split breaks here)
    assert(byId(21).getAs[String]("meeting_code") === "a,b")
    // JSON null → real SQL null (the reference produced the string "null")
    assert(byId(11).getAs[Any]("address_id") == null || ev.count(_.getAs[Int]("meeting_id") == 11) == 2)
    val upd = ev.filter(r => r.getAs[String]("op") == "UPDATE")
    assert(upd.length === 1)
    assert(upd.head.isNullAt(upd.head.fieldIndex("address_id")))
    assert(upd.head.isNullAt(upd.head.fieldIndex("mend_date")))
    // timestamps are typed
    assert(byId(21).getAs[java.sql.Timestamp]("mstart_date").toString.startsWith("2024-06-01"))
  }
}
