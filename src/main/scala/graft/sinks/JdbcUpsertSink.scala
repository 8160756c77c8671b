package graft.sinks

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, Row}

/** Batched JDBC upsert/delete sink for `foreachBatch` — the reference's
  * REPLACE-INTO MySQL sink (SinkToMySQL.java:20–97) redesigned for
  * scale and exactly-once:
  *
  *  - per-partition connections and statement *batches* (the reference
  *    did one `executeUpdate` per record through a dbcp2 pool —
  *    per-record round-trips are the first thing that dies at scale);
  *  - keyed upsert (REPLACE INTO on MySQL; portable delete+insert
  *    elsewhere — same last-writer-wins semantics), so a replay of the
  *    same micro-batch after a failure converges to the same table;
  *  - limit: rows are written without a stored-version check, so a
  *    stale event arriving in a *later* micro-batch overwrites a newer
  *    row (or brings back a deleted one). Versions are ordered only
  *    within one micro-batch, by `writer`'s compaction; the result is
  *    exactly-once only for a source that delivers each key's changes
  *    in version order;
  *  - CDC DELETE ops become keyed deletes (the reference dropped
  *    retractions on the floor, Main.java:129).
  *
  * Contract: a batch must carry at most one row per key — compact with
  * [[graft.streaming.Changelog.compactBatch]] (or the stateful
  * [[graft.streaming.Changelog.compact]]) first. Executors open their
  * own connections (the factory serializes; a Connection does not).
  */
object JdbcUpsertSink {

  sealed trait Dialect
  /** MySQL REPLACE INTO — single-statement delete+insert upsert, the
    * reference's exact statement shape (SinkToMySQL.java:35). */
  case object MySqlReplace extends Dialect
  /** Portable two-statement upsert: batched DELETE by key then batched
    * INSERT (identical visible semantics to REPLACE INTO). Works on
    * Derby/Postgres/Greenplum without dialect-specific SQL. */
  case object DeleteInsert extends Dialect

  /** Upsert `df` into `table`; rows whose `opCol` (if present) equals
    * "DELETE" are deleted by key instead of upserted. */
  def write(df: DataFrame, table: String, keyCols: Seq[String], valCols: Seq[String],
            connect: () => Connection, dialect: Dialect = DeleteInsert,
            opCol: Option[String] = None, batchSize: Int = 500): Unit = {
    val schema = df.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val valIdx = valCols.map(schema.fieldIndex)
    val opIdx = opCol.map(schema.fieldIndex)
    val allCols = keyCols ++ valCols
    val insertSql = dialect match {
      case MySqlReplace =>
        s"REPLACE INTO $table (${allCols.mkString(", ")}) VALUES (${allCols.map(_ => "?").mkString(", ")})"
      case DeleteInsert =>
        s"INSERT INTO $table (${allCols.mkString(", ")}) VALUES (${allCols.map(_ => "?").mkString(", ")})"
    }
    val deleteSql = s"DELETE FROM $table WHERE ${keyCols.map(k => s"$k = ?").mkString(" AND ")}"
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val conn = connect()
        try {
          conn.setAutoCommit(false)
          val ins = conn.prepareStatement(insertSql)
          val del = conn.prepareStatement(deleteSql)
          var pending = 0
          def flush(): Unit = {
            del.executeBatch() // deletes first: clears old versions and DELETE ops
            ins.executeBatch()
            pending = 0
          }
          rows.foreach { r =>
            val isDelete = opIdx.exists(i => "DELETE" == r.get(i))
            // DeleteInsert upserts always pre-delete their key; MySQL
            // REPLACE does the delete server-side.
            if (isDelete || dialect == DeleteInsert) {
              keyIdx.zipWithIndex.foreach { case (ci, pi) => del.setObject(pi + 1, r.get(ci)) }
              del.addBatch()
            }
            if (!isDelete) {
              (keyIdx ++ valIdx).zipWithIndex.foreach { case (ci, pi) =>
                ins.setObject(pi + 1, r.get(ci))
              }
              ins.addBatch()
            }
            pending += 1
            if (pending >= batchSize) flush()
          }
          flush()
          conn.commit()
        } finally conn.close()
      }
    }
  }

  /** foreachBatch adapter for [[graft.streaming.CdcStreamJob.start]]:
    * when `versionCol` is given, compacts the micro-batch to one row per
    * key with the sort-free [[graft.streaming.Changelog.compactBatch]]
    * (one hash exchange on the key, newest version per key, replay-stable
    * ties), then writes. All rows of a key sit in one partition, so the
    * per-partition transactions never touch the same key. */
  def writer(url: String, table: String, keyCols: Seq[String], valCols: Seq[String],
             dialect: Dialect = DeleteInsert, opCol: Option[String] = None,
             versionCol: Option[String] = None): (DataFrame, Long) => Unit =
    (batch, _) => {
      val compacted = versionCol match {
        case Some(v) => graft.streaming.Changelog.compactBatch(batch, keyCols, v)
        case None => batch
      }
      write(compacted, table, keyCols, valCols,
        () => DriverManager.getConnection(url), dialect, opCol)
    }
}
