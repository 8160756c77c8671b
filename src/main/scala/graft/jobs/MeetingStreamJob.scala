package graft.jobs

import scala.concurrent.duration.Duration

import org.apache.spark.sql.streaming.Trigger

import graft.sinks.JdbcUpsertSink
import graft.sources.{Files, Jdbc}
import graft.streaming.CdcStreamJob

/** The reference's whole job (Main.java:43–151) as one runnable main —
  * a user of the reference switches their Flink submit for:
  *
  * {{{
  * spark-submit --class graft.jobs.MeetingStreamJob <jar> \
  *   --events  <dir of Canal flat-JSON files | kafka:brokers/topic> \
  *   --dim-jdbc <jdbc url> --dim-query "<pushdown sql>" \
  *   [--dim-refresh "1 minute"] \
  *   --sink-jdbc <jdbc url> --sink-table meeting_result \
  *   --checkpoint <dir> [--trigger "1 second"]
  * }}}
  *
  * Pipeline: Canal feed → envelope decode → {INSERT,UPDATE,DELETE}
  * selection → typed projection → held-dimension enrich →
  * per-batch compacted keyed upsert/delete. The dimension query runs
  * at start and then every `--dim-refresh` (a Scala duration, "Inf" to
  * read it once): a committed dimension change reaches every
  * micro-batch that starts more than that plus one reload after it.
  * Replays of a micro-batch converge via checkpointed offsets + the
  * keyed sink (see [[graft.sinks.JdbcUpsertSink]] for its limit).
  */
object MeetingStreamJob {

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val spark = graft.Session.local(Runtime.getRuntime.availableProcessors)

    val raw = a("--events") match {
      case k if k.startsWith("kafka:") =>
        val Array(brokers, topic) = k.stripPrefix("kafka:").split("/", 2)
        CdcStreamJob.fromKafka(spark, brokers, topic)
      case dir =>
        Files.textStream(spark, dir)
    }
    val dim = Jdbc.query(spark, a("--dim-jdbc"), a("--dim-query"))
    val enriched = CdcStreamJob.enriched(raw, dim,
      dimRefresh = Duration(a.getOrElse("--dim-refresh", "1 minute")))
    val q = CdcStreamJob.start(enriched, a("--checkpoint"),
      JdbcUpsertSink.writer(a("--sink-jdbc"), a.getOrElse("--sink-table", "meeting_result"),
        keyCols = Seq("meeting_id"),
        valCols = Seq("meeting_code", "meetingroom_id", "meetingroom_name",
          "location_name", "city"),
        opCol = Some("op"), versionCol = Some("es")),
      trigger = Trigger.ProcessingTime(a.getOrElse("--trigger", "1 second")))
    q.awaitTermination()
  }
}
