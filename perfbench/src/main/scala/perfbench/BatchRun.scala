package perfbench

import org.apache.spark.sql.SparkSession

/** Batch workloads: passes over a fixed list of `SparkEntry.queries`.
  *
  * One untimed warm-up pass, then timed passes for about `--seconds`
  * (at least one). Each query is split into build (the query function,
  * including any eager jobs iterative operators run) and write (a
  * one-file parquet output the correctness gate digests); the planning
  * of every action inside either is recorded as a `plan` span. A query
  * that throws is recorded as failed and carries no time. */
object BatchRun {

  def run(spark: SparkSession, args: Main.Args, sub: String, traced: Boolean): Map[String, Any] = {
    val tables = s"${args.work}/tables"
    val fns = args.queries.map(q => q -> graft.SparkEntry.queries(q))

    def pass(label: String, parent: String): Map[String, Any] = {
      val out = s"$sub/out/$label"
      Trace.span("pass", parent, Map("pass" -> label)) { passId =>
        val t0 = Trace.nowMs
        val queries = fns.map { case (name, fn) =>
          val qid = Trace.newId("query")
          val ids = Seq(Trace.newId("build"), Trace.newId("write"))
          val buckets = Seq.fill(2)(new Trace.Bucket)
          // listener counts and plan spans go to the phase that is open
          def phase(i: Int): Unit = if (traced) {
            Trace.switchBucket(spark, buckets(i))
            Trace.planParent = ids(i)
          }
          val q0 = Trace.nowMs
          val result: Map[String, Any] = try {
            phase(0)
            val df = fn(spark, tables)
            val q1 = Trace.nowMs
            phase(1)
            df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
            val q2 = Trace.nowMs
            if (traced) Trace.switchBucket(spark, new Trace.Bucket)
            Seq(("build", q0, q1), ("write", q1, q2)).zip(ids).zip(buckets)
              .foreach { case (((n, a, b), id), bk) => Trace.record(id, qid, n, a, b, bk.asMap) }
            Map("ok" -> true, "build_ms" -> (q1 - q0), "write_ms" -> (q2 - q1),
              "counts" -> buckets.map(_.asMap))
          } catch {
            case e: Throwable =>
              if (traced) Trace.switchBucket(spark, new Trace.Bucket)
              Map("ok" -> false, "error" -> String.valueOf(e.getMessage).take(500))
          }
          Trace.record(qid, passId, "query", q0, Trace.nowMs, Map("query" -> name))
          result + ("query" -> name) + ("out" -> s"$out/$name")
        }
        Map("pass" -> label, "start" -> t0, "end" -> Trace.nowMs, "queries" -> queries)
      }
    }

    // the warm-up pass pays JIT, codegen and file-listing costs once
    val warm = pass("warm", "")
    val ready = Trace.nowMs
    val cpuReady = Main.cpu()
    Trace.on = traced
    val res = Trace.span("workload", "", Map("workload" -> args.workload)) { wid =>
      // timed passes while the next one, as long as the last, still fits
      val passes = Seq.newBuilder[Map[String, Any]]
      var n = 0
      var last = 0.0
      while (n < 1 || Trace.nowMs - ready + last <= args.seconds * 1000) {
        val p0 = Trace.nowMs
        passes += pass(s"p$n", wid)
        last = Trace.nowMs - p0
        n += 1
      }
      val cpuEnd = Main.cpu()
      Map("traced" -> traced, "ready" -> ready, "warmup" -> Seq(warm),
        "passes" -> passes.result(),
        "oracle_sql" -> args.queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap) ++
        cpuEnd.since(cpuReady)
    }
    Trace.on = false
    res
  }
}
