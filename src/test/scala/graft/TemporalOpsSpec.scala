package graft

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** As-of join, SCD2 and the other temporal operators' semantics. */
class TemporalOpsSpec extends SparkSpec {
  import spark.implicits._

  test("zscoreFlags: exact integer z², variance-0 rule, gap aging, minPeriods gate") {
    // constant baseline (variance 0) + spike at t=24; alternating 4/6
    // baseline (variance > 0) + spike at t=54; isolated point after a
    // > trailing gap at t=100 (empty window — must NOT flag)
    val series = ((0 to 23).map(t => (t.toLong, 5L)) :+ (24L, 9L)) ++
      (30 to 53).map(t => (t.toLong, if (t % 2 == 0) 4L else 6L)) ++
      Seq((54L, 10L), (100L, 99L))
    val df = series.toDF("t0", "x0").withColumn("k", lit("a"))
    val got = Relational.zscoreFlags(df, Seq(col("k")), col("t0"), col("x0"),
        trailing = 24L, minPeriods = 12L, thresholdSq = 4L)
      .select("t", "x", "m_window", "z2_permille", "is_anomaly")
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
    val byT = got.map(r => r._1 -> r).toMap
    assert(got.filter(_._5).map(_._1).toSeq === Seq(24L, 54L),
      s"flag set wrong: ${got.filter(_._5).toSeq}")
    // t=24: window = 24 fives → variance 0, x deviates ⇒ flagged with
    // the sentinel z² (not computable as a ratio)
    assert(byT(24L) === ((24L, 9L, 24L, -1L, true)))
    // t=54: m=24, s1=120, s2=624 ⇒ den=576, num=(240−120)²=14400 ⇒
    // z²·1000 = 25000 exactly (z = 5)
    assert(byT(54L) === ((54L, 10L, 24L, 25000L, true)))
    // t=100: everything aged out of the RANGE frame ⇒ m=0, gated off
    assert(byT(100L)._3 === 0L && !byT(100L)._5)
    // warm-up rows under minPeriods never flag
    assert(got.filter(_._1 < 12L).forall(r => !r._5 && r._4 === -1L))
  }

  test("linearTrend: exact slope/r² on perfect lines, NULL on degenerate keys") {
    // up: x = 3 + 2t (slope 2, perfect fit); down: x = 100 − 3t;
    // flat: constant x (denx = 0); lone: single point (dent = 0).
    // Time axes deliberately offset to exercise the per-key re-base.
    val rows =
      (0 to 9).map(t => ("up", 1000L + t, 3L + 2 * t)) ++
      (0 to 9).map(t => ("down", 500L + t, 100L - 3 * t)) ++
      (0 to 9).map(t => ("flat", t.toLong, 7L)) :+ (("lone", 42L, 5L))
    val got = Relational.linearTrend(rows.toDF("k", "t0", "x0"),
        Seq(col("k")), col("t0"), col("x0"))
      .select("k", "m", "slope_ppm", "r2_permille")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(got("up") === ((10L, Some(2000000L), Some(1000L))))
    assert(got("down") === ((10L, Some(-3000000L), Some(1000L))))
    assert(got("flat") === ((10L, Some(0L), None)), "constant x: r² undefined")
    assert(got("lone") === ((1L, None, None)), "single point: no fit")
  }

  test("disorderAudit + watermarkCurve: exact lateness, p95 order stat, loss curve") {
    // arrival order 1..8 with event times 10,20,15,30,5,30,31,25:
    // lateness per arrival = 0,0,5,0,25,0,0,6 (e6 ties the max — on time)
    val ev = Seq((1L, 10L), (2L, 20L), (3L, 15L), (4L, 30L),
      (5L, 5L), (6L, 30L), (7L, 31L), (8L, 25L))
      .toDF("arr", "ts").withColumn("k", lit("a"))
    val audit = Relational.disorderAudit(ev, Seq(col("k")), col("arr"), col("ts"))
      .select("n_events", "n_late", "max_late", "p95_late", "late_permille")
      .as[(Long, Long, Long, Long, Long)].head()
    // p95 over {5, 6, 25}: index (3−1)·95 div 100 + 1 = 2 → 6
    assert(audit === ((8L, 3L, 25L, 6L, 375L)))
    val curve = Relational.watermarkCurve(ev, Seq(col("k")), col("arr"),
        col("ts"), delays = Seq(5L, 10L, 30L))
      .select("delay_sec", "n_dropped", "drop_permille")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(curve.toSeq === Seq((5L, 2L, 250L), (10L, 1L, 125L), (30L, 0L, 0L)))
    // a fully ordered stream audits clean
    val ordered = Relational.disorderAudit(
      ev.withColumn("ts", col("arr") * 10), Seq(col("k")), col("arr"), col("ts"))
    assert(ordered.select("n_late").as[Long].head() === 0L)
  }

  test("bucketed disorder audit ≡ exact window form (hot key, arrival ties, " +
    "every bucket count)") {
    import graft.operators.Relational
    // one HOT key carrying most of the volume (the shape that
    // serializes the exact form into one task at scale), one small
    // key, arrival TIES (same __arr, different ts) — the strictly-
    // earlier RANGE rule must make ties mutually invisible in BOTH
    // forms. Deterministic pseudo-jitter off the index.
    val rows = (0 until 600).map { i =>
      val k = if (i % 10 == 9) "cold" else "hot"
      val arr = (i / 3).toLong // every 3rd arrival stamp tied
      val ts = arr - (if (i % 7 == 3) 5L else 0L) - (if (i % 13 == 4) 11L else 0L)
      (k, arr, ts)
    }
    val df = rows.toDF("k", "arr", "ts")
    val exact = Relational.latenessScores(df, Seq(col("k")), col("arr"), col("ts"))
      .groupBy("k", "__arr", "__ts", "__late").count()
    for (nb <- Seq(1, 7, 64, 1000)) {
      val bucketed = Relational.latenessScoresBucketed(
          df, Seq(col("k")), col("arr"), col("ts"), numBuckets = nb)
        .groupBy("k", "__arr", "__ts", "__late").count()
      assert(bucketed.exceptAll(exact).isEmpty && exact.exceptAll(bucketed).isEmpty,
        s"numBuckets=$nb diverged from the exact window form")
    }
    // the audit readout built on it matches row for row too
    val a = Relational.disorderAudit(df, Seq(col("k")), col("arr"), col("ts"))
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    val b = Relational.disorderAuditBucketed(df, Seq(col("k")), col("arr"),
        col("ts"), numBuckets = 16)
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    assert(a === b, "bucketed audit readout diverged")
    assert(a("hot").head.asInstanceOf[Long] === 540L, "fixture sanity: hot key volume")
    // non-vacuous: the fixture actually has late rows
    assert(a("hot")(1).asInstanceOf[Long] > 0L, "fixture must contain late rows")
  }

  test("asOfJoin picks the latest build row at or before the probe") {
    val probe = Seq((101L, 7L, 50L), (102L, 7L, 10L), (103L, 8L, 5L))
      .toDF("event_id", "user_id", "ts_sec")
    val build = Seq((1L, 7L, 10L), (2L, 7L, 40L), (3L, 7L, 60L), (4L, 9L, 1L))
      .toDF("event_id", "user_id", "ts_sec")
    val got = Relational.asOfJoin(probe, build, "user_id", "ts_sec", "event_id", Seq("event_id"))
      .select(col("event_id"), col("asof_event_id")).as[(Long, Option[Long])]
      .collect().toMap
    assert(got(101L) === Some(2L)) // build at 40 ≤ 50, not 60
    assert(got(102L) === Some(1L)) // inclusive: build at 10 == probe 10
    assert(got(103L) === None)     // no build rows for user 8
  }

  test("asOfJoin ties at equal ts resolve to the greatest tie id") {
    val probe = Seq((100L, 1L, 20L)).toDF("event_id", "user_id", "ts_sec")
    val build = Seq((5L, 1L, 20L), (6L, 1L, 20L)).toDF("event_id", "user_id", "ts_sec")
    val got = Relational.asOfJoin(probe, build, "user_id", "ts_sec", "event_id", Seq("event_id"))
      .select(col("asof_event_id")).as[Long].head()
    assert(got === 6L)
  }

  test("scd2 builds adjacent intervals with one current version per key") {
    val df = Seq((7L, 1L, 10L), (7L, 2L, 30L), (7L, 3L, 20L), (8L, 4L, 5L))
      .toDF("user_id", "event_id", "ts_sec")
    val got = Relational.scd2(df, "user_id", "ts_sec", "event_id")
      .select(col("event_id"), col("valid_from"), col("valid_to"), col("is_current"))
      .as[(Long, Long, Option[Long], Boolean)].collect().sortBy(_._1)
    assert(got(0) === ((1L, 10L, Some(20L), false)))
    assert(got(1) === ((2L, 30L, None, true)))
    assert(got(2) === ((3L, 20L, Some(30L), false)))
    assert(got(3) === ((4L, 5L, None, true)))
  }

  test("mergeInto applies I/U/D with last-writer conflict resolution") {
    import graft.operators.Cdc
    val target = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    val ups = Seq(
      (2L, "B", 21L, "U", 1),  // plain update
      (4L, "d", 40L, "I", 1),  // insert of a new key
      (1L, "zz", 99L, "U", 1), // update then delete (seq 2 below) → gone
      (6L, "f", 60L, "I", 2))  // delete (seq 1 below) then insert → present
      .toDF("k", "s", "v", "op", "seq")
    val dels = Seq((3L, "D", 1), (5L, "D", 1), (1L, "D", 2), (6L, "D", 1))
      .toDF("k", "op", "seq") // 5L: delete of a MISSING key → no-op
      .withColumn("s", lit(null).cast("string"))
      .withColumn("v", lit(null).cast("long"))
    val delta = ups.unionByName(dels.select("k", "s", "v", "op", "seq"))
    val out = Cdc.mergeInto(target, delta, keys = Seq("k"))
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(out === Seq((2L, "B", 21L), (4L, "d", 40L), (6L, "f", 60L)))
    // an INSERT op on an EXISTING key upserts (REPLACE semantics,
    // SinkToMySQL.java:35) — no duplicate key, new values win
    val out2 = Cdc.mergeInto(target, Seq((2L, "bb", 22L, "I", 1))
        .toDF("k", "s", "v", "op", "seq"), keys = Seq("k"))
      .orderBy("k").as[(Long, String, Long)].collect().toSeq
    assert(out2 === Seq((1L, "a", 10L), (2L, "bb", 22L), (3L, "c", 30L)))
  }

  test("mergeInto randomized differential vs a driver-side reference model") {
    import graft.operators.Cdc
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val target = (1L to 60L).map(k => (k, s"t$k", k * 100)).toDF("k", "s", "v")
      // random delta: keys 1..80 (some missing from target), random op
      // per row, random multiplicity per key with strictly increasing seq
      val deltaRows = (1L to 80L).flatMap { k =>
        (1 to rnd.nextInt(4)).map { seq =>
          rnd.nextInt(3) match {
            case 0 => (k, s"d$k-$seq", k + seq, "U", seq)
            case 1 => (k, s"i$k-$seq", k - seq, "I", seq)
            case _ => (k, "", -1L, "D", seq)
          }
        }
      }
      if (deltaRows.nonEmpty) {
        // reference model: last op per key wins, applied to a Map
        val byKey = deltaRows.groupBy(_._1).view.mapValues(_.maxBy(_._5))
        val base = (1L to 60L).map(k => k -> (s"t$k", k * 100)).toMap
        val expected = byKey.foldLeft(base) { case (m, (k, (_, s, v, op, _))) =>
          if (op == "D") m - k else m + (k -> (s, v))
        }.map { case (k, (s, v)) => (k, s, v) }.toSet
        val got = Cdc.mergeInto(target,
            deltaRows.toDF("k", "s", "v", "op", "seq"), keys = Seq("k"))
          .as[(Long, String, Long)].collect().toSet
        assert(got === expected, s"trial $trial diverged from the reference model")
      }
    }
  }

  test("changelogFrom ∘ mergeInto round-trips: apply(diff(old, new)) ≡ new") {
    import graft.operators.Cdc
    val old = (1L to 120L).map(k => (k, s"s${k % 7}", k * 3)).toDF("k", "s", "v")
    // new = old with %7==0 deleted, %5==1 value-updated, 121..130 inserted
    val nw = (1L to 120L).filter(_ % 7 != 0)
      .map(k => (k, s"s${k % 7}", if (k % 5 == 1) k * 3 + 100 else k * 3))
      .++((121L to 130L).map(k => (k, "new", k)))
      .toDF("k", "s", "v")
    val log = Cdc.changelogFrom(old, nw, keys = Seq("k"))
    // op census matches the construction (5 excluded from U where deleted)
    val ops = log.groupBy("op").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops("D") === (1L to 120L).count(_ % 7 == 0))
    assert(ops("I") === 10)
    assert(ops("U") === (1L to 120L).count(k => k % 5 == 1 && k % 7 != 0))
    // the law: replaying the generated changelog reproduces new exactly
    val replayed = Cdc.mergeInto(old, log, keys = Seq("k"))
      .as[(Long, String, Long)].collect().toSet
    assert(replayed === nw.as[(Long, String, Long)].collect().toSet)
    // identical snapshots generate an EMPTY changelog
    assert(Cdc.changelogFrom(old, old, Seq("k")).isEmpty)
  }

  test("the merge fixture's single-scan delta ≡ its seven-piece union, conflicts included") {
    // the reference: one filtered projection of the snapshot per case
    val t = SparkEntry.ordersCentsSnapshot(spark, sf)
    def piece(pred: org.apache.spark.sql.Column, key: org.apache.spark.sql.Column,
              status: org.apache.spark.sql.Column, cents: org.apache.spark.sql.Column,
              op: String, seq: Int) =
      t.filter(pred).select(key.as("o_orderkey"), status.as("o_orderstatus"),
        cents.as("total_cents"), lit(op).as("op"), lit(seq).as("seq"))
    val m = pmod(col("o_orderkey"), lit(10))
    val nullS = lit(null).cast("string"); val nullC = lit(null).cast("long")
    val union = Seq(
      piece(m === 0, col("o_orderkey"), nullS, nullC, "D", 1),
      piece(m === 1, col("o_orderkey"), col("o_orderstatus"), col("total_cents") + 1, "U", 1),
      piece(m === 2, col("o_orderkey") + 1000000000L, col("o_orderstatus"),
        col("total_cents"), "I", 1),
      piece(m === 3, col("o_orderkey"), col("o_orderstatus"), col("total_cents") + 7, "U", 1),
      piece(m === 3, col("o_orderkey"), nullS, nullC, "D", 2),
      piece(m === 4, col("o_orderkey"), nullS, nullC, "D", 1),
      piece(m === 4, col("o_orderkey"), col("o_orderstatus"), col("total_cents") + 9, "U", 2))
      .reduce(_ unionByName _)
    val delta = SparkEntry.mergeFixtureDelta(t)
    assert(delta.schema.map(f => f.name -> f.dataType) === union.schema.map(f => f.name -> f.dataType))
    assert(delta.queryExecution.executedPlan.toString.split("Scan parquet").length - 1 === 1)
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    assert(multiset(delta) === multiset(union))
    // both in-delta conflicts are present: U then D (%10=3), D then U (%10=4)
    val conflicts = delta.filter(m.isin(3, 4)).groupBy(m.as("m"), col("op"), col("seq"))
      .count().as[(Long, String, Int, Long)].collect().map(r => (r._1, r._2, r._3)).toSet
    assert(conflicts === Set((3L, "U", 1), (3L, "D", 2), (4L, "D", 1), (4L, "U", 2)))
  }
}
