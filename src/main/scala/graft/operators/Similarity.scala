package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design:
  *  - norms are computed once per row (narrow), never per pair;
  *  - brute-force is the correctness baseline: broadcast the (small)
  *    query set against the full candidate table — candidates never
  *    shuffle;
  *  - the IVF path prunes candidates to the query's coarse cell
  *    (here the `label` column stands in for a trained quantizer
  *    assignment) — the same equi-join shape a 100 TB ANN index uses,
  *    with the cell id as partition key;
  *  - ranking uses round(cos, 4) + id tie-break so top-k membership is
  *    deterministic and engine-stable.
  */
object Similarity {

  /** Ascending-index dot product via the native codegen'd
    * [[graft.functions.VectorDot]] expression — bit-identical to the
    * interpreted fold and DuckDB's list_sum, but stays inside
    * whole-stage codegen (higher-order functions are CodegenFallback
    * and dominate pairwise-join cost). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorDot.vec_dot(a.cast("array<double>"), b.cast("array<double>"))

  def norm2(a: Column): Column = dot(a, a)

  /** Candidate side with its squared norm precomputed (one pass). */
  def withNorm(df: DataFrame, vecCol: String = "embedding"): DataFrame = {
    Partitioning.fanOut(df).withColumn("__n2", norm2(col(vecCol)))
  }

  private def cosFromParts(dotCol: Column, n2a: Column, n2b: Column): Column =
    round(dotCol / sqrt(n2a * n2b), 4)

  /** Brute-force top-k cosine neighbors of each query vector.
    * `queries` must be small (it is broadcast). Excludes self-matches.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("__n2").as("qn2"))
    val c = withNorm(candidates, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("__n2").as("cn2"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosFromParts(dot(col("qv"), col("cv")), col("qn2"), col("cn2")))
      .select(col("query_id"), col("cand_id"), col("cos"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("cand_id")), k, rankCol = "rank")
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar candidates carrying a DIFFERENT
    * label (high-cosine wrong-class neighbors — the negatives that
    * actually move a contrastive loss, vs easy random negatives).
    * Same scale shape as [[bruteForceTopK]]: the (small) query set is
    * broadcast, candidates never shuffle, per-query top-k is a bounded
    * heap not a global sort. At 100 TB the candidate scan is narrow;
    * to go sub-linear swap the scan for the stored ANN index shortlist
    * ([[ivfPqTopKIndexed]]) and keep the label-inequality filter. */
  def hardNegatives(queries: DataFrame, candidates: DataFrame, k: Int,
                    labelCol: String = "label",
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("__n2").as("qn2"),
        col(labelCol).as("__qlabel"))
    val c = withNorm(candidates, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("__n2").as("cn2"),
        col(labelCol).as("__clabel"))
    val scored = c.join(broadcast(q), col("__qlabel") =!= col("__clabel"))
      .withColumn("cos", cosFromParts(dot(col("qv"), col("cv")), col("qn2"), col("cn2")))
      .select(col("query_id"), col("cand_id"), col("cos"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("cand_id")), k, rankCol = "rank")
  }

  /** IVF-style pruned top-k: only candidates in the same coarse cell
    * (`cellCol`) as the query are scored. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int, cellCol: String,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("__n2").as("qn2"),
        col(cellCol).as("__qcell"))
    val c = withNorm(candidates, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("__n2").as("cn2"),
        col(cellCol).as("__ccell"))
    val scored = c.join(broadcast(q),
        col("__qcell") === col("__ccell") && col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosFromParts(dot(col("qv"), col("cv")), col("qn2"), col("cn2")))
      .select(col("query_id"), col("cand_id"), col("cos"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("cand_id")), k, rankCol = "rank")
  }

  /** Deterministic random-hyperplane components: plane h, dim d ↦
    * (first md5 nibble of "h,d") − 7.5 ∈ [−7.5, 7.5]. md5-derived so
    * the DuckDB oracle can regenerate the identical planes — no RNG
    * state, no seed shipping. */
  /** Recall@k evaluation as an operator — the ANN quality gate a
    * serving pipeline runs continuously, not a notebook one-off: per
    * query, |approx top-k ∩ exact top-k| / k in permille, from any
    * candidate frame shaped (query_id, cand_id). Ground truth is
    * [[bruteForceTopK]] over the same query set. Queries the approx
    * index missed entirely still appear (recall 0) via the left join
    * from the truth side. Scale: the join keys on (query_id, cand_id)
    * — both frames are (queries×k)-sized, model-small next to the
    * candidate generation that produced them. */
  def recallAtK(approx: DataFrame, queries: DataFrame, candidates: DataFrame,
                k: Int, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val truth = bruteForceTopK(queries, candidates, k, idCol, vecCol)
      .select(col("query_id"), col("cand_id"))
    val hits = truth
      .join(approx.select(col("query_id"), col("cand_id")).distinct(),
        Seq("query_id", "cand_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    truth.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_permille",
        floor(col("n_hits") * 1000 / lit(k.toLong)).cast("long"))
  }

  private[graft] def rpPlane(h: Int, dims: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (1 to dims).map { d =>
      val hex = md.digest(s"$h,$d".getBytes("UTF-8"))
      // first hex character = high nibble of byte 0
      ((hex(0) >> 4) & 0xf) - 7.5
    }.toArray
  }

  /** Sign-random-projection LSH signature: bit h = sign(v · plane_h).
    * Narrow — `numPlanes` codegen'd vec_dot calls per row, no shuffle.
    * Neighbors in cosine tend to share signature bits, so signature
    * byte-blocks make a sub-linear ANN candidate generator (the scale
    * path; brute-force is the baseline). */
  def rpLshSignature(df: DataFrame, numPlanes: Int = 16, dims: Int = 64,
                     vecCol: String = "embedding"): DataFrame = {
    require(numPlanes <= 63, "signature packs into a long")
    val sig = (0 until numPlanes).map { h =>
      val plane = typedlit(rpPlane(h, dims).toSeq)
      when(dot(col(vecCol), plane) > 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("lsh_sig", sig)
  }

  /** LSH-bucketed ANN: candidates restricted to the query's signature
    * high-byte bucket, then exact cosine top-k inside the bucket. Same
    * equi-join shape as [[ivfTopK]] with a data-independent quantizer.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = rpLshSignature(withNorm(queries, vecCol), vecCol = vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("__n2").as("qn2"),
        shiftright(col("lsh_sig"), 8).as("__qblock"))
    val c = rpLshSignature(withNorm(candidates, vecCol), vecCol = vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("__n2").as("cn2"),
        shiftright(col("lsh_sig"), 8).as("__cblock"))
    val scored = c.join(broadcast(q),
        col("__qblock") === col("__cblock") && col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosFromParts(dot(col("qv"), col("cv")), col("qn2"), col("cn2")))
      .select(col("query_id"), col("cand_id"), col("cos"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("cand_id")), k, rankCol = "rank")
  }

  /** Fixed-point quantization for engine-exact k-means: 1e4 scale keeps
    * every squared distance / dot product an exact integer below 2^53,
    * so double arithmetic is lossless and results are bit-identical
    * across engines and runs. Runs once per row at ingest (the
    * higher-order `transform` is acceptable off the hot path). */
  private[graft] def quantize(v: Column): Column =
    transform(v.cast("array<double>"), x => floor(x * 10000d + 0.5d).cast("long"))

  /** Deterministic quantized k-means (Lloyd) — trains the IVF coarse
    * quantizer instead of borrowing a label column. No RNG: seeds are
    * the k smallest ids; every quantity is an exact integer (see
    * [[quantize]]); ties in assignment break toward the smaller cell.
    *
    * Scale shape per iteration: one broadcast of k centroids against
    * the (never-shuffled) embedding scan, a map-side-combinable
    * min(struct) per vector, then one (cell, dim) shuffle bounded by
    * k×dims rows — the canonical distributed k-means. Empty cells
    * drop out (deterministically on every engine).
    *
    * Returns (cell, cv: array<long>) centroids after `iters`
    * assign+update rounds. */
  def ivfTrain(emb: DataFrame, k: Int, iters: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    // quantized vectors are read by every Lloyd round — cache across
    // iterations (the MLlib pattern), release before returning
    val q = Partitioning.fanOut(emb)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("qv"))
      .cache()
    // seeds: the k smallest ids, COLLECTED (k×dims — the model-small
    // precedent this file uses everywhere) instead of a TakeOrdered +
    // window subplan. The rows provide `dims` for the fused Lloyd
    // update for free, and round 1's broadcast builds from a
    // LocalTableScan instead of re-planning the seed subtree — two
    // fewer jobs per train call, identical seed set and order.
    val seedRows = q.orderBy(col("__id")).limit(k).collect()
    val dims = seedRows.headOption.map(_.getSeq[Long](1).length).getOrElse(1)
    val seeds = seedRows.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](1)) }.toSeq
    val trained = lloydRounds(q, seeds, iters, dims)
    q.unpersist()
    // centroids are k×dims values on the driver (the k-means model IS
    // driver-small by construction) — downstream broadcast reuse never
    // replays the Lloyd lineage
    centroidFrame(spark, trained)
  }

  /** `iters` Lloyd assign+update rounds from an explicit seed frame —
    * the shared engine behind [[ivfTrain]] (min-id seeds) and
    * [[ivfTrainPP]] (k-means|| seeds). The centroid update is ONE
    * map-side-combinable aggregation of per-dim sums (k rows ×
    * (dims+1) longs of aggregate state) instead of the posexplode →
    * (cell, dim) shuffle → (cell) collect_list re-shuffle — guide
    * §2.3/§2.4: per round one exchange of k×(dims+1) longs replaces
    * two exchanges, one of them carrying n×dims exploded rows. Same
    * exact integers: count is per cell either way (every vector
    * carries all dims), floor(Σv/n) unchanged, and the generated
    * array is in dim order like the sorted collect_list was. */
  private def lloydRounds(q: DataFrame, seeds: Seq[(Long, Seq[Long])], iters: Int,
                          dims: Int): Seq[(Long, Seq[Long])] = {
    // Per-round DRIVER materialization of the k×dims centroids (the
    // model-small precedent — [[ivfTrainPP]] already collects its
    // candidate set every round, and the final centroids are collected
    // anyway): each round is ONE job — the narrow nearest_cell
    // assignment plus the fused per-dim-sum update aggregation over
    // the cached vectors — instead of a nested
    // crossJoin/SortAggregate/broadcast chain that AQE re-plans and
    // schedules per level. Values are identical: the collected rows
    // ARE the round's exact aggregation output, sorted by cell for a
    // deterministic table. */
    (1 to iters).foldLeft(seeds) { (cents, _) =>
      assignCellsLocal(q, cents).groupBy(col("cell"))
        .agg(count(lit(1)).as("__n"),
          (0 until dims).map(i => sum(col("qv")(i)).as(s"__s$i")): _*)
        .select(col("cell"),
          array((0 until dims).map(i =>
            floor(col(s"__s$i") / col("__n")).cast("long")): _*).as("cv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
    }
  }

  /** (cell, cv) driver rows → the canonical centroid frame. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
                            rows: Seq[(Long, Seq[Long])]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false), nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (c, v) => org.apache.spark.sql.Row(c, v) }, 1), schema)
  }

  /** Deterministic k-means|| initialization (Bahmani et al., VLDB
    * 2012) + Lloyd refinement — the scalable seeding that replaces
    * [[ivfTrain]]'s min-id seeds when cluster quality matters: min-id
    * seeding degrades when ids correlate with content (ingest order
    * usually does), while k-means|| oversamples points proportional to
    * their squared distance from the current seed set, in O(rounds)
    * passes instead of k-means++'s k sequential passes.
    *
    * Determinism contract (the repo-wide one): NO RNG. The coin for
    * "keep x with probability min(1, l·d²(x)/Σd²)" is a 32-bit
    * md5-derived uniform u = hexslice(md5("pp&lt;round&gt;|" + id)), kept
    * iff u·Σd² &lt; l·2³²·d²(x) — every quantity an exact integer
    * (quantized vectors), the products evaluated in DECIMAL(38)
    * (HUGEINT on the DuckDB twin), so both engines pick identical
    * candidate sets. Candidate reduction to k is greedy by
    * (assignment-count desc, id) — deterministic, no weighted-++ coin
    * chain.
    *
    * Scale shape: per round one broadcast of the (driver-small)
    * candidate set against the never-shuffled embedding scan + one
    * map-side-combinable min per vector; candidates collected per
    * round are ~l in expectation (model-small by construction —
    * documented crash-loudly bound below). Lloyd rounds are
    * [[lloydRounds]]. */
  def ivfTrainPP(emb: DataFrame, k: Int, l: Int, rounds: Int, iters: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import graft.functions.HexSliceLong.hex_slice_long
    val q = Partitioning.fanOut(emb)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("qv"))
      .cache()
    val candSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cand_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false), nullable = false)))
    def candDf(cands: Seq[(Long, Seq[Long])]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          cands.map { case (id, v) => org.apache.spark.sql.Row(id, v) }, 1), candSchema)
    // full ‖v−c‖² (not the rank-only csq−2v·c): the coin inequality
    // compares d² VALUES across engines, so both must compute the
    // same exact integer
    def d2min(cands: Seq[(Long, Seq[Long])]): DataFrame =
      q.crossJoin(broadcast(candDf(cands)))
        .withColumn("dd", (dot(col("qv"), col("qv")) - lit(2d) * dot(col("qv"), col("cv"))
          + dot(col("cv"), col("cv"))).cast("long"))
        .groupBy(col("__id")).agg(min(col("dd")).as("d2"))
    // seed: the min-id vector (deterministic stand-in for the uniform
    // random first seed)
    var cands: Seq[(Long, Seq[Long])] =
      q.orderBy(col("__id")).limit(1).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val dec = "decimal(20,0)"
    for (r <- 1 to rounds) {
      // the per-round d² frame feeds TWO actions (the Σd² scalar and
      // the coin-filtered candidate collect) — materialize it once
      // (localCheckpoint, released at end of round: the
      // connectedComponents loop discipline) instead of re-paying the
      // crossJoin + per-id min aggregation for each action (guide §5:
      // reuse beats recompute when the recompute is a full pass)
      val d2 = d2min(cands).localCheckpoint()
      try {
        val sumD2 = d2.agg(coalesce(sum(col("d2")), lit(0L))).head().getLong(0)
        if (sumD2 > 0) {
          val u = hex_slice_long(
            md5(concat(lit(s"pp$r|"), col("__id").cast("string")).cast("binary")), 0)
          val sel = q.join(d2, "__id")
            .filter(u.cast(dec) * lit(sumD2).cast(dec) <
              col("d2").cast(dec) * lit(l * 4294967296L).cast(dec))
            .select(col("__id"), col("qv")).collect()
            .map(r0 => (r0.getLong(0), r0.getSeq[Long](1)))
          val known = cands.map(_._1).toSet
          cands = cands ++ sel.filterNot(c => known(c._1)).sortBy(_._1)
          // the oversample is l·d²-proportional: expected ~l per round.
          // A corpus engineered to pass the coin everywhere would make
          // the "model" data-sized — refuse loudly rather than OOM the
          // driver.
          require(cands.size <= math.max(64, 16 * l * rounds),
            s"k-means|| oversample exploded to ${cands.size} candidates")
        }
      } finally Caching.releaseLocalCheckpoints(d2)
    }
    // weight candidates by assignment count (ties toward smaller
    // cand_id), then greedy top-k by (weight desc, id). The argmin is
    // the narrow nearest_cell scan (cell := cand_id): ‖v‖² is
    // per-vector constant, so ranking by ‖c‖² − 2v·c equals ranking by
    // the old full ‖v−c‖², and the ascending-id strict-improvement
    // scan IS the (dd, cand_id) struct-min tie-break — which
    // previously planned a SortAggregate over n×|cands| crossJoin rows
    val wts: Map[Long, Long] =
      assignCellsLocal(q, cands)
        .groupBy(col("cell").as("cand_id")).agg(count(lit(1)).as("wt"))
        .collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap
    val chosen = cands
      .map { case (id, v) => (id, v, wts.getOrElse(id, 0L)) }
      .sortBy { case (id, _, wt) => (-wt, id) }
      .take(k)
    val seeds = chosen.zipWithIndex.map { case ((_, v, _), i) => (i.toLong, v) }
    val trained = lloydRounds(q, seeds, iters,
      cands.headOption.map(_._2.length).getOrElse(1))
    q.unpersist()
    centroidFrame(spark, trained)
  }

  /** Nearest-centroid assignment: argmin over k of ‖v−c‖² via the
    * dot-product identity ‖v−c‖² = ‖v‖² − 2v·c + ‖c‖² — ‖v‖² is
    * constant per vector, so the argmin needs only ‖c‖² − 2v·c.
    * NARROW since the round-9 optimization: the centroid table is
    * model-small (every trainer collects it), so assignment is the
    * per-row [[graft.functions.NearestCell]] expression against a
    * foldable centroid literal — zero exchange, zero aggregate. The
    * previous crossJoin(broadcast) + min(struct(s, cell, qv)) form
    * planned a SORTAGGREGATE (struct-typed buffers are not
    * hash-aggregable): a per-partition sort of n×k rows per call.
    * Same argmin, same tie-break (ascending-cell scan with strict
    * improvement ≡ the struct min), bit-equal values (exact
    * integers). Rows with no candidate (empty table) are filtered —
    * the old join dropped them identically. */
  private def assignCells(q: DataFrame, cents: DataFrame): DataFrame =
    assignCellsLocal(q,
      cents.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq)

  /** [[assignCells]] from driver-side centroid rows (cell, cv) —
    * skips the collect when the caller already holds them. */
  private def assignCellsLocal(q: DataFrame, cents: Seq[(Long, Seq[Long])]): DataFrame = {
    q.withColumn("cell",
        nearestCellCol(lit(0L), col("qv"), cents.map(c => (0L, c._1, c._2))))
      .filter(col("cell").isNotNull)
      .select(col("__id"), col("cell"), col("qv"))
  }

  /** Foldable centroid-table literal for [[graft.functions.NearestCell]]:
    * array<struct<sub, cell, cv>> as ONE pre-evaluated Literal node
    * (`typedlit`) built from driver rows — the previous
    * CreateArray/CreateStruct tree put k×(dims+2) expression nodes in
    * the plan, so analyzer/optimizer cost grew linearly in k·dims per
    * Lloyd round. Struct field access in [[graft.functions.NearestCell]]
    * is positional, so the tuple field names are irrelevant. */
  private def centsLit(rows: Seq[(Long, Long, Seq[Long])]): Column =
    if (rows.isEmpty)
      lit(null).cast("array<struct<sub:bigint,cell:bigint,cv:array<bigint>>>")
    else typedlit(rows.map { case (s, cell, cv) => (s, cell, cv) })

  /** The assignment argmin column: the centroid table rides the plan
    * as a foldable literal, shipped with every task. Every model the
    * suite trains is k≤256 × dims≤64 ≈ 2¹⁴ longs; a model far larger
    * than that (k ~ 2¹⁶ at high dims) would want a broadcast with a
    * managed lifetime instead. */
  private def nearestCellCol(sub: Column, vec: Column,
                             rows: Seq[(Long, Long, Seq[Long])]): Column =
    graft.functions.NearestCell.nearest_cell(sub, vec, centsLit(rows))

  /** Final cell assignment under trained centroids: (id, cell). */
  def ivfAssign(emb: DataFrame, cents: DataFrame,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = Partitioning.fanOut(emb)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("qv"))
    assignCells(q, cents).select(col("__id").as(idCol), col("cell"))
  }

  /** Multi-probe IVF ANN — the recall/cost dial of a production IVF
    * index: candidates live in exactly ONE cell, but each query probes
    * its `nprobe` NEAREST trained cells (nprobe=1 scores only the
    * query's own cell; nprobe=#cells degrades to brute force).
    * Probe selection ranks centroid distances in the same quantized
    * space as [[ivfAssign]] (ties toward the smaller cell), so probe 1
    * is always the query's own cell. Scale shape unchanged: centroids
    * broadcast, the probe set is queries×nprobe rows (still
    * broadcast-small), and the cell equi-join remains the only
    * candidate-side shuffle — each candidate is scored at most once
    * per query because cells are disjoint. */
  def ivfTopKProbes(queries: DataFrame, candidates: DataFrame, k: Int,
                    cents: DataFrame, nprobe: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val c = cents.withColumn("__csq", dot(col("cv"), col("cv")))
    val probes = Partitioning.fanOut(queries)
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("__qqv"))
      .crossJoin(broadcast(c))
      .withColumn("__s", col("__csq") - lit(2d) * dot(col("__qqv"), col("cv")))
      .select(col("query_id"), col("cell"), col("__s"))
    val probeSet = Relational.topNPerGroup(probes, Seq(col("query_id")),
        Seq(col("__s"), col("cell")), nprobe, rankCol = "__rn")
      .select(col("query_id"), col("cell"))
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("__n2").as("qn2"))
      .join(probeSet, "query_id")
      .select(col("query_id"), col("qv"), col("qn2"), col("cell").as("__qcell"))
    val cand = candidates.join(ivfAssign(candidates, cents, idCol, vecCol), idCol)
    val cc = withNorm(cand, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("__n2").as("cn2"),
        col("cell").as("__ccell"))
    val scored = cc.join(broadcast(q),
        col("__qcell") === col("__ccell") && col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosFromParts(dot(col("qv"), col("cv")), col("qn2"), col("cn2")))
      .select(col("query_id"), col("cand_id"), col("cos"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("cand_id")), k, rankCol = "rank")
  }

  /** Centroids as (cell, dim, centroid_q) rows — the inspectable /
    * oracle-comparable form. */
  def ivfCentroidRows(cents: DataFrame): DataFrame =
    cents.select(col("cell"), posexplode(col("cv")).as(Seq("dim", "cq")))
      .select(col("cell"), col("dim").cast("long").as("dim"), col("cq").as("centroid_q"))

  /** Embedding near-duplicate pairs: block on the coarse cell, score
    * all intra-cell pairs, keep cos ≥ threshold. Blocking keeps the
    * pair count at cells×(cell_size²) instead of N². */
  def nearDupPairs(emb: DataFrame, cellCol: String, minCos: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = withNorm(emb, vecCol)
    val a = base.select(col(idCol).as("id_a"), col(vecCol).as("va"),
      col("__n2").as("na"), col(cellCol).as("cell"))
    val b = base.select(col(idCol).as("id_b"), col(vecCol).as("vb"),
      col("__n2").as("nb"), col(cellCol).as("__bcell"))
    a.join(b, col("cell") === col("__bcell") && col("id_a") < col("id_b"))
      .withColumn("cos", cosFromParts(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cell"), col("cos"))
  }

  /** Stored IVF-FLAT index (faiss IndexIVFFlat's layout): trained
    * coarse centroids + the cell-assigned FULL-PRECISION embeddings
    * with precomputed squared norms. Where [[AnnIndex]] trades
    * exactness for 1/16th the bytes (PQ codes), this keeps the floats
    * so probed-cell scoring is EXACT cosine — the index for semantic
    * DUP VERDICTS, where a threshold must not carry a reconstruction
    * error budget. Serving shape: centroids broadcast for probe
    * selection, the cell table is the only big side and it never
    * shuffles (probe set joins into it broadcast). */
  final case class IvfFlatIndex(centroids: DataFrame, cells: DataFrame)

  def ivfFlatBuild(emb: DataFrame, k: Int, iters: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): IvfFlatIndex = {
    val cents = ivfTrain(emb, k, iters, idCol, vecCol)
    val cells = withNorm(emb.join(ivfAssign(emb, cents, idCol, vecCol), idCol), vecCol)
      .select(col(idCol), col("cell"), col(vecCol), col("__n2").as("n2"))
    IvfFlatIndex(cents, cells)
  }

  /** Cells first, centroids LAST — centroids existing implies the
    * index is complete (the [[writeAnnIndex]] crash-ordering rule).
    * `cells/` is partitioned by a `seg`(ment) column and the build
    * lands in seg=base. */
  def writeIvfFlatIndex(index: IvfFlatIndex, dir: String): Unit = {
    index.cells.withColumn("seg", lit("base"))
      .write.mode("overwrite").partitionBy("seg").parquet(s"$dir/cells")
    index.centroids.coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  def readIvfFlatIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String): IvfFlatIndex = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val cols = spark.read.parquet(s"$dir/cells")
      .columns.filter(_ != "seg").map(col)
    IvfFlatIndex(cents, spark.read.parquet(s"$dir/cells").select(cols.toSeq: _*))
  }

  /** Exact cosine of each query against every vector in its `nprobe`
    * nearest stored cells (self-matches excluded) — the scoring core
    * shared by [[ivfFlatTopK]] and the threshold probes. Identical
    * semantics to [[ivfTopKProbes]]' scored frame, served from the
    * stored index: probe selection ranks quantized centroid distances
    * with the [[ivfAssign]] tie-break, and because the stored cells
    * were assigned under the SAME centroids, stored serving ≡ the
    * in-memory pipeline (the oracle-shared law). */
  def ivfFlatScore(queries: DataFrame, index: IvfFlatIndex, nprobe: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val c = index.centroids.withColumn("__csq", dot(col("cv"), col("cv")))
    val probes = Partitioning.fanOut(queries)
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("__qqv"))
      .crossJoin(broadcast(c))
      .withColumn("__s", col("__csq") - lit(2d) * dot(col("__qqv"), col("cv")))
      .select(col("query_id"), col("cell"), col("__s"))
    val probeSet = Relational.topNPerGroup(probes, Seq(col("query_id")),
        Seq(col("__s"), col("cell")), nprobe, rankCol = "__rn")
      .select(col("query_id"), col("cell"))
    val q = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("__n2").as("qn2"))
      .join(probeSet, "query_id")
      .select(col("query_id"), col("qv"), col("qn2"), col("cell").as("__qcell"))
    index.cells
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"),
        col("n2").as("cn2"), col("cell").as("__ccell"))
      .join(broadcast(q),
        col("__qcell") === col("__ccell") && col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosFromParts(dot(col("qv"), col("cv")), col("qn2"), col("cn2")))
      .select(col("query_id"), col("cand_id"), col("cos"))
  }

  /** Top-k serving off the stored flat index — zero training, exact
    * scores. nprobe = #cells recovers brute force. */
  def ivfFlatTopK(queries: DataFrame, index: IvfFlatIndex, k: Int, nprobe: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    Relational.topNPerGroup(ivfFlatScore(queries, index, nprobe, idCol, vecCol),
      Seq(col("query_id")), Seq(col("cos").desc, col("cand_id")), k, rankCol = "rank")

  /** Recall-vs-nprobe curve for the stored flat index — the
    * [[dimRecall]] pattern on the IVF probe dial: per (nprobe, query),
    * |probed top-k ∩ brute-force top-k| / k in permille, so the
    * recall/cost trade of every probe setting is measured in ONE
    * frame (queries the probe missed entirely appear at 0 via the
    * truth-side join). nprobe = #cells must read 1000 everywhere —
    * the dial's closed end, spec-pinned. Scale: truth and each probe
    * pass are the serving shapes themselves; the final join keys on
    * (nprobe, query, cand) — (queries × k × |nprobes|)-sized. */
  def nprobeRecall(queries: DataFrame, index: IvfFlatIndex, k: Int,
                   nprobes: Seq[Int], idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(nprobes.nonEmpty, "need at least one nprobe setting")
    val truth = bruteForceTopK(queries,
        index.cells.select(col(idCol), col(vecCol)), k, idCol, vecCol)
      .select(col("query_id"), col("cand_id"))
    val approx = nprobes.map(np =>
      ivfFlatTopK(queries, index, k, np, idCol, vecCol)
        .select(lit(np).as("nprobe"), col("query_id"), col("cand_id")))
      .reduce(_ unionByName _)
    val base = truth.select(col("query_id")).distinct()
      .withColumn("nprobe", explode(array(nprobes.map(lit): _*)))
    val hits = truth.join(approx, Seq("query_id", "cand_id"))
      .groupBy(col("nprobe"), col("query_id")).agg(count(lit(1)).as("n_hits"))
    base.join(hits, Seq("nprobe", "query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_permille",
        floor(col("n_hits") * 1000 / lit(k.toLong)).cast("long"))
      .select(col("nprobe"), col("query_id"), col("n_hits"), col("recall_permille"))
  }

  /** Per-vector symmetric int8 scalar quantization: the candidate side
    * of a 100 TB ANN index at 1/4 the bytes of float32 (the difference
    * between an index that fits executor storage and one that
    * doesn't). code_i = ⌊fixed(x_i)·127 / amax⌋ where amax =
    * max|fixed(x_i)| — all integer-exact (see [[quantize]]), so codes
    * are bit-identical across engines; the zero vector quantizes to
    * all-zero codes. Narrow, one pass, no shuffle. Returns
    * (id, codes: array<tinyint>, amax, csq = Σcode²). */
  /** Semantic decontamination: flag TRAINING vectors whose cosine to
    * any BENCHMARK vector reaches `minCos` — the embedding-space
    * complement of n-gram decontamination
    * ([[Corpus]]' `decontaminate`): paraphrased benchmark leakage
    * shares no 13-gram but sits on top of the test point in embedding
    * space. Cross-set twin of [[nearDupPairs]]: same cell-blocked
    * equi-join (never all-pairs), but train×test instead of self, and
    * aggregated to ONE verdict row per contaminated train vector
    * (hit count + worst cosine). At 100 TB the benchmark side is
    * small and this degenerates to a broadcast; the cell block keeps
    * even a large held-out side collision-bounded. */
  def semanticDecontaminate(train: DataFrame, test: DataFrame, minCos: Double,
                            cellCol: String, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val a = withNorm(train, vecCol).select(col(idCol).as("train_id"),
      col(vecCol).as("va"), col("__n2").as("na"), col(cellCol).as("cell"))
    val b = withNorm(test, vecCol).select(col(idCol).as("test_id"),
      col(vecCol).as("vb"), col("__n2").as("nb"), col(cellCol).as("__bcell"))
    a.join(b, col("cell") === col("__bcell"))
      .withColumn("cos", cosFromParts(dot(col("va"), col("vb")), col("na"), col("nb")))
      .filter(col("cos") >= minCos)
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("cos")).as("max_cos"))
  }

  def sq8Quantize(emb: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    Partitioning.fanOut(emb)
      .withColumn("__qv", quantize(col(vecCol)))
      .withColumn("amax", array_max(transform(col("__qv"), x => abs(x))))
      .withColumn("codes",
        when(col("amax") === 0, transform(col("__qv"), _ => lit(0L)))
          .otherwise(transform(col("__qv"), x => floor(x * 127 / col("amax")))))
      .withColumn("csq", dot(col("codes"), col("codes")).cast("long"))
      .select(col(idCol), col("codes").cast("array<tinyint>").as("codes"),
        col("amax"), col("csq"))
  }

  /** Asymmetric-distance ANN over int8 codes: queries stay full
    * precision, candidates are scored via their codes only — the
    * candidate's dequantization scale cancels out of the cosine
    * (cos ∝ Σq·code / √(Σcode² · Σq²)), so scoring never touches the
    * original floats. Same broadcast shape as [[bruteForceTopK]];
    * zero vectors are excluded from scoring (cosine undefined, and
    * engines disagree on NULL ordering). */
  def sq8TopK(queries: DataFrame, candidates: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = Partitioning.fanOut(queries)
      .select(col(idCol).as("query_id"), quantize(col(vecCol)).as("__qqv"))
      .withColumn("qn2", dot(col("__qqv"), col("__qqv")))
      .filter(col("qn2") > 0)
    val c = sq8Quantize(candidates, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col("codes"), col("csq"))
      .filter(col("csq") > 0)
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("cos",
        round(dot(col("__qqv"), col("codes")) / sqrt(col("csq") * col("qn2")), 4))
      .select(col("query_id"), col("cand_id"), col("cos"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("cos").desc, col("cand_id")), k, rankCol = "rank")
  }

  // ───────────── Binary (1-bit) quantization — the Hamming path ─────────────

  /** Per-dimension sign thresholds for binary quantization: bit i of a
    * code is set iff fixed(xᵢ)·N > Σ fixed(xᵢ) — strictly above the
    * corpus mean of that dimension, compared in exact integers (no
    * division, so the threshold is engine-exact). One output row per
    * dimension: (pos, s = Σ, n = N, word = pos/32, w = the bit's mask
    * 2^(31 − pos mod 32)) — 32 bits per packed word keeps every mask
    * positive, so packing is a plain SUM of distinct powers on both
    * engines (no sign-bit shifts, which DuckDB rejects outright).
    * Model-small by construction: dims rows off one narrow scan. */
  def binaryThresholds(emb: DataFrame, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    Partitioning.fanOut(emb)
      .select(posexplode(quantize(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
      .withColumn("word", floor(col("pos") / 32).cast("long"))
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), CAST(31 - pos % 32 AS INT))"))
  }

  /** Pack each vector into ⌈dims/32⌉ sign-bit words against trained
    * [[binaryThresholds]]: 64 float dims → 8 bytes of code — the
    * 32× compression point of the quantization family (float32 →
    * SQ8's 4× → PQ's codebook bytes → 1 bit/dim), and the cheapest
    * serving arithmetic there is (XOR + popcount). Shape: posexplode
    * → broadcast threshold join (dims rows) → two bounded
    * aggregations back to vector grain; at 100 TB the corpus scan
    * stays narrow and the only exchange is the id-grain re-pack. */
  def binaryCodes(emb: DataFrame, thr: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    Partitioning.fanOut(emb)
      .select(col(idCol), posexplode(quantize(col(vecCol))).as(Seq("pos", "x")))
      .join(broadcast(thr), "pos")
      .groupBy(col(idCol), col("word"))
      // one bit per pos and the masks are distinct powers of two, so
      // SUM is exactly the bitwise OR (and stays below 2³² per word)
      .agg(sum(when(col("x") * col("n") > col("s"), col("w")).otherwise(lit(0L))).as("wv"))
      .groupBy(col(idCol))
      .agg(transform(sort_array(collect_list(struct(col("word"), col("wv")))),
        p => p.getField("wv")).as("code"))

  /** Binary-quantized ANN: Hamming-distance shortlist over packed
    * sign-bit codes (native `hamming_words` — XOR + popcount inside
    * whole-stage codegen), then exact cosine re-rank of the top
    * k·`rerankFactor` — the standard recall rescue for 1-bit codes.
    * Thresholds are trained on the CANDIDATE corpus; queries pack
    * against the same thresholds (asymmetry would shift bits).
    * Same broadcast shape as [[bruteForceTopK]], but the scoring
    * join ships 8-byte codes instead of 256-byte float vectors and
    * the inner loop is two XOR+popcounts per pair; only the shortlist
    * (k·r rows per query) ever touches the original vectors again. */
  def binaryTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                 rerankFactor: Int = 4, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    import graft.functions.HammingWords.hamming_words
    val thr = binaryThresholds(candidates, idCol, vecCol)
    val qc = binaryCodes(queries, thr, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("code").as("qc"))
    val cc = binaryCodes(candidates, thr, idCol, vecCol)
      .select(col(idCol).as("cand_id"), col("code").as("cc"))
    val scored = cc.join(broadcast(qc), col("query_id") =!= col("cand_id"))
      .withColumn("ham", hamming_words(col("qc"), col("cc")))
      .select(col("query_id"), col("cand_id"), col("ham"))
    val short = Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("ham"), col("cand_id")), k * rerankFactor, rankCol = "__hrank")
    val qv = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("__n2").as("qn2"))
    val cv = withNorm(candidates, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("__n2").as("cn2"))
    val rr = short.join(broadcast(qv), "query_id").join(cv, "cand_id")
      .withColumn("cos", cosFromParts(dot(col("qv"), col("cv")), col("qn2"), col("cn2")))
      .select(col("query_id"), col("cand_id"), col("ham"), col("cos"))
    Relational.topNPerGroup(rr, Seq(col("query_id")),
      Seq(col("cos").desc, col("cand_id")), k, rankCol = "rank")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    * every vector to its nearest TRAINED centroid ([[ivfAssign]]),
    * generate intra-cell cosine pairs ([[nearDupPairs]]), and drop
    * every vector that has a semantically-near neighbor with a smaller
    * id — one deterministic representative survives per near-dup
    * relation. Unlike text dedup this removes *paraphrase-level*
    * duplicates: same meaning, different tokens.
    *
    * Scale shape: the clustering IS the blocking — pair cost is
    * Σ cell_size², never N², and the cell equi-join is the only
    * candidate-side shuffle (identical to the 100 TB IVF index
    * layout). Returns survivors with their cell assignment. */
  def semanticDedup(emb: DataFrame, cents: DataFrame, minCos: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cells = emb.join(ivfAssign(emb, cents, idCol, vecCol), idCol)
    val losers = nearDupPairs(cells, "cell", minCos, idCol, vecCol)
      .select(col("id_b").as(idCol)).distinct()
    cells.join(losers, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell"))
  }

  // ───────────── Product quantization (the faiss PQ path) ─────────────

  /** Per-vector quantized subvectors: one row per (id, subspace),
    * subspaces are contiguous `dims/m` slices. The frame every PQ
    * stage shares. */
  private def subvectors(emb: DataFrame, m: Int,
                         idCol: String, vecCol: String): DataFrame =
    subvectorsOf(Partitioning.fanOut(emb)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("qv")), m)

  /** [[subvectors]] over an ALREADY-quantized `(__id, qv)` frame — the
    * entry point residual PQ uses (residuals are exact long
    * differences of quantized values; re-quantizing would scale them
    * a second time). */
  private def subvectorsOf(q0: DataFrame, m: Int): DataFrame = {
    val dims = q0.select(size(col("qv"))).head().getInt(0)
    require(dims % m == 0, s"dims=$dims not divisible by m=$m subspaces")
    val sd = dims / m
    q0.select(col("__id"),
        explode(array((0 until m).map(s =>
          struct(lit(s.toLong).as("sub"),
            slice(col("qv"), s * sd + 1, sd).as("sqv"))): _*)).as("x"))
      .select(col("__id"), col("x.sub").as("sub"), col("x.sqv").as("sqv"))
  }

  /** (id, sub) → nearest codebook cell within its subspace. Codebook
    * (m×k rows, model-small) is collected and scanned by the narrow
    * nearest_cell expression (score csq − 2·dot, monotone-equal to the
    * squared distance, ties toward the smaller cell) — identical
    * values and tie-break to [[assignCells]] per subspace, no join, no
    * aggregate. */
  private def assignPq(sub: DataFrame, codebook: DataFrame): DataFrame =
    assignPqLocal(sub,
      codebook.collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSeq)

  /** Product-quantization codebook: `m` INDEPENDENT quantized k-means
    * (one per contiguous dim subspace) trained as a single frame keyed
    * by subspace — every Lloyd round is one broadcast of the m×k
    * codebook, a map-side-combinable min per (vector, subspace), and a
    * (sub, cell, dim) shuffle bounded by m×k×(dims/m) = k×dims rows.
    * Same determinism contract as [[ivfTrain]] (no RNG: seeds are the
    * k smallest ids per subspace; all arithmetic exact fixed-point).
    * Returns (sub, cell, cv); the codebook is m×k×(dims/m) values —
    * driver-materialized like the k-means centroids. */
  def pqTrain(emb: DataFrame, m: Int, k: Int, iters: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    pqTrainSub(subvectors(emb, m, idCol, vecCol), k, iters)
  }

  /** The Lloyd chain of [[pqTrain]] over a prepared `(__id, sub, sqv)`
    * subvector frame — shared by the raw path and the residual path. */
  private def pqTrainSub(subIn: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = subIn.sparkSession
    val sub = subIn.cache()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub")).orderBy(col("__id"))
    // seeds collected once (m×k rows — model-small); rounds then run
    // with narrow nearest_cell assignment + the fused per-dim-sum
    // update, one exchange and one job per round (the [[lloydRounds]]
    // shape applied per subspace — see its scaladoc)
    val seeds = sub.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("sub"), (col("rn") - 1).cast("long").as("cell"), col("sqv").as("cv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    val sd = seeds.headOption.map(_._3.length).getOrElse(1)
    val trained = (1 to iters).foldLeft(seeds) { (book, _) =>
      assignPqLocal(sub, book)
        .groupBy(col("sub"), col("cell"))
        .agg(count(lit(1)).as("__n"),
          (0 until sd).map(i => sum(col("sqv")(i)).as(s"__s$i")): _*)
        .select(col("sub"), col("cell"),
          array((0 until sd).map(i =>
            floor(col(s"__s$i") / col("__n")).cast("long")): _*).as("cv"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
        .toSeq.sortBy(t => (t._1, t._2))
    }
    sub.unpersist()
    codebookFrame(spark, trained)
  }

  /** (sub, cell, cv) driver rows → the canonical codebook frame. */
  private def codebookFrame(spark: org.apache.spark.sql.SparkSession,
                            rows: Seq[(Long, Long, Seq[Long])]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sub",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false), nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (s, c, v) => org.apache.spark.sql.Row(s, c, v) }, 1), schema)
  }

  /** [[assignPq]] from driver-side codebook rows (sub, cell, cv) —
    * the narrow nearest_cell form per subspace. */
  private def assignPqLocal(sub: DataFrame, book: Seq[(Long, Long, Seq[Long])]): DataFrame = {
    sub.withColumn("cell", nearestCellCol(col("sub"), col("sqv"), book))
      .filter(col("cell").isNotNull)
      .select(col("__id"), col("sub"), col("cell"), col("sqv"))
  }

  /** PQ codes per vector: `codes[s]` = nearest cell in subspace s.
    * dims×8 bytes of float become m small ints — the compression that
    * keeps a 100 TB ANN index in memory. */
  def pqEncode(emb: DataFrame, codebook: DataFrame,
               m: Int, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    pqEncodeSub(subvectors(emb, m, idCol, vecCol), codebook)
      .withColumnRenamed("__id", idCol)

  /** Code assembly of [[pqEncode]] over a prepared subvector frame:
    * `(__id, codes)` — shared by the raw and residual paths. */
  private def pqEncodeSub(sub: DataFrame, codebook: DataFrame): DataFrame =
    assignPq(sub, codebook)
      .groupBy(col("__id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cell")))),
        x => x.getField("cell")).as("codes"))
      .select(col("__id"), col("codes"))

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds
    * a (sub, cell) → partial-squared-distance table against the
    * codebook (queries×m×k rows — broadcast), candidates are scored by
    * LOOKUP on their m codes and one sum — candidate vectors are never
    * read, only their codes. Distances are exact integers (quantized
    * query vs quantized centroids), so ranking is engine-stable. */
  def pqTopK(queries: DataFrame, codes: DataFrame, codebook: DataFrame,
             m: Int, k: Int, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val cexp = codes.select(col(idCol).as("cand_id"),
      posexplode(col("codes")).as(Seq("csub", "code")))
    val scored = cexp
      .join(broadcast(adcTable(queries, codebook, m, idCol, vecCol)),
        col("csub").cast("long") === col("sub") && col("code") === col("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("d")).as("adc"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("adc"), col("cand_id")), k, rankCol = "rnk")
      .select(col("query_id"), col("cand_id"), col("rnk").cast("long").as("rnk"), col("adc"))
  }

  /** Per-query ADC distance table: (query_id, sub, cell) → partial
    * squared distance. queries×m×k rows — always broadcast-sized. */
  private def adcTable(queries: DataFrame, codebook: DataFrame, m: Int,
                       idCol: String, vecCol: String): DataFrame =
    subvectors(queries, m, idCol, vecCol)
      .select(col("__id").as("query_id"), col("sub"), col("sqv"))
      .join(broadcast(codebook), "sub")
      .withColumn("d",
        (dot(col("sqv"), col("sqv")) - lit(2d) * dot(col("sqv"), col("cv")) +
          dot(col("cv"), col("cv"))).cast("long"))
      .select(col("query_id"), col("sub"), col("cell"), col("d"))

  /** IVF-ADC — the faiss IVFPQ composite, the actual layout of a
    * production trillion-vector index: a coarse quantizer prunes
    * candidates to the query's cell, and WITHIN the cell candidates
    * are scored by ADC over their PQ codes. Both models broadcast
    * (coarse k×dims centroids; PQ m×k codebook; per-query distance
    * tables); the candidate side is touched twice — once to encode
    * (amortized: codes are stored in production), once through the
    * cell+code equi-join — and its full vectors are never read at
    * query time. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame,
                coarse: DataFrame, codebook: DataFrame, m: Int, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqScore(queries, annEncode(candidates, AnnModel(coarse, codebook, m),
      idCol, vecCol), coarse, codebook, m, k, idCol, vecCol)

  /** PQ codes from an ALREADY-ASSIGNED quantized frame
    * (`__id`, cell, qv): inline subvector explode carrying the coarse
    * cell, per-subspace argmin against the broadcast codebook, codes
    * assembled in sub order. This is [[annEncode]]'s whole
    * candidate-side cost in ONE pass over the vectors — the previous
    * shape paid a SECOND quantize scan (pqEncode) plus an id join of
    * the two halves (guide §2.4: two operations keyed the same way
    * share one pass; the join disappears because the coarse cell rides
    * the groupBy key, on which it is functionally dependent). Argmin
    * struct ordering and the sub-sorted code assembly are identical to
    * [[assignPq]]/[[pqEncodeSub]], so codes are bit-equal. Subspace
    * width comes off the codebook row ([[ivfPqResidualScore]]'s
    * precedent) — model-small, no data-sized job. */
  private def pqCodesWithCell(withCell: DataFrame, codebook: DataFrame,
                              m: Int): DataFrame = {
    // codebook is model-small (m×k rows) — collected once; each
    // subvector's code is then the NARROW nearest_cell argmin, so the
    // only non-narrow step left in encoding is the per-id code
    // assembly aggregate
    val book = codebook.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSeq
    val sd = book.headOption.map(_._3.length).getOrElse(1)
    withCell.select(col("__id"), col("cell").as("__ccell"),
        explode(array((0 until m).map(s =>
          struct(lit(s.toLong).as("sub"),
            slice(col("qv"), s * sd + 1, sd).as("sqv"))): _*)).as("x"))
      .select(col("__id"), col("__ccell"), col("x.sub").as("sub"), col("x.sqv").as("sqv"))
      .withColumn("code", nearestCellCol(col("sub"), col("sqv"), book))
      .filter(col("code").isNotNull)
      .groupBy(col("__id"), col("__ccell"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code").as("cell")))),
        x => x.getField("cell")).as("codes"))
      .select(col("__id"), col("__ccell").as("cell"), col("codes"))
  }

  /** Subspace width off the codebook row (model-small, one 1-row job);
    * an empty codebook is an explicit error instead of a bare
    * NoSuchElementException. */
  private def subWidth(codebook: DataFrame): Int = {
    val head = codebook.select(size(col("cv"))).limit(1).collect()
    require(head.nonEmpty, "empty PQ codebook — train it before scoring")
    head.head.getInt(0)
  }

  /** `v`, failing the query on any row whose width is not `width`
    * (= m·sd): the slices cut from it would otherwise mis-score
    * silently (short slices, min-length dots inside nearest_cell).
    * Checked per row in the projection that quantizes the vector, so a
    * ragged frame fails on every bad row at no extra job. */
  private def widthChecked(v: Column, width: Int): Column =
    when(size(v) =!= width, raise_error(concat(lit("query width "),
      size(v).cast("string"), lit(s" != m*sd = $width (wrong m or codebook)"))))
      .otherwise(v)

  /** The query-time half of IVF-ADC: score `queries` against an
    * ALREADY-ENCODED candidate frame (`idCol`, cell, codes) — what a
    * stored index serves. Only the query side touches raw vectors
    * (assignment + ADC tables, both broadcast-small); candidates
    * contribute their codes through one (cell, code) equi-join. */
  def ivfPqScore(queries: DataFrame, encodedCands: DataFrame,
                 coarse: DataFrame, codebook: DataFrame, m: Int, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // query side in ONE pass (the [[pqCodesWithCell]] discipline): the
    // coarse-cell argmin carries the quantized vector, so the ADC
    // distance table is built from its output directly — the old form
    // paid a second quantize scan (adcTable's subvector pass) plus a
    // query-id join to attach the cell. Still queries×m×k rows.
    val sd = subWidth(codebook)
    val q = Partitioning.fanOut(queries)
      .select(col(idCol).as("__id"), quantize(widthChecked(col(vecCol), m * sd)).as("qv"))
    val cb = codebook.withColumn("__cbsq", dot(col("cv"), col("cv")))
    val dt = assignCells(q, coarse)
      .select(col("__id").as("query_id"), col("cell").as("qcell"),
        explode(array((0 until m).map(s =>
          struct(lit(s.toLong).as("sub"),
            slice(col("qv"), s * sd + 1, sd).as("sqv"))): _*)).as("x"))
      .select(col("query_id"), col("qcell"), col("x.sub").as("sub"), col("x.sqv").as("sqv"))
      .join(broadcast(cb), "sub")
      .withColumn("d",
        (dot(col("sqv"), col("sqv")) - lit(2d) * dot(col("sqv"), col("cv")) +
          col("__cbsq")).cast("long"))
      .select(col("query_id"), col("qcell"), col("sub"), col("cell"), col("d"))
    val cexp = encodedCands.select(col(idCol).as("cand_id"), col("cell").as("ccell"),
      posexplode(col("codes")).as(Seq("csub", "code")))
    val scored = cexp.join(broadcast(dt),
        col("csub").cast("long") === col("sub") && col("code") === col("cell") &&
          col("ccell") === col("qcell"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("d")).as("adc"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("adc"), col("cand_id")), k, rankCol = "rnk")
      .select(col("query_id"), col("cand_id"), col("rnk").cast("long").as("rnk"), col("adc"))
  }

  /** A persistable trained-ANN model set — coarse IVF centroids
    * (k×dims) + PQ codebook (m×k×(dims/m)): a few KB of parquet that
    * turn query serving into pure broadcast-lookup joins. This is the
    * production IVFPQ shape: training runs once per corpus version
    * ([[writeAnnModel]]), queries [[readAnnModel]] and never pay Lloyd
    * iterations again. Mirrors [[Dedup.DedupIndex]]'s parquet
    * round-trip; `m` is RECORDED in the model like `DedupIndex.k` —
    * encoding with a different subspace count than the codebook was
    * trained with would silently score garbage, so consumers read it
    * from the model instead of remembering it. */
  final case class AnnModel(coarse: DataFrame, codebook: DataFrame, m: Int)

  /** Train both quantizers. Coarse `k` cells must grow with the corpus
    * (√n is the usual rule) — see PERF.md's Σcell² discussion. */
  def annTrain(emb: DataFrame, coarseK: Int, m: Int, pqK: Int, iters: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): AnnModel =
    AnnModel(ivfTrain(emb, coarseK, iters, idCol, vecCol),
      pqTrain(emb, m, pqK, iters, idCol, vecCol), m)

  def writeAnnModel(model: AnnModel, dir: String): Unit = {
    model.coarse.write.mode("overwrite").parquet(s"$dir/coarse")
    model.codebook.write.mode("overwrite").parquet(s"$dir/codebook")
    val spark = model.coarse.sparkSession
    import spark.implicits._
    // meta LAST: its existence implies the model dirs are complete
    Seq(model.m).toDF("m").coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  def readAnnModel(spark: org.apache.spark.sql.SparkSession, dir: String): AnnModel =
    AnnModel(
      spark.read.parquet(s"$dir/coarse"),
      spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/meta").head().getInt(0))

  /** The FULL stored IVFPQ index — faiss's on-disk layout: the trained
    * [[AnnModel]] plus the corpus's coarse-cell assignments and PQ
    * codes (`idCol`, cell, codes — m small ints per vector instead of
    * 4·dims bytes). Serving a query never touches the corpus
    * embeddings at all: cost is the query-side broadcasts + one
    * (cell, code) equi-join over the code table. */
  final case class AnnIndex(model: AnnModel, encoded: DataFrame)

  /** Encode vectors against a FROZEN model: coarse-cell assignment +
    * PQ codes, joined on the id — the (id, cell, codes) row shape the
    * stored code table holds. Cost is model broadcasts + one narrow
    * pass over `emb`; used by the full build (over the corpus) and by
    * incremental appends (over a delta only). */
  def annEncode(emb: DataFrame, model: AnnModel,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = Partitioning.fanOut(emb)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("qv"))
    pqCodesWithCell(assignCells(q, model.coarse), model.codebook, model.m)
      .withColumnRenamed("__id", idCol)
  }

  /** Train both quantizers AND encode the corpus. */
  def annIndexBuild(emb: DataFrame, coarseK: Int, m: Int, pqK: Int, iters: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): AnnIndex = {
    val model = annTrain(emb, coarseK, m, pqK, iters, idCol, vecCol)
    AnnIndex(model, annEncode(emb, model, idCol, vecCol))
  }

  /** Parquet round-trip for the full index. The code table is written
    * BEFORE the model (whose `meta` lands last), so meta existing
    * implies every part is complete. */
  def writeAnnIndex(index: AnnIndex, dir: String): Unit = {
    index.encoded.write.mode("overwrite").parquet(s"$dir/encoded")
    writeAnnModel(index.model, dir)
  }

  def readAnnIndex(spark: org.apache.spark.sql.SparkSession, dir: String): AnnIndex =
    AnnIndex(readAnnModel(spark, dir), spark.read.parquet(s"$dir/encoded"))

  /** Serve top-k from a stored [[AnnIndex]]: zero training, zero
    * corpus reads — [[ivfPqScore]] over the stored code table. */
  def ivfPqTopKIndexed(queries: DataFrame, index: AnnIndex, k: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqScore(queries, index.encoded, index.model.coarse, index.model.codebook,
      index.model.m, k, idCol, vecCol)

  /** Multi-probe serving — the recall/cost dial of production IVFPQ
    * ([[ivfTopKProbes]]' composite sibling): each query probes its
    * `nprobe` NEAREST coarse cells and ADC-scores the stored codes in
    * all of them. nprobe = 1 degrades to [[ivfPqTopKIndexed]];
    * nprobe = #cells recovers exhaustive PQ ADC ([[pqTopK]]) — proven
    * in `AnnRecallSpec`. Probe selection ranks centroid distances with
    * the [[ivfAssign]] tie-break (probe 1 is always the query's own
    * cell); the probe set is queries×nprobe rows, the ADC tables
    * queries×m×k×nprobe — all broadcast-small; each candidate scores
    * at most once per query because cells are disjoint. */
  def ivfPqTopKIndexedProbes(queries: DataFrame, index: AnnIndex, k: Int,
                             nprobe: Int, idCol: String = "vec_id",
                             vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val m = index.model.m
    val sd = subWidth(index.model.codebook)
    val c = index.model.coarse.withColumn("__csq", dot(col("cv"), col("cv")))
    // the quantized query vector RIDES probe selection, so the ADC
    // table builds straight off the probe set — the old form re-paid
    // a quantize/subvector scan of the queries (adcTable) plus a
    // query-id join to attach the probes (the ivfPqScore discipline)
    val probes = Partitioning.fanOut(queries)
      .select(col(idCol).as("query_id"),
        quantize(widthChecked(col(vecCol), m * sd)).as("__qqv"))
      .crossJoin(broadcast(c))
      .withColumn("__s", col("__csq") - lit(2d) * dot(col("__qqv"), col("cv")))
      .select(col("query_id"), col("cell"), col("__s"), col("__qqv"))
    val cb = index.model.codebook.withColumn("__cbsq", dot(col("cv"), col("cv")))
    val dt = Relational.topNPerGroup(probes, Seq(col("query_id")),
        Seq(col("__s"), col("cell")), nprobe, rankCol = "__rn")
      .select(col("query_id"), col("cell").as("qcell"),
        explode(array((0 until m).map(s =>
          struct(lit(s.toLong).as("sub"),
            slice(col("__qqv"), s * sd + 1, sd).as("sqv"))): _*)).as("x"))
      .select(col("query_id"), col("qcell"), col("x.sub").as("sub"), col("x.sqv").as("sqv"))
      .join(broadcast(cb), "sub")
      .withColumn("d",
        (dot(col("sqv"), col("sqv")) - lit(2d) * dot(col("sqv"), col("cv")) +
          col("__cbsq")).cast("long"))
      .select(col("query_id"), col("qcell"), col("sub"), col("cell"), col("d"))
    val cexp = index.encoded.select(col(idCol).as("cand_id"),
      col("cell").as("ccell"), posexplode(col("codes")).as(Seq("csub", "code")))
    val scored = cexp.join(broadcast(dt),
        col("csub").cast("long") === col("sub") && col("code") === col("cell") &&
          col("ccell") === col("qcell"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("d")).as("adc"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("adc"), col("cand_id")), k, rankCol = "rnk")
      .select(col("query_id"), col("cand_id"), col("rnk").cast("long").as("rnk"), col("adc"))
  }

  /** Exact re-rank refine stage over stored-index serving — faiss's
    * `IndexRefineFlat`: the ADC top-(k·`refine`) shortlist from the
    * code table is re-scored EXACTLY against the original vectors and
    * the final top-k ranked by true cosine. The standard recall
    * rescue when codes saturate: ADC distances order a 4-bit-ish code
    * budget only approximately, but the true neighbors it does catch
    * anywhere in the widened shortlist get re-ranked to the top by
    * the exact pass (`AnnRecallSpec` measures refined ≥ raw serving).
    *
    * Scale shape: the shortlist is |queries|·k·refine rows —
    * broadcast-small — so the exact-vector fetch is a broadcast hash
    * join the CORPUS side streams through (a delta read of shortlist
    * members only: no corpus shuffle, no full-corpus scoring, and the
    * stored index still answers candidate generation without touching
    * embeddings). Exact scoring cost is |queries|·k·refine dot
    * products. */
  def ivfPqTopKRefined(queries: DataFrame, index: AnnIndex, candidates: DataFrame,
                       k: Int, refine: Int = 4, idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && refine >= 1, s"need k >= 1 and refine >= 1, got k=$k, refine=$refine")
    val shortlist = ivfPqTopKIndexed(queries, index, k * refine, idCol, vecCol)
      .select(col("query_id"), col("cand_id"))
    val cv = withNorm(candidates, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("__n2").as("cn2"))
    val qv = withNorm(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"), col("__n2").as("qn2"))
    val scored = broadcast(shortlist).join(cv, "cand_id")
      .join(broadcast(qv), "query_id")
      .withColumn("cos", cosFromParts(dot(col("qv"), col("cv")), col("qn2"), col("cn2")))
      .select(col("query_id"), col("cand_id"), col("cos"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("cand_id")), k, rankCol = "rnk")
      .select(col("query_id"), col("cand_id"), col("rnk").cast("long").as("rnk"), col("cos"))
  }

  // ──────────── Residual IVFPQ (faiss's by_residual default) ────────────

  /** Residual vectors under a trained coarse quantizer: each vector
    * minus its assigned centroid, as exact long differences of
    * quantized values. Residuals concentrate around 0 regardless of
    * where the cell sits in space, so one SHARED PQ codebook spends
    * its k codes on the within-cell displacement instead of re-coding
    * the cell position the coarse index already knows — faiss's
    * `by_residual=true` default for IndexIVFPQ, and the reason a
    * 4-bit-per-subquantizer production index holds recall. Returns
    * `(__id, cell, qv)` with `qv` the residual, ready for
    * [[subvectorsOf]]. One broadcast assignment pass; the embedding
    * side never shuffles. */
  private def residuals(emb: DataFrame, coarse: DataFrame,
                        idCol: String, vecCol: String): DataFrame = {
    val q = Partitioning.fanOut(emb)
      .select(col(idCol).as("__id"), quantize(col(vecCol)).as("qv"))
    assignCells(q, coarse)
      .join(broadcast(coarse.select(col("cell"), col("cv"))), "cell")
      .select(col("__id"), col("cell"),
        zip_with(col("qv"), col("cv"), (a, b) => a - b).as("qv"))
  }

  /** Train the residual-encoded [[AnnModel]]: coarse quantizer over
    * the raw vectors, PQ codebook over the RESIDUALS (vector −
    * assigned centroid). Same determinism contract and scale shape as
    * [[annTrain]] — the only extra work is one broadcast assignment
    * pass to form the residual frame before the PQ Lloyd rounds. */
  def annTrainResidual(emb: DataFrame, coarseK: Int, m: Int, pqK: Int, iters: Int,
                       idCol: String = "vec_id", vecCol: String = "embedding"): AnnModel = {
    val coarse = ivfTrain(emb, coarseK, iters, idCol, vecCol)
    val r = residuals(emb, coarse, idCol, vecCol)
    AnnModel(coarse, pqTrainSub(subvectorsOf(r.select(col("__id"), col("qv")), m),
      pqK, iters), m)
  }

  /** Encode vectors against a FROZEN residual model: coarse cell +
    * PQ codes of the residual — the `(id, cell, codes)` row shape
    * [[AnnIndex]] stores, so a residual index round-trips through
    * [[writeAnnIndex]]/[[readAnnIndex]] unchanged. The codes of a
    * residual model are meaningless to the raw scorers (and vice
    * versa) — serve a residual index with [[ivfPqResidualScore]]. */
  def annEncodeResidual(emb: DataFrame, model: AnnModel,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    // one pass: the residual frame already carries (cell, residual qv);
    // [[pqCodesWithCell]] replaces the old self-join of that frame
    // (each side re-paying the residual assignment) — guide §2.4
    pqCodesWithCell(residuals(emb, model.coarse, idCol, vecCol),
        model.codebook, model.m)
      .select(col("__id").as(idCol), col("cell"), col("codes"))

  /** Query-time ADC over a residual-encoded candidate frame. Each
    * query probes its `nprobe` nearest coarse cells; within a probed
    * cell the query's OWN residual against THAT cell's centroid is
    * ADC-scored against the stored residual codes — the residual twin
    * of [[ivfPqScore]]/[[ivfPqTopKIndexedProbes]]. The per-(query,
    * probe) distance tables are queries×nprobe×m×k rows (broadcast);
    * candidates contribute one (cell, code) equi-join, and each
    * candidate scores at most once per query because cells are
    * disjoint. */
  def ivfPqResidualScore(queries: DataFrame, encodedCands: DataFrame,
                         model: AnnModel, k: Int, nprobe: Int = 1,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val m = model.m
    val sd = subWidth(model.codebook)
    val c = model.coarse.withColumn("__csq", dot(col("cv"), col("cv")))
    val probes = Partitioning.fanOut(queries)
      .select(col(idCol).as("query_id"),
        quantize(widthChecked(col(vecCol), m * sd)).as("__qqv"))
      .crossJoin(broadcast(c))
      .withColumn("__s", col("__csq") - lit(2d) * dot(col("__qqv"), col("cv")))
    // per probed cell, the query re-residualizes against THAT centroid
    val pr = Relational.topNPerGroup(probes, Seq(col("query_id")),
        Seq(col("__s"), col("cell")), nprobe, rankCol = "__rn")
      .select(col("query_id"), col("cell").as("qcell"),
        zip_with(col("__qqv"), col("cv"), (a, b) => a - b).as("__qr"))
    val dt = pr.select(col("query_id"), col("qcell"),
        explode(array((0 until m).map(s =>
          struct(lit(s.toLong).as("sub"),
            slice(col("__qr"), s * sd + 1, sd).as("sqv"))): _*)).as("x"))
      .select(col("query_id"), col("qcell"), col("x.sub").as("sub"), col("x.sqv").as("sqv"))
      .join(broadcast(model.codebook), "sub")
      .withColumn("d",
        (dot(col("sqv"), col("sqv")) - lit(2d) * dot(col("sqv"), col("cv")) +
          dot(col("cv"), col("cv"))).cast("long"))
      .select(col("query_id"), col("qcell"), col("sub"), col("cell"), col("d"))
    val cexp = encodedCands.select(col(idCol).as("cand_id"), col("cell").as("ccell"),
      posexplode(col("codes")).as(Seq("csub", "code")))
    val scored = cexp.join(broadcast(dt),
        col("csub").cast("long") === col("sub") && col("code") === col("cell") &&
          col("ccell") === col("qcell"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg(sum(col("d")).as("adc"))
    Relational.topNPerGroup(scored, Seq(col("query_id")),
      Seq(col("adc"), col("cand_id")), k, rankCol = "rnk")
      .select(col("query_id"), col("cand_id"), col("rnk").cast("long").as("rnk"), col("adc"))
  }

  /** Train-encode-serve composite for residual IVFPQ — the residual
    * twin of [[ivfPqTopK]] (production callers store the model and
    * codes via [[AnnIndex]] and call [[ivfPqResidualScore]]). */
  def ivfPqResidualTopK(queries: DataFrame, candidates: DataFrame,
                        model: AnnModel, k: Int, nprobe: Int = 1,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfPqResidualScore(queries, annEncodeResidual(candidates, model, idCol, vecCol),
      model, k, nprobe, idCol, vecCol)

  /** Maximal Marginal Relevance diversified top-k (Carbonell &
    * Goldstein 1998): greedily pick the candidate maximizing
    * `λ·rel(q,c) − (1−λ)·max_{s∈picked} sim(c,s)` — the rerank that
    * keeps a retrieval page from returning k near-copies of one
    * document (near-dup corpora make plain top-k degenerate).
    *
    * Two-stage production shape: a cheap recall stage supplies a
    * per-query SHORTLIST (here [[bruteForceTopK]]; any ANN variant
    * composes), and the greedy rerank runs on shortlist-bounded
    * frames only — per round one anti-join + one pairwise-max + one
    * bounded window over |queries|·`shortlist` rows, never the
    * corpus. The corpus is touched exactly once, by the vector fetch
    * for shortlist members (a semi-join-shaped hash join). `picked`
    * stays `localCheckpoint`ed per round (driver-looped iteration
    * discipline).
    *
    * Engine-exact by integer fixed-point: cosines are pinned at 4
    * decimals, scaled to integer ten-thousandths (`rel_m`, `sim_m`),
    * and the MMR objective `λ‰·rel_m − (1000−λ‰)·max sim_m` is pure
    * integer arithmetic with a (score, cand_id) tie-break — the
    * DuckDB oracle unrolls the same k rounds bit-identically.
    *
    * The returned frame is backed by the final round's
    * `localCheckpoint` — release with
    * [[Caching.releaseLocalCheckpoints]] once consumed (the
    * [[Dedup.connectedComponents]] contract). */
  def mmrTopK(queries: DataFrame, candidates: DataFrame, k: Int, shortlist: Int,
              lambdaPermille: Int = 700, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need shortlist >= k >= 1, got k=$k, shortlist=$shortlist")
    require(lambdaPermille >= 0 && lambdaPermille <= 1000, "lambdaPermille in [0,1000]")
    val sl = bruteForceTopK(queries, candidates, shortlist, idCol, vecCol)
      .withColumn("rel_m", round(col("cos") * 10000).cast("long"))
      .select(col("query_id"), col("cand_id"), col("rel_m"))
    // vectors for shortlist members only: the one corpus-sized join
    val vecs = withNorm(candidates, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("__n2").as("cn2"))
    val slv = broadcast(sl).join(vecs, "cand_id")
    // pairwise sims within each query's shortlist (|q|·S² rows, bounded)
    val a = slv.select(col("query_id"), col("cand_id").as("a"),
      col("cv").as("av"), col("cn2").as("an2"))
    val b = slv.select(col("query_id").as("qb"), col("cand_id").as("b"),
      col("cv").as("bv"), col("cn2").as("bn2"))
    val pairs = a.join(b, col("query_id") === col("qb") && col("a") =!= col("b"))
      .withColumn("sim_m",
        round(cosFromParts(dot(col("av"), col("bv")), col("an2"), col("bn2")) * 10000)
          .cast("long"))
      .select(col("query_id"), col("a"), col("b"), col("sim_m"))
      .localCheckpoint()
    val slc = sl.localCheckpoint()
    // round 1: pure relevance
    var picked = Relational.topNPerGroup(slc, Seq(col("query_id")),
        Seq(col("rel_m").desc, col("cand_id")), 1, rankCol = "__rn")
      .select(col("query_id"), col("cand_id"), col("rel_m"), lit(1L).as("rnk"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val sel = picked.select(col("query_id").as("sq"), col("cand_id").as("sc"))
      val cand = slc
        .join(sel, col("query_id") === col("sq") && col("cand_id") === col("sc"),
          "left_anti")
        .join(pairs.as("p"),
          col("p.query_id") === slc("query_id") && col("p.a") === slc("cand_id"))
        .join(sel, col("p.query_id") === col("sq") && col("p.b") === col("sc"))
        .groupBy(slc("query_id"), slc("cand_id"), col("rel_m"))
        .agg(max(col("sim_m")).as("msim"))
        .withColumn("score_m",
          lit(lambdaPermille.toLong) * col("rel_m") -
            lit((1000 - lambdaPermille).toLong) * col("msim"))
      val next = Relational.topNPerGroup(cand, Seq(col("query_id")),
          Seq(col("score_m").desc, col("cand_id")), 1, rankCol = "__rn")
        .select(col("query_id"), col("cand_id"), col("rel_m"), lit(r.toLong).as("rnk"))
      val grown = picked.union(next).localCheckpoint()
      Caching.releaseLocalCheckpoints(picked)
      picked = grown
    }
    val out = picked
    Seq(pairs, slc).foreach(Caching.releaseLocalCheckpoints(_))
    out
  }

  /** Matryoshka (MRL, Kusupati et al. 2022) truncated-dimension
    * serving: shortlist by cosine over only the FIRST `dim`
    * components of each vector, then re-rank the shortlist exactly at
    * full dimension. MRL-trained embeddings front-load information,
    * so a d≪D prefix scan finds nearly the same neighbors at d/D the
    * dot-product cost — at 100 TB this is the cheap first pass
    * (narrow scan of a prefix-sliced column, dot cost ∝ d), and the
    * exact re-rank touches only |q|·shortlist rows. Same broadcast
    * shape as [[bruteForceTopK]]: queries broadcast, candidates never
    * shuffle, per-query top-k is a bounded heap.
    *
    * Determinism: both stages rank on `round(cos, 4)` with a cand_id
    * tie-break — the whole-file oracle-parity discipline. */
  def truncatedTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                    dim: Int, shortlist: Int, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need shortlist >= k >= 1, got k=$k, shortlist=$shortlist")
    require(dim >= 1, "dim >= 1")
    val q = withNorm(queries, vecCol)
      .withColumn("__qt", slice(col(vecCol).cast("array<double>"), 1, dim))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        col("__n2").as("qn2"), col("__qt").as("qt"),
        graft.functions.VectorDot.vec_dot(col("__qt"), col("__qt")).as("qtn2"))
    val c = Partitioning.fanOut(candidates)
      .withColumn("__ct", slice(col(vecCol).cast("array<double>"), 1, dim))
      .select(col(idCol).as("cand_id"), col("__ct").as("ct"),
        graft.functions.VectorDot.vec_dot(col("__ct"), col("__ct")).as("ctn2"))
    // stage 1 — prefix-dim scan: only (query, cand, cos_t) enters the
    // shortlist ranking; the 64-dim vectors do NOT ride the window
    // shuffle of the data-sized scored frame.
    val short = c.join(broadcast(q.select(col("query_id"), col("qt"), col("qtn2"))),
        col("query_id") =!= col("cand_id"))
      .withColumn("cos_t", cosFromParts(
        graft.functions.VectorDot.vec_dot(col("qt"), col("ct")),
        col("qtn2"), col("ctn2")))
      .select(col("query_id"), col("cand_id"), col("cos_t"))
    val shortK = Relational.topNPerGroup(short, Seq(col("query_id")),
      Seq(col("cos_t").desc, col("cand_id")), shortlist, rankCol = "__srnk")
    // stage 2 — exact re-rank: vectors re-join only the |q|·shortlist
    // rows (broadcast-small), the mmrTopK delta-read shape.
    val cv = withNorm(candidates, vecCol)
      .select(col(idCol).as("cand_id"), col(vecCol).as("cv"), col("__n2").as("cn2"))
    val rer = broadcast(shortK.select(col("query_id"), col("cand_id")))
      .join(cv, "cand_id")
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qn2"))), "query_id")
      .withColumn("cos", cosFromParts(dot(col("qv"), col("cv")), col("qn2"), col("cn2")))
    Relational.topNPerGroup(rer.select(col("query_id"), col("cand_id"), col("cos")),
      Seq(col("query_id")), Seq(col("cos").desc, col("cand_id")), k, rankCol = "rank")
  }

  /** The MRL quality curve: recall@k of PURE truncated-dimension
    * ranking (no re-rank) against the full-dimension exact top-k, one
    * row per (trunc_dim, query). All requested dims score in ONE
    * candidate pass — the dim list explodes per candidate row (a
    * bounded |dims|× fan-out, no extra scan per dim), the prefix
    * slice length is the exploded column. `trunc_dim = D` must score
    * recall 1000 by construction (identical rounded cosines, identical
    * tie-break), which `AnnRecallSpec` pins. */
  def dimRecall(queries: DataFrame, candidates: DataFrame, k: Int,
                dims: Seq[Int], idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty, "need at least one truncation dim")
    val truth = bruteForceTopK(queries, candidates, k, idCol, vecCol)
      .select(col("query_id"), col("cand_id"))
    val q = Partitioning.fanOut(queries)
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
    val c = candidates
      .select(col(idCol).as("cand_id"), col(vecCol).cast("array<double>").as("cv"))
    val scored = c
      .withColumn("trunc_dim", explode(array(dims.map(d => lit(d)): _*)))
      .withColumn("ct", slice(col("cv"), lit(1), col("trunc_dim")))
      .join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("qt", slice(col("qv"), lit(1), col("trunc_dim")))
      .withColumn("cos_t", cosFromParts(
        graft.functions.VectorDot.vec_dot(col("qt"), col("ct")),
        graft.functions.VectorDot.vec_dot(col("qt"), col("qt")),
        graft.functions.VectorDot.vec_dot(col("ct"), col("ct"))))
      .select(col("trunc_dim"), col("query_id"), col("cand_id"), col("cos_t"))
    val approxK = Relational.topNPerGroup(scored,
      Seq(col("trunc_dim"), col("query_id")),
      Seq(col("cos_t").desc, col("cand_id")), k, rankCol = "__rn")
    approxK
      .join(truth.withColumn("__hit", lit(1L)), Seq("query_id", "cand_id"), "left")
      .groupBy(col("trunc_dim").cast("long").as("trunc_dim"), col("query_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_permille", expr(s"(n_hits * 1000) DIV $k"))
  }
}
