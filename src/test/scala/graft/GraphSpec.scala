package graft

import org.apache.spark.sql.functions._

import graft.operators.{Caching, Dedup, Graph}

/** Degree and PageRank semantics on hand-built graphs; hand-computed
  * fixed-point expectations pin the exact integer recurrence (the
  * cross-engine contract the oracle then re-checks on real pairs).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def star = (2L to 5L).map(i => (1L, i)).toDF("doc_a", "doc_b")

  test("degrees: star hub has degree n-1, leaves 1; edges deduped after symmetrize") {
    val withDup = star.union(Seq((2L, 1L)).toDF("doc_a", "doc_b")) // reverse dup
    val d = Graph.degrees(withDup).as[(Long, Long)].collect().toMap
    assert(d === Map(1L -> 4L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("triangles: K4 + pendant exact census; star and path have none; reversed dups collapse") {
    // K4 on {1,2,3,4} (4 triangles, 3 per node, cc = 1) plus pendant 5-1
    val k4p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 5L))
      .toDF("doc_a", "doc_b")
    val t = Graph.triangles(k4p)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // node 1: degree 4, still 3 triangles, cc = 2*3/(4*3) = 500 permille
    assert(t(1L) === ((4L, 3L, 500L)))
    assert(t(2L) === ((3L, 3L, 1000L)))
    assert(t(3L) === ((3L, 3L, 1000L)))
    assert(t(4L) === ((3L, 3L, 1000L)))
    assert(t(5L) === ((1L, 0L, 0L)))
    // total triangle count: each counted at 3 corners → sum/3 = 4
    assert(t.values.map(_._2).sum === 12L)
    // triangle-free graphs: star (wedges only) and a path
    assert(Graph.triangles(star).as[(Long, Long, Long, Long)].collect()
      .forall(_._3 === 0L))
    // duplicate + reversed edges must not fabricate triangles
    val dup = k4p.union(Seq((2L, 1L), (3L, 2L)).toDF("doc_a", "doc_b"))
    val t2 = Graph.triangles(dup)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(t2(1L) === 3L && t2(5L) === 0L)
  }

  test("hits: exact hand-walked path graph; star hub peaks at 10000; " +
    "reversed dups collapse") {
    // path 1-2-3, hand-walked:
    //   h1 raw (10000, 20000, 10000) → rescale (5000, 10000, 5000)
    //   a1 raw (10000, 10000, 10000) → all 10000
    //   round 2 repeats the same values — the fixed point
    val path = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val h = Graph.hits(path, iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(h === Map(1L -> ((5000L, 10000L)), 2L -> ((10000L, 10000L)),
      3L -> ((5000L, 10000L))))
    // star: the hub saturates at 10000, leaves tie below it
    val hs = Graph.hits(star, iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(hs(1L) === 10000L)
    assert((2L to 5L).map(hs).toSet.size === 1, "leaves tie")
    assert(hs(2L) < 10000L)
    // duplicate + reversed edges must not change scores (symmetrize dedups)
    val dup = path.union(Seq((2L, 1L), (2L, 3L)).toDF("doc_a", "doc_b"))
    val h2 = Graph.hits(dup, iters = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(h2 === h)
  }

  test("pageRank: exact fixed-point values on the star; 2-cycle is the conservation fixed point") {
    // hand-computed: pr0=10000 all; hub ← 4 leaf contribs, leaf ← hub/4
    //   iter1: hub 35500, leaf 3625
    //   iter2: hub 13825, leaf 9043
    //   iter3: hub 32246, leaf 4437
    val pr = Graph.pageRank(star, iters = 3)
    val m = pr.as[(Long, Long)].collect().toMap
    assert(m(1L) === 32246L)
    assert((2L to 5L).forall(m(_) === 4437L))
    Caching.releaseLocalCheckpoints(pr)
    // a 2-cycle conserves mass exactly: 1500 + 85% of 10000 = 10000
    val two = Graph.pageRank(Seq((7L, 9L)).toDF("doc_a", "doc_b"), iters = 5)
    assert(two.as[(Long, Long)].collect().toMap === Map(7L -> 10000L, 9L -> 10000L))
    Caching.releaseLocalCheckpoints(two)
  }

  test("pageRank releases every intermediate round; result releasable by the caller") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val pr = Graph.pageRank(star, iters = 3)
    pr.count()
    Caching.releaseLocalCheckpoints(pr)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"pageRank leaked persistent RDDs: $leaked")
  }

  // Randomized differential: pointer-doubled min-label propagation vs a
  // classic driver-side union-find, over graphs chosen to stress the
  // loop — sparse (many components), dense (one giant component), and
  // long chains (max diameter, the pointer-doubling worst case).
  private def unionFindComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((u, v) <- edges) {
      val (ru, rv) = (find(u), find(v))
      if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
    }
    // normalize: label = min id of the set (roots are minimal by the
    // union rule above, but path compression can lag — re-find all)
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("connectedComponents ≡ union-find on random sparse/dense/chain graphs") {
    for ((seed, nEdges, maxNode) <- Seq((11, 40, 100L), (12, 400, 100L), (13, 60, 60L))) {
      val rnd = new scala.util.Random(seed)
      val edges =
        if (seed == 13) // chain with shuffled edge order: diameter = n-1
          rnd.shuffle((0L until maxNode - 1).map(i => (i, i + 1)).toList)
        else Seq.fill(nEdges)((rnd.nextLong(maxNode), rnd.nextLong(maxNode)))
          .filter { case (a, b) => a != b }
      val pairs = edges.toDF("doc_a", "doc_b")
      val got = Dedup.connectedComponents(pairs)
      val gotMap = got.as[(Long, Long)].collect().toMap
      Caching.releaseLocalCheckpoints(got)
      assert(gotMap === unionFindComponents(edges),
        s"seed=$seed: component labeling diverged from union-find")
    }
  }

  test("componentsUpdate(stored, delta) ≡ recompute(history ∪ delta) on random splits") {
    // random graphs, random history/delta edge splits — covers
    // component merges, new-node bridges, and new ids SMALLER than
    // stored labels (the min-label relabel path)
    for ((seed, nEdges, maxNode) <- Seq((21, 40, 100L), (22, 200, 80L), (23, 30, 40L))) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(nEdges)((rnd.nextLong(maxNode) + 10, rnd.nextLong(maxNode) + 10))
        .filter { case (a, b) => a != b }
      val (history, delta0) = edges.partition(_ => rnd.nextBoolean())
      // force the smaller-new-id case: a delta edge from an unseen id
      // below every history id into some history node
      val delta = if (history.nonEmpty) (1L, history.head._1) +: delta0 else delta0
      val stored = Dedup.connectedComponents(history.toDF("doc_a", "doc_b"))
      val got = Dedup.componentsUpdate(stored, delta.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      Caching.releaseLocalCheckpoints(stored)
      val want = unionFindComponents(history ++ delta)
      assert(got === want, s"seed=$seed: incremental map diverged from recompute")
    }
    // empty delta is the identity
    val stored = Dedup.connectedComponents(Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b"))
    val id = Dedup.componentsUpdate(stored,
        spark.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(id === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // CHAINED daily ingests: update(update(m, d1), d2) ≡ recompute —
    // the law a stored map must satisfy to be maintained forever
    val rnd2 = new scala.util.Random(31)
    val all = Seq.fill(90)((rnd2.nextLong(60) + 5, rnd2.nextLong(60) + 5))
      .filter { case (a, b) => a != b }
    val (d0, rest) = all.splitAt(30)
    val (d1, d2) = rest.splitAt(30)
    var m = Dedup.connectedComponents(d0.toDF("doc_a", "doc_b"))
    m = Dedup.componentsUpdate(m, d1.toDF("doc_a", "doc_b")).localCheckpoint()
    m = Dedup.componentsUpdate(m, d2.toDF("doc_a", "doc_b"))
    assert(m.as[(Long, Long)].collect().toMap === unionFindComponents(all),
      "chained incremental updates diverged from the full recompute")
    // replaying a delta is harmless: edges are constraints, re-adding
    // one changes no label (at-least-once delivery needs no dedup)
    val replayed = Dedup.componentsUpdate(m, d2.toDF("doc_a", "doc_b"))
    assert(replayed.as[(Long, Long)].collect().toMap === unionFindComponents(all))
  }

  test("keepBest ≡ reference argmax over union-find clusters (randomized)") {
    val rnd = new scala.util.Random(77)
    val n = 80L
    val docs = (0L until n).map(i => (i, 1L + rnd.nextInt(50)))
      .toDF("doc_id", "score")
    val edges = Seq.fill(60)((rnd.nextLong(n), rnd.nextLong(n)))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("doc_a", "doc_b")
    val got = Dedup.keepBest(docs, pairs, col("score"))
      .select("doc_id").as[Long].collect().toSet
    val comp = unionFindComponents(edges)
    val scoreMap = docs.as[(Long, Long)].collect().toMap
    val byCluster = (0L until n).groupBy(i => comp.getOrElse(i, i))
    val want = byCluster.values.map(ids =>
      ids.maxBy(i => (scoreMap(i), -i))).toSet
    assert(got === want, s"keepBest winners diverged from reference argmax")
  }

  /** Reference k-core: brute-force peeling over an in-memory edge set. */
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      .filter { case (a, b) => a != b }
    var changed = true
    while (changed) {
      val deg = es.groupBy(_._1).map { case (n, l) => n -> l.size }
      val low = deg.filter(_._2 < k).keySet
      changed = low.nonEmpty
      if (changed) es = es.filter { case (a, b) => !low(a) && !low(b) }
    }
    es.groupBy(_._1).map { case (n, l) => n -> l.size.toLong }
  }

  test("kCore: K4+pendant hand case; differential vs reference peeling on random graphs") {
    // K4 on {1..4} plus pendant 5: 3-core = K4 (each degree 3), 5 peels
    val k4p = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (1L, 5L))
      .toDF("doc_a", "doc_b")
    val core3 = Graph.kCore(k4p, k = 3)
    val m = core3.as[(Long, Long)].collect().toMap
    Caching.releaseLocalCheckpoints(core3)
    assert(m === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // chain triggers deep peeling at k=2 → empty (a path has no 2-core)
    val chain = (0L until 30L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("doc_a", "doc_b")
    val core2 = Graph.kCore(chain, k = 2)
    assert(core2.isEmpty)
    Caching.releaseLocalCheckpoints(core2)
    // randomized differential, sparse and dense, k = 2 and 3
    for ((seed, nEdges, maxNode, k) <- Seq((21, 60, 50L, 2), (22, 300, 60L, 3), (23, 120, 40L, 3))) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(nEdges)((rnd.nextLong(maxNode), rnd.nextLong(maxNode)))
        .filter { case (a, b) => a != b }
      val got = Graph.kCore(edges.toDF("doc_a", "doc_b"), k)
      val gotMap = got.as[(Long, Long)].collect().toMap
      Caching.releaseLocalCheckpoints(got)
      assert(gotMap === refKCore(edges, k), s"seed=$seed k=$k: core diverged")
    }
  }

  /** Reference BFS from the min node over an in-memory edge set. */
  private def refBfs(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }
      .groupBy(_._1).map { case (k, l) => k -> l.map(_._2).toSet }
    if (adj.isEmpty) return Map.empty
    val src = adj.keys.min
    var dist = Map(src -> 0L)
    var frontier = Set(src)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
      dist ++= next.map(_ -> (dist(frontier.head) + 1)) // all frontier nodes share a level
      frontier = next
    }
    dist
  }

  test("bfsFromMin: path-graph distances; differential vs reference BFS on random graphs") {
    // path 0-1-2-3-4: distances are the indexes
    val path = (0L until 5L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("doc_a", "doc_b")
    val got = Graph.bfsFromMin(path)
    val m = got.as[(Long, Long)].collect().toMap
    Caching.releaseLocalCheckpoints(got)
    assert(m === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    for ((seed, nEdges, maxNode) <- Seq((31, 60, 50L), (32, 250, 60L))) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(nEdges)((rnd.nextLong(maxNode), rnd.nextLong(maxNode)))
        .filter { case (a, b) => a != b }
      val g = Graph.bfsFromMin(edges.toDF("doc_a", "doc_b"))
      val gm = g.as[(Long, Long)].collect().toMap
      Caching.releaseLocalCheckpoints(g)
      assert(gm === refBfs(edges), s"seed=$seed: BFS distances diverged")
    }
  }

  test("bfsFromMin eccentricity fits the oracle's 12-hop budget on the near-dup graph") {
    val pairs = Dedup.jaccardPairsBanded(
      graft.sources.Tables.documents(spark, sf), Seq("source", "lang"),
      thresholdPermille = 900)
    val (d, rounds) = Graph.bfsFromMinWithRounds(pairs)
    d.count()
    Caching.releaseLocalCheckpoints(d)
    assert(rounds <= 12, s"BFS took $rounds rounds; the oracle walk is bounded at 12")
  }

  test("kCore converges within the oracle's 10-round budget on the near-dup graph") {
    val pairs = Dedup.jaccardPairsBanded(
      graft.sources.Tables.documents(spark, sf), Seq("source", "lang"),
      thresholdPermille = 900)
    val (core, rounds) = Graph.kCoreWithRounds(pairs, k = 3)
    core.count() // force the loop
    Caching.releaseLocalCheckpoints(core)
    assert(rounds <= 10, s"peeling took $rounds rounds; the unrolled oracle covers 10")
  }
}
