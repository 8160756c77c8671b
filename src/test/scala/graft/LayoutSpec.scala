package graft

import org.apache.spark.sql.functions._

import graft.operators.{Partitioning, Relational}

/** Table-layout and profiling operator invariants: morton interleave
  * arithmetic, the z-order rectangle property that makes file-stat
  * pruning work on both key columns, and exact profiling counts.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("mortonCode: bit interleave arithmetic and range containment") {
    val in = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 2L), (3L, 5L))
      .toDF("a", "b")
    val got = in.select(col("a"), col("b"),
        Partitioning.mortonCode(col("a"), col("b"), 8).as("z"))
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got((0L, 0L)) === 0L)
    assert(got((1L, 0L)) === 1L)  // bit 0 of a → position 0
    assert(got((0L, 1L)) === 2L)  // bit 0 of b → position 1
    assert(got((1L, 1L)) === 3L)
    assert(got((2L, 2L)) === 12L) // bit 1 of a → pos 2, bit 1 of b → pos 3
    // containment: a,b < 2^k  ⟺  morton < 4^k (the rectangle property)
    assert(got((3L, 5L)) < 64L && got((2L, 2L)) < 16L)
  }

  test("zorderBy: each range partition covers a bounded rectangle in key space") {
    val n = 32 // 32×32 grid, one row per cell
    val grid = (0 until n).flatMap(a => (0 until n).map(b => (a.toLong, b.toLong)))
      .toDF("a", "b")
    val parts = Partitioning.zorderBy(grid, "a", "b", bits = 5, partitions = 8)
      .select("a", "b").rdd.mapPartitionsWithIndex { (i, it) =>
        val rows = it.map(r => (r.getLong(0), r.getLong(1))).toArray
        if (rows.isEmpty) Iterator.empty
        else Iterator((i, rows.map(_._1).max - rows.map(_._1).min,
          rows.map(_._2).max - rows.map(_._2).min, rows.length))
      }.collect()
    assert(parts.map(_._4).sum === n * n)
    // a naive unsorted split would give ranges ~n on at least one dim;
    // z-order bounds BOTH dims per partition (≤ half the grid here)
    parts.foreach { case (_, aRange, bRange, _) =>
      assert(aRange <= n / 2 && bRange <= n / 2,
        s"partition spans a=$aRange b=$bRange — not a bounded rectangle")
    }
  }

  test("hilbert_index: matches reference xy2d, bijective, unit-step adjacent") {
    // reference implementation (Wikipedia xy2d), evaluated driver-side
    def xy2d(bits: Int, x0: Long, y0: Long): Long = {
      var x = x0; var y = y0; var d = 0L
      val n = 1L << bits
      var j = bits - 1
      while (j >= 0) {
        val s = 1L << j
        val rx = (x >> j) & 1L
        val ry = (y >> j) & 1L
        d += s * s * ((3L * rx) ^ ry)
        if (ry == 0L) {
          if (rx == 1L) { x = n - 1L - x; y = n - 1L - y }
          val t = x; x = y; y = t
        }
        j -= 1
      }
      d
    }
    import graft.functions.HilbertIndex.hilbert_index
    val n = 16 // full 16×16 grid at bits=4
    val grid = (0 until n).flatMap(a => (0 until n).map(b => (a.toLong, b.toLong)))
      .toDF("a", "b")
    val got = grid.select(col("a"), col("b"),
        hilbert_index(col("a"), col("b"), 4).as("h"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (a, b, h) =>
      assert(h === xy2d(4, a, b), s"($a,$b)")
    }
    // bijective over the full grid
    assert(got.map(_._3).sorted.toSeq === (0L until (n.toLong * n)).toSeq)
    // THE Hilbert property Z-order lacks: consecutive indexes are
    // Manhattan-ADJACENT cells (Z-order jumps diagonally between
    // quadrants) — tighter file bounding boxes at every range split
    val byD = got.map { case (a, b, h) => h -> ((a, b)) }.toMap
    (0L until (n.toLong * n) - 1).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L, s"step at d=$d")
    }
    // and the codegen path is exercised distributedly at larger bits
    val big = Seq((12345L, 54321L), (0L, 65535L), (65535L, 0L)).toDF("a", "b")
      .select(col("a"), col("b"), hilbert_index(col("a"), col("b"), 16).as("h"))
      .as[(Long, Long, Long)].collect()
    big.foreach { case (a, b, h) => assert(h === xy2d(16, a, b)) }
  }

  test("hilbertBy: bounded rectangles per range partition, tighter than naive") {
    val n = 32
    val grid = (0 until n).flatMap(a => (0 until n).map(b => (a.toLong, b.toLong)))
      .toDF("a", "b")
    val parts = Partitioning.hilbertBy(grid, "a", "b", bits = 5, partitions = 8)
      .select("a", "b").rdd.mapPartitionsWithIndex { (i, it) =>
        val rows = it.map(r => (r.getLong(0), r.getLong(1))).toArray
        if (rows.isEmpty) Iterator.empty
        else Iterator((i, rows.map(_._1).max - rows.map(_._1).min,
          rows.map(_._2).max - rows.map(_._2).min, rows.length))
      }.collect()
    assert(parts.map(_._4).sum === n * n)
    parts.foreach { case (_, aRange, bRange, _) =>
      assert(aRange <= n / 2 && bRange <= n / 2,
        s"partition spans a=$aRange b=$bRange — not a bounded rectangle")
    }
  }

  test("profile: exact nulls, distincts, stringified min/max per column") {
    val in = Seq(
      (1L, Some("x")), (2L, None), (3L, Some("y")), (4L, Some("x"))
    ).toDF("id", "tag")
    val got = Relational.profile(in, Seq("id", "tag"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("id") === (("id", 4L, 0L, 4L, "1", "4")))
    assert(got("tag") === (("tag", 4L, 1L, 2L, "x", "y")))
  }
}
