package graft

import org.apache.spark.sql.functions._
import graft.ops.Layout

class HilbertSpec extends SparkSpec {
  import spark.implicits._

  private val bits = 4
  private val side = 1 << bits // 16×16 grid

  test("hilbert2: Column impl matches the local twin on every grid cell") {
    val grid = for (x <- 0 until side; y <- 0 until side) yield (x.toLong, y.toLong)
    val df = grid.toDF("x", "y")
      .select(col("x"), col("y"), Layout.hilbert2(col("x"), col("y"), bits).as("h"))
    val out = df.as[(Long, Long, Long)].collect()
    out.foreach { case (x, y, h) =>
      assert(h == Layout.hilbert2Local(x, y, bits), s"mismatch at ($x,$y)")
    }
  }

  test("hilbert2: bijection over the grid and neighbor-adjacency (the property Z-order lacks)") {
    val cells = for (x <- 0 until side; y <- 0 until side)
      yield Layout.hilbert2Local(x, y, bits) -> (x, y)
    val byH = cells.toMap
    assert(byH.size == side * side) // bijective onto [0, 4^bits)
    assert(byH.keys.min == 0L && byH.keys.max == side * side - 1)
    // every consecutive pair of curve indices is Manhattan distance 1
    (0L until (side * side - 1)).foreach { h =>
      val (x1, y1) = byH(h); val (x2, y2) = byH(h + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at h=$h")
    }
    // contrast: Z-order jumps (e.g. z=1 is (0,1), z=2 is (1,0) → distance 2)
    val zcells = (for (x <- 0 until side; y <- 0 until side)
      yield ((0 until bits).map(i => (((x >> i) & 1).toLong << (2 * i + 1)) | (((y >> i) & 1).toLong << (2 * i))).sum, (x, y))).toMap
    val zJumps = (0L until (side * side - 1)).count { z =>
      val (x1, y1) = zcells(z); val (x2, y2) = zcells(z + 1)
      math.abs(x1 - x2) + math.abs(y1 - y2) > 1
    }
    assert(zJumps > 0)
  }

  test("native graft_hilbert expression: equals composed/local at full 16-bit resolution") {
    // composed-Column form is infeasible at 16 bits (tree grows ~5×/level);
    // the native loop isn't — check it against the driver twin on a
    // deterministic point cloud, plus the full 4-bit grid vs the composed form
    val pts = (0 until 2000).map { i =>
      ((i * 40503L) % 65536L, (i * 10331L + 7) % 65536L)
    }
    val df = pts.toDF("x", "y").select(col("x"), col("y"),
      graft.functions.GraftExtensions.graft_hilbert(col("x"), col("y"), 16).as("h"))
    df.as[(Long, Long, Long)].collect().foreach { case (x, y, h) =>
      assert(h == Layout.hilbert2Local(x, y, 16), s"native mismatch at ($x,$y)")
    }
    val grid = for (x <- 0 until side; y <- 0 until side) yield (x.toLong, y.toLong)
    val both = grid.toDF("x", "y").select(
      Layout.hilbert2(col("x"), col("y"), bits).as("composed"),
      graft.functions.GraftExtensions.graft_hilbert(col("x"), col("y"), bits).as("native"))
    assert(both.filter(col("composed") =!= col("native")).count() == 0)
  }

  test("hilbert layout: equal chunks of the curve cover tighter boxes than Z-order") {
    // split each curve into 16 equal chunks; measure the bounding-box
    // semi-perimeter each chunk spans — the file-level locality a range-
    // partitioned write produces. Hilbert's total must beat Z-order's.
    def chunkSpan(order: Seq[(Int, Int)]): Long =
      order.grouped(order.size / 16).map { chunk =>
        val xs = chunk.map(_._1); val ys = chunk.map(_._2)
        (xs.max - xs.min + ys.max - ys.min).toLong
      }.sum
    val all = for (x <- 0 until side; y <- 0 until side) yield (x, y)
    val hOrder = all.sortBy { case (x, y) => Layout.hilbert2Local(x, y, bits) }
    val zOrder = all.sortBy { case (x, y) =>
      (0 until bits).map(i => (((x >> i) & 1).toLong << (2 * i + 1)) | (((y >> i) & 1).toLong << (2 * i))).sum
    }
    assert(chunkSpan(hOrder) <= chunkSpan(zOrder))
  }
}
