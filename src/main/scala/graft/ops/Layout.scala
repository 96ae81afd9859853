package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators for multi-dimensional locality — the write-side
  * lever that makes 100 TB scans cheap. A table range-partitioned and
  * sorted by a Z-order (Morton) key keeps rows close in BOTH dimensions
  * close in the file layout, so a 2-D box predicate touches a few files
  * and parquet row-group stats prune the rest — where a 1-D sort only
  * prunes on its leading column.
  *
  * The interleave is pure integer Column arithmetic (shift/and/add), so
  * it is codegen'd, deterministic, and has an exact DuckDB spelling for
  * the oracle.
  */
object Layout {

  /** 2-D Morton (Z-order) key: interleave the low `bits` bits of two
    * non-negative int columns — a's bit i lands at position 2i+1, b's at
    * 2i. 16+16 bits → a 32-bit z-value in a long.
    */
  def zorder2(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftright(a.cast("long"), i).bitwiseAND(1) * lit(1L << (2 * i + 1)) +
        shiftright(b.cast("long"), i).bitwiseAND(1) * lit(1L << (2 * i))
    }.reduce(_ + _)

  /** DuckDB spelling of [[zorder2]] for oracle SQL. */
  def sqlZorder2(a: String, b: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"((($a)::BIGINT >> $i) & 1) * ${1L << (2 * i + 1)} + " +
        s"((($b)::BIGINT >> $i) & 1) * ${1L << (2 * i)}"
    }.mkString("(", " + ", ")")

  /** Write `df` clustered by the z-value of (aCol, bCol): range-partition
    * into `numFiles` on the z-key and sort within partitions — the layout
    * a 100 TB table uses so 2-D box queries read O(box) files.
    */
  def writeZOrdered(df: DataFrame, aCol: String, bCol: String,
                    path: String, numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zorder2(col(aCol), col(bCol), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  // ------------------------------------------------------- Hilbert curve

  /** 2-D Hilbert index of (x, y) on a 2^bits × 2^bits grid — the
    * strictly-better space-filling curve: consecutive indices are ALWAYS
    * grid neighbors (Manhattan distance 1), so equal-size file chunks of
    * a Hilbert-sorted table cover compact blobs with no Z-curve "seams"
    * (a Z-order chunk can jump across the key space mid-chunk).
    *
    * Standard xy2d: walk quadrant bits high→low, accumulate s²·((3·rx)⊕ry),
    * reflect+swap the frame each level (pure when/arith Columns, codegen'd).
    * Keep `bits` modest (≤ 8): each level's reflect+swap references the
    * previous level's x AND y in several branches, so after projection
    * collapse the expression tree grows ~5× per level.
    */
  def hilbert2(aCol: Column, bCol: Column, bits: Int = 6): Column = {
    var x = aCol.cast("long")
    var y = bCol.cast("long")
    var d = lit(0L)
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = when(x.bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      val ry = when(y.bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      d = d + lit(s) * lit(s) * (lit(3L) * rx).bitwiseXOR(ry)
      val nx = when(ry === 0, when(rx === 1, lit(s - 1) - y).otherwise(y)).otherwise(x)
      val ny = when(ry === 0, when(rx === 1, lit(s - 1) - x).otherwise(x)).otherwise(y)
      x = nx
      y = ny
      s >>= 1
    }
    d
  }

  /** Driver-side twin of [[hilbert2]] — delegates to the native
    * expression's shared loop so the two can never drift. */
  def hilbert2Local(xIn: Long, yIn: Long, bits: Int = 6): Long =
    graft.functions.HilbertIndex.compute(xIn, yIn, bits)

  /** DuckDB spelling of [[hilbert2]]: a chain of CTEs (one per level, so
    * the SQL stays LINEAR in `bits` — a single expression would expand
    * exponentially through the reflect+swap). `src` must provide columns
    * `hx`, `hy` plus whatever `keptCols` carries through; the final CTE
    * `hfinal` exposes keptCols + `h`.
    */
  def sqlHilbert2Ctes(src: String, keptCols: Seq[String], bits: Int = 6): String = {
    val kept = keptCols.mkString(", ")
    val steps = (0 until bits).map { lvl =>
      val s = 1L << (bits - 1 - lvl)
      val (px, py, pd) = (s"x$lvl", s"y$lvl", s"d$lvl")
      s"""h${lvl + 1} AS (SELECT $kept,
         |  CASE WHEN ($py & $s) > 0 THEN $px
         |       WHEN ($px & $s) > 0 THEN ${s - 1} - $py ELSE $py END AS x${lvl + 1},
         |  CASE WHEN ($py & $s) > 0 THEN $py
         |       WHEN ($px & $s) > 0 THEN ${s - 1} - $px ELSE $px END AS y${lvl + 1},
         |  $pd + ${s * s} * xor(3 * (CASE WHEN ($px & $s) > 0 THEN 1 ELSE 0 END),
         |                       (CASE WHEN ($py & $s) > 0 THEN 1 ELSE 0 END)) AS d${lvl + 1}
         |  FROM h$lvl)""".stripMargin
    }
    (s"h0 AS (SELECT $kept, CAST(hx AS BIGINT) AS x0, CAST(hy AS BIGINT) AS y0, CAST(0 AS BIGINT) AS d0 FROM $src)" +:
      steps :+
      s"hfinal AS (SELECT $kept, CAST(d$bits AS BIGINT) AS h FROM h$bits)").mkString(",\n")
  }

  /** Small-file compaction (the OPTIMIZE maintenance op): rewrite a
    * parquet directory into ~`targetFileBytes`-sized files, preserving
    * rows exactly. Streaming sinks and incremental syncs accrete tiny
    * files; at 100 TB an uncompacted table pays per-file open/footer cost
    * on every scan and starves the scheduler with million-task stages.
    *
    * Filesystem access goes through the Hadoop FileSystem API, so the
    * same code compacts local dirs, HDFS and object stores. The swap is
    * rename-old → rename-new → delete-old: data is NEVER deleted before
    * the replacement is fully written, so a crash at any point leaves the
    * table readable either at `path` or (worst case, between the two
    * renames) intact under `path__old` for manual recovery — never gone,
    * never half-rewritten.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              sortCols: Seq[String] = Nil): Long = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(target).getLength
    val numFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val repart =
      if (sortCols.nonEmpty)
        df.repartitionByRange(numFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(numFiles)
    val tmp = new Path(path.stripSuffix("/") + "__compacting")
    val old = new Path(path.stripSuffix("/") + "__old")
    repart.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(old, true)
    require(fs.rename(target, old), s"compaction swap failed: $path -> $old")
    require(fs.rename(tmp, target), s"compaction swap failed: $tmp -> $path")
    fs.delete(old, true)
    numFiles.toLong
  }
}
