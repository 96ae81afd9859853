package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding compression operators: symmetric int8 quantization and
  * product quantization (PQ) code assignment — the storage-side half of
  * similarity search at 100 TB (a 64-dim float corpus shrinks 4× as int8
  * and 32× as 8-byte PQ codes; candidate scans then run over codes, with
  * exact re-rank only on survivors).
  *
  * Determinism contract (same rules as [[Similarity]]): every boundary
  * decision (quantized value, nearest-centroid argmin) happens on
  * floor-scaled integer arithmetic over identical IEEE doubles, never on
  * engine-formatted decimals — so DuckDB reproduces Spark's codes
  * bit-for-bit, and codes don't depend on partitioning or plan shape.
  */
object Quantize {

  private val Scale = 1e12

  /** Per-vector max |x| (double). */
  def maxAbs(vd: Column): Column = array_max(transform(vd, x => abs(x)))

  /** Symmetric int8 scale: maxabs/127, 0 for the all-zero vector. */
  def int8Scale(vd: Column): Column = {
    val m = maxAbs(vd)
    when(m === 0.0, 0.0).otherwise(m / lit(127.0))
  }

  /** Quantized levels floor(x·127/maxabs) ∈ [-127, 127] as longs.
    * Floor (not round): round() detours through decimal formatting and
    * diverges between engines; floor of identical doubles is identical.
    */
  def int8Levels(vd: Column): Column = {
    val m = maxAbs(vd)
    transform(vd, x =>
      when(m === 0.0, lit(0L))
        .otherwise(floor(x * lit(127.0) / m).cast("long")))
  }

  /** Total reconstruction error Σ_i floor(|x_i − q_i·scale|·1e12) as a
    * long — an order-independent exact sum, comparable across engines.
    * Guarded for the empty vector (sequence(1, 0) would count DOWN and
    * index past the array — same pitfall CorpusOps.wordNgrams guards).
    */
  def int8ReconError(vd: Column, qs: Column, scale: Column): Column =
    when(size(vd) === 0, lit(0L)).otherwise(
      aggregate(
        transform(sequence(lit(1), size(vd)), i =>
          floor(abs(element_at(vd, i) - element_at(qs, i).cast("double") * scale) * lit(Scale))
            .cast("long")),
        lit(0L), (acc, x) => acc + x))

  /** Scaled exact squared L2 distance between a vector slice and a
    * literal centroid: Σ floor((x−y)²·1e12) as a long.
    */
  def scaledSqDist(a: Column, centroid: Seq[Double]): Column =
    aggregate(
      zip_with(a, array(centroid.map(lit): _*),
        (x, y) => floor((x - y) * (x - y) * lit(Scale)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** PQ code for one subspace: index of the nearest centroid (scaled-L2
    * argmin, first-minimum = lowest index on ties). `centroids` are the
    * m-th subvectors of the codebook rows, in codebook order.
    */
  def pqSubCode(sub: Column, centroids: Seq[Seq[Double]]): Column = {
    val dists = array(centroids.map(c => scaledSqDist(sub, c)): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** All M PQ codes for a vector of dims = M · subDim, as an int array.
    * codebook(k) is the k-th codebook vector (full dims); subvector m of
    * row k is centroid k of subspace m. Codebook rows are driver-side
    * constants (metadata scale — same pattern as IVF seeds), so this is
    * a pure per-row expression: no shuffle, no UDF.
    */
  def pqCodes(vd: Column, codebook: Seq[Seq[Double]], m: Int): Column = {
    require(codebook.nonEmpty && codebook.head.length % m == 0, "dims must divide into m subspaces")
    val subDim = codebook.head.length / m
    val codes = (0 until m).map { mi =>
      val sub = slice(vd, mi * subDim + 1, subDim)
      pqSubCode(sub, codebook.map(_.slice(mi * subDim, (mi + 1) * subDim)))
    }
    array(codes: _*)
  }

  // ------------------------------------------------- asymmetric distance

  /** ADC lookup tables for one query vector: lut(m)(k) = scaled squared
    * L2 distance between the query's m-th subvector and centroid k of
    * subspace m. Driver-side longs (M·K values — metadata scale),
    * computed with the exact floor-scaled arithmetic the Spark and
    * DuckDB sides use, so all three agree bit-for-bit.
    */
  def adcLuts(query: Seq[Double], codebook: Seq[Seq[Double]], m: Int): Seq[Seq[Long]] = {
    require(codebook.nonEmpty && codebook.head.length % m == 0, "dims must divide into m subspaces")
    val subDim = codebook.head.length / m
    (0 until m).map { mi =>
      val qs = query.slice(mi * subDim, (mi + 1) * subDim)
      codebook.map { row =>
        val cs = row.slice(mi * subDim, (mi + 1) * subDim)
        qs.zip(cs).map { case (x, y) => math.floor((x - y) * (x - y) * Scale).toLong }.sum
      }
    }
  }

  /** ADC distance of a PQ-coded vector to the query behind `luts`:
    * Σ_m lut(m)(code_m). The whole scan reads ONLY the code column —
    * at 100 TB that is the 32×-compressed candidate sweep (8 bytes per
    * vector instead of 256), with exact re-rank reserved for the
    * survivors. Pure literal-array lookups + an 8-term sum: codegen'd,
    * no shuffle, no UDF.
    */
  def adcDistance(codes: Column, luts: Seq[Seq[Long]]): Column =
    luts.zipWithIndex.map { case (lut, mi) =>
      element_at(array(lut.map(lit): _*), element_at(codes, mi + 1) + 1)
    }.reduce(_ + _)

  /** Per-dimension winsorization (outlier clipping) over the first
    * `dims` embedding components — the feature-normalization pass before
    * quantization (a single outlier otherwise stretches the int8 range
    * and crushes resolution for every other value). Bounds are EXACT
    * rank-selected order statistics — the value at 0-based sorted index
    * floor(p·(n-1)) — so there is no interpolation arithmetic to diverge
    * between engines and the result is partitioning-independent (equal
    * values at the cut rank yield the same bound whatever their tie
    * order). Two passes: a per-dimension sort (parallel across dims;
    * at extreme scale swap the exact rank for a mergeable sketch, the
    * clip pass is unchanged), then a broadcast join + codegen'd clip.
    * Output: one row per (id, dim) with x, lo, hi, clipped.
    */
  /** FEATURE-STANDARDIZATION census (the z-scoring audit a feature
    * pipeline runs before training): per dimension, n, mean, and the
    * 3σ-outlier count, all deterministic. Values enter fixed point
    * once (xs = ⌊x·10⁶⌋, the scaledDot discipline), so the per-dim
    * sums Σxs / Σxs² are exact order-free bigints; the outlier test
    * |x−μ| > 3σ is compared as (n·xs − S)² > 9·(n·Q − S²) with both
    * sides as fixed-order doubles (n·Q exceeds int64 at corpus scale;
    * correctly-rounded double products are engine-identical). One
    * explode pass + one 64-row broadcast back — no window, no sort.
    */
  def standardizeCensus(emb: DataFrame, idCol: String, vecCol: String,
                        dims: Int): DataFrame = {
    val xs = emb.select(col(idCol),
        posexplode(slice(col(vecCol), 1, dims).cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("xs", floor(col("x") * lit(1e6)).cast("long"))
    val st = xs.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xs")).as("sd"),
        sum(col("xs") * col("xs")).as("qd"))
    val dev = (col("n") * col("xs") - col("sd")).cast("double")
    xs.join(broadcast(st), Seq("dim"))
      .withColumn("lhs", dev * dev)
      .withColumn("rhs",
        lit(9.0) * (col("n").cast("double") * col("qd").cast("double")
          - col("sd").cast("double") * col("sd").cast("double")))
      .groupBy(col("dim"))
      .agg(max(col("n")).as("n_vecs"),
        (max(col("sd")).cast("double")
          / (max(col("n")).cast("double") * lit(1e6))).as("mu"),
        sum(when(col("lhs") > col("rhs"), 1L).otherwise(0L)).as("n_outliers3"))
  }

  /** ONE-PASS exact second-moment census over fixed-point vectors —
    * the summary relation shared by the batch PCA ([[pcaTopComponent]])
    * and its streaming twin (q_stream_pca's per-micro-batch partials).
    * Input: a relation with one `q ARRAY<BIGINT>` column (length
    * `dims`). Output rows, all exact integer sums:
    *   - (i, j, p) with 0 ≤ i ≤ j < dims: Σ q[i]·q[j] (upper triangle),
    *   - (i, −1, p): Σ q[i] (margins),
    *   - (−1, −1, p): row count.
    *
    * r17 shape (guide §2.3): the per-row dims(dims+1)/2 products ride a
    * FLATTENED array and one [[graft.functions.LongVecSumAgg]] — a tight
    * primitive-long fold per row, one ~17 KB vector per partition into
    * the final merge — replacing the explode of 2,080 structs per row
    * into a dims²-key hash aggregate (~21M generated rows at sf0.1) and
    * collapsing the former three corpus passes (pairs, margins, count)
    * into one. The dims²-sized readout explodes from the single
    * aggregated row; sums are exact integers, so the result is
    * bit-identical to the explode/groupBy spelling on any partitioning.
    */
  def momentTriples(vecsQ: DataFrame, dims: Int): DataFrame = {
    val flatLen = dims * (dims + 1) / 2
    val rowArr = expr(
      """concat(
        |  flatten(transform(q, (xi, i) ->
        |    transform(slice(q, i + 1, size(q) - i), xj -> xi * xj))),
        |  q,
        |  array(CAST(1 AS BIGINT)))""".stripMargin)
    // NULL-vector rows are EXCLUDED from the census, count included
    // (r17 verdict #4: the count used to ride count(lit(1)) — which
    // counted NULL rows — and now rides the appended 1 inside the
    // per-row array, which a NULL q would silently drop from `n` while
    // never contributing products; the explicit filter makes the
    // "census = non-null vectors only" contract visible and identical
    // under both spellings)
    val sums = vecsQ.where(col("q").isNotNull).select(rowArr.as("r"))
      .agg(call_function("graft_lvecsum", col("r")).as("s"))
    // flat upper-triangle offset of (i, j): i rows of shrinking width
    // before row i (Σ_{t<i}(dims−t) = i·dims − i(i−1)/2), then (j − i);
    // +1 for element_at's 1-based indexing. Integer-exact: i(i−1) even.
    sums.select(explode(expr(
      s"""concat(
         |  flatten(transform(sequence(0, ${dims - 1}), i ->
         |    transform(sequence(i, ${dims - 1}), j -> named_struct(
         |      'i', i, 'j', j,
         |      'p', element_at(s, CAST(i * $dims - (i * (i - 1)) div 2 + (j - i) + 1 AS INT)))))),
         |  transform(sequence(0, ${dims - 1}), i -> named_struct(
         |    'i', i, 'j', -1,
         |    'p', element_at(s, CAST($flatLen + i + 1 AS INT)))),
         |  array(named_struct('i', -1, 'j', -1,
         |    'p', element_at(s, ${flatLen + dims + 1}))))""".stripMargin)).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.p").as("p"))
      // empty input: the aggregate yields NULL sums — drop the phantom
      // triples so the census is empty, matching the explode spelling
      .where(col("p").isNotNull)
  }

  /** TOP PRINCIPAL COMPONENT by distributed power iteration, all-
    * integer: vectors enter 1e4 fixed point once (⌊x·10⁴⌋ — coarser
    * than standardizeCensus's 1e6 so the raw second-moment sums stay
    * BIGINT to ~10⁹ rows), the scaled covariance C = n·P − S·Sᵀ is
    * exact DECIMAL(38,0), and each iteration renormalizes by max-abs
    * with a SIGN-DECOMPOSED ppm division (sign(u)·(|u|·10⁶ div m) —
    * truncating div and floor div disagree on negatives across engines,
    * so the division only ever sees magnitudes; the q_win_slope rule).
    *
    * Scale shape: the ONLY data-sized pass is the single elementwise
    * vector-sum aggregation over the per-row flattened upper-triangle
    * product array ([[momentTriples]]) — each partition collapses to one
    * (dims(dims+1)/2 + dims + 1)-long vector before the shuffle, so
    * 100 TB moves one ~17 KB vector per partition, never n·dims².
    * Everything after is dimension-sized (dims² ≤ 4096 rows) broadcast
    * arithmetic; iterations cost nothing at scale.
    */
  def pcaTopComponent(emb: DataFrame, vecCol: String, dims: Int,
                      iters: Int): DataFrame = {
    val q = emb.select(expr(
        s"transform(slice($vecCol, 1, $dims), x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))")
        .as("q"))
    // pairs + margins + count from ONE corpus pass (r17: the former
    // 3-pass explode/groupBy census — ~21M generated struct rows at
    // sf0.1 — is now a per-row array fold; see momentTriples), then the
    // dims²-sized power iteration runs locally (see pcaPowerLocal)
    pcaPowerLocal(momentTriples(q, dims), dims, iters)
  }

  /** Driver-side integer power iteration over the COLLECTED moment
    * triples — the readout half of [[pcaTopComponent]] and of
    * q_stream_pca's merged micro-batch partials. The collect is
    * dims²-sized (≤ dims(dims+1)/2 + dims + 1 rows — the covariance
    * summary, CORPUS-SIZE-INDEPENDENT; Spark MLlib's own
    * RowMatrix.computePrincipalComponents collects the Gramian and
    * eigensolves on the driver for exactly this reason). r17: the former
    * in-plan spelling nested `iters` join+aggregate+broadcast rounds
    * into one ~230-operator adaptive plan — seconds of planning/codegen
    * for arithmetic on ≤ 4096 values (guide §1.2). BigInteger replays
    * the DECIMAL(38,0) arithmetic exactly (a value overflowing 38 digits
    * would have errored under ANSI, so every engine value is exact, and
    * `div`'s truncation only ever sees magnitudes — the sign-decomposed
    * ppm rule); results are bit-identical.
    */
  def pcaPowerLocal(trips: DataFrame, dims: Int, iters: Int): DataFrame = {
    val spark = trips.sparkSession
    import spark.implicits._
    val rows = trips.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    if (rows.isEmpty) // empty corpus: the in-plan spelling yielded 0 rows
      return Seq.empty[(Long, Long)].toDF("dim", "v_ppm")
    val n = BigInt(rows.find(t => t._1 == -1 && t._2 == -1).map(_._3).getOrElse(0L))
    val s = Array.fill(dims)(BigInt(0))
    rows.foreach { case (i, j, p) => if (i >= 0 && j == -1) s(i) = BigInt(p) }
    // symmetric scaled covariance C = n·P − S·Sᵀ from the upper triangle
    val c = Array.fill(dims, dims)(BigInt(0))
    rows.foreach { case (i, j, p) =>
      if (i >= 0 && j >= 0) {
        val v = n * BigInt(p) - s(i) * s(j)
        c(i)(j) = v; c(j)(i) = v
      }
    }
    var v = Array.fill(dims)(BigInt(1000000L))
    for (_ <- 1 to iters) {
      val u = Array.tabulate(dims) { i =>
        var acc = BigInt(0); var j = 0
        while (j < dims) { acc += c(i)(j) * v(j); j += 1 }; acc
      }
      val m = u.map(_.abs).max
      // degenerate corpus (single row / all-identical vectors): C = 0 so
      // every u is 0 — the former in-plan DECIMAL `div` yielded NULL
      // v_ppm rows instead of dividing by zero (ADVICE r17); replay that
      if (m == 0)
        return (0 until dims).map(i => (i.toLong, Option.empty[Long]))
          .toDF("dim", "v_ppm")
      v = u.map(x => (if (x < 0) BigInt(-1) else BigInt(1)) * (x.abs * 1000000 / m))
    }
    (0 until dims).map(i => (i.toLong, v(i).toLong)).toDF("dim", "v_ppm")
  }

  def winsorize(emb: DataFrame, idCol: String, vecCol: String,
                dims: Int, pLo: Double, pHi: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val x = emb.select(col(idCol),
      posexplode(slice(col(vecCol), 1, dims).cast("array<double>")).as(Seq("dim", "x")))
    val w = Window.partitionBy(col("dim")).orderBy(col("x"))
    val cw = Window.partitionBy(col("dim"))
    val bounds = x.select(col("dim"), col("x"))
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("cnt", count(lit(1)).over(cw))
      .groupBy(col("dim"))
      .agg(
        min(when(col("rn") === floor(lit(pLo) * (col("cnt") - 1)), col("x"))).as("lo"),
        min(when(col("rn") === floor(lit(pHi) * (col("cnt") - 1)), col("x"))).as("hi"))
    x.join(broadcast(bounds), Seq("dim"))
      .withColumn("clipped", least(greatest(col("x"), col("lo")), col("hi")))
  }
}
