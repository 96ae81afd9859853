package graft

import org.apache.spark.sql.functions._
import graft.ops.Quantize

class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  test("int8: levels in [-127,127], reconstruction within one step, zero vector safe") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)) // all-zero: scale 0, levels 0
    ).toDF("id", "v")
    val vd = col("v").cast("array<double>")
    val out = df.select(col("id"), Quantize.int8Scale(vd).as("s"),
        Quantize.int8Levels(vd).as("q"),
        Quantize.int8ReconError(vd, Quantize.int8Levels(vd), Quantize.int8Scale(vd)).as("err"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    val s1 = r1.getDouble(1)
    val q1 = r1.getSeq[Long](2)
    assert(q1.forall(q => q >= -127 && q <= 127))
    assert(q1(1) == -127L) // the max-|x| element hits the rail exactly
    // each |x - q·s| < s (floor quantization step), so total < 4·s·1e12
    assert(r1.getLong(3) < (4 * s1 * 1e12).toLong)
    val r2 = out(2L)
    assert(r2.getDouble(1) == 0.0 && r2.getSeq[Long](2).forall(_ == 0L) && r2.getLong(3) == 0L)
  }

  test("pq: codebook rows self-assign; ties break to lowest index") {
    val codebook = Seq(Seq(0.0, 0.0, 1.0, 1.0), Seq(1.0, 1.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0, 1.0))
    val df = Seq(
      (0L, Seq(0.0f, 0.0f, 1.0f, 1.0f)),  // = codebook row 0 → codes (0,0)
      (1L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),  // = row 1 → (1,1)
      (2L, Seq(1.0f, 1.0f, 1.0f, 1.0f))   // sub0 ties rows 1,2 → 1; sub1 ties rows 0,2 → 0
    ).toDF("id", "v")
    val codes = df.select(col("id"), Quantize.pqCodes(col("v").cast("array<double>"), codebook, 2).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes(0L) == Seq(0, 0))
    assert(codes(1L) == Seq(1, 1))
    assert(codes(2L) == Seq(1, 0))
  }

  test("adc: LUT-sum distance equals direct sub-distance to the assigned centroids") {
    // 2 subspaces of 2 dims, K=2 centroids; query off-grid
    val codebook = Seq(Seq(0.0, 0.0, 1.0, 1.0), Seq(2.0, 2.0, 3.0, 3.0))
    val query = Seq(0.5, 0.25, 2.5, 2.75)
    val luts = Quantize.adcLuts(query, codebook, m = 2)
    // lut(m)(k) must be the floor-scaled sq dist of the query sub to centroid k
    assert(luts(0)(0) == (math.floor(0.25e12).toLong + math.floor(0.0625e12).toLong))
    val df = Seq((1L, Seq(0.1f, 0.1f, 3.1f, 3.1f)), (2L, Seq(2.2f, 1.9f, 0.9f, 1.2f))).toDF("id", "v")
    val vd = col("v").cast("array<double>")
    val codes = Quantize.pqCodes(vd, codebook, 2)
    val out = df.select(col("id"), codes.as("c"),
        Quantize.adcDistance(codes, luts).as("d"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[Int](1), r.getLong(2)))).toMap
    // vector 1 assigns to centroids (0, 1); vector 2 to (1, 0)
    assert(out.view.mapValues(_._1).toMap == Map(1L -> Seq(0, 1), 2L -> Seq(1, 0)))
    // ADC distance = sum of the query-to-assigned-centroid LUT entries
    assert(out(1L)._2 == luts(0)(0) + luts(1)(1))
    assert(out(2L)._2 == luts(0)(1) + luts(1)(0))
  }

  test("JL projection: valid cosines, exact full-dim arithmetic, useful distortion") {
    val rows = graft.queries.QuantizeQueries.queries("q_embed_jl")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, cf, cj, _) =>
      math.abs(cf) <= 1.0000001 && math.abs(cj) <= 1.0000001 })
    // the full-dim side must be the exact scaledDot cosine
    val emb = graft.engine.QueryBuilder.scan(spark, "/root/testdata/sf0.001", "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    rows.foreach { case (ida, cf, _, _) =>
      assert(cf == graft.ops.Similarity.cosineLocal(emb(ida), emb(ida + 1)), s"pair $ida")
    }
    // 16 random ±1 planes preserve cosine to well under 0.5 on average
    val meanErr = rows.map(_._4).sum / rows.length
    assert(meanErr < 500000L, s"mean distortion $meanErr ppm — projection broken")
  }

  test("momentTriples: NULL-vector rows are excluded from the census count (r17 verdict #4)") {
    val dims = 2
    val withNull = Seq(Some(Seq(1L, 2L)), None, Some(Seq(3L, 4L)))
      .toDF("q")
    val trips = Quantize.momentTriples(withNull, dims)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    // count rides (-1,-1): 2 non-null rows, the NULL row contributes nothing
    assert(trips((-1, -1)) == 2L)
    assert(trips((0, 0)) == 1L * 1 + 3L * 3)
    assert(trips((0, 1)) == 1L * 2 + 3L * 4)
    assert(trips((1, -1)) == 2L + 4L)
  }

  test("pcaPowerLocal: degenerate corpus (C = 0) yields NULL v_ppm, not a crash (ADVICE r17)") {
    // one row: n·P − S·Sᵀ = 0 for every entry, so every power-iterate is 0
    val one = Seq(Seq(5L, 7L, 9L)).toDF("q")
    val out = Quantize.pcaTopComponent(
      one.select(expr("transform(q, x -> CAST(x AS FLOAT))").as("v")), "v", 3, 3)
      .collect()
    assert(out.length == 3)
    assert(out.forall(_.isNullAt(1)), "degenerate corpus must replay the old NULL div result")
  }

  test("graft_lvecsum: null elements and non-bigint arrays fail loudly (ADVICE r17)") {
    val nullElem = Seq(Tuple1(Seq(Some(1L), None))).toDF("r")
    val e1 = intercept[Exception] {
      nullElem.agg(call_function("graft_lvecsum", col("r"))).collect()
    }
    assert(e1.getMessage != null)
    val wrongType = Seq(Tuple1(Seq(1.5, 2.5))).toDF("r")
    val e2 = intercept[Exception] {
      wrongType.agg(call_function("graft_lvecsum", col("r"))).collect()
    }
    assert(e2.getMessage.toLowerCase.contains("bigint")
      || e2.getMessage.contains("DATATYPE_MISMATCH"))
  }
}
