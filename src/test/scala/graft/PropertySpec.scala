package graft

import scala.util.Random
import graft.model._
import graft.engine.QueryBuilder
import graft.transform.Transforms

/** Property-style tests the reference never had (SURVEY §5): operator
  * algebra checked over seeded-random configurations against an
  * in-memory model (deterministic — fixed seed).
  */
class PropertySpec extends SparkSpec {

  private lazy val lineitem = {
    val df = QueryBuilder.scan(spark, sf001, "lineitem")
      .select("l_orderkey", "l_quantity", "l_returnflag").cache()
    df.count()
    df
  }
  private lazy val rows = lineitem.collect()
    .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq

  test("numeric filter operators agree with the in-memory model (25 random configs)") {
    val rnd = new Random(42)
    val ops = Seq("=", "!=", ">", ">=", "<", "<=")
    (1 to 25).foreach { _ =>
      val op = ops(rnd.nextInt(ops.length))
      val v = (rnd.nextInt(50) + 1).toDouble
      val got = QueryBuilder.build(spark, sf001, Connector(
        "lineitem", fields = Seq("l_orderkey"),
        filters = Seq(Filter("l_quantity", op, v)), limit = 0)).count()
      val want = rows.count { case (_, q, _) =>
        op match {
          case "="  => q == v
          case "!=" => q != v
          case ">"  => q > v
          case ">=" => q >= v
          case "<"  => q < v
          case "<=" => q <= v
        }
      }
      assert(got == want.toLong, s"$op $v")
    }
  }

  test("conjunctive filters equal intersection of single filters (10 random configs)") {
    val rnd = new Random(7)
    (1 to 10).foreach { _ =>
      val a = (rnd.nextInt(50) + 1).toDouble
      val b = (rnd.nextInt(50) + 1).toDouble
      val both = QueryBuilder.build(spark, sf001, Connector(
        "lineitem", filters = Seq(Filter("l_quantity", ">", a), Filter("l_quantity", "<=", b)),
        limit = 0)).count()
      val want = rows.count { case (_, q, _) => q > a && q <= b }
      assert(both == want.toLong, s"($a, $b]")
    }
  }

  test("limit/offset pagination tiles the sorted table without gaps or overlap") {
    val rnd = new Random(11)
    (1 to 8).foreach { _ =>
      val pageSize = rnd.nextInt(499) + 1
      val total = rows.length
      val pages = (0 until math.min(3, (total + pageSize - 1) / pageSize)).map { p =>
        QueryBuilder.build(spark, sf001, Connector(
          "lineitem", fields = Seq("l_orderkey", "l_quantity"),
          sort = Seq(Sort.asc("l_orderkey"), Sort.asc("l_quantity")),
          offset = p.toLong * pageSize, limit = pageSize)).count()
      }
      assert(pages.forall(_ <= pageSize))
      assert(pages.sum == math.min(pages.length.toLong * pageSize, total.toLong))
    }
  }

  test("uppercase/lowercase/trim are idempotent on random padded strings") {
    import spark.implicits._
    val rnd = new Random(3)
    val strs = (1 to 40).map(_ => "  " + rnd.alphanumeric.take(rnd.nextInt(12)).mkString + " ")
    val df = strs.toDF("v")
    def once(t: String) = Transforms.applyAll(df, Seq(Transformation(t, field = "v", to = "o")))
      .select("o").as[String].collect().toSeq
    def twice(t: String) = Transforms.applyAll(df, Seq(
      Transformation(t, field = "v", to = "o"),
      Transformation(t, field = "o", to = "o"))).select("o").as[String].collect().toSeq
    Seq("uppercase", "lowercase", "trim").foreach(t => assert(once(t) == twice(t), t))
  }

  test("toNumber matches JS parseFloat || 0 on random numeric-ish strings") {
    import spark.implicits._
    val rnd = new Random(99)
    val strs = (1 to 60).map { i =>
      i % 4 match {
        case 0 => (rnd.nextDouble() * 2e6 - 1e6).toString
        case 1 => s"${rnd.nextInt(10000)} junk"
        case 2 => rnd.alphanumeric.dropWhile(_.isDigit).take(8).mkString
        case _ => ""
      }
    }
    val got = Transforms.applyAll(strs.toDF("v"),
      Seq(Transformation("toNumber", field = "v", to = "n")))
      .select("n").as[Double].collect().toSeq
    val pat = "^[ \\t\\n]*([-+]?(?:[0-9]+\\.?[0-9]*(?:[eE][-+]?[0-9]+)?|\\.[0-9]+(?:[eE][-+]?[0-9]+)?))".r
    val want = strs.map { s =>
      pat.findFirstMatchIn(s).map(_.group(1).toDouble)
        .filter(d => d != 0.0 && !d.isNaN).getOrElse(0.0)
    }
    assert(got == want)
  }

  test("CUSUM telescoping ≡ the sequential recursion (20 random series)") {
    // S⁺_t = max(0, S⁺_{t-1} + d_t) must equal P_t − min(0, min_{j≤t} P_j)
    // — the identity q_ts_cusum's window form rests on
    val rnd = new Random(7)
    (1 to 20).foreach { _ =>
      val d = Seq.fill(rnd.nextInt(50) + 1)(rnd.nextInt(21) - 10L)
      val recursive = d.scanLeft(0L)((s, x) => math.max(0L, s + x)).tail
      val prefix = d.scanLeft(0L)(_ + _).tail
      val telescoped = prefix.zipWithIndex.map { case (p, i) =>
        p - math.min(0L, prefix.take(i + 1).min)
      }
      assert(recursive == telescoped, s"series $d")
    }
  }

  test("intervalJoin ≡ naive overlap filter on random interval sets (10 configs)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new Random(13)
    (1 to 10).foreach { i =>
      def mk(n: Int) = Seq.tabulate(n) { k =>
        val lo = rnd.nextInt(200).toLong
        (k.toLong, lo, lo + rnd.nextInt(30))
      }
      val a = mk(rnd.nextInt(30) + 5).toDF("aid", "a_lo", "a_hi")
      val b = mk(rnd.nextInt(30) + 5).toDF("bid", "b_lo", "b_hi")
      val bw = rnd.nextInt(20) + 1L
      val got = graft.ops.Joins.intervalJoin(a, "a_lo", "a_hi", b, "b_lo", "b_hi", bw)
        .select("aid", "bid").as[(Long, Long)].collect().toSeq
      val naive = a.crossJoin(b)
        .filter(col("a_lo") <= col("b_hi") && col("b_lo") <= col("a_hi"))
        .select("aid", "bid").as[(Long, Long)].collect().toSeq
      assert(got.sorted == naive.sorted, s"config $i binWidth $bw")
      assert(got.size == got.toSet.size, s"config $i produced duplicate pairs")
    }
  }

  test("JPEG header decoder round-trips random dimensions and component counts") {
    val rnd = new Random(99)
    import spark.implicits._
    val ids = Seq.fill(40)(rnd.nextInt(100000).toLong).distinct.toDF("id")
    import graft.ops.Multimodal
    val dims = Multimodal.decode(Multimodal.fixtures(ids, "id")(Multimodal.syntheticJpeg))(
      Multimodal.decodeJpegHeader)
      .as[Multimodal.JpegDims].collect()
    dims.foreach { j =>
      val id = j.media_id
      assert(j.height == 16 + (id % 240).toInt && j.width == 32 + (id % 200).toInt)
      assert(j.n_components == (if (id % 2 == 0) 3 else 1))
      assert(j.n_skipped == 2 + (id % 2).toInt)
    }
  }

  test("ppJoin ≡ brute-force Jaccard on random corpora and thresholds (8 configs)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.Dedup
    val rnd = new Random(2024)
    val taus = Seq((1L, 2L), (3L, 5L), (7L, 10L), (1L, 4L))
    (1 to 8).foreach { cfg =>
      val vocab = (0 until 30).map(i => s"t$i")
      // overlapping random token sets: each doc draws 3-12 tokens, with
      // a shared "template" pool so some pairs land above tau
      val template = rnd.shuffle(vocab).take(8)
      val docs = (0 until 25).map { i =>
        val own = rnd.shuffle(vocab).take(3 + rnd.nextInt(10))
        val mixed = if (i % 3 == 0) (template ++ own.take(2)).distinct else own.distinct
        (i.toLong, mixed)
      }
      val (tn, td) = taus(cfg % taus.length)
      val toks = docs.flatMap { case (id, ts) => ts.map(id -> _) }.toDF("doc_id", "w")
      val got = Dedup.ppJoin(toks, tn, td)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val sets = docs.toMap.map { case (k, v) => k -> v.toSet }
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size.toLong
        uni = (sets(a) | sets(b)).size.toLong
        if inter * td >= uni * tn
      } yield (a, b, inter, uni)).toSet
      assert(got == want, s"config $cfg tau=$tn/$td: got ${got.size}, want ${want.size}")
    }
  }

  test("dHash invariances on random rasters: brightness shift exact, local edit near, deterministic") {
    import graft.ops.Multimodal
    import graft.ops.Multimodal.MediaRow
    val rnd = new Random(31337)
    (1 to 6).foreach { _ =>
      val w = 12 + rnd.nextInt(12); val h = 8 + rnd.nextInt(8)
      val px = Array.fill(w * h * 3)(rnd.nextInt(200))
      def mk(id: Long, f: Int => Int) = MediaRow(id, "ppm",
        s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++
          Array.tabulate(w * h * 3)(j => f(j).toByte))
      def hash(r: MediaRow) = Multimodal.decodePpmPhash(Iterator(r)).next().phash
      val h0 = hash(mk(1, px))
      assert(hash(mk(2, j => px(j) + 30)) == h0, s"brightness shift changed dHash ($w x $h)")
      assert(hash(mk(3, px)) == h0, "dHash not deterministic")
      val p = rnd.nextInt(w * h)
      val edited = hash(mk(4, j => if (j / 3 == p) 255 else px(j)))
      assert(java.lang.Long.bitCount(h0 ^ edited) <= 2, s"single-pixel edit flipped > 2 bits")
    }
  }

  test("audio fingerprint gain invariance: doubling every sample preserves the hash (5 random clips)") {
    import graft.ops.Multimodal
    import graft.ops.Multimodal.MediaRow
    val rnd = new Random(777)
    def wav(id: Long, samples: Array[Short]): MediaRow = {
      val n = samples.length
      val bb = java.nio.ByteBuffer.allocate(12 + 24 + 8 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(4 + 24 + 8 + 2 * n).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1).putInt(8000)
        .putInt(16000).putShort(2).putShort(16)
      bb.put("data".getBytes).putInt(2 * n)
      samples.foreach(bb.putShort)
      MediaRow(id, "audio/wav", bb.array())
    }
    def afp(r: MediaRow) = Multimodal.decodeWavAfp(Iterator(r)).next().afp
    (1 to 5).foreach { _ =>
      val n = 200 + rnd.nextInt(400)
      val s = Array.fill(n)((rnd.nextInt(4001) - 2000).toShort)
      val base = afp(wav(1, s))
      // 2x gain: every energy scales by 4, every comparison survives
      assert(afp(wav(2, s.map(v => (v * 2).toShort))) == base,
        "gain changed the fingerprint")
      assert(afp(wav(3, s)) == base, "fingerprint not deterministic")
    }
  }
}
