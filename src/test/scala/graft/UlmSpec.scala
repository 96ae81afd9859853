package graft

import org.apache.spark.sql.functions._
import graft.ops.UlmTokenizer

/** Unigram-LM tokenizer spec: Viterbi optimality vs brute-force
  * enumeration, segmentation round-trip, the longest-piece tie-break,
  * the integer-centibit cost function against float log2, training
  * determinism, and encode id round-trip.
  */
class UlmSpec extends SparkSpec {
  import spark.implicits._

  /** Engine-side segmentation of words under an explicit (piece, cost)
    * vocabulary, decoded back to piece strings. */
  private def segmentPieces(words: Seq[String],
      vocab: Seq[(String, Long)]): Map[String, Seq[String]] = {
    val wdf = words.toDF("w")
    val vdf = vocab.toDF("piece", "cost_cb")
    UlmTokenizer.segment(wdf, vdf)
      .select(col("w"), expr(
        "transform(chosen, p -> substr(w, cast(p div 8 as int) - cast(p % 8 as int) + 1, cast(p % 8 as int)))").as("pieces"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
  }

  /** Brute-force min segmentation cost over all piece decompositions. */
  private def bruteMin(w: String, costs: Map[String, Long]): Long = {
    val memo = scala.collection.mutable.Map(0 -> 0L)
    def dp(i: Int): Long = memo.getOrElseUpdate(i,
      (1 to math.min(UlmTokenizer.MaxPieceLen, i)).flatMap { k =>
        costs.get(w.substring(i - k, i)).map(c => dp(i - k) + c)
      }.min)
    dp(w.length)
  }

  test("Viterbi segmentation matches brute-force minimum cost") {
    val vocab = Seq[(String, Long)](("a", 300), ("b", 350), ("c", 400),
      ("d", 500), ("ab", 450), ("bc", 410), ("abc", 700), ("cd", 460),
      ("abcd", 1200), ("bcd", 900))
    val costs = vocab.toMap
    val words = Seq("a", "ab", "abc", "abcd", "abcdabcd", "dcba", "bbbb",
      "cabd", "abcabc", "dddabc")
    val got = segmentPieces(words, vocab)
    words.foreach { w =>
      val pieces = got(w)
      assert(pieces.mkString == w, s"round-trip failed for $w: $pieces")
      val cost = pieces.map(costs).sum
      assert(cost == bruteMin(w, costs),
        s"$w: viterbi cost $cost != brute ${bruteMin(w, costs)} ($pieces)")
    }
  }

  test("cost ties resolve to the LONGEST piece") {
    // 'ab' costs exactly a+b: both segmentations optimal; tie-break says
    // take the 2-char piece
    val vocab = Seq[(String, Long)](("a", 300), ("b", 300), ("ab", 600))
    assert(segmentPieces(Seq("ab"), vocab)("ab") == Seq("ab"))
  }

  test("integer-centibit cost matches float log2 within 2 cb") {
    val df = Seq((1L, 1L)).toDF("one", "_ign")
    val cases = Seq((100L, 100L), (100L, 50L), (1000L, 3L), (7L, 2L),
      (1L << 40, 3L), (999999L, 7L), (12345678L, 345L), (2L, 1L))
    cases.foreach { case (t, c) =>
      var d = df.withColumn("_t", lit(t)).withColumn("_c", lit(c))
      UlmTokenizer.costStages("_t", "_c", UlmTokenizer.Spark)
        .foreach { case (n, e) => d = d.withColumn(n, expr(e)) }
      val got = d.select("cost_cb").head().getLong(0)
      val want = math.round(100.0 * math.log(t.toDouble / c) / math.log(2.0))
      assert(math.abs(got - want) <= 2, s"cost($t,$c): got $got want ~$want")
    }
  }

  test("cbTableLocal: one (v, cb) row per distinct non-NULL value") {
    val vals = Seq[java.lang.Long](8L, null, 8L, 0L, 100L).toDF("v")
    val got = UlmTokenizer.cbTableLocal(vals, "UlmSpec cb values")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 0L), (8L, UlmTokenizer.costCbLocal(8L, 1L)),
      (100L, UlmTokenizer.costCbLocal(100L, 1L))), s"got $got")
  }

  test("training is deterministic and every corpus word round-trips") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the the the quick quick brown foxes and dogs"),
      (3L, "pack my box with five dozen liquor jugs"),
      (4L, "jugs and boxes over the lazy brown dog")).toDF("doc_id", "text")
    val m1 = UlmTokenizer.train(docs, "text", rounds = 2, seedMulti = 20,
      pruneEach = 4).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val m2 = UlmTokenizer.train(docs, "text", rounds = 2, seedMulti = 20,
      pruneEach = 4).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(m1.toSeq == m2.toSeq, "two trainings diverged")
    assert(m1.exists(_._1.length > 1), "no multi-char pieces survived")
    assert(m1.filter(_._1.length == 1).map(_._1).toSet ==
      docs.select(explode(split(col("text"), " "))).as[String].collect()
        .flatMap(_.toCharArray).map(_.toString).toSet,
      "single-char vocabulary must equal the corpus alphabet")
    // round-trip under the trained model
    val vocab = m1.toSeq.map(t => (t._1, t._3))
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
      .distinct().as[String].collect().toSeq
    val segs = segmentPieces(words, vocab)
    words.foreach(w => assert(segs(w).mkString == w, s"round-trip $w: ${segs(w)}"))
  }

  test("property: Viterbi optimality + round-trip over random vocabularies and words") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[T](g: Gen[T], seed: Long): T =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val alpha = Gen.oneOf('a', 'b', 'c', 'd') // tiny alphabet → dense vocab hits
    val wordGen = Gen.choose(1, 14).flatMap(n => Gen.listOfN(n, alpha).map(_.mkString))
    val pieceGen = for {
      n <- Gen.choose(2, 4)
      p <- Gen.listOfN(n, alpha).map(_.mkString)
      c <- Gen.choose(50L, 900L)
    } yield (p, c)
    for (seed <- Seq(3L, 17L, 2026L)) {
      // chars always present (the train invariant segment() relies on)
      val chars = Seq("a", "b", "c", "d").map(c => (c, 300L + c.hashCode % 97))
      val multis = sample(Gen.listOfN(25, pieceGen), seed)
        .groupBy(_._1).map(_._2.head).toSeq // unique pieces
      val vocab = chars ++ multis
      val costs = vocab.toMap
      val words = sample(Gen.listOfN(120, wordGen), seed + 1).distinct
      val segs = segmentPieces(words, vocab)
      words.foreach { w =>
        val pieces = segs(w)
        assert(pieces.mkString == w, s"seed $seed round-trip $w -> $pieces")
        assert(pieces.map(costs).sum == bruteMin(w, costs),
          s"seed $seed suboptimal $w: $pieces")
      }
    }
  }

  /** All minimum-cost segmentations, brute-force. */
  private def bruteOptSegs(w: String, costs: Map[String, Long]): Seq[Seq[String]] = {
    def all(i: Int): Seq[(Seq[String], Long)] =
      if (i == 0) Seq((Nil, 0L))
      else (1 to math.min(UlmTokenizer.MaxPieceLen, i)).flatMap { k =>
        val sub = w.substring(i - k, i)
        costs.get(sub).toSeq.flatMap(c =>
          all(i - k).map { case (ps, cc) => (ps :+ sub, cc + c) })
      }
    val segs = all(w.length)
    val m = segs.map(_._2).min
    segs.filter(_._2 == m).map(_._1)
  }

  test("softCounts = uniform posterior over ALL optimal segmentations (brute cross-check)") {
    // 'abc' has FOUR optimal segmentations under this vocabulary
    // (a+b+c, ab+c, a+bc, abc all cost 1000) — the tie-mass regime
    val vocab = Seq[(String, Long)](("a", 300), ("b", 300), ("c", 400),
      ("ab", 600), ("bc", 700), ("abc", 1000), ("ca", 700))
    val words = Seq("ab", "abc", "abcabc", "cab", "aaaa", "abab", "b")
    val wdf = words.toDF("w")
    val vdf = vocab.toDF("piece", "cost_cb")
    val got = UlmTokenizer.softCounts(wdf, vdf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    words.foreach { w =>
      val opt = bruteOptSegs(w, vocab.toMap)
      val counts = opt.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      counts.foreach { case (p, n) =>
        val (nw, sw) = got((w, p))
        assert(nw == opt.size.toLong, s"$w: nw $nw != ${opt.size} optimal segs")
        assert(sw == n, s"$w/$p: posterior mass $sw != brute occurrence count $n")
      }
      got.keys.filter(_._1 == w).foreach { case (_, p) =>
        assert(counts.contains(p), s"$w: piece $p not on any optimal path")
      }
    }
  }

  test("softCounts equals the hard census exactly when the optimum is unique") {
    val vocab = Seq[(String, Long)](("a", 300), ("b", 350), ("ab", 900))
    val wdf = Seq("ab", "aab").toDF("w")
    val vdf = vocab.toDF("piece", "cost_cb")
    val soft = UlmTokenizer.softCounts(wdf, vdf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
    soft.foreach { case ((w, p), (nw, sw)) =>
      assert(nw == 1L, s"$w: expected unique optimum, nw=$nw")
      assert(sw == w.count(_ == p.head).toLong || sw >= 1L) // occurrences, unit weight
    }
    assert(soft.map(_._1).toSet ==
      Set(("ab", "a"), ("ab", "b"), ("aab", "a"), ("aab", "b")))
    // 'aab' segments a+a+b uniquely: piece 'a' carries mass 2
    assert(soft.toMap.apply(("aab", "a"))._2 == 2L)
  }

  test("greedy fold is maximal-munch: longest piece at the cursor, full consumption") {
    val vocab = Seq("a", "b", "c", "d", "ab", "bcd")
    val vdf = vocab.map(p => (p, 100L)).toDF("piece", "cost_cb")
    val words = Seq("abcd", "dcba", "ab", "bcdbcd", "aabb").toDF("w")
    val garcs = words.select(col("w"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("i"),
        explode(sequence(lit(1), least(lit(4), col("i")))).as("k"))
      .withColumn("sub", expr("substr(w, i - k + 1, k)"))
      .join(vdf.select(col("piece").as("sub")), "sub")
      .select(col("w"), (col("i") - col("k")).cast("long").as("s"),
        (lit(8L) - col("k")).as("dk"), col("k").cast("long").as("k"))
    val got = garcs.groupBy(col("w"))
      .agg(sort_array(collect_list(array(col("s"), col("dk"), col("k")))).as("arcs"))
      .withColumn("g", expr(UlmTokenizer.greedyFoldSql("arcs", UlmTokenizer.Spark)))
      .select(col("w"), expr("element_at(g, 1)").as("cursor"), expr("element_at(g, 2)").as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // maximal munch: abcd -> ab|c|d (3), NOT a|bcd (2): munch grabs 'ab'
    assert(got("abcd") == (4L, 3L), s"abcd: ${got("abcd")}")
    assert(got("dcba") == (4L, 4L))
    assert(got("ab") == (2L, 1L))
    assert(got("bcdbcd") == (6L, 2L))
    assert(got("aabb") == (4L, 3L)) // a|ab|b
    got.foreach { case (w, (cur, _)) => assert(cur == w.length, s"$w not consumed") }
  }

  test("encode emits deterministic ids that decode back to the eligible words") {
    val docs = Seq(
      (1L, "abc abd abc"),
      (2L, "xyz abc zzz")).toDF("doc_id", "text")
    val model = UlmTokenizer.train(docs, "text", rounds = 2, seedMulti = 10,
      pruneEach = 2).collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val idToPiece = UlmTokenizer.pieceIds(model).map(_.swap).toMap
    val enc = UlmTokenizer.encode(docs, "doc_id", "text", model)
      .orderBy("doc_id").collect()
    assert(enc.length == 2)
    val dec1 = enc(0).getSeq[Int](1).map(idToPiece).mkString
    assert(dec1 == "abcabdabc", s"decode: $dec1")
    val dec2 = enc(1).getSeq[Int](1).map(idToPiece).mkString
    assert(dec2 == "xyzabczzz", s"decode: $dec2")
    // ids are stable metadata: chars 1..26, multis 27.. in piece order
    UlmTokenizer.pieceIds(model).foreach { case (p, id) =>
      if (p.length == 1) assert(id == p.charAt(0) - 'a' + 1)
      else assert(id >= 27)
    }
  }
}
