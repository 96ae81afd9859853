package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer — the OTHER tokenizer
  * family real LLM pipelines train (Kudo 2018, "Subword Regularization";
  * the reference's split/replace transform pair,
  * src/utils/transform.ts:79-101, is again the schema seam): a piece
  * VOCABULARY with per-piece costs, Viterbi segmentation of every word
  * into the minimum-cost piece sequence, and hard-EM training rounds
  * that re-estimate costs from segmentation usage and PRUNE the
  * lowest-usage pieces — vs BPE's greedy merge growth, ULM starts from
  * a large seed vocabulary and shrinks it.
  *
  * Deliberate deviations from Kudo 2018, chosen so BOTH engines (Spark
  * and the DuckDB oracle) replay training bit-for-bit from raw data:
  *  - hard EM (Viterbi counts), not soft EM (forward-backward expected
  *    counts) — a recognized variant; every E-step count is an exact
  *    integer census of the argmin segmentations;
  *  - piece costs are INTEGER CENTIBITS: cost_cb = the fixed-point
  *    integer algorithm in [[costStages]] computing
  *    round(100·log2(T ⁄ count)) with 7 fractional bits, pure int64
  *    arithmetic — no libm call whose last-ulp rounding could differ
  *    between engines (the q_ts_dft shared-table trick, generalized to
  *    a shared ALGORITHM);
  *  - pruning drops the `pruneEach` lowest-USAGE multi-char pieces per
  *    round (usage asc, piece asc — total order) instead of
  *    likelihood-loss ranking; single chars are immortal so every word
  *    stays segmentable;
  *  - zero-usage survivors get a usage floor of 1 in the cost
  *    denominator (add-hold smoothing) so costs stay finite.
  *
  * Everything after the word census is VOCABULARY-SIZED, exactly like
  * [[CorpusOps.bpeTrain]]: the census is one explode→groupBy over token
  * instances; each EM round joins the distinct-word arc table against a
  * ~70-row broadcast vocabulary, folds two O(len·4) array aggregates
  * per DISTINCT word (whole-stage codegen'd HOFs, no UDFs), and prunes
  * a vocab-sized table. At 100 TB the corpus pass is the census; the EM
  * loop's cost is corpus-size-INDEPENDENT given the census. Per-round
  * localCheckpoint truncates the (tiny) vocabulary lineage.
  *
  * Both the Spark engine and the DuckDB oracle are generated from the
  * SAME fragment builders below, parameterized by [[Dialect]] — the
  * algorithm exists once; only array-primitive spellings differ.
  * Integer bound: the cost algorithm left-shifts totals by 20 bits, so
  * piece-instance totals must stay below 2^43 ≈ 8.8e12 — loose at any
  * achievable census (tokens, not bytes) and checked nowhere hot.
  */
object UlmTokenizer {

  val MaxPieceLen = 4
  val Rounds = 3
  val SeedMulti = 48
  val PruneEach = 8
  /** Half the multi-char pieces surviving training — the q_ulm_prune
    * ablation's reduced piece budget. */
  val KeepMulti = (SeedMulti - Rounds * PruneEach) / 2

  /** SQL spelling differences between Spark and DuckDB for the shared
    * fold/cost fragments. Element access is 1-indexed in both. */
  final case class Dialect(
      el: (String, String) => String,
      slice: (String, String, String) => String, // (arr, start, LENGTH)
      arr1: String => String,
      concat2: (String, String) => String,
      fold: (String, String, String) => String, // (list, init, body) with acc/a names
      size: String => String,
      rev: String => String,
      div: String)

  val Spark: Dialect = Dialect(
    el = (a, i) => s"element_at($a, cast(($i) as int))",
    slice = (a, s, l) => s"slice($a, cast(($s) as int), cast(($l) as int))",
    arr1 = x => s"array($x)",
    concat2 = (a, b) => s"concat($a, $b)",
    fold = (l, init, body) => s"aggregate($l, $init, (acc, a) -> $body)",
    size = a => s"size($a)",
    rev = a => s"reverse($a)",
    div = "div")

  val Duck: Dialect = Dialect(
    el = (a, i) => s"($a)[CAST(($i) AS INT)]",
    slice = (a, s, l) => s"list_slice($a, CAST(($s) AS INT), CAST(($s) + ($l) - 1 AS INT))",
    arr1 = x => s"[$x]",
    concat2 = (a, b) => s"list_concat($a, $b)",
    fold = (l, init, body) => s"list_reduce(list_prepend($init, $l), (acc, a) -> $body)",
    size = a => s"len($a)",
    rev = a => s"list_reverse($a)",
    div = "//")

  /** Forward Viterbi DP over a word's arc list (sorted ascending by
    * (i, k)): arcs are [i, k, cost] triples, one per vocabulary piece
    * ending at position i with length k; single chars are always in the
    * vocabulary, so every position has a k=1 arc and the fold never
    * skips. Accumulator = the dp list so far: dp[0..i] with dp[j] = the
    * min cost of segmenting the first j chars. Returns the full dp list
    * (length len(w)+1). */
  def dpFoldSql(arcs: String, D: Dialect): String = {
    val i = D.el("a", "1"); val k = D.el("a", "2"); val c = D.el("a", "3")
    val cand = s"${D.el("acc", s"($i) - ($k) + 1")} + ($c)"
    val body =
      s"CASE WHEN ${D.size("acc")} = $i " +
        s"THEN ${D.concat2("acc", D.arr1(cand))} " +
        s"ELSE ${D.concat2(D.slice("acc", "1", i),
          D.arr1(s"least(${D.el("acc", s"($i) + 1")}, $cand)"))} END"
    D.fold(arcs, D.arr1("CAST(0 AS BIGINT)"), body)
  }

  /** Backtrace fold over the REVERSED arc list ((i desc, k desc) — so
    * cost ties resolve to the LONGEST piece, the documented tie-break):
    * accumulator = [ptr, L, dp..., chosen...]; an arc is taken iff it
    * ends at the current pointer and lies on an optimal path
    * (dp[i-k] + c == dp[i]). Taking an arc moves the pointer to i-k, so
    * later same-i arcs can never match — first match wins
    * deterministically. Chosen pieces are appended as packed i*8+k
    * (k ≤ 4 < 8) in REVERSE word order; [[btChosen]] extracts them.
    *
    * The dp list rides INSIDE the accumulator (init = [L, L] ++ dp, so
    * dp[x] = acc[x+2]) instead of being read from the outer `dp`
    * column: the lambda body references ONLY `acc` and `a`. DuckDB's
    * list_reduce mis-binds outer column references against the wrong
    * ROW under a materialized-CTE scan (observed: 1 of 31 words got
    * another row's dp and emitted a segmentation that didn't even
    * concatenate back to the word; the same fold over a filtered
    * single-row scan was correct) — keeping the lambda closed over its
    * own arguments sidesteps the binding entirely, on both engines. */
  def btFoldSql(arcsRev: String, dp: String, wlen: String, D: Dialect): String = {
    val i = D.el("a", "1"); val k = D.el("a", "2"); val c = D.el("a", "3")
    val matches = s"($i) = ${D.el("acc", "1")} AND " +
      s"${D.el("acc", s"($i) - ($k) + 3")} + ($c) = ${D.el("acc", s"($i) + 3")}"
    val newAcc = D.concat2(
      D.arr1(s"${D.el("acc", "1")} - ($k)"),
      D.concat2(D.slice("acc", "2", s"${D.size("acc")} - 1"),
        D.arr1(s"($i) * 8 + ($k)")))
    val body = s"CASE WHEN $matches THEN $newAcc ELSE acc END"
    val init = D.concat2(
      D.concat2(D.arr1(s"CAST($wlen AS BIGINT)"), D.arr1(s"CAST($wlen AS BIGINT)")),
      dp)
    D.fold(arcsRev, init, body)
  }

  /** Chosen packed pieces from a [[btFoldSql]] result, in FORWARD word
    * order: the fixed prefix is [ptr, L, dp_0..dp_L] = L + 3 entries. */
  def btChosen(bt: String, D: Dialect): String =
    D.rev(D.slice(bt, s"${D.el(bt, "2")} + 4",
      s"${D.size(bt)} - ${D.el(bt, "2")} - 3"))

  /** The integer-centibit cost algorithm as staged (column, expr)
    * pairs: cb = round(100·log2(t ⁄ c)) with 7 fractional bits, every
    * step pure int64 (both sides: Spark withColumn chain / DuckDB
    * lateral column aliases).
    *  - kk = floor(log2(t div c)) via a descending CASE chain — exact,
    *    because floor(log2(t/c)) = bitlength(t div c) - 1;
    *  - p2k = 2^kk from the same chain (c·2^kk ≤ t, so no overflow);
    *  - m0 = (t·2^20) div (c·2^kk) ∈ [2^20, 2^21) — 20-bit fixed point
    *    of t/(c·2^kk) ∈ [1, 2);
    *  - 7 square-and-extract rounds: m² div 2^20, emit a bit and halve
    *    when ≥ 2^21 (max intermediate 2^42 — safe);
    *  - cb = (100·(kk·128 + bits) + 64) div 128. */
  def costStages(t: String, c: String, D: Dialect): Seq[(String, String)] = {
    val d = D.div
    val kBranches = (62 to 1 by -1).map { j =>
      s"WHEN _q >= ${java.math.BigInteger.TWO.pow(j)} THEN $j"
    }.mkString(" ")
    val pBranches = (62 to 1 by -1).map { j =>
      s"WHEN _q >= ${java.math.BigInteger.TWO.pow(j)} THEN CAST(${java.math.BigInteger.TWO.pow(j)} AS BIGINT)"
    }.mkString(" ")
    // Spark spells kk/p2k compactly (r17 plan-size discipline): for
    // q ≥ 1, floor(log2(q)) = length(bin(q)) − 1 exactly (and bin(0) =
    // "0" gives the CASE chain's ELSE 0), p2k = 1 << kk — two small
    // expressions instead of two 62-branch CASE chains re-analyzed at
    // every call site (16 engine-side users). DuckDB keeps the CASE
    // chains: the ORACLE text must stay byte-stable, and duckdb's bin()
    // differs. Values are identical integers either way.
    val head = Seq(
      "_q" -> s"($t) $d ($c)",
      "_kk" -> (if (D == Spark) "CAST(length(bin(_q)) - 1 AS INT)"
                else s"CASE $kBranches ELSE 0 END"),
      "_p2k" -> (if (D == Spark) "shiftleft(CAST(1 AS BIGINT), _kk)"
                 else s"CASE $pBranches ELSE CAST(1 AS BIGINT) END"),
      "_m0" -> s"(($t) * 1048576) $d (($c) * _p2k)")
    val iters = (1 to 7).flatMap { j =>
      val prev = s"_m${j - 1}"
      Seq(
        s"_s$j" -> s"($prev * $prev) $d 1048576",
        s"_b$j" -> s"CASE WHEN _s$j >= 2097152 THEN 1 ELSE 0 END",
        s"_m$j" -> s"CASE WHEN _s$j >= 2097152 THEN _s$j $d 2 ELSE _s$j END")
    }
    val frac = (1 to 7).map(j => s"_b$j * ${1 << (7 - j)}").mkString(" + ")
    head ++ iters :+ ("cost_cb" -> s"(100 * (_kk * 128 + ($frac)) + 64) $d 128")
  }

  // ---------------------------------------------------------------- engine

  /** Eligible-word census: lowercased whitespace words restricted to the
    * /[a-z]+/ training alphabet (the BPE convention), weighted by
    * instance count. */
  def wordCensus(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(CorpusOps.words(lower(col(textCol)))).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** Viterbi-segment every distinct word against a (piece, cost_cb)
    * vocabulary: returns (w, chosen) with chosen = packed i*8+k pieces
    * in FORWARD word order. Vocabulary side broadcasts (~70 rows). */
  def segment(words: DataFrame, vocab: DataFrame): DataFrame = {
    val arcs = words.select(col("w"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("i"),
        explode(sequence(lit(1), least(lit(MaxPieceLen), col("i")))).as("k"))
      .withColumn("sub", expr("substr(w, i - k + 1, k)"))
      .join(broadcast(vocab.select(col("piece").as("sub"), col("cost_cb"))), "sub")
      .select(col("w"), col("i").cast("long").as("i"),
        col("k").cast("long").as("k"), col("cost_cb"))
    arcs.groupBy(col("w"))
      .agg(sort_array(collect_list(array(col("i"), col("k"), col("cost_cb")))).as("arcs"))
      .withColumn("dp", expr(dpFoldSql("arcs", Spark)))
      .withColumn("bt", expr(
        btFoldSql(Spark.rev("arcs"), "dp", "cast(length(w) as bigint)", Spark)))
      .select(col("w"), expr(btChosen("bt", Spark)).as("chosen"))
  }

  private val unpackPiece =
    "substr(w, cast(p div 8 as int) - cast(p % 8 as int) + 1, cast(p % 8 as int))"

  /** Per-piece usage census of the Viterbi segmentation — the hard-EM
    * E-step census over a weighted word census `wc(w, c)`: each chosen
    * piece occurrence counts its word's instance weight. */
  def usageCensus(wc: DataFrame, vocab: DataFrame): DataFrame =
    segment(wc.select(col("w")), vocab)
      .join(wc, Seq("w"))
      .select(col("w"), col("c"), explode(col("chosen")).as("p"))
      .select(expr(unpackPiece).as("piece"), col("c"))
      .groupBy(col("piece")).agg(sum(col("c")).as("usage"))

  /** Forward OPTIMAL-PATH-COUNT fold (Spark side only — the oracle
    * replays this as pure relational recursion, the [[segment]]
    * contract): nf[0] = 1; nf[i] = Σ over arcs (i, k) on an optimal
    * path (dp[i−k] + c = dp[i]) of nf[i−k]. Arcs arrive (i asc, k asc),
    * so every nf[j < i] is final when position i opens; a non-optimal
    * arc opening a new position still appends 0 so indices stay
    * aligned (the k=1 arc always exists but need not be optimal). */
  def nfFoldSql(arcs: String, dp: String): String = {
    val i = "element_at(a, 1)"; val k = "element_at(a, 2)"; val c = "element_at(a, 3)"
    val opt = s"element_at($dp, cast(($i) - ($k) + 1 as int)) + ($c) = " +
      s"element_at($dp, cast(($i) + 1 as int))"
    val fromJ = s"element_at(acc, cast(($i) - ($k) + 1 as int))"
    s"aggregate($arcs, array(CAST(1 AS BIGINT)), (acc, a) -> " +
      s"CASE WHEN size(acc) = cast($i as int) THEN " +
      s"concat(acc, array(CASE WHEN $opt THEN $fromJ ELSE CAST(0 AS BIGINT) END)) " +
      s"WHEN $opt THEN concat(slice(acc, 1, cast($i as int)), " +
      s"array(element_at(acc, cast(($i) + 1 as int)) + $fromJ)) " +
      s"ELSE acc END)"
  }

  /** Backward count fold over the REVERSED arc list: nb[L] = 1;
    * nb[j] = Σ over optimal arcs starting at j of nb[j + k]. Arcs in
    * (i desc) order make nb[i] final before any arc ending at i is
    * read (its contributors end strictly later). Accumulator is the
    * full nb[0..L] list (nb[x] at index x+1), updated in place. */
  def nbFoldSql(arcsRev: String, dp: String, wlen: String): String = {
    val i = "element_at(a, 1)"; val k = "element_at(a, 2)"; val c = "element_at(a, 3)"
    val opt = s"element_at($dp, cast(($i) - ($k) + 1 as int)) + ($c) = " +
      s"element_at($dp, cast(($i) + 1 as int))"
    val jIdx = s"cast(($i) - ($k) + 1 as int)"
    val newVal = s"element_at(acc, $jIdx) + element_at(acc, cast(($i) + 1 as int))"
    val update = s"concat(slice(acc, 1, $jIdx - 1), array($newVal), " +
      s"slice(acc, $jIdx + 1, cast($wlen as int) + 1 - $jIdx))"
    s"aggregate($arcsRev, " +
      s"concat(array_repeat(CAST(0 AS BIGINT), cast($wlen as int)), array(CAST(1 AS BIGINT))), " +
      s"(acc, a) -> CASE WHEN $opt THEN $update ELSE acc END)"
  }

  /** ZERO-TEMPERATURE forward-backward over the optimal-segmentation
    * ensemble — one soft-EM E-step in the counting semiring, exactly
    * integer-computable (finite-temperature forward-backward needs
    * per-position float renormalization no bit-exact oracle can
    * replay): the posterior is uniform over ALL minimum-cost
    * segmentations, so an arc's expected count is
    * nf[i−k]·nb[i] ⁄ nw (nw = number of optimal segmentations,
    * ≤ 128 for ≤8-char words with ≤4-char pieces — small exact
    * integers). Where the optimum is unique this census equals the
    * hard census exactly; the difference IS the tie mass the hard-EM
    * longest-piece tie-break resolves by fiat — the documented hard-EM
    * deviation, made measurable.
    *
    * Returns (w, piece, nw, sw) with sw = Σ nf·nb over that piece's
    * optimal arcs; callers scale by word weight: c·sw·1e6 div nw. */
  def softCounts(words: DataFrame, vocab: DataFrame): DataFrame = {
    val arcs = words.select(col("w"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("i"),
        explode(sequence(lit(1), least(lit(MaxPieceLen), col("i")))).as("k"))
      .withColumn("sub", expr("substr(w, i - k + 1, k)"))
      .join(broadcast(vocab.select(col("piece").as("sub"), col("cost_cb"))), "sub")
      .select(col("w"), col("i").cast("long").as("i"),
        col("k").cast("long").as("k"), col("cost_cb"))
    val base = arcs.groupBy(col("w"))
      .agg(sort_array(collect_list(array(col("i"), col("k"), col("cost_cb")))).as("arcs"))
      .withColumn("dp", expr(dpFoldSql("arcs", Spark)))
      .withColumn("nf", expr(nfFoldSql("arcs", "dp")))
      .withColumn("nb", expr(nbFoldSql(Spark.rev("arcs"), "dp", "length(w)")))
    base.select(col("w"), col("dp"), col("nf"), col("nb"),
        explode(col("arcs")).as("a"))
      .where(expr("element_at(dp, cast(element_at(a, 1) - element_at(a, 2) + 1 as int)) " +
        "+ element_at(a, 3) = element_at(dp, cast(element_at(a, 1) + 1 as int))"))
      .select(col("w"),
        expr("substr(w, cast(element_at(a, 1) - element_at(a, 2) + 1 as int), " +
          "cast(element_at(a, 2) as int))").as("piece"),
        expr("element_at(nf, cast(element_at(a, 1) - element_at(a, 2) + 1 as int)) * " +
          "element_at(nb, cast(element_at(a, 1) + 1 as int))").as("contrib"),
        expr("element_at(nf, cast(length(w) + 1 as int))").as("nw"))
      .groupBy(col("w"), col("piece"), col("nw"))
      .agg(sum(col("contrib")).as("sw"))
  }

  /** Integer-centibit cost of one piece on the driver — the SAME staged
    * int64 algorithm as [[costStages]] (kk = floor(log2(t div c)) via
    * bit length, 20-bit fixed-point mantissa, 7 square-and-extract
    * rounds), spelled in Scala: all values positive, so Java `/` is the
    * SQL `div`/`//` both dialects ran — bit-exact by construction. */
  private[graft] def costCbLocal(t: Long, cf: Long): Long = {
    val q = t / cf // >= 1: cf <= t always (t sums the floored usages)
    val kk = 63 - java.lang.Long.numberOfLeadingZeros(q)
    val p2k = 1L << kk
    var m = (t * 1048576L) / (cf * p2k)
    var bits = 0L
    var j = 1
    while (j <= 7) {
      val s = (m * m) / 1048576L
      if (s >= 2097152L) { bits += (1L << (7 - j)); m = s / 2 } else m = s
      j += 1
    }
    (100L * (kk * 128L + bits) + 64L) / 128L
  }

  /** (v, cb) lookup relation computed ON THE DRIVER via [[costCbLocal]]
    * (= [[costStages]] with c = 1, kk via bit length — identical int64
    * ops for v ≥ 1) over the collected distinct non-NULL values of
    * `vals`'s first column. For call sites whose cb input is a tiny
    * DISTINCT-VALUE set
    * (distinct census counts / group sizes — vocabulary-scale at most,
    * Heaps-bounded like the trainer censuses; [[CorpusOps.collectBounded]]
    * fails loudly past the cap), this replaces the 16-stage withColumn
    * chain + scopedPersist: the consumers' broadcast joins then build
    * over a LocalRelation instead of re-analyzing an InMemoryRelation
    * that embeds the whole upstream census subtree once PER JOIN — the
    * q_text_kl plan carried four such copies. Values are bit-identical;
    * the DuckDB oracle text (staged CASE-chain fixed point) is untouched.
    */
  def cbTableLocal(vals: DataFrame, what: String): DataFrame = {
    val spark = vals.sparkSession
    // one (v, cb) row per distinct non-NULL value — the rows an equi-join
    // against the staged cost chain keeps
    val rows = CorpusOps.collectBounded(vals, what)
      .filterNot(_.isNullAt(0)).map(_.getLong(0)).distinct
    require(rows.forall(_ >= 0L), s"$what: cb input values must be >= 0")
    // v = 0 replays the staged chain exactly: _q = 0, kk = length(bin(0))
    // − 1 = 0, _m0 = 0, every square stays 0 ⇒ cb = 64 div 128 = 0
    spark.createDataFrame(
      rows.toIndexedSeq.map(v => (v, if (v == 0L) 0L else costCbLocal(v, 1L))))
      .toDF("v", "cb")
  }

  /** Hard-EM unigram-LM training. Returns the final vocabulary:
    * (piece, usage, cost_cb), ordered by piece.
    *
    * r17: the EM loop runs ON THE DRIVER over the collected word census
    * — the [[CorpusOps.bpeTrain]] move, same justification: everything
    * after the census was already VOCABULARY-sized (the distinct-word
    * working set, Heaps-law-bounded — SentencePiece holds exactly this
    * in memory), and the former spelling paid ~8 Spark jobs per round
    * (segment fold + census join + prune + cost chain + localCheckpoint)
    * over ≤ 74-row relations — 5.3 s at sf0.1 of almost pure scheduling
    * and codegen (guide §1.2). Every operation is replayed exactly:
    * substring-slot seed census, (usage desc, piece asc) seed pick,
    * Viterbi DP with the k-descending longest-piece tie-break on the
    * backtrace ([[dpFoldSql]]/[[btFoldSql]] semantics), weighted usage
    * census, (usage asc, piece asc) prune, and the integer-centibit
    * cost ([[costCbLocal]] = [[costStages]] in Scala) — all exact
    * integer arithmetic, so the trained vocabulary is bit-identical and
    * the DuckDB oracle (which replays training relationally from raw
    * data) is untouched. The corpus-sized pass stays distributed.
    */
  def train(docs: DataFrame, textCol: String, rounds: Int = Rounds,
      seedMulti: Int = SeedMulti, pruneEach: Int = PruneEach): DataFrame = {
    val spark = docs.sparkSession
    // the one corpus-sized pass: distributed word census, collected at
    // vocabulary scale (distinct [a-z]+ words)
    val words: Array[(String, Long)] = CorpusOps.collectBounded(
      wordCensus(docs, textCol), "UlmTokenizer.train")
      .map(r => (r.getString(0), r.getLong(1)))
    // seed: every substring slot's weighted occurrence count (duplicate
    // slots within a word each count); all single chars + the top
    // `seedMulti` multi-char pieces (count desc, piece asc)
    val sub0 = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, c) =>
      var i = 1
      while (i <= w.length) {
        var k = 1
        while (k <= math.min(MaxPieceLen, i)) {
          val p = w.substring(i - k, i)
          sub0.update(p, sub0.getOrElse(p, 0L) + c)
          k += 1
        }
        i += 1
      }
    }
    val chars = sub0.iterator.filter(_._1.length == 1).toArray
    val multis = sub0.iterator.filter(_._1.length > 1).toArray
      .sortBy { case (p, u) => (-u, p) }.take(seedMulti)
    // vocab: piece -> usage; costs recomputed from it each M-step
    var vocab: Map[String, Long] = (chars ++ multis).toMap
    def costs(v: Map[String, Long]): Map[String, Long] = {
      val t = v.valuesIterator.map(u => math.max(u, 1L)).sum
      v.map { case (p, u) => p -> costCbLocal(t, math.max(u, 1L)) }
    }
    var cost = costs(vocab)
    for (_ <- 1 to rounds) {
      // E-step: usage census of the Viterbi segmentations (weighted by
      // word instance count); zero-usage survivors kept at usage 0
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, c) =>
        viterbiChosen(w, cost).foreach(p =>
          usage.update(p, usage.getOrElse(p, 0L) + c))
      }
      val wu = vocab.keysIterator
        .map(p => p -> usage.getOrElse(p, 0L)).toMap
      // M-step + prune: drop the bottom `pruneEach` multi-char pieces
      // (usage asc, piece asc); chars are immortal
      val drop = wu.iterator.filter(_._1.length > 1).toArray
        .sortBy { case (p, u) => (u, p) }.take(pruneEach).map(_._1).toSet
      vocab = wu.filter { case (p, _) => !drop(p) }
      cost = costs(vocab)
    }
    import spark.implicits._
    vocab.toSeq.sortBy(_._1)
      .map { case (p, u) => (p, u, cost(p)) }
      .toDF("piece", "usage", "cost_cb")
  }

  /** Driver-side Viterbi segmentation of one word under a (piece ->
    * cost_cb) vocabulary — the [[dpFoldSql]]/[[btFoldSql]] semantics
    * exactly: dp[i] = min over arcs (pieces ending at i, length ≤
    * [[MaxPieceLen]]) of dp[i−k] + cost; the backtrace walks arcs in
    * (i desc, k desc) order, so cost ties resolve to the LONGEST piece.
    * Single chars are always in the vocabulary (immortal), so the walk
    * always reaches 0. Returns chosen pieces (order irrelevant to the
    * training census). */
  private def viterbiChosen(w: String, cost: Map[String, Long]): Seq[String] = {
    val L = w.length
    val dp = new Array[Long](L + 1)
    var i = 1
    while (i <= L) {
      var best = Long.MaxValue
      var k = 1
      while (k <= math.min(MaxPieceLen, i)) {
        cost.get(w.substring(i - k, i)) match {
          case Some(c) => val cand = dp(i - k) + c; if (cand < best) best = cand
          case None =>
        }
        k += 1
      }
      dp(i) = best
      i += 1
    }
    val chosen = scala.collection.mutable.ArrayBuffer.empty[String]
    var ptr = L
    while (ptr > 0) {
      var k = math.min(MaxPieceLen, ptr)
      var taken = false
      while (!taken && k >= 1) {
        val p = w.substring(ptr - k, ptr)
        cost.get(p) match {
          case Some(c) if dp(ptr - k) + c == dp(ptr) =>
            chosen += p; ptr -= k; taken = true
          case _ =>
        }
        k -= 1
      }
      require(taken, s"ulm viterbi: no arc at $ptr for '$w' (chars must be immortal)")
    }
    chosen.toSeq
  }

  /** Trained model memo per (dir-keyed) corpus — driver-side model
    * metadata, the deepMerges convention: train once, every consumer
    * (encode / fertility) reuses it; other dirs train their own. */
  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, Long, Long)]]
  def trainedModel(docs: => DataFrame, key: String): Seq[(String, Long, Long)] =
    modelCache.getOrElseUpdate(key,
      train(docs, "text").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq)

  /** Retrain and OVERWRITE the memo — q_ulm_train's path: the training
    * query pays full cost on every invocation (its bench/scale numbers
    * must carry the loop) and is also the memo's writer, so when it runs
    * first (Bench runs trainers ahead of the registry) no consumer ever
    * cold-trains regardless of alphabetical order. */
  def retrain(docs: DataFrame, key: String): Seq[(String, Long, Long)] = {
    val m = train(docs, "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    modelCache.put(key, m)
    m
  }

  /** Deterministic piece ids: 'a'..'z' -> 1..26; multi-char survivors
    * get 27.. in piece order — model metadata, like BPE's step ids. */
  def pieceIds(model: Seq[(String, Long, Long)]): Seq[(String, Int)] = {
    val multis = model.map(_._1).filter(_.length > 1).sorted
    model.map(_._1).map { p =>
      if (p.length == 1) (p, p.charAt(0) - 'a' + 1)
      else (p, 27 + multis.indexOf(p))
    }
  }

  /** Greedy longest-match-first segmentation fold (the WordPiece /
    * maximal-munch rule, vs Viterbi's global optimum): arcs are
    * [start, 8-k, k] triples sorted ascending — (start asc, k DESC),
    * so the first arc at the cursor is the longest vocabulary piece
    * there; accumulator = [cursor, count]. Single chars are always in
    * the vocabulary, so the cursor always reaches len(w). Counts only —
    * greedy is the baseline Viterbi is graded against, not a shipped
    * encoding. No outer references (the list_reduce misbinding rule). */
  def greedyFoldSql(arcs: String, D: Dialect): String = {
    val s = D.el("a", "1"); val k = D.el("a", "3")
    val body = s"CASE WHEN ($s) = ${D.el("acc", "1")} THEN " +
      D.concat2(D.arr1(s"${D.el("acc", "1")} + ($k)"),
        D.arr1(s"${D.el("acc", "2")} + 1")) + " ELSE acc END"
    val init = D.concat2(D.arr1("CAST(0 AS BIGINT)"), D.arr1("CAST(0 AS BIGINT)"))
    D.fold(arcs, init, body)
  }

  /** The eligible (doc, rank, word) token stream — the bpeEncode word
    * stream, re-exported for the ULM consumers outside this package. */
  def wordStream(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    CorpusOps.bpeWordStream(docs, idCol, textCol, Int.MaxValue)

  /** ENCODE under a trained model: per-doc token ids in word order.
    * The Viterbi segmentation runs once per DISTINCT word ON THE DRIVER
    * (r17 — the train() move applied to the ship step: the distinct
    * eligible words are the vocabulary-sized working set, collected like
    * the trainer's census, and [[viterbiChosen]] replays the
    * dp/backtrace folds' integer semantics exactly); instances get their
    * ids via a broadcast join back to the (doc, rank, word) stream —
    * the bpeEncode shape exactly. Plan cost: one small collect + one
    * broadcast join, where the fold spelling re-planned two broadcast
    * joins, two aggregates, and the dp/bt fold trees per invocation —
    * which q_stream_ulm paid PER MICRO-BATCH. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      model: Seq[(String, Long, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cost = model.map(t => (t._1, t._3)).toMap
    val ids = pieceIds(model).toMap
    val toks = CorpusOps.bpeWordStream(docs, idCol, textCol, Int.MaxValue)
    // vocabulary-sized collect (distinct [a-z]+ words — Heaps-bounded,
    // capped: see CorpusOps.collectBounded)
    val words = CorpusOps.collectBounded(
      toks.select(col("w")).distinct(), "UlmTokenizer.encode").map(_.getString(0))
    // viterbiChosen emits pieces in REVERSE word order (the backtrace
    // walk); forward ids = reversed chosen — identical to the former
    // packed-position sort, which was forward order by construction
    val seg = words.toSeq.map(w =>
      (w, viterbiChosen(w, cost).reverse.map(ids).toArray))
      .toDF("w", "wids")
    toks.join(broadcast(seg), Seq("w"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("r"), col("wids")))),
        e => e.getField("wids"))).as("token_ids"))
  }
}
