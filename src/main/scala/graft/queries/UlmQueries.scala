package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder.scan
import graft.ops.UlmTokenizer
import graft.ops.UlmTokenizer.{Duck, Rounds, SeedMulti, PruneEach}

/** Unigram-LM tokenizer queries (the SentencePiece family next to BPE):
  * hard-EM training over the word census, Viterbi encode, and the
  * fertility census that lets the two tokenizer families be compared on
  * the same corpus (q_ulm_fertility vs q_bpe_fertility, same schema).
  *
  * The oracle REPLAYS training in DuckDB from raw data — every round a
  * MATERIALIZED CTE block (arc join → recursive Viterbi → usage census
  * → prune → integer-centibit costs from the shared
  * [[UlmTokenizer.costStages]] generator). The Viterbi replay is PURE
  * RELATIONAL recursion ([[viterbiCtes]]) while the engine runs
  * codegen'd array folds — two independent implementations of the same
  * integer semantics, bit-exact with no float seam and no DuckDB
  * lambda in the oracle (list_reduce misaligns rows; see viterbiCtes).
  */
object UlmQueries {

  // ---------------------------------------------------------- oracle CTEs

  /** (piece, usage, cost_cb) vocabulary CTE over `src` rows with total
    * CTE `tc` (column _tt). NESTED subqueries, one per cost stage — each
    * projection level evaluates once. Lateral column aliases would
    * textually INLINE every reference: _m7 expands to 2^7 copies of the
    * 62-branch CASEs and the binder hangs (measured: sf0.001 never
    * finished; nested, 0.02 s). */
  private def vocabCte(name: String, src: String, tc: String): String = {
    val inner0 = s"SELECT piece, usage, _tt, greatest(usage, 1) AS _cf FROM $src, $tc"
    val nested = UlmTokenizer.costStages("_tt", "_cf", Duck)
      .foldLeft(inner0) { case (acc, (n, e)) => s"SELECT *, $e AS $n FROM ($acc)" }
    s"""$name AS MATERIALIZED (
       |  SELECT piece, usage, CAST(cost_cb AS BIGINT) AS cost_cb FROM ($nested))""".stripMargin
  }

  /** Viterbi replay for one vocabulary CTE, as PURE RELATIONAL
    * recursion — no DuckDB lambdas anywhere. DuckDB 1.0's list_reduce
    * was caught misaligning fold results against the group key after a
    * hash aggregate of LIST(LIST) rows (q_ulm_greedy forensics), so the
    * oracle walked away from list folds entirely; the engine keeps its
    * spec-pinned codegen'd array folds, making the replay a fully
    * independent implementation of the same semantics:
    *  - dpr$t: sliding-window recursion carrying the last 4 dp values
    *    per (word, position) — dp(i) = MIN over arcs ending at i;
    *  - cho$t: per position, the LARGEST k on an optimal path (the
    *    longest-piece tie-break, same rule as the engine's backtrace);
    *  - btr$t: pointer walk from len(w) down through cho;
    *  - ch$t: one row per chosen piece occurrence, with its end ptr
    *    (ascending ptr = forward word order).
    */
  private def viterbiCtes(t: String, vocab: String): String =
    s"""arcs$t AS MATERIALIZED (SELECT s.w, s.i, s.k, v.cost_cb
       |  FROM slk s JOIN $vocab v USING (piece)),
       |dpr$t AS (
       |  SELECT w, CAST(0 AS BIGINT) AS i, CAST(NULL AS BIGINT) AS d3,
       |         CAST(NULL AS BIGINT) AS d2, CAST(NULL AS BIGINT) AS d1,
       |         CAST(0 AS BIGINT) AS d0
       |  FROM wc
       |  UNION ALL
       |  SELECT r.w, r.i + 1, r.d2, r.d1, r.d0,
       |    MIN(CASE a.k WHEN 1 THEN r.d0 WHEN 2 THEN r.d1
       |                 WHEN 3 THEN r.d2 WHEN 4 THEN r.d3 END + a.cost_cb)
       |  FROM dpr$t r JOIN arcs$t a ON a.w = r.w AND a.i = r.i + 1
       |  WHERE r.i < length(r.w)
       |  GROUP BY r.w, r.i, r.d2, r.d1, r.d0),
       |dpt$t AS MATERIALIZED (SELECT w, i, d0 AS dp FROM dpr$t),
       |cho$t AS MATERIALIZED (
       |  SELECT a.w, a.i, MAX(a.k) AS k
       |  FROM arcs$t a
       |  JOIN dpt$t p ON p.w = a.w AND p.i = a.i - a.k
       |  JOIN dpt$t q ON q.w = a.w AND q.i = a.i
       |  WHERE p.dp + a.cost_cb = q.dp
       |  GROUP BY a.w, a.i),
       |btr$t AS (
       |  SELECT w, CAST(length(w) AS BIGINT) AS ptr FROM wc
       |  UNION ALL
       |  SELECT b.w, b.ptr - c.k
       |  FROM btr$t b JOIN cho$t c ON c.w = b.w AND c.i = b.ptr
       |  WHERE b.ptr > 0),
       |ch$t AS MATERIALIZED (
       |  SELECT b.w, b.ptr,
       |    substr(b.w, CAST(b.ptr - c.k + 1 AS INT), CAST(c.k AS INT)) AS piece
       |  FROM btr$t b JOIN cho$t c ON c.w = b.w AND c.i = b.ptr)""".stripMargin

  /** The shared training replay: word census, substring-slot table,
    * seed vocabulary v0, then `rounds` EM rounds ending at v$rounds. */
  private def ulmTrainCtes(rounds: Int): String = {
    val base =
      raw"""wc AS MATERIALIZED (
           |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           |        FROM documents)
           |  WHERE regexp_full_match(w, '[a-z]+') GROUP BY w),
           |sl AS (SELECT w, c, unnest(range(1, length(w) + 1)) AS i FROM wc),
           |slk AS MATERIALIZED (
           |  SELECT w, c, CAST(i AS BIGINT) AS i, CAST(k AS BIGINT) AS k,
           |    substr(w, CAST(i - k + 1 AS INT), CAST(k AS INT)) AS piece
           |  FROM sl CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS k) ks
           |  WHERE k <= i),
           |sub0 AS MATERIALIZED (
           |  SELECT piece, CAST(SUM(c) AS BIGINT) AS usage FROM slk GROUP BY piece),
           |seedm AS (SELECT piece, usage FROM sub0 WHERE length(piece) > 1
           |          ORDER BY usage DESC, piece LIMIT $SeedMulti),
           |v0raw AS (SELECT piece, usage FROM sub0 WHERE length(piece) = 1
           |          UNION ALL SELECT piece, usage FROM seedm),
           |t0 AS (SELECT CAST(SUM(greatest(usage, 1)) AS BIGINT) AS _tt FROM v0raw),
           |${vocabCte("v0", "v0raw", "t0")}""".stripMargin
    def round(r: Int) =
      s"""${viterbiCtes(r.toString, s"v${r - 1}")},
         |eu$r AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(c) AS BIGINT) AS usage
         |  FROM ch$r JOIN wc USING (w) GROUP BY piece),
         |wu$r AS (SELECT v.piece, COALESCE(u.usage, CAST(0 AS BIGINT)) AS usage
         |         FROM v${r - 1} v LEFT JOIN eu$r u USING (piece)),
         |dr$r AS (SELECT piece FROM wu$r WHERE length(piece) > 1
         |         ORDER BY usage, piece LIMIT $PruneEach),
         |sv$r AS (SELECT piece, usage FROM wu$r
         |         WHERE piece NOT IN (SELECT piece FROM dr$r)),
         |t$r AS (SELECT CAST(SUM(greatest(usage, 1)) AS BIGINT) AS _tt FROM sv$r),
         |${vocabCte(s"v$r", s"sv$r", s"t$r")}""".stripMargin
    (base +: (1 to rounds).map(round)).mkString(",\n")
  }

  /** ENCODE-side CTEs under the final vocabulary v$rounds: one more
    * Viterbi pass, piece ids (chars ascii-96, multis 27.. in piece
    * order), per-word id lists (ascending end ptr = forward word
    * order), and the per-doc token stream (the q_bpe_encode wl/tk/tok
    * shape). */
  private def ulmEncodeCtes(rounds: Int): String =
    raw"""${viterbiCtes("F", s"v$rounds")},
         |pid AS MATERIALIZED (
         |  SELECT piece, CAST(ascii(piece) - 96 AS BIGINT) AS id
         |  FROM v$rounds WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, 26 + ROW_NUMBER() OVER (ORDER BY piece) AS id
         |  FROM v$rounds WHERE length(piece) > 1),
         |wid AS MATERIALIZED (
         |  SELECT c.w, list(CAST(pid.id AS VARCHAR) ORDER BY c.ptr) AS ids,
         |         CAST(COUNT(*) AS BIGINT) AS n_sym
         |  FROM chF c JOIN pid ON pid.piece = c.piece
         |  GROUP BY c.w),
         |wl AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
         |       FROM documents),
         |tk AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM wl),
         |tok AS (SELECT doc_id, pos, ws[pos] AS w FROM tk
         |        WHERE regexp_full_match(ws[pos], '[a-z]+'))""".stripMargin

  // --------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TRAINING — always retrains (the q_bpe_train_deep convention: the
    // training query carries the full loop cost) and WRITES the session
    // memo, so consumers (encode/fertility/stream) trained after it
    // never cold-pay; Bench runs trainers first for exactly this reason
    "q_ulm_train" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      UlmTokenizer.retrain(scan(s, d, "documents"), d)
        .toDF("piece", "usage", "cost_cb").orderBy(col("piece"))
    }),

    // ENCODE — the ship step: Viterbi ids per doc under the trained model
    "q_ulm_encode" -> ((s: SparkSession, d: String) => {
      val docs = scan(s, d, "documents")
      val model = UlmTokenizer.trainedModel(scan(s, d, "documents"), d)
      UlmTokenizer.encode(docs, "doc_id", "text", model)
        .select(col("doc_id"),
          size(col("token_ids")).cast("long").as("n_tokens"),
          array_join(transform(col("token_ids"), _.cast("string")), ",").as("ids_csv"))
        .orderBy(col("doc_id"))
    }),

    // VOCAB-BUDGET ABLATION — the q_bpe_prune question asked of the
    // unigram family: what does HALVING the multi-char piece budget
    // cost in tokens per language? The reduced model keeps the top
    // KeepMulti multis by (usage desc, piece asc) AT THEIR TRAINED
    // COSTS (availability changes, costs don't — the ablation isolates
    // the budget, not the re-normalization); chars are immortal so
    // every word stays segmentable. Both encodings run the two Viterbi
    // folds over the same distinct vocabulary
    "q_ulm_prune" -> ((s: SparkSession, d: String) => {
      import UlmTokenizer.KeepMulti
      val docs = scan(s, d, "documents")
      val model = UlmTokenizer.trainedModel(scan(s, d, "documents"), d)
      val vocabFull = model.map(t => (t._1, t._3))
      val keep = model.filter(_._1.length > 1)
        .sortBy(t => (-t._2, t._1)).take(KeepMulti).map(_._1).toSet
      val vocabPruned = model.filter(t => t._1.length == 1 || keep(t._1))
        .map(t => (t._1, t._3))
      import s.implicits._
      val toks = UlmTokenizer.wordStream(docs, "doc_id", "text")
      val langs = docs.select(col("doc_id"), col("lang"))
      def nsym(vocab: Seq[(String, Long)]) =
        UlmTokenizer.segment(toks.select(col("w")).distinct(),
            vocab.toDF("piece", "cost_cb"))
          .select(col("w"), size(col("chosen")).cast("long").as("n_sym"))
      val full = nsym(vocabFull).withColumnRenamed("n_sym", "nf")
      val pruned = nsym(vocabPruned).withColumnRenamed("n_sym", "np")
      toks.join(broadcast(full), Seq("w")).join(broadcast(pruned), Seq("w"))
        .join(langs, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("nf")).as("n_tokens_full"), sum(col("np")).as("n_tokens_pruned"))
        .withColumn("bloat_ppm",
          expr("n_tokens_pruned * 1000000 div n_tokens_full"))
        .orderBy(col("lang"))
    }),

    // GREEDY-VS-VITERBI — the WordPiece maximal-munch rule under the
    // SAME trained vocabulary, per language: the token-mass delta
    // between greedy longest-match and the unigram model's optimum (the
    // question behind choosing a tokenizer runtime). NOTE the sign is
    // NOT an invariant: Viterbi minimizes frequency-weighted COST, not
    // token count, so either side can be larger; on this corpus the two
    // coincide for every word (trained costs are length-monotone here),
    // which makes the query a cross-ALGORITHM agreement gate — the
    // engine's fold and the oracle's recursive walk must land on the
    // same mass by different routes. Same arc machinery on the engine;
    // greedy is one fold with a [cursor, count] accumulator.
    // n_tokens_viterbi deliberately equals q_ulm_fertility's n_tokens —
    // a cross-query invariant the oracle checks for free
    "q_ulm_greedy" -> ((s: SparkSession, d: String) => {
      val docs = scan(s, d, "documents")
      val model = UlmTokenizer.trainedModel(scan(s, d, "documents"), d)
      import s.implicits._
      val vocab = model.map(t => (t._1, t._3)).toDF("piece", "cost_cb")
      val toks = UlmTokenizer.wordStream(docs, "doc_id", "text")
      val words = toks.select(col("w")).distinct()
      val vit = UlmTokenizer.segment(words, vocab)
        .select(col("w"), size(col("chosen")).cast("long").as("nv"))
      val garcs = words.select(col("w"),
          explode(sequence(lit(1), length(col("w")))).as("i"))
        .select(col("w"), col("i"),
          explode(sequence(lit(1), least(lit(UlmTokenizer.MaxPieceLen), col("i")))).as("k"))
        .withColumn("sub", expr("substr(w, i - k + 1, k)"))
        .join(broadcast(vocab.select(col("piece").as("sub"))), "sub")
        .select(col("w"), (col("i") - col("k")).cast("long").as("s"),
          lit(8L) - col("k").cast("long") as "dk", col("k").cast("long").as("k"))
      val grd = garcs.groupBy(col("w"))
        .agg(sort_array(collect_list(array(col("s"), col("dk"), col("k")))).as("arcs"))
        .withColumn("g", expr(UlmTokenizer.greedyFoldSql("arcs", UlmTokenizer.Spark)))
        .select(col("w"), expr("element_at(g, 2)").as("ng"))
      toks.join(broadcast(vit), Seq("w")).join(broadcast(grd), Seq("w"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(sum(col("nv")).as("n_tokens_viterbi"), sum(col("ng")).as("n_tokens_greedy"))
        .withColumn("greedy_bloat_ppm",
          expr("n_tokens_greedy * 1000000 div n_tokens_viterbi"))
        .orderBy(col("lang"))
    }),

    // STREAMING FERTILITY TWIN — the deploy-online shape: the model is
    // trained offline (the per-dir memo) and broadcast; each micro-batch
    // Viterbi-encodes ITS docs and appends a per-language partial census
    // (n_docs, n_tokens, n_chars); partials merge by summation — the
    // mergeable-summary contract, so the batch oracle is shared VERBATIM
    // SOFT-EM COMPARISON GATE — the cross-algorithm agreement query the
    // hard-EM deviation note asks for (greedy-vs-Viterbi precedent):
    // one zero-temperature forward-backward E-step (posterior uniform
    // over ALL minimum-cost segmentations, computed exactly in the
    // integer counting semiring — see [[UlmTokenizer.softCounts]]) vs
    // the hard-EM census under the SAME trained vocabulary. Where the
    // optimum is unique the two censuses agree to the ppm; delta_x6
    // measures precisely the tie mass the longest-piece tie-break
    // resolves by fiat. Oracle = independent pure-relational recursion
    // (nf/nb path counts as sliding-window recursive CTEs, the dpr
    // pattern) over the oracle's own training replay.
    "q_ulm_softem" -> ((s: SparkSession, d: String) => {
      import s.implicits._
      val docs = scan(s, d, "documents")
      val model = UlmTokenizer.trainedModel(scan(s, d, "documents"), d)
      val vocab = model.map(t => (t._1, t._3)).toDF("piece", "cost_cb")
      val wc = UlmTokenizer.wordCensus(docs, "text")
      val hard = UlmTokenizer.usageCensus(wc, vocab)
      val soft = UlmTokenizer.softCounts(wc.select(col("w")), vocab)
        .join(wc, Seq("w"))
        .select(col("piece"), expr("c * sw * 1000000 div nw").as("x6"))
        .groupBy(col("piece")).agg(sum(col("x6")).as("usage_soft_x6"))
      hard.orderBy(col("usage").desc, col("piece").asc).limit(20)
        .join(soft, Seq("piece"), "left")
        .select(col("piece"), col("usage").as("usage_hard"),
          coalesce(col("usage_soft_x6"), lit(0L)).as("usage_soft_x6"),
          (coalesce(col("usage_soft_x6"), lit(0L))
            - col("usage") * lit(1000000L)).as("delta_x6"))
        .orderBy(col("piece"))
    }),

    "q_stream_ulm" -> ((s: SparkSession, d: String) => {
      val model = UlmTokenizer.trainedModel(scan(s, d, "documents"), d)
      val docs = scan(s, d, "documents")
      val out = graft.streaming.StreamOps.landing(s, d, "q_stream_ulm")
      def census(batch: DataFrame): DataFrame = {
        val enc = UlmTokenizer.encode(batch, "doc_id", "text", model)
          .select(col("doc_id"), size(col("token_ids")).cast("long").as("n_tokens"))
        batch.select(col("doc_id"), col("lang"),
            aggregate(
              filter(graft.ops.CorpusOps.words(lower(col("text"))),
                w => w.rlike("^[a-z]+$")),
              lit(0L), (acc, w) => acc + length(w).cast("long")).as("n_chars"))
          .join(enc, Seq("doc_id"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_chars")).as("n_chars"))
      }
      // per-slice census partials via the bounded runner (see
      // StreamOps.foreachSlice — identical slicing and partials, the
      // per-invocation stream-machinery fixed cost dropped)
      graft.streaming.StreamOps.foreachSlice(docs.repartition(3, col("doc_id"))) { batch =>
        out.append(census(batch))
      }
      out.read().groupBy(col("lang"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .withColumn("chars_per_token_ppm", expr("n_chars * 1000000 div n_tokens"))
        .orderBy(col("lang"))
    }),

    // ROUND-TRIP — decode(encode(doc)) must reproduce the eligible-word
    // stream EXACTLY, per doc; the oracle never touches the model
    // (eligible words concatenated IS the answer), so the whole
    // train → Viterbi → ids → decode chain is gated end-to-end by a
    // model-free truth — the q_bpe_roundtrip contract for the unigram
    // family
    "q_ulm_roundtrip" -> ((s: SparkSession, d: String) => {
      val docs = scan(s, d, "documents")
      val model = UlmTokenizer.trainedModel(scan(s, d, "documents"), d)
      val idToPiece = UlmTokenizer.pieceIds(model)
        .map { case (p, i) => (i, p) }.toMap
      val enc = UlmTokenizer.encode(docs, "doc_id", "text", model)
      docs.select(col("doc_id"))
        .join(enc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(concat_ws("", transform(col("token_ids"),
            id => coalesce(element_at(typedLit(idToPiece), id), lit("")))),
            lit("")).as("decoded"))
        .orderBy(col("doc_id"))
    }),

    // FERTILITY — same schema as q_bpe_fertility so the two tokenizer
    // families compare directly on chars-per-token by language
    "q_ulm_fertility" -> ((s: SparkSession, d: String) => {
      val docs = scan(s, d, "documents")
      val model = UlmTokenizer.trainedModel(scan(s, d, "documents"), d)
      val enc = UlmTokenizer.encode(docs, "doc_id", "text", model)
        .select(col("doc_id"), size(col("token_ids")).cast("long").as("n_tokens"))
      val chars = docs.select(col("doc_id"), col("lang"),
        aggregate(
          filter(graft.ops.CorpusOps.words(lower(col("text"))),
            w => w.rlike("^[a-z]+$")),
          lit(0L), (acc, w) => acc + length(w).cast("long")).as("n_chars_ulm"))
      chars.join(enc, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars_ulm")).as("n_chars"))
        .withColumn("chars_per_token_ppm", expr("n_chars * 1000000 div n_tokens"))
        .orderBy(col("lang"))
    }))

  val oracleSql: Map[String, String] = Map(

    "q_ulm_train" ->
      s"""WITH RECURSIVE ${ulmTrainCtes(Rounds)}
         |SELECT piece, usage, cost_cb FROM v$Rounds ORDER BY piece""".stripMargin,

    "q_ulm_encode" ->
      s"""WITH RECURSIVE ${ulmTrainCtes(Rounds)},
         |${ulmEncodeCtes(Rounds)},
         |agg AS (SELECT t.doc_id, flatten(list(e.ids ORDER BY t.pos)) AS tids
         |        FROM tok t JOIN wid e USING (w) GROUP BY t.doc_id)
         |SELECT doc_id, CAST(len(tids) AS BIGINT) AS n_tokens,
         |  array_to_string(tids, ',') AS ids_csv
         |FROM agg ORDER BY doc_id""".stripMargin,

    // ablation replay: reduced vocab = chars + top-KeepMulti multis at
    // their TRAINED costs; two fold passes over the distinct vocabulary
    "q_ulm_prune" -> {
      import UlmTokenizer.KeepMulti
      s"""WITH RECURSIVE ${ulmTrainCtes(Rounds)},
         |mtop AS (SELECT piece FROM v$Rounds WHERE length(piece) > 1
         |         ORDER BY usage DESC, piece LIMIT $KeepMulti),
         |vP AS MATERIALIZED (SELECT piece, usage, cost_cb FROM v$Rounds
         |  WHERE length(piece) = 1 OR piece IN (SELECT piece FROM mtop)),
         |${viterbiCtes("F", s"v$Rounds")},
         |nf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS nf FROM chF GROUP BY w),
         |${viterbiCtes("P", "vP")},
         |np AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS np FROM chP GROUP BY w),
         |wl AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS ws
         |       FROM documents),
         |tk AS (SELECT doc_id, lang, unnest(range(1, len(ws) + 1)) AS pos, ws FROM wl),
         |tok AS (SELECT doc_id, lang, ws[pos] AS w FROM tk
         |        WHERE regexp_full_match(ws[pos], '[a-z]+'))
         |SELECT t.lang,
         |  CAST(SUM(f.nf) AS BIGINT) AS n_tokens_full,
         |  CAST(SUM(p.np) AS BIGINT) AS n_tokens_pruned,
         |  CAST(SUM(p.np) * 1000000 // SUM(f.nf) AS BIGINT) AS bloat_ppm
         |FROM tok t JOIN nf f USING (w) JOIN np p USING (w)
         |GROUP BY t.lang ORDER BY t.lang""".stripMargin
    },

    // soft-EM replay: the optimal-arc relation (arcs on some minimum-
    // cost path, from the SAME dptF table the hard backtrace uses),
    // forward/backward path counts as sliding-window recursions (the
    // dpr pattern — SUM in place of MIN), posterior arc mass
    // nf[j]·nb[i], per-word normalization by nw = #optimal
    // segmentations, hard census from chF. Fully independent of the
    // engine's array folds.
    "q_ulm_softem" ->
      s"""WITH RECURSIVE ${ulmTrainCtes(Rounds)},
         |${viterbiCtes("F", s"v$Rounds")},
         |optF AS MATERIALIZED (
         |  SELECT a.w, a.i, a.k, a.i - a.k AS j,
         |    substr(a.w, CAST(a.i - a.k + 1 AS INT), CAST(a.k AS INT)) AS piece
         |  FROM arcsF a
         |  JOIN dptF p ON p.w = a.w AND p.i = a.i - a.k
         |  JOIN dptF q ON q.w = a.w AND q.i = a.i
         |  WHERE p.dp + a.cost_cb = q.dp),
         |nfr AS (
         |  SELECT w, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS n3,
         |         CAST(0 AS BIGINT) AS n2, CAST(0 AS BIGINT) AS n1,
         |         CAST(1 AS BIGINT) AS n0
         |  FROM wc
         |  UNION ALL
         |  SELECT r.w, r.i + 1, r.n2, r.n1, r.n0,
         |    SUM(CASE o.k WHEN 1 THEN r.n0 WHEN 2 THEN r.n1
         |                 WHEN 3 THEN r.n2 WHEN 4 THEN r.n3 END)
         |  FROM nfr r JOIN optF o ON o.w = r.w AND o.i = r.i + 1
         |  WHERE r.i < length(r.w)
         |  GROUP BY r.w, r.i, r.n2, r.n1, r.n0),
         |nft AS MATERIALIZED (SELECT w, i, n0 AS nf FROM nfr),
         |nbr AS (
         |  SELECT w, CAST(length(w) AS BIGINT) AS i, CAST(0 AS BIGINT) AS m3,
         |         CAST(0 AS BIGINT) AS m2, CAST(0 AS BIGINT) AS m1,
         |         CAST(1 AS BIGINT) AS m0
         |  FROM wc
         |  UNION ALL
         |  SELECT r.w, r.i - 1, r.m2, r.m1, r.m0,
         |    COALESCE(SUM(CASE o.k WHEN 1 THEN r.m0 WHEN 2 THEN r.m1
         |                 WHEN 3 THEN r.m2 WHEN 4 THEN r.m3 END), 0)
         |  FROM nbr r LEFT JOIN optF o ON o.w = r.w AND o.j = r.i - 1
         |  WHERE r.i > 0
         |  GROUP BY r.w, r.i, r.m2, r.m1, r.m0),
         |nbt AS MATERIALIZED (SELECT w, i, m0 AS nb FROM nbr),
         |nw AS MATERIALIZED (SELECT w, n0 AS nw FROM nfr WHERE i = length(w)),
         |softw AS (
         |  SELECT o.w, o.piece, CAST(SUM(f.nf * b.nb) AS BIGINT) AS sw
         |  FROM optF o
         |  JOIN nft f ON f.w = o.w AND f.i = o.j
         |  JOIN nbt b ON b.w = o.w AND b.i = o.i
         |  GROUP BY o.w, o.piece),
         |softu AS (
         |  SELECT s.piece,
         |    CAST(SUM(wc.c * s.sw * 1000000 // n.nw) AS BIGINT) AS usage_soft_x6
         |  FROM softw s JOIN wc ON wc.w = s.w JOIN nw n ON n.w = s.w
         |  GROUP BY s.piece),
         |hardu AS (
         |  SELECT c2.piece, CAST(SUM(wc.c) AS BIGINT) AS usage_hard
         |  FROM chF c2 JOIN wc ON wc.w = c2.w GROUP BY c2.piece),
         |topp AS (SELECT piece, usage_hard FROM hardu
         |         ORDER BY usage_hard DESC, piece LIMIT 20)
         |SELECT t.piece, t.usage_hard,
         |  CAST(COALESCE(su.usage_soft_x6, 0) AS BIGINT) AS usage_soft_x6,
         |  CAST(COALESCE(su.usage_soft_x6, 0) - t.usage_hard * 1000000 AS BIGINT)
         |    AS delta_x6
         |FROM topp t LEFT JOIN softu su ON su.piece = t.piece
         |ORDER BY t.piece""".stripMargin,

    // greedy maximal-munch replay under the same trained vocabulary;
    // the viterbi mass reuses the encode-side folds. The greedy side is
    // a RECURSIVE-CTE cursor walk, NOT the engine's fold: DuckDB 1.0's
    // list_reduce after a hash aggregate of LIST(LIST) rows misaligns
    // results against the group key even with a closed lambda (w='row'
    // received another row's fold; correct when the same plan is
    // row-filtered) — and an independently-shaped replay is the
    // stronger oracle anyway. Each (w, cursor) has exactly ONE maximal
    // step (MAX(k) per start), so the recursion is a deterministic
    // single chain per word ending at cursor = length(w)
    "q_ulm_greedy" ->
      s"""WITH RECURSIVE ${ulmTrainCtes(Rounds)},
         |${viterbiCtes("F", s"v$Rounds")},
         |nv AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS nv FROM chF GROUP BY w),
         |gsteps AS MATERIALIZED (
         |  SELECT w, i - k AS s, MAX(k) AS k FROM arcsF GROUP BY w, i - k),
         |grec AS (
         |  SELECT w, CAST(0 AS BIGINT) AS c, CAST(0 AS BIGINT) AS n FROM wc
         |  UNION ALL
         |  SELECT g.w, g.c + m.k, g.n + 1
         |  FROM grec g JOIN gsteps m ON m.w = g.w AND m.s = g.c),
         |grd AS MATERIALIZED (
         |  SELECT w, CAST(MAX(n) AS BIGINT) AS ng FROM grec
         |  WHERE c = length(w) GROUP BY w),
         |wl AS (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS ws
         |       FROM documents),
         |tk AS (SELECT doc_id, lang, unnest(range(1, len(ws) + 1)) AS pos, ws FROM wl),
         |tok AS (SELECT doc_id, lang, ws[pos] AS w FROM tk
         |        WHERE regexp_full_match(ws[pos], '[a-z]+'))
         |SELECT t.lang,
         |  CAST(SUM(v.nv) AS BIGINT) AS n_tokens_viterbi,
         |  CAST(SUM(g.ng) AS BIGINT) AS n_tokens_greedy,
         |  CAST(SUM(g.ng) * 1000000 // SUM(v.nv) AS BIGINT) AS greedy_bloat_ppm
         |FROM tok t JOIN nv v USING (w) JOIN grd g USING (w)
         |GROUP BY t.lang ORDER BY t.lang""".stripMargin,

    // model-free replay: eligible words concatenated IS what
    // decode(encode(doc)) must equal (the q_bpe_roundtrip oracle shape)
    "q_ulm_roundtrip" ->
      raw"""WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
           |           FROM documents),
           |e AS (SELECT doc_id,
           |        list_filter(ws, x -> regexp_full_match(x, '[a-z]+')) AS ew
           |      FROM w)
           |SELECT doc_id, COALESCE(array_to_string(ew, ''), '') AS decoded
           |FROM e ORDER BY doc_id""".stripMargin,

    "q_ulm_fertility" -> fertilitySql,

    // the streaming twin merges per-batch per-language partials by
    // summation — the mergeable-summary contract: the batch oracle IS
    // the stream oracle, shared as the same string
    "q_stream_ulm" -> fertilitySql)

  private lazy val fertilitySql: String =
    s"""WITH RECURSIVE ${ulmTrainCtes(Rounds)},
       |${ulmEncodeCtes(Rounds)},
       |per AS (SELECT t.doc_id, CAST(SUM(e.n_sym) AS BIGINT) AS n_tokens,
       |               CAST(SUM(length(t.w)) AS BIGINT) AS n_chars
       |        FROM tok t JOIN wid e USING (w) GROUP BY t.doc_id)
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(p.n_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(p.n_chars) * 1000000 // SUM(p.n_tokens) AS BIGINT)
       |    AS chars_per_token_ppm
       |FROM per p JOIN documents d USING (doc_id)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
}
