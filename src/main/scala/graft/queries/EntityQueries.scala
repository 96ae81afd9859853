package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder.scan
import graft.ops.{EntityResolution, SessionMemo}

/** Entity-resolution (record linkage) tier over the customer table — the
  * canonical post-load job for the reference's CRM-facing adapters
  * (adapters/hubspot/src/index.ts, adapters/stripe/src/index.ts sync
  * contact/customer objects from two systems; the warehouse must link
  * and merge them). Fellegi–Sunter blocking → agreement vectors →
  * integer score → threshold → components → golden record, all in exact
  * arithmetic so DuckDB replays every stage.
  *
  * The messy input is derived deterministically from the clean customer
  * table ([[EntityResolution.dirtyRecords]]) by the same recipe in both
  * engines — corruption classes: case-flip, nulled segment,
  * cents-rounded balance.
  */
object EntityQueries {

  import EntityResolution._

  private def records(s: SparkSession, d: String): (DataFrame, Int) = {
    val customer = scan(s, d, "customer")
    // metadata-scale driver action (cf. the embed query's adaptive LSH
    // depth): the count only picks the blocking suffix length
    val n = customer.count()
    (dirtyRecords(customer), suffixLen(n))
  }

  /** The ER family's shared hot subplan — blocked self-join +
    * levenshtein scoring — memoized as a localCheckpoint'd relation per
    * (session, dataset dir): six registry entries consume it
    * (candidates/scorehist read it whole; matches/clusters/golden/eval
    * filter it at the threshold). Candidate volume is O(n_records) by
    * blocking construction, so the checkpoint is pair-scale. */
  private val candMemo = new SessionMemo[String, DataFrame](SessionMemo.releaseCheckpoints)
  private def sharedCandidates(s: SparkSession, d: String): DataFrame = candMemo(s, d) {
    val (recs, len) = records(s, d)
    candidates(recs, len).localCheckpoint()
  }

  /** Letter→soundex-digit map shared by engine and oracle: classic
    * American codes with the SIMPLIFIED vowel rule (H/W code 0 like
    * vowels, i.e. they reset the adjacent-duplicate state — documented
    * divergence from the archaic H/W pass-through rule, identical on
    * both engines by construction).
    */
  private val sxFrom = "BFPVCGJKQSXZDTLMNRAEIOUYHW"
  private val sxTo = "11112222222233455600000000"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PHONETIC BLOCKING census (the third ER blocking strategy next to
    // digit-suffix and deletion-neighborhood): simplified American
    // Soundex of each part name's first word, computed by the SAME
    // portable string fold on both engines (translate() code map +
    // aggregate/list_reduce with a built||prev string state — codegen'd
    // HOF, no UDF, no engine builtin whose edge rules could diverge).
    // Output is the blocking-key census a linker sizes before running:
    // keys, members, distinct words, and the collision mass ppm
    "q_er_soundex" -> ((s: SparkSession, d: String) => {
      val code = (c: String) => s"translate($c, '$sxFrom', '$sxTo')"
      val words = scan(s, d, "part")
        .select(upper(regexp_extract(col("p_name"), "^[a-z]+", 0)).as("word"))
        .filter(length(col("word")) >= 1)
        .withColumn("sx_state", expr(
          s"""aggregate(
             |  slice(transform(sequence(1, length(word)),
             |          i -> substring(word, i, 1)), 2, length(word) - 1),
             |  concat(substring(word, 1, 1), ${code("substring(word, 1, 1)")}),
             |  (s, ch) -> CASE
             |    WHEN ${code("ch")} != '0'
             |         AND ${code("ch")} != substring(s, length(s), 1)
             |         AND length(s) < 5
             |    THEN concat(substring(s, 1, length(s) - 1),
             |                ${code("ch")}, ${code("ch")})
             |    ELSE concat(substring(s, 1, length(s) - 1), ${code("ch")})
             |  END)""".stripMargin))
        .withColumn("sx",
          expr("rpad(substring(sx_state, 1, length(sx_state) - 1), 4, '0')"))
      val census = words.groupBy(col("sx"))
        .agg(count(lit(1)).as("n_parts"),
          countDistinct(col("word")).as("n_words"),
          min(col("word")).as("first_word"))
      census.crossJoin(broadcast(
          census.agg(sum(col("n_parts")).as("n_tot"))))
        .select(col("sx"), col("n_parts").cast("long").as("n_parts"),
          col("n_words").cast("long").as("n_words"), col("first_word"),
          expr("n_parts * (n_parts - 1) div 2").as("n_cand_pairs"),
          expr("n_parts * 1000000 div n_tot").as("mass_ppm"))
        .orderBy(col("sx"))
    }),

    // candidate pairs with their full agreement vector + score — the
    // auditable middle of the pipeline (clerical-review surface)
    "q_er_candidates" -> ((s: SparkSession, d: String) =>
      sharedCandidates(s, d).orderBy(col("rec_a"), col("rec_b"))),

    // thresholded matches (score >= 6)
    "q_er_matches" -> ((s: SparkSession, d: String) =>
      matches(sharedCandidates(s, d))
        .select(col("rec_a"), col("rec_b"), col("score"))
        .orderBy(col("rec_a"), col("rec_b"))),

    // SCORE-CALIBRATION census (the Fellegi–Sunter threshold-tuning
    // readout): ALL candidates binned by integer score with per-bin
    // ground-truth composition (the planted twins rec_b = rec_a + 1)
    // — the precision-at-threshold curve read straight off the
    // clerical-review surface; the ER twin of q_dedup_pairhist. One
    // combinable aggregation over the blocked candidate relation
    "q_er_scorehist" -> ((s: SparkSession, d: String) => {
      sharedCandidates(s, d)
        .groupBy(col("score"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("rec_a") % 2 === 0 && col("rec_b") === col("rec_a") + 1,
            1L).otherwise(0L)).as("n_true"))
        .withColumn("precision_ppm", expr("n_true * 1000000 div n_pairs"))
        .orderBy(col("score"))
    }),

    // CLUSTER-SIZE CENSUS (the linkage QA readout over the same CC
    // labels q_er_golden survives from: a size histogram whose tail
    // exposes over-merging — one 50-record "household" means the
    // threshold or blocking broke). Sizes from the min-label CC over
    // matched pairs with singletons coalesced; one census + one
    // histogram aggregation
    "q_er_clusters" -> ((s: SparkSession, d: String) => {
      val (recs, _) = records(s, d)
      val m = matches(sharedCandidates(s, d))
      val cc = graft.ops.Dedup.connectedComponents(
          m.select(col("rec_a").as("doc_a"), col("rec_b").as("doc_b")))
        .select(col("doc_id").as("rec_id"), col("cluster"))
      recs.join(cc, Seq("rec_id"), "left_outer")
        .withColumn("cluster", coalesce(col("cluster"), col("rec_id")))
        .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz")).as("n_records"))
        .orderBy(col("cluster_size"))
    }),

    // golden records: one survivor row per linked entity (+ singletons)
    "q_er_golden" -> ((s: SparkSession, d: String) => {
      val (recs, _) = records(s, d)
      golden(recs, matches(sharedCandidates(s, d)))
        .orderBy(col("entity_id"))
    }),

    // matcher EVALUATION against the constructed ground truth (the twin
    // pairs 2k/2k+1): tp/fp/fn and exact-ppm precision/recall — the
    // threshold-tuning loop every linkage deployment runs
    "q_er_eval" -> ((s: SparkSession, d: String) => {
      val (recs, _) = records(s, d)
      val m = matches(sharedCandidates(s, d))
      val stats = m.agg(
        count(lit(1)).cast("long").as("n_matched"),
        sum(when(col("rec_a") % 2 === 0 && col("rec_b") === col("rec_a") + 1, 1L)
          .otherwise(0L)).cast("long").as("tp"))
      val truth = recs.agg(expr("CAST(count(1) / 2 AS BIGINT)").as("n_truth"))
      stats.crossJoin(truth).select(
        col("tp"),
        (col("n_matched") - col("tp")).as("fp"),
        (col("n_truth") - col("tp")).as("fn"),
        expr("tp * 1000000 div greatest(n_matched, 1)").as("precision_ppm"),
        expr("tp * 1000000 div greatest(n_truth, 1)").as("recall_ppm"))
    }),

    // blocking census — the shuffle pre-flight audit: block-size
    // distribution and the candidate-pair mass each size contributes
    // (the O(1)-expected-block-size claim, MEASURED per run)
    "q_er_blocks" -> ((s: SparkSession, d: String) => {
      val (recs, len) = records(s, d)
      recs.withColumn("blk", blockKey(col("name"), len))
        .groupBy(col("nation"), col("blk"))
        .agg(count(lit(1)).as("block_size"))
        .groupBy(col("block_size"))
        .agg(count(lit(1)).as("n_blocks"))
        .withColumn("n_cand_pairs",
          expr("n_blocks * (block_size * (block_size - 1) div 2)"))
        .orderBy(col("block_size"))
    }),

    // STREAMING incremental linkage: dirty records arrive as
    // micro-batches and are scored against the STATIC clean
    // (system-of-record) side — per-record decisions depend only on the
    // record + the static side, so batch slicing can't change the
    // result (oracle recomputes in one batch query). The 100 TB shape:
    // per-batch cost ∝ batch × block density, never ∝ corpus
    "q_stream_er" -> ((s: SparkSession, d: String) => {
      val (recs, len) = records(s, d)
      // static side persisted across micro-batches (cache-manager reuse,
      // bounded by the bench's family-boundary clear)
      val clean = recs.filter(col("rec_id") % 2 === 0).persist()
      val out = graft.streaming.StreamOps.landing(s, d, "q_stream_er")
      graft.streaming.StreamOps.foreachSlice(
          recs.filter(col("rec_id") % 2 === 1).repartition(2, col("rec_id"))) { batch =>
        out.append(scoreAcross(clean, batch, len)
          .filter(col("score") >= matchThreshold)
          .select(col("clean_id"), col("arriving_id"), col("score")))
      }
      out.read().orderBy(col("clean_id"), col("arriving_id"))
    }),

    // EDIT-DISTANCE SIMILARITY JOIN (d=1) over customer names: every
    // pair within one edit, WITHOUT the oracle's N² cross join. Engine
    // = FastSS deletion-neighborhood blocking, picked by measurement:
    // this corpus is constant-prefix + short number, i.e. low gram
    // entropy, where Ed-Join's q-gram prefix filter (the general-
    // purpose alternative, EntityResolution.editJoin, spec-proven in
    // EditJoinSpec) pays Σ freq² over still-common prefix grams —
    // 31.2 s at sf0.1 with q=3, and catastrophic with q=5 (the 6th
    // rarest 5-gram has freq ≈ corpus). Deletion blocking's candidate
    // volume is the ed ≤ 2 pair count itself — the floor. ~19.5k true
    // pairs at sf0.01, all recovered exactly
    "q_er_editjoin" -> ((s: SparkSession, d: String) =>
      EntityResolution.deletionJoin(scan(s, d, "customer"), "c_custkey", "c_name")
        .orderBy(col("id_a"), col("id_b")))
  )

  private val suffixSql = suffixLenSql("SELECT count(*) FROM customer")

  private val erCtes =
    s"""${EntityResolution.dirtyRecordsSql},
       |${EntityResolution.candidatesSql(suffixSql)}""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the oracle is the NAIVE quadratic join the engine exists to avoid
    // — sound as ground truth at sf0.01 (1500² pairs), which is exactly
    // why the blocked engine path (FastSS deletion neighborhoods,
    // EntityResolution.deletionJoin) is the one that ships
    "q_er_editjoin" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer)
        |SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM c a JOIN c b ON a.c_custkey < b.c_custkey
        |  AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // the SAME fold, as DuckDB list_reduce with a string accumulator
    // (list_prepend supplies the init element; a LIST/VARCHAR state on
    // purpose — struct-returning lambdas rebind fields mid-row)
    "q_er_soundex" -> {
      def code(c: String) = s"translate($c, '$sxFrom', '$sxTo')"
      s"""WITH w0 AS (SELECT upper(regexp_extract(p_name, '^[a-z]+', 0)) AS word
         |            FROM part),
         |w AS (SELECT word FROM w0 WHERE length(word) >= 1),
         |st AS (SELECT word,
         |    list_reduce(
         |      list_prepend(
         |        substr(word, 1, 1) || ${code("substr(word, 1, 1)")},
         |        list_transform(range(2, length(word) + 1),
         |          i -> substr(word, i, 1))),
         |      (s, ch) -> CASE
         |        WHEN ${code("ch")} != '0'
         |             AND ${code("ch")} != substr(s, length(s), 1)
         |             AND length(s) < 5
         |        THEN substr(s, 1, length(s) - 1) || ${code("ch")} || ${code("ch")}
         |        ELSE substr(s, 1, length(s) - 1) || ${code("ch")} END
         |    ) AS sx_state
         |  FROM w),
         |sx0 AS (SELECT word,
         |          rpad(substr(sx_state, 1, length(sx_state) - 1), 4, '0') AS sx
         |        FROM st),
         |c AS (SELECT sx, CAST(count(*) AS BIGINT) AS n_parts,
         |        CAST(count(DISTINCT word) AS BIGINT) AS n_words,
         |        MIN(word) AS first_word
         |      FROM sx0 GROUP BY sx),
         |t AS (SELECT CAST(SUM(n_parts) AS BIGINT) AS n_tot FROM c)
         |SELECT sx, n_parts, n_words, first_word,
         |  CAST(n_parts * (n_parts - 1) // 2 AS BIGINT) AS n_cand_pairs,
         |  CAST(n_parts * 1000000 // n_tot AS BIGINT) AS mass_ppm
         |FROM c, t ORDER BY sx""".stripMargin
    },

    "q_er_candidates" ->
      s"""WITH $erCtes
         |SELECT rec_a, rec_b, name_agree, bal_agree, seg_agree, score
         |FROM scored ORDER BY rec_a, rec_b""".stripMargin,

    "q_er_matches" ->
      s"""WITH $erCtes
         |SELECT rec_a, rec_b, score FROM scored
         |WHERE score >= $matchThreshold ORDER BY rec_a, rec_b""".stripMargin,

    "q_er_scorehist" ->
      s"""WITH $erCtes
         |SELECT score, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(COALESCE(SUM(CASE WHEN rec_a % 2 = 0 AND rec_b = rec_a + 1
         |                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true,
         |  CAST(COALESCE(SUM(CASE WHEN rec_a % 2 = 0 AND rec_b = rec_a + 1
         |                         THEN 1 ELSE 0 END), 0) * 1000000 // count(*)
         |    AS BIGINT) AS precision_ppm
         |FROM scored GROUP BY score ORDER BY score""".stripMargin,

    "q_er_clusters" ->
      s"""WITH RECURSIVE $erCtes,
         |matched AS (SELECT rec_a, rec_b FROM scored WHERE score >= $matchThreshold),
         |edges AS (
         |  SELECT rec_a AS a, rec_b AS b FROM matched
         |  UNION SELECT rec_b, rec_a FROM matched),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |lab AS (SELECT src AS rec_id, least(src, min(dst)) AS cluster
         |        FROM reach GROUP BY src),
         |labeled AS (
         |  SELECT r.rec_id, coalesce(l.cluster, r.rec_id) AS cluster
         |  FROM records r LEFT JOIN lab l ON l.rec_id = r.rec_id),
         |sizes AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz
         |          FROM labeled GROUP BY cluster)
         |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(sz) AS BIGINT) AS n_records
         |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin,

    "q_er_golden" ->
      s"""WITH RECURSIVE $erCtes,
         |matched AS (SELECT rec_a, rec_b FROM scored WHERE score >= $matchThreshold),
         |edges AS (
         |  SELECT rec_a AS a, rec_b AS b FROM matched
         |  UNION SELECT rec_b, rec_a FROM matched),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
         |lab AS (SELECT src AS rec_id, least(src, min(dst)) AS cluster
         |        FROM reach GROUP BY src),
         |labeled AS (
         |  SELECT r.rec_id, r.segment, r.bal_cents,
         |         coalesce(l.cluster, r.rec_id) AS cluster
         |  FROM records r LEFT JOIN lab l ON l.rec_id = r.rec_id),
         |entity AS (
         |  SELECT cluster AS entity_id, COUNT(*) AS n_records,
         |         min(segment) AS merged_segment,
         |         max(bal_cents) AS best_bal_cents
         |  FROM labeled GROUP BY cluster)
         |SELECT e.entity_id, r.name AS canonical_name, r.nation,
         |       e.merged_segment, e.best_bal_cents, e.n_records
         |FROM entity e JOIN records r ON r.rec_id = e.entity_id
         |ORDER BY entity_id""".stripMargin,

    "q_er_eval" ->
      s"""WITH $erCtes,
         |m AS (SELECT rec_a, rec_b FROM scored WHERE score >= $matchThreshold),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n_matched,
         |  CAST(coalesce(SUM(CASE WHEN rec_a % 2 = 0 AND rec_b = rec_a + 1
         |                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp
         |  FROM m),
         |tr AS (SELECT CAST(count(*) // 2 AS BIGINT) AS n_truth FROM records)
         |SELECT tp, n_matched - tp AS fp, n_truth - tp AS fn,
         |  CAST(tp * 1000000 // greatest(n_matched, 1) AS BIGINT) AS precision_ppm,
         |  CAST(tp * 1000000 // greatest(n_truth, 1) AS BIGINT) AS recall_ppm
         |FROM st, tr""".stripMargin,

    "q_er_blocks" ->
      s"""WITH ${EntityResolution.dirtyRecordsSql},
         |${EntityResolution.blockedSql(suffixSql)},
         |sizes AS (SELECT nation, blk, CAST(count(*) AS BIGINT) AS block_size
         |          FROM blocked GROUP BY nation, blk),
         |census AS (SELECT block_size, CAST(count(*) AS BIGINT) AS n_blocks
         |           FROM sizes GROUP BY block_size)
         |SELECT block_size, n_blocks,
         |  CAST(n_blocks * (block_size * (block_size - 1) // 2) AS BIGINT) AS n_cand_pairs
         |FROM census ORDER BY block_size""".stripMargin,

    "q_stream_er" ->
      s"""WITH ${EntityResolution.dirtyRecordsSql},
         |${EntityResolution.crossScoreSql(suffixSql)}
         |SELECT clean_id, arriving_id, score FROM crossed
         |WHERE score >= $matchThreshold
         |ORDER BY clean_id, arriving_id""".stripMargin
  )
}
