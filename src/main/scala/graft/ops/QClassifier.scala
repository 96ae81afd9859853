package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Quality-classifier TRAINING as a relational operator — the
  * fastText-style linear gate DCLM/FineWeb-class pipelines run as their
  * main keep/drop filter (Li et al. 2024; Penedo et al. 2024 — public),
  * re-expressed as distributed logistic-loss gradient descent in EXACT
  * integer arithmetic so the DuckDB oracle replays every weight of
  * every iteration bit-identically.
  *
  * Shape per GD iteration (T = 8, 1/t step decay):
  *   z_d  = Σ_f w_f·x_df div 10⁶                (per-doc margin, micro)
  *   r_d  = σ(z_d) − y_d·10⁶                    (residual, ppm)
  *   g_f  = Σ_d  (x_df·r_d) div 10⁶             (gradient partial)
  *   w_f ← w_f − (g_f·1000) div (n·2·(t+1))     (decayed step)
  * with σ the PLAN piecewise-linear sigmoid (Amin, Curtis & Hayes-Gill
  * 1997 — public): slopes ¼, ⅛, 1/32 over |z| < 1, 2.375, 5 logits then
  * saturation, every slope a power-of-two integer division. Unlike the
  * 2-piece hard sigmoid, the tails keep a live gradient until 5 logits
  * out — full-batch GD on count features oscillates class-wide without
  * that (measured: hard-sigmoid training pinned at the class prior for
  * 16+ iterations; PLAN + 1/t decay reaches 100% seed accuracy in 8).
  *
  * Features: the hashing trick (Weinberger et al. 2009) into D = 32
  * buckets via the portable 60-bit md5 parse, tf-normalized to ppm
  * shares (raw counts re-introduce the document-length direction, which
  * dominates the gradient and stalls training), plus a constant-scale
  * bias feature at f = D. Labels: weak supervision, the DCLM pattern —
  * a deterministic seed rule (token-count margin m = c_fast − c_slow)
  * labels only the CONFIDENT docs (|m| ≥ 2) for training, and the
  * trained model generalizes to the margin-1 docs the rule itself can
  * barely call (measured ~90% full-corpus agreement from a 100%-seed
  * fit at every SF).
  *
  * Sign discipline: Spark's `div` truncates toward zero while DuckDB's
  * `//` floors — every division that can see a negative numerator is
  * sign-split (CASE on the sign, divide the absolute value), the κ
  * convention, so the two engines can never diverge.
  *
  * 100 TB: the gradient is a map-side-combinable groupBy over D+1 = 33
  * keys; the per-doc margin is one equi-join with a 33-row broadcast +
  * a doc-keyed partial agg; T passes over the SEED subset (a filter of
  * the corpus — at real scale the seed set is the curated sample, not
  * the corpus). Only the 33-row gradient ever reaches the driver (the
  * k-row-seed convention). Scoring (see [[scoreAll]]) is one broadcast
  * pass, zero shuffles before the census.
  */
object QClassifier {
  val D = 32
  val BIAS_X = 50000L
  val ITERS = 8
  val STEP_C = 2L
  /** Cartography ambiguity threshold on the post-transit variance
    * (pp2 = ppm²): 2.25e9 ≈ a 47k-ppm std over the last-4 window —
    * calibrated so the band discriminates (measured: transit-free
    * per-item stds spread 17k–51k on the seed corpus). */
  val CARTO_VAR_AMBIG = 2250000000L

  /** Truncating (toward-zero) integer division as a SQL fragment —
    * operands may be negative; the sign-split keeps both engines on
    * nonnegative floor division. */
  def tdivSql(num: String, den: String): String =
    s"CASE WHEN ($num) >= 0 THEN ($num) div ($den) ELSE -((-($num)) div ($den)) END"

  /** PLAN piecewise-linear sigmoid over a micro-unit margin column, in
    * ppm. Pure integer CASE chain — identical text modulo the div/`//`
    * spelling on the two engines (all operands nonnegative here). */
  private def planSigSql(z: String, idiv: String): String = {
    val a = s"abs($z)"
    val h = s"""CASE WHEN $a >= 5000000 THEN 1000000
               | WHEN $a >= 2375000 THEN 843750 + ($a) $idiv 32
               | WHEN $a >= 1000000 THEN 625000 + ($a) $idiv 8
               | ELSE 500000 + ($a) $idiv 4 END""".stripMargin.replace("\n", " ")
    s"CASE WHEN ($z) >= 0 THEN $h ELSE 1000000 - ($h) END"
  }
  def planSigSpark(z: String): Column = expr(planSigSql(z, "div"))
  def planSigDuck(z: String): String = planSigSql(z, "//")

  /** (doc_id, f, x) hashed tf-ppm features + the bias row, from a
    * documents relation with (doc_id, text). */
  def featurize(docs: DataFrame): DataFrame = {
    import graft.ops.CacheScope.ScopedPersist
    val ws = split(trim(lower(col("text"))), "\\s+")
    val base = docs.select(col("doc_id"), ws.as("ws"))
    val counts = base
      .select(col("doc_id"), size(col("ws")).cast("long").as("nt"),
        explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("nt"),
        pmod(Dedup.hex60(md5(concat(lit("lr:"), col("w")).cast("binary"))),
          lit(D.toLong)).as("f"))
      .agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("f"), expr("c * 1000000 div nt").as("x"))
    // r18 (r17 verdict #7): the corpus-sized explode + md5 + groupBy is
    // THE family's dominant pass and all four entries (qclassifier fit
    // census, qscore, cartography, cv) build the identical subplan —
    // persist it once so the cache manager shares it family-wide (the
    // vocab_growth pattern; ≤ (D+2)·n_docs small rows). The bias-row
    // union stays outside the cache (it is a constant-per-doc projection
    // of `base`, no second corpus pass: doc_id rides the same scan).
    counts.scopedPersist().unionAll(
      base.select(col("doc_id"), lit(D.toLong).as("f"), lit(BIAS_X).as("x")))
  }

  /** Seed-rule margin m = c_fast − c_slow per doc. */
  def seedMargin(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      (expr("size(filter(split(trim(lower(text)), '\\\\s+'), t -> t = 'fast'))") -
        expr("size(filter(split(trim(lower(text)), '\\\\s+'), t -> t = 'slow'))"))
        .cast("long").as("m"))

  /** Seed labels relation (doc_id, y) — the confident slice. */
  def seedLabels(docs: DataFrame): DataFrame =
    seedMargin(docs).filter(abs(col("m")) >= 2)
      .select(col("doc_id"), when(col("m") >= 2, 1L).otherwise(0L).as("y"))

  /** The GD loop over a prepared (doc_id, f, x, y) relation: returns the
    * weight vector AFTER each of the T updates (trajectory, T entries).
    * `tf` should be persisted by the caller — it feeds 2 joins × T. */
  private def trainCore(tf: DataFrame, n: Long): Seq[Map[Long, Long]] = {
    val spark = tf.sparkSession
    import spark.implicits._
    var w = (0L to D.toLong).map(_ -> 0L).toMap
    (0 until ITERS).map { t =>
      val wdf = w.toSeq.toDF("f", "w")
      val z = tf.join(broadcast(wdf), "f")
        .groupBy(col("doc_id"))
        .agg(sum(col("x") * col("w")).as("zz"), min(col("y")).as("y"))
        .select(col("doc_id"),
          (planSigSpark(tdivSql("zz", "1000000")) - col("y") * 1000000L).as("r"))
      val g = tf.join(z, "doc_id")
        .groupBy(col("f"))
        .agg(sum(expr(tdivSql("x * r", "1000000"))).as("g"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // ≤ 33 rows
      val den = n * STEP_C * (t + 1)
      w = w.map { case (f, wf) =>
        val gf = g.getOrElse(f, 0L) * 1000L
        val step = if (gf >= 0) gf / den else -((-gf) / den)
        f -> (wf - step)
      }
      w
    }
  }

  /** Per-JVM trained-model memo (the UlmTokenizer.trainedModel
    * convention): (per-iteration weight trajectory, n_train), keyed by
    * source dir — neither the scoring query nor the cartography census
    * re-pays the T training passes. */
  private val modelMemo = TrieMap.empty[String, (Seq[Map[Long, Long]], Long)]

  /** Train on the confident seed labels of `docs` (memoized per dir):
    * the weight vector after every iteration, plus n_train. */
  def trainedTrajectory(docs: DataFrame, dir: String): (Seq[Map[Long, Long]], Long) =
    modelMemo.getOrElseUpdate(dir, {
      import graft.ops.CacheScope.ScopedPersist
      val lab = seedLabels(docs)
      // the train-subset feature relation feeds 2 joins per iteration ×
      // T iterations: persist once (bounded: ≤ (D+2)·n_seed rows)
      val tf = featurize(docs).join(lab, "doc_id").scopedPersist()
      val n = math.max(lab.count(), 1L)
      (trainCore(tf, n), n)
    })

  /** Final trained weights (last trajectory entry) + n_train. */
  def trainedModel(docs: DataFrame, dir: String): (Map[Long, Long], Long) = {
    val (traj, n) = trainedTrajectory(docs, dir)
    (traj.last, n)
  }

  /** k-fold memo: all k leave-one-fold-out models at once. */
  private val foldMemo = TrieMap.empty[(String, Int), Map[Int, (Map[Long, Long], Long)]]

  /** Fold id per doc: the keyed hash mod k (identical SQL spelling). */
  def foldOf(k: Int) = pmod(Dedup.hex60(
    md5(concat(lit("cv:"), col("doc_id").cast("string")).cast("binary"))), lit(k.toLong))

  /** ALL k leave-one-fold-out models trained in ONE batched GD loop:
    * per iteration, every (model m, seed doc with fold ≠ m) pair flows
    * through one join + two partial aggregations, and a single ≤ k·33
    * row collect updates every model — one Spark action per iteration
    * instead of one per (model, iteration). The per-model arithmetic is
    * EXACTLY trainCore's on that model's training subset (each model's
    * z/residual/gradient sums range over its own docs, its own n in the
    * step divisor), so the batched weights are bit-identical to k
    * independent trainings — which is what the oracle replays as k
    * separate unrolled chains. Memoized per (dir, k). */
  def foldModelsAll(docs: DataFrame, dir: String, k: Int): Map[Int, (Map[Long, Long], Long)] =
    foldMemo.getOrElseUpdate((dir, k), {
      val spark = docs.sparkSession
      import spark.implicits._
      import graft.ops.CacheScope.ScopedPersist
      val lab = seedLabels(docs).withColumn("fold", foldOf(k))
      val tfAll = featurize(docs).join(lab, "doc_id").scopedPersist()
      val byFold = lab.groupBy(col("fold")).count()
        .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      val total = byFold.values.sum
      val nOf = (0 until k).map(m => m -> math.max(total - byFold.getOrElse(m, 0L), 1L)).toMap
      val mtab = (0 until k).map(_.toLong).toDF("m")
      var w: Map[(Int, Long), Long] =
        (for (m <- 0 until k; f <- 0L to D.toLong) yield (m, f) -> 0L).toMap
      (0 until ITERS).foreach { t =>
        val wdf = w.toSeq.map { case ((m, f), wv) => (m.toLong, f, wv) }
          .toDF("m", "f", "w")
        val pairs = tfAll.join(broadcast(mtab), col("m") =!= col("fold"))
        val z = pairs.join(broadcast(wdf), Seq("m", "f"))
          .groupBy(col("m"), col("doc_id"))
          .agg(sum(col("x") * col("w")).as("zz"), min(col("y")).as("y"))
          .select(col("m"), col("doc_id"),
            (planSigSpark(tdivSql("zz", "1000000")) - col("y") * 1000000L).as("r"))
        // z carries exactly the (m, doc) pairs with m ≠ fold(doc), so the
        // doc-keyed join needs no re-filter
        val g = tfAll.join(z, "doc_id")
          .groupBy(col("m"), col("f"))
          .agg(sum(expr(tdivSql("x * r", "1000000"))).as("g"))
          .collect().map(r => (r.getLong(0).toInt, r.getLong(1)) -> r.getLong(2))
          .toMap // ≤ k·33 rows
        w = w.map { case ((m, f), wf) =>
          val gf = g.getOrElse((m, f), 0L) * 1000L
          val den = nOf(m) * STEP_C * (t + 1)
          val step = if (gf >= 0) gf / den else -((-gf) / den)
          (m, f) -> (wf - step)
        }
      }
      (0 until k).map { m =>
        m -> (w.collect { case ((`m`, f), wv) => f -> wv }.toMap, nOf(m))
      }.toMap
    })

  /** Score a documents relation with an explicit weight vector: one
    * 33-row broadcast join + one doc-keyed partial agg — no full
    * shuffle, the one-pass 100 TB scoring shape.
    * Returns (doc_id, sig_ppm, keep). */
  def scoreWith(docs: DataFrame, w: Map[Long, Long]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wdf = w.toSeq.toDF("f", "w")
    featurize(docs).join(broadcast(wdf), "f")
      .groupBy(col("doc_id"))
      .agg(sum(col("x") * col("w")).as("zz"))
      .select(col("doc_id"),
        planSigSpark(tdivSql("zz", "1000000")).cast("long").as("sig_ppm"))
      .withColumn("keep", col("sig_ppm") >= 500000L)
  }

  /** Score with the dir-memoized trained model. */
  def scoreAll(docs: DataFrame, dir: String): DataFrame =
    scoreWith(docs, trainedModel(docs, dir)._1)

  // ---------------------------------------------------------------- //
  //  DuckDB oracle: the SAME T iterations unrolled as MATERIALIZED    //
  //  CTE stages (the btlSql convention — inlined iterated CTEs        //
  //  re-evaluate the chain exponentially).                            //
  // ---------------------------------------------------------------- //

  /** Shared feature/label CTE prefix (DuckDB). `hex60(e)` must be the
    * caller's portable md5 parse (DedupQueries.sqlHex60Public). */
  def oracleCtes(hex60: String => String): String = {
    val hv = hex60("md5('lr:' || w)")
    s"""wsx AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(ws) AS w FROM wsx),
       |nt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n FROM wsx),
       |fc AS (SELECT doc_id, CAST(($hv) % 32 AS BIGINT) AS f,
       |    CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
       |feats AS MATERIALIZED (
       |  SELECT fc.doc_id, fc.f, CAST(fc.c * 1000000 // nt.n AS BIGINT) AS x
       |  FROM fc JOIN nt USING (doc_id)
       |  UNION ALL SELECT doc_id, 32, ${BIAS_X} FROM nt),
       |lab0 AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN w = 'fast' THEN 1 ELSE 0 END)
       |       - SUM(CASE WHEN w = 'slow' THEN 1 ELSE 0 END) AS BIGINT) AS m
       |  FROM tok GROUP BY doc_id),
       |lab AS MATERIALIZED (SELECT doc_id,
       |    CAST(CASE WHEN m >= 2 THEN 1 ELSE 0 END AS BIGINT) AS y
       |  FROM lab0 WHERE abs(m) >= 2),
       |tf AS MATERIALIZED (SELECT feats.doc_id, feats.f, feats.x, lab.y
       |  FROM feats JOIN lab USING (doc_id)),
       |ntr AS (SELECT CAST(GREATEST(COUNT(*), 1) AS BIGINT) AS n FROM lab),
       |it0 AS (SELECT CAST(unnest(range(0, 33)) AS BIGINT) AS f,
       |  CAST(0 AS BIGINT) AS w)""".stripMargin
  }

  private def duckTdiv(num: String, den: String): String =
    s"CASE WHEN ($num) >= 0 THEN ($num) // ($den) ELSE -((-($num)) // ($den)) END"

  /** The unrolled GD stages over an arbitrary prepared train relation
    * `tfn` (doc_id, f, x, y) and its count CTE `ntrn`, with every stage
    * name carrying `sfx` so several chains (the k-fold oracles) can
    * coexist in one WITH. When `sfx` is nonempty the chain declares its
    * own zero-weight start; the unsuffixed chain reuses the prefix's it0. */
  def oracleGdStagesOver(tfn: String, ntrn: String, sfx: String): String = {
    val zero = if (sfx.isEmpty) "" else
      s"""it${sfx}0 AS (SELECT CAST(unnest(range(0, 33)) AS BIGINT) AS f,
         |  CAST(0 AS BIGINT) AS w),
         |""".stripMargin
    zero + (0 until ITERS).map { k =>
      val sig = planSigDuck(duckTdiv("zz", "1000000"))
      s"""z$sfx$k AS MATERIALIZED (SELECT $tfn.doc_id,
         |    CAST(SUM($tfn.x * it$sfx$k.w) AS BIGINT) AS zz, MIN($tfn.y) AS y
         |  FROM $tfn JOIN it$sfx$k USING (f) GROUP BY $tfn.doc_id),
         |r$sfx$k AS MATERIALIZED (SELECT doc_id,
         |    CAST(($sig) - y * 1000000 AS BIGINT) AS r FROM z$sfx$k),
         |g$sfx$k AS (SELECT $tfn.f,
         |    CAST(SUM(${duckTdiv(s"$tfn.x * r$sfx$k.r", "1000000")}) AS BIGINT) AS g
         |  FROM $tfn JOIN r$sfx$k USING (doc_id) GROUP BY $tfn.f),
         |it$sfx${k + 1} AS MATERIALIZED (SELECT it.f,
         |    CAST(it.w - ${duckTdiv("COALESCE(g.g, 0) * 1000",
              s"(SELECT n FROM $ntrn) * $STEP_C * ${k + 1}")} AS BIGINT) AS w
         |  FROM it$sfx$k it LEFT JOIN g$sfx$k g USING (f))""".stripMargin
    }.mkString(",\n")
  }

  /** The unrolled GD stages z$k/r$k/g$k/it${k+1}, k = 0 until ITERS. */
  def oracleGdStages: String = oracleGdStagesOver("tf", "ntr", "")
}
