package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder.scan
import graft.ops.{AnnIndex, SessionMemo}

/** ANN index persist/reload queries — the deploy tier over
  * [[graft.ops.AnnIndex]]: build the IVF-PQ index as parquet tables,
  * reload, and serve from the persisted bytes. Every query here READS
  * BACK what it wrote (the engine side is the round-trip; the oracle
  * recomputes from the raw embeddings table), so a persistence bug —
  * wrong partition column type, float truncation, code column drift —
  * is a hash mismatch, not a silent recall loss.
  *
  * Sums that aggregate scaled-integer longs over the corpus add in
  * DECIMAL(38,0) (Σ n2 ≈ 6.4e13 per vector crosses 2⁶³ past ~10⁵
  * vectors) and are cast to BIGINT on output, like every other
  * registry census: the ANSI cast fails loudly, never wraps, if a
  * cell's sum ever leaves the long range.
  */
object AnnQueries {

  private val DIMS = 64

  /** HERMETICITY (r16 verdict #1): the staging dirs used to be box-global
    * tmpfs paths keyed only by hex(dataset.hashCode) — shared by every
    * JVM on the machine, so a concurrent bench/verify process rebuilding
    * or appending the same dirs corrupted the census sums (the r16 driver
    * gate's only red). Now every dir is (a) scoped under the per-JVM
    * [[graft.engine.Staging.session]] scratch root — no other process can
    * ever name this JVM's artifacts, and a shutdown hook removes the tree
    * — and (b) keyed by a SHA-256 digest of the FULL dataset path (32-bit
    * String.hashCode can collide across paths).
    */
  private lazy val sessionRoot: String = s"${graft.engine.Staging.session}/graft_ann"
  private def dsTag(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  private[graft] def mainDir(d: String) = s"$sessionRoot/main_${dsTag(d)}"
  private[graft] def deltaDir(d: String) = s"$sessionRoot/delta_${dsTag(d)}"
  private[graft] def recallDir(d: String) = s"$sessionRoot/recall_${dsTag(d)}"

  /** Deploy-once memos, one per artifact, keyed by (session, dataset
    * dir): a consumer of a persisted index measures ITS OWN operation —
    * serving (query/stats/rerank/rrf against the main index), delta
    * ingest (against the deployed even-id base), recall eval (against
    * the deployed ≥5 corpus) — not a per-invocation rebuild of the
    * artifact it reads; q_ann_build is the entry that carries the deploy
    * and always rebuilds. A harness storage clear (which also marks a
    * dataset-regeneration boundary — GenScale reuses staging paths)
    * forces a rebuild.
    * The memo value is the artifact's completion-marker token: before
    * trusting the memo, the reader revalidates the ON-DISK marker — a
    * deleted, torn, or externally rebuilt artifact no longer matches and
    * is rebuilt, so memo/disk agreement is VERIFIED per use, never
    * assumed across processes (r16 verdict #1).
    */
  private val mainDeploy = new SessionMemo[String, String](_ => ())
  private val deltaDeploy = new SessionMemo[String, String](_ => ())
  private val recallDeploy = new SessionMemo[String, String](_ => ())
  private def ensureIndex(memo: SessionMemo[String, String], s: SparkSession, d: String,
      dir: String)(build: => Unit): String = synchronized {
    val onDisk = AnnIndex.readMarker(dir)
    if (!memo.get(s, d).exists(tok => onDisk.contains(tok))) {
      build
      memo.put(s, d, AnnIndex.readMarker(dir).getOrElse(""))
    }
    dir
  }
  private def ensureMain(s: SparkSession, d: String): String =
    ensureIndex(mainDeploy, s, d, mainDir(d)) {
      AnnIndex.build(scan(s, d, "embeddings").filter(col("vec_id") =!= 0),
        "vec_id", "embedding", mainDir(d))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BUILD + PERSIST + read-back census: train the deterministic
    // IVF-PQ index, write centroids + cell-partitioned postings, then
    // aggregate the PERSISTED table per cell — counts, exact Σ n2, the
    // PQ-code mass, id range. The census is the index's build report
    // (cell balance + code distribution); hashing it against the
    // from-scratch oracle proves the persisted bytes, not the plan.
    "q_ann_build" -> ((s: SparkSession, d: String) => {
      // the deploy entry: ALWAYS rebuilds (its number is the deploy
      // cost), then marks the memo so the serving entries reuse it
      val dir = mainDir(d)
      AnnIndex.build(scan(s, d, "embeddings").filter(col("vec_id") =!= 0),
        "vec_id", "embedding", dir)
      mainDeploy.put(s, d, AnnIndex.readMarker(dir).getOrElse(""))
      s.read.parquet(s"$dir/postings")
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("n2").cast("decimal(38,0)")).cast("long").as("sum_n2"),
          sum(aggregate(col("code"), lit(0L), (a, x) => a + x)).as("sum_codes"),
          min(col("vec_id")).as("min_vec"),
          max(col("vec_id")).as("max_vec"))
        .orderBy(col("cell"))
    }),

    // RELOAD + SERVE: rebuild the index (deploy), then answer vec 0's
    // top-10 purely from the persisted tables — centroids collected
    // back for probe selection, postings directory-pruned to 3 of 16
    // cells, ADC over the stored codes, exact re-rank from the stored
    // vectors. Bit-identical to the in-plan stack (q_sim_ivf_adc) at
    // the same parameters — which is exactly what the oracle asserts.
    "q_ann_query" -> ((s: SparkSession, d: String) => {
      val e = scan(s, d, "embeddings")
      val idx = AnnIndex.load(s, ensureMain(s, d))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      AnnIndex.adcQuery(idx, qv, k = 10, shortlist = 50, probes = 3)
    }),

    // DELTA INGEST: new vectors join a deployed index WITHOUT
    // retraining — odd ids are assigned + PQ-coded under the frozen
    // even-id-trained centroids and written as a FRESH delta segment
    // beside the base postings; readers union the segments (the LSM
    // layout — old postings stay valid; at 100 TB this is the hourly
    // ingest path: a map-side pass + one partitioned segment write, no
    // index rebuild). The r16 blind mode("append") into the base dir was
    // not crash/interleave-safe (a partial append is silently aggregated
    // — ADVICE r16 #2); an overwrite into a segment dir is all-or-
    // nothing at the census read. Census per cell: base/delta
    // populations + exact Σ n2.
    "q_ann_delta" -> ((s: SparkSession, d: String) => {
      val e = scan(s, d, "embeddings").filter(col("vec_id") =!= 0)
      // the BASE index is a deploy-once artifact like the main index
      // (r17): the entry measures the INGEST — frozen-centroid
      // assignment, the delta segment write, the two-segment census —
      // which is the hourly path's actual cost; the base deploy is
      // carried by the first invocation only (and by q_ann_build's
      // always-rebuild number for the deploy shape itself)
      val dir = ensureIndex(deltaDeploy, s, d, deltaDir(d)) {
        AnnIndex.build(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", deltaDir(d))
      }
      val idx = AnnIndex.load(s, dir)
      AnnIndex.assignWithSeeds(e.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", idx.seeds)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/postings_delta")
      s.read.parquet(s"$dir/postings")
        .unionByName(s.read.parquet(s"$dir/postings_delta"))
        .groupBy(col("cell"))
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_base"),
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_delta"),
          sum(col("n2").cast("decimal(38,0)")).cast("long").as("sum_n2"))
        .orderBy(col("cell"))
    }),

    // INDEX QUALITY AUDIT: per-cell PQ reconstruction distortion from
    // the RELOADED postings — Σ_m min_k d(sub_m, codebook k) per
    // vector, the quantization-error metric that tells an operator
    // which cells have drifted from their codebook (retrain signal).
    "q_ann_stats" -> ((s: SparkSession, d: String) => {
      val idx = AnnIndex.load(s, ensureMain(s, d))
      idx.postings
        .withColumn("dist", AnnIndex.distortion(col("embedding"), idx.codebook))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("dist").cast("decimal(38,0)")).cast("long").as("sum_distortion"),
          max(col("dist")).as("max_distortion"))
        .orderBy(col("cell"))
    }),

    // SERVING RECALL EVAL: recall@10 of the reloaded index (3 of 16
    // probes) against brute-force ground truth for a fixed 5-query
    // probe set — the accuracy/cost number a deployed index republishes
    // after every build. Query side is eval-sized (the r7 scale rule);
    // the brute side broadcasts the 5 queries and prunes through
    // TopKPerKey, so the eval costs one corpus pass at any scale.
    "q_ann_recall" -> ((s: SparkSession, d: String) => {
      val e = scan(s, d, "embeddings")
      val corpus = e.filter(col("vec_id") >= 5)
      // deploy-once like the other served indexes (r17): the entry
      // measures the RECALL EVAL (5 probe queries + the brute-force
      // ground-truth pass) against a deployed index, not a rebuild
      val dir = ensureIndex(recallDeploy, s, d, recallDir(d)) {
        AnnIndex.build(corpus, "vec_id", "embedding", recallDir(d))
      }
      val idx = AnnIndex.load(s, dir)
      val qrows = e.filter(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .sortBy(_.getLong(0)).toSeq
      val ann = qrows.map { r =>
        AnnIndex.adcQuery(idx, r.getSeq[Float](1), k = 10, shortlist = 50, probes = 3)
          .select(lit(r.getLong(0)).as("qid"), col("vec_id"), lit(1L).as("__hit"))
      }.reduce(_ unionAll _)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          graft.ops.Similarity.scaledDot(col("embedding"), col("embedding")).as("qn"))
      val scored = corpus.crossJoin(broadcast(q))
        .withColumn("cosine",
          graft.ops.Similarity.scaledDot(col("embedding"), col("qv")).cast("double") /
            (sqrt(graft.ops.Similarity.scaledDot(col("embedding"), col("embedding"))
              .cast("double")) * sqrt(col("qn").cast("double"))))
        .select(col("qid"), col("vec_id"), col("cosine"))
      val brute = graft.plans.TopKPerKey.topKPerKey(scored,
        keyCols = Seq("qid"), sorts = Seq(("cosine", false), ("vec_id", true)), k = 10)
      brute.select(col("qid"), col("vec_id"))
        .join(ann, Seq("qid", "vec_id"), "left")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_found"))
        .select(col("n_exact"), col("n_found"),
          expr("n_found * 1000000 div n_exact").as("recall_ppm"))
    }),

    // RETRIEVE-THEN-RERANK — the two-stage serving harness every
    // production RAG stack ships: the reloaded ANN index recalls a
    // cheap top-20 (probes 3/16, ADC codes, exact cosine), then a
    // SECOND-STAGE scorer reranks the shortlist against the query
    // DOCUMENT (vec_id = doc_id by generator contract): exact distinct-
    // word overlap with doc 0's text — the deterministic stand-in for a
    // cross-encoder (the stage-2 model is swappable; the harness shape
    // — candidate join to the document store, per-candidate scoring,
    // rerank of a k-row relation — is what's being built and proven).
    // Stage-2 cost is shortlist-sized at any corpus scale: 20 rows join
    // the document store by id, the query's word set rides as a plan
    // literal.
    "q_ann_rerank" -> ((s: SparkSession, d: String) => {
      val e = scan(s, d, "embeddings")
      val idx = AnnIndex.load(s, ensureMain(s, d))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      val qWords = scan(s, d, "documents").filter(col("doc_id") === 0)
        .select(col("text")).head().getString(0)
        .trim.toLowerCase.split("\\s+").distinct.toSeq
      val shortlist = AnnIndex.adcQuery(idx, qv, k = 20, shortlist = 50, probes = 3)
      val docs = scan(s, d, "documents").select(col("doc_id"),
        array_distinct(split(lower(trim(col("text"))), "\\s+")).as("ws"))
      shortlist.join(docs, shortlist("vec_id") === docs("doc_id"), "left")
        .select(col("vec_id"), col("cosine"),
          coalesce(size(array_intersect(col("ws"),
            array(qWords.map(lit): _*))).cast("long"), lit(0L)).as("n_shared"))
        .orderBy(col("n_shared").desc, col("cosine").desc, col("vec_id").asc)
        .limit(10)
    }),

    // RECIPROCAL-RANK FUSION (Cormack et al. SIGIR'09) of two retrieval
    // arms — the standard hybrid-search combiner: arm A = the reloaded
    // ANN index's top-20 by cosine; arm B = lexical top-20 by exact
    // distinct-word overlap with the query document (at 100 TB arm B is
    // an inverted-index lookup; here it is one map-side scan + top-k —
    // rank semantics identical). Scores are exact integers:
    // Σ_arms 10⁹ div (60 + rank), so the fused order is engine-portable
    // with no float drift. Output: top-10 fused with per-arm presence.
    "q_ann_rrf" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val e = scan(s, d, "embeddings")
      val idx = AnnIndex.load(s, ensureMain(s, d))
      val qv = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0)
      val qWords = scan(s, d, "documents").filter(col("doc_id") === 0)
        .select(col("text")).head().getString(0)
        .trim.toLowerCase.split("\\s+").distinct.toSeq
      // both rank windows run over k-row relations — the single-partition
      // window is the POINT (20 rows on the driver-adjacent path), never
      // a corpus-sized sort
      val armA = AnnIndex.adcQuery(idx, qv, k = 20, shortlist = 50, probes = 3)
        .select(col("vec_id"), row_number().over(
          Window.orderBy(col("cosine").desc, col("vec_id").asc)).cast("long").as("rank_a"))
      val armB = scan(s, d, "documents").filter(col("doc_id") =!= 0)
        .select(col("doc_id").as("vec_id"),
          coalesce(size(array_intersect(
            array_distinct(split(lower(trim(col("text"))), "\\s+")),
            array(qWords.map(lit): _*))).cast("long"), lit(0L)).as("n_shared"))
        .orderBy(col("n_shared").desc, col("vec_id").asc).limit(20)
        .select(col("vec_id"), row_number().over(
          Window.orderBy(col("n_shared").desc, col("vec_id").asc)).cast("long").as("rank_b"))
      armA.join(armB, Seq("vec_id"), "full")
        .select(col("vec_id"),
          (coalesce(expr("1000000000 div (60 + rank_a)"), lit(0L)) +
            coalesce(expr("1000000000 div (60 + rank_b)"), lit(0L))).as("rrf_score"),
          (col("rank_a").isNotNull.cast("int") +
            col("rank_b").isNotNull.cast("int")).cast("long").as("n_arms"))
        .orderBy(col("rrf_score").desc, col("vec_id").asc)
        .limit(10)
    }))

  // ---------------------------------------------------------- oracles

  // floor-scaled product term shared by every oracle here (the
  // Similarity SCALE convention: see SimilarityQueries)
  private def term(a: String, b: String) =
    s"CAST(floor(CAST($a AS DOUBLE) * CAST($b AS DOUBLE) * 1e12) AS BIGINT)"

  /** The from-scratch CTE prelude every q_ann oracle shares: corpus,
    * 16 smallest-id seeds, exact BIGINT self-norms, max-cosine cell
    * assignment, the 8-row PQ codebook and per-(vector, subspace)
    * nearest-centroid codes — the DuckDB spelling of AnnIndex.build.
    * `pred` picks the corpus (and therefore the seeds AND codebook).
    */
  private def buildCtes(pred: String): String =
    s"""corpus AS (SELECT vec_id, embedding FROM embeddings WHERE $pred),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sidx, vec_id, embedding
       |  FROM (SELECT * FROM embeddings WHERE $pred ORDER BY vec_id LIMIT 16)),
       |j AS (SELECT unnest(range(1, ${DIMS + 1})) AS j),
       |norms AS (
       |  SELECT vec_id, CAST(SUM(${term("embedding[j.j]", "embedding[j.j]")}) AS BIGINT) AS n2
       |  FROM embeddings CROSS JOIN j GROUP BY vec_id),
       |adots AS (
       |  SELECT e.vec_id, s.sidx,
       |    CAST(SUM(${term("e.embedding[j.j]", "s.embedding[j.j]")}) AS DOUBLE) AS dot
       |  FROM corpus e CROSS JOIN seeds s CROSS JOIN j
       |  GROUP BY e.vec_id, s.sidx),
       |acos AS (
       |  SELECT d.vec_id, d.sidx,
       |    d.dot / (sqrt(CAST(ne.n2 AS DOUBLE)) * sqrt(CAST(ns.n2 AS DOUBLE))) AS cos
       |  FROM adots d
       |    JOIN norms ne ON ne.vec_id = d.vec_id
       |    JOIN seeds s ON s.sidx = d.sidx
       |    JOIN norms ns ON ns.vec_id = s.vec_id),
       |assign AS (
       |  SELECT vec_id, sidx AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, sidx) AS rn
       |    FROM acos) WHERE rn = 1),
       |cb AS (SELECT embedding AS cv, row_number() OVER (ORDER BY vec_id) - 1 AS kk
       |       FROM (SELECT * FROM embeddings WHERE $pred ORDER BY vec_id LIMIT 8)),
       |sub AS (SELECT CAST(m AS INT) AS m FROM range(8) t(m)),
       |cdists AS (SELECT e.vec_id, s.m, cb.kk,
       |    CAST(list_sum(list_transform(range(1, 9), i ->
       |      CAST(floor((CAST(e.embedding[s.m * 8 + i] AS DOUBLE) - CAST(cb.cv[s.m * 8 + i] AS DOUBLE))
       |                 * (CAST(e.embedding[s.m * 8 + i] AS DOUBLE) - CAST(cb.cv[s.m * 8 + i] AS DOUBLE))
       |                 * 1000000000000.0) AS BIGINT))) AS BIGINT) AS d
       |  FROM corpus e, sub s, cb),
       |cbest AS (SELECT vec_id, m, kk, d,
       |            row_number() OVER (PARTITION BY vec_id, m ORDER BY d, kk) AS rn
       |          FROM cdists)""".stripMargin

  /** The single-query (vec 0) ANN serving chain from [[buildCtes]]'s
    * relations through the exact-cosine top-`k`: probe selection, ADC
    * over the per-(vector, subspace) codes, 50-candidate shortlist,
    * re-rank. Ends with `anntop` (vec_id, cosine, rn ≤ k).
    */
  private def annTopCtes(k: Int, probes: Int): String =
    s"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qdots AS (
       |  SELECT s.sidx, CAST(SUM(${term("q.qv[j.j]", "s.embedding[j.j]")}) AS DOUBLE) AS dot
       |  FROM q CROSS JOIN seeds s CROSS JOIN j GROUP BY s.sidx),
       |qcos AS (
       |  SELECT d.sidx,
       |    d.dot / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(ns.n2 AS DOUBLE))) AS cos
       |  FROM qdots d
       |    CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = 0) nq
       |    JOIN seeds s ON s.sidx = d.sidx
       |    JOIN norms ns ON ns.vec_id = s.vec_id),
       |qprobe AS (SELECT sidx FROM qcos ORDER BY cos DESC, sidx LIMIT $probes),
       |cand AS (
       |  SELECT a.vec_id, a.cell FROM assign a JOIN qprobe p ON a.cell = p.sidx),
       |lut AS (SELECT s.m, cb.kk,
       |    CAST(list_sum(list_transform(range(1, 9), i ->
       |      CAST(floor((CAST(q.qv[s.m * 8 + i] AS DOUBLE) - CAST(cb.cv[s.m * 8 + i] AS DOUBLE))
       |                 * (CAST(q.qv[s.m * 8 + i] AS DOUBLE) - CAST(cb.cv[s.m * 8 + i] AS DOUBLE))
       |                 * 1000000000000.0) AS BIGINT))) AS BIGINT) AS ld
       |  FROM q, sub s, cb),
       |adc AS (SELECT c.vec_id, c.cell, CAST(SUM(l.ld) AS BIGINT) AS adc_dist
       |        FROM cand c JOIN cbest b ON b.vec_id = c.vec_id AND b.rn = 1
       |          JOIN lut l ON l.m = b.m AND l.kk = b.kk
       |        GROUP BY c.vec_id, c.cell),
       |short AS (SELECT * FROM adc ORDER BY adc_dist, vec_id LIMIT 50),
       |fdots AS (
       |  SELECT sh.vec_id,
       |    CAST(SUM(${term("e.embedding[j.j]", "q.qv[j.j]")}) AS DOUBLE) AS dot
       |  FROM short sh JOIN corpus e ON e.vec_id = sh.vec_id CROSS JOIN q CROSS JOIN j
       |  GROUP BY sh.vec_id),
       |anntop AS (SELECT vec_id, cosine FROM (
       |    SELECT f.vec_id,
       |      f.dot / (sqrt(CAST(ne.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine,
       |      row_number() OVER (ORDER BY
       |        f.dot / (sqrt(CAST(ne.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) DESC,
       |        f.vec_id) AS rn
       |    FROM fdots f
       |      JOIN norms ne ON ne.vec_id = f.vec_id
       |      CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = 0) nq) WHERE rn <= $k)""".stripMargin

  /** Distinct-word overlap of every document with doc 0's word set —
    * the lexical stage-2 scorer, shared by rerank and RRF oracles. */
  private val lexCtes: String =
    s"""qw AS (SELECT DISTINCT w FROM (
       |  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents WHERE doc_id = 0)),
       |cw AS (SELECT DISTINCT doc_id, w FROM (
       |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |  FROM documents WHERE text IS NOT NULL)),
       |nshared AS (SELECT cw.doc_id, CAST(COUNT(*) AS BIGINT) AS ns
       |            FROM cw JOIN qw ON qw.w = cw.w GROUP BY cw.doc_id)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "q_ann_rerank" ->
      s"""WITH ${buildCtes("vec_id <> 0")},
         |${annTopCtes(20, 3)},
         |$lexCtes
         |SELECT t.vec_id, t.cosine, CAST(COALESCE(ns.ns, 0) AS BIGINT) AS n_shared
         |FROM anntop t LEFT JOIN nshared ns ON ns.doc_id = t.vec_id
         |ORDER BY n_shared DESC, cosine DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_ann_rrf" ->
      s"""WITH ${buildCtes("vec_id <> 0")},
         |${annTopCtes(20, 3)},
         |$lexCtes,
         |arma AS (SELECT vec_id,
         |    CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank_a
         |  FROM anntop),
         |armbbase AS (SELECT d.doc_id AS vec_id, CAST(COALESCE(ns.ns, 0) AS BIGINT) AS n_shared
         |  FROM documents d LEFT JOIN nshared ns ON ns.doc_id = d.doc_id
         |  WHERE d.doc_id <> 0),
         |armb AS (SELECT vec_id,
         |    CAST(row_number() OVER (ORDER BY n_shared DESC, vec_id) AS BIGINT) AS rank_b
         |  FROM (SELECT * FROM armbbase ORDER BY n_shared DESC, vec_id LIMIT 20))
         |SELECT COALESCE(a.vec_id, b.vec_id) AS vec_id,
         |  CAST(COALESCE(1000000000 // (60 + a.rank_a), 0)
         |     + COALESCE(1000000000 // (60 + b.rank_b), 0) AS BIGINT) AS rrf_score,
         |  CAST((CASE WHEN a.rank_a IS NOT NULL THEN 1 ELSE 0 END)
         |     + (CASE WHEN b.rank_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_arms
         |FROM arma a FULL JOIN armb b ON b.vec_id = a.vec_id
         |ORDER BY rrf_score DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_build" ->
      s"""WITH ${buildCtes("vec_id <> 0")},
         |codesum AS (SELECT vec_id, CAST(SUM(kk) AS BIGINT) AS sc
         |            FROM cbest WHERE rn = 1 GROUP BY vec_id)
         |SELECT CAST(a.cell AS INT) AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(CAST(n.n2 AS HUGEINT)) AS BIGINT) AS sum_n2,
         |  CAST(SUM(c.sc) AS BIGINT) AS sum_codes,
         |  MIN(a.vec_id) AS min_vec, MAX(a.vec_id) AS max_vec
         |FROM assign a
         |  JOIN norms n ON n.vec_id = a.vec_id
         |  JOIN codesum c ON c.vec_id = a.vec_id
         |GROUP BY a.cell ORDER BY cell""".stripMargin,

    "q_ann_query" ->
      s"""WITH ${buildCtes("vec_id <> 0")},
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |qdots AS (
         |  SELECT s.sidx, CAST(SUM(${term("q.qv[j.j]", "s.embedding[j.j]")}) AS DOUBLE) AS dot
         |  FROM q CROSS JOIN seeds s CROSS JOIN j GROUP BY s.sidx),
         |qcos AS (
         |  SELECT d.sidx,
         |    d.dot / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(ns.n2 AS DOUBLE))) AS cos
         |  FROM qdots d
         |    CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = 0) nq
         |    JOIN seeds s ON s.sidx = d.sidx
         |    JOIN norms ns ON ns.vec_id = s.vec_id),
         |qprobe AS (SELECT sidx FROM qcos ORDER BY cos DESC, sidx LIMIT 3),
         |cand AS (
         |  SELECT a.vec_id, a.cell FROM assign a JOIN qprobe p ON a.cell = p.sidx),
         |lut AS (SELECT s.m, cb.kk,
         |    CAST(list_sum(list_transform(range(1, 9), i ->
         |      CAST(floor((CAST(q.qv[s.m * 8 + i] AS DOUBLE) - CAST(cb.cv[s.m * 8 + i] AS DOUBLE))
         |                 * (CAST(q.qv[s.m * 8 + i] AS DOUBLE) - CAST(cb.cv[s.m * 8 + i] AS DOUBLE))
         |                 * 1000000000000.0) AS BIGINT))) AS BIGINT) AS ld
         |  FROM q, sub s, cb),
         |adc AS (SELECT c.vec_id, c.cell, CAST(SUM(l.ld) AS BIGINT) AS adc_dist
         |        FROM cand c JOIN cbest b ON b.vec_id = c.vec_id AND b.rn = 1
         |          JOIN lut l ON l.m = b.m AND l.kk = b.kk
         |        GROUP BY c.vec_id, c.cell),
         |short AS (SELECT * FROM adc ORDER BY adc_dist, vec_id LIMIT 50),
         |fdots AS (
         |  SELECT sh.vec_id, sh.cell, sh.adc_dist,
         |    CAST(SUM(${term("e.embedding[j.j]", "q.qv[j.j]")}) AS DOUBLE) AS dot
         |  FROM short sh JOIN corpus e ON e.vec_id = sh.vec_id CROSS JOIN q CROSS JOIN j
         |  GROUP BY sh.vec_id, sh.cell, sh.adc_dist)
         |SELECT f.vec_id, CAST(f.cell AS INT) AS cell, f.adc_dist,
         |  f.dot / (sqrt(CAST(ne.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) AS cosine
         |FROM fdots f
         |  JOIN norms ne ON ne.vec_id = f.vec_id
         |  CROSS JOIN (SELECT n2 FROM norms WHERE vec_id = 0) nq
         |ORDER BY cosine DESC, f.vec_id ASC LIMIT 10""".stripMargin,

    "q_ann_delta" ->
      s"""WITH ${buildCtes("vec_id <> 0 AND vec_id % 2 = 0")},
         |delta AS (SELECT vec_id, embedding FROM embeddings
         |          WHERE vec_id <> 0 AND vec_id % 2 = 1),
         |ddots AS (
         |  SELECT e.vec_id, s.sidx,
         |    CAST(SUM(${term("e.embedding[j.j]", "s.embedding[j.j]")}) AS DOUBLE) AS dot
         |  FROM delta e CROSS JOIN seeds s CROSS JOIN j
         |  GROUP BY e.vec_id, s.sidx),
         |dcos AS (
         |  SELECT d.vec_id, d.sidx,
         |    d.dot / (sqrt(CAST(ne.n2 AS DOUBLE)) * sqrt(CAST(ns.n2 AS DOUBLE))) AS cos
         |  FROM ddots d
         |    JOIN norms ne ON ne.vec_id = d.vec_id
         |    JOIN seeds s ON s.sidx = d.sidx
         |    JOIN norms ns ON ns.vec_id = s.vec_id),
         |dassign AS (
         |  SELECT vec_id, sidx AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, sidx) AS rn
         |    FROM dcos) WHERE rn = 1),
         |allassign AS (
         |  SELECT vec_id, cell FROM assign UNION ALL SELECT vec_id, cell FROM dassign)
         |SELECT CAST(a.cell AS INT) AS cell,
         |  CAST(SUM(CASE WHEN a.vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |  CAST(SUM(CASE WHEN a.vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         |  CAST(SUM(CAST(n.n2 AS HUGEINT)) AS BIGINT) AS sum_n2
         |FROM allassign a JOIN norms n ON n.vec_id = a.vec_id
         |GROUP BY a.cell ORDER BY cell""".stripMargin,

    "q_ann_stats" ->
      s"""WITH ${buildCtes("vec_id <> 0")},
         |dist AS (SELECT vec_id, CAST(SUM(d) AS BIGINT) AS dist
         |         FROM cbest WHERE rn = 1 GROUP BY vec_id)
         |SELECT CAST(a.cell AS INT) AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(CAST(t.dist AS HUGEINT)) AS BIGINT) AS sum_distortion,
         |  CAST(MAX(t.dist) AS BIGINT) AS max_distortion
         |FROM assign a JOIN dist t ON t.vec_id = a.vec_id
         |GROUP BY a.cell ORDER BY cell""".stripMargin,

    "q_ann_recall" ->
      s"""WITH ${buildCtes("vec_id >= 5")},
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |qdots AS (
         |  SELECT q.qid, s.sidx, CAST(SUM(${term("q.qv[j.j]", "s.embedding[j.j]")}) AS DOUBLE) AS dot
         |  FROM q CROSS JOIN seeds s CROSS JOIN j GROUP BY q.qid, s.sidx),
         |qcos AS (
         |  SELECT d.qid, d.sidx,
         |    d.dot / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(ns.n2 AS DOUBLE))) AS cos
         |  FROM qdots d
         |    JOIN norms nq ON nq.vec_id = d.qid
         |    JOIN seeds s ON s.sidx = d.sidx
         |    JOIN norms ns ON ns.vec_id = s.vec_id),
         |qprobe AS (SELECT qid, sidx FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, sidx) AS rn
         |    FROM qcos) WHERE rn <= 3),
         |cand AS (
         |  SELECT p.qid, a.vec_id, a.cell FROM assign a JOIN qprobe p ON a.cell = p.sidx),
         |lut AS (SELECT q.qid, s.m, cb.kk,
         |    CAST(list_sum(list_transform(range(1, 9), i ->
         |      CAST(floor((CAST(q.qv[s.m * 8 + i] AS DOUBLE) - CAST(cb.cv[s.m * 8 + i] AS DOUBLE))
         |                 * (CAST(q.qv[s.m * 8 + i] AS DOUBLE) - CAST(cb.cv[s.m * 8 + i] AS DOUBLE))
         |                 * 1000000000000.0) AS BIGINT))) AS BIGINT) AS ld
         |  FROM q, sub s, cb),
         |adc AS (SELECT c.qid, c.vec_id, CAST(SUM(l.ld) AS BIGINT) AS adc_dist
         |        FROM cand c JOIN cbest b ON b.vec_id = c.vec_id AND b.rn = 1
         |          JOIN lut l ON l.qid = c.qid AND l.m = b.m AND l.kk = b.kk
         |        GROUP BY c.qid, c.vec_id),
         |short AS (SELECT qid, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rn
         |    FROM adc) WHERE rn <= 50),
         |fdots AS (
         |  SELECT sh.qid, sh.vec_id,
         |    CAST(SUM(${term("e.embedding[j.j]", "q.qv[j.j]")}) AS DOUBLE) AS dot
         |  FROM short sh JOIN corpus e ON e.vec_id = sh.vec_id
         |    JOIN q ON q.qid = sh.qid CROSS JOIN j
         |  GROUP BY sh.qid, sh.vec_id),
         |anntop AS (SELECT qid, vec_id FROM (
         |    SELECT f.qid, f.vec_id,
         |      row_number() OVER (PARTITION BY f.qid ORDER BY
         |        f.dot / (sqrt(CAST(ne.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) DESC,
         |        f.vec_id) AS rn
         |    FROM fdots f
         |      JOIN norms ne ON ne.vec_id = f.vec_id
         |      JOIN norms nq ON nq.vec_id = f.qid) WHERE rn <= 10),
         |bdots AS (
         |  SELECT q.qid, e.vec_id,
         |    CAST(SUM(${term("e.embedding[j.j]", "q.qv[j.j]")}) AS DOUBLE) AS dot
         |  FROM corpus e CROSS JOIN q CROSS JOIN j
         |  GROUP BY q.qid, e.vec_id),
         |brute AS (SELECT qid, vec_id FROM (
         |    SELECT b.qid, b.vec_id,
         |      row_number() OVER (PARTITION BY b.qid ORDER BY
         |        b.dot / (sqrt(CAST(ne.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE))) DESC,
         |        b.vec_id) AS rn
         |    FROM bdots b
         |      JOIN norms ne ON ne.vec_id = b.vec_id
         |      JOIN norms nq ON nq.vec_id = b.qid) WHERE rn <= 10)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
         |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
         |       // COUNT(*) AS BIGINT) AS recall_ppm
         |FROM brute b LEFT JOIN anntop a ON a.qid = b.qid AND a.vec_id = b.vec_id""".stripMargin)
}
