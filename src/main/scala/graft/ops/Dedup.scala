package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import CacheScope.ScopedPersist

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. The reference has no dedup
  * (SURVEY §2.5); these are north-star extensions designed for the
  * 100 TB case:
  *
  *  - every candidate-generation step is a *blocked* equi-join (band
  *    buckets / simhash byte chunks / shared shingles with a
  *    document-frequency cap) — never an all-pairs product;
  *  - all hashing is md5-based and dialect-portable, so every stage has
  *    an exact DuckDB oracle;
  *  - signatures are computed in one explode + groupBy (one shuffle),
  *    pair verification touches only candidate pairs.
  */
object Dedup {

  /** md5 hex of a string column (Spark's md5 wants binary). */
  private def md5s(c: Column): Column = md5(c.cast("binary"))

  // ---------------------------------------------------------------- exact

  /** Exact dedup, deterministic survivor: group rows by `keyCol` and keep
    * the minimum `idCol`. (dropDuplicates keeps an arbitrary row — not
    * reproducible, so not oracle-checkable; min-survivor is.)
    */
  def exactDedup(df: DataFrame, keyCol: Column, idCol: Column): DataFrame =
    df.groupBy(keyCol.as("__key"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("group_size"))

  // ------------------------------------------------------------- shingles

  /** Distinct word k-shingles of lowercased text; documents shorter than
    * k words collapse to a single whole-document shingle.
    */
  def shingles(text: Column, k: Int = 3): Column = {
    val words = split(trim(lower(text)), "\\s+")
    array_distinct(
      when(size(words) >= k,
        transform(sequence(lit(1), size(words) - (k - 1)),
          i => concat_ws(" ", slice(words, i, lit(k)))))
        .otherwise(array(concat_ws(" ", words))))
  }

  /** (doc_id, shingle) exploded table — the base for minhash and jaccard. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(shingles(col(textCol), k)).as("sh"))

  // -------------------------------------------------------------- minhash

  /** Parse the first 15 hex digits of an md5 into a 60-bit non-negative
    * long — pure integer/string ops that evaluate identically on Spark
    * and DuckDB (no engine-specific hex parsing). The per-shingle hot
    * paths call its native twin `graft_hex60` (functions/Hex60.scala, one
    * 15-byte codegen loop); identical output, so oracles are unchanged.
    */
  def hex60(h: Column): Column =
    (0 until 15).map { d =>
      (hexDigitAt(h, d + 1).cast("long") * lit(1L << (4 * (14 - d))))
    }.reduce(_ + _)

  /** Mersenne-prime modulus for the affine re-hash family. */
  val minhashMod = 2147483647L

  /** MinHash band signatures. One md5 per shingle, parsed to an integer
    * base hash; the numSeeds hash functions are the affine family
    * h_s(x) = ((base % M) · (2s+1) + s) mod M — integer ops only, ~12×
    * cheaper than hashing per seed, same collision math. All per-seed
    * minima are computed as numSeeds wide aggregates in ONE groupBy (no
    * seed explode, no 12× row blowup), and band signatures fall out of a
    * projection — a single shuffle keyed by doc.
    */
  def minhashBands(sh: DataFrame, numSeeds: Int = 12, rowsPerBand: Int = 3): DataFrame = {
    require(numSeeds % rowsPerBand == 0, "numSeeds must divide into bands")
    // accept either raw shingle strings or pre-hashed 60-bit ids
    val baseHash =
      if (sh.schema("sh").dataType == org.apache.spark.sql.types.LongType) col("sh")
      else call_function("graft_hex60", md5s(col("sh")))
    val based = sh.withColumn("h0", baseHash % minhashMod)
    val minAggs = (0 until numSeeds).map { s =>
      min((col("h0") * (2 * s + 1) + s) % minhashMod).as(s"mh$s")
    }
    val sigs = based.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    val numBands = numSeeds / rowsPerBand
    val bandStructs = (0 until numBands).map { b =>
      val mhs = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(s => col(s"mh$s").cast("string"))
      struct(lit(b).as("band"), md5s(concat_ws(",", mhs: _*)).as("band_sig"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.band_sig").as("band_sig"))
  }

  /** Candidate pairs from band collisions (doc_a < doc_b, distinct). */
  def bandCandidates(bands: DataFrame): DataFrame = {
    val a = bands.select(col("band"), col("band_sig"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band"), col("band_sig"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Per-doc shingle-set sizes — precompute (and persist) this once when
    * calling [[pairJaccard]] repeatedly over a static corpus, so each
    * call doesn't re-aggregate the full shingle table.
    */
  def shingleSizes(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n"))

  /** Exact Jaccard for given pairs over the shingle table. Touches only
    * candidate pairs: |A∩B| via a shingle-equi-join restricted to the
    * pairs, |A∪B| = |A|+|B|-|A∩B|. Pass `precomputedSizes` when the
    * corpus side is static (e.g. the streaming near-dup gate) — without
    * it every call pays a full groupBy over `sh`.
    */
  def pairJaccard(pairs: DataFrame, sh: DataFrame,
                  precomputedSizes: Option[DataFrame] = None): DataFrame = {
    val sizes = precomputedSizes.getOrElse(shingleSizes(sh))
    val aSh = sh.select(col("doc_id").as("doc_a"), col("sh"))
    val bSh = sh.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = pairs
      .join(aSh, "doc_a")
      .join(bSh, Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → band → candidates →
    * exact-Jaccard verify ≥ threshold.
    */
  /** Shingle table with 60-bit hashed ids — the join-friendly form every
    * minhash consumer shares (16-byte rows instead of shingle strings:
    * cheaper to cache and to join; Jaccard over hashed shingles ≡ over
    * strings at 2^-60 collision odds).
    */
  def hashedShingleTable(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 3): DataFrame =
    shingleTable(docs, idCol, textCol, k)
      .select(col("doc_id"), call_function("graft_hex60", md5s(col("sh"))).as("sh"))

  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5, k: Int = 3,
                   numSeeds: Int = 12, rowsPerBand: Int = 3): DataFrame = {
    // the shingle table feeds banding + both sides of the verify join —
    // materialize it ONCE
    val sh = hashedShingleTable(docs, idCol, textCol, k).scopedPersist()
    val cands = bandCandidates(minhashBands(sh, numSeeds, rowsPerBand))
    pairJaccard(cands, sh)
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  // -------------------------------------------------------------- simhash

  val hexDigits = "0123456789abcdef"

  /** Value of hex digit at 1-based position `pos` of md5 hex `h`. */
  private def hexDigitAt(h: Column, pos: Int): Column =
    (instr(lit(hexDigits), substring(h, pos, 1)) - 1).cast("int")

  val simhashBits = 60 // 15 md5 hex digits — stays positive in a signed long

  /** 60-bit SimHash over the doc's distinct k-shingles (Charikar): bit i
    * of a shingle's md5 contributes ±1; the doc's bit i is
    * sign(Σ contributions). One groupBy, no per-bit explode, one shuffle.
    *
    * The ±1 counters are LANE-PACKED: counter_i = 2·Σbit_i − n, so only
    * the raw bit sums are aggregated — 4 per long in 16-bit lanes, 15
    * packed sums + one count instead of 60 separate aggregates. Same
    * values bit-for-bit (2·cnt > n ⇔ the old signed counter > 0), but the
    * aggregate buffer and its generated code shrink 4× — the 60-agg form
    * spent more bench time in Janino than in data.
    *
    * Validity bound: lanes stay carry-free while every per-doc bit count
    * is < 2^16, and the TOP lane (scaled 2^48) additionally needs its
    * count < 2^15 or the long sum overflows — which fails LOUDLY under
    * ANSI mode. The silent-corruption regime (≥ 2^16 shingles in one doc
    * without tripping the overflow first) is closed by an explicit
    * raise_error guard below; docs that large must be chunked upstream. Portable: bit i of the hash =
    * (hexdigit(i/4+1) >> (i%4)) & 1 on both engines; the DuckDB oracle
    * keeps the plain 60-sum spelling. Shingle features (not words) so
    * near-identical word-order matters — word-set simhash degenerates on
    * small vocabularies.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, k)
      .withColumn("hl", call_function("graft_hex60", md5s(col("sh"))))
    val packed = (0 until simhashBits / 4).map { m =>
      val lanes = (0 until 4).map { j =>
        shiftright(col("hl"), 4 * m + j).bitwiseAND(1) * lit(1L << (16 * j))
      }
      sum(lanes.reduce(_ + _)).as(s"p$m")
    }
    val aggs = packed.tail :+ count(lit(1)).as("n")
    val agged = sh.groupBy("doc_id").agg(packed.head, aggs: _*)
    val sim = (0 until simhashBits).map { i =>
      val cnt = shiftright(col(s"p${i / 4}"), 16 * (i % 4)).bitwiseAND(65535)
      when(cnt * 2 > col("n"), lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    agged.select(col("doc_id"),
      // guard at 2^15, not 2^16: the top 2^48-scaled lane's SUM overflows
      // the long at 32768 shingles, a regime otherwise caught only when
      // ANSI mode is on — below 32768 every lane sum fits with room
      when(col("n") >= 32768L,
        raise_error(lit("simhash: doc has >= 2^15 shingles — lane packing would corrupt; chunk the doc upstream")))
        .otherwise(sim).as("simhash"))
  }

  /** Near-dup pairs by SimHash: block on the four 15-bit chunks of the
    * signature (pigeonhole: hamming ≤ 3 ⇒ at least one chunk equal),
    * then verify hamming ≤ maxHamming via bit_count(xor).
    */
  /** `blockCols`: optional cheap exact pre-partition keys (language,
    * length band, source) composed INTO the chunk equi-join — the
    * documented web-scale fix for the fixed-2^15-bucket pigeonhole bound
    * (SCALE.md): candidates only form within a block, so the N²/2^15
    * term becomes Σ(N_block²)/2^15. Semantics shrink accordingly (pairs
    * across blocks are by definition not candidates); the default is the
    * unblocked operator, unchanged. */
  def simhashPairs(sims0: DataFrame, maxHamming: Int = 3,
                   blockCols: Seq[String] = Nil): DataFrame = {
    require(maxHamming <= 3, "4-chunk blocking only guarantees recall for hamming <= 3")
    // both self-join branches read the signatures — compute them once
    val sims = sims0.scopedPersist()
    val chunked = sims.withColumn("chunk", explode(array((0 until 4).map(j =>
      struct(lit(j).as("j"), shiftright(col("simhash"), 15 * j).bitwiseAND(32767).as("c"))): _*)))
    val keys = "chunk" +: blockCols
    val a = chunked.select(keys.map(col) ++
      Seq(col("doc_id").as("doc_a"), col("simhash").as("sim_a")): _*)
    val b = chunked.select(keys.map(col) ++
      Seq(col("doc_id").as("doc_b"), col("simhash").as("sim_b")): _*)
    a.join(b, keys)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sim_a", "sim_b").distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  // ------------------------------------------- cluster resolution (CC)

  /** Connected components over an undirected pair list (doc_a, doc_b) —
    * the step that turns near-dup PAIRS into dedup CLUSTERS (keep one
    * doc per component). Iterative min-label propagation: each node
    * adopts the minimum label in its neighborhood until fixpoint. Every
    * iteration is one groupBy over the (symmetrized) edge list — the
    * standard scalable CC shape (≈ small-star/large-star without the
    * restructuring); iterations ≤ graph diameter, and near-dup graphs
    * are shallow. localCheckpoint truncates lineage per round.
    *
    * Returns (doc_id, cluster) where cluster = min doc_id reachable.
    */
  /** Below this many edges the component graph resolves driver-side
    * with union-find (a few ms) instead of paying per-round job overhead
    * — the same threshold logic as a broadcast join; near-dup graphs are
    * tiny relative to their corpora (edges ∝ duplicates, not documents).
    */
  val smallGraphEdgeThreshold = 1000000L

  def connectedComponents(pairs0: DataFrame, maxIter: Int = 20,
                          forceDistributed: Boolean = false): DataFrame = {
    // the union below reads pairs twice — materialize the (possibly very
    // expensive) pair pipeline once before symmetrizing
    val pairs = pairs0.scopedPersist()
    val nPairs = pairs.count()
    if (!forceDistributed && nPairs <= smallGraphEdgeThreshold) return unionFindLocal(pairs)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().scopedPersist()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster", col("doc_id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("cluster")).as("nmin"))
      val next = labels.join(neighborMin, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
        .localCheckpoint()
      val changed = next.join(labels.withColumnRenamed("cluster", "old"), "doc_id")
        .filter(col("cluster") =!= col("old")).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    // exiting non-converged would silently return non-minimal labels on a
    // graph with diameter > maxIter — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge after $maxIter iterations; " +
        "raise maxIter (graph diameter exceeds it)")
    labels
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * restructuring (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014) — the O(log n)-round alternative to
    * [[connectedComponents]]'s min-label propagation, whose round count
    * is the graph DIAMETER. Near-dup cluster graphs are shallow, so
    * min-label wins there; chain-shaped graphs (entity-resolution
    * transitive closures, co-occurrence paths) have diameter ∝ n, where
    * label propagation at 100 TB means thousands of shuffle rounds and
    * star-contraction stays logarithmic.
    *
    * Round shape (each a pair of grouped joins over the edge list):
    *  - large-star: every node u connects its LARGER neighbors to
    *    m(u) = min(Γ(u) ∪ u) — long chains fold onto local minima;
    *  - small-star: every node u connects its smaller-or-self cohort
    *    (Γ⁻(u) ∪ u, canonically the u-side of (hi, lo) edges) to
    *    m⁻(u) = min(Γ⁻(u) ∪ u) — stars re-center on the minimum.
    * Edges stay canonical (hi, lo), so both steps emit already-canonical
    * pairs; convergence (edge set fixpoint, checked EXACTLY as a single
    * symmetric-difference count — union → group → count==1 rows — one
    * job per round, not two excepts) leaves one star per component
    * centered at its minimum id, read off directly as (doc_id, cluster).
    * localCheckpoint truncates lineage per round, as every iterated op
    * here does, and each round FREES the previous round's checkpoint
    * blocks once its successor is materialized — on a ~22-round large
    * graph the storage footprint stays two edge sets, not twenty-two.
    *
    * ConnectedComponentsSpec pins equivalence with min-label propagation
    * on chain / clique-bridge / reversed-id / self-loop graphs. CcBench
    * A/B (round 11, local[32], after the single-count convergence test
    * and per-round block frees): on the DENSE co-order supplier graph
    * (343 725 edges, 1 000 nodes, one component) the engines tie —
    * min-label 4.4–6.3 s vs star 3.1–3.9 s — so min-label stays
    * q_graph_cc's engine (r10 measured the reverse ordering within the
    * same noise band); on a 3 000 000-node CHAIN, star converges in
    * 94 s (~22 alternations; 120 s in r10 with the two-except test and
    * unreleased blocks — the round-cost fix bought 21 %) while
    * min-label is DNF by construction (diameter rounds; its 25-round
    * budget fails loudly at 48 s). This operator is the escape hatch
    * for high-diameter pair graphs.
    */
  def connectedComponentsStar(pairs0: DataFrame, maxIter: Int = 30): DataFrame = {
    val sc = pairs0.sparkSession.sparkContext
    // localCheckpoint persists an RDD the Dataset API gives no handle to
    // free; diff the persistent-RDD registry around the (eager) call so
    // each round can unpersist its predecessor's blocks.
    def checkpointTracked(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val before = sc.getPersistentRDDs.keySet
      val ck = df.localCheckpoint()
      // Restrict the before/after registry diff to RDDs reachable from
      // the checkpointed plan itself: an RDD persisted concurrently by
      // another query on the shared context inside this window must not
      // be claimed (unpersisting someone else's localCheckpoint blocks
      // truncates their lineage unrecoverably).
      val reachable = {
        val seen = scala.collection.mutable.HashSet.empty[Int]
        def walk(rdd: org.apache.spark.rdd.RDD[_]): Unit =
          if (seen.add(rdd.id)) rdd.dependencies.foreach(d => walk(d.rdd))
        walk(ck.queryExecution.toRdd)
        seen
      }
      val added = sc.getPersistentRDDs.collect {
        case (id, rdd) if !before(id) && reachable(id) => rdd
      }.toSeq
      (ck, added)
    }
    val pairs = pairs0
      .select(col("doc_a").cast("long").as("u"), col("doc_b").cast("long").as("v"))
      .where(col("u") =!= col("v"))
    var (cur, curBlocks) = checkpointTracked(pairs
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // large-star over the symmetric view: (v, m(u)) for v > u
      val sym = cur.unionAll(cur.select(col("v").as("u"), col("u").as("v")))
      val nm = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val (large, largeBlocks) = checkpointTracked(
        sym.join(nm, "u").where(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m: canonical
          .distinct())
      // small-star on canonical edges: u's smaller cohort is its lo-side
      val nm2 = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val (small, smallBlocks) = checkpointTracked(
        large.join(nm2, "u")
          .where(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v")) // lo > m: canonical
          .unionAll(nm2.select(col("u"), col("m").as("v"))) // hi > m: canonical
          .distinct())
      largeBlocks.foreach(_.unpersist(blocking = false)) // small is materialized
      // fixpoint test as ONE job: both sides are distinct sets, so a row
      // appearing exactly once in the union is in the symmetric difference
      val changed = small.unionAll(cur)
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") === 1).count()
      curBlocks.foreach(_.unpersist(blocking = false))
      cur = small
      curBlocks = smallBlocks
      done = changed == 0
      iter += 1
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponentsStar did not converge after $maxIter rounds " +
        "(alternation is O(log n) — this indicates a bug, not a deep graph)")
    cur.select(col("u").as("doc_id"), col("v").as("cluster"))
      .unionAll(cur.select(col("v"), col("v")).distinct()
        .toDF("doc_id", "cluster"))
      .distinct()
  }

  /** Quality-aware survivor selection over a near-dup pair relation —
    * the keep-BEST-of-cluster policy production dedup pipelines use in
    * place of keep-first (a near-dup cluster's members differ in
    * truncation and boilerplate; keeping the highest-quality member
    * preserves more signal than keeping the lowest id). Pairs →
    * [[connectedComponents]] → per-cluster argmax of (`quality`,
    * lowest id) via an order-independent struct max; unmatched docs pass
    * through as their own singleton cluster. `quality` must be an exact
    * (integer) expression so the argmax is engine-portable.
    *
    * Scale: one left join of docs against the cluster labels (labels ∝
    * duplicates, not corpus) + one map-side-combinable groupBy. Returns
    * (cluster, survivor_id, best_q, n_members).
    */
  def qualitySurvivors(docs: DataFrame, idCol: String, pairs: DataFrame,
                       quality: Column): DataFrame = {
    val cc = connectedComponents(pairs.select(col("doc_a"), col("doc_b")))
      .withColumnRenamed("doc_id", idCol)
    docs.select(col(idCol).as("doc_id"), quality.cast("long").as("q"))
      .join(cc.select(col(idCol).as("doc_id"), col("cluster")), Seq("doc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q"), (-col("doc_id")).as("nid"))).as("__m"))
      .select(col("cluster"), (-col("__m.nid")).as("survivor_id"),
        col("__m.q").as("best_q"), col("n_members"))
  }

  /** Driver-side min-label union-find for graphs under the threshold.
    * Union keeps the smaller root, so find() yields the component's min
    * id directly — identical output to the distributed propagation.
    * Operates on the ids' NATIVE type (no long cast), so string/int/long
    * ids all work and the output schema matches the distributed path.
    */
  private def unionFindLocal(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val spark = pairs.sparkSession
    val idType = pairs.schema("doc_a").dataType
    val es = pairs.select(col("doc_a"), col("doc_b")).collect()
    // ids are parquet scalars (numeric / string / date) — all Comparable
    implicit val ord: Ordering[Any] = new Ordering[Any] {
      def compare(x: Any, y: Any): Int =
        x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    val parent = scala.collection.mutable.Map[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    es.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ord.lt(ra, rb)) parent(rb) = ra else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    val labels = parent.keys.toSeq.sorted.map(n => Row(n, find(n)))
    val schema = StructType(Seq(
      StructField("doc_id", idType), StructField("cluster", idType)))
    spark.createDataFrame(spark.sparkContext.parallelize(labels, 1), schema)
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard similarity join via an inverted index:
    * candidates = pairs sharing ≥1 shingle, with shingles occurring in
    * more than `maxDocFreq` docs dropped first (the standard
    * stop-shingle cut that keeps the self-join from exploding on
    * common n-grams; Jaccard is then over the filtered sets —
    * consistent on both engines).
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.3, k: Int = 3, maxDocFreq: Long = 100): DataFrame = {
    // join/shuffle on a 60-bit integer shingle id, not the shingle string:
    // same Jaccard (collisions at 2^-60), much smaller shuffle payload
    val sh = shingleTable(docs, idCol, textCol, k)
      .select(col("doc_id"), call_function("graft_hex60", md5s(col("sh"))).as("sh"))
    val rare = sh.groupBy("sh").agg(count(lit(1)).as("df")).filter(col("df") <= maxDocFreq)
    // both self-join branches + sizes read this — materialize once
    val shF = sh.join(rare.select("sh"), "sh").scopedPersist()
    // |A∩B| falls directly out of the inverted-index self-join (each
    // shared shingle contributes one row) — no candidate materialization
    // + re-join pass, which at sf0.1 was 3× the whole pipeline's cost
    val inter = shF.select(col("sh"), col("doc_id").as("doc_a"))
      .join(shF.select(col("sh"), col("doc_id").as("doc_b")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val sizes = shF.groupBy("doc_id").agg(count(lit(1)).as("n"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** PPJoin-style PREFIX-FILTER candidate generation — the other classic
    * set-similarity blocker (vs. MinHash banding): each doc posts only
    * its `r` globally RAREST shingles (doc-freq asc, shingle id asc as
    * tie-break) to the inverted index; candidates are pairs sharing a
    * rare shingle. Rarest-first bounds the posting lists by construction
    * — a shingle in half the corpus never ranks inside anyone's prefix —
    * so the quadratic per-posting-list cost of a naive inverted index is
    * capped without the stop-shingle heuristic. The per-doc prune runs
    * through [[graft.plans.TopKPerKey]], shipping ≤ r rows per doc per
    * partition to the shuffle. Fixed `r` is the indexing-budget variant
    * of the classic |d|-and-τ-derived prefix length: recall is bounded
    * by the chance two similar docs share a rare shingle in BOTH
    * prefixes — verify survivors with [[pairJaccard]] like every other
    * candidate generator here.
    */
  def prefixFilterPairs(sh: DataFrame, r: Int): DataFrame = {
    val freq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val prefix = graft.plans.TopKPerKey.topKPerKey(
      sh.join(freq, "sh"),
      keyCols = Seq("doc_id"), sorts = Seq(("df", true), ("sh", true)), k = r)
      .select(col("doc_id"), col("sh"))
      .scopedPersist() // both sides of the candidate self-join
    prefix.select(col("sh"), col("doc_id").as("doc_a"))
      .join(prefix.select(col("sh"), col("doc_id").as("doc_b")), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  // ------------------------------------------------------------ winnowing

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS local fingerprinting scheme; no reference
    * analogue, training-pipeline extension tier). Word k-grams are taken
    * WITH position (unlike [[shingles]], which set-dedups), hashed to
    * dialect-portable 60-bit ids, and position p is selected iff its
    * hash equals the minimum over the trailing w-window [p-w+1, p].
    * Each window's rightmost minimum satisfies this rule at its own
    * position, so the selection contains the classic
    * rightmost-min-per-window set (plus the leading partial windows) —
    * same ~2/(w+1) expected density, same locality guarantee: every w
    * consecutive gram positions yield ≥1 selected fingerprint, so any
    * shared run of w+k-1 words surfaces through the fingerprint
    * equi-join regardless of its offset in either doc.
    *
    * 100 TB: the window min is PARTITIONED BY doc (per-doc sort inside
    * the doc-keyed shuffle — no global ordering), and every downstream
    * consumer joins on the selected ~2/(w+1) subset, so the wide stages
    * see a (w+1)/2-fold smaller relation than a full inverted index.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow needs k>=1, w>=1 (got k=$k, w=$w)")
    val ws = split(trim(lower(col(textCol))), "\\s+")
    val grams = docs
      .filter(size(ws) >= k)
      .select(col(idCol).as("doc_id"),
        posexplode(transform(sequence(lit(1), size(ws) - (k - 1)),
          i => concat_ws(" ", slice(ws, i, lit(k))))))
      .withColumnRenamed("col", "gram")
    val hashed = grams.select(col("doc_id"), col("pos"),
      call_function("graft_hex60", md5s(col("gram"))).as("h"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos").rowsBetween(-(w - 1), 0)
    hashed
      .withColumn("__wmin", min(col("h")).over(win))
      .filter(col("h") === col("__wmin"))
      .select(col("doc_id"), col("h").as("fp"))
      .distinct()
  }

  /** Winnowing near-dup candidate pairs: inverted index over the
    * winnowed fingerprint set, doc-frequency-capped like [[ngramJaccard]]
    * (fingerprints in more than `maxDocFreq` docs are boilerplate, not
    * dedup evidence), keeping pairs sharing ≥ `minShared` fingerprints.
    * Cost is the winnowed index (≈ 2/(w+1) of the gram instances), not
    * the full gram table — the point of winnowing as a blocker.
    */
  def winnowPairs(fp: DataFrame, minShared: Long = 3, maxDocFreq: Long = 64): DataFrame = {
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("df")).filter(col("df") <= maxDocFreq)
    val f = fp.join(rare.select("fp"), "fp").scopedPersist() // both self-join sides
    f.select(col("fp"), col("doc_id").as("doc_a"))
      .join(f.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** EXACT set-similarity self-join (Jaccard ≥ τ over any (doc_id, w)
    * token-set relation) via PREFIX FILTERING — the PPJoin family
    * (Chaudhuri et al. ICDE'06 SSJoin, Xiao et al. WWW'08), the
    * LOSSLESS sibling of [[minhashPairs]]: MinHash trades recall for
    * speed; this returns every qualifying pair, with the prefix filter
    * pruning candidates instead of bands.
    *
    * Feature choice matters: callers feed SHINGLE sets (word 3-grams,
    * [[hashedShingleTable]]), not word sets — on a corpus drawing words
    * from one shared vocabulary, word-set Jaccard is bimodally HIGH
    * (measured: 57% of ALL doc pairs ≥ 0.6 here) and the output itself
    * goes quadratic, while shingle Jaccard separates real near-dups
    * cleanly (25 pairs ≥ 0.5, everything else < 0.3).
    *
    * τ rides as an exact rational `tauNum/tauDen`, so every threshold
    * test is an integer cross-multiplication (no float drift between
    * engines). The lemma: order each doc's distinct tokens under the
    * global total order (corpus frequency asc, token asc — rarest
    * first); J(x,y) ≥ τ ⟹ |x∩y| ≥ ⌈τ·|x|⌉ ⟹ the first
    * |x| − ⌈τ·|x|⌉ + 1 tokens of x must contain a shared token (drop
    * that many and fewer than ⌈τ·|x|⌉ remain). So candidates = pairs
    * sharing a PREFIX token — and rarest-first is what makes that
    * cheap: candidate volume is Σ freq² over prefix tokens, which
    * systematically avoids the stopword buckets a plain inverted-index
    * join squares on. Losslessness holds under ANY total order, so the
    * engine may order hashed tokens while an oracle orders raw strings
    * — the result set is order-independent.
    *
    * Scale shape: census + rank-order sort are combinable/doc-local;
    * the candidate equi-join touches only prefix tokens and composes
    * the τ length filter (τ·|x| ≤ |y| ≤ |x|/τ, cross-multiplied) into
    * the join; exact |x∩y| runs on the surviving candidates only via
    * array_intersect of the two sorted token arrays.
    *
    * POSITIONAL FILTER (Xiao et al. WWW'08's second prune, r15→r16
    * scale fix): prefix co-occurrence alone went superlinear at the
    * second decade (sf1→sf10 wall 15.16× for 10× rows — the candidate
    * census grows 12× and every candidate ships two full token arrays
    * through the verify joins). J(x,y) ≥ τ also forces |x∩y| ≥
    * ⌈τ/(1+τ)·(|x|+|y|)⌉ =: minOverlap, and token positions bound the
    * achievable overlap. Two levels, both integer cross-multiplied:
    *
    *  - per matched prefix row at 1-based global-order positions
    *    (i, j): overlap ≤ min(i−1, j−1) + 1 + min(ma−i, mb−j) — tokens
    *    before (i, j) contribute at most min(i−1, j−1), the match
    *    itself 1, the suffixes at most min of the remainders. Composed
    *    into the candidate join (map-side, before the pair shuffle).
    *  - per pair at its MINIMAL shared prefix token (min i — the
    *    sorted arrays share one global (f, w) order, so min-by-i is
    *    min-by-order and j is that token's position in b): every other
    *    shared token sits strictly after it in BOTH docs, so overlap ≤
    *    1 + min(ma−i₀, mb−j₀). Applied after the pair group-by,
    *    replacing the plain distinct().
    *
    * LOSSLESS: a qualifying pair's minimal-token row passes the weak
    * row bound (it is ≥ the strict bound, which is ≥ minOverlap when
    * J ≥ τ), so the group-by always sees the true minimal token for
    * qualifying pairs; a pair whose minimal row was row-pruned has
    * strict-bound < minOverlap and cannot qualify, so pruning it via
    * whatever non-minimal witness survives is sound. Measured at
    * sf1: 3.10M → 1.25M candidates (−60%) with the verified pair set
    * bit-identical; the verify stage — the array-shuffle cost that
    * drove the sf10 superlinearity — shrinks by the same 60%.
    */
  def ppJoin(tokens: DataFrame, tauNum: Long, tauDen: Long): DataFrame = {
    require(tauNum > 0 && tauDen > tauNum, s"ppJoin: need 0 < tau < 1, got $tauNum/$tauDen")
    val toks = tokens.select(col("doc_id"), col("w"))
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("f"))
    val sorted = toks.join(freq, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("f"), col("w")))).as("ts"))
      .select(col("doc_id"),
        transform(col("ts"), t => t.getField("w")).as("toks"),
        size(col("ts")).cast("long").as("m"))
      .scopedPersist() // prefix explode + both verify joins read this
    val pref = sorted
      .withColumn("p", expr(s"m - (($tauNum * m + ${tauDen - 1}) div $tauDen) + 1"))
      .select(col("doc_id"), col("m"),
        posexplode(slice(col("toks"), lit(1), col("p").cast("int"))).as(Seq("i0", "w")))
      .select(col("doc_id"), col("m"), col("w"),
        (col("i0").cast("long") + 1L).as("i")) // 1-based global-order rank
    val tSum = tauNum + tauDen // minOverlap = ceil(tauNum·(ma+mb)/tSum)
    val cand = pref.select(col("w"), col("doc_id").as("doc_a"),
        col("m").as("ma"), col("i").as("ia"))
      .join(pref.select(col("w"), col("doc_id").as("doc_b"),
        col("m").as("mb"), col("i").as("ib")), Seq("w"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("mb") * tauDen >= col("ma") * tauNum &&
        col("ma") * tauDen >= col("mb") * tauNum)
      // weak per-row positional bound: min(i−1,j−1)+1 = least(i,j)
      .filter((least(col("ia"), col("ib")) +
        least(col("ma") - col("ia"), col("mb") - col("ib"))) * tSum >=
        (col("ma") + col("mb")) * tauNum)
      .groupBy(col("doc_a"), col("doc_b"), col("ma"), col("mb"))
      .agg(min(struct(col("ia"), col("ib"))).as("w0")) // minimal shared prefix token
      // strict bound at the minimal shared token
      .filter((lit(1L) + least(col("ma") - col("w0.ia"),
        col("mb") - col("w0.ib"))) * tSum >=
        (col("ma") + col("mb")) * tauNum)
      .select(col("doc_a"), col("doc_b"), col("ma"), col("mb"))
    cand
      .join(sorted.select(col("doc_id").as("doc_a"), col("toks").as("ta")), Seq("doc_a"))
      .join(sorted.select(col("doc_id").as("doc_b"), col("toks").as("tb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni", col("ma") + col("mb") - col("inter"))
      .filter(col("inter") * tauDen >= col("uni") * tauNum)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"),
        expr("inter * 1000000 div uni").as("jaccard_ppm"))
  }
}
