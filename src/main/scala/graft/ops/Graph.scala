package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import CacheScope.ScopedPersist

/** Distributed graph operators over edge DataFrames — the iterative-join
  * (Pregel-style) patterns a training-data pipeline needs for link-graph
  * dedup weighting and domain authority scoring.
  *
  * Scale notes (the 100 TB story):
  *  - Everything is an equi-join on a vertex key: each round is exactly one
  *    shuffle partitioned by vertex id, the layout a real cluster wants.
  *  - Triangle counting uses the degree-ordered orientation (each wedge is
  *    enumerated at its lowest-(degree,id) endpoint), which bounds the wedge
  *    blowup at O(m^1.5) instead of sum(deg^2) — the difference between
  *    finishing and dying on a power-law web graph.
  *  - PageRank keeps all mass integer-scaled (rank DIV degree contributions):
  *    bit-exact, order-independent sums — no float drift between engines or
  *    between partition orders (cf. the determinism rules in ExactAgg).
  */
object Graph {

  /** Mass scale: each node starts with 1e12 "rank units". */
  val Scale = 1000000000000L
  /** Teleport term: 0.15 * Scale. */
  val Teleport = 150000000000L
  /** The (personalized) PageRank loops localCheckpoint their ranks every
    * this many rounds. */
  private val CheckpointInterval = 5

  /** Undirected co-occurrence edges: nodes that share at least `minShared`
    * distinct group keys, one row per pair with left < right. The
    * group→node table is distinct-ed first so the per-group self-join never
    * sees duplicate membership rows.
    *
    * Hot-group cap: the per-group self-join is quadratic in group size,
    * so ONE viral group (a part supplied by thousands of suppliers, a
    * token in every doc) explodes the pair count. Groups larger than
    * `maxGroupSize` are dropped before the join — the same stop-shingle
    * cut as [[Dedup.ngramJaccard]]'s maxDocFreq: a group that connects
    * everyone to everyone carries no pairwise signal and all of the
    * cost. The dropped-group count is logged so the cut is never silent.
    * The default is UNCAPPED — the cap changes results, so callers (and
    * any SQL oracle twin) must opt in explicitly.
    */
  def coOccurrenceEdges(groupNode: DataFrame, groupCol: String, nodeCol: String,
                        minShared: Long, maxGroupSize: Long = Long.MaxValue): DataFrame = {
    // persisted: the distinct membership feeds both the size census and
    // the capped join — without the cache it would be recomputed per
    // consumer (a second full distinct over the input)
    val m = groupNode.select(col(groupCol).as("g"), col(nodeCol).as("n")).distinct().scopedPersist()
    val sizes = m.groupBy(col("g")).agg(count(lit(1)).as("gsz")).scopedPersist()
    val dropped = sizes.filter(col("gsz") > maxGroupSize).count() // one row per group: metadata-scale
    if (dropped > 0)
      System.err.println(
        s"graft.Graph.coOccurrenceEdges: dropped $dropped group(s) larger than $maxGroupSize members")
    val keep = m.join(sizes.filter(col("gsz") <= maxGroupSize).select("g"), Seq("g"))
    val a = keep.select(col("g"), col("n").as("s1"))
    val b = keep.select(col("g"), col("n").as("s2"))
    a.join(b, Seq("g")).filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("s1"), col("s2"))
  }

  /** Node-similarity census (Jaccard over shared group memberships — the
    * common-neighbor link-prediction score): for node pairs sharing ≥
    * `minShared` groups, J = |Γa ∩ Γb| / |Γa ∪ Γb| in floor-ppm (exact
    * rational — positive integer `div` agrees with DuckDB's `//`).
    *
    * Same scale spine as [[coOccurrenceEdges]]: candidate pairs are
    * Σ_g deg(g)² bounded by the hot-group cap (a group everyone belongs
    * to predicts nothing and would square the join), the pair census is
    * map-side combinable, and degrees join back node-sized. The
    * membership/size subplans are built with identical expressions to
    * coOccurrenceEdges so the cache manager serves one persisted copy
    * across the whole graph family.
    */
  /** Capped distinct membership — the shared first stage of every
    * co-occurrence census here (hot-group cap BEFORE the self-join, so
    * a pathological group can never square it).
    */
  private def cappedMembership(groupNode: DataFrame, groupCol: String,
      nodeCol: String, maxGroupSize: Long): DataFrame = {
    val m = groupNode.select(col(groupCol).as("g"), col(nodeCol).as("n"))
      .distinct().scopedPersist()
    val sizes = m.groupBy(col("g")).agg(count(lit(1)).as("gsz")).scopedPersist()
    val dropped = sizes.filter(col("gsz") > maxGroupSize).count()
    if (dropped > 0)
      System.err.println(
        s"graft.Graph.cappedMembership: dropped $dropped group(s) larger than $maxGroupSize members")
    m.join(sizes.filter(col("gsz") <= maxGroupSize).select("g"), Seq("g"))
  }

  /** (s1, s2, common) co-occurrence pair census over a capped membership. */
  private def pairCensus(keep: DataFrame): DataFrame = {
    val a = keep.select(col("g"), col("n").as("s1"))
    val b = keep.select(col("g"), col("n").as("s2"))
    a.join(b, Seq("g")).filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("common"))
  }

  /** DATA-DRIVEN support floor: the smallest shared-count whose
    * cumulative census rank reaches ⌈(1000−keepPermille)·nPairs ⁄ 1000⌉
    * — i.e. keep the top keepPermille‰ of pairs by co-occurrence
    * strength (ties at the floor keep a few more). A FIXED absolute
    * floor cannot survive scale changes: this repo's co-supply graph
    * under the r1–r9 constant 145 had 754 edges at sf0.01 and ZERO at
    * sf0.1/sf1 (shared-count distributions thin as the catalog grows),
    * so every scale measurement of the family ran on an empty result.
    * The count-of-counts census is tiny (distinct shared values), so the
    * threshold resolves driver-side in plain integer arithmetic —
    * metadata-scale, like the IVF seed collects.
    */
  def sharedFloorTop(census: DataFrame, keepPermille: Long): Long = {
    val cc = census.groupBy(col("common")).agg(count(lit(1)).as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val n = cc.map(_._2).sum
    if (n == 0) return Long.MaxValue // empty census keeps no edges
    val target = ((1000 - keepPermille) * n + 999) / 1000
    var cum = 0L
    var i = 0
    var t = cc.last._1
    var found = false
    while (i < cc.length && !found) {
      cum += cc(i)._2
      if (cum >= target) { t = cc(i)._1; found = true }
      i += 1
    }
    t
  }

  /** Co-occurrence pairs in the top keepPermille‰ by shared-group count
    * — [[coOccurrenceEdges]] with [[sharedFloorTop]] in place of the
    * scale-brittle absolute floor. Returns (s1, s2, common).
    */
  def topSharedPairs(groupNode: DataFrame, groupCol: String, nodeCol: String,
      keepPermille: Long, maxGroupSize: Long = Long.MaxValue): DataFrame = {
    val pc = pairCensus(
      cappedMembership(groupNode, groupCol, nodeCol, maxGroupSize)).scopedPersist()
    pc.filter(col("common") >= sharedFloorTop(pc, keepPermille))
  }

  /** [[nodeJaccard]] with the data-driven top-permille support floor. */
  def nodeJaccardTop(groupNode: DataFrame, groupCol: String, nodeCol: String,
      keepPermille: Long, maxGroupSize: Long = Long.MaxValue): DataFrame = {
    val keep = cappedMembership(groupNode, groupCol, nodeCol, maxGroupSize)
      .scopedPersist()
    val deg = keep.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val pc = pairCensus(keep).scopedPersist()
    pc.filter(col("common") >= sharedFloorTop(pc, keepPermille))
      .join(deg.select(col("n").as("s1"), col("d").as("d1")), Seq("s1"))
      .join(deg.select(col("n").as("s2"), col("d").as("d2")), Seq("s2"))
      .select(col("s1"), col("s2"), col("common"), col("d1"), col("d2"),
        expr("common * 1000000 div (d1 + d2 - common)").as("jaccard_ppm"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar, Social Networks 2003)
    * over a bipartite membership: AA(s1,s2) = Σ over shared groups g of
    * 1 ⁄ ln(|g|) — a rare shared group weighs more than a popular one,
    * the weighted upgrade of [[nodeJaccardTop]]'s unweighted
    * common-neighbor count. The log runs once per DISTINCT group size
    * (the md5-per-distinct lesson — the size census is tiny) through
    * the staged fixed-point generator shared with the DuckDB oracle:
    * contrib_x6 = 1e6 ⁄ ln(gs) = 10^14 div (cb·693147) with
    * cb = round(100·log2 gs). Candidate generation, hot-group cap and
    * the data-driven support floor are identical to the Jaccard op —
    * a blocked equi-join on the group key, never all-pairs. Returns
    * (s1, s2, common, aa_x6). */
  def adamicAdarTop(groupNode: DataFrame, groupCol: String, nodeCol: String,
      keepPermille: Long, maxGroupSize: Long = Long.MaxValue): DataFrame = {
    val keep = cappedMembership(groupNode, groupCol, nodeCol, maxGroupSize)
      .scopedPersist()
    val gsz = keep.groupBy(col("g")).agg(count(lit(1)).as("gs"))
    // (r18 audit: the cbTableLocal LocalRelation move was tried and
    // REVERTED here — unlike the multi-join text sites, this chain
    // lives in ONE broadcast subtree computed once, so the eager
    // distinct+collect only added a job barrier: +0.2-0.3 s in two
    // independent full benches)
    var sz = gsz.select(col("gs")).distinct().filter(col("gs") >= 2)
    UlmTokenizer.costStages("gs", "1", UlmTokenizer.Spark).foreach {
      case (n, e) => sz = sz.withColumn(n, expr(e))
    }
    val gw = gsz.join(broadcast(sz.select(col("gs"),
        expr("100000000000000 div (CAST(cost_cb AS BIGINT) * 693147)")
          .as("contrib_x6"))), Seq("gs"))
      .select(col("g"), col("contrib_x6"))
    val a = keep.join(gw, Seq("g")).select(col("g"), col("n").as("s1"),
      col("contrib_x6"))
    val b = keep.select(col("g"), col("n").as("s2"))
    val pairs = a.join(b, Seq("g")).filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("common"), sum(col("contrib_x6")).as("aa_x6"))
      .scopedPersist()
    pairs.filter(col("common") >= sharedFloorTop(pairs, keepPermille))
  }

  def nodeJaccard(groupNode: DataFrame, groupCol: String, nodeCol: String,
                  minShared: Long, maxGroupSize: Long = Long.MaxValue): DataFrame = {
    val m = groupNode.select(col(groupCol).as("g"), col(nodeCol).as("n")).distinct().scopedPersist()
    val sizes = m.groupBy(col("g")).agg(count(lit(1)).as("gsz")).scopedPersist()
    val keep = m.join(sizes.filter(col("gsz") <= maxGroupSize).select("g"), Seq("g"))
      .scopedPersist()
    // degrees over the KEPT membership, so common ≤ min(d1, d2) holds
    // and the union denominator can never go nonpositive
    val deg = keep.groupBy(col("n")).agg(count(lit(1)).as("d"))
    val a = keep.select(col("g"), col("n").as("s1"))
    val b = keep.select(col("g"), col("n").as("s2"))
    a.join(b, Seq("g")).filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minShared)
      .join(deg.select(col("n").as("s1"), col("d").as("d1")), Seq("s1"))
      .join(deg.select(col("n").as("s2"), col("d").as("d2")), Seq("s2"))
      .select(col("s1"), col("s2"), col("common"), col("d1"), col("d2"),
        expr("common * 1000000 div (d1 + d2 - common)").as("jaccard_ppm"))
  }

  /** SYMMETRIC edge relation annotated with BOTH endpoint degrees —
    * (u, v, du, dv), one row per direction of each undirected edge.
    * This is the graph family's shared prefix: the degree census, the
    * degree-ordered orientation filter, the assortativity moments and
    * the rich-club conditional sums are all single-pass reads of this
    * one relation — a caller that materializes it once (the
    * GraphQueries family memo) turns ~10 per-query join pyramids into
    * scans of a pair-scale cached table. Two shuffles to build (degree
    * census + one join keyed by each endpoint), node-degree joins never
    * repeat downstream.
    */
  def symWithDeg(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("s1").as("u"), col("s2").as("v"))
      .unionAll(edges.select(col("s2").as("u"), col("s1").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("du"))
    sym.join(deg, Seq("u"))
      .join(deg.select(col("u").as("v"), col("du").as("dv")), Seq("v"))
      .select(col("u"), col("v"), col("du"), col("dv"))
  }

  /** Degree histogram of an undirected edge list (s1 < s2 per row). */
  def degreeHistogram(edges: DataFrame): DataFrame =
    degreeHistogramFrom(symWithDeg(edges))

  /** [[degreeHistogram]] over a prebuilt [[symWithDeg]] relation: the
    * per-node degree is already in-row, so the census is one distinct +
    * one combinable agg — no join. */
  def degreeHistogramFrom(symDeg: DataFrame): DataFrame =
    symDeg.select(col("u").as("n"), col("du").as("degree")).distinct()
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  /** Exact global triangle count via degree-ordered wedge enumeration.
    *
    * Orientation: u→v iff (deg(u), u) < (deg(v), v). Every triangle has a
    * unique minimum vertex under that total order, and is counted exactly
    * once as a wedge at it. The closing-edge probe joins back to the
    * original (s1 < s2) edge list — the wedge endpoints are emitted in id
    * order, so no symmetric union is needed.
    */
  def triangleCount(edges: DataFrame): DataFrame =
    triangleCountFrom(symWithDeg(edges), edges)

  /** [[triangleCount]] over a prebuilt [[symWithDeg]] relation: the
    * orientation predicate reads the in-row degrees, so no degree joins
    * remain — one filter, the wedge join, the closing probe. */
  def triangleCountFrom(symDeg: DataFrame, edges: DataFrame): DataFrame = {
    val oriented = symDeg
      .filter(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"))
      .scopedPersist() // reused as BOTH wedge legs — one materialization
    val e1 = oriented.select(col("u").as("a"), col("v").as("b"))
    val e2 = oriented.select(col("u").as("a"), col("v").as("c"))
    val wedges = e1.join(e2, Seq("a")).filter(col("b") < col("c"))
    val closing = edges.select(col("s1").as("b"), col("s2").as("c"))
    wedges.join(closing, Seq("b", "c"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
  }

  /** DEGREE ASSORTATIVITY (Newman 2002): the Pearson correlation of
    * endpoint degrees across edges — do hubs link to hubs (r > 0, social
    * shape) or to leaves (r < 0, infrastructure shape)? Each undirected
    * edge contributes both orientations (the standard symmetric
    * estimator), the degree pair moments are exact bigints from one
    * combinable aggregation (the q_profile_corr discipline), and r is a
    * single double expression: (nΣxy − S²) / (nΣx² − S²) — the x/y
    * moments coincide by symmetry, so no sqrt is even needed.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame =
    degreeAssortativityFrom(symWithDeg(edges))

  /** [[degreeAssortativity]] over a prebuilt [[symWithDeg]] relation —
    * the moment pass is then a single combinable aggregation, no joins. */
  def degreeAssortativityFrom(symDeg: DataFrame): DataFrame = {
    symDeg
      .agg(count(lit(1)).as("n_dir_edges"),
        sum(col("du")).as("sx"),
        sum(col("du") * col("du")).as("qx"),
        sum(col("du") * col("dv")).as("sxy"))
      .select(col("n_dir_edges"),
        // NULL on degree-regular graphs (variance 0 — the estimator is
        // undefined, and ANSI-mode Divide throws rather than NaN-ing)
        when(col("n_dir_edges") * col("qx") - col("sx") * col("sx") =!= 0L,
          (col("n_dir_edges") * col("sxy") - col("sx") * col("sx")).cast("double")
            / (col("n_dir_edges") * col("qx") - col("sx") * col("sx")).cast("double"))
          .as("assortativity"))
  }

  /** Per-node CLUSTERING COEFFICIENT (how close each node's
    * neighborhood is to a clique — the local community-density score
    * next to [[triangleCount]]'s global census): cc = 2·t(v) / (d(v)·
    * (d(v)−1)) in floor-ppm, exact rational. Per-node triangle counts
    * come from the SAME degree-ordered wedge enumeration (each matched
    * wedge is one triangle {a,b,c}, exploded to its three member
    * nodes in-row — no second join), so the O(m^1.5) wedge bound and
    * the single oriented-edge materialization carry over unchanged.
    * Nodes with d < 2 have no possible triangle and emit 0.
    */
  def clusteringCoefficient(edges: DataFrame): DataFrame =
    clusteringCoefficientFrom(symWithDeg(edges), edges)

  /** [[clusteringCoefficient]] over a prebuilt [[symWithDeg]] relation:
    * orientation and the final per-node degree both read in-row degrees
    * — the only remaining joins are the wedge probe and the node-sized
    * left join of triangle counts. */
  def clusteringCoefficientFrom(symDeg: DataFrame, edges: DataFrame): DataFrame = {
    val deg = symDeg.select(col("u"), col("du").as("d")).distinct()
    val oriented = symDeg
      .filter(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"))
      .scopedPersist()
    val e1 = oriented.select(col("u").as("a"), col("v").as("b"))
    val e2 = oriented.select(col("u").as("a"), col("v").as("c"))
    val wedges = e1.join(e2, Seq("a")).filter(col("b") < col("c"))
    val closing = edges.select(col("s1").as("b"), col("s2").as("c"))
    val triNodes = wedges.join(closing, Seq("b", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("u"))
      .groupBy(col("u")).agg(count(lit(1)).as("t"))
    deg.join(triNodes, Seq("u"), "left")
      .select(col("u").as("node"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_tri"),
        when(col("d") >= 2,
          expr("2 * coalesce(t, 0) * 1000000 div (d * (d - 1))"))
          .otherwise(lit(0L)).as("cc_ppm"))
  }

  /** K-CORE decomposition by `rounds` synchronous peels: each round
    * drops nodes whose CURRENT degree is < k and restricts the edge
    * set to survivors (Batagelj–Zaveršnik's peel, bulk-synchronous).
    * Per round: one degree census + two semi-joins — cost ∝ remaining
    * edges, the frontier-style bound every iterated graph op here
    * uses; lineage truncates EVERY round via localCheckpoint — a peel
    * embeds the previous round's relation ~4× (the symmetric union
    * plus two semi-joins), so the un-truncated plan grows 4^rounds and
    * OOMs the driver on plan STRINGS alone by round ~6 (observed; the
    * pageRank discipline checkpoints every 5 rounds because its growth
    * is only linear). A fixed round budget is the 100 TB shape (each
    * peel is a full shuffle barrier; unbounded loops stall a shared
    * cluster): callers assert convergence by checking round R equals
    * round R−1 (GraphSpec does) — at test scale 6 rounds reach the
    * fixpoint, i.e. the true k-core.
    */
  def kCore(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"kCore: need k >= 1, rounds >= 1, got k=$k rounds=$rounds")
    var cur = edges.select(col("s1"), col("s2"))
    // EARLY FIXPOINT EXIT: the peel is monotone (cur_i ⊆ cur_{i-1}), so
    // an unchanged edge COUNT means an unchanged edge SET — every later
    // round is the identity and the result equals the full `rounds`
    // budget bit-for-bit (the oracle's unrolled 6-CTE chain included).
    // Each checkpoint is already a full materialization, so the count is
    // a metadata-scale read of blocks that exist; skipping the dead
    // rounds drops their shuffle barriers — at sf0.1 the peel converges
    // by round ~2, so this halves the query's barrier count while
    // keeping the fixed budget as the 100 TB worst-case bound.
    var prevEdges = -1L
    var fixed = false
    for (_ <- 1 to rounds if !fixed) {
      val sym = cur.select(col("s1").as("u"), col("s2").as("v"))
        .unionAll(cur.select(col("s2").as("u"), col("s1").as("v")))
      val keep = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("u"))
      // LAZY checkpoint + count as the materializing action: the eager
      // spelling ran TWO jobs per peel round (checkpoint materialization,
      // then the fixpoint count over the cached blocks); lazy marks the
      // RDD and lets the count compute-and-cache it in ONE job. Same
      // lineage truncation, same blocks, half the round's barriers.
      cur = cur
        .join(keep.select(col("u").as("s1")), Seq("s1"), "left_semi")
        .join(keep.select(col("u").as("s2")), Seq("s2"), "left_semi")
        .select(col("s1"), col("s2"))
        .localCheckpoint(false)
      val n = cur.count()
      if (n == prevEdges) fixed = true
      prevEdges = n
    }
    val sym = cur.select(col("s1").as("u"), col("s2").as("v"))
      .unionAll(cur.select(col("s2").as("u"), col("s1").as("v")))
    sym.groupBy(col("u")).agg(count(lit(1)).as("core_degree"))
      .select(col("u").as("node"), col("core_degree"))
  }

  /** Integer-scaled PageRank over a directed edge list (src, dst), `iters`
    * synchronous rounds. rank'(v) = 0.15·Scale + (85 · Σ_{u→v} rank(u) DIV
    * deg(u)) DIV 100, all in BIGINT — deterministic across engines and
    * partition orders. Callers wanting the undirected variant pass both
    * edge directions (then every node has out-degree ≥ 1 and no dangling
    * mass). Each round is one shuffle keyed by dst.
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame = {
    // Static per-round join input cached ONCE with per-row degree: one
    // join per round against node-sized ranks. (A two-join-per-round
    // variant keeping degree in a node-sized side table benched ~25%
    // slower under AQE — extra query stages cost more than the one-time
    // degree materialization saves.)
    //
    // The degree rides a WINDOW over src, not a groupBy+self-join: one
    // exchange computes it AND leaves the cached relation
    // hash-partitioned and SORTED by src — so every round's sort-merge
    // join against ranks reuses the cached layout and exchanges/sorts
    // only the node-sized ranks side. (The previous groupBy+join build
    // broadcast the degree under AQE, which left the cache with the
    // edge side's incidental partitioning and re-sorted the full edge
    // relation every round — visible as a per-round `Sort [src]` over
    // the InMemoryTableScan.) r7 A/B, cold TimeOne at sf0.1, three runs
    // each: old 6.1 s vs new 6.2/6.8/7.3 s — indistinguishable at local
    // scale, where the 3 edge sorts cost ~0.1 s each; kept because the
    // per-round plan is strictly smaller (zero edge-sized exchanges or
    // sorts per round — only the inherent contrib shuffle keyed by dst),
    // which is what survives when edges are 10^6× bigger. The remaining
    // cold cost is the build's two inherent shuffles (pair distinct,
    // window by src) plus per-round planning/codegen fixed overhead —
    // the structural floor at this SF.
    val withDeg = edges
      .select(col("src"), col("dst"),
        count(lit(1)).over(Window.partitionBy(col("src"))).as("d"))
      .scopedPersist()
    var ranks = withDeg.select(col("src").as("node")).distinct()
      .select(col("node"), lit(Scale).as("r"))
    for (i <- 1 to iters) {
      ranks = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("csum"))
        .select(col("dst").as("node"),
          (lit(Teleport) + expr("(85 * csum) div 100")).as("r"))
      // lineage truncation, mirroring Dedup.connectedComponents: without
      // it the plan grows linearly with iters (planning time + recovery
      // lineage blow up past ~20 rounds). Every k rounds keeps the plan
      // depth O(k) while paying only iters/k materializations.
      if (i % CheckpointInterval == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg 1999) over a DIRECTED edge
    * list, integer fixed-point: each half-round aggregates the opposite
    * side's score along edges (authority ← Σ hub over in-edges, hub ←
    * Σ authority over out-edges), then SUM-normalizes total mass back
    * to [[Scale]] via one broadcast scalar — `score·Scale div Σscore` —
    * keeping every score a bit-exact integer (order-independent sums,
    * no float drift: the [[pageRank]] discipline, with L1 in place of
    * the classical L2 norm so no sqrt enters). Per round: two
    * vertex-keyed shuffles + two scalar aggregates — the Pregel shape
    * that survives 100 TB. The DECIMAL(38,0) widening keeps
    * `raw·Scale` (≤ ~1e29 on a 1e12-scaled, degree-bounded graph)
    * legal under ANSI; per-round localCheckpoint truncates lineage as
    * in [[pageRank]]. Returns (hubs(node, h), authorities(node, a)).
    */
  def hits(edges: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst")).scopedPersist()
    var hubs = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(Scale).as("h"))
    var auth: DataFrame = e.sparkSession.emptyDataFrame
    for (i <- 1 to iters) {
      // checkpoint each half-round's join+agg PARTIAL (lazily — the
      // first consumer materializes it): both the 1-row total and the
      // downstream normalization read the cached partial, where before
      // each half-round's edge join ran twice (once under the total
      // agg, once in the next relation's lineage). hubs/auth need no
      // checkpoint of their own anymore — they are narrow projections
      // of a checkpointed partial × a 1-row broadcast.
      // DECIMAL(38,0) sums end to end: the raw per-node masses fit a
      // long, but the NORMALIZATION TOTAL is Σ_edges h = E·1e12 — past
      // ~9M distinct edges that exceeds 2^63 (caught by the r15
      // sf1→sf10 gate as an ANSI ARITHMETIC_OVERFLOW; the DuckDB twin
      // was already summing in HUGEINT). Exact integer values are
      // unchanged — decimal sum ≡ long sum wherever the long didn't
      // overflow — so oracle parity holds bit-for-bit.
      val araw = e.join(hubs, e("src") === hubs("node"))
        .groupBy(col("dst"))
        .agg(sum(col("h").cast("decimal(38,0)")).as("ar"))
        .localCheckpoint(false)
      val atot = araw.agg(sum(col("ar")).as("tot"))
      auth = araw.crossJoin(broadcast(atot))
        .select(col("dst").as("node"),
          expr(s"CAST(ar * ${Scale}L div tot AS BIGINT)").as("a"))
      val hraw = e.join(auth, e("dst") === auth("node"))
        .groupBy(col("src"))
        .agg(sum(col("a").cast("decimal(38,0)")).as("hr"))
        .localCheckpoint(false)
      val htot = hraw.agg(sum(col("hr")).as("tot"))
      hubs = hraw.crossJoin(broadcast(htot))
        .select(col("src").as("node"),
          expr(s"CAST(hr * ${Scale}L div tot AS BIGINT)").as("h"))
    }
    (hubs, auth)
  }

  /** PERSONALIZED PageRank (topic-sensitive, Haveliwala 2002): restart
    * mass returns only to the SEED set, so ranks measure proximity to
    * the seeds rather than global centrality — the "similar suppliers /
    * related customers" recommendation primitive. Same integer-scaled
    * recursion as [[pageRank]] with two changes: ranks start at Scale on
    * seeds (0 elsewhere — unreached nodes simply have no row), and the
    * per-round teleport lands as a seed-only union into the combining
    * aggregation (an agg, not a full-outer join — the node-sized union
    * stays broadcast-free and partial-aggregable). Per round: one join
    * against the cached degree-annotated edges + one shuffle keyed by
    * node; working set ∝ nodes within `iters` hops of the seeds, which
    * at 100 TB is the entire point — mass never materializes on the
    * whole graph.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    val withDeg = edges
      .select(col("src"), col("dst"),
        count(lit(1)).over(Window.partitionBy(col("src"))).as("d"))
      .scopedPersist()
    val seedSet = seeds.select(col("node")).distinct().scopedPersist()
    var ranks = seedSet.select(col("node"), lit(Scale).as("r"))
    for (i <- 1 to iters) {
      ranks = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("csum"))
        .select(col("dst").as("node"), expr("(85 * csum) div 100").as("x"))
        .unionAll(seedSet.select(col("node"), lit(Teleport).as("x")))
        .groupBy(col("node")).agg(sum(col("x")).as("r"))
      if (i % CheckpointInterval == 0 && i < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Bounded-depth BFS over a directed edge relation (pass both
    * directions for undirected graphs): returns (node, depth) with
    * depth = hop distance from the nearest seed, seeds at 0. Each
    * round joins ONLY the newest layer (rows at depth i-1) against the
    * edges and min-merges — per-round cost ∝ frontier × degree, never
    * paths^depth. The groupBy keeps the working set ≤ one row per
    * reached node, so `maxDepth` rounds cost maxDepth bounded joins.
    */
  def bfs(edges: DataFrame, seeds: DataFrame, seedCol: String,
          maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, s"bfs: maxDepth must be >= 0, got $maxDepth")
    var best = seeds.select(col(seedCol).as("node")).distinct()
      .select(col("node"), lit(0L).as("depth"))
    for (i <- 1 to maxDepth) {
      val next = best.filter(col("depth") === (i - 1).toLong)
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), lit(i.toLong).as("depth"))
      // lazy per-round checkpoint: `best` appears TWICE in each round's
      // plan (the frontier filter and the union), so an un-truncated
      // lineage doubles per depth — 2^depth plan copies, with every
      // earlier round's join recomputed under each
      best = best.unionAll(next).groupBy(col("node"))
        .agg(min(col("depth")).as("depth"))
        .localCheckpoint(false)
    }
    best
  }

  /** SYNCHRONOUS LABEL PROPAGATION community detection (Raghavan et al.
    * 2007, made deterministic): labels start as node ids; each round
    * every node adopts the most frequent label among its NEIGHBORS'
    * previous-round labels, ties broken toward the smallest label (the
    * async random-order variant is irreproducible — the sync sweep with
    * a total tie order is what a regression-tested pipeline wants).
    *
    * Scale shape: each round is one edge-sized join against the
    * node-sized label relation + two combinable aggregations (the mode
    * rides a struct-max, never a window); per-round localCheckpoint
    * truncates the lineage like [[kCore]]. The oracle replays rounds as
    * MATERIALIZED CTEs for the same inlining-blowup reason.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"labelPropagation: rounds must be >= 0, got $rounds")
    val sym = edges.select(col("s1").as("u"), col("s2").as("v"))
      .unionAll(edges.select(col("s2").as("u"), col("s1").as("v")))
      .scopedPersist()
    labelPropagationSym(sym, rounds)
  }

  /** [[labelPropagation]] over a prebuilt symmetric (u, v) relation —
    * for callers that already materialize the symmetric edges (the
    * GraphQueries family memo). rounds = 0 returns the initial
    * self-labels (the pre-r15 labelPropagation behavior, kept so the
    * identity call stays legal — ADVICE r15). */
  def labelPropagationSym(sym: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"labelPropagation: rounds must be >= 0, got $rounds")
    var labels = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      val nb = sym.join(labels.select(col("node").as("v"), col("label")), Seq("v"))
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
      labels = nb.groupBy(col("u"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("label"))
        .localCheckpoint(false)
    }
    labels
  }
}
