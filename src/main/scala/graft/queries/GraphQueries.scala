package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder.scan
import graft.ops.{Graph, SessionMemo}

/** Graph-operator tier over edge tables derived from the star schema:
  * a supplier co-supply graph (the top 10% of supplier pairs by shared
  * distinct parts — a data-driven census floor, see Graph.sharedFloorTop)
  * and the customer↔supplier order bipartite graph. Degree stats, exact
  * degree-ordered triangle counting, and integer-scaled PageRank — all
  * oracle-checked bit-for-bit against DuckDB (integer math only; see
  * Graph.scala scaladoc for why that matters).
  */
object GraphQueries {

  private val SuppOffset = 1000000L
  // 3 rounds, mirrored by the oracle's i1/i2/i3 CTE chain. Round-6 cost
  // breakdown (warm TimeOne, sf0.1): graph build + withDeg
  // materialization ≈ 4.3 s, each round ≈ 0.7 s — the build's two
  // edge-sized persists are the cost, and the A/B above shows dropping
  // either doesn't help. Iteration cost is linear and small. Round 7
  // re-shaped withDeg to a window build (see Graph.pageRank): cold total
  // unchanged at sf0.1 (structural floor — the two inherent build
  // shuffles + per-round planning overhead), but rounds no longer sort
  // the edge relation, the part that matters at real scale.
  private val PrIters = 3

  /** The graph family's SHARED SUBPLANS, memoized as localCheckpoint'd
    * relations per (session, dataset dir) so the ~12 graph entries that
    * start from them stop rebuilding them per call:
    *
    *  - `edges`: the co-supply edge list (s1 < s2) under the data-driven
    *    top-10% support floor. Hot-group cap 100000: far above TPC-H's
    *    suppliers-per-part (~10) at any SF, so the DuckDB oracle (no
    *    cap) stays equivalent while a pathological group can never
    *    square the join. The floor is the census rank
    *    (Graph.sharedFloorTop), which keeps edge density scale-stable.
    *  - `symDeg`: Graph.symWithDeg(edges) — both-direction edges with
    *    in-row endpoint degrees; degree census, orientation,
    *    assortativity moments and rich-club sums are single-pass reads.
    *
    * Both relations are pair-scale (top-permille of the pair census), so
    * the checkpoint footprint is metadata next to the lineitem scan it
    * replaces.
    */
  private final case class SharedGraph(edges: DataFrame, symDeg: DataFrame)
  private val graphMemo = new SessionMemo[String, SharedGraph](
    g => Seq(g.edges, g.symDeg).foreach(SessionMemo.releaseCheckpoints))
  /** customer↔supplier DISTINCT purchase pairs (c, s) — the second
    * shared prefix (pagerank/ppr/hits all start here: the orders ⋈
    * lineitem join + distinct is their expensive stage). */
  private val bipMemo = new SessionMemo[String, DataFrame](SessionMemo.releaseCheckpoints)

  private def shared(s: SparkSession, d: String): SharedGraph = graphMemo(s, d) {
    val edges = Graph.topSharedPairs(scan(s, d, "lineitem"),
        "l_partkey", "l_suppkey", keepPermille = 100, maxGroupSize = 100000)
      .select(col("s1"), col("s2"))
      .localCheckpoint()
    SharedGraph(edges, Graph.symWithDeg(edges).localCheckpoint())
  }

  /** Memoized co-supply edge list (s1 < s2). */
  private def coSupply(s: SparkSession, d: String): DataFrame = shared(s, d).edges

  private def bipartite(s: SparkSession, d: String): DataFrame = bipMemo(s, d) {
    val o = scan(s, d, "orders")
    val l = scan(s, d, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s")).distinct()
      .localCheckpoint()
  }

  /** customer↔supplier bipartite, both directions; supplier ids offset so
    * the two key spaces never collide. Built on the memoized distinct
    * pair relation; pageRank's scopedPersist of its degree-annotated
    * edges is still shared ACROSS pagerank/ppr via the cache manager
    * (identical plans over the same checkpointed relation). */
  private def orderGraph(s: SparkSession, d: String): DataFrame = {
    val cs = bipartite(s, d)
    cs.select(col("c").as("src"), (col("s") + lit(SuppOffset)).as("dst"))
      .unionAll(cs.select((col("s") + lit(SuppOffset)).as("src"), col("c").as("dst")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_graph_degree" -> ((s: SparkSession, d: String) =>
      Graph.degreeHistogramFrom(shared(s, d).symDeg)),

    "q_graph_triangles" -> ((s: SparkSession, d: String) => {
      val sh = shared(s, d)
      Graph.triangleCountFrom(sh.symDeg, sh.edges)
    }),

    "q_graph_pagerank" -> ((s: SparkSession, d: String) =>
      Graph.pageRank(orderGraph(s, d), PrIters)
        .orderBy(col("r").desc, col("node")).limit(20)),

    // PERSONALIZED PageRank from the nation-3 suppliers over the same
    // customer–supplier bipartite graph — "who is closest to this
    // supplier cohort", the recommendation/feature primitive global
    // PageRank can't answer. Seed-restricted teleport via a seed-only
    // union into the combining agg; working set stays proximity-bounded
    "q_graph_ppr" -> ((s: SparkSession, d: String) => {
      val seeds = scan(s, d, "supplier")
        .filter(col("s_nationkey") === 3)
        .select((col("s_suppkey") + lit(SuppOffset)).as("node"))
      Graph.personalizedPageRank(orderGraph(s, d), seeds, PrIters)
        .orderBy(col("r").desc, col("node")).limit(20)
    }),

    // RICH-CLUB COEFFICIENT (Zhou & Mondragón — "do the hubs form a
    // club": among nodes of degree > k, what fraction of their possible
    // links exist?) at k = 4/8/16 over the co-supply graph. One degree
    // census + one conditional-sum pass over the cached edge relation
    // (every k rides the same join — never a pass per k); φ(k) =
    // 2E_k·10⁶ div (N_k(N_k−1)) in exact ppm
    "q_graph_richclub" -> ((s: SparkSession, d: String) => {
      // one pass over the memoized symDeg: the directed conditional sum
      // s_k = Σ[du>k ∧ dv>k] counts each undirected edge twice, so
      // s_k = 2·E_k exactly — the φ numerator the definition needs,
      // with no edge⋈degree join left at all. The k=3 output rows ride
      // ONE explode over the two 1-row aggs (crossJoin of scalars), so
      // nk/ek are computed once, not once per unionAll branch (the r14
      // shape re-ran both aggregations 3×).
      val sh = shared(s, d)
      val ks = Seq(4L, 8L, 16L)
      val deg = sh.symDeg.select(col("u").as("n"), col("du").as("deg")).distinct()
      val nk = deg.agg(
        ks.map(k => sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"n_$k")).head,
        ks.map(k => sum(when(col("deg") > k, 1L).otherwise(0L)).as(s"n_$k")).tail: _*)
      val sk = sh.symDeg.agg(
        ks.map(k => sum(when(col("du") > k && col("dv") > k, 1L)
          .otherwise(0L)).as(s"s_$k")).head,
        ks.map(k => sum(when(col("du") > k && col("dv") > k, 1L)
          .otherwise(0L)).as(s"s_$k")).tail: _*)
      nk.crossJoin(sk)
        .select(explode(array(ks.map(k => struct(
          lit(k).as("k"), col(s"n_$k").as("n_nodes"),
          expr(s"s_$k div 2").as("n_edges"),
          expr(s"""CASE WHEN n_$k >= 2
                  |  THEN s_$k * 1000000 div (n_$k * (n_$k - 1))
                  |  ELSE 0 END""".stripMargin).as("phi_ppm"))): _*)).as("r"))
        .select(col("r.k").as("k"), col("r.n_nodes").as("n_nodes"),
          col("r.n_edges").as("n_edges"), col("r.phi_ppm").as("phi_ppm"))
        .orderBy(col("k"))
    }),

    // HITS over the DIRECTED customer→supplier purchase bipartite:
    // authorities = suppliers bought by well-connected customers, hubs =
    // customers buying from authoritative suppliers — the mutual-
    // reinforcement scoring PageRank's single score can't express.
    // Integer L1-normalized fixed point (Graph.hits), 2 full rounds;
    // top-10 per role. The oracle unrolls the same normalize-per-half-
    // round chain in HUGEINT
    "q_graph_hits" -> ((s: SparkSession, d: String) => {
      // directed view of the memoized purchase pairs: before the memo,
      // every half-round's edge join recomputed the orders⋈lineitem
      // distinct from scratch (4 computations per call)
      val cs = bipartite(s, d)
        .select(col("c").as("src"), col("s").as("dst"))
      val (hubs, auth) = Graph.hits(cs, 2)
      auth.select(lit("authority").as("role"), col("node"), col("a").as("score"))
        .orderBy(col("score").desc, col("node")).limit(10)
        .unionAll(hubs
          .select(lit("hub").as("role"), col("node"), col("h").as("score"))
          .orderBy(col("score").desc, col("node")).limit(10))
        .orderBy(col("role"), col("score").desc, col("node"))
    }),

    // connected components of the co-supply graph — the same min-label
    // machinery as dedup cluster resolution, applied to a general edge
    // list (supplier communities)
    "q_graph_cc" -> ((s: SparkSession, d: String) =>
      graft.ops.Dedup.connectedComponents(
          coSupply(s, d).select(col("s1").as("doc_a"), col("s2").as("doc_b")))
        .select(col("doc_id").as("node"), col("cluster").as("component"))
        .orderBy(col("node"))),

    // BOUNDED-DEPTH BFS (3 hops from the %10 seed suppliers): the
    // frontier-join traversal shape — each round joins ONLY the
    // newest layer (rows at depth i-1) against the edge relation and
    // min-merges, so per-round cost ∝ frontier × degree, never
    // paths^depth (contrast the oracle's recursive CTE, which
    // enumerates every ≤3-hop path and min-aggregates at the end —
    // fine at oracle scale, fatal at 100 TB). Same cached symmetric
    // edge relation as the family's other queries
    "q_graph_bfs" -> ((s: SparkSession, d: String) => {
      val edges = shared(s, d).symDeg
        .select(col("u").as("src"), col("v").as("dst"))
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(col("node") % 10 === 0)
      Graph.bfs(edges, seeds, "node", maxDepth = 3).orderBy(col("node"))
    }),

    // DEGREE ASSORTATIVITY (Newman 2002): one number — do high-degree
    // suppliers co-supply with each other (r > 0) or with the fringe
    // (r < 0)? Exact bigint moments, one double division (symmetry
    // kills the sqrt); see Graph.degreeAssortativity
    "q_graph_assortativity" -> ((s: SparkSession, d: String) =>
      Graph.degreeAssortativityFrom(shared(s, d).symDeg)),

    // PER-NODE CLUSTERING COEFFICIENT: 2·t(v)/(d(v)(d(v)−1)) in
    // floor-ppm over the co-supply graph — the local density census
    // from the SAME O(m^1.5) degree-ordered wedge pass as
    // q_graph_triangles (each triangle exploded to its members in-row)
    "q_graph_clustering" -> ((s: SparkSession, d: String) => {
      val sh = shared(s, d)
      Graph.clusteringCoefficientFrom(sh.symDeg, sh.edges).orderBy(col("node"))
    }),

    // K-CORE decomposition (Batagelj–Zaveršnik peel, 6 synchronous
    // rounds — the fixpoint at this graph's scale, asserted in
    // GraphSpec): the maximal subgraph where every supplier co-supplies
    // with ≥ 10 others inside the subgraph — the dense-community
    // extraction that degree alone (q_graph_degree) overcounts, since
    // a high-degree node whose neighbors all get peeled is no core
    "q_graph_kcore" -> ((s: SparkSession, d: String) =>
      Graph.kCore(coSupply(s, d), k = 8L, rounds = 6).orderBy(col("node"))),

    // COMMUNITY DETECTION: 4 synchronous label-propagation rounds over
    // the co-supply graph — deterministic LPA (mode of neighbor labels,
    // ties to the smallest; the async variant is irreproducible). Each
    // round = one edge-sized join + two combinable aggs; the struct-max
    // mode avoids any window over the edge relation
    "q_graph_lpa" -> ((s: SparkSession, d: String) =>
      Graph.labelPropagationSym(
          shared(s, d).symDeg.select(col("u"), col("v")), rounds = 4)
        .orderBy(col("node"))),

    // MODULARITY of the NATION partition (Newman-Girvan Q as an
    // attribute-mixing gauge -- Newman 2003's discrete assortative
    // mixing, the categorical twin of q_graph_assortativity): do
    // same-nation suppliers co-supply more than a degree-preserving
    // random graph predicts? EXACT: the float definition
    // Q = SUM_c (e_c/m - (d_c/2m)^2) scaled by 4m^2 to pure integers --
    // q_contrib = 4*m*e_c - d_c^2, so SUM q_contrib / (4m^2) = Q with
    // zero float drift (magnitudes <= 4m^2 << 2^63). One broadcast dim
    // join per endpoint + two combinable aggregations. (LPA's own
    // partition is evaluated by q_graph_lpa; at this density LPA
    // collapses to one community -- Q == 0 -- so the exogenous
    // partition is the informative one.)
    "q_graph_modularity" -> ((s: SparkSession, d: String) => {
      val sh = shared(s, d)
      val g = sh.edges
      val nation = scan(s, d, "supplier")
        .select(col("s_suppkey").as("node"), col("s_nationkey").as("community"))
      val tot = g.agg(count(lit(1)).as("m_edges"))
      val e = g
        .join(broadcast(nation.select(col("node").as("s1"), col("community").as("ca"))), Seq("s1"))
        .join(broadcast(nation.select(col("node").as("s2"), col("community").as("cb"))), Seq("s2"))
        .filter(col("ca") === col("cb"))
        .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_intra"))
      val deg = sh.symDeg.select(col("u"), col("du").as("d")).distinct()
      deg.join(broadcast(nation.select(col("node").as("u"), col("community"))), Seq("u"))
        .groupBy(col("community"))
        .agg(sum(col("d")).as("d_sum"), count(lit(1)).as("n_nodes"))
        .join(e, Seq("community"), "left")
        .withColumn("e_intra", coalesce(col("e_intra"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("q_contrib_scaled",
          lit(4L) * col("m_edges") * col("e_intra") - col("d_sum") * col("d_sum"))
        .select(col("community"), col("n_nodes"), col("e_intra"),
          col("d_sum"), col("q_contrib_scaled"))
        .orderBy(col("community"))
    }),

    // LINK-PREDICTION census: Jaccard similarity of supplier part
    // portfolios (common-neighbors over the part↔supplier bipartite) —
    // the "suppliers most like this one" score. Top 50 by similarity,
    // key-complete tie-break; the op itself is graded by the minShared
    // support floor, not the limit (see Graph.nodeJaccard for the
    // hot-group-cap scale bound)
    "q_graph_jaccard" -> ((s: SparkSession, d: String) =>
      // same data-driven top-10% support floor as coSupply: the r1–r9
      // absolute floor (120) kept 0 pairs at sf≥0.1 — see sharedFloorTop
      Graph.nodeJaccardTop(scan(s, d, "lineitem"), "l_partkey", "l_suppkey",
          keepPermille = 100, maxGroupSize = 100000)
        .orderBy(col("jaccard_ppm").desc, col("s1"), col("s2")).limit(50)),

    // ADAMIC-ADAR link prediction — q_graph_jaccard's weighted upgrade
    // (rare shared parts count 1/ln(|part|) each, popular ones nearly
    // nothing), the second classic common-neighbor score. The ln comes
    // from the shared staged fixed-point log, evaluated once per
    // DISTINCT part size; same cap, floor and blocked candidate join
    "q_graph_adamic" -> ((s: SparkSession, d: String) =>
      Graph.adamicAdarTop(scan(s, d, "lineitem"), "l_partkey", "l_suppkey",
          keepPermille = 100, maxGroupSize = 100000)
        .orderBy(col("aa_x6").desc, col("s1"), col("s2")).limit(50))
  )

  /** Shared DuckDB CTE: the co-supply edge list under the same
    * data-driven top-10% support floor as the engine (census →
    * count-of-counts → ⌈0.9·n⌉ cumulative rank → min qualifying count).
    */
  private val edgeCte =
    s"""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |pc AS (SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS common
       |       FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
       |       GROUP BY a.s, b.s),
       |ccc AS (SELECT common AS c, CAST(count(*) AS BIGINT) AS k FROM pc GROUP BY common),
       |np AS (SELECT CAST(SUM(k) AS BIGINT) AS n FROM ccc),
       |th AS (SELECT CAST(MIN(c) AS BIGINT) AS t
       |       FROM (SELECT c, SUM(k) OVER (ORDER BY c) AS cum FROM ccc) cw, np
       |       WHERE cw.cum >= (900 * np.n + 999) // 1000),
       |g AS (SELECT pc.s1, pc.s2 FROM pc, th WHERE pc.common >= th.t)""".stripMargin

  /** One PageRank round as SQL (prev CTE name -> this round's SELECT). */
  private def prRound(prev: String): String =
    s"""SELECT u.dst AS node,
       |  CAST(${Graph.Teleport} + (85 * CAST(SUM(r.r // d.d) AS BIGINT)) // 100 AS BIGINT) AS r
       |FROM und u JOIN deg d ON u.src = d.src JOIN $prev r ON r.node = u.src
       |GROUP BY u.dst""".stripMargin

  /** One personalized-PageRank round as SQL: spread term per reached
    * node plus the seed-only teleport, combined by the outer SUM —
    * mirroring the engine's union-into-agg exactly. */
  private def pprRound(prev: String): String =
    s"""SELECT node, CAST(SUM(x) AS BIGINT) AS r FROM (
       |  SELECT u.dst AS node,
       |    (85 * CAST(SUM(r.r // d.d) AS BIGINT)) // 100 AS x
       |  FROM und u JOIN deg d ON u.src = d.src JOIN $prev r ON r.node = u.src
       |  GROUP BY u.dst
       |  UNION ALL SELECT node, ${Graph.Teleport} AS x FROM seeds)
       |GROUP BY node""".stripMargin

  /** One k-core peel round as SQL: nodes with degree ≥ k in e$i, then
    * e${i+1} = edges with both ends surviving. MATERIALIZED on purpose:
    * each round references the previous CTE ~4× (degree union + two IN
    * probes), so inlining re-evaluates the chain 4^rounds times — the
    * DuckDB edition of the same exponential-lineage blowup
    * Graph.kCore's per-round localCheckpoint exists to stop. */
  private def peelRound(i: Int, k: Long): String =
    s"""n$i AS MATERIALIZED (
       |  SELECT n FROM (SELECT s1 AS n FROM e$i UNION ALL SELECT s2 FROM e$i)
       |  GROUP BY n HAVING COUNT(*) >= $k),
       |e${i + 1} AS MATERIALIZED (
       |  SELECT s1, s2 FROM e$i
       |  WHERE s1 IN (SELECT n FROM n$i) AND s2 IN (SELECT n FROM n$i))""".stripMargin

  /** One sync-LPA round as SQL (MATERIALIZED: l${r-1} is referenced by
    * the census join; inlined chains re-evaluate exponentially — the
    * peelRound lesson). Mode = row_number over (count desc, label asc).
    */
  private def lpaRound(r: Int): String =
    s"""nb$r AS (SELECT s.u, l.label, CAST(COUNT(*) AS BIGINT) AS c
       |         FROM sym s JOIN l${r - 1} l ON l.node = s.v GROUP BY s.u, l.label),
       |l$r AS MATERIALIZED (
       |  SELECT u AS node, label FROM (
       |    SELECT u, label, row_number() OVER (PARTITION BY u ORDER BY c DESC, label ASC) AS rn
       |    FROM nb$r) WHERE rn = 1)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_graph_lpa" ->
      s"""$edgeCte,
         |sym AS MATERIALIZED (SELECT s1 AS u, s2 AS v FROM g
         |                     UNION ALL SELECT s2, s1 FROM g),
         |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM sym),
         |${(1 to 4).map(lpaRound).mkString(",\n")}
         |SELECT node, label FROM l4 ORDER BY node""".stripMargin,

    // nation-partition modularity replay: identical 4m^2-scaled
    // integer decomposition, nation from the supplier dim
    "q_graph_modularity" ->
      s"""$edgeCte,
         |nat AS (SELECT s_suppkey AS node, CAST(s_nationkey AS BIGINT) AS community
         |        FROM supplier),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM g),
         |e AS (SELECT na.community, CAST(COUNT(*) AS BIGINT) AS e_intra
         |      FROM g JOIN nat na ON na.node = g.s1 JOIN nat nb ON nb.node = g.s2
         |      WHERE na.community = nb.community GROUP BY na.community),
         |sym AS (SELECT s1 AS u FROM g UNION ALL SELECT s2 FROM g),
         |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
         |dc AS (SELECT n.community, CAST(SUM(deg.d) AS BIGINT) AS d_sum,
         |         CAST(COUNT(*) AS BIGINT) AS n_nodes
         |       FROM deg JOIN nat n ON n.node = deg.u GROUP BY n.community)
         |SELECT dc.community, dc.n_nodes,
         |  CAST(COALESCE(e.e_intra, 0) AS BIGINT) AS e_intra, dc.d_sum,
         |  CAST(4 * tot.m_edges * COALESCE(e.e_intra, 0) - dc.d_sum * dc.d_sum AS BIGINT)
         |    AS q_contrib_scaled
         |FROM dc LEFT JOIN e ON e.community = dc.community CROSS JOIN tot
         |ORDER BY dc.community""".stripMargin,

    "q_graph_assortativity" ->
      s"""$edgeCte,
         |sym AS (SELECT s1 AS u, s2 AS v FROM g UNION ALL SELECT s2, s1 FROM g),
         |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(du.d) AS BIGINT) AS sx,
         |        CAST(SUM(du.d * du.d) AS BIGINT) AS qx,
         |        CAST(SUM(du.d * dv.d) AS BIGINT) AS sxy
         |      FROM sym JOIN deg du ON sym.u = du.u JOIN deg dv ON sym.v = dv.u)
         |SELECT n AS n_dir_edges,
         |  CAST(n * sxy - sx * sx AS DOUBLE) / CAST(n * qx - sx * sx AS DOUBLE)
         |    AS assortativity
         |FROM m""".stripMargin,

    "q_graph_clustering" ->
      s"""$edgeCte,
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree
         |        FROM (SELECT s1 AS n FROM g UNION ALL SELECT s2 AS n FROM g)
         |        GROUP BY n),
         |tri AS (SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
         |        FROM g e1 JOIN g e2 ON e1.s2 = e2.s1
         |        JOIN g e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
         |tn AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS t
         |       FROM (SELECT a AS u FROM tri UNION ALL SELECT b FROM tri
         |             UNION ALL SELECT c FROM tri)
         |       GROUP BY u)
         |SELECT deg.n AS node, deg.degree,
         |  CAST(COALESCE(tn.t, 0) AS BIGINT) AS n_tri,
         |  CAST(CASE WHEN deg.degree >= 2
         |            THEN 2 * COALESCE(tn.t, 0) * 1000000 // (deg.degree * (deg.degree - 1))
         |            ELSE 0 END AS BIGINT) AS cc_ppm
         |FROM deg LEFT JOIN tn ON deg.n = tn.u
         |ORDER BY node""".stripMargin,

    "q_graph_kcore" ->
      s"""$edgeCte,
         |e0 AS MATERIALIZED (SELECT s1, s2 FROM g),
         |${(0 until 6).map(i => peelRound(i, 8L)).mkString(",\n")}
         |SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
         |FROM (SELECT s1 AS n FROM e6 UNION ALL SELECT s2 FROM e6)
         |GROUP BY n ORDER BY node""".stripMargin,

    // the hot-group cap (maxGroupSize = 100000) is mirrored definitionally:
    // parts above the cap leave BOTH the degree census and the pair join,
    // exactly as Graph.nodeJaccard's `keep` membership does — so engine and
    // oracle stay identical even at scale factors where a part exceeds it
    "q_graph_jaccard" ->
      """WITH ps0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |ok AS (SELECT p FROM ps0 GROUP BY p HAVING count(*) <= 100000),
        |ps AS (SELECT ps0.p, ps0.s FROM ps0 JOIN ok ON ps0.p = ok.p),
        |deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM ps GROUP BY s),
        |pc AS (SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS common
        |       FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
        |       GROUP BY a.s, b.s),
        |ccc AS (SELECT common AS c, CAST(count(*) AS BIGINT) AS k FROM pc GROUP BY common),
        |np AS (SELECT CAST(SUM(k) AS BIGINT) AS n FROM ccc),
        |th AS (SELECT CAST(MIN(c) AS BIGINT) AS t
        |       FROM (SELECT c, SUM(k) OVER (ORDER BY c) AS cum FROM ccc) cw, np
        |       WHERE cw.cum >= (900 * np.n + 999) // 1000),
        |pr AS (SELECT pc.s1, pc.s2, pc.common FROM pc, th WHERE pc.common >= th.t)
        |SELECT pr.s1, pr.s2, pr.common, d1.d AS d1, d2.d AS d2,
        |  CAST(pr.common * 1000000 // (d1.d + d2.d - pr.common) AS BIGINT) AS jaccard_ppm
        |FROM pr JOIN deg d1 ON pr.s1 = d1.s JOIN deg d2 ON pr.s2 = d2.s
        |ORDER BY jaccard_ppm DESC, pr.s1, pr.s2 LIMIT 50""".stripMargin,
    "q_graph_adamic" -> {
      import graft.ops.UlmTokenizer
      val staged = UlmTokenizer.costStages("gs", "1", UlmTokenizer.Duck)
        .foldLeft("SELECT * FROM ds") { case (acc, (n, e)) =>
          s"SELECT *, $e AS $n FROM ($acc)" }
      raw"""WITH ps0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
           |ok AS (SELECT p FROM ps0 GROUP BY p HAVING count(*) <= 100000),
           |ps AS (SELECT ps0.p, ps0.s FROM ps0 JOIN ok ON ps0.p = ok.p),
           |gz AS (SELECT p, CAST(count(*) AS BIGINT) AS gs FROM ps GROUP BY p),
           |ds AS (SELECT DISTINCT gs FROM gz WHERE gs >= 2),
           |st AS MATERIALIZED ($staged),
           |wt AS (SELECT gs, CAST(100000000000000
           |         // (CAST(cost_cb AS BIGINT) * 693147) AS BIGINT) AS contrib_x6
           |       FROM st),
           |gw AS (SELECT gz.p, wt.contrib_x6 FROM gz JOIN wt USING (gs)),
           |pc AS (SELECT a.s AS s1, b.s AS s2, CAST(count(*) AS BIGINT) AS common,
           |         CAST(SUM(gw.contrib_x6) AS BIGINT) AS aa_x6
           |       FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
           |       JOIN gw ON gw.p = a.p
           |       GROUP BY a.s, b.s),
           |ccc AS (SELECT common AS c, CAST(count(*) AS BIGINT) AS k FROM pc GROUP BY common),
           |np AS (SELECT CAST(SUM(k) AS BIGINT) AS n FROM ccc),
           |th AS (SELECT CAST(MIN(c) AS BIGINT) AS t
           |       FROM (SELECT c, SUM(k) OVER (ORDER BY c) AS cum FROM ccc) cw, np
           |       WHERE cw.cum >= (900 * np.n + 999) // 1000)
           |SELECT pc.s1, pc.s2, pc.common, pc.aa_x6
           |FROM pc, th WHERE pc.common >= th.t
           |ORDER BY aa_x6 DESC, s1, s2 LIMIT 50""".stripMargin
    },
    "q_graph_degree" ->
      s"""$edgeCte,
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS degree
         |        FROM (SELECT s1 AS n FROM g UNION ALL SELECT s2 AS n FROM g)
         |        GROUP BY n)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,
    "q_graph_triangles" ->
      s"""$edgeCte
         |SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |FROM g e1 JOIN g e2 ON e1.s2 = e2.s1
         |JOIN g e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2""".stripMargin,
    "q_graph_cc" ->
      s"""WITH RECURSIVE ${edgeCte.stripPrefix("WITH ")},
         |edges AS (SELECT s1 AS a, s2 AS b FROM g UNION SELECT s2, s1 FROM g),
         |reach(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
         |SELECT src AS node, least(src, min(dst)) AS component
         |FROM reach GROUP BY src ORDER BY node""".stripMargin,

    // path-enumerating recursive twin of the engine's frontier BFS:
    // UNION (set semantics) + depth<3 bound keeps it finite; MIN(depth)
    // at the end = BFS layering
    "q_graph_bfs" ->
      s"""WITH RECURSIVE ${edgeCte.stripPrefix("WITH ")},
         |e AS (SELECT s1 AS src, s2 AS dst FROM g UNION SELECT s2, s1 FROM g),
         |seeds AS (SELECT DISTINCT src AS node FROM e WHERE src % 10 = 0),
         |walk(node, depth) AS (
         |  SELECT node, 0 FROM seeds
         |  UNION
         |  SELECT e.dst, w.depth + 1 FROM walk w JOIN e ON e.src = w.node
         |  WHERE w.depth < 3)
         |SELECT node, CAST(MIN(depth) AS BIGINT) AS depth
         |FROM walk GROUP BY node ORDER BY node""".stripMargin,

    "q_graph_ppr" ->
      s"""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |und AS (SELECT c AS src, s + $SuppOffset AS dst FROM cs
         |        UNION ALL SELECT s + $SuppOffset AS src, c AS dst FROM cs),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY src),
         |seeds AS (SELECT s_suppkey + $SuppOffset AS node FROM supplier
         |          WHERE s_nationkey = 3),
         |r0 AS (SELECT node, CAST(${Graph.Scale} AS BIGINT) AS r FROM seeds),
         |i1 AS (${pprRound("r0")}),
         |i2 AS (${pprRound("i1")}),
         |i3 AS (${pprRound("i2")})
         |SELECT node, r FROM i3 ORDER BY r DESC, node LIMIT 20""".stripMargin,

    "q_graph_richclub" -> {
      val ks = Seq(4L, 8L, 16L)
      s"""$edgeCte,
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS deg
         |        FROM (SELECT s1 AS n FROM g UNION ALL SELECT s2 AS n FROM g)
         |        GROUP BY n),
         |nk AS (SELECT
         |${ks.map(k => s"    CAST(SUM(CASE WHEN deg > $k THEN 1 ELSE 0 END) AS BIGINT) AS n_$k").mkString(",\n")}
         |  FROM deg),
         |ek AS (SELECT
         |${ks.map(k => s"    CAST(SUM(CASE WHEN a.deg > $k AND b.deg > $k THEN 1 ELSE 0 END) AS BIGINT) AS e_$k").mkString(",\n")}
         |  FROM g JOIN deg a ON g.s1 = a.n JOIN deg b ON g.s2 = b.n)
         |""".stripMargin +
        ks.map(k =>
          s"""SELECT CAST($k AS BIGINT) AS k, n_$k AS n_nodes, e_$k AS n_edges,
             |  CAST(CASE WHEN n_$k >= 2
             |    THEN 2 * e_$k * 1000000 // (n_$k * (n_$k - 1))
             |    ELSE 0 END AS BIGINT) AS phi_ppm
             |FROM nk, ek""".stripMargin).mkString("\nUNION ALL\n") +
        "\nORDER BY k"
    },

    "q_graph_hits" ->
      s"""WITH cs AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
         |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |h0 AS (SELECT DISTINCT src AS node,
         |         CAST(${Graph.Scale} AS BIGINT) AS h FROM cs),
         |a1r AS MATERIALIZED (
         |  SELECT cs.dst, CAST(SUM(h.h) AS BIGINT) AS ar
         |  FROM cs JOIN h0 h ON cs.src = h.node GROUP BY cs.dst),
         |a1 AS MATERIALIZED (
         |  SELECT dst AS node, CAST(ar::HUGEINT * ${Graph.Scale}
         |    // (SELECT SUM(ar) FROM a1r) AS BIGINT) AS a FROM a1r),
         |h1r AS MATERIALIZED (
         |  SELECT cs.src, CAST(SUM(a.a) AS BIGINT) AS hr
         |  FROM cs JOIN a1 a ON cs.dst = a.node GROUP BY cs.src),
         |h1 AS MATERIALIZED (
         |  SELECT src AS node, CAST(hr::HUGEINT * ${Graph.Scale}
         |    // (SELECT SUM(hr) FROM h1r) AS BIGINT) AS h FROM h1r),
         |a2r AS MATERIALIZED (
         |  SELECT cs.dst, CAST(SUM(h.h) AS BIGINT) AS ar
         |  FROM cs JOIN h1 h ON cs.src = h.node GROUP BY cs.dst),
         |a2 AS MATERIALIZED (
         |  SELECT dst AS node, CAST(ar::HUGEINT * ${Graph.Scale}
         |    // (SELECT SUM(ar) FROM a2r) AS BIGINT) AS a FROM a2r),
         |h2r AS MATERIALIZED (
         |  SELECT cs.src, CAST(SUM(a.a) AS BIGINT) AS hr
         |  FROM cs JOIN a2 a ON cs.dst = a.node GROUP BY cs.src),
         |h2 AS MATERIALIZED (
         |  SELECT src AS node, CAST(hr::HUGEINT * ${Graph.Scale}
         |    // (SELECT SUM(hr) FROM h2r) AS BIGINT) AS h FROM h2r)
         |SELECT * FROM (
         |  (SELECT 'authority' AS role, node, a AS score FROM a2
         |   ORDER BY score DESC, node LIMIT 10)
         |  UNION ALL
         |  (SELECT 'hub' AS role, node, h AS score FROM h2
         |   ORDER BY score DESC, node LIMIT 10))
         |ORDER BY role, score DESC, node""".stripMargin,

    "q_graph_pagerank" ->
      s"""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |und AS (SELECT c AS src, s + $SuppOffset AS dst FROM cs
         |        UNION ALL SELECT s + $SuppOffset AS src, c AS dst FROM cs),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY src),
         |r0 AS (SELECT src AS node, CAST(${Graph.Scale} AS BIGINT) AS r FROM deg),
         |i1 AS (${prRound("r0")}),
         |i2 AS (${prRound("i1")}),
         |i3 AS (${prRound("i2")})
         |SELECT node, r FROM i3 ORDER BY r DESC, node LIMIT 20""".stripMargin
  )
}
