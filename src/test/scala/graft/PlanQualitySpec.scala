package graft

import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder.scan
import graft.ops.Joins

/** Plan-shape assertions: the properties that decide whether these
  * operators survive a 100× scale-up — partition pruning, broadcast
  * joins on dims, salted-join result parity, no nested-loop joins.
  */
class PlanQualitySpec extends SparkSpec {

  test("partitionBy write + filtered read prunes partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft_prune").toString + "/orders"
    scan(spark, sf001, "orders").write.partitionBy("o_orderstatus").parquet(out)
    val df = spark.read.parquet(out).filter(col("o_orderstatus") === "O")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan.take(2000))
    // pruned scan reads fewer files than the full table
    val full = spark.read.parquet(out)
    assert(df.count() < full.count())
  }

  test("star join broadcasts the dimension tables") {
    val li = scan(spark, sf001, "lineitem")
    val nat = broadcast(scan(spark, sf001, "nation"))
    val plan = li.join(nat, li("l_suppkey") % 25 === nat("n_nationkey"))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("salted join returns exactly the plain join's result") {
    val li = scan(spark, sf001, "lineitem").select("l_orderkey", "l_quantity")
    val o = scan(spark, sf001, "orders").select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, "l_orderkey").count()
    // exercise both paths: threshold 3 puts part of orders on each side
    val salted = Joins.saltedJoin(li, o, "l_orderkey", 8, hotKeyThreshold = 3).count()
    assert(plain == salted)
    // degenerate thresholds also agree: all-hot (0) and all-cold (huge)
    assert(Joins.saltedJoin(li, o, "l_orderkey", 8, hotKeyThreshold = 0).count() == plain)
    assert(Joins.saltedJoin(li, o, "l_orderkey", 8, hotKeyThreshold = Long.MaxValue).count() == plain)
  }

  test("salted join replicates ONLY hot-key right rows, not the whole right side") {
    val li = scan(spark, sf001, "lineitem").select("l_orderkey", "l_quantity")
    val o = scan(spark, sf001, "orders").select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val df = Joins.saltedJoin(li, o, "l_orderkey", 8, hotKeyThreshold = 3)
    // every explode (salt replication) must sit above a semi-join that
    // filters the right side to hot keys — the r1 shape exploded the
    // bare scan, an 8× shuffle inflation of the ENTIRE right table
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val generates = plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(generates.nonEmpty, "expected a Generate (explode) node for the salt")
    generates.foreach { g =>
      assert(g.exists(_.toString.contains("LeftSemi")),
        s"explode is not fed by a hot-key semi-join:\n${g.treeString.take(1500)}")
    }
    // and a cold path exists: a plain join with a LeftAnti-filtered left
    assert(plan.exists(_.toString.contains("LeftAnti")), "missing cold path")
  }

  test("connector pipeline stays in whole-stage codegen") {
    val df = graft.engine.QueryBuilder.build(spark, sf001, graft.model.Connector(
      table = "lineitem",
      fields = Seq("l_orderkey", "l_quantity"),
      filters = Seq(graft.model.Filter("l_quantity", "<", 24)),
      limit = 0))
    // '*(n)' marks a WholeStageCodegen stage in the simple plan string
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("*(1)"), plan.take(1000))
  }

  test("TPC-H Q3 broadcasts the filtered customer dim and plans top-k") {
    val df = graft.queries.TpchQueries.queries("q_tpch_q3")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString()
    // the segment-filtered customer side is dimension-sized → broadcast
    // (no lineitem shuffle for the join), and the LIMIT 10 over the agg
    // plans as TakeOrderedAndProject
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val df = graft.engine.QueryBuilder.build(spark, sf001, graft.model.Connector(
      table = "lineitem",
      fields = Seq("l_orderkey", "l_extendedprice"),
      sort = Seq(graft.model.Sort.desc("l_extendedprice")),
      limit = 10))
    assert(df.queryExecution.executedPlan.toString().contains("TakeOrderedAndProject"))
  }

  test("TPC-H Q5 snowflake: nation/region broadcast, no cartesian product") {
    val plan = graft.queries.TpchQueries.queries("q_tpch_q5")(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), "snowflake join degenerated to a cross product")
  }

  test("TPC-H Q19 OR-of-ANDs still plans a hash join on the common equi-key") {
    val plan = graft.queries.TpchQueries.queries("q_tpch_q19")(spark, sf001)
      .queryExecution.executedPlan.toString()
    // the p_partkey=l_partkey conjunct is common to every disjunct, so
    // Catalyst must extract it as the join key — a BroadcastNestedLoop
    // here would be a 100 TB death sentence
    assert(plan.contains("HashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), "OR predicate fell off the hash join")
  }

  test("decontamination probes the benchmark set as a broadcast hash join") {
    val df = graft.ops.CorpusOps.decontaminate(
      scan(spark, sf001, "documents"), "doc_id", "text",
      col("source") === "src0", n = 4)
    val plan = df.queryExecution.executedPlan.toString()
    // train side is the 100 TB side: it must stream map-side against the
    // broadcast bench n-gram set, never shuffle on the raw n-gram string
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // and the join/distinct key must be the 64-bit gram HASH, not the
    // raw gram string — the distinct's shuffle payload is a long, ~10×
    // smaller than the gram text at corpus scale
    val joinKeyType = df.queryExecution.analyzed.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.condition.get.references.head.dataType
    }
    assert(joinKeyType.contains(org.apache.spark.sql.types.LongType),
      s"decontaminate join key is not the hashed long: $joinKeyType")
  }

  test("DSIR selection: broadcast weight table, range-partitioned prefix, no whole-corpus single-partition window") {
    val df = graft.queries.DedupQueries.queries("q_mix_dsir")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString()
    // the 256-row weight table and the partition-offset table must both
    // ride broadcast joins — the corpus-sized relations never re-shuffle
    // for them
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the budget cut is the two-phase prefix: the doc-level running sum
    // must be computed under a rangepartitioning exchange (per-partition,
    // keyed by __pid), never as one global single-partition window over
    // the scored corpus
    assert(plan.contains("rangepartitioning"), plan.take(2000))
    val windows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val docLevelGlobal = windows.exists(w =>
      w.partitionSpec.isEmpty &&
        w.child.references.map(_.name).exists(_ == "doc_id"))
    assert(!docLevelGlobal,
      "doc-level window has an empty partition spec — single-task global sort at scale")
  }

  test("packing census: global token offset is two-level, no doc-level global window") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.queries.TextQueries.queries("q_text_pack")(spark, sf001)
      val windows = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "expected the two prefix-sum windows")
      // the only unpartitioned window may run over the 1024-doc BUCKET
      // census (its input references the bucket key, never doc_id);
      // the doc-level window must be partitioned by bucket
      val docLevelGlobal = windows.exists(w =>
        w.partitionSpec.isEmpty &&
          w.child.references.map(_.name).exists(_ == "doc_id"))
      assert(!docLevelGlobal,
        "doc-level window has an empty partition spec — single-task global sort at scale")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("bucketed sort-merge join reads bucket-for-bucket: no Exchange below the join") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // run the registered query once so the bucketed tables exist; at
    // sf0.001 AQE rightly broadcasts the tiny dim in the query itself,
    // so pin the bucket-for-bucket property with an explicit merge
    // hint over the same bucketed tables (the plan both sides get at
    // the scale where neither fits in memory)
    graft.queries.JoinQueries.queries("q_join_bucketed")(spark, sf001).collect()
    val suffix = Integer.toHexString(sf001.hashCode)
    val o = spark.table(s"graft_bkt_orders_$suffix")
    val c = spark.table(s"graft_bkt_customer_$suffix")
    val df = o.join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
    df.collect()
    def smjSubtrees(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => smjSubtrees(a.executedPlan)
      case q: QueryStageExec => smjSubtrees(q.plan)
      case j: SortMergeJoinExec => Seq(j)
      case other => other.children.flatMap(smjSubtrees)
    }
    val exec = df.queryExecution.executedPlan
    val smjs = smjSubtrees(exec)
    assert(smjs.nonEmpty, s"expected a SortMergeJoin:\n${exec.toString.take(2000)}")
    for (j <- smjs) {
      val shuffles = j.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"bucketed join must not shuffle either side:\n${j.toString.take(2000)}")
    }
  }

  test("AQE skew-join splits a hot-key partition at runtime (skew=true in the final SMJ)") {
    import spark.implicits._
    // 1 hot key carrying ~90% of the left side, thresholds lowered so
    // local-scale data exhibits the 100 TB failure mode AQE exists for
    val prev = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(0, 200000L)
        .select(when(col("id") % 10 < 9, 7L).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 1000L).select(col("id").as("k"),
        (col("id") * 3).as("w"))
      val j = left.join(right, Seq("k"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString()
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${plan.take(3000)}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("DPP: runtime dim filter becomes a dynamic partition filter on the fact scan") {
    val df = graft.queries.JoinQueries.queries("q_join_dpp")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"),
      s"expected dynamicpruningexpression in the fact scan:\n${plan.take(3000)}")
  }

  test("chunkText is map-only: no exchange anywhere in the plan") {
    val plan = graft.ops.CorpusOps.chunkText(
        scan(spark, sf001, "documents"), "doc_id", "text", size = 120, stride = 90)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"unexpected shuffle in chunkText:\n${plan.take(2000)}")
  }

  test("deletion join and node-Jaccard plan hash joins only — no nested-loop, no cartesian") {
    for ((name, df) <- Seq(
      "deletionJoin" -> graft.ops.EntityResolution.deletionJoin(
        scan(spark, sf001, "customer"), "c_custkey", "c_name"),
      "nodeJaccard" -> graft.ops.Graph.nodeJaccard(
        scan(spark, sf001, "lineitem"), "l_partkey", "l_suppkey", 1L, 100000))) {
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"non-equi join in $name:\n${plan.take(2000)}")
    }
    // collocations: the rank joins must be hash joins; the only BNLJs
    // are the blessed broadcast-1-row crosses (n_uni × n_bi globals and
    // their attach), and every one of them is a Cross, never a filterless
    // data-sized nested loop
    val cPlan = graft.queries.TextQueries.queries("q_text_collocations")(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(!cPlan.contains("CartesianProduct"), cPlan.take(2000))
    val bnlj = "BroadcastNestedLoopJoin[^\n]*".r.findAllIn(cPlan).toSeq
    assert(bnlj.size <= 2 && bnlj.forall(_.contains("Cross"))
      && cPlan.contains("BroadcastHashJoin"),
      s"collocations rank joins should hash-join:\n${cPlan.take(2000)}")
  }

  test("round-9 pair pipelines plan hash joins only — ppJoin, phash/afp near-dup, LPA, modularity") {
    import graft.ops.{Dedup, Graph, Multimodal}
    val docs = scan(spark, sf001, "documents")
    val ppToks = Dedup.hashedShingleTable(docs, "doc_id", "text")
      .select(col("doc_id"), col("sh").as("w")).distinct()
    val cases = Seq(
      "ppJoin" -> Dedup.ppJoin(ppToks, 1, 2),
      "phashPairs" -> Multimodal.nearDupPairs(
        Multimodal.decode(Multimodal.syntheticPpmPairs(docs, "doc_id"))(
          Multimodal.decodePpmPhashBanded), "phash", Seq("width", "height", "band")),
      "afpPairs" -> Multimodal.nearDupPairs(
        Multimodal.decode(Multimodal.syntheticWavPairs(docs, "doc_id"))(
          Multimodal.decodeWavAfpBanded), "afp", Seq("n_samples", "band")),
      "labelPropagation" -> Graph.labelPropagation(
        scan(spark, sf001, "lineitem")
          .select((col("l_partkey") % 50).as("s1"), (col("l_suppkey") + 1000).as("s2"))
          .filter(col("s1") < col("s2")), rounds = 2))
    for ((name, df) <- cases) {
      val plan = df.queryExecution.executedPlan.toString()
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"non-equi join in $name:\n${plan.take(2000)}")
    }
    // modularity's only nested-loop is the blessed 1-row m_edges cross
    val mPlan = graft.queries.GraphQueries.queries("q_graph_modularity")(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(!mPlan.contains("CartesianProduct"), mPlan.take(2000))
    val bnlj = "BroadcastNestedLoopJoin[^\n]*".r.findAllIn(mPlan).toSeq
    assert(bnlj.size <= 1 && bnlj.forall(_.contains("Cross")),
      s"modularity should cross only the 1-row total:\n${mPlan.take(2000)}")
  }

  test("graph-memo consumers are single-pass: no join in the degree/assortativity/richclub plans") {
    // the r15 family memo's design claim: symWithDeg carries both
    // endpoint degrees IN-ROW, so these censuses read the checkpointed
    // relation once — a Join appearing here means the memo stopped
    // paying for itself. richclub's only join may be the blessed 1-row
    // cross of its two scalar aggregates.
    import graft.queries.GraphQueries
    for (name <- Seq("q_graph_degree", "q_graph_assortativity")) {
      val plan = GraphQueries.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString()
      assert(!plan.contains("Join"), s"$name should be join-free:\n${plan.take(2000)}")
    }
    val rc = GraphQueries.queries("q_graph_richclub")(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(!rc.contains("SortMergeJoin") && !rc.contains("BroadcastHashJoin")
      && !rc.contains("CartesianProduct"), rc.take(2000))
    val bnlj = "BroadcastNestedLoopJoin[^\n]*".r.findAllIn(rc).toSeq
    assert(bnlj.size <= 1 && bnlj.forall(_.contains("Cross")),
      s"richclub should cross only the two 1-row aggregates:\n${rc.take(2000)}")
  }

  test("STL decomposition broadcasts the 7-row seasonal relation") {
    val plan = graft.queries.WindowQueries.queries("q_ts_stl")(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("source-overlap matrix plans with NO join — pairs expand in-row") {
    val plan = graft.queries.TextQueries.queries("q_source_overlap")(spark, sf001)
      .queryExecution.executedPlan.toString()
    // the design claim: a viral fingerprint shared by every source can
    // never square a join, because there IS no fingerprint join — pairs
    // come from the per-fp sorted source set inside the row
    assert(!plan.contains("Join"), s"unexpected join in q_source_overlap:\n${plan.take(2000)}")
  }

  test("source mirror-rate attributes pairs via hash/broadcast joins, never nested-loop") {
    val plan = graft.queries.DedupQueries.queries("q_dedup_source_mirror")(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"non-equi join in q_dedup_source_mirror:\n${plan.take(2000)}")
  }

  test("hard-negative mining: broadcast query side + TopKPerKey physical operator") {
    val plan = graft.queries.SimilarityQueries.queries("q_sim_hardneg")(spark, sf001)
      .queryExecution.executedPlan.toString()
    // corpus scores map-side against broadcast queries; the per-query
    // top-k ships through the custom operator, never a Window over the
    // full score matrix
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n${plan.take(2000)}")
    assert(plan.contains("TopKPerKey"), s"TopKPerKey operator missing:\n${plan.take(2000)}")
    assert(!plan.contains("Window"), s"Window fallback in hardneg plan:\n${plan.take(2000)}")
  }

  test("q_text_ndcg: rankings go through TopKPerKey; every window is survivor-sized") {
    // AQE wraps the tree in AdaptiveSparkPlanExec, which hides the
    // WindowExec nodes from collect() — plan-shape assertions need the
    // static plan
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
    val df = graft.queries.SearchQueries.queries("q_text_ndcg")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString()
    // both the ideal and the system top-10 prune through the physical
    // operator before any rank is assigned
    assert(plan.contains("TopKPerKey"), s"TopKPerKey missing:\n${plan.take(2000)}")
    val windows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the two survivor-relation rank windows")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "corpus-wide (unpartitioned) window in q_text_ndcg")
      // the window must rank TopKPerKey survivors (≤ 20×10 rows), never
      // the corpus-sized tf relation. Exchange reuse may replace one
      // window's input with a ReusedExchange whose ORIGINAL subtree
      // holds the TopKPerKey — accept that as the same evidence.
      val fedByTopK = w.child.collect {
        case p if p.getClass.getSimpleName.contains("TopKPerKey") => p
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r
      }.nonEmpty
      assert(fedByTopK, s"rank window not fed by TopKPerKey:\n$w")
    }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("bitext mining: bucketed equi-join candidates + TopKPerKey, no cartesian") {
    val plan = graft.queries.SimilarityQueries.queries("q_sim_bitext")(spark, sf001)
      .queryExecution.executedPlan.toString()
    // candidates must come from the bucket equi-join — a nested-loop
    // here is the all-pairs N² shape this operator exists to avoid
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"all-pairs candidate generation in q_sim_bitext:\n${plan.take(2000)}")
    assert(plan.contains("TopKPerKey"), s"TopKPerKey missing:\n${plan.take(2000)}")
  }

  test("cluster-balanced selection prunes through TopKPerKey before ranking") {
    val plan = graft.queries.SimilarityQueries.queries("q_mix_cluster")(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("TopKPerKey"), s"TopKPerKey missing:\n${plan.take(2000)}")
  }

  test("bloom-prefiltered semi-join probes via the native expression, no ScalaUDF in the plan") {
    val plan = graft.queries.JoinQueries.queries("q_join_bloom")(spark, sf001)
      .queryExecution.executedPlan.toString()
    // the probe must be the codegen'd expression — a boxed Scala UDF
    // would print as UDF(...) and break whole-stage codegen on the scan
    assert(!plan.contains("UDF"), s"ScalaUDF in q_join_bloom plan:\n${plan.take(2000)}")
    assert(plan.contains("graft_bloom_might_contain"),
      s"native bloom probe missing from q_join_bloom plan:\n${plan.take(2000)}")
  }

  test("BPE encode: vocabulary-sized broadcast back-join, no sort-merge on the token stream") {
    val df = graft.ops.CorpusOps.bpeEncode(
      scan(spark, sf001, "documents"), "doc_id", "text",
      Seq(("t", "h"), ("th", "e")))
    val plan = df.queryExecution.executedPlan.toString()
    // the id arrays reach token INSTANCES via a broadcast of the encoded
    // DISTINCT-word vocabulary — the corpus-sized side must never
    // exchange on the word string
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("exact-substring removal: census + anti-join, no nested-loop or cartesian anywhere") {
    val df = graft.ops.CorpusOps.removeDupSpans(
      scan(spark, sf001, "documents"), "doc_id", "text", n = 5)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("row-level security policy filter is pushed to the parquet scan") {
    import graft.ops.RowPolicy, graft.ops.RowPolicy.Policy
    val view = RowPolicy.enforce(scan(spark, sf001, "customer"),
      Policy("analyst_eu", "c_nationkey < 10", Seq("c_name")), "rls1")
    val plan = view.queryExecution.executedPlan.toString()
    // enforced-at-the-source: the role predicate must reach the reader,
    // not run as a post-scan filter only
    assert(plan.contains("PushedFilters: [IsNotNull(c_nationkey), LessThan(c_nationkey,10)]")
      || plan.contains("LessThan(c_nationkey,10)"), plan.take(2000))
  }

  test("interval-overlap join plans a bin equi-join, never a nested-loop") {
    // the naive spelling (conjunction of inequalities) would plan a
    // BroadcastNestedLoopJoin; the binned rewrite must keep a hash join
    val df = graft.queries.JoinQueries.queries("q_join_interval")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("HashJoin"), plan.take(2000))
  }

  test("span corruption: equi-joins only — no nested-loop or cartesian anywhere") {
    val df = graft.ops.CorpusOps.spanCorrupt(
      scan(spark, sf001, "documents"), "doc_id", "text")
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("latest-wins upsert partial-aggregates before the shuffle") {
    val base = scan(spark, sf001, "orders").filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val delta = scan(spark, sf001, "orders").filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
    val df = graft.ops.Merge.upsert(base, delta, Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"))
    df.collect()
    // struct-max aggregates: two phases (partial below the exchange,
    // final above) — the row_number-window formulation would show a
    // Window + full-row shuffle instead. String check: AQE query stages
    // hide their subtrees from TreeNode.collect, but print fully.
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("partial_max"), plan.take(2000))
    assert(!plan.contains("Window"), "upsert must not use a window")
  }

  test("MaxSim broadcasts the query-side vectors — the corpus is never exchanged") {
    // assert on the REGISTERED query so a restructure of q_sim_maxsim
    // cannot silently regress the plan this test pins
    val df = graft.SparkEntry.queries("q_sim_maxsim")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(2000))
    // the per-(doc, term) max partial-aggregates map-side before the shuffle
    assert(plan.contains("partial_max"), plan.take(2000))
  }

  test("global merge-candidate top-k plans as TakeOrderedAndProject") {
    val df = graft.SparkEntry.queries("q_bpe_pairs")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("TakeOrderedAndProject"),
      "top-30 pairs must not global-sort: " + plan.take(2000))
  }

  test("ER candidates: blocked equi-join on (nation, blk), never nested-loop") {
    import graft.ops.EntityResolution
    val recs = EntityResolution.dirtyRecords(scan(spark, sf001, "customer"))
    val df = EntityResolution.candidates(recs, suffix = 2)
    df.count()
    val plan = df.queryExecution.executedPlan.toString()
    // the levenshtein/abs agreement predicates must stay POST-join
    // projections over the (nation, blk) equi-join — a planner that saw
    // them as join conditions would fall back to nested-loop
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("nation") && plan.contains("blk"), plan.take(2000))
  }

  test("two-phase selection: boundary relation broadcast, no range-partitioned global sort") {
    val plan = graft.queries.AggQueries.queries("q_agg_pct_exact")(spark, sf001)
      .queryExecution.executedPlan.toString()
    // phase 2 must reach rows through a broadcast of the tiny
    // group×target boundary table; an Exchange rangepartitioning here
    // would mean the fact table is being globally sorted — the exact
    // thing kthSmallest exists to avoid
    assert(plan.contains("BroadcastHashJoin"), s"boundary not broadcast:\n${plan.take(2000)}")
    // the ONLY range exchange allowed is the 3-row output orderBy on
    // l_returnflag — never one over the fact value __v
    val ranges = "Exchange rangepartitioning\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(ranges.forall(_.contains("l_returnflag")),
      s"global sort over the fact relation:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("point-in-time feature join: hash equi-join on (user, day), never nested-loop") {
    val plan = graft.queries.FunnelQueries.queries("q_feature_pit")(spark, sf001)
      .queryExecution.executedPlan.toString()
    // the 7-day reach must be the bounded day-explode + equi-join —
    // a nested-loop range join here is the shape that dies at 100 TB
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range-join fallback in q_feature_pit:\n${plan.take(2000)}")
  }

  test("q_text_map: same TopKPerKey pruning discipline as nDCG, survivor windows only") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.queries.SearchQueries.queries("q_text_map")(spark, sf001)
      val plan = df.queryExecution.executedPlan.toString()
      assert(plan.contains("TopKPerKey"), s"TopKPerKey missing:\n${plan.take(2000)}")
      df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.foreach { w =>
        assert(w.partitionSpec.nonEmpty, "corpus-wide window in q_text_map")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_mix_curriculum: no corpus-wide window — ranks come from the two-level prefix") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.queries.DedupQueries.queries("q_mix_curriculum")(spark, sf001)
      val windows = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, "expected the score-partitioned row_number window")
      // the ONLY unpartitioned window allowed is the cumulative count
      // over the distinct-score CENSUS (a bounded relation); the
      // doc-level row_number must be partitioned by score
      val docLevel = windows.filter(_.windowExpression.exists(
        _.toString.contains("row_number")))
      assert(docLevel.nonEmpty && docLevel.forall(_.partitionSpec.nonEmpty),
        "doc-level rank window is corpus-wide")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("bloom membership probes equi-join the 128-word sketch, never nested-loop") {
    val plan = graft.queries.SqlFunctionQueries.queries("q_agg_bloom")(spark, sf001)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in q_agg_bloom:\n${plan.take(2000)}")
    // probe-side joins on the word id — a hash join, not a loop over
    // the member set
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"), s"no equi-join:\n${plan.take(2000)}")
  }

  test("preference estimators reduce the game log with one combinable aggregation") {
    // the BT/winrate family must partial-aggregate (map-side combine)
    // before any exchange: at 100 TB only 10-row partials shuffle
    val df = graft.queries.PrefQueries.queries("q_pref_winrate")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n${plan.take(1500)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop in q_pref_winrate:\n${plan.take(1500)}")
  }
}
