package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(cpus)
    // warm the JVM/codegen/FS paths so the first timed query isn't
    // charged ~4s of session startup, and touch every table's footer so
    // per-query numbers measure the plan, not first-read of the file.
    // BOX-HEALTH PROBE (r14 verdict #4): this fixed action's wall time
    // is emitted as warmup_sec in the total record — three rounds of
    // official BENCH numbers (r11, r13c, BENCH_r14) were degraded-box
    // runs that could only be adjudicated by narrative; a fixed probe
    // in every artifact makes the flag mechanical (healthy boxes here
    // measure ~3.5–4.5 s; a probe ≫ that says discount the run).
    val warmupSec = probeSec(spark)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => }
    }
    // fixed headline subset: reported in the summary line below, and doubles
    // as the untimed warmup slice — it spans every operator family's hot path
    val headline = Seq(
      "q_agg_q1", "q_tpch_q3", "q_tpch_q6", "q_tpch_q9", "q_tpch_q18", "q_tpch_q21",
      "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_clusters",
      "q_dedup_ngram", "q_corpus_clean", "q_decontaminate",
      "q_sim_topk", "q_sim_ivf", "q_sim_ivf_adc", "q_sim_knn",
      "q_embed_quantize", "q_embed_pq",
      "q_stream_tumbling", "q_stream_upsert", "q_stream_neardup",
      "q_graph_pagerank", "q_graph_triangles",
      "q_text_gopher", "q_text_bm25", "q_topk_per_key", "q_join_star", "q_agg_rollup")
    // Untimed warmup slice (r7 finding: run_totals [279, 152] — the first
    // timed pass paid ~1.8x in C2-compile/GC ramp-up, so single-round
    // run-total comparisons depended on run 2 being clean). One pass over
    // the headline queries (~30 s) walks every hot code path — parquet scan,
    // hash agg, sort-merge + broadcast join, window, the dedup/sim/graph
    // operators — before any timed number is taken. BENCH_WARMUP=0 skips.
    // storage is cleared at every family boundary (see clearStorage);
    // BENCH_FAMILY_CLEAR governs BOTH the warmup and the timed runs.
    val familyClear = sys.env.getOrElse("BENCH_FAMILY_CLEAR", "1") != "0"
    // Under back-to-back attempts (below) each query's first attempt
    // absorbs its own codegen/cache ramp, so the untimed warmup only
    // needs to cover the SHARED paths (parquet scan, hash agg, the join
    // families, a window, a stream start) once — a diverse ~third of
    // the headline slice, not all of it. Measured r12: full-slice
    // warmup ~50 s of wall for no change in per-query minimums.
    val warmSlice = Seq(
      "q_agg_q1", "q_tpch_q9", "q_dedup_minhash", "q_corpus_clean",
      "q_sim_topk", "q_stream_tumbling", "q_graph_pagerank",
      "q_text_bm25", "q_topk_per_key", "q_join_star")
    if (sys.env.getOrElse("BENCH_WARMUP", "1") != "0") {
      val reg = SparkEntry.queries
      // same family-boundary cache discipline as the timed runs below:
      // without it the warmup accumulates EVERY family's persisted
      // intermediates at once — the exact storage-footprint condition
      // the family-clear policy exists to prevent
      var lastWarmFamily = ""
      warmSlice.foreach { n =>
        if (familyClear && lastWarmFamily.nonEmpty && family(n) != lastWarmFamily)
          clearStorage(spark)
        lastWarmFamily = family(n)
        reg.get(n).foreach { fn => try fn(spark, sfDir).count() catch { case _: Throwable => } }
      }
      clearStorage(spark)
    }
    // SUSTAINED-THROUGHPUT PROBE (r15 verdict #4): warmup_sec only rules
    // out the cold-start class — the r15 box probed ~3.5–4.4 s (nominal)
    // while running ~1.2× slower SUSTAINED than the r14c box, and the
    // adjudication fell back to run_totals narrative. probe2 times a
    // fixed 3-query slice (one query per heavy shape: join-tree, shuffle
    // dedup, text scoring — all members of the untimed warm slice, so
    // under default settings the number measures execution, not codegen
    // ramp; with BENCH_WARMUP=0 it additionally carries compile ramp and
    // is only comparable to other no-warmup runs). Storage is cleared
    // before each probe query and after the slice, so the timed runs
    // below start from the same family-boundary state as before.
    val probe2Sec = {
      val reg = SparkEntry.queries
      val slice = Seq("q_tpch_q9", "q_dedup_minhash", "q_text_bm25")
      val t0 = System.nanoTime()
      slice.foreach { n =>
        clearStorage(spark)
        reg.get(n).foreach { fn => try fn(spark, sfDir).count() catch { case _: Throwable => } }
      }
      val sec = math.round((System.nanoTime() - t0) / 1e6) / 1000.0
      clearStorage(spark)
      sec
    }
    // cache policy: identical persisted subplans (e.g. the hashed shingle
    // table) are intentionally shared across queries of the same FAMILY
    // via the cache manager (round-1 methodology), but a family's caches
    // are dropped once the run moves past it — otherwise ~150 later
    // queries run under the accumulated storage footprint of every
    // earlier family (GC pressure was the prime suspect in the r4
    // driver-side slowdown). Family = first two name segments (q_dedup,
    // q_tpch, ...), which is exactly the sharing scope observed.
    // per run: (name, elapsed, succeeded) — a failed attempt's elapsed
    // must never become the query's benchmark number via the min below
    // BENCH_FILTER (regex): family-scoped mid-session runs — the bench
    // wall-clock budget protocol (SCALE.md §"Bench wall-clock budget").
    // The driver sets no filter, so its per-round sweep stays full.
    val nameFilter = sys.env.get("BENCH_FILTER").map(_.r)
    // per-query MINIMUM over nRuns BACK-TO-BACK attempts (round-12
    // protocol, previously two full passes): single-run times carry
    // 3-4× GC/JIT/stage-scheduling noise on the biggest queries
    // (SCALE.md; the r5 driver run showed 9× one-off inflations that
    // never reproduced), so a number is only believed when it happens
    // twice and the lower observation is the one closer to the plan's
    // true cost. Back-to-back attempts keep that rule while building
    // each family's shared caches ONCE per session instead of once per
    // pass — the attempt-2 conditions match the old pass-2 conditions
    // (warm codegen, family caches live) except that the FIRST query of
    // a family no longer pays the cache rebuild in its min, which only
    // moves numbers DOWN (bench_diff flags regressions, not wins).
    // TRAINER queries run first so the model memos (UlmTokenizer
    // .trainedModel, CorpusQueries.deepTrain) are populated by the
    // query whose number is SUPPOSED to carry the training cost —
    // alphabetical order used to make q_stream_ulm / q_bpe_encode the
    // cold payer in pass 1.
    val trainers = Set("q_bpe_train_deep", "q_ulm_train")
    val nRuns = math.max(1, sys.env.getOrElse("BENCH_RUNS", "2").toInt)
    val measured: Seq[(String, Seq[(Double, Boolean)])] = {
      var lastFamily = ""
      SparkEntry.queries.toSeq
        .sortBy { case (n, _) => (if (trainers(n)) 0 else 1, n) }
        .filter { case (n, _) => nameFilter.forall(_.findFirstIn(n).isDefined) }
        .map { case (name, fn) =>
          if (familyClear && lastFamily.nonEmpty && family(name) != lastFamily)
            clearStorage(spark)
          lastFamily = family(name)
          val attempts = (1 to nRuns).map { _ =>
            val t0 = System.nanoTime()
            // a broken query must fail LOUDLY, not benchmark as "fast"
            val ok = try { fn(spark, sfDir).count(); true } catch {
              case e: Throwable =>
                System.err.println(s"BENCH ERROR $name: ${e.getClass.getName}: ${e.getMessage}")
                false
            }
            ((System.nanoTime() - t0) / 1e9, ok)
          }
          (name, attempts)
        }
    }
    // errors = NO valid measurement exists (failed in every attempt); a
    // transient one-attempt failure with a good min is `flaky`, reported
    // separately so bench_last.json consumers can tell the two apart
    val errors = measured.collect { case (n, at) if at.forall(!_._2) => n }.toSet
    val flaky = measured.collect {
      case (n, at) if !errors.contains(n) && at.exists(!_._2) => n
    }.toSet
    // min over SUCCESSFUL attempts only — a transient failure's fast
    // fail time would otherwise be archived as a phantom improvement
    // (and the next honest round flagged as its regression). A query that
    // failed in every attempt has NO valid measurement: it appears ONLY
    // in `errors`, never in the queries map or totals — its time-to-crash
    // is not a number any consumer should ever sum or diff.
    val results = measured.collect { case (name, at) if !errors.contains(name) =>
      name -> at.collect { case (t, true) => t }.min
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // attempt-index sums: [Σ first attempts, Σ second attempts] — same
    // shape as the old per-pass totals (run_totals[last] is the warm one)
    val runTotals = (0 until nRuns).map { i =>
      math.round(measured.map(_._2(i)._1).sum * 1000) / 1000.0
    }
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // protocol field (ADVICE r12): "b2b-v2" = back-to-back attempts with
    // family caches shared across attempts — per-query minimums are NOT
    // comparable with pre-r12 two-pass archives on family-first queries
    // (their min no longer pays the cache rebuild). bench_diff and human
    // readers can gate cross-round comparisons on this matching.
    val protocol = "b2b-v2"
    val totalLine =
      s"""{"metric":"total","value":$total,"unit":"sec","protocol":"$protocol","warmup_sec":$warmupSec,"probe2_sec":$probe2Sec,"n_queries":${results.size},"n_errors":${errors.size},"n_flaky":${flaky.size},"n_runs":$nRuns,"run_totals":[${runTotals.mkString(",")}],"sf":"$sfDir"}"""
    val detailLine =
      s"""{"metric":"detail","queries":$qs,"errors":[${errors.map("\"" + _ + "\"").mkString(",")}],"flaky":[${flaky.map("\"" + _ + "\"").mkString(",")}],"sf":"$sfDir"}"""
    // The driver's capture window keeps only the LAST ~2000 chars of
    // stdout: r3 printed detail last (total truncated away), r4 printed
    // total first (also outside the window) — both rounds parsed null.
    // So the FINAL line must itself be a complete parseable JSON object
    // small enough to fit in the window: total + a fixed headline subset
    // of per-query times (full 197-query detail is ~8 KB and cannot fit).
    val rmap = results.toMap
    val headQs = headline.flatMap(k => rmap.get(k).map(v => s"\"$k\":${math.round(v * 1000) / 1000.0}"))
      .mkString("{", ",", "}")
    // warmup_sec rides the summary line too: the driver's capture window
    // keeps only the LAST stdout line, and the probe must be readable
    // from BENCH_r{N}.json itself for the degraded-box adjudication
    val summaryLine =
      s"""{"metric":"total","value":${math.round(total * 1000) / 1000.0},"unit":"sec","warmup_sec":$warmupSec,"probe2_sec":$probe2Sec,"n_queries":${results.size},"n_errors":${errors.size},"n_runs":$nRuns,"queries":$headQs,"sf":"$sfDir"}"""
    GraftSession.emitJsonLines("tools/bench_last.json", Seq(totalLine, detailLine))
    println(summaryLine) // LAST stdout line — survives any tail-capture window >= ~1.2 KB
    graft.sources.rest.StubServer.stop() // don't let the REST stub pin the JVM
    spark.stop()
    System.exit(0) // insurance: never let a leaked non-daemon thread stall the driver's round
  }

  /** Box-health probe shared with ScaleCurve: the wall seconds of one
    * fixed action (see warmup_sec above). */
  def probeSec(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    math.round((System.nanoTime() - t0) / 1e6) / 1000.0
  }

  /** The cache-sharing unit of a query: its first two name segments.
    * Must stay in sync with tools/bench_diff.py's family(). */
  def family(n: String): String = n.split("_").take(2).mkString("_")

  /** FULL storage clear at a family boundary, in Bench and ScaleCurve
    * (r14): catalog caches PLUS leftover persistent RDDs —
    * localCheckpoint blocks from the iterated graph/dedup/ER ops are
    * registered RDD persists the cache manager never sees, and they
    * accumulate across the whole run until the lazy ContextCleaner gets
    * to them. As the registry grew (r12→r13: +40 entries) the pressure
    * by the time the later families ran grew with it — the r13
    * graph-family drift (q_graph_kcore 3.80→6.37 s with NO code change)
    * and three rounds of ScaleCurve ER-family flags (r11–r13) are
    * exactly this shape. Nothing outside a family legitimately holds an
    * RDD persist across the boundary: cross-query model memos are
    * driver-side collected Seqs, and CacheScope datasets live in the
    * catalog cache.
    */
  def clearStorage(spark: SparkSession): Unit = {
    // memo invalidation FIRST: a memo holding a localCheckpoint'd
    // DataFrame across the clear would fail its next use (blocks gone,
    // lineage truncated) — see CacheScope.StorageMemos
    graft.ops.StorageMemos.invalidateAll()
    spark.catalog.clearCache()
    // blocking: the release must not overlap the next family's first
    // timed attempt (a non-blocking unpersist would)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
