package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.ExactAgg.sqlDsum
import graft.ops.Multimodal
import graft.streaming.StreamOps

/** Streaming queries (run to completion over the bounded events table)
  * with batch-equivalent DuckDB oracles, plus batch sessionization.
  */
object StreamQueries {

  /** The STATIC corpus-side MinHash index shared by both streaming
    * ingest gates (q_stream_neardup probes it; q_stream_corpus runs the
    * full quality→near-dup→append pipeline against it): hashed shingle
    * table, band index, and per-doc shingle sizes over the retained
    * corpus (doc_id % 5 =!= 0). Persisted WITHOUT an explicit release —
    * the identical logical plans make the second gate a pure
    * cache-manager hit (the partsupp/coSupply pattern), and residency is
    * bounded by the benchmark's family-boundary clearCache / the LRU
    * store in a long-lived session. Per-BATCH working sets inside the
    * gates keep their try/finally release — those are the loop-scoped
    * persists that would otherwise accumulate per micro-batch.
    */
  private def staticNearDupIndex(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.ops.Dedup
    val idx = graft.engine.QueryBuilder.scan(s, d, "documents")
      .filter(col("doc_id") % 5 =!= 0)
    val idxSh = Dedup.hashedShingleTable(idx, "doc_id", "text").persist()
    val idxBands = Dedup.minhashBands(idxSh).persist()
    // index doc sizes computed ONCE — without this every micro-batch
    // re-aggregates the whole corpus shingle table for a few lookups
    val idxSizes = Dedup.shingleSizes(idxSh).persist()
    (idxSh, idxBands, idxSizes)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tumbling 1-day windows, complete mode → all finalized windows
    "q_stream_tumbling" -> ((s: SparkSession, d: String) => {
      val agg = StreamOps.tumblingAgg(StreamOps.eventsStream(s, d), "1 day", "1 hour")
      StreamOps.runToMemory(s, agg, "mem_tumbling", "complete")
        .orderBy(col("window_start"), col("event_type"))
    }),

    // sliding 2-day windows every 1 day
    "q_stream_sliding" -> ((s: SparkSession, d: String) => {
      val agg = StreamOps.slidingAgg(StreamOps.eventsStream(s, d), "2 days", "1 day", "1 hour")
      StreamOps.runToMemory(s, agg, "mem_sliding", "complete")
        .orderBy(col("window_start"), col("event_type"))
    }),

    // streaming exact dedup (state-store): distinct (user_id, event_type)
    "q_stream_dedup" -> ((s: SparkSession, d: String) => {
      val dd = StreamOps.streamDedup(StreamOps.eventsStream(s, d), Seq("user_id", "event_type"))
      StreamOps.runToMemory(s, dd, "mem_dedup", "append")
        .orderBy(col("user_id"), col("event_type"))
    }),

    // watermarked dedup — bounded state: the 45-day horizon covers the
    // whole 30-day event span, so the result equals global DISTINCT
    "q_stream_dedup_wm" -> ((s: SparkSession, d: String) => {
      val dd = StreamOps.streamDedupWithinWatermark(
        StreamOps.eventsStream(s, d), Seq("user_id", "event_type"), "45 days")
      StreamOps.runToMemory(s, dd, "mem_dedup_wm", "append")
        .orderBy(col("user_id"), col("event_type"))
    }),

    // stream-static join: the enrichment shape — a stream joined to a
    // broadcast dimension (no state store, no watermark needed for the
    // join itself), then windowed aggregation. At 100 TB the dim is the
    // broadcast side and the stream never shuffles for the join
    "q_stream_static_join" -> ((s: SparkSession, d: String) => {
      val ev = StreamOps.eventsStream(s, d).withWatermark("ts", "1 hour")
      val dim = broadcast(graft.engine.QueryBuilder.scan(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
      val agg = ev.join(dim, ev("user_id") === dim("c_custkey"))
        .groupBy(window(col("ts"), "1 day").as("w"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), graft.ops.ExactAgg.dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("day"), col("c_mktsegment"), col("n"), col("sum_value"))
      StreamOps.runToMemory(s, agg, "mem_ssjoin", "complete")
        .orderBy(col("day"), col("c_mktsegment"))
    }),

    // stream-stream interval join: click → purchase attribution within
    // 1 hour for the same user. Both sides carry watermarks and the join
    // condition bounds event time, so the state store holds only ~1 h +
    // watermark of each stream per key — the unbounded-stream-safe shape
    // (an unbounded-time stream-stream join would grow state forever)
    "q_stream_stream_join" -> ((s: SparkSession, d: String) => {
      val base = StreamOps.eventsStream(s, d)
      val clicks = base.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "2 hours")
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "2 hours")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          col("click_ts"), col("purchase_ts"))
      StreamOps.runToMemory(s, joined, "mem_ssj", "append")
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // streaming E→L through the sink surface: readStream → foreachBatch →
    // Sinks.write (the K-sink batcher under a stream), then verify the
    // landed data aggregates exactly like the batch table. This is the
    // reference's declared-but-dead "sync" action made real: each
    // micro-batch lands through the same sink path batch pipelines use
    "q_stream_sink" -> ((s: SparkSession, d: String) => {
      val out = StreamOps.landing(s, d, "q_stream_sink")
      StreamOps.withStreamParallelism(s) {
        val q = StreamOps.eventsStream(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
          .writeStream
          .foreachBatch((batch: DataFrame, _: Long) => out.append(batch))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      out.read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), graft.ops.ExactAgg.dsum(col("value")).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // STREAMING INCREMENTAL SYNC — the reference's whole reason to exist,
    // end to end: the orders table staged as 3 files arrives as 3
    // micro-batches (maxFilesPerTrigger=1); each batch UPSERTS into a
    // hash-bucketed parquet target (BucketedTarget) that reads, merges
    // and rewrites ONLY the buckets the delta touches — per-batch cost
    // ∝ |delta| × bucketSize, not ∝ |target|, with the same crash-safe
    // never-delete-before-replace swap per bucket. Because latest-wins
    // upsert is associative AND commutative, the final state is
    // independent of batch order — the property that makes
    // restart/replay safe on a real sync. Final target ≡ latest order
    // per customer (same oracle as q_merge_upsert).
    "q_stream_upsert" -> ((s: SparkSession, d: String) => {
      val orders = graft.engine.QueryBuilder.scan(s, d, "orders")
      val bt = new graft.ops.BucketedTarget(s, StreamOps.landing(s, d, "q_stream_upsert").path,
        numBuckets = 8, keys = Seq("o_custkey"), versionCols = Seq("o_orderdate", "o_orderkey"))
      StreamOps.foreachSlice(orders.repartition(3, col("o_orderkey")))(bt.upsert)
      bt.read().orderBy(col("o_custkey"))
    }),

    // STREAMING sessionization: the same native session_window running
    // under readStream — gap-merged session state maintained by the
    // stateful operator across micro-batches. Complete mode (keeps all
    // session state) fits this bounded-replay harness exactly like
    // q_stream_tumbling; an unbounded deploy switches to append +
    // watermark so closed sessions evict — same query otherwise
    "q_stream_session" -> ((s: SparkSession, d: String) => {
      val agg = StreamOps.eventsStream(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "6 hours").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
      StreamOps.runToMemory(s, agg, "mem_stream_session", "complete")
        .orderBy(col("user_id"), col("session_start"))
    }),

    // STREAMING NEAR-DUP DETECTION — the ingest-time gate of a training
    // corpus: new documents arrive as micro-batches and probe a STATIC
    // MinHash-LSH index of the retained corpus (bands + hashed shingles,
    // built once, persisted). Per batch: band the batch docs, equi-join
    // band signatures against the index (never all-pairs), verify
    // candidates with exact Jaccard, append confirmed dup pairs. At
    // 100 TB the index side is a bucketed table and each micro-batch's
    // cost is ∝ batch × collision rate — the same shape as the batch
    // dedup, incrementalized. Oracle: the full-corpus minhash pipeline
    // restricted to (new, indexed) pairs — per-doc signatures don't
    // depend on the split, so the two computations must agree exactly.
    "q_stream_neardup" -> ((s: SparkSession, d: String) => {
      import graft.ops.Dedup
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_neardup")
      val (idxSh, idxBands, idxSizes) = staticNearDupIndex(s, d)
      StreamOps.foreachSlice(docs.filter(col("doc_id") % 5 === 0)
          .repartition(2, col("doc_id"))) { batch =>
        val bSh = Dedup.hashedShingleTable(batch, "doc_id", "text").persist()
        try {
          val cand = Dedup.minhashBands(bSh)
            .select(col("band"), col("band_sig"), col("doc_id").as("new_doc"))
            .join(idxBands.select(col("band"), col("band_sig"), col("doc_id").as("idx_doc")),
              Seq("band", "band_sig"))
            .select(least(col("new_doc"), col("idx_doc")).as("doc_a"),
              greatest(col("new_doc"), col("idx_doc")).as("doc_b"))
            .distinct()
          val verified = Dedup.pairJaccard(cand, idxSh.unionByName(bSh),
              precomputedSizes = Some(idxSizes.unionByName(Dedup.shingleSizes(bSh))))
            .filter(col("jaccard") >= 0.5)
            .select(col("doc_a"), col("doc_b"), col("jaccard"))
          out.append(verified)
        } finally bSh.unpersist()
      }
      out.read().orderBy(col("doc_a"), col("doc_b"))
    }),

    // STREAMING CORPUS INGEST, end to end — the flagship incremental
    // training-data pipeline: new documents arrive as micro-batches;
    // each batch is (1) quality-gated (word count + stopword signal),
    // (2) near-dup-probed against the STATIC MinHash-LSH index of the
    // retained corpus (band equi-join + exact-Jaccard verify — the
    // q_stream_neardup gate), and (3) only the clean survivors are
    // appended to the landing table. Every per-doc decision depends
    // only on the doc and the static index, so batch slicing cannot
    // change the result — the oracle recomputes the survivor set in one
    // batch query over the full corpus. At 100 TB: per-batch cost ∝
    // batch × collision rate; the index is a bucketed static table
    "q_stream_corpus" -> ((s: SparkSession, d: String) => {
      import graft.ops.{Dedup, TextAnalysis}
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_corpus")
      val (idxSh, idxBands, idxSizes) = staticNearDupIndex(s, d)
      StreamOps.foreachSlice(docs.filter(col("doc_id") % 5 === 0)
          .repartition(2, col("doc_id"))) { batch =>
        val qual = batch
          .withColumn("n_words", TextAnalysis.tokenCountWs(col("text")))
          .withColumn("stop_ratio",
            TextAnalysis.stopwordRatio(col("text"), TextAnalysis.defaultStopwords))
          .filter(col("n_words") >= 20 && col("stop_ratio") > 0.0)
          .persist()
        try {
          val bSh = Dedup.hashedShingleTable(qual, "doc_id", "text").persist()
          try {
            val cand = Dedup.minhashBands(bSh)
              .select(col("band"), col("band_sig"), col("doc_id").as("doc_a"))
              .join(idxBands.select(col("band"), col("band_sig"), col("doc_id").as("doc_b")),
                Seq("band", "band_sig"))
              .select(col("doc_a"), col("doc_b")).distinct()
            val dupNew = Dedup.pairJaccard(cand, idxSh.unionByName(bSh),
                precomputedSizes = Some(idxSizes.unionByName(Dedup.shingleSizes(bSh))))
              .filter(col("jaccard") >= 0.5)
              .select(col("doc_a").as("doc_id")).distinct()
            val survivors = qual.join(dupNew, Seq("doc_id"), "left_anti")
              .select(col("doc_id"), col("lang"), col("source"),
                col("n_words").cast("long").as("n_words"))
            out.append(survivors)
          } finally bSh.unpersist()
        } finally qual.unpersist()
      }
      out.read().orderBy(col("doc_id"))
    }),

    // STREAMING drift monitor — the incremental form of q_dq_drift:
    // each arriving micro-batch contributes ONLY its nBins-row
    // histogram (the additive unit — histograms of disjoint slices sum
    // to their union's), appended to a landing table; the census
    // re-sums persisted histograms against the static baseline and
    // NEVER rescans either data side. Bin edges are constants, so the
    // merged result is bit-identical to the one-shot census — the
    // oracle is exactly q_dq_drift's query. At 100 TB: per-batch cost ∝
    // batch, census cost ∝ nBins × batches
    "q_stream_drift" -> ((s: SparkSession, d: String) => {
      import graft.ops.Drift
      val o = graft.engine.QueryBuilder.scan(s, d, "orders")
      val cut = lit("1995-01-01").cast("date")
      val out = StreamOps.landing(s, d, "q_stream_drift")
      val baseHist = Drift.histogram(o.filter(col("o_orderdate") < cut),
        col("o_totalprice"), lo = 0.0, hi = 600000.0, nBins = 16)
      StreamOps.foreachSlice(o.filter(col("o_orderdate") >= cut)
          .select("o_orderkey", "o_totalprice").repartition(2, col("o_orderkey"))) { batch =>
        out.append(Drift.histogram(batch, col("o_totalprice"),
          lo = 0.0, hi = 600000.0, nBins = 16))
      }
      val curHist = out.read().groupBy(col("bin")).agg(sum(col("n")).as("n"))
      Drift.censusOfHists(baseHist, curHist).orderBy(col("bin"))
    }),

    // STREAMING manifest maintenance — the q_dq_checksum audit kept
    // current while data lands: each micro-batch emits its PARTIAL
    // manifest (count/xor/bytes per source — xor partials merge by xor,
    // counts add, so the merge is exact and order-free), the final
    // read-side merge equals the batch manifest over everything
    // ingested. At 100 TB this is how a copy audit actually runs: no
    // re-scan of landed data, per-batch cost ∝ batch
    "q_stream_checksum" -> ((s: SparkSession, d: String) => {
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_checksum")
      StreamOps.foreachSlice(docs.repartition(2, col("doc_id"))) { batch =>
        val part = batch.select(col("source"), col("n_chars"),
            graft.ops.Dedup.hex60(md5(concat(col("doc_id").cast("string"),
              lit(":"), col("text")).cast("binary"))).as("h"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"),
            sum(col("n_chars")).as("b"))
        out.append(part)
      }
      out.read().groupBy(col("source"))
        .agg(sum(col("n")).cast("long").as("n_rows"),
          expr("bit_xor(x)").as("xor60"),
          sum(col("b")).cast("long").as("n_bytes"))
        .orderBy(col("source"))
    }),

    // STREAMING-MAINTAINED CUSUM: each micro-batch appends its per-day
    // partial counts (day counts are additive, so partials merge
    // exactly); the change-point statistic is computed on the merged
    // day-grain series with the SAME telescoped windows as q_ts_cusum —
    // the monitoring deploy: ingest maintains the cheap additive state,
    // the detector reruns on the (constant-size) series each tick.
    // Oracle = the batch detector's oracle, so incremental ≡ batch is
    // gate-checked, the q_stream_checksum pattern
    "q_stream_cusum" -> ((s: SparkSession, d: String) => {
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val out = StreamOps.landing(s, d, "q_stream_cusum")
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        val part = batch.groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        out.append(part)
      }
      import org.apache.spark.sql.expressions.Window
      val daily = out.read()
        .groupBy(col("day")).agg(sum(col("n")).cast("long").as("cnt"))
      val ref = daily.agg(expr("sum(cnt) div count(1)").as("k"))
        .withColumn("slack", greatest(expr("k div 20"), lit(1L)))
      val run = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(ref))
        .withColumn("drift", col("cnt") - col("k") - col("slack"))
        .withColumn("p", sum(col("drift")).over(run))
        .withColumn("s_plus", col("p") - least(lit(0L), min(col("p")).over(run)))
        .withColumn("is_alarm", col("s_plus") > col("slack") * 8L)
        .select(col("day"), col("cnt"), col("s_plus"), col("is_alarm"))
        .orderBy(col("day"))
    }),

    // CUSTOM-STATE streaming sessionization: flatMapGroupsWithState with
    // event-time timeout — sessions emit ONLY once the watermark proves
    // they can never grow (append semantics, state ∝ open sessions).
    // The bounded replay's final no-data micro-batch advances the
    // watermark to max(ts) and flushes everything closed by then, so the
    // oracle is batch gaps-and-islands restricted to sessions with
    // session_end + gap <= max(ts) — still-open tails stay in the store,
    // exactly as a live deployment would leave them
    "q_stream_session_custom" -> ((s: SparkSession, d: String) => {
      val sessions = StreamOps.sessionizeCustomState(
        s, StreamOps.eventsStream(s, d), gapSeconds = 6 * 3600)
      StreamOps.runToMemory(s, sessions, "mem_stream_session_custom", "append")
        .orderBy(col("user_id"), col("session_start"))
    }),

    // STREAMING INTER-EVENT DWELL (custom state): each (event → next
    // event) gap emits exactly once, when the watermark proves the
    // successor final; state per user is the not-yet-paired suffix,
    // bounded by watermark lag (see StreamOps.dwellCustomState). The
    // incremental ≡ batch contract is LITERAL here: this query's
    // oracle IS q_events_dwell's — the two registry entries share one
    // SQL string, so the streaming path is hash-checked against the
    // exact batch census
    "q_stream_dwell" -> ((s: SparkSession, d: String) => {
      val pairs = StreamOps.runToMemory(s,
        StreamOps.dwellCustomState(s, StreamOps.eventsStream(s, d)),
        "mem_stream_dwell", "append")
      pairs.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("gap_us")).as("min_us"), max(col("gap_us")).as("max_us"),
          sum(col("gap_us")).as("sum_us"),
          sum(when(col("gap_us") < 1000000L, 1L).otherwise(0L)).as("lt_1s"),
          sum(when(col("gap_us") >= 1000000L && col("gap_us") < 60000000L, 1L)
            .otherwise(0L)).as("s_1_60"),
          sum(when(col("gap_us") >= 60000000L && col("gap_us") < 3600000000L, 1L)
            .otherwise(0L)).as("m_1_60"),
          sum(when(col("gap_us") >= 3600000000L, 1L).otherwise(0L)).as("ge_1h"))
        .orderBy(col("event_type"))
    }),

    // STREAMING HOLT–WINTERS (incremental MODEL maintenance): the
    // (level, trend, seasonal-ring) state advances one day at a time
    // as the watermark closes days — a partial day never enters the
    // model (see StreamOps.hwCustomState). The final model per type
    // (max n_days — strictly increasing, so the struct-max is the last
    // emission) is bit-identical to the batch Holt–Winters over CLOSED
    // days: the oracle is hwOracleSql with the closed-day predicate —
    // one shared replay with q_ts_hw
    "q_stream_hw" -> ((s: SparkSession, d: String) => {
      val rows = StreamOps.runToMemory(s,
        StreamOps.hwCustomState(s, StreamOps.eventsStream(s, d)),
        "mem_stream_hw", "append")
      rows.groupBy(col("event_type"))
        .agg(max(struct(col("n_days"), col("level"), col("trend"),
          col("s_next"), col("forecast_1"))).as("m"))
        .select(col("event_type"), col("m.n_days").cast("int").as("n_days"),
          col("m.level").as("level"), col("m.trend").as("trend"),
          col("m.s_next").as("s_next"), col("m.forecast_1").as("forecast_1"))
        .orderBy(col("event_type"))
    }),

    // STREAMING ROLLING-SLOPE (the 23rd shape; q_win_slope's
    // incremental twin): the 7-closed-day OLS regression ring advanced
    // only as the watermark closes days — every emitted row is a
    // finalized day's exact integer slope, and the oracle IS
    // q_win_slope's SQL restricted to closed days (shared
    // slopeOracleSql predicate — the literal incremental ≡ batch
    // contract)
    "q_stream_slope" -> ((s: SparkSession, d: String) => {
      StreamOps.runToMemory(s,
        StreamOps.slopeCustomState(s, StreamOps.eventsStream(s, d)),
        "mem_stream_slope", "append")
        .orderBy(col("event_type"), col("day"))
    }),

    // STREAMING-MAINTAINED LEADERBOARD (bounded-sketch maintenance):
    // per event_type, the top-3 values with (value desc, event_id asc)
    // tie-break. Each micro-batch appends only its per-key top-3
    // partials; the final merge takes top-3 of the appended partials —
    // exact because top-k is a MERGEABLE summary: topk(A ∪ B) =
    // topk(topk(A) ∪ topk(B)), so batch slicing can never change the
    // answer and state is ∝ keys × k, never ∝ stream. The same
    // additive-partial deploy shape as q_stream_checksum/cusum, with a
    // rank sketch instead of a sum
    "q_stream_topk" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val out = StreamOps.landing(s, d, "q_stream_topk")
      def top3(df: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id").asc)
        df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
          .select(col("event_type"), col("value"), col("event_id"))
      }
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        out.append(top3(batch))
      }
      top3(out.read())
        .withColumn("rank", row_number().over(Window.partitionBy(col("event_type"))
          .orderBy(col("value").desc, col("event_id").asc)).cast("long"))
        .select(col("event_type"), col("rank"), col("value"), col("event_id"))
        .orderBy(col("event_type"), col("rank"))
    }),

    // STREAMING KS DRIFT (the distribution-shift monitor next to
    // q_stream_cusum's mean-shift monitor): purchase-vs-rest over value
    // cents. Each micro-batch appends only its per-value census partial
    // (v → Σw1, Σw2) — a MERGEABLE summary: census(A ∪ B) = census(A) +
    // census(B), so batch slicing can never change the merged
    // distribution and state is ∝ distinct values, never ∝ stream. The
    // final exact KS (the q_agg_ks two-level distributed prefix sum,
    // integer D and α=0.05 verdict) runs over the merged partials and is
    // bit-identical to the batch test — the oracle is the SAME KS SQL
    // over the full events table
    "q_stream_ks" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val out = StreamOps.landing(s, d, "q_stream_ks")
      def census(df: DataFrame): DataFrame =
        df.select(floor(col("value") * 100).cast("long").as("v"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("w1"),
            when(col("event_type") =!= "purchase", 1L).otherwise(0L).as("w2"))
          .groupBy(col("v"))
          .agg(sum(col("w1")).as("c1"), sum(col("w2")).as("c2"))
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        out.append(census(batch))
      }
      val vals = out.read().groupBy(col("v"))
        .agg(sum(col("c1")).as("d1"), sum(col("c2")).as("d2"))
        .withColumn("b", expr("v div 16384"))
      val bt = vals.groupBy(col("b"))
        .agg(sum(col("d1")).as("s1"), sum(col("d2")).as("s2"))
      val wb = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val bpre = bt
        .withColumn("p1", coalesce(sum(col("s1")).over(wb), lit(0L)))
        .withColumn("p2", coalesce(sum(col("s2")).over(wb), lit(0L)))
        .select(col("b"), col("p1"), col("p2"))
      val tot = vals.agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"))
      val wv = Window.partitionBy(col("b")).orderBy(col("v"))
      vals.join(broadcast(bpre), Seq("b"))
        .withColumn("cum1", col("p1") + sum(col("d1")).over(wv))
        .withColumn("cum2", col("p2") + sum(col("d2")).over(wv))
        .crossJoin(broadcast(tot))
        .select(abs(col("cum1") * col("n2") - col("cum2") * col("n1")).as("dev"),
          col("n1"), col("n2"))
        .groupBy(col("n1"), col("n2"))
        .agg(max(col("dev")).as("d_num"))
        .select(col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
          col("d_num").cast("long").as("d_num"),
          expr("""CAST(CAST(d_num AS DECIMAL(38,0)) * 1000000
                 |  div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)""".stripMargin)
            .as("d_ppm"),
          expr("""CAST(d_num AS DECIMAL(38,0)) * CAST(d_num AS DECIMAL(38,0))
                 |  * 1000000
                 |  > CAST(1844164 AS DECIMAL(38,0)) * (n1 + n2) * n1 * n2"""
            .stripMargin).as("reject_95"))
    }),

    // STREAMING KLL QUANTILES (the bounded-state percentile monitor
    // beside q_stream_ks's census-state one): each micro-batch appends
    // ONE serialized KLL sketch — O(k) bytes regardless of batch size,
    // the state bound the census twins don't have — and graft_kll_merge
    // folds the partials afterward (merge is order-tolerant within the
    // sketch's rank bound, so batch slicing can't break the verdict).
    // Estimates are graded by the same deterministic ±1.5 % rank-window
    // boolean as q_agg_kll, against the exact element at rank ⌈q·n⌉
    // from the source table's census (two-level prefix spine); oracle =
    // the census replay over events + literal true
    "q_stream_kll" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val out = StreamOps.landing(s, d, "q_stream_kll")
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        val partial = batch
          .select(floor(col("value") * 100).cast("long").as("v"))
          .agg(call_function("graft_kll_sketch", col("v"), lit(256)).as("sk"))
        out.append(partial)
      }
      val sk = out.read()
        .agg(call_function("graft_kll_merge", col("sk")).as("sk"))
      val vals = ev
        .select(floor(col("value") * 100).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
        .withColumn("b", expr("v div 16384"))
      val bt = vals.groupBy(col("b")).agg(sum(col("c")).as("sc"))
      val wb = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val bpre = bt.withColumn("p", coalesce(sum(col("sc")).over(wb), lit(0L)))
        .select(col("b"), col("p"))
      val wv = Window.partitionBy(col("b")).orderBy(col("v"))
      val cum = vals.join(broadcast(bpre), Seq("b"))
        .withColumn("cum", col("p") + sum(col("c")).over(wv))
        .select(col("v"), col("c"), col("cum"))
      val n = vals.agg(sum(col("c")).as("n"))
      val qs = s.range(1).select(explode(array(lit(250000L), lit(500000L),
        lit(750000L), lit(875000L))).as("q_ppm"))
      val est = sk.crossJoin(broadcast(qs)).select(col("q_ppm"),
        call_function("graft_kll_quantile", col("sk"), col("q_ppm")).as("est"))
      val targets = n.crossJoin(broadcast(qs))
        .withColumn("target", expr("(q_ppm * n + 999999) div 1000000"))
        .select(col("q_ppm"), col("target"))
      val exact = cum.crossJoin(broadcast(targets))
        .where(col("cum") >= col("target"))
        .groupBy(col("q_ppm")).agg(min(col("v")).as("exact_v"))
      val estN = est.crossJoin(broadcast(n))
      val bounds = cum.as("cc").join(broadcast(estN.as("ee")),
          col("cc.v") === col("ee.est"))
        .select(col("q_ppm"),
          ((col("cum") - col("c")) * lit(1000000L) <=
            (col("q_ppm") + lit(15000L)) * col("n") &&
           col("cum") * lit(1000000L) >=
            (col("q_ppm") - lit(15000L)) * col("n")).as("within_bound"))
      exact.join(bounds, Seq("q_ppm")).orderBy(col("q_ppm"))
    }),

    // STREAMING MISRA-GRIES HEAVY HITTERS — the frequent-items monitor
    // beside q_stream_kll's percentile monitor: each micro-batch appends
    // ONE serialized MG summary (O(k) bytes regardless of batch size);
    // graft_mg_merge folds the partials with the Agarwal et al. merge,
    // whose error bound n/(k+1) holds over ANY merge tree — so batch
    // slicing can't break the theorem booleans, and the batch oracle
    // (q_agg_mg's census replay) is shared VERBATIM
    "q_stream_mg" -> ((s: SparkSession, d: String) => {
      val K = 8
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_mg")
      def toks(df: DataFrame) = df
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
      StreamOps.foreachSlice(docs.repartition(3, col("doc_id"))) { batch =>
        val partial = toks(batch)
          .agg(call_function("graft_mg_sketch", col("w"), lit(K)).as("sk"))
        out.append(partial)
      }
      val sk = out.read()
        .agg(call_function("graft_mg_merge", col("sk")).as("sk"))
      val census = toks(docs).groupBy(col("w"))
        .agg(count(lit(1)).as("c"))
      val n = census.agg(sum(col("c")).as("n"))
      val top = census.orderBy(col("c").desc, col("w").asc).limit(10)
      top.crossJoin(broadcast(n)).crossJoin(broadcast(sk))
        .withColumn("est", call_function("graft_mg_estimate", col("sk"), col("w")))
        .select(col("w").as("token"), col("c").as("exact_cnt"),
          (col("c") * lit(K + 1) > col("n")).as("guaranteed_heavy"),
          ((col("c") - col("est")) * lit(K + 1) <= col("n") &&
            col("est") <= col("c")).as("within_err"),
          (!(col("c") * lit(K + 1) > col("n")) || col("est") > 0).as("present_ok"))
        .orderBy(col("token"))
    }),

    // STREAMING GROUPED MG — the per-language vocabulary monitor run
    // online: each micro-batch appends one summary PER LANG (state =
    // |langs| × O(k) bytes per batch), merged per lang afterward; the
    // per-group bound is the same theorem, so q_agg_mg_grouped's census
    // replay is the oracle VERBATIM
    "q_stream_mg_grouped" -> ((s: SparkSession, d: String) => {
      val K = 8
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_mg_grouped")
      def toks(df: DataFrame) = df
        .select(col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
      StreamOps.foreachSlice(docs.repartition(3, col("doc_id"))) { batch =>
        val partial = toks(batch).groupBy(col("lang"))
          .agg(call_function("graft_mg_sketch", col("w"), lit(K)).as("sk"))
        out.append(partial)
      }
      val sk = out.read().groupBy(col("lang"))
        .agg(call_function("graft_mg_merge", col("sk")).as("sk"))
      val census = toks(docs)
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      val n = census.groupBy(col("lang")).agg(sum(col("c")).as("n"))
      import org.apache.spark.sql.expressions.Window
      val wr = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("w").asc)
      val top = census.withColumn("r", row_number().over(wr))
        .where(col("r") <= 5).drop("r")
      top.join(broadcast(n), Seq("lang")).join(broadcast(sk), Seq("lang"))
        .withColumn("est", call_function("graft_mg_estimate", col("sk"), col("w")))
        .select(col("lang"), col("w").as("token"), col("c").as("exact_cnt"),
          (col("c") * lit(K + 1) > col("n")).as("guaranteed_heavy"),
          ((col("c") - col("est")) * lit(K + 1) <= col("n") &&
            col("est") <= col("c")).as("within_err"),
          (!(col("c") * lit(K + 1) > col("n")) || col("est") > 0).as("present_ok"))
        .orderBy(col("lang"), col("token"))
    }),

    // STREAMING COUNT-MIN — the relational sketch's streaming cell:
    // each micro-batch appends its OWN d×w bucket-count rows (plain
    // (r, b, c) rows — the sketch is a table, so the "serialized
    // partial" is just rows) and the rollup is one more groupBy-sum.
    // Sum-merge is exact under any batch slicing, so q_agg_cms's
    // cell-by-cell replay oracle is shared VERBATIM
    "q_stream_cms" -> ((s: SparkSession, d: String) => {
      val D = 3; val W = 64
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_cms")
      def toks(df: DataFrame) = df
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
      StreamOps.foreachSlice(docs.repartition(3, col("doc_id"))) { batch =>
        out.append(graft.ops.FreqSketches.cmsSketch(toks(batch), "w", D, W))
      }
      val sk = out.read().groupBy(col("r"), col("b"))
        .agg(sum(col("c")).as("c"))
      val census = toks(docs).groupBy(col("w"))
        .agg(count(lit(1)).as("c"))
      val n = census.agg(sum(col("c")).as("n"))
      val top = census.orderBy(col("c").desc, col("w").asc).limit(10)
      graft.ops.FreqSketches.cmsEstimate(sk, top, "w", D, W)
        .join(top.withColumnRenamed("w", "x"), Seq("x"))
        .crossJoin(broadcast(n))
        .select(col("x").as("token"), col("c").as("exact_cnt"), col("cms_est"),
          (col("cms_est") >= col("c")).as("never_undercounts"),
          expr("(cms_est - c) * 1000000 div n").as("overcount_ppm"))
        .orderBy(col("token"))
    }),

    // STREAMING PSI — the drift monitor's streaming cell: histograms
    // are ADDITIVE, so each micro-batch appends its own (bin, nb, nc)
    // partial counts and the rollup is one more groupBy-sum; the staged
    // fixed-point log runs once, on the 16 merged bins. Sum-merge is
    // exact under any batch slicing, so q_dq_psi's oracle is shared
    // VERBATIM
    "q_stream_psi" -> ((s: SparkSession, d: String) => {
      import graft.ops.Drift
      val o = graft.engine.QueryBuilder.scan(s, d, "orders")
      val out = StreamOps.landing(s, d, "q_stream_psi")
      StreamOps.foreachSlice(o.repartition(3, col("o_orderkey"))) { batch =>
        val part = batch.select(
            Drift.binOf(col("o_totalprice"), 0.0, 600000.0, 16).as("bin"),
            (col("o_orderdate") < lit("1995-01-01").cast("date")).as("is_base"))
          .groupBy(col("bin")).agg(
            sum(when(col("is_base"), 1L).otherwise(0L)).as("nb"),
            sum(when(!col("is_base"), 1L).otherwise(0L)).as("nc"))
        out.append(part)
      }
      val h = out.read().groupBy(col("bin"))
        .agg(sum(col("nb")).as("nb"), sum(col("nc")).as("nc"))
      Drift.psiOfHists(
        h.select(col("bin"), col("nb").as("n")),
        h.select(col("bin"), col("nc").as("n")))
    }),

    // STREAMING CROSTON — the intermittent-demand forecast's streaming
    // cell: per-batch partials are the (store, day, dem) daily demand
    // counts (ADDITIVE under any batch slicing — sum by (store, day)
    // IS the merge), and the closed dyadic-weight form runs once on
    // the merged census, so q_ts_croston's oracle is shared VERBATIM.
    // The last-40-demand-events window the batch op bounds itself to
    // is exactly the state a per-key streaming smoother would keep
    "q_stream_croston" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val out = StreamOps.landing(s, d, "q_stream_croston")
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        val part = batch
          .filter(col("event_type") === "purchase" && col("user_id") < 8)
          .groupBy(col("user_id").as("store"),
            date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("dem"))
        out.append(part)
      }
      val K = 40
      val dd = out.read().groupBy(col("store"), col("day"))
        .agg(sum(col("dem")).as("dem"))
      val wAsc = Window.partitionBy(col("store")).orderBy(col("day"))
      val withGap = dd
        .withColumn("gap",
          coalesce(expr("CAST(datediff(day, lag(day) OVER " +
            "(PARTITION BY store ORDER BY day)) AS BIGINT)"), lit(1L)))
        .withColumn("rn_desc", row_number().over(
          Window.partitionBy(col("store")).orderBy(col("day").desc)))
      val win = withGap.filter(col("rn_desc") <= K)
        .withColumn("j", row_number().over(wAsc))
      val agg = win.groupBy(col("store")).agg(
        max(col("j")).as("m"),
        sum(when(col("j") === 1, col("dem"))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(j - 2 AS INT)) * dem")))
          .as("snum"),
        sum(when(col("j") === 1, col("gap"))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), CAST(j - 2 AS INT)) * gap")))
          .as("inum"))
      val nTot = dd.groupBy(col("store")).agg(count(lit(1)).as("n_demand"))
      nTot.join(agg, Seq("store"))
        .select(col("store"), col("n_demand"), col("m"),
          expr("CAST(CAST(snum AS DECIMAL(38,0)) * 1000000 div " +
            "shiftleft(CAST(1 AS BIGINT), CAST(m - 1 AS INT)) AS BIGINT)")
            .as("size_x6"),
          expr("CAST(CAST(inum AS DECIMAL(38,0)) * 1000000 div " +
            "shiftleft(CAST(1 AS BIGINT), CAST(m - 1 AS INT)) AS BIGINT)")
            .as("interval_x6"),
          expr("CAST(CAST(snum AS DECIMAL(38,0)) * 1000000 div inum AS BIGINT)")
            .as("croston_x6"))
        .orderBy(col("store"))
    }),

    // STREAMING AMS — the F2/skew monitor's streaming cell: each
    // micro-batch appends its own d-row (r, z) signed-sum partials
    // (sum by r IS the merge — the relation is additive under any
    // batch slicing), the rollup is one more groupBy-sum and the
    // median-of-squares estimate runs on d=5 merged rows. q_agg_ams's
    // exact-replay oracle is shared VERBATIM
    "q_stream_ams" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val D = 5
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_ams")
      def toks(df: DataFrame) = df
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
      StreamOps.foreachSlice(docs.repartition(3, col("doc_id"))) { batch =>
        out.append(graft.ops.FreqSketches.amsSketch(toks(batch), "w", D))
      }
      val z = out.read().groupBy(col("r"))
        .agg(sum(col("z")).as("z"))
        .withColumn("zz", col("z") * col("z"))
      val med = z.withColumn("rn",
          row_number().over(Window.orderBy(col("zz")))) // d=5 rows: tiny
        .where(col("rn") === (D + 1) / 2).select(col("zz").as("f2_est"))
      val f2 = toks(docs).groupBy(col("w"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("f2_exact"))
      f2.crossJoin(broadcast(med))
        .select(col("f2_exact"), col("f2_est"),
          expr("abs(f2_est - f2_exact) * 1000000 div f2_exact").as("err_ppm"))
    }),

    // STREAMING RETENTION — the per-day bitmap retention monitor as a
    // streaming cell: each micro-batch appends its own (day, w, bits)
    // words (OR-merge is idempotent, so replayed batches are harmless),
    // the rollup is one more groupBy-bit_or, and the downstream
    // retention arithmetic is shared with the batch op — as is its
    // oracle, VERBATIM
    "q_stream_retention" -> ((s: SparkSession, d: String) => {
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val out = StreamOps.landing(s, d, "q_stream_retention")
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        out.append(graft.ops.BitmapIndex.bitmap(
          batch.select(date_trunc("day", col("ts")).as("day"), col("user_id")),
          "day", "user_id"))
      }
      val bm = out.read().groupBy(col("t"), col("w"))
        .agg(expr("bit_or(bits)").as("bits"))
      graft.ops.BitmapIndex.retention(bm)
    }),

    // STREAMING HYPERLOGLOG — the register table's streaming cell:
    // each micro-batch appends its occupied (reg, mr) rows and the
    // rollup is one more max-groupBy. Max-merge is idempotent/
    // commutative/associative, so any batch slicing (even replays)
    // yields the identical 64-register sketch and q_agg_hll's
    // register-exact replay oracle is shared VERBATIM
    "q_stream_hll" -> ((s: SparkSession, d: String) => {
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val out = StreamOps.landing(s, d, "q_stream_hll")
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        out.append(graft.ops.Hll.registers(
          batch.select(col("user_id").cast("string").as("x")), "x"))
      }
      val regs = out.read().groupBy(col("reg"))
        .agg(max(col("mr")).as("mr"))
      val est = graft.ops.Hll.estimate(regs)
      val ex = ev
        .agg(countDistinct(col("user_id")).cast("long").as("n_exact"))
      ex.crossJoin(broadcast(est))
        .select(col("n_exact"), col("hll_est"), col("est_raw"), col("est_lin"),
          col("n_regs_zero"),
          expr("abs(hll_est - n_exact) * 1000000 div n_exact").as("err_ppm"))
    }),

    // STREAMING BITMAP — the EXACT distinct monitor beside the sketch
    // cells: each micro-batch appends its own (t, w, bits) bitmap words
    // (the summary is a table, so the partial is just rows) and the
    // rollup is one more groupBy-bit_or. OR-merge is idempotent as well
    // as commutative/associative — any batch slicing, even replayed
    // batches, yields the identical bitmap — so q_agg_bitmap's word-
    // exact replay oracle is shared VERBATIM
    "q_stream_bitmap" -> ((s: SparkSession, d: String) => {
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
        .filter(col("event_type").isin("view", "purchase"))
      val out = StreamOps.landing(s, d, "q_stream_bitmap")
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        out.append(graft.ops.BitmapIndex.bitmap(batch, "event_type", "user_id"))
      }
      val bm = out.read().groupBy(col("t"), col("w"))
        .agg(expr("bit_or(bits)").as("bits"))
      graft.ops.BitmapIndex.census(bm)
    }),

    // streaming BLOOM partials: each micro-batch appends its own
    // (w, bits) word rows; bit_or of the partials equals the one-shot
    // filter (bit_or is idempotent and associative), so the final
    // census — including the exact FPR replay over the zz-probes —
    // matches q_agg_bloom's oracle verbatim. The member re-probe runs
    // against the static read: the test side is a query over the
    // sketch, not stream state
    "q_stream_bloom" -> ((s: SparkSession, d: String) => {
      import graft.ops.FreqSketches
      val K = 3; val M = 4096
      def toks(df: DataFrame): DataFrame = df
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_bloom")
      StreamOps.foreachSlice(docs.repartition(3, col("doc_id"))) { batch =>
        out.append(FreqSketches.bloomSketch(toks(batch), "w", K, M))
      }
      val sk = out.read().groupBy(col("w"))
        .agg(expr("bit_or(bits)").as("bits"))
      FreqSketches.bloomCensus(sk, toks(docs).distinct(), "w", K, M)
    }),

    // streaming preference monitor: each micro-batch of the game log
    // appends its own (lo, hi, games, wins) partial — the counts are
    // additive, so the rolled-up win-rate matrix equals the batch
    // q_pref_winrate verbatim (the oracle is shared). The arena-
    // leaderboard shape: at 100 TB only 10-row partials cross batches
    "q_stream_pref" -> ((s: SparkSession, d: String) => {
      val orders = graft.engine.QueryBuilder.scan(s, d, "orders")
      val out = StreamOps.landing(s, d, "q_stream_pref")
      StreamOps.foreachSlice(orders.repartition(3, col("o_orderkey"))) { batch =>
        out.append(PrefQueries.canonGamesOf(batch)
          .groupBy(col("lo"), col("hi"))
          .agg(count(lit(1)).as("n"), sum(col("win_lo")).as("wl")))
      }
      out.read()
        .groupBy(col("lo").as("model_lo"), col("hi").as("model_hi"))
        .agg(sum(col("n")).as("n_games"), sum(col("wl")).as("n_wins_lo"))
        .withColumn("winrate_ppm", expr("n_wins_lo * 1000000 div n_games"))
        .orderBy(col("model_lo"), col("model_hi"))
    }),

    // STREAMING MODEL-EVAL MONITOR — the confusion matrix is the
    // textbook mergeable summary (four additive counters), so the
    // production shape "score arriving traffic, keep a running quality
    // readout" appends one 4-counter partial per micro-batch and the
    // final readout derives every metric from the rolled-up counts.
    // Oracle = the batch confusion query's SQL, verbatim
    "q_stream_eval" -> ((s: SparkSession, d: String) => {
      val o = graft.engine.QueryBuilder.scan(s, d, "orders")
      val out = StreamOps.landing(s, d, "q_stream_eval")
      StreamOps.foreachSlice(o.repartition(3, col("o_orderkey"))) { batch =>
        val scored = batch.select(
          (graft.ops.Dedup.hex60(md5(concat(lit("sc:"),
            col("o_orderkey").cast("string")).cast("binary"))) % 800000L
            + when(col("o_orderstatus") === "F", 150000L).otherwise(0L)).as("score"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
          .withColumn("pred", when(col("score") >= 500000L, 1L).otherwise(0L))
        val partial = scored.agg(
          sum(when(col("y") === 1L && col("pred") === 1L, 1L).otherwise(0L)).as("tp"),
          sum(when(col("y") === 0L && col("pred") === 1L, 1L).otherwise(0L)).as("fp"),
          sum(when(col("y") === 1L && col("pred") === 0L, 1L).otherwise(0L)).as("fn"),
          sum(when(col("y") === 0L && col("pred") === 0L, 1L).otherwise(0L)).as("tn"))
        out.append(partial)
      }
      out.read()
        .agg(sum(col("tp")).as("tp"), sum(col("fp")).as("fp"),
          sum(col("fn")).as("fn"), sum(col("tn")).as("tn"))
        .withColumn("n", expr("tp + fp + fn + tn"))
        .withColumn("mnum", expr(
          "CAST(tp AS DECIMAL(38,0)) * tn - CAST(fp AS DECIMAL(38,0)) * fn"))
        .withColumn("knum", expr(
          """CAST(n AS DECIMAL(38,0)) * (tp + tn)
            |  - (CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
            |     + CAST(fn + tn AS DECIMAL(38,0)) * (fp + tn))""".stripMargin))
        .withColumn("kden", expr(
          """CAST(n AS DECIMAL(38,0)) * n
            |  - (CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
            |     + CAST(fn + tn AS DECIMAL(38,0)) * (fp + tn))""".stripMargin))
        .select(col("tp"), col("fp"), col("fn"), col("tn"),
          expr("tp * 1000000 div (tp + fp)").as("precision_ppm"),
          expr("tp * 1000000 div (tp + fn)").as("recall_ppm"),
          expr("2 * tp * 1000000 div (2 * tp + fp + fn)").as("f1_ppm"),
          expr("CAST(sign(mnum) AS BIGINT)").as("mcc_sign"),
          expr("""CAST(mnum * mnum * 1000000
                 |  div (CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)
                 |       * (tn + fp) * (tn + fn)) AS BIGINT)""".stripMargin)
            .as("mcc_sq_ppm"),
          expr("CAST(CAST(sign(knum) AS BIGINT) * (abs(knum) * 1000000 div kden) AS BIGINT)")
            .as("kappa_ppm"))
    }),

    // STREAMING CRAWL INGEST — the WARC→HTML funnel as arriving shards:
    // every output row is a pure per-media-row decision (decode this
    // archive, parse its 200 payloads, gate on extraction volume), so
    // batch slicing can't change results and per-batch outputs append
    // directly — the q_stream_er shape on the binary tier. Oracle = the
    // batch funnel's formula replay, verbatim
    "q_stream_crawl" -> ((s: SparkSession, d: String) => {
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_crawl")
      StreamOps.foreachSlice(docs.repartition(3, col("doc_id"))) { batch =>
        val warc = Multimodal.fixtures(batch, "doc_id")(Multimodal.syntheticCrawlWarc)
          .persist()
        try {
          val stats = Multimodal.decode(warc)(Multimodal.decodeWarc)
            .select(col("media_id"), col("n_members").as("n_records"), col("n_ok"))
          val pages = Multimodal.decode(Multimodal.decode(warc)(Multimodal.decodeWarcResponses))(
            Multimodal.decodeHtml)
          val pcensus = pages.groupBy(col("media_id"))
            .agg(count(lit(1)).as("n_parsed"),
              sum(col("text_chars")).as("text_chars"),
              sum(when(col("text_chars") >= 259, 1L).otherwise(0L)).as("n_kept"))
          val rows = stats.join(pcensus, Seq("media_id"), "left")
            .select(col("media_id"), col("n_records"), col("n_ok"),
              coalesce(col("n_parsed"), lit(0L)).as("n_parsed"),
              coalesce(col("text_chars"), lit(0L)).as("text_chars"),
              coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          out.append(rows)
        } finally { warc.unpersist(); () }
      }
      out.read().orderBy(col("media_id"))
    }),

    // STREAMING CIDR ENRICHMENT — the LPM census as an incremental
    // ingest: the longest-prefix decision is per-ROW (event + the
    // broadcast dim), so batch slicing can't change it; each micro-batch
    // appends two mergeable partials — per-block event counts (additive)
    // and per-block user BITMAPS (bit_or is the merge, the exact-distinct
    // relation from q_agg_bitmap) — and the final census rolls both up
    // with one groupBy each. Oracle = the batch query's SQL, verbatim
    "q_stream_cidr" -> ((s: SparkSession, d: String) => {
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val outCnt = StreamOps.landing(s, d, "q_stream_cidr_cnt")
      val outBm = StreamOps.landing(s, d, "q_stream_cidr_bm")
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        val m = FunnelQueries.cidrMatched(s, batch).persist()
        try {
          outCnt.append(m.groupBy(col("block"), col("plen")).agg(count(lit(1)).as("n")))
          outBm.append(graft.ops.BitmapIndex.bitmap(m, "block", "user_id"))
        } finally { m.unpersist(); () }
      }
      val cnt = outCnt.read().groupBy(col("block"), col("plen"))
        .agg(sum(col("n")).as("n_events"))
      val users = outBm.read()
        .groupBy(col("t"), col("w")).agg(expr("bit_or(bits)").as("bits"))
        .groupBy(col("t"))
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n_users"))
        .withColumnRenamed("t", "block")
      cnt.join(users, Seq("block"))
        .crossJoin(broadcast(cnt.agg(sum(col("n_events")).as("nt"))))
        .withColumn("share_ppm", expr("n_events * 1000000 div nt"))
        .select(col("block"), col("plen").cast("int").as("plen"),
          col("n_events"), col("n_users"), col("share_ppm"))
        .orderBy(col("block"))
    }),

    // STREAMING KMV — the distinct-count monitor beside q_stream_kll's
    // percentile and q_stream_mg's heavy-hitter monitors, completing
    // the mergeable-sketch matrix: each micro-batch appends ONE
    // serialized k-minimum-values summary per event_type (O(k) bytes
    // per group per batch), graft_kmv_merge unions them afterward.
    // Set-union-keep-k-smallest is idempotent as well as commutative/
    // associative, so batch slicing (and even replayed batches) yields
    // the identical sketch — the estimate is hash-matched against the
    // oracle's k-th-smallest replay, not tolerance-matched
    "q_stream_kmv" -> ((s: SparkSession, d: String) => {
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val out = StreamOps.landing(s, d, "q_stream_kmv")
      def hashed(df: DataFrame) = df.select(col("event_type"),
        graft.ops.Dedup.hex60(
          md5(concat(lit("kmv:"), col("user_id").cast("string")).cast("binary"))).as("hv"))
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        val partial = hashed(batch).groupBy(col("event_type"))
          .agg(call_function("graft_kmv_sketch", col("hv"), lit(64)).as("sk"))
        out.append(partial)
      }
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      out.read().groupBy(col("event_type"))
        .agg(call_function("graft_kmv_merge", col("sk")).as("sk"))
        .withColumn("kmv_estimate", call_function("graft_kmv_estimate", col("sk")))
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("kmv_estimate"), col("exact_distinct"),
          floor(abs(col("kmv_estimate") - col("exact_distinct")) * lit(1000000L)
            / col("exact_distinct")).as("err_ppm"))
        .orderBy(col("event_type"))
    }),

    // STREAMING GROUPED KLL — per-(lang, source) token-count percentile
    // monitors online: each micro-batch appends one sketch per group;
    // merge + exact-rank grading afterward is q_agg_kll_grouped's
    // contract, so its oracle is shared VERBATIM (the sketch's rank
    // bound is layout-invariant, batch slicing included)
    "q_stream_kll_grouped" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_kll_grouped")
      def vals(df: DataFrame) = df.select(col("lang"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("v"))
      StreamOps.foreachSlice(docs.repartition(3, col("doc_id"))) { batch =>
        val partial = vals(batch).groupBy(col("lang"), col("source"))
          .agg(call_function("graft_kll_sketch", col("v"), lit(256)).as("sk"))
        out.append(partial)
      }
      val sk = out.read().groupBy(col("lang"), col("source"))
        .agg(call_function("graft_kll_merge", col("sk")).as("sk"))
      val census = vals(docs)
        .groupBy(col("lang"), col("source"), col("v")).agg(count(lit(1)).as("c"))
      val wv = Window.partitionBy(col("lang"), col("source")).orderBy(col("v"))
      val cum = census.withColumn("cum", sum(col("c")).over(wv))
      val n = census.groupBy(col("lang"), col("source")).agg(sum(col("c")).as("n"))
      val qs = s.range(1).select(explode(array(lit(500000L), lit(950000L))).as("q_ppm"))
      val est = sk.crossJoin(broadcast(qs))
        .select(col("lang"), col("source"), col("q_ppm"),
          call_function("graft_kll_quantile", col("sk"), col("q_ppm")).as("est"))
      val targets = n.crossJoin(broadcast(qs))
        .withColumn("target", expr("(q_ppm * n + 999999) div 1000000"))
        .select(col("lang"), col("source"), col("q_ppm"), col("target"))
      val exact = cum.join(broadcast(targets), Seq("lang", "source"))
        .where(col("cum") >= col("target"))
        .groupBy(col("lang"), col("source"), col("q_ppm"))
        .agg(min(col("v")).as("exact_v"))
      val estN = est.join(broadcast(n), Seq("lang", "source"))
      val bounds = cum.as("cc").join(broadcast(estN.as("ee")),
          col("cc.lang") === col("ee.lang") &&
            col("cc.source") === col("ee.source") && col("cc.v") === col("ee.est"))
        .select(col("ee.lang").as("lang"), col("ee.source").as("source"),
          col("q_ppm"),
          ((col("cum") - col("c")) * lit(1000000L) <=
            (col("q_ppm") + lit(15000L)) * col("n") &&
           col("cum") * lit(1000000L) >=
            (col("q_ppm") - lit(15000L)) * col("n")).as("within_bound"))
      exact.join(bounds, Seq("lang", "source", "q_ppm"))
        .orderBy(col("lang"), col("source"), col("q_ppm"))
    }),

    // STREAMING MANN–WHITNEY (the location-shift monitor beside
    // q_stream_ks's distribution monitor, same mergeable-census
    // deployment): micro-batches append per-value census partials; the
    // final tie-corrected all-integer U and z² verdict (the
    // q_agg_mannwhitney arithmetic) runs over the merged census and is
    // bit-identical to the batch test — the oracle is the batch MW SQL
    // over the full events table
    "q_stream_mannwhitney" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val out = StreamOps.landing(s, d, "q_stream_mannwhitney")
      def census(df: DataFrame): DataFrame =
        df.select(floor(col("value") * 100).cast("long").as("v"),
            when(col("event_type") === "purchase", 1L).otherwise(0L).as("w1"),
            when(col("event_type") =!= "purchase", 1L).otherwise(0L).as("w2"))
          .groupBy(col("v"))
          .agg(sum(col("w1")).as("c1"), sum(col("w2")).as("c2"))
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        out.append(census(batch))
      }
      val vals = out.read().groupBy(col("v"))
        .agg(sum(col("c1")).as("d1"), sum(col("c2")).as("d2"))
        .withColumn("b", expr("v div 16384"))
      val bt = vals.groupBy(col("b"))
        .agg((sum(col("d1")) + sum(col("d2"))).as("sc"))
      val wb = Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val bpre = bt
        .withColumn("p", coalesce(sum(col("sc")).over(wb), lit(0L)))
        .select(col("b"), col("p"))
      val wv = Window.partitionBy(col("b")).orderBy(col("v"))
      vals.join(broadcast(bpre), Seq("b"))
        .withColumn("below",
          col("p") + sum(col("d1") + col("d2")).over(wv) - col("d1") - col("d2"))
        .agg(sum(col("d1")).as("n1"), sum(col("d2")).as("n2"),
          sum(col("d1") * (lit(2) * col("below") + col("d1") + col("d2") + lit(1)))
            .as("r2"),
          sum((col("d1") + col("d2")) * (col("d1") + col("d2")) * (col("d1") + col("d2"))
            - col("d1") - col("d2")).as("tie_t"))
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("u1_x2", col("r2") - col("n1") * (col("n1") + lit(1)))
        .withColumn("dev", col("u1_x2") - col("n1") * col("n2"))
        .withColumn("d1q", expr(
          "CAST(CAST(dev AS DECIMAL(38,0)) * dev * 1000000 div (n1 * n2) AS BIGINT)"))
        .withColumn("d2q", expr(
          """CAST(CAST(3 AS DECIMAL(38,0)) * n * (n - 1) * 1000000
            |  div (CAST(n AS DECIMAL(38,0)) * (n - 1) * (n + 1) - tie_t) AS BIGINT)"""
            .stripMargin))
        .select(col("n1"), col("n2"), col("u1_x2"), col("tie_t"),
          expr("CAST(CAST(d1q AS DECIMAL(38,0)) * d2q div 1000000 AS BIGINT)")
            .as("z2_ppm"),
          expr("CAST(d1q AS DECIMAL(38,0)) * d2q div 1000000 > 3841600")
            .as("reject_95"))
    }),

    // STREAMING DRAWDOWN (the live risk monitor over the cumulative
    // flow): micro-batches append day-flow census partials (additive —
    // batch slicing can't move a day's net flow), the final exact
    // integer equity/peak/drawdown walk runs over the merged census
    // and is bit-identical to the batch computation: the oracle IS
    // q_ts_drawdown's SQL string verbatim
    "q_stream_drawdown" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val ev = graft.engine.QueryBuilder.scan(s, d, "events")
      val out = StreamOps.landing(s, d, "q_stream_drawdown")
      def census(df: DataFrame): DataFrame =
        df.filter(col("event_type").isin("purchase", "error"))
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(sum(when(col("event_type") === "purchase",
              floor(col("value") * 100).cast("long"))
            .otherwise(-floor(col("value") * 100).cast("long"))).as("flow"))
      StreamOps.foreachSlice(ev.repartition(3, col("event_id"))) { batch =>
        out.append(census(batch))
      }
      val daily = out.read().groupBy(col("day"))
        .agg(sum(col("flow")).as("flow"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dd = daily
        .withColumn("equity", sum(col("flow")).over(w))
        .withColumn("peak", max(col("equity")).over(w))
        .withColumn("dd", col("peak") - col("equity"))
      val mx = dd.agg(max(col("dd")).as("max_dd"))
      dd.crossJoin(broadcast(mx))
        .agg(count(lit(1)).as("n_days"), max(col("max_dd")).as("max_dd"),
          min(when(col("dd") === col("max_dd"), col("day"))).as("trough_day"),
          max(struct(col("day"), col("equity"))).as("last"))
        .select(col("n_days"), col("max_dd"), col("trough_day"),
          col("last.equity").as("equity_end"))
    }),

    // STREAMING-MAINTAINED PCA (the incremental covariance deploy of
    // q_embed_pca): each micro-batch appends its second-moment partials
    // — the dims² pair sums, the dims margins (encoded j = −1) and the
    // row count (i = j = −1) — all ADDITIVE summaries, so state is
    // ∝ dims² regardless of stream length. The final integer power
    // iteration runs on the merged moments and is bit-identical to the
    // batch op: the oracle IS q_embed_pca's SQL string verbatim
    "q_stream_pca" -> ((s: SparkSession, d: String) => {
      val emb = graft.engine.QueryBuilder.scan(s, d, "embeddings")
      val out = StreamOps.landing(s, d, "q_stream_pca")
      // per-batch partials = the SAME one-pass moment census as the
      // batch op (r17: pairs + margins + count ride one LongVecSumAgg
      // fold instead of a 2,080-structs-per-row explode — see
      // Quantize.momentTriples); upper triangle only, the symmetric
      // mirror happens once at merge-read time. Identical (i, j, p)
      // rows per batch: exact integer sums, schema unchanged.
      def census(df: DataFrame): DataFrame =
        graft.ops.Quantize.momentTriples(
          df.select(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))")
            .as("q")), dims = 64)
      StreamOps.foreachSlice(emb.repartition(3, col("vec_id"))) { batch =>
        out.append(census(batch))
      }
      // merge the additive partials, then run the dims²-sized power
      // iteration locally (Quantize.pcaPowerLocal — bit-identical to the
      // former in-plan iteration; the collect is the covariance summary,
      // corpus-size-independent)
      val merged = out.read().groupBy(col("i"), col("j"))
        .agg(sum(col("p")).as("p"))
      graft.ops.Quantize.pcaPowerLocal(merged, dims = 64, iters = 3)
        .orderBy(col("dim"))
    }),

    // STREAMING HAPAX / VOCABULARY-RICHNESS monitor (the live
    // template-flood alarm): micro-batches of documents append term-
    // census partials — additive, so the merged census is exactly the
    // batch census and the Zipf-tail readout (hapax/dis/tris counts,
    // vocab, hapax share) is bit-identical to the batch op: the oracle
    // IS q_text_hapax's SQL verbatim. State ∝ vocabulary, never stream
    "q_stream_hapax" -> ((s: SparkSession, d: String) => {
      val docs = graft.engine.QueryBuilder.scan(s, d, "documents")
      val out = StreamOps.landing(s, d, "q_stream_hapax")
      def census(df: DataFrame): DataFrame =
        df.filter(length(trim(col("text"))) > 0)
          .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
      StreamOps.foreachSlice(docs.repartition(3, col("doc_id"))) { batch =>
        out.append(census(batch))
      }
      out.read().groupBy(col("w")).agg(sum(col("c")).as("c"))
        .agg(count(lit(1)).as("n_vocab"), sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_dis"),
          sum(when(col("c") === 3, 1L).otherwise(0L)).as("n_tris"))
        .select(col("n_vocab"), col("n_tokens"), col("n_hapax"), col("n_dis"),
          col("n_tris"),
          expr("n_hapax * 1000000 div n_vocab").as("hapax_vocab_ppm"))
    }),

    // batch sessionization, 6-hour inactivity gap
    "q_sessionize" -> ((s: SparkSession, d: String) => {
      StreamOps.sessionize(graft.engine.QueryBuilder.scan(s, d, "events"), gapSeconds = 6 * 3600)
        .orderBy(col("user_id"), col("session_idx"))
    }),

    // Spark's native session_window (works in batch aggregation too);
    // oracle = gaps-and-islands with end = last event + gap. Note
    // session_window's gap is EXCLUSIVE (a gap of exactly 6h starts a
    // new session) while sessionize's `>` test is inclusive — the oracle
    // spells session_window's semantics.
    "q_session_window" -> ((s: SparkSession, d: String) => {
      graft.engine.QueryBuilder.scan(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "6 hours").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // incremental ≡ batch, literally: the streaming dwell is checked
    // against the SAME oracle string as the batch census
    "q_stream_dwell" -> FunnelQueries.oracleSql("q_events_dwell"),

    // batch Holt–Winters replay restricted to CLOSED days (a day is
    // closed once the stream's frontier passed its end)
    // incremental ≡ batch, literally: the shared-oracle contract — the
    // streaming drawdown must reproduce the batch op bit-for-bit
    "q_stream_drawdown" -> WindowQueries.oracleSql("q_ts_drawdown"),

    // incremental ≡ batch for the streamed term census too
    "q_stream_hapax" -> TextQueries.oracleSql("q_text_hapax"),

    // same contract for the streamed covariance: merged moments drive
    // the identical power iteration, so the batch PCA oracle applies
    // verbatim
    "q_stream_pca" -> QuantizeQueries.oracleSql("q_embed_pca"),

    // incremental ≡ batch: the merged census KS is checked against the
    // plain batch KS over the full events table (same statistic, same
    // integer verdict — batch slicing provably cannot move it)
    "q_stream_ks" ->
      """WITH o AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS w1,
        |    CASE WHEN event_type != 'purchase' THEN 1 ELSE 0 END AS w2
        |  FROM events),
        |vals AS (SELECT v, CAST(SUM(w1) AS BIGINT) AS d1,
        |           CAST(SUM(w2) AS BIGINT) AS d2 FROM o GROUP BY v),
        |t AS (SELECT CAST(SUM(d1) AS BIGINT) AS n1,
        |        CAST(SUM(d2) AS BIGINT) AS n2 FROM vals),
        |c AS (SELECT v, SUM(d1) OVER (ORDER BY v) AS cum1,
        |        SUM(d2) OVER (ORDER BY v) AS cum2 FROM vals),
        |dd AS (SELECT CAST(MAX(abs(cum1 * t.n2 - cum2 * t.n1)) AS BIGINT)
        |         AS d_num FROM c, t)
        |SELECT t.n1, t.n2, dd.d_num,
        |  CAST(dd.d_num::HUGEINT * 1000000 // (t.n1::HUGEINT * t.n2)
        |    AS BIGINT) AS d_ppm,
        |  dd.d_num::HUGEINT * dd.d_num::HUGEINT * 1000000::HUGEINT
        |    > 1844164::HUGEINT * (t.n1 + t.n2)::HUGEINT
        |      * t.n1::HUGEINT * t.n2::HUGEINT AS reject_95
        |FROM dd, t""".stripMargin,

    // streaming MG shares the batch census replay VERBATIM — per-batch
    // partials merged by a bound that holds over any merge tree
    "q_stream_mg" -> SqlFunctionQueries.oracleSql("q_agg_mg"),

    // grouped mergeable-summary twins: same contract, per group
    "q_stream_mg_grouped" -> SqlFunctionQueries.oracleSql("q_agg_mg_grouped"),
    "q_stream_kll_grouped" -> SqlFunctionQueries.oracleSql("q_agg_kll_grouped"),

    // streaming CMS: per-batch bucket rows summed = the one-shot table
    "q_stream_cms" -> SqlFunctionQueries.oracleSql("q_agg_cms"),
    "q_stream_bitmap" -> SqlFunctionQueries.oracleSql("q_agg_bitmap"),
    // merged per-batch Bloom partials == the one-shot filter, so the
    // oracle is q_agg_bloom's word-by-word replay
    "q_stream_bloom" -> SqlFunctionQueries.oracleSql("q_agg_bloom"),
    // additive (games, wins) partials == the one-shot census
    "q_stream_pref" -> PrefQueries.oracleSql("q_pref_winrate"),
    "q_stream_cidr" -> FunnelQueries.oracleSql("q_events_cidr"),
    "q_stream_crawl" -> MultimodalQueries.oracleSql("q_crawl_funnel"),
    "q_stream_eval" -> AggQueries.oracleSql("q_eval_confusion"),
    "q_stream_hll" -> SqlFunctionQueries.oracleSql("q_agg_hll"),
    "q_stream_psi" -> QualityQueries.oracleSql("q_dq_psi"),
    "q_stream_retention" -> SqlFunctionQueries.oracleSql("q_agg_retention"),
    "q_stream_ams" -> SqlFunctionQueries.oracleSql("q_agg_ams"),
    "q_stream_croston" -> WindowQueries.oracleSql("q_ts_croston"),

    // streaming KMV: the merged per-batch sketches equal the one-shot
    // sketch (union-keep-k-smallest is idempotent), so the oracle is
    // the same k-th-smallest-hash replay as q_agg_kmv's, per event_type
    "q_stream_kmv" -> {
      val hv = DedupQueries.sqlHex60Public("md5('kmv:' || CAST(user_id AS VARCHAR))")
      s"""WITH h AS (SELECT DISTINCT event_type, $hv AS hv FROM events),
         |r AS (SELECT event_type, hv,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM h),
         |k AS (SELECT event_type, MAX(cnt) AS cnt,
         |    MAX(CASE WHEN rn = 64 THEN hv END) AS z64 FROM r GROUP BY event_type),
         |e AS (SELECT event_type,
         |    COUNT(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1)
         |SELECT k.event_type,
         |  CASE WHEN k.cnt < 64 THEN k.cnt
         |       ELSE CAST(63::HUGEINT * 1152921504606846976::HUGEINT // k.z64 AS BIGINT)
         |  END AS kmv_estimate,
         |  e.exact_distinct,
         |  CAST(FLOOR(ABS(kmv_estimate - e.exact_distinct) * 1000000
         |    / e.exact_distinct) AS BIGINT) AS err_ppm
         |FROM k JOIN e ON k.event_type = e.event_type
         |ORDER BY k.event_type""".stripMargin
    },

    // exact element at rank ceil(q*n) over the full events value
    // census; the merged-sketch side is graded by the deterministic
    // rank-window boolean (same scheme as q_agg_kll's oracle)
    "q_stream_kll" ->
      """WITH v AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v FROM events),
        |c AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY v),
        |cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM c),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c),
        |q AS (SELECT unnest([250000, 500000, 750000, 875000]) AS q_ppm),
        |t AS (SELECT q.q_ppm, (q.q_ppm * n.n + 999999) // 1000000 AS target
        |      FROM q, n),
        |e AS (SELECT t.q_ppm, CAST(MIN(cum.v) AS BIGINT) AS exact_v
        |      FROM t JOIN cum ON cum.cum >= t.target GROUP BY t.q_ppm)
        |SELECT CAST(q_ppm AS BIGINT) AS q_ppm, exact_v, true AS within_bound
        |FROM e ORDER BY q_ppm""".stripMargin,

    // incremental ≡ batch, like q_stream_ks: merged census → same
    // tie-corrected integer U statistic as a batch run over all events
    "q_stream_mannwhitney" ->
      """WITH o AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS w1,
        |    CASE WHEN event_type != 'purchase' THEN 1 ELSE 0 END AS w2
        |  FROM events),
        |vals AS (SELECT v, CAST(SUM(w1) AS BIGINT) AS d1,
        |           CAST(SUM(w2) AS BIGINT) AS d2 FROM o GROUP BY v),
        |c AS (SELECT v, d1, d2,
        |        SUM(d1 + d2) OVER (ORDER BY v) - d1 - d2 AS below FROM vals),
        |a AS (SELECT CAST(SUM(d1) AS BIGINT) AS n1, CAST(SUM(d2) AS BIGINT) AS n2,
        |        CAST(SUM(d1 * (2 * below + d1 + d2 + 1)) AS BIGINT) AS r2,
        |        CAST(SUM((d1 + d2) * (d1 + d2) * (d1 + d2) - d1 - d2) AS BIGINT)
        |          AS tie_t FROM c),
        |b AS (SELECT n1, n2, r2 - n1 * (n1 + 1) AS u1_x2, tie_t, n1 + n2 AS n
        |      FROM a),
        |z AS (SELECT n1, n2, u1_x2, tie_t,
        |        CAST((u1_x2 - n1 * n2)::HUGEINT * (u1_x2 - n1 * n2)
        |          * 1000000 // (n1 * n2) AS BIGINT) AS d1q,
        |        CAST(3::HUGEINT * n * (n - 1) * 1000000
        |          // (n::HUGEINT * (n - 1) * (n + 1) - tie_t) AS BIGINT) AS d2q
        |      FROM b)
        |SELECT n1, n2, u1_x2, tie_t,
        |  CAST(d1q::HUGEINT * d2q // 1000000 AS BIGINT) AS z2_ppm,
        |  d1q::HUGEINT * d2q // 1000000 > 3841600 AS reject_95
        |FROM z""".stripMargin,

    "q_stream_slope" -> WindowQueries.slopeOracleSql(
      "WHERE CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY" +
        " <= (SELECT max(ts) FROM events)"),

    "q_stream_hw" -> WindowQueries.hwOracleSql(
      "WHERE CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY" +
        " <= (SELECT max(ts) FROM events)"),

    // additive histograms: the merged incremental census is bit-identical
    // to the one-shot census, so the oracle IS q_dq_drift's query
    "q_stream_drift" -> QualityQueries.oracleSql("q_dq_drift"),
    // the merged streaming manifest must equal the batch audit exactly
    "q_stream_checksum" -> QualityQueries.oracleSql("q_dq_checksum"),
    "q_stream_cusum" -> WindowQueries.oracleSql("q_ts_cusum"),

    "q_stream_topk" ->
      """WITH r AS (SELECT event_type, value, event_id,
        |             row_number() OVER (PARTITION BY event_type
        |               ORDER BY value DESC, event_id ASC) AS rank
        |           FROM events)
        |SELECT event_type, CAST(rank AS BIGINT) AS rank, value, event_id
        |FROM r WHERE rank <= 3 ORDER BY event_type, rank""".stripMargin,

    "q_stream_tumbling" ->
      s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start, event_type,
         |       COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_stream_sliding" ->
      """WITH shifted AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) - (o.o * INTERVAL 1 DAY) AS window_start,
        |         event_type
        |  FROM events CROSS JOIN (SELECT unnest(range(0, 2)) AS o) o)
        |SELECT window_start, event_type, COUNT(*) AS n
        |FROM shifted GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q_stream_dedup_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q_stream_static_join" ->
      s"""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, c_mktsegment,
         |       COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY 1, 2 ORDER BY day, c_mktsegment""".stripMargin,
    "q_stream_sink" ->
      s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_stream_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
        |       a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY click_id, purchase_id""".stripMargin,
    "q_stream_upsert" ->
      """SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_stream_session" ->
      """WITH lagged AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR ts - prev_ts >= INTERVAL 6 HOUR
        |                 THEN 1 ELSE 0 END AS new_session
        |  FROM lagged),
        |numbered AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 6 HOUR AS session_end,
        |       COUNT(*) AS n_events
        |FROM numbered GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin,
    "q_session_window" ->
      """WITH lagged AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |                   OR ts - prev_ts >= INTERVAL 6 HOUR
        |                 THEN 1 ELSE 0 END AS new_session
        |  FROM lagged),
        |numbered AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 6 HOUR AS session_end,
        |       COUNT(*) AS n_events
        |FROM numbered GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start""".stripMargin,
    "q_stream_neardup" ->
      s"""WITH ${DedupQueries.minhashCtes}
         |SELECT doc_a, doc_b, jaccard FROM pairsq
         |WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_stream_corpus" -> {
      val stopList = graft.ops.TextAnalysis.defaultStopwords
        .map(w => s"'$w'").mkString("[", ",", "]")
      raw"""WITH ${DedupQueries.minhashCtes},
           |qual AS (
           |  SELECT doc_id, lang, source,
           |    CASE WHEN length(trim(text)) = 0 THEN 0
           |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
           |    len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
           |        w -> list_contains($stopList, w))) AS n_stop
           |  FROM documents WHERE doc_id % 5 = 0),
           |q2 AS (
           |  SELECT * FROM qual
           |  WHERE n_words >= 20
           |    AND CAST(n_stop AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) > 0.0),
           |dups AS (
           |  SELECT DISTINCT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_id
           |  FROM pairsq WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0))
           |SELECT doc_id, lang, source, CAST(n_words AS BIGINT) AS n_words
           |FROM q2
           |WHERE NOT EXISTS (SELECT 1 FROM dups d WHERE d.doc_id = q2.doc_id)
           |ORDER BY doc_id""".stripMargin
    },
    "q_stream_session_custom" ->
      s"""WITH lagged AS (
         |  SELECT user_id, event_id, ts,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR epoch_us(ts) - epoch_us(prev_ts) > ${6 * 3600}::BIGINT * 1000000
         |                 THEN 1 ELSE 0 END AS new_session
         |  FROM lagged),
         |numbered AS (
         |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM flagged),
         |sess AS (
         |  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
         |         COUNT(*) AS n_events
         |  FROM numbered GROUP BY user_id, session_idx),
         |mx AS (SELECT max(ts) AS m FROM events)
         |SELECT user_id, session_start, session_end, n_events
         |FROM sess, mx
         |-- Spark's watermark is millisecond-floored (EventTimeStats
         |-- tracks ms), so the closed-set boundary must floor too or a
         |-- session ending in the final sub-ms window would diverge
         |WHERE epoch_us(session_end) + ${6 * 3600}::BIGINT * 1000000
         |      <= (epoch_us(m) // 1000) * 1000
         |ORDER BY user_id, session_start""".stripMargin,
    "q_sessionize" ->
      s"""WITH lagged AS (
         |  SELECT user_id, event_id, ts, value,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events),
         |flagged AS (
         |  SELECT *, CASE WHEN prev_ts IS NULL
         |                   OR epoch_us(ts) - epoch_us(prev_ts) > ${6 * 3600}::BIGINT * 1000000
         |                 THEN 1 ELSE 0 END AS new_session
         |  FROM lagged),
         |numbered AS (
         |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
         |  FROM flagged)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |       MIN(ts) AS session_start, MAX(ts) AS session_end,
         |       COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
         |FROM numbered GROUP BY user_id, session_idx
         |ORDER BY user_id, session_idx""".stripMargin
  )
}
