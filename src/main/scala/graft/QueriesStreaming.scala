package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import EntryHelpers._

/** Structured-streaming query registry (SURVEY §2.10: the s2* live rows). */
private[graft] object QueriesStreaming {

  def registry: Map[String, Timed] = Map(


    // S2 (streaming scan → watermarked windowed agg, run to completion
    // with Trigger.AvailableNow): the events parquet is consumed as a
    // STREAM, aggregated per (hour window, event_type), and the finished
    // memory-sink table is the query result. Exact columns only (count,
    // min, max) — float sums are order-dependent across micro-batches.
    "s2_stream_agg" -> scaled((s, dir) => {
      // Tables.eventsStream normalizes the on-disk ts encoding (legacy
      // INT64 nanos vs native TIMESTAMP micros) behind one schema
      val stream = Tables.eventsStream(s, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n_events"), col("min_value"), col("max_value"))
      val q = stream.writeStream.format("memory").queryName("s2_stream_agg_out")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      s.table("s2_stream_agg_out")
    }),

    // Streaming session windows (the streaming twin of llm_sessionize):
    // Spark's native session_window gap-merge aggregation under
    // availableNow; oracle replays the [ts, ts+gap) overlap-merge
    // semantics (same session iff delta < gap) with integer-us lag math.
    "s2c_stream_sessions" -> scaled((s, dir) => {
      val stream = Tables.eventsStream(s, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("user_id"), col("n_events"))
      val q = stream.writeStream.format("memory")
        .queryName("s2c_stream_sessions_out")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      s.table("s2c_stream_sessions_out")
    }),

    // S2b — stateful streaming reduction via mapGroupsWithState: the
    // EARLIEST event per user by (event time, event id). Unlike
    // arrival-order first-wins, the fold is deterministic across
    // micro-batch boundaries, so it verifies against an exact SQL oracle.
    "s2b_stream_state" -> scaled((s, dir) => {
      import s.implicits._
      // micros, matching the oracle's timestamp precision; encoding
      // normalization (legacy nanos vs native micros) lives in Tables
      val stream = Tables.eventsStream(s, dir)
        .select(col("user_id"), col("ts_us").as("ts"), col("event_id"),
          col("event_type"))
        .as[streaming.StreamOps.Event]
      val q = streaming.StreamOps.firstEventPerKey(stream)
        .writeStream.format("memory").queryName("s2b_stream_state_out")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      // Update-mode sinks append one row per (key, improving batch): if the
      // AvailableNow source ever splits events.parquet into >1 micro-batch,
      // superseded per-key rows would remain in the table. Fold the sink to
      // each key's (ts, event_id)-minimum so the result is one row per key
      // regardless of micro-batch boundaries.
      s.table("s2b_stream_state_out").toDF()
        .groupBy(col("user_id"))
        .agg(min(struct(col("first_ts"), col("first_event_id"),
          col("first_event_type"))).as("m"))
        .select(col("user_id"), col("m.first_ts").as("first_ts"),
          col("m.first_event_id").as("first_event_id"),
          col("m.first_event_type").as("first_event_type"))
    }),

    // S2d — STREAM-STREAM JOIN: clicks ⋈ views within a 30-minute
    // lookback per user, both sides watermarked (state stays bounded by
    // the watermark delay + join range, the production shape). Inner
    // join, append mode; oracle is the batch inequality join.
    "s2d_stream_join" -> scaled((s, dir) => {
      val views = Tables.eventsStream(s, dir)
        .filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
          col("event_id").as("view_event_id"))
        .withWatermark("view_ts", "2 hours")
      val clicks = Tables.eventsStream(s, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_event_id"))
        .withWatermark("click_ts", "2 hours")
      val joined = clicks.join(views,
          col("user_id") === col("v_user") &&
            col("view_ts") <= col("click_ts") &&
            col("view_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("click_event_id"), col("view_event_id"),
          (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
            .as("gap_us"))
      val q = joined.writeStream.format("memory")
        .queryName("s2d_stream_join_out")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      s.table("s2d_stream_join_out")
    }),

    // S2e — NATIVE STREAMING DEDUP (dropDuplicatesWithinWatermark): the
    // stream doubled by self-union, then deduped on the event id inside
    // the watermark window — Spark's built-in state-bounded dedup
    // operator (state expires with the watermark, unlike plain
    // dropDuplicates whose state grows forever). Oracle: the original
    // rows, exactly once.
    "s2e_stream_dedup_wm" -> scaled((s, dir) => {
      val base = Tables.eventsStream(s, dir)
        .select(col("event_id"), col("event_type"), col("user_id"), col("ts"))
      val doubled = base.unionByName(base)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("event_type"), col("user_id"))
      val q = doubled.writeStream.format("memory")
        .queryName("s2e_stream_dedup_wm_out")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      s.table("s2e_stream_dedup_wm_out")
    }),

    // S2f — STREAM-STATIC JOIN: the streaming dimension-enrichment shape
    // (a broadcast static dim joined into an unbounded stream — no
    // watermark needed, no state: each row enriches map-side).
    "s2f_stream_enrich" -> scaled((s, dir) => {
      import s.implicits._
      val dim = Seq(("view", 1L), ("click", 5L), ("purchase", 20L),
        ("signup", 2L), ("error", 0L)).toDF("event_type", "weight")
      // LEFT join + coalesce(0): an out-of-dim (or NULL) event type
      // keeps its row with weight 0 — the oracle's CASE ... ELSE 0
      // semantics, not a silent drop
      val enriched = Tables.eventsStream(s, dir)
        .select(col("event_id"), col("event_type"), col("user_id"))
        .join(broadcast(dim), Seq("event_type"), "left")
        .select(col("event_id"), col("event_type"), col("user_id"),
          coalesce(col("weight"), lit(0L)).as("weight"))
      val q = enriched.writeStream.format("memory")
        .queryName("s2f_stream_enrich_out")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      s.table("s2f_stream_enrich_out")
    }),

    // S2g — STREAMING HLL SKETCH: per-event-type daily-active-user
    // cardinality as mapGroupsWithState with 512-byte CONSTANT state
    // per key (exact streaming distinct grows state forever — the
    // sketch is the production shape). Same register algebra as the
    // batch row; the min(register_sum) fold picks the final sketch
    // across any micro-batching.
    "s2g_stream_hll" -> scaled((s, dir) => {
      import s.implicits._
      val stream = Tables.eventsStream(s, dir)
        .select(col("event_type"),
          concat(col("user_id").cast("string"), lit("@"),
            expr("ts_us div 86400000000").cast("string")).as("uday"))
        .as[(String, String)]
      val q = streaming.StreamOps.hllPerKey(stream)
        .writeStream.format("memory").queryName("s2g_stream_hll_out")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      s.table("s2g_stream_hll_out")
        .groupBy(col("key").as("event_type"))
        .agg(min(struct(col("register_sum"), col("n_occupied"))).as("m"))
        .select(col("event_type"), col("m.n_occupied").as("n_occupied"),
          col("m.register_sum").as("register_sum"))
        .withColumn("hll_estimate",
          lit(0.7213) / (lit(1.0) + lit(1.079) / lit(512.0)) *
            lit(262144.0) * lit(4503599627370496.0) /
            col("register_sum").cast("double"))
    }),

    // S2h — STREAMING COUNT-MIN: the frequency sibling of the streaming
    // HLL — (j, slot) computed column-side with the batch hash family,
    // per-depth 1024-counter state rows, max-fold across emissions; the
    // final grid is probed with the exact top-20 user-days. Streamed
    // counters are bit-identical to batch ones, so estimates stay
    // one-sided.
    "s2h_stream_cm" -> scaled((s, dir) => {
      import s.implicits._
      val stream = Tables.eventsStream(s, dir)
        .select(concat(col("user_id").cast("string"), lit("@"),
          expr("ts_us div 86400000000").cast("string")).as("uday"))
        .select(col("uday"), explode(array((0 until 4).map(lit): _*)).as("j"))
        .select(col("j"),
          (llm.TextOps.h64c(concat(col("j").cast("string"), lit(":"),
            col("uday"))) % 1024L).as("slot"))
        .as[(Int, Long)]
      val q = streaming.StreamOps.countMinRows(stream)
        .writeStream.format("memory").queryName("s2h_stream_cm_out")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      // counters only grow → max per (j, slot) is the final grid
      val counters = s.table("s2h_stream_cm_out")
        .groupBy(col("j"), col("slot")).agg(max(col("cnt")).as("cnt"))
      val uday = t(s, dir, "events")
        .withColumn("ts_us", expr("ts_ns div 1000"))
        .select(concat(col("user_id").cast("string"), lit("@"),
          expr("ts_us div 86400000000").cast("string")).as("uday"))
      val probes = uday.groupBy(col("uday"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("uday")).limit(20)
      llm.Sketches.countMinLookup(counters, probes.select(col("uday")), "uday")
        .join(probes, Seq("uday"))
        .withColumn("overcount", col("cm_estimate") - col("exact_count"))
    }),

    // S2i — STREAMING QUANTILE: the percentile sibling of the streamed
    // HLL/count-min pair — per-event-type log-linear histogram state
    // (fixed 1024-long grid per key, bucket computed column-side with
    // the batch algebra), max-fold across update emissions, then P50/
    // P95/P99 from the streamed grid audited against the exact batch
    // percentile. Values are cents: floor(value·100), IEEE-identical
    // in both engines.
    "s2i_stream_quantile" -> scaled((s, dir) => {
      import s.implicits._
      val stream = Tables.eventsStream(s, dir)
        .select(col("event_type"),
          floor(col("value") * 100).cast("long").as("v"))
        .filter(col("v") >= 1L)
        .select(col("event_type"), llm.Sketches.logBucket("v").as("bucket_id"))
        .as[(String, Long)]
      val q = streaming.StreamOps.histogramRows(stream)
        .writeStream.format("memory").queryName("s2i_stream_quantile_out")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      // counters only grow → max per (key, bucket) is the final histogram
      val hist = s.table("s2i_stream_quantile_out")
        .groupBy(col("key").as("event_type"), col("bucket_id"))
        .agg(max(col("c")).as("c"))
      val sk = llm.Sketches.histQuantilesPerKey(hist, "event_type",
        Seq(50, 95, 99))
      val e = t(s, dir, "events")
        .select(col("event_type"),
          floor(col("value") * 100).cast("long").as("v"))
        .filter(col("v") >= 1L)
      val exact = exactValueQuantiles(e, Seq("event_type"), "v",
        count(lit(1)), Seq(50, 95, 99))
      sk.withColumn("q", col("q").cast("long"))
        .join(exact.withColumn("q", col("q").cast("long")),
          Seq("event_type", "q"))
        .select(col("event_type"), col("q"), col("sketch_v"), col("exact_v"),
          (abs(col("sketch_v") - col("exact_v")) * 16 <= col("exact_v"))
            .as("within_bound"))
    }),
  )
}
