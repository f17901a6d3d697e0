package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Q._

/** Event-stream processing. The transforms are plain
  * `DataFrame → DataFrame`, so the SAME code runs in batch (below,
  * oracle-checked) and under Structured Streaming
  * (`spark.readStream → withWatermark → transform → writeStream`;
  * exercised with a real streaming query in StreamingSpec).
  */
object EventStream {

  /** The customer → nation dimension frame for stream-static
    * enrichment (key = custkey, the event stream's user id space). */
  def staticDim(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))

  /** Stream-static enrichment + aggregate: identical transform in
    * batch and streaming (stream-static inner joins need no
    * watermark). `dim` is dimension-sized — broadcast. */
  def enrichByNation(ev: DataFrame, dim: DataFrame): DataFrame =
    ev.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("n_name"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(davg(col("value")), 6).as("mean_value"))

  /** Tumbling 1-hour window aggregation. In streaming mode, attach
    * `withWatermark("ts", ...)` upstream; the groupBy(window(...)) is
    * identical in both modes. */
  def hourlyAgg(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total"))

  /** Gap-based sessionization (30-minute inactivity): a session starts
    * where the gap from the previous event exceeds the timeout; session
    * id is the running count of starts. One shuffle on user_id. */
  def sessionize(ev: DataFrame, gapMicros: Long = 30L * 60 * 1000000): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("us", unix_micros(col("ts")))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(w) > gapMicros, 1)
          .otherwise(when(lag(col("us"), 1).over(w).isNull, 1).otherwise(0)))
      .withColumn("session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
  }

  /** Native session windows (`session_window`, Spark's built-in
    * gap-based session operator): same 30-minute-inactivity semantics
    * as [[sessionize]] but expressed as a groupBy on the generated
    * window — the streaming-native formulation (state store merges
    * sessions incrementally; no per-user global sort). A session's end
    * is the last event + gap, so `session_end` here = sessionize's
    * `session_end` + 30 min. */
  def sessionWindowAgg(ev: DataFrame, gap: String = "30 minutes"): DataFrame =
    ev.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Distinct users per tumbling hour — the windowed COUNT DISTINCT.
    * Expressed as dedup-then-count so the IDENTICAL transform runs
    * under Structured Streaming, where an aggregate cannot hold a
    * per-window distinct set: dedup on (user, hour) is the first
    * stateful stage, the windowed count the second (chained stateful
    * operators, append mode). The dedup is
    * `dropDuplicatesWithinWatermark` — plain `dropDuplicates` keys on
    * (user_id, hour_start), neither of which is the watermarked
    * attribute, so its state store would never evict and grow without
    * bound; the WithinWatermark form expires keys as the watermark
    * passes, and any duplicate arriving later than the delay is
    * already excluded from the finalized window by the downstream
    * aggregate. Batch rejects the WithinWatermark form outright (no
    * watermark, no state to evict), so the one mode-dependent line
    * branches on `isStreaming`; every surviving row's ts falls in its
    * hour either way, so which duplicate survives never changes the
    * count and the oracle-checked batch result is identical. */
  def hourlyUniques(ev: DataFrame): DataFrame = {
    val hourly = ev.select(col("ts"), col("user_id"))
      .withColumn("hour_start", date_trunc("hour", col("ts")))
    val deduped = if (hourly.isStreaming)
      hourly.dropDuplicatesWithinWatermark("user_id", "hour_start")
    else hourly.dropDuplicates("user_id", "hour_start")
    deduped
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("window.start").as("hour_start"), col("n_users"))
  }

  /** Per-(hour window, type) counts — the streaming-stateful stage of
    * the trending computation (identical batch/stream). */
  def windowTypeCounts(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Trending ranking over finalized window counts: growth of each
    * type's count vs ITS OWN previous hour (missing previous hour
    * counts as 0 — lag alone would skip gaps, so the adjacency is
    * checked explicitly), top 3 per window by (growth desc, type).
    * Runs on the windows×types-bounded count table, never raw events —
    * under streaming this is the foreachBatch post-stage on finalized
    * windows while [[windowTypeCounts]] carries the unbounded state
    * (StreamingSpec drives exactly that split and proves parity). */
  def trendRank(counts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("win_start"))
    val rankW = Window.partitionBy(col("win_start"))
      .orderBy(col("growth").desc, col("event_type"))
    counts
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .withColumn("prev_start", lag(col("win_start"), 1).over(w))
      .withColumn("prev_n",
        when(col("prev_start") === col("win_start") - expr("INTERVAL 1 HOUR"),
          col("prev_n")).otherwise(lit(0L)))
      .withColumn("growth", col("n") - col("prev_n"))
      .withColumn("trend_rank", row_number().over(rankW))
      .filter(col("trend_rank") <= 3)
      .select(col("win_start"), col("trend_rank"), col("event_type"),
        col("n"), col("prev_n"), col("growth"))
  }

  /** Sliding 1-hour window, 15-minute slide (epoch-aligned, Spark's
    * default): each event lands in 4 overlapping windows. Identical in
    * batch and under `withWatermark → groupBy(window(...))`. */
  def slidingAgg(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total"))

  /** Click→purchase attribution: each purchase joined to the same
    * user's clicks within the preceding `windowMinutes`. Under
    * Structured Streaming both inputs carry watermarks and this
    * time-range predicate is exactly what lets Spark bound the join
    * state (stream-stream interval join); the batch plan is the same
    * expression. Comparisons run on the event-time columns so the
    * streaming planner can derive state eviction. */
  def purchaseAttribution(ev: DataFrame, windowMinutes: Int = 10): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"),
        col("event_id").as("buy_id"))
    buys.join(clicks,
      col("buy_user") === col("click_user") &&
        col("click_ts") <= col("buy_ts") &&
        col("click_ts") >= col("buy_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("buy_id"), col("click_id"), col("buy_user").as("user_id"))
  }

  /** Keep-first dedup per (user, minute bucket) — the batch equivalent
    * of streaming `dropDuplicatesWithinWatermark` over a bucketed key
    * (exercised as a real streaming query in StreamingSpec). */
  def dedupByMinute(ev: DataFrame): DataFrame = {
    // integral `div` (truncation toward zero), matching the oracle's
    // `//`; floor() would diverge on pre-1970 (negative-µs) timestamps
    val withBucket = ev.withColumn("minute_bucket",
      expr("unix_micros(ts) div 60000000"))
    val w = Window.partitionBy(col("user_id"), col("minute_bucket"))
      .orderBy(col("event_id"))
    withBucket.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("event_id"), col("user_id"), col("minute_bucket"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // conversion funnel: first view → first click within 1h → first
    // purchase within 1h, per user; LEFT joins keep non-converters.
    // All µs arithmetic so both engines compare identically.
    "events_funnel" -> { (s, dir) =>
      val e = events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t_view"))
      val c = e.filter(col("event_type") === "click").as("e")
        .join(v.as("v"), col("e.user_id") === col("v.user_id") &&
          col("e.us") >= col("t_view") &&
          col("e.us") <= col("t_view") + lit(3600000000L))
        .groupBy(col("e.user_id").as("cu"))
        .agg(min(col("e.us")).as("t_click"))
      val p = e.filter(col("event_type") === "purchase").as("e2")
        .join(c.as("c"), col("e2.user_id") === col("cu") &&
          col("e2.us") >= col("t_click") &&
          col("e2.us") <= col("t_click") + lit(3600000000L))
        .groupBy(col("e2.user_id").as("pu"))
        .agg(min(col("e2.us")).as("t_buy"))
      v.join(c, col("user_id") === col("cu"), "left")
        .join(p, col("user_id") === col("pu"), "left")
        .select(col("user_id"), col("t_view"), col("t_click"), col("t_buy"))
        .orderBy(col("user_id"))
    },
    // weekly cohort retention: users active in epoch-week w who are
    // also active in w+1
    "events_cohort_retention" -> { (s, dir) =>
      val uw = events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("w"))
        .distinct()
      uw.as("a").join(uw.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.w") === col("a.w") + 1, "left")
        .groupBy(col("a.w").as("w"))
        .agg(countDistinct(col("a.user_id")).as("active"),
          countDistinct(col("b.user_id")).as("retained"))
        .orderBy(col("w"))
    },
    "stream_join_attrib" -> { (s, dir) =>
      purchaseAttribution(events(s, dir))
        .orderBy(col("buy_id"), col("click_id"))
    },
    // ROLLING activity-retention curve (the triangle chart behind
    // events_cohort_retention's single w→w+1 column): for each week w,
    // of the users ACTIVE in w, the fraction also active k ∈ 0..3
    // weeks later. Note this is rolling retention — every active week
    // anchors a row for a user, so later weeks include returning
    // users — not the first-seen-week cohort triangle (that variant
    // would derive cohort = min(w) per user before the offset join;
    // both conventions are standard, this one answers "of this week's
    // actives, who sticks"). Distinct (user, week) first (one shuffle
    // — the only data-sized step), then a user-keyed self-join
    // exploded over the bounded offset list; output is |weeks|×4 rows.
    "events_retention_curve" -> { (s, dir) =>
      val uw = events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) div 604800000000").as("w"))
        .distinct()
      val cohort = uw.groupBy(col("w"))
        .agg(countDistinct(col("user_id")).as("cohort_size"))
      uw.alias("a")
        .join(uw.alias("b"), col("a.user_id") === col("b.user_id"))
        .filter(col("b.w") >= col("a.w") && col("b.w") <= col("a.w") + 3)
        .groupBy(col("a.w").as("w"), (col("b.w") - col("a.w")).as("k"))
        .agg(count(lit(1)).as("retained"))
        .join(broadcast(cohort), "w")
        .withColumn("retention",
          round(col("retained").cast(DoubleType) / col("cohort_size"), 6))
        .select(col("w"), col("k"), col("cohort_size"), col("retained"),
          col("retention"))
        .orderBy(col("w"), col("k"))
    },

    // session behavior summary over the sessionize output: session
    // count, bounce rate (single-event sessions — THE engagement KPI
    // sessionization exists to feed), events/session, median session
    // duration in seconds (exact rank). The session table is
    // |sessions|-sized, so everything after sessionize is bounded.
    "events_session_stats" -> { (s, dir) =>
      val sess = sessionize(events(s, dir))
        .withColumn("dur_s",
          floor((unix_micros(col("session_end")) -
            unix_micros(col("session_start"))) / 1000000L))
      val w = Window.orderBy(col("dur_s"), col("user_id"),
        col("session_id"))
      val wAll = Window.partitionBy()
      sess
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy()
        .agg(max(col("n")).as("n_sessions"),
          round(sum((col("n_events") === 1).cast(IntegerType))
            .cast(DoubleType) / max(col("n")), 6).as("bounce_rate"),
          q6(davg(col("n_events"))).as("mean_events_per_session"),
          max(when(col("rk") === ceil(col("n") / lit(2.0)).cast(LongType),
            col("dur_s"))).as("median_duration_s"))
    },

    // time-to-convert distribution (first view → first subsequent
    // purchase, in whole minutes): the product-analytics latency
    // metric next to the funnel's step counts. Integer-minute deltas
    // + exact rank-based percentiles (⌈n·q⌉-th order statistic — no
    // float interpolation to diverge cross-engine) over the
    // |converted-users|-bounded frame; one user_id shuffle total.
    "events_time_to_convert" -> { (s, dir) =>
      val e = events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t_view"))
      val p = e.filter(col("event_type") === "purchase")
        .join(v, "user_id")
        .filter(col("us") >= col("t_view"))
        .groupBy(col("user_id"), col("t_view"))
        .agg(min(col("us")).as("t_buy"))
        .select(col("user_id"),
          floor((col("t_buy") - col("t_view")) / 60000000L).as("mins"))
      val w = Window.orderBy(col("mins"), col("user_id"))
      val wAll = Window.partitionBy()
      p.withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("k50", ceil(col("n") * 0.5).cast(LongType))
        .withColumn("k90", ceil(col("n") * 0.9).cast(LongType))
        .groupBy()
        .agg(max(col("n")).as("n_converted"),
          max(when(col("rk") === col("k50"), col("mins")))
            .as("median_minutes"),
          max(when(col("rk") === col("k90"), col("mins")))
            .as("p90_minutes"),
          q6(davg(col("mins"))).as("mean_minutes"))
    },

    // linear multi-touch attribution: each purchase's value is split
    // EQUALLY across the user's clicks in the preceding hour (the
    // multi-touch answer to last-touch purchaseAttribution's
    // single-credit model), then attributed revenue rolls up by click
    // hour-of-day — "which hours' clicks drive purchases". Shape: one
    // user-keyed equi-join with a time-band predicate (per-user event
    // lists are bounded), per-purchase click count from a window over
    // the joined pairs, one 24-row agg. Splits are per-row doubles
    // over exact counts; totals go through the decimal sum.
    "events_attribution_linear" -> { (s, dir) =>
      val e = events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"),
          col("event_id"), unix_micros(col("ts")).as("us"),
          hour(col("ts")).as("hod"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("buy_id"),
          col("value").as("buy_value"), col("us").as("buy_us"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("us").as("click_us"), col("hod"))
      val touched = buys.join(clicks, Seq("user_id"))
        .filter(col("click_us") >= col("buy_us") - lit(3600000000L) &&
          col("click_us") <= col("buy_us"))
      val wBuy = Window.partitionBy(col("buy_id"))
      touched
        .withColumn("k", count(lit(1)).over(wBuy))
        .withColumn("credit", col("buy_value") / col("k"))
        .groupBy(col("hod"))
        .agg(count(lit(1)).as("n_touches"),
          countDistinct(col("buy_id")).as("n_purchases"),
          round(dsum(col("credit")), 6).as("attributed_value"))
        .orderBy(col("hod"))
    },

    // Exact Shapley-value channel attribution — the game-theoretic
    // answer to "which channels actually drive conversions" that
    // last-touch and linear splits approximate. Each converted user
    // reduces to the BITMASK of channels touched before first
    // purchase (the only data-sized work: first-purchase agg + one
    // user-keyed distinct); the coalition value v(S) = conversions
    // whose touchset ⊆ S and every Shapley term then live on 16-row
    // frames, so the exact formula (not a sampling approximation) is
    // free at any corpus size — feasible because |channels| is small
    // and fixed, which is the realistic marketing-attribution regime.
    // Conservation (Σφ = touched conversions) is spec-locked; terms
    // are 9-dp decimal-quantized for cross-engine replay.
    "events_shapley_attribution" -> { (s, dir) =>
      val e = events(s, dir)
      val fp = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("cts"))
      val mask = e.join(fp, Seq("user_id"))
        .filter(col("ts") < col("cts") &&
          col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L)
          .when(col("event_type") === "error", 2L)
          .when(col("event_type") === "signup", 4L)
          .when(col("event_type") === "view", 8L).otherwise(0L))
          .as("m"))
      val c = fp.join(mask, Seq("user_id"), "left")
        .select(coalesce(col("m"), lit(0L)).as("m"))
        .groupBy(col("m")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // 16-row frame, reused per subset
      val subs = s.range(16).select(col("id").as("s"))
      // LEFT join on the subset condition, not a crossJoin: with zero
      // conversions c is empty and a crossJoin would drop all 16
      // subset rows (and the whole output) while the oracle keeps
      // them with v = 0
      val v = subs.join(broadcast(c),
          col("m").bitwiseAND(col("s")) === col("m"), "left")
        .groupBy(col("s"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("v"))
        .localCheckpoint()
      import s.implicits._
      val ch = Seq(("click", 1L), ("error", 2L), ("signup", 4L),
        ("view", 8L)).toDF("channel", "bit")
      val v0 = v.select(col("s").as("s0"), col("v").as("va"))
      val v1 = v.select(col("s").as("s1"), col("v").as("vb"))
      val weight = when(col("sz") === 0, lit(0.25))
        .when(col("sz") === 1, lit(1.0) / 12)
        .when(col("sz") === 2, lit(1.0) / 12)
        .otherwise(lit(0.25))
      ch.join(v0, col("s0").bitwiseAND(col("bit")) === 0)
        .join(v1, col("s1") === col("s0").bitwiseOR(col("bit")))
        .withColumn("sz",
          (col("s0") % 2) + ((col("s0") / 2).cast(LongType) % 2) +
            ((col("s0") / 4).cast(LongType) % 2) +
            ((col("s0") / 8).cast(LongType) % 2))
        .withColumn("term", weight * (col("vb") - col("va")))
        .groupBy(col("channel"))
        .agg(round(sum(col("term").cast(DecimalType(18, 9)))
          .cast(DoubleType), 6).as("shapley"))
        .orderBy(col("channel"))
    },

    // Markov removal-effect attribution (the third classical model
    // next to linear splits and Shapley): build the user-journey
    // transition matrix (start → channels → purchase/null, cut at
    // first purchase), compute P(conversion) by iterating the
    // absorption recursion, and credit each channel by how much
    // P(conversion) drops when walks through it are redirected to
    // null. Removal needs NO second matrix — clamping p(channel) = 0
    // inside the same iteration is equivalent, so all five variants
    // (baseline + 4 removals) ride one variant column through 12
    // metadata-sized steps. Per-step products decimal-quantized; the
    // oracle replays the identical chained recursion.
    "events_markov_removal" -> { (s, dir) =>
      import s.implicits._
      val chans = Seq("click", "error", "signup", "view")
      val e = events(s, dir)
      val wu = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val seq0 = e.select(col("user_id"), col("event_type"),
        row_number().over(wu).as("rn"))
      val fp = seq0.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
      val kept = seq0.join(fp, Seq("user_id"), "left")
        .filter(col("prn").isNull || col("rn") <= col("prn"))
      val wk = Window.partitionBy(col("user_id")).orderBy(col("rn"))
      val tr0 = kept.select(
        coalesce(lag(col("event_type"), 1).over(wk), lit("start"))
          .as("a"), col("event_type").as("b"))
      val trail = kept.groupBy(col("user_id"))
        .agg(max_by(col("event_type"), col("rn")).as("a"))
        .filter(col("a") =!= "purchase")
        .select(col("a"), lit("null").as("b"))
      val wa = Window.partitionBy(col("a"))
      val tp = tr0.union(trail)
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
        .select(col("a"), col("b"),
          (col("n").cast(DoubleType) / sum(col("n")).over(wa)).as("p"))
        .localCheckpoint() // |states|²-bounded; reused 13×
      val conv = tp.filter(col("b") === "purchase")
        .select(col("a").as("st"), col("p").as("cv"))
      val variants = ("none" +: chans).toDF("rm")
      val states = chans.toDF("st")
      def dec9(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(18, 9))).cast(DoubleType)
      // metadata-sized state, one [[graft.ops.Fixpoint]] checkpoint a step
      val pv0 = variants.crossJoin(states).withColumn("p", lit(0.0))
      val pv = graft.ops.Fixpoint.run(pv0, 12) { (pv, _) =>
        val acc = tp
          .join(pv.select(col("rm"), col("st").as("b"), col("p")
            .as("pb")), Seq("b"))
          .groupBy(col("rm"), col("a"))
          .agg(dec9(col("p") * col("pb")).as("acc"))
        variants.crossJoin(states)
          .join(broadcast(conv), Seq("st"), "left")
          .join(acc.select(col("rm"), col("a").as("st"), col("acc")),
            Seq("rm", "st"), "left")
          .select(col("rm"), col("st"),
            when(col("rm") === col("st"), lit(0.0))
              .otherwise(coalesce(col("cv"), lit(0.0)) +
                coalesce(col("acc"), lit(0.0))).as("p"))
      }.state
      val p0 = tp.filter(col("a") === "start" && col("b") === "purchase")
        .agg(coalesce(max(col("p")), lit(0.0)).as("p0"))
      val startTp = tp
        .filter(col("a") === "start" && col("b").isin(chans: _*))
        .select(col("b").as("st"), col("p").as("sp"))
      // accumulate per variant from the start transitions, then LEFT
      // join back to variants: if no user's first event is a channel,
      // startTp is empty and a crossJoin would collapse pstart to zero
      // rows while the oracle keeps all variants with pconv = p0
      val accS = startTp.join(pv, Seq("st"))
        .groupBy(col("rm"))
        .agg(dec9(when(col("rm") === col("st"), lit(0.0))
          .otherwise(col("sp") * col("p"))).as("acc"))
      val pstart = variants.join(accS, Seq("rm"), "left")
        .crossJoin(broadcast(p0))
        .select(col("rm"),
          (col("p0") + coalesce(col("acc"), lit(0.0))).as("pconv"))
        .localCheckpoint()
      val base = pstart.filter(col("rm") === "none")
        .select(col("pconv").as("pbase"))
      pstart.filter(col("rm") =!= "none")
        .crossJoin(broadcast(base))
        .select(col("rm").as("channel"),
          round(col("pconv"), 6).as("p_conv"),
          round(lit(1.0) - col("pconv") / col("pbase"), 6)
            .as("removal_effect"))
        .orderBy(col("channel"))
    },

    // stream-static enrichment — THE most common streaming pattern:
    // each microbatch joins a slowly-changing dimension (customer →
    // nation) before aggregating. Structured Streaming supports
    // stream-static inner joins natively with no watermark, and the
    // transform is identical in batch (this registered oracle-checked
    // form) and under MemoryStream (StreamingSpec proves batch≡stream
    // on the final counts). Dim side broadcast (dimension-sized); at
    // a scale where it isn't, the same join shuffles on the key.
    "stream_static_enrich" -> { (s, dir) =>
      enrichByNation(events(s, dir), staticDim(s, dir))
        .orderBy(col("n_name"), col("event_type"))
    },
    "stream_dedup_bucket" -> { (s, dir) =>
      dedupByMinute(events(s, dir)).orderBy(col("event_id"))
    },
    "stream_sliding_window" -> { (s, dir) =>
      slidingAgg(events(s, dir))
        .orderBy(col("win_start"), col("event_type"))
    },
    "stream_hourly_window" -> { (s, dir) =>
      hourlyAgg(events(s, dir))
        .orderBy(col("hour_start"), col("event_type"))
    },
    "stream_hourly_uniques" -> { (s, dir) =>
      hourlyUniques(events(s, dir))
        .orderBy(col("hour_start"))
    },
    "stream_sessionize" -> { (s, dir) =>
      sessionize(events(s, dir))
        .orderBy(col("user_id"), col("session_id"))
    },
    // trending event types: hour-over-hour growth ranking, top 3 per
    // window — windowed counts are the streaming-stateful stage, the
    // growth/rank post-stage runs on the bounded finalized-window table
    "stream_trending_types" -> { (s, dir) =>
      trendRank(windowTypeCounts(events(s, dir)))
        .orderBy(col("win_start"), col("trend_rank"))
    },
    "stream_session_native" -> { (s, dir) =>
      sessionWindowAgg(events(s, dir))
        .orderBy(col("user_id"), col("session_start"))
    },
    // time-series gap filling: zero rows for (hour, type) combinations
    // with no events, via a generated hour spine × the distinct type
    // set (both tiny — the spine is one row per hour of the span and
    // the cross join is broadcast; the fact side joins once)
    // event-lateness profile: how far behind the stream's running
    // high-water mark events arrive — THE measurement that sizes a
    // watermark before deploying one (p95 lateness 40 min → a 1 h
    // watermark drops n_past_1h events; these columns say both).
    // Arrival order is event_id; the running max is computed per
    // ingest shard (user_id % 8) — the same bounded-window shard
    // pattern as pipeline_pack_sequences_sharded, matching how a real
    // stream's order is only defined per partition. One shuffle to
    // shards, per-shard prefix-max window, then a bounded per-type
    // aggregate; exact `percentile` ↔ quantile_cont cross-engine.
    "stream_lateness_profile" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("shard")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      events(s, dir)
        .withColumn("shard", col("user_id") % 8)
        .withColumn("late_us",
          unix_micros(max(col("ts")).over(w)) - unix_micros(col("ts")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(expr("percentile(late_us, 0.5)") / 1000000, 3)
            .as("p50_late_s"),
          round(expr("percentile(late_us, 0.95)") / 1000000, 3)
            .as("p95_late_s"),
          round(max(col("late_us")) / 1000000.0, 3).as("max_late_s"),
          sum(when(col("late_us") > 3600L * 1000000L, 1L).otherwise(0L))
            .as("n_past_1h"))
        .orderBy(col("event_type"))
    },

    "events_gap_fill" -> { (s, dir) =>
      val hourly = hourlyAgg(events(s, dir))
      val span = hourly.agg(min(col("hour_start")).as("h0"),
        max(col("hour_start")).as("h1"))
      val hours = span.select(explode(
        sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
        .as("hour_start"))
      val types = hourly.select(col("event_type")).distinct()
      hours.crossJoin(broadcast(types))
        .join(hourly, Seq("hour_start", "event_type"), "left")
        .select(col("hour_start"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("hour_start"), col("event_type"))
    }
  )

  /** DuckDB mirror of events_markov_removal: the same 12-step clamped
    * absorption recursion as chained CTEs with a variant column (the
    * absorptionSql pattern; MATERIALIZED matrix so steps don't
    * re-derive the journey scan). */
  private def markovRemovalSql(steps: Int): String = {
    val chain = (1 to steps).map { k =>
      s"""p$k AS (
         |  SELECT v.rm, st.st,
         |    CASE WHEN v.rm = st.st THEN 0.0 ELSE
         |      coalesce(cv.p, 0) + coalesce(x.acc, 0) END AS p
         |  FROM variants v CROSS JOIN states st
         |  LEFT JOIN conv cv ON cv.st = st.st
         |  LEFT JOIN (
         |    SELECT pv.rm, tp.a AS st,
         |      CAST(sum(CAST(tp.p * pv.p AS DECIMAL(18,9))) AS DOUBLE)
         |        AS acc
         |    FROM tp JOIN p${k - 1} pv ON tp.b = pv.st
         |    GROUP BY 1, 2) x ON x.rm = v.rm AND x.st = st.st)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS rn
       |  FROM events),
       |fp AS (SELECT user_id, min(rn) AS prn FROM seq
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |kept AS (
       |  SELECT s.user_id, s.event_type, s.rn
       |  FROM seq s LEFT JOIN fp ON s.user_id = fp.user_id
       |  WHERE fp.prn IS NULL OR s.rn <= fp.prn),
       |tr0 AS (
       |  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
       |    ORDER BY rn), 'start') AS a, event_type AS b
       |  FROM kept),
       |trail AS (
       |  SELECT max_by(event_type, rn) AS a, 'null' AS b
       |  FROM kept GROUP BY user_id
       |  HAVING max_by(event_type, rn) <> 'purchase'),
       |cnt AS (SELECT a, b, count(*) AS n FROM
       |  (SELECT a, b FROM tr0 UNION ALL SELECT a, b FROM trail)
       |  GROUP BY 1, 2),
       |tp AS MATERIALIZED (
       |  SELECT a, b, CAST(n AS DOUBLE)
       |    / sum(n) OVER (PARTITION BY a) AS p
       |  FROM cnt),
       |variants AS (SELECT unnest(
       |  ['none', 'click', 'error', 'signup', 'view']) AS rm),
       |states AS (SELECT unnest(
       |  ['click', 'error', 'signup', 'view']) AS st),
       |conv AS MATERIALIZED (
       |  SELECT a AS st, p FROM tp WHERE b = 'purchase'),
       |p0 AS (SELECT rm, st, 0.0 AS p
       |  FROM variants CROSS JOIN states),
       |$chain,
       |pstart AS (
       |  SELECT v.rm,
       |    coalesce((SELECT p FROM tp
       |      WHERE a = 'start' AND b = 'purchase'), 0)
       |    + coalesce(CAST(sum(CAST(CASE WHEN pv.st = v.rm THEN 0
       |        ELSE tp.p * pv.p END AS DECIMAL(18,9))) AS DOUBLE), 0)
       |      AS pconv
       |  FROM variants v
       |  LEFT JOIN tp ON tp.a = 'start'
       |    AND tp.b IN ('click', 'error', 'signup', 'view')
       |  LEFT JOIN p$steps pv ON pv.rm = v.rm AND pv.st = tp.b
       |  GROUP BY 1)
       |SELECT rm AS channel, round(pconv, 6) AS p_conv,
       |  round(1.0 - pconv
       |    / (SELECT pconv FROM pstart WHERE rm = 'none'), 6)
       |    AS removal_effect
       |FROM pstart WHERE rm <> 'none' ORDER BY 1""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "events_markov_removal" -> markovRemovalSql(12),
    "stream_lateness_profile" ->
      """WITH l AS (SELECT event_type,
        |    epoch_us(max(ts) OVER (PARTITION BY user_id % 8
        |      ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      - epoch_us(ts) AS late_us
        |  FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  round(quantile_cont(late_us, 0.5) / 1000000, 3) AS p50_late_s,
        |  round(quantile_cont(late_us, 0.95) / 1000000, 3) AS p95_late_s,
        |  round(max(late_us) / 1000000.0, 3) AS max_late_s,
        |  CAST(sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_past_1h
        |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.us) AS t_click
        |      FROM e JOIN v ON e.user_id = v.user_id
        |       AND e.us >= v.t_view AND e.us <= v.t_view + 3600000000
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.us) AS t_buy
        |      FROM e JOIN c ON e.user_id = c.user_id
        |       AND e.us >= c.t_click AND e.us <= c.t_click + 3600000000
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT v.user_id, t_view, t_click, t_buy
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,
    "events_cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS w
        |  FROM events)
        |SELECT a.w, count(DISTINCT a.user_id) AS active,
        |  count(DISTINCT b.user_id) AS retained
        |FROM uw a LEFT JOIN uw b
        |  ON a.user_id = b.user_id AND b.w = a.w + 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // comparisons in µs on both engines (events parquet is ns;
    // epoch_us truncates exactly like the Spark-side ns→µs surface)
    "stream_join_attrib" ->
      """SELECT b.event_id AS buy_id, c.event_id AS click_id,
        |  b.user_id AS user_id
        |FROM events b JOIN events c
        |  ON b.event_type = 'purchase' AND c.event_type = 'click'
        | AND b.user_id = c.user_id
        | AND epoch_us(c.ts) <= epoch_us(b.ts)
        | AND epoch_us(c.ts) >= epoch_us(b.ts) - 600000000
        |ORDER BY buy_id, click_id""".stripMargin,
    // each event belongs to the 4 epoch-aligned 15-min-stepped windows
    // covering it — reproduced with a range(0,4) cross join
    "stream_sliding_window" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    (us // 900000000) * 900000000 - k * 900000000 AS win_us
        |  FROM e, (SELECT unnest(range(0, 4)) AS k)
        |  WHERE us < (us // 900000000) * 900000000 - k * 900000000
        |    + 3600000000)
        |SELECT make_timestamp(win_us) AS win_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_dedup_bucket" ->
      """SELECT event_id, user_id, epoch_us(ts) // 60000000 AS minute_bucket
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id, epoch_us(ts) // 60000000
        |  ORDER BY event_id) = 1
        |ORDER BY event_id""".stripMargin,
    "events_retention_curve" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 604800000000 AS w FROM events),
        |cohort AS (SELECT w, count(DISTINCT user_id) AS cohort_size
        |  FROM uw GROUP BY 1),
        |r AS (SELECT a.w AS w, b.w - a.w AS k, count(*) AS retained
        |  FROM uw a JOIN uw b ON a.user_id = b.user_id
        |  WHERE b.w >= a.w AND b.w <= a.w + 3
        |  GROUP BY 1, 2)
        |SELECT r.w, r.k, cohort_size, retained,
        |  round(CAST(retained AS DOUBLE) / cohort_size, 6) AS retention
        |FROM r JOIN cohort ON cohort.w = r.w
        |ORDER BY r.w, r.k""".stripMargin,
    "events_session_stats" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1
        |         WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id
        |  FROM g),
        |sess AS (SELECT user_id, session_id, count(*) AS n_events,
        |    CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts)))
        |      / 1000000.0) AS BIGINT) AS dur_s
        |  FROM s GROUP BY user_id, session_id),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY dur_s, user_id, session_id) AS rk,
        |    count(*) OVER () AS n
        |  FROM sess)
        |SELECT max(n) AS n_sessions,
        |  round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / max(n), 6) AS bounce_rate,
        |  floor(CAST(sum(CAST(n_events AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(n_events) * 1000000.0 + 0.5) / 1000000.0
        |    AS mean_events_per_session,
        |  max(CASE WHEN rk = CAST(ceil(n / 2.0) AS BIGINT)
        |    THEN dur_s END) AS median_duration_s
        |FROM r""".stripMargin,
    "events_time_to_convert" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        |v AS (SELECT user_id, min(us) AS t_view FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT e.user_id,
        |    CAST(floor((min(e.us) - v.t_view) / 60000000.0) AS BIGINT)
        |      AS mins
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'purchase' AND e.us >= v.t_view
        |  GROUP BY e.user_id, v.t_view),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY mins, user_id) AS rk,
        |    count(*) OVER () AS n
        |  FROM p),
        |k AS (SELECT *, CAST(ceil(n * 0.5) AS BIGINT) AS k50,
        |    CAST(ceil(n * 0.9) AS BIGINT) AS k90 FROM r)
        |SELECT max(n) AS n_converted,
        |  max(CASE WHEN rk = k50 THEN mins END) AS median_minutes,
        |  max(CASE WHEN rk = k90 THEN mins END) AS p90_minutes,
        |  floor(CAST(sum(CAST(mins AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(mins) * 1000000.0 + 0.5) / 1000000.0
        |    AS mean_minutes
        |FROM k""".stripMargin,
    "events_shapley_attribution" ->
      """WITH fp AS (
        |  SELECT user_id, min(ts) AS cts FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |touch AS (
        |  SELECT DISTINCT e.user_id, e.event_type
        |  FROM events e JOIN fp ON e.user_id = fp.user_id
        |  WHERE e.ts < fp.cts AND e.event_type <> 'purchase'),
        |mask AS (
        |  SELECT user_id, CAST(sum(CASE event_type
        |      WHEN 'click' THEN 1 WHEN 'error' THEN 2
        |      WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END)
        |    AS BIGINT) AS m
        |  FROM touch GROUP BY 1),
        |allm AS (
        |  SELECT fp.user_id, coalesce(mask.m, 0) AS m
        |  FROM fp LEFT JOIN mask ON fp.user_id = mask.user_id),
        |c AS (SELECT m, count(*) AS c FROM allm GROUP BY 1),
        |subs AS (SELECT unnest(range(0, 16)) AS s),
        |v AS (
        |  SELECT subs.s AS s,
        |    CAST(coalesce(sum(CASE WHEN (c.m & subs.s) = c.m
        |      THEN c.c END), 0) AS BIGINT) AS v
        |  FROM subs LEFT JOIN c ON TRUE GROUP BY 1),
        |ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
        |  ('signup', 4), ('view', 8)) AS t(channel, bit)),
        |terms AS (
        |  SELECT ch.channel,
        |    (v0.s % 2) + ((v0.s // 2) % 2) + ((v0.s // 4) % 2)
        |      + ((v0.s // 8) % 2) AS sz,
        |    v1.v - v0.v AS dv
        |  FROM ch JOIN v v0 ON (v0.s & ch.bit) = 0
        |  JOIN v v1 ON v1.s = (v0.s | ch.bit))
        |SELECT channel,
        |  round(CAST(sum(CAST((CASE sz WHEN 0 THEN 0.25
        |    WHEN 1 THEN 1.0/12 WHEN 2 THEN 1.0/12 ELSE 0.25 END) * dv
        |    AS DECIMAL(18,9))) AS DOUBLE), 6) AS shapley
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_attribution_linear" ->
      """WITH e AS (SELECT user_id, event_type, value, event_id,
        |    epoch_us(ts) AS us, hour(ts) AS hod FROM events),
        |buys AS (SELECT user_id, event_id AS buy_id, value AS buy_value,
        |    us AS buy_us FROM e WHERE event_type = 'purchase'),
        |clicks AS (SELECT user_id, event_id AS click_id, us AS click_us,
        |    hod FROM e WHERE event_type = 'click'),
        |touched AS (SELECT b.buy_id, b.buy_value, c.hod
        |  FROM buys b JOIN clicks c ON c.user_id = b.user_id
        |    AND c.click_us >= b.buy_us - 3600000000
        |    AND c.click_us <= b.buy_us),
        |k AS (SELECT *, count(*) OVER (PARTITION BY buy_id) AS k
        |  FROM touched)
        |SELECT hod, count(*) AS n_touches,
        |  count(DISTINCT buy_id) AS n_purchases,
        |  round(CAST(sum(CAST(buy_value / k AS DECIMAL(18,6)))
        |    AS DOUBLE), 6) AS attributed_value
        |FROM k GROUP BY hod ORDER BY hod""".stripMargin,
    "stream_static_enrich" ->
      """SELECT n_name, event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(value), 6) AS mean_value
        |FROM events
        |JOIN customer ON user_id = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_hourly_window" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_hourly_uniques" ->
      """SELECT date_trunc('hour', ts) AS hour_start,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_gap_fill" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT unnest(generate_series(
        |    (SELECT min(hour_start) FROM h),
        |    (SELECT max(hour_start) FROM h),
        |    INTERVAL 1 HOUR)) AS hour_start),
        |ty AS (SELECT DISTINCT event_type FROM h)
        |SELECT spine.hour_start AS hour_start, ty.event_type AS event_type,
        |  coalesce(h.n, 0) AS n
        |FROM spine CROSS JOIN ty
        |LEFT JOIN h ON h.hour_start = spine.hour_start
        |  AND h.event_type = ty.event_type
        |ORDER BY 1, 2""".stripMargin,
    // session_window semantics from the same gap CTE: start = first
    // event, end = last event + gap
    "stream_session_native" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1
        |         WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "stream_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1
        |         WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
        |         ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "stream_trending_types" ->
      """WITH c AS (
        |  SELECT date_trunc('hour', ts) AS win_start, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT win_start, event_type, n,
        |    CASE WHEN lag(win_start) OVER w = win_start - INTERVAL 1 HOUR
        |         THEN lag(n) OVER w ELSE 0 END AS prev_n
        |  FROM c
        |  WINDOW w AS (PARTITION BY event_type ORDER BY win_start))
        |SELECT win_start,
        |  CAST(row_number() OVER (PARTITION BY win_start
        |    ORDER BY n - prev_n DESC, event_type) AS INT) AS trend_rank,
        |  event_type, n, prev_n, n - prev_n AS growth
        |FROM g
        |QUALIFY trend_rank <= 3
        |ORDER BY win_start, trend_rank""".stripMargin
  )
}
