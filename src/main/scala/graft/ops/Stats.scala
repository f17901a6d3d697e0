package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Q._

/** Experimentation & statistical-inference queries: the A/B-test
  * readout, distribution-independence and correlation diagnostics, and
  * classical time-series statistics (autocorrelation, CUSUM changepoint,
  * seasonal-naive backtest) over the event stream.
  *
  * The reference engine (a 642-line ingest tool) has none of this —
  * these extend the analytics surface a warehouse user expects next to
  * the drift monitors (monitor_psi) and anomaly flags
  * (events_anomaly_zscore) already registered.
  *
  * Determinism contract (shared with the rest of the surface): every
  * data-sized reduction goes through integer counts or the
  * DECIMAL(18,6) order-independent sum ([[Q.dsum]]); doubles appear
  * only in per-row arithmetic or in post-aggregate formulas over
  * already-exact sums, evaluated by the same expression tree in the
  * DuckDB oracle; results round to 6 dp with a trailing unique-key
  * orderBy.
  *
  * 100 TB shapes: every query here reduces the stream to a bounded
  * frame (per-(type, arm) moments, per-(type, hour) counts, a 15-cell
  * moment vector) in ONE partial+final hash aggregate before any
  * window/join runs — the windows and self-joins only ever touch
  * metadata-sized tables (|types|, |hours|, |lags| rows).
  */
object Stats {

  /** Hourly event counts per type — the shared one-shuffle reduction. */
  private def hourlyByType(e: DataFrame): DataFrame =
    e.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n"))

  /** Shared reduction behind the rank tests and the KS drift monitor:
    * per-(type, cent-quantized value) histogram with conditional
    * two-population counts. The grid is VALUE-bounded (≤49k cells per
    * type for a 2-dp money metric) regardless of row count — what
    * makes exact ranks/CDFs feasible at 100 TB. */
  private def centsHist(e: DataFrame,
      inA: org.apache.spark.sql.Column): DataFrame =
    e.withColumn("cents", round(col("value") * 100).cast(LongType))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("ca"),
        sum(when(!inA, 1L).otherwise(0L)).as("cb"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A/B experiment readout: users split into two arms by id parity
    // (the deterministic stand-in for an assignment hash), Welch's
    // unequal-variance t statistic + Welch–Satterthwaite df on the
    // value metric per event type. One partial+final agg over
    // (type, arm) — n, Σv, Σv² in exact decimals — then a 2-row pivot
    // per type; at 100 TB nothing after the first agg sees data rows.
    // Variance via the sum-of-squares identity (single pass, no second
    // scan), divisions and sqrt in DOUBLE over the exact sums, same
    // expression tree in the oracle.
    "ab_welch_ttest" -> { (s, dir) =>
      val moments = events(s, dir)
        .withColumn("arm", (col("user_id") % 2).cast(IntegerType))
        .groupBy(col("event_type"), col("arm"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("s1"),
          dsum(col("value") * col("value")).as("s2"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("vr",
          (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
      def arm(i: Int, c: String) = max(when(col("arm") === i, col(c)))
      moments.groupBy(col("event_type"))
        .agg(arm(0, "n").as("n_a"), arm(1, "n").as("n_b"),
          arm(0, "mean").as("m_a"), arm(1, "mean").as("m_b"),
          arm(0, "vr").as("v_a"), arm(1, "vr").as("v_b"))
        .withColumn("se2", col("v_a") / col("n_a") + col("v_b") / col("n_b"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          round(col("m_a"), 6).as("mean_a"),
          round(col("m_b"), 6).as("mean_b"),
          round((col("m_a") - col("m_b")) / sqrt(col("se2")), 6).as("t_stat"),
          round(col("se2") * col("se2") /
            (col("v_a") * col("v_a") / (col("n_a") * col("n_a") *
              (col("n_a") - 1)) +
             col("v_b") * col("v_b") / (col("n_b") * col("n_b") *
              (col("n_b") - 1))), 6).as("welch_df"))
        .orderBy(col("event_type"))
    },

    // A/B power analysis: the minimum detectable effect at the CURRENT
    // sample sizes (α = 0.05 two-sided, power 0.8 → z-sum 2.8016) —
    // the design-phase number that belongs next to the Welch readout
    // (an experiment whose observed lift is under its MDE was never
    // powered to conclude anything). Same one-agg moment reduction as
    // ab_welch_ttest; MDE = 2.8016·√(v_a/n_a + v_b/n_b).
    "ab_power_mde" -> { (s, dir) =>
      val moments = events(s, dir)
        .withColumn("arm", (col("user_id") % 2).cast(IntegerType))
        .groupBy(col("event_type"), col("arm"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("s1"),
          dsum(col("value") * col("value")).as("s2"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("vr",
          (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
      def arm(i: Int, c: String) = max(when(col("arm") === i, col(c)))
      moments.groupBy(col("event_type"))
        .agg(arm(0, "n").as("n_a"), arm(1, "n").as("n_b"),
          arm(0, "mean").as("m_a"), arm(1, "mean").as("m_b"),
          arm(0, "vr").as("v_a"), arm(1, "vr").as("v_b"))
        .withColumn("se",
          sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b")))
        .withColumn("pooled_mean",
          (col("m_a") * col("n_a") + col("m_b") * col("n_b")) /
            (col("n_a") + col("n_b")))
        .select(col("event_type"), col("n_a"), col("n_b"),
          q6(col("se")).as("se"),
          q6(lit(2.8016) * col("se")).as("mde_abs"),
          q6(lit(2.8016) * col("se") / col("pooled_mean")).as("mde_rel"))
        .orderBy(col("event_type"))
    },

    // Chi-square test of independence between assignment arm and event
    // type mix (the guardrail check that an experiment's traffic split
    // is unbiased): observed counts from one hash agg, expected from
    // the margins, χ² = Σ(o−e)²/e over the |types|×2 grid. Counts are
    // integers, each cell's contribution is per-row double arithmetic
    // decimal-cast before the final (grid-sized) sum.
    "ab_chi_square" -> { (s, dir) =>
      val cells = events(s, dir)
        .withColumn("arm", (col("user_id") % 2).cast(IntegerType))
        .groupBy(col("event_type"), col("arm"))
        .agg(count(lit(1)).as("o"))
      val wT = Window.partitionBy(col("event_type"))
      val wA = Window.partitionBy(col("arm"))
      cells
        .withColumn("row_tot", sum(col("o")).over(wT))
        .withColumn("col_tot", sum(col("o")).over(wA))
        .withColumn("tot", sum(col("o")).over(Window.partitionBy()))
        .withColumn("e",
          col("row_tot").cast(DoubleType) * col("col_tot") / col("tot"))
        .agg(count(lit(1)).as("n_cells"),
          (countDistinct(col("event_type")) - 1).as("dof"),
          round(dsum((col("o") - col("e")) * (col("o") - col("e")) /
            col("e")), 6).as("chi2"))
    },

    // Pairwise Pearson correlation matrix over lineitem's numeric
    // columns in ONE aggregate pass: 4 sums + 4 sums-of-squares +
    // 6 cross-products, all exact decimals, then the 6 coefficients
    // unpacked by explode over an inline array — the d² moment vector
    // is one row, so at 100 TB this is a single partial+final agg and
    // nothing else. Covariance form (sp/n − m_i·m_j) keeps magnitudes
    // small enough that the DOUBLE arithmetic is exact-sum-derived on
    // both engines.
    "q_corr_matrix" -> { (s, dir) =>
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // spread the single-row-group scan: the 14 per-row decimal casts
      // measured 5.0 s of a 5.2 s query on ONE task;
      // decimal sums are order-independent, so the exchange (4 doubles
      // per row — projected before it) cannot change the answer
      val li = Q.spread(t(s, dir, "lineitem").select(cols.map(col): _*))
      val aggs =
        cols.map(c => dsum(col(c)).as(s"s_$c")) ++
        cols.map(c => dsum(col(c) * col(c)).as(s"ss_$c")) ++
        (for { i <- cols.indices; j <- cols.indices if i < j }
          yield dsum(col(cols(i)) * col(cols(j)))
            .as(s"sp_${cols(i)}_${cols(j)}"))
      val m = li.agg(count(lit(1)).as("n"), aggs: _*)
      val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
        yield {
          val (a, b) = (cols(i), cols(j))
          val n = col("n").cast(DoubleType)
          val (ma, mb) = (col(s"s_$a") / n, col(s"s_$b") / n)
          val cov = col(s"sp_${a}_$b") / n - ma * mb
          val va = col(s"ss_$a") / n - ma * ma
          val vb = col(s"ss_$b") / n - mb * mb
          struct(lit(a).as("col_a"), lit(b).as("col_b"),
            round(cov / sqrt(va * vb), 6).as("corr"))
        }
      m.select(col("n"), explode(array(pairs: _*)).as("p"))
        .select(col("p.col_a"), col("p.col_b"), col("p.corr"), col("n"))
        .orderBy(col("col_a"), col("col_b"))
    },

    // Autocorrelation of the global hourly event-count series at lags
    // 1..12 — the periodicity diagnostic that motivates the seasonal
    // models. The stream reduces to |hours| rows first; the lag join is
    // an integer equi-join on epoch hours (robust to gaps — a missing
    // hour drops its pairs instead of silently shifting the series);
    // ACF_k is assembled from INTEGER pair sums (Σx_t·x_{t+k}, Σx_t,
    // Σx_{t+k}, c_k) and the full-series moments, so the only doubles
    // are the final per-lag formula, identical cross-engine.
    "events_acf_hourly" -> { (s, dir) =>
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n"))
        .select((unix_timestamp(col("hour_start")) / 3600L)
          .cast(LongType).as("h"), col("n"))
      val base = hourly.agg(count(lit(1)).as("nh"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
      val lagged = hourly
        .select(col("h"), col("n"), explode(sequence(lit(1), lit(12)))
          .as("lag"))
        .join(hourly.select(col("h").as("h2"), col("n").as("n2")),
          col("h2") === col("h") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("c_k"), sum(col("n") * col("n2")).as("sxy"),
          sum(col("n")).as("sx"), sum(col("n2")).as("sy"))
      lagged.crossJoin(broadcast(base))
        .withColumn("mu", col("s").cast(DoubleType) / col("nh"))
        .withColumn("den",
          col("ss").cast(DoubleType) - col("s").cast(DoubleType) *
            col("s") / col("nh"))
        .select(col("lag"), col("c_k").as("n_pairs"),
          round((col("sxy") - col("mu") * (col("sx") + col("sy")) +
            col("c_k") * col("mu") * col("mu")) / col("den"), 6).as("acf"))
        .orderBy(col("lag"))
    },

    // CUSUM mean-shift changepoint per event type (Page 1954): the
    // cumulative sum of deviations S_k = Σ_{i≤k} n_i − k·μ over the
    // hourly series, changepoint = argmax |S_k| (earliest hour on
    // ties). The integer prefix sum Σn_i comes from a window over the
    // already-aggregated |hours|-sized series, μ = T/H from exact
    // totals — S_k is integer-minus-double, fully order-independent.
    // before/after means from the same prefix sums.
    "events_cusum_changepoint" -> { (s, dir) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour_start"))
      val scored = hourlyByType(events(s, dir))
        .withColumn("k", row_number().over(w))
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("tot", sum(col("n")).over(Window.partitionBy(col("event_type"))))
        .withColumn("nh", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        .withColumn("s_abs", abs(col("cum").cast(DoubleType) -
          col("k") * col("tot").cast(DoubleType) / col("nh")))
      val pick = Window.partitionBy(col("event_type"))
        .orderBy(col("s_abs").desc, col("hour_start"))
      scored.withColumn("rk", row_number().over(pick))
        .filter(col("rk") === 1 && col("k") < col("nh"))
        .select(col("event_type"), col("hour_start").as("cp_hour"),
          col("nh").as("n_hours"), round(col("s_abs"), 6).as("cusum_abs"),
          round(col("cum").cast(DoubleType) / col("k"), 6).as("mean_before"),
          round((col("tot") - col("cum")).cast(DoubleType) /
            (col("nh") - col("k")), 6).as("mean_after"))
        .orderBy(col("event_type"))
    },

    // Feature scaling for ML training (standardize + min-max in ONE
    // stats pass): per-column exact-decimal moments and min/max from a
    // single partial+final agg, broadcast back over the transform scan
    // — the two-pass shape every feature pipeline needs, with the
    // stats frame one row. Output restricted to a deterministic key
    // slice (mod 97) so the verify artifact stays bounded; the
    // transform itself is full-scan shaped.
    "ml_feature_scaling" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val stats = li.agg(
        davg(col("l_quantity")).as("m_q"),
        dsum(col("l_quantity") * col("l_quantity")).as("sq_q"),
        count(lit(1)).as("n"),
        min(col("l_quantity")).as("lo_q"), max(col("l_quantity")).as("hi_q"),
        davg(col("l_extendedprice")).as("m_p"),
        dsum(col("l_extendedprice") * col("l_extendedprice")).as("sq_p"),
        min(col("l_extendedprice")).as("lo_p"),
        max(col("l_extendedprice")).as("hi_p"))
        .withColumn("sd_q",
          sqrt(col("sq_q") / col("n") - col("m_q") * col("m_q")))
        .withColumn("sd_p",
          sqrt(col("sq_p") / col("n") - col("m_p") * col("m_p")))
      li.filter(col("l_orderkey") % 97 === 0)
        .crossJoin(broadcast(stats))
        .select(col("l_orderkey"), col("l_linenumber"),
          round((col("l_quantity") - col("m_q")) / col("sd_q"), 6)
            .as("z_quantity"),
          round((col("l_extendedprice") - col("m_p")) / col("sd_p"), 6)
            .as("z_price"),
          round((col("l_quantity") - col("lo_q")) /
            (col("hi_q") - col("lo_q")), 6).as("mm_quantity"),
          round((col("l_extendedprice") - col("lo_p")) /
            (col("hi_p") - col("lo_p")), 6).as("mm_price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // Median absolute deviation per event type — the robust dispersion
    // number that outliers can't poison (the z-score/winsorize family's
    // missing companion). Exact ⌈n/2⌉ rank order statistics for both
    // the median and the deviation median (no float interpolation);
    // two type-keyed windows over the value column. At 100 TB the
    // KLL-sketch quantile rollup (q_kll_rollup) is the approximate
    // twin; this is the exact anchor.
    "q_mad_by_type" -> { (s, dir) =>
      val e = events(s, dir).select(col("event_type"), col("value"),
        col("event_id"))
      val wMed = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      val wT = Window.partitionBy(col("event_type"))
      val med = e
        .withColumn("rk", row_number().over(wMed))
        .withColumn("n", count(lit(1)).over(wT))
        .filter(col("rk") === ceil(col("n") / lit(2.0)).cast(LongType))
        .select(col("event_type"), col("value").as("median"), col("n"))
      val wDev = Window.partitionBy(col("event_type"))
        .orderBy(col("dev"), col("event_id"))
      e.join(broadcast(med), "event_type")
        .withColumn("dev", abs(col("value") - col("median")))
        .withColumn("rk", row_number().over(wDev))
        .filter(col("rk") === ceil(col("n") / lit(2.0)).cast(LongType))
        .select(col("event_type"), col("n"), q6(col("median")).as("median"),
          q6(col("dev")).as("mad"))
        .orderBy(col("event_type"))
    },

    // Kaplan–Meier survival curve over user lifetimes (Kaplan & Meier
    // 1958) — the churn-analysis estimator that handles censoring
    // correctly, where a naive mean-lifetime over observed spans is
    // biased low. Lifetime = hours between a user's first and last
    // event; users still active in the final 24 h of the stream are
    // CENSORED (they contribute at-risk time, not a death). Shape: one
    // shuffle to per-user spans (the only data-sized step), then a
    // duration-bucket table bounded by the time window; n_at_risk is a
    // descending-duration prefix sum, S(t) = exp(Σ ln(1 − d/n)) with
    // per-term DECIMAL(18,6) rounding so the running product is
    // order-independent and bit-identical cross-engine. The
    // everyone-dies-at-the-max-duration edge (ln 0) is explicit: that
    // row — necessarily the last — reports survival 0.
    "events_kaplan_meier" -> { (s, dir) =>
      val e = events(s, dir)
      val horizon = e.agg(max(unix_micros(col("ts"))).as("t_end"))
      val users = e.groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("t0"),
          max(unix_micros(col("ts"))).as("t1"))
        .crossJoin(broadcast(horizon))
        .select(
          floor((col("t1") - col("t0")) / 3600000000L).as("dur_h"),
          (col("t1") < col("t_end") - 86400000000L).cast(IntegerType)
            .as("dead"))
      val buckets = users.groupBy(col("dur_h"))
        .agg(count(lit(1)).as("n_all"), sum(col("dead")).as("n_deaths"))
      val wRisk = Window.orderBy(col("dur_h").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wS = Window.orderBy(col("dur_h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      buckets
        .withColumn("n_risk", sum(col("n_all")).over(wRisk))
        .filter(col("n_deaths") > 0)
        .withColumn("term", when(col("n_deaths") < col("n_risk"),
          log(lit(1.0) - col("n_deaths").cast(DoubleType) / col("n_risk"))))
        .withColumn("survival",
          when(col("n_deaths") === col("n_risk"), lit(0.0))
            .otherwise(round(exp(dsumOver(col("term"), wS)), 6)))
        .select(col("dur_h"), col("n_risk"), col("n_deaths"),
          col("survival"))
        .orderBy(col("dur_h"))
    },

    // Split-conformal prediction interval for the hourly persistence
    // forecast (Vovk et al. 2005; the distribution-free coverage
    // guarantee): calibration = first 80% of each type's scored hours,
    // q̂ = the ⌈0.9(n_cal+1)⌉-th smallest |residual| (the finite-sample
    // correction that makes coverage ≥ 90% MARGINAL, not asymptotic),
    // then held-out coverage measured on the remaining 20%. Residuals
    // are integer count differences, the quantile is an integer order
    // statistic — everything after the hourly reduction is exact
    // integer arithmetic over a bounded series.
    "events_conformal_interval" -> { (s, dir) =>
      val hourly = hourlyByType(events(s, dir))
        .select(col("event_type"),
          (unix_timestamp(col("hour_start")) / 3600L).cast(LongType).as("h"),
          col("n"))
      val scored = hourly
        .join(hourly.select(col("event_type"), (col("h") + 1).as("h"),
          col("n").as("f")), Seq("event_type", "h"))
        .withColumn("resid", abs(col("n") - col("f")))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val wType = Window.partitionBy(col("event_type"))
      val split = scored
        .withColumn("rk", row_number().over(wOrd))
        .withColumn("n_rows", count(lit(1)).over(wType))
        .withColumn("n_cal", floor(col("n_rows") * 0.8).cast(LongType))
        .withColumn("is_cal", col("rk") <= col("n_cal"))
      val wResid = Window.partitionBy(col("event_type"))
        .orderBy(col("resid"), col("h"))
      val qhat = split.filter(col("is_cal"))
        .withColumn("rr", row_number().over(wResid))
        .withColumn("k", ceil((col("n_cal") + 1) * 0.9).cast(LongType))
        .filter(col("rr") === col("k"))
        .select(col("event_type"), col("resid").as("qhat"))
      split.filter(!col("is_cal"))
        .join(broadcast(qhat), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n_cal")).as("n_cal"), count(lit(1)).as("n_test"),
          max(col("qhat")).as("qhat"),
          round(sum((col("resid") <= col("qhat")).cast(IntegerType))
            .cast(DoubleType) / count(lit(1)), 6).as("coverage"))
        .orderBy(col("event_type"))
    },

    // Benford first-digit audit over order totals (the fraud /
    // fabricated-data screen): observed first-significant-digit mix vs
    // the Benford expectation log₁₀(1+1/d). Digit extraction is string
    // arithmetic on the floored integer part (no log10 — its double
    // edge at exact powers of ten flips digits cross-engine); one hash
    // agg to 9 rows.
    "audit_benford" -> { (s, dir) =>
      val digits = t(s, dir, "orders")
        .filter(col("o_totalprice") >= 1.0)
        .select(substring(floor(col("o_totalprice")).cast(LongType)
          .cast(StringType), 1, 1).cast(IntegerType).as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
      val tot = digits.agg(sum(col("n_obs")).as("n"))
      digits.crossJoin(broadcast(tot))
        .withColumn("p_obs", col("n_obs").cast(DoubleType) / col("n"))
        .withColumn("p_benford",
          log(10.0, lit(1.0) + lit(1.0) / col("digit")))
        .select(col("digit"), col("n_obs"), round(col("p_obs"), 6)
          .as("p_obs"), round(col("p_benford"), 6).as("p_benford"),
          round((col("p_obs") - col("p_benford")) *
            (col("p_obs") - col("p_benford")) / col("p_benford"), 6)
            .as("chi2_term"))
        .orderBy(col("digit"))
    },

    // Gini coefficient of revenue concentration across customers (the
    // inequality summary a marketplace health dashboard tracks):
    // G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx) over rank-ordered
    // per-customer revenue. One shuffle to per-customer sums (exact
    // decimals), the rank window runs over |customers| rows, and
    // Σ i·x₍ᵢ₎ stays in DECIMAL(28,6) (rank × revenue exceeds the
    // (18,6) integer range) — the only doubles are the final ratio.
    "q_gini_revenue" -> { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("x"))
      val w = Window.orderBy(col("x"), col("o_custkey"))
      rev.withColumn("i", row_number().over(w))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("x").cast(DecimalType(28, 6))).as("sx"),
          sum((col("i") * col("x")).cast(DecimalType(28, 6))).as("six"))
        .select(col("n_customers"),
          round(col("sx").cast(DoubleType), 2).as("total_revenue"),
          round((lit(2.0) * col("six").cast(DoubleType) -
            (col("n_customers") + 1) * col("sx").cast(DoubleType)) /
            (col("n_customers") * col("sx").cast(DoubleType)), 6)
            .as("gini"))
    },

    // Seasonal-naive forecast backtest per event type: forecast(t) =
    // count(t − 24 h) vs the persistence baseline forecast(t) =
    // count(t − 1 h), scored by MAPE and sMAPE over every hour whose
    // reference hour exists (integer epoch-hour equi-joins — gaps drop
    // pairs, never shift them). The per-type series is bounded by the
    // time window, so both joins and the final agg are metadata-sized;
    // per-row APE is double, means via the decimal sum.
    "events_seasonal_naive_eval" -> { (s, dir) =>
      val hourly = hourlyByType(events(s, dir))
        .select(col("event_type"),
          (unix_timestamp(col("hour_start")) / 3600L).cast(LongType).as("h"),
          col("n"))
      val horizons = hourly
        .select(col("event_type"), col("h"), col("n"),
          explode(array(lit(1), lit(24))).as("horizon"))
      horizons
        .join(hourly.select(col("event_type"), col("h").as("h2"),
          col("n").as("f")),
          Seq("event_type"), "inner")
        .filter(col("h2") === col("h") - col("horizon"))
        .groupBy(col("event_type"), col("horizon"))
        .agg(count(lit(1)).as("n_eval"),
          round(davg(abs(col("n") - col("f")).cast(DoubleType) / col("n")), 6)
            .as("mape"),
          round(davg(abs(col("n") - col("f")).cast(DoubleType) * 2 /
            (col("n") + col("f"))), 6).as("smape"))
        .orderBy(col("event_type"), col("horizon"))
    },

    // Mann–Whitney U (Wilcoxon rank-sum) per event type between the two
    // assignment arms — the nonparametric complement to ab_welch_ttest
    // for skewed metrics. The stream first reduces to a VALUE HISTOGRAM
    // per (type, cent-quantized value): ranks then come from prefix
    // sums over the histogram, never from ranking data rows — the grid
    // is ≤ |types| × |distinct cents| (the metric is 2-dp money, so
    // ~49k cells max) regardless of row count, which is what makes an
    // exact rank test feasible at 100 TB. Midranks stay exact integers
    // via r2 = 2·rank (2·cum_before + c + 1); the tie-corrected normal
    // z uses the standard Σ(t³−t) correction, summed in DECIMAL (a
    // single point-mass cell of ≥2.1M rows would wrap a long c³). The
    // rank sum r2a and the n·(n+1)/n_a·n_b products get the same
    // DECIMAL(38,0) treatment — DuckDB computes all of these in
    // HUGEINT, and a long would wrap silently past ~3e9 rows per arm;
    // decimal makes overflow impossible up to 10³⁸, far past any
    // corpus, so the 100 TB failure mode is gone rather than deferred.
    "ab_mann_whitney" -> { (s, dir) =>
      val hist = centsHist(events(s, dir), col("user_id") % 2 === 0)
        .withColumn("c", col("ca") + col("cb"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val st = hist
        .withColumn("cum0", coalesce(sum(col("c")).over(wOrd), lit(0L)))
        .groupBy(col("event_type"))
        .agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
          sum(col("ca").cast(DecimalType(38, 0)) *
            (lit(2L) * col("cum0") + col("c") + 1L)).as("r2a"),
          // c³ with the FIRST factor decimal-cast: a single point-mass
          // cell of ≥2.1M rows would wrap the long product before any
          // outer cast could save it; DuckDB sums this in HUGEINT
          sum(col("c").cast(DecimalType(38, 0)) * col("c") * col("c")
            - col("c")).as("ties"))
      st.select(col("event_type"), col("n_a"), col("n_b"),
          round(col("r2a") / 2.0 -
            col("n_a").cast(DecimalType(38, 0)) * (col("n_a") + 1) / 2.0, 6)
            .as("u_a"),
          round((col("r2a") / 2.0 -
            col("n_a").cast(DecimalType(38, 0)) * (col("n_a") + 1) / 2.0 -
            col("n_a").cast(DecimalType(38, 0)) * col("n_b") / 2.0) /
            sqrt((col("n_a").cast(DecimalType(38, 0)) * col("n_b") / 12.0) *
              ((col("n_a") + col("n_b") + 1) - col("ties") /
                ((col("n_a") + col("n_b")).cast(DoubleType) *
                  (col("n_a") + col("n_b") - 1)))), 6).as("z"))
        .orderBy(col("event_type"))
    },

    // Two-sample Kolmogorov–Smirnov per event type between the arms:
    // D = max |F_a − F_b| over the shared value grid. Same bounded
    // histogram reduction as ab_mann_whitney; the CDF difference is
    // kept as the exact integer |cum_a·n_b − cum_b·n_a| until the one
    // final division, so D is bit-determined by counts alone. The
    // scaled statistic √(n_a·n_b/(n_a+n_b))·D is the one compared
    // against the Kolmogorov critical values (1.358 at α=0.05).
    "ab_ks_test" -> { (s, dir) =>
      val hist = centsHist(events(s, dir), col("user_id") % 2 === 0)
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      val wAll = Window.partitionBy(col("event_type"))
      hist
        .withColumn("cuma", sum(col("ca")).over(wOrd))
        .withColumn("cumb", sum(col("cb")).over(wOrd))
        .withColumn("n_a", sum(col("ca")).over(wAll))
        .withColumn("n_b", sum(col("cb")).over(wAll))
        .groupBy(col("event_type"))
        .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
          // CDF-gap products in DECIMAL(38,0) (DuckDB: HUGEINT) — a
          // long cum·n product wraps silently past ~3e9 rows per arm
          max(abs(col("cuma").cast(DecimalType(38, 0)) * col("n_b") -
            col("cumb").cast(DecimalType(38, 0)) * col("n_a")))
            .as("dnum"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          round(col("dnum") /
            (col("n_a").cast(DoubleType) * col("n_b")), 6).as("d_stat"),
          round(sqrt(col("n_a").cast(DoubleType) * col("n_b") /
            (col("n_a") + col("n_b"))) * col("dnum") /
            (col("n_a").cast(DoubleType) * col("n_b")), 6).as("ks_scaled"))
        .orderBy(col("event_type"))
    },

    // Benjamini–Hochberg FDR correction over the family of per-type
    // Welch z tests — the multiple-comparisons step a real experiment
    // readout needs once it tests |types| metrics at once. Two-sided
    // p from the Abramowitz–Stegun 7.1.26 erfc approximation (pure
    // +,·,exp arithmetic — the same expression tree runs in DuckDB;
    // the Kaplan–Meier/DP-release queries set the exp/ln cross-engine
    // precedent, and 6-dp rounding absorbs libm ulps). The BH step
    // (rank ascending, adj_p_i = min_{j≥i} p_j·m/j) is two windows
    // over the |types|-row frame — metadata-sized by construction.
    "ab_fdr_bh" -> { (s, dir) =>
      val moments = events(s, dir)
        .withColumn("arm", (col("user_id") % 2).cast(IntegerType))
        .groupBy(col("event_type"), col("arm"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("s1"),
          dsum(col("value") * col("value")).as("s2"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("vr",
          (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
      def arm(i: Int, c: String) = max(when(col("arm") === i, col(c)))
      val z = moments.groupBy(col("event_type"))
        .agg(arm(0, "n").as("n_a"), arm(1, "n").as("n_b"),
          arm(0, "mean").as("m_a"), arm(1, "mean").as("m_b"),
          arm(0, "vr").as("v_a"), arm(1, "vr").as("v_b"))
        .withColumn("az", abs((col("m_a") - col("m_b")) /
          sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b"))))
      val x = col("az") / sqrt(lit(2.0))
      val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val pval = ((((lit(1.061405429) * tt - 1.453152027) * tt +
        1.421413741) * tt - 0.284496736) * tt + 0.254829592) * tt *
        exp(-x * x)
      val ranked = z.withColumn("pval", pval)
        .withColumn("p_rank",
          row_number().over(Window.orderBy(col("pval"), col("event_type"))))
        .withColumn("m", count(lit(1)).over(
          Window.partitionBy().rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      val wDesc = Window.orderBy(col("p_rank").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ranked
        .withColumn("adjraw",
          min(col("pval") * col("m") / col("p_rank")).over(wDesc))
        .select(col("event_type"), col("p_rank"),
          round(col("az"), 6).as("abs_z"),
          round(col("pval"), 6).as("p_value"),
          round(least(col("adjraw"), lit(1.0)), 6).as("p_bh"),
          when(least(col("adjraw"), lit(1.0)) <= 0.10, 1).otherwise(0)
            .as("significant_fdr10"))
        .orderBy(col("p_rank"))
    },

    // Theil–Sen robust trend estimator on the hourly purchase-revenue
    // series, next to the OLS slope it robustifies: median of all
    // pairwise slopes (v_j−v_i)/(h_j−h_i). The stream reduces to the
    // |hours|-bounded series FIRST (decimal revenue sums), so the
    // pairwise non-equi self-join is metadata² (~226k pairs for a
    // month of hours) — never data-sized; hours re-base to the series
    // minimum so the OLS moment sums stay small-integer exact. Median
    // via exact interpolating percentile (= DuckDB quantile_cont).
    "events_theil_sen" -> { (s, dir) =>
      val hourly = events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
          .cast(LongType).as("h"))
        .agg(dsum(col("value")).as("v"))
      val mn = hourly.agg(min(col("h")).as("h0"))
      val base = hourly.crossJoin(broadcast(mn))
        .select((col("h") - col("h0")).as("h"), col("v"))
      val pairs = base.select(col("h").as("h1"), col("v").as("v1"))
        .join(broadcast(base.select(col("h").as("h2"), col("v").as("v2"))),
          col("h1") < col("h2"))
        .select(((col("v2") - col("v1")) / (col("h2") - col("h1")))
          .as("sl"))
      val ols = base.agg(count(lit(1)).as("n"), sum(col("h")).as("sh"),
          sum(col("h") * col("h")).as("shh"), dsum(col("v")).as("sv"),
          dsum(col("v") * col("h")).as("shv"))
        .select(((col("n") * col("shv") - col("sh") * col("sv")) /
          (col("n") * col("shh") - col("sh") * col("sh")))
          .as("ols"))
      pairs.agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(sl, 0.5)"), 6).as("theil_sen_slope"))
        .crossJoin(broadcast(ols))
        .select(col("n_pairs"), col("theil_sen_slope"),
          round(col("ols"), 6).as("ols_slope"))
    },

    // Cross-correlation (CCF) between the hourly click and purchase
    // count series at lags −6..+6 — the lead/lag diagnostic behind
    // "does click volume predict purchases hours later?". Same shape
    // as events_acf_hourly: the stream reduces to two |hours| series,
    // the lag alignment is an integer epoch-hour equi-join (gaps drop
    // pairs, never shift the series), and all five moment sums are
    // exact integers per lag — doubles only in the final Pearson
    // formula over the 13-row frame.
    "events_ccf_lead_lag" -> { (s, dir) =>
      val hourly = events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast(LongType).as("h"))
        .agg(count(lit(1)).as("n"))
      val x = hourly.filter(col("event_type") === "click")
        .select(col("h"), col("n").as("xv"))
      val y = hourly.filter(col("event_type") === "purchase")
        .select(col("h").as("h2"), col("n").as("yv"))
      x.withColumn("lag", explode(sequence(lit(-6), lit(6))))
        .join(y, col("h2") === col("h") + col("lag"))
        .groupBy(col("lag"))
        .agg(count(lit(1)).as("np"), sum(col("xv")).as("sx"),
          sum(col("yv")).as("sy"), sum(col("xv") * col("yv")).as("sxy"),
          sum(col("xv") * col("xv")).as("sxx"),
          sum(col("yv") * col("yv")).as("syy"))
        .withColumn("den",
          sqrt(col("np") * col("sxx") - col("sx") * col("sx")) *
            sqrt((col("np") * col("syy") - col("sy") * col("sy"))
              .cast(DoubleType)))
        // a degenerate lag (≤1 pair, or a constant series) has no
        // defined correlation — NULL, not a div-by-zero (ANSI mode)
        .select(col("lag"), col("np").as("n_pairs"),
          when(col("den") > 0,
            round((col("np") * col("sxy") - col("sx") * col("sy")) /
              col("den"), 6)).as("ccf"))
        .orderBy(col("lag"))
    },

    // KS drift monitor: the Kolmogorov–Smirnov distance between the
    // metric's reference-window (first 7 days) and current
    // distributions per event type — the distribution-drift complement
    // to monitor_psi/monitor_jsd_mix that needs no binning choice.
    // Same grid-bounded histogram + exact integer CDF-gap machinery as
    // ab_ks_test; the window split point is one broadcast scalar.
    "monitor_ks_drift" -> { (s, dir) =>
      val e = events(s, dir)
      val cut = e.agg((min(col("ts")) + expr("INTERVAL 7 DAYS"))
        .as("cut"))
      val hist = centsHist(e.crossJoin(broadcast(cut)),
        col("ts") < col("cut"))
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      val wAll = Window.partitionBy(col("event_type"))
      hist
        .withColumn("cuma", sum(col("ca")).over(wOrd))
        .withColumn("cumb", sum(col("cb")).over(wOrd))
        .withColumn("n_a", sum(col("ca")).over(wAll))
        .withColumn("n_b", sum(col("cb")).over(wAll))
        .groupBy(col("event_type"))
        .agg(max(col("n_a")).as("n_ref"), max(col("n_b")).as("n_cur"),
          // CDF-gap products in DECIMAL(38,0) (DuckDB: HUGEINT) — a
          // long cum·n product wraps silently past ~3e9 rows per arm
          max(abs(col("cuma").cast(DecimalType(38, 0)) * col("n_b") -
            col("cumb").cast(DecimalType(38, 0)) * col("n_a")))
            .as("dnum"))
        .select(col("event_type"), col("n_ref"), col("n_cur"),
          round(col("dnum") /
            (col("n_ref").cast(DoubleType) * col("n_cur")), 6)
            .as("ks_drift"))
        .orderBy(col("event_type"))
    },

    // Difference-in-differences per event type: the causal-inference
    // readout when assignment isn't random in time — (post − pre) in
    // the treated arm minus (post − pre) in control cancels any shared
    // time trend. One agg over (type, arm, period) — 4 cells per type,
    // decimal means; the period cut is one broadcast scalar.
    "ab_diff_in_diff" -> { (s, dir) =>
      val e = events(s, dir)
      val cut = e.agg((min(col("ts")) + expr("INTERVAL 15 DAYS"))
        .as("c"))
      val cells = e.crossJoin(broadcast(cut))
        .withColumn("arm", (col("user_id") % 2).cast(IntegerType))
        .withColumn("period", when(col("ts") < col("c"), 0).otherwise(1))
        .groupBy(col("event_type"), col("arm"), col("period"))
        .agg((dsum(col("value")) / count(lit(1))).as("m"))
      def cell(a: Int, p: Int) =
        max(when(col("arm") === a && col("period") === p, col("m")))
      cells.groupBy(col("event_type"))
        .agg(cell(1, 0).as("m_t_pre"), cell(1, 1).as("m_t_post"),
          cell(0, 0).as("m_c_pre"), cell(0, 1).as("m_c_post"))
        .select(col("event_type"),
          round(col("m_t_pre"), 6).as("m_t_pre"),
          round(col("m_t_post"), 6).as("m_t_post"),
          round(col("m_c_pre"), 6).as("m_c_pre"),
          round(col("m_c_post"), 6).as("m_c_post"),
          round((col("m_t_post") - col("m_t_pre")) -
            (col("m_c_post") - col("m_c_pre")), 6).as("did"))
        .orderBy(col("event_type"))
    },

    // CUPED variance reduction (Deng et al. 2013): adjust each user's
    // post-period metric by θ·(pre − mean(pre)) with θ = cov/var fit on
    // the same users — the experimentation-platform standard for
    // tightening A/B confidence intervals. Stream → per-user (pre,
    // post) means (the only data shuffle) → one 6-moment reduction →
    // θ, then one more pass over the user frame for adjusted arm
    // means. var_ratio = 1 − ρ² is the fraction of metric variance the
    // covariate leaves behind.
    "ab_cuped" -> { (s, dir) =>
      val e = events(s, dir)
      val cut = e.agg((min(col("ts")) + expr("INTERVAL 15 DAYS"))
        .as("c"))
      val u = e.crossJoin(broadcast(cut))
        .withColumn("arm", (col("user_id") % 2).cast(IntegerType))
        .groupBy(col("user_id"), col("arm"))
        .agg((dsum(when(col("ts") < col("c"), col("value"))) /
          count(when(col("ts") < col("c"), lit(1)))).as("x"),
          (dsum(when(col("ts") >= col("c"), col("value"))) /
            count(when(col("ts") >= col("c"), lit(1)))).as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull)
        .localCheckpoint() // feeds the moment fit AND the adjusted means
      val t0 = u.agg(count(lit(1)).as("n"), dsum(col("x")).as("sx"),
          dsum(col("y")).as("sy"), dsum(col("x") * col("y")).as("sxy"),
          dsum(col("x") * col("x")).as("sxx"),
          dsum(col("y") * col("y")).as("syy"))
        .select(col("n"), (col("sx") / col("n")).as("mx"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) /
            (col("sxx") - col("sx") * col("sx") / col("n"))).as("theta"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) /
            sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
              (col("syy") - col("sy") * col("sy") / col("n"))))
            .as("corr"))
      val adj = u.crossJoin(broadcast(t0))
        .groupBy(col("arm"))
        .agg(max(col("n")).as("n_users"), max(col("theta")).as("theta"),
          max(col("corr")).as("corr"),
          (dsum(col("y") - col("theta") * (col("x") - col("mx"))) /
            count(lit(1))).as("madj"),
          (dsum(col("y")) / count(lit(1))).as("mraw"))
      adj.agg(max(col("n_users")).as("n_users"),
          round(max(col("theta")), 6).as("theta"),
          round(lit(1.0) - max(col("corr")) * max(col("corr")), 6)
            .as("var_ratio"),
          round(max(when(col("arm") === 1, col("mraw"))) -
            max(when(col("arm") === 0, col("mraw"))), 6).as("raw_effect"),
          round(max(when(col("arm") === 1, col("madj"))) -
            max(when(col("arm") === 0, col("madj"))), 6)
            .as("cuped_effect"))
    },

    // Group-sequential monitoring (O'Brien–Fleming): the daily
    // z-trajectory of the experiment against the α-spending boundary
    // 2.963/√(information fraction) — the guardrail that makes peeking
    // at a running experiment statistically honest. Daily moments from
    // ONE agg over (day, arm); cumulative sums/z via windows over the
    // |days|×2 frame; the information fraction's denominator is one
    // broadcast scalar.
    "ab_sequential_obf" -> { (s, dir) =>
      val daily = events(s, dir)
        .withColumn("day", date_trunc("day", col("ts")).cast(DateType))
        .withColumn("arm", (col("user_id") % 2).cast(IntegerType))
        .groupBy(col("day"), col("arm"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("s1"),
          dsum(col("value") * col("value")).as("s2"))
      val wc = Window.partitionBy(col("arm")).orderBy(col("day"))
      val cum = daily
        .select(col("day"), col("arm"),
          sum(col("n")).over(wc).as("n"),
          sum(col("s1")).over(wc).as("s1"),
          sum(col("s2")).over(wc).as("s2"))
      def arm(i: Int, c: org.apache.spark.sql.Column) =
        max(when(col("arm") === i, c))
      val piv = cum.groupBy(col("day"))
        .agg(arm(0, col("n")).as("n_a"), arm(1, col("n")).as("n_b"),
          arm(0, col("s1") / col("n")).as("m_a"),
          arm(1, col("s1") / col("n")).as("m_b"),
          arm(0, (col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1)).as("v_a"),
          arm(1, (col("s2") - col("s1") * col("s1") / col("n")) /
            (col("n") - 1)).as("v_b"))
        .filter(col("n_a") > 1 && col("n_b") > 1)
      val tot = piv.agg(max(col("n_a") + col("n_b")).as("nmax"))
      piv.crossJoin(broadcast(tot))
        .withColumn("z", (col("m_a") - col("m_b")) /
          sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b")))
        .withColumn("frac",
          (col("n_a") + col("n_b")).cast(DoubleType) / col("nmax"))
        .select(col("day"), (col("n_a") + col("n_b")).as("n"),
          round(col("z"), 6).as("z"),
          round(lit(2.963) / sqrt(col("frac")), 6).as("obf_bound"),
          when(abs(col("z")) > lit(2.963) / sqrt(col("frac")), 1)
            .otherwise(0).as("crossed"))
        .orderBy(col("day"))
    },

    // Hampel filter: sliding-window (±12 h) median + MAD outlier
    // detection on the hourly count series — the robust alternative to
    // the global z-score (events_anomaly_zscore), immune to the level
    // shifts and trends that inflate a global σ. The MAD needs each
    // window's deviations from ITS OWN center median, so it's two band
    // self-joins over the hour-bounded series (not two window passes)
    // — both metadata² by the grid bound. Medians of integer counts
    // are exact halves, so flag arithmetic is deterministic.
    "events_hampel_outliers" -> { (s, dir) =>
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
            .cast(LongType).as("h"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // feeds both band joins
      val b = hourly.select(col("event_type"), col("h").as("hb"),
        col("n").as("nb"))
      val med = hourly.join(b, Seq("event_type"))
        .filter(col("hb").between(col("h") - 12, col("h") + 12))
        .groupBy(col("event_type"), col("h"), col("n"))
        .agg(expr("percentile(nb, 0.5)").as("med"))
      val mad = med.join(b, Seq("event_type"))
        .filter(col("hb").between(col("h") - 12, col("h") + 12))
        .groupBy(col("event_type"), col("h"), col("n"), col("med"))
        .agg(expr("percentile(abs(nb - med), 0.5)").as("mad"))
      // zero-MAD degeneracy (≥half the window exactly at the median —
      // e.g. a constant series with one spike): ANY deviation is then
      // an outlier, per the standard Hampel convention
      mad
        .withColumn("flag",
          when((col("mad") > 0 &&
            abs(col("n") - col("med")) >
              lit(3) * lit(1.4826) * col("mad")) ||
            (col("mad") === 0 && col("n") =!= col("med")), 1)
            .otherwise(0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("flag")).as("n_outliers"),
          round(max(when(col("mad") > 0,
            abs(col("n") - col("med")) / (lit(1.4826) * col("mad")))), 6)
            .as("max_score"))
        .orderBy(col("event_type"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "ab_welch_ttest" ->
      """WITH m AS (SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1, 2),
        |mv AS (SELECT event_type, arm, n, s1 / n AS mean,
        |    (s2 - s1 * s1 / n) / (n - 1) AS vr FROM m),
        |p AS (SELECT event_type,
        |    max(CASE WHEN arm = 0 THEN n END) AS n_a,
        |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
        |    max(CASE WHEN arm = 0 THEN mean END) AS m_a,
        |    max(CASE WHEN arm = 1 THEN mean END) AS m_b,
        |    max(CASE WHEN arm = 0 THEN vr END) AS v_a,
        |    max(CASE WHEN arm = 1 THEN vr END) AS v_b
        |  FROM mv GROUP BY 1),
        |se AS (SELECT *, v_a / n_a + v_b / n_b AS se2 FROM p)
        |SELECT event_type, n_a, n_b, round(m_a, 6) AS mean_a,
        |  round(m_b, 6) AS mean_b,
        |  round((m_a - m_b) / sqrt(se2), 6) AS t_stat,
        |  round(se2 * se2 /
        |    (v_a * v_a / (n_a * n_a * (n_a - 1)) +
        |     v_b * v_b / (n_b * n_b * (n_b - 1))), 6) AS welch_df
        |FROM se ORDER BY event_type""".stripMargin,
    "ab_power_mde" ->
      """WITH m AS (SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1, 2),
        |mv AS (SELECT event_type, arm, n, s1 / n AS mean,
        |    (s2 - s1 * s1 / n) / (n - 1) AS vr FROM m),
        |p AS (SELECT event_type,
        |    max(CASE WHEN arm = 0 THEN n END) AS n_a,
        |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
        |    max(CASE WHEN arm = 0 THEN mean END) AS m_a,
        |    max(CASE WHEN arm = 1 THEN mean END) AS m_b,
        |    max(CASE WHEN arm = 0 THEN vr END) AS v_a,
        |    max(CASE WHEN arm = 1 THEN vr END) AS v_b
        |  FROM mv GROUP BY 1),
        |se AS (SELECT *, sqrt(v_a / n_a + v_b / n_b) AS se,
        |    (m_a * n_a + m_b * n_b) / (n_a + n_b) AS pooled_mean
        |  FROM p)
        |SELECT event_type, n_a, n_b,
        |  floor(se * 1000000.0 + 0.5) / 1000000.0 AS se,
        |  floor(2.8016 * se * 1000000.0 + 0.5) / 1000000.0 AS mde_abs,
        |  floor(2.8016 * se / pooled_mean * 1000000.0 + 0.5) / 1000000.0
        |    AS mde_rel
        |FROM se ORDER BY event_type""".stripMargin,
    "ab_chi_square" ->
      """WITH c AS (SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT *,
        |    sum(o) OVER (PARTITION BY event_type) AS row_tot,
        |    sum(o) OVER (PARTITION BY arm) AS col_tot,
        |    sum(o) OVER () AS tot
        |  FROM c),
        |e AS (SELECT o, CAST(row_tot AS DOUBLE) * col_tot / tot AS e,
        |    event_type FROM g)
        |SELECT count(*) AS n_cells,
        |  count(DISTINCT event_type) - 1 AS dof,
        |  round(CAST(sum(CAST((o - e) * (o - e) / e AS DECIMAL(18,6)))
        |    AS DOUBLE), 6) AS chi2
        |FROM e""".stripMargin,
    "q_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def ds(e: String) =
        s"CAST(sum(CAST($e AS DECIMAL(18,6))) AS DOUBLE)"
      val moments =
        cols.map(c => s"${ds(c)} AS s_$c") ++
        cols.map(c => s"${ds(s"$c * $c")} AS ss_$c") ++
        (for { i <- cols.indices; j <- cols.indices if i < j }
          yield s"${ds(s"${cols(i)} * ${cols(j)}")} AS sp_${cols(i)}_${cols(j)}")
      val arms = (for { i <- cols.indices; j <- cols.indices if i < j } yield {
        val (a, b) = (cols(i), cols(j))
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           |  round((sp_${a}_$b / n - (s_$a / n) * (s_$b / n)) /
           |    sqrt((ss_$a / n - (s_$a / n) * (s_$a / n)) *
           |         (ss_$b / n - (s_$b / n) * (s_$b / n))), 6) AS corr,
           |  n FROM m""".stripMargin
      }).mkString("\n UNION ALL\n")
      s"""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  ${moments.mkString(",\n  ")}
         |  FROM lineitem)
         |SELECT col_a, col_b, corr, n FROM (
         |$arms
         |) ORDER BY col_a, col_b""".stripMargin
    },
    "events_acf_hourly" ->
      """WITH hourly AS (SELECT
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    count(*) AS n
        |  FROM events GROUP BY 1),
        |base AS (SELECT count(*) AS nh, sum(n) AS s, sum(n * n) AS ss
        |  FROM hourly),
        |lagged AS (SELECT lag, count(*) AS c_k, sum(a.n * b.n) AS sxy,
        |    sum(a.n) AS sx, sum(b.n) AS sy
        |  FROM hourly a
        |  CROSS JOIN (SELECT unnest(range(1, 13)) AS lag)
        |  JOIN hourly b ON b.h = a.h + lag
        |  GROUP BY lag)
        |SELECT lag, c_k AS n_pairs,
        |  round((sxy - (CAST(s AS DOUBLE) / nh) * (sx + sy) +
        |    c_k * (CAST(s AS DOUBLE) / nh) * (CAST(s AS DOUBLE) / nh)) /
        |    (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nh), 6) AS acf
        |FROM lagged CROSS JOIN base ORDER BY lag""".stripMargin,
    "events_cusum_changepoint" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts)
        |    AS hour_start, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY hour_start) AS k,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY hour_start
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(n) OVER (PARTITION BY event_type) AS tot,
        |    count(*) OVER (PARTITION BY event_type) AS nh
        |  FROM hourly),
        |sc AS (SELECT *, abs(CAST(cum AS DOUBLE) -
        |    k * CAST(tot AS DOUBLE) / nh) AS s_abs FROM s),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY s_abs DESC, hour_start) AS rk FROM sc)
        |SELECT event_type, hour_start AS cp_hour, nh AS n_hours,
        |  round(s_abs, 6) AS cusum_abs,
        |  round(CAST(cum AS DOUBLE) / k, 6) AS mean_before,
        |  round(CAST(tot - cum AS DOUBLE) / (nh - k), 6) AS mean_after
        |FROM r WHERE rk = 1 AND k < nh ORDER BY event_type""".stripMargin,
    "ml_feature_scaling" ->
      """WITH s AS (SELECT count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(l_quantity) AS m_q,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(18,6)))
        |      AS DOUBLE) AS sq_q,
        |    min(l_quantity) AS lo_q, max(l_quantity) AS hi_q,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(l_extendedprice) AS m_p,
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice
        |      AS DECIMAL(18,6))) AS DOUBLE) AS sq_p,
        |    min(l_extendedprice) AS lo_p, max(l_extendedprice) AS hi_p
        |  FROM lineitem),
        |s2 AS (SELECT *, sqrt(sq_q / n - m_q * m_q) AS sd_q,
        |    sqrt(sq_p / n - m_p * m_p) AS sd_p FROM s)
        |SELECT l_orderkey, l_linenumber,
        |  round((l_quantity - m_q) / sd_q, 6) AS z_quantity,
        |  round((l_extendedprice - m_p) / sd_p, 6) AS z_price,
        |  round((l_quantity - lo_q) / (hi_q - lo_q), 6) AS mm_quantity,
        |  round((l_extendedprice - lo_p) / (hi_p - lo_p), 6) AS mm_price
        |FROM lineitem CROSS JOIN s2
        |WHERE l_orderkey % 97 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "events_conformal_interval" ->
      """WITH hourly AS (SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |scored AS (SELECT a.event_type, a.h, a.n, b.n AS f,
        |    abs(a.n - b.n) AS resid
        |  FROM hourly a JOIN hourly b
        |    ON b.event_type = a.event_type AND b.h = a.h - 1),
        |split AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n_rows
        |  FROM scored),
        |s2 AS (SELECT *,
        |    CAST(floor(n_rows * 0.8) AS BIGINT) AS n_cal FROM split),
        |cal AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY resid, h) AS rr,
        |    CAST(ceil((n_cal + 1) * 0.9) AS BIGINT) AS k
        |  FROM s2 WHERE rk <= n_cal),
        |qhat AS (SELECT event_type, resid AS qhat FROM cal WHERE rr = k)
        |SELECT event_type, max(n_cal) AS n_cal, count(*) AS n_test,
        |  max(qhat) AS qhat,
        |  round(CAST(sum(CASE WHEN resid <= qhat THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS coverage
        |FROM s2 JOIN qhat USING (event_type)
        |WHERE rk > n_cal
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "audit_benford" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders WHERE o_totalprice >= 1.0),
        |c AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
        |t AS (SELECT sum(n_obs) AS n FROM c)
        |SELECT digit, n_obs,
        |  round(CAST(n_obs AS DOUBLE) / n, 6) AS p_obs,
        |  round(log10(1.0 + 1.0 / digit), 6) AS p_benford,
        |  round((CAST(n_obs AS DOUBLE) / n - log10(1.0 + 1.0 / digit))
        |    * (CAST(n_obs AS DOUBLE) / n - log10(1.0 + 1.0 / digit))
        |    / log10(1.0 + 1.0 / digit), 6) AS chi2_term
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin,
    "q_gini_revenue" ->
      """WITH rev AS (SELECT o_custkey,
        |    CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(18,6))) AS DOUBLE) AS x
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i
        |  FROM rev)
        |SELECT count(*) AS n_customers,
        |  round(CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE), 2)
        |    AS total_revenue,
        |  round((2.0 * CAST(sum(CAST(i * x AS DECIMAL(28,6))) AS DOUBLE)
        |    - (count(*) + 1) * CAST(sum(CAST(x AS DECIMAL(28,6)))
        |      AS DOUBLE))
        |    / (count(*) * CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE)),
        |    6) AS gini
        |FROM r""".stripMargin,
    "q_mad_by_type" ->
      """WITH e AS (SELECT event_type, value, event_id FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |med AS (SELECT event_type, value AS median, n FROM r
        |  WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)),
        |d AS (SELECT e.event_type, med.n, med.median,
        |    abs(e.value - med.median) AS dev, e.event_id
        |  FROM e JOIN med USING (event_type)),
        |dr AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY dev, event_id) AS rk
        |  FROM d)
        |SELECT event_type, n,
        |  floor(median * 1000000.0 + 0.5) / 1000000.0 AS median,
        |  floor(dev * 1000000.0 + 0.5) / 1000000.0 AS mad
        |FROM dr WHERE rk = CAST(ceil(n / 2.0) AS BIGINT)
        |ORDER BY event_type""".stripMargin,
    "events_kaplan_meier" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |hz AS (SELECT max(us) AS t_end FROM e),
        |users AS (SELECT
        |    CAST(floor((max(us) - min(us)) / 3600000000.0) AS BIGINT)
        |      AS dur_h,
        |    CASE WHEN max(us) < t_end - 86400000000 THEN 1 ELSE 0 END
        |      AS dead
        |  FROM e CROSS JOIN hz GROUP BY user_id, t_end),
        |b AS (SELECT dur_h, count(*) AS n_all,
        |    CAST(sum(dead) AS BIGINT) AS n_deaths
        |  FROM users GROUP BY 1),
        |r AS (SELECT *, CAST(sum(n_all) OVER (ORDER BY dur_h DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk FROM b),
        |d AS (SELECT dur_h, n_risk, n_deaths,
        |    CASE WHEN n_deaths < n_risk THEN
        |      CAST(ln(1.0 - CAST(n_deaths AS DOUBLE) / n_risk)
        |        AS DECIMAL(18,6)) END AS term
        |  FROM r WHERE n_deaths > 0)
        |SELECT dur_h, n_risk, n_deaths,
        |  CASE WHEN n_deaths = n_risk THEN 0.0
        |    ELSE round(exp(CAST(sum(term) OVER (ORDER BY dur_h
        |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) END AS survival
        |FROM d ORDER BY dur_h""".stripMargin,
    "events_seasonal_naive_eval" ->
      """WITH hourly AS (SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |joined AS (SELECT a.event_type, horizon, a.n, b.n AS f
        |  FROM hourly a
        |  CROSS JOIN (SELECT unnest([1, 24]) AS horizon)
        |  JOIN hourly b ON b.event_type = a.event_type
        |    AND b.h = a.h - horizon)
        |SELECT event_type, horizon, count(*) AS n_eval,
        |  round(CAST(sum(CAST(CAST(abs(n - f) AS DOUBLE) / n
        |    AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mape,
        |  round(CAST(sum(CAST(CAST(abs(n - f) AS DOUBLE) * 2 / (n + f)
        |    AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS smape
        |FROM joined GROUP BY 1, 2 ORDER BY event_type, horizon""".stripMargin,
    "ab_mann_whitney" ->
      """WITH hist AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
        |  FROM events GROUP BY 1, 2),
        |rk AS (SELECT event_type, cents, ca, cb, ca + cb AS c,
        |    coalesce(sum(ca + cb) OVER (PARTITION BY event_type
        |      ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum0
        |  FROM hist),
        |st AS (SELECT event_type, sum(ca) AS n_a, sum(cb) AS n_b,
        |    sum(ca * (2 * cum0 + c + 1)) AS r2a,
        |    sum(c * c * c - c) AS ties
        |  FROM rk GROUP BY 1)
        |SELECT event_type, CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  round(r2a / 2.0 - n_a * (n_a + 1) / 2.0, 6) AS u_a,
        |  round((r2a / 2.0 - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0)
        |    / sqrt((n_a * n_b / 12.0) * ((n_a + n_b + 1) - ties /
        |        (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))), 6)
        |    AS z
        |FROM st ORDER BY event_type""".stripMargin,
    "ab_ks_test" ->
      """WITH hist AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
        |  FROM events GROUP BY 1, 2),
        |cdf AS (SELECT event_type,
        |    sum(ca) OVER (PARTITION BY event_type ORDER BY cents)
        |      AS cuma,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY cents)
        |      AS cumb,
        |    sum(ca) OVER (PARTITION BY event_type) AS n_a,
        |    sum(cb) OVER (PARTITION BY event_type) AS n_b
        |  FROM hist)
        |SELECT event_type, CAST(max(n_a) AS BIGINT) AS n_a,
        |  CAST(max(n_b) AS BIGINT) AS n_b,
        |  round(max(abs(cuma * n_b - cumb * n_a))
        |    / (CAST(max(n_a) AS DOUBLE) * max(n_b)), 6) AS d_stat,
        |  round(sqrt(CAST(max(n_a) AS DOUBLE) * max(n_b)
        |      / (max(n_a) + max(n_b)))
        |    * max(abs(cuma * n_b - cumb * n_a))
        |    / (CAST(max(n_a) AS DOUBLE) * max(n_b)), 6) AS ks_scaled
        |FROM cdf GROUP BY 1 ORDER BY 1""".stripMargin,
    "ab_fdr_bh" ->
      """WITH m AS (SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1, 2),
        |mv AS (SELECT event_type, arm, n, s1 / n AS mean,
        |    (s2 - s1 * s1 / n) / (n - 1) AS vr FROM m),
        |w AS (SELECT event_type,
        |    max(CASE WHEN arm = 0 THEN n END) AS n_a,
        |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
        |    max(CASE WHEN arm = 0 THEN mean END) AS m_a,
        |    max(CASE WHEN arm = 1 THEN mean END) AS m_b,
        |    max(CASE WHEN arm = 0 THEN vr END) AS v_a,
        |    max(CASE WHEN arm = 1 THEN vr END) AS v_b
        |  FROM mv GROUP BY 1),
        |z AS (SELECT event_type,
        |    abs((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b)) AS az
        |  FROM w),
        |pt AS (SELECT event_type, az,
        |    1.0 / (1.0 + 0.3275911 * (az / sqrt(2.0))) AS t FROM z),
        |pv AS (SELECT event_type, az,
        |    ((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
        |      - 0.284496736) * t + 0.254829592) * t
        |      * exp(-(az / sqrt(2.0)) * (az / sqrt(2.0))) AS pval
        |  FROM pt),
        |ranked AS (SELECT event_type, az, pval,
        |    row_number() OVER (ORDER BY pval, event_type) AS p_rank,
        |    count(*) OVER () AS m
        |  FROM pv),
        |adj AS (SELECT event_type, az, pval, p_rank, m,
        |    min(pval * m / p_rank) OVER (ORDER BY p_rank DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adjraw
        |  FROM ranked)
        |SELECT event_type, p_rank, round(az, 6) AS abs_z,
        |  round(pval, 6) AS p_value,
        |  round(least(adjraw, 1.0), 6) AS p_bh,
        |  CASE WHEN least(adjraw, 1.0) <= 0.10 THEN 1 ELSE 0 END
        |    AS significant_fdr10
        |FROM adj ORDER BY p_rank""".stripMargin,
    "events_theil_sen" ->
      """WITH hourly AS (SELECT
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |base AS (SELECT h - (SELECT min(h) FROM hourly) AS h, v
        |  FROM hourly),
        |slopes AS (SELECT (b.v - a.v) / (b.h - a.h) AS sl
        |  FROM base a JOIN base b ON a.h < b.h),
        |ols AS (SELECT (count(*) *
        |      CAST(sum(CAST(v * h AS DECIMAL(18,6))) AS DOUBLE)
        |      - sum(h) * CAST(sum(CAST(v AS DECIMAL(18,6))) AS DOUBLE))
        |    / (count(*) * sum(h * h) - sum(h) * sum(h)) AS ols
        |  FROM base)
        |SELECT count(*) AS n_pairs,
        |  round(quantile_cont(sl, 0.5), 6) AS theil_sen_slope,
        |  round((SELECT ols FROM ols), 6) AS ols_slope
        |FROM slopes""".stripMargin,
    "events_ccf_lead_lag" ->
      """WITH hourly AS (SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    count(*) AS n
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |x AS (SELECT h, n AS xv FROM hourly WHERE event_type = 'click'),
        |y AS (SELECT h AS h2, n AS yv FROM hourly
        |  WHERE event_type = 'purchase'),
        |pairs AS (SELECT lag, xv, yv
        |  FROM x CROSS JOIN (SELECT unnest(range(-6, 7)) AS lag)
        |  JOIN y ON h2 = h + lag),
        |st AS (SELECT lag, count(*) AS np, sum(xv) AS sx, sum(yv) AS sy,
        |    sum(xv * yv) AS sxy, sum(xv * xv) AS sxx,
        |    sum(yv * yv) AS syy
        |  FROM pairs GROUP BY 1),
        |d AS (SELECT *, sqrt(np * sxx - sx * sx) *
        |    sqrt(CAST(np * syy - sy * sy AS DOUBLE)) AS den FROM st)
        |SELECT lag, np AS n_pairs,
        |  CASE WHEN den > 0
        |    THEN round((np * sxy - sx * sy) / den, 6) END AS ccf
        |FROM d ORDER BY lag""".stripMargin,
    "monitor_ks_drift" ->
      """WITH b AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CASE WHEN ts < (SELECT min(ts) + INTERVAL 7 DAY FROM events)
        |      THEN 0 ELSE 1 END AS w
        |  FROM events),
        |hist AS (SELECT event_type, cents,
        |    sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS cb
        |  FROM b GROUP BY 1, 2),
        |cdf AS (SELECT event_type,
        |    sum(ca) OVER (PARTITION BY event_type ORDER BY cents)
        |      AS cuma,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY cents)
        |      AS cumb,
        |    sum(ca) OVER (PARTITION BY event_type) AS n_a,
        |    sum(cb) OVER (PARTITION BY event_type) AS n_b
        |  FROM hist)
        |SELECT event_type, CAST(max(n_a) AS BIGINT) AS n_ref,
        |  CAST(max(n_b) AS BIGINT) AS n_cur,
        |  round(max(abs(cuma * n_b - cumb * n_a))
        |    / (CAST(max(n_a) AS DOUBLE) * max(n_b)), 6) AS ks_drift
        |FROM cdf GROUP BY 1 ORDER BY 1""".stripMargin,
    "ab_sequential_obf" ->
      """WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |    CAST(user_id % 2 AS INT) AS arm, value
        |  FROM events),
        |agg AS (SELECT day, arm, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE)
        |      AS s2
        |  FROM d GROUP BY 1, 2),
        |cum AS (SELECT day, arm, sum(n) OVER w AS n,
        |    sum(s1) OVER w AS s1, sum(s2) OVER w AS s2
        |  FROM agg WINDOW w AS (PARTITION BY arm ORDER BY day)),
        |piv AS (SELECT day,
        |    max(CASE WHEN arm = 0 THEN n END) AS n_a,
        |    max(CASE WHEN arm = 1 THEN n END) AS n_b,
        |    max(CASE WHEN arm = 0 THEN s1 / n END) AS m_a,
        |    max(CASE WHEN arm = 1 THEN s1 / n END) AS m_b,
        |    max(CASE WHEN arm = 0 THEN (s2 - s1 * s1 / n) / (n - 1) END)
        |      AS v_a,
        |    max(CASE WHEN arm = 1 THEN (s2 - s1 * s1 / n) / (n - 1) END)
        |      AS v_b
        |  FROM cum GROUP BY 1
        |  HAVING max(CASE WHEN arm = 0 THEN n END) > 1
        |    AND max(CASE WHEN arm = 1 THEN n END) > 1),
        |z AS (SELECT day, n_a, n_b,
        |    (m_a - m_b) / sqrt(v_a / n_a + v_b / n_b) AS z,
        |    CAST(n_a + n_b AS DOUBLE)
        |      / (SELECT max(n_a + n_b) FROM piv) AS frac
        |  FROM piv)
        |SELECT day, CAST(n_a + n_b AS BIGINT) AS n, round(z, 6) AS z,
        |  round(2.963 / sqrt(frac), 6) AS obf_bound,
        |  CASE WHEN abs(z) > 2.963 / sqrt(frac) THEN 1 ELSE 0 END
        |    AS crossed
        |FROM z ORDER BY day""".stripMargin,
    "ab_diff_in_diff" ->
      """WITH b AS (SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
        |    CASE WHEN ts < (SELECT min(ts) + INTERVAL 15 DAY
        |      FROM events) THEN 0 ELSE 1 END AS period, value
        |  FROM events),
        |c AS (SELECT event_type, arm, period,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*) AS m
        |  FROM b GROUP BY 1, 2, 3),
        |p AS (SELECT event_type,
        |    max(CASE WHEN arm = 1 AND period = 0 THEN m END) AS m_t_pre,
        |    max(CASE WHEN arm = 1 AND period = 1 THEN m END) AS m_t_post,
        |    max(CASE WHEN arm = 0 AND period = 0 THEN m END) AS m_c_pre,
        |    max(CASE WHEN arm = 0 AND period = 1 THEN m END) AS m_c_post
        |  FROM c GROUP BY 1)
        |SELECT event_type, round(m_t_pre, 6) AS m_t_pre,
        |  round(m_t_post, 6) AS m_t_post, round(m_c_pre, 6) AS m_c_pre,
        |  round(m_c_post, 6) AS m_c_post,
        |  round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did
        |FROM p ORDER BY 1""".stripMargin,
    "ab_cuped" ->
      """WITH cut AS (SELECT min(ts) + INTERVAL 15 DAY AS c FROM events),
        |u AS (SELECT user_id, CAST(user_id % 2 AS INT) AS arm,
        |    CAST(sum(CASE WHEN ts < (SELECT c FROM cut)
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
        |      / count(CASE WHEN ts < (SELECT c FROM cut) THEN 1 END)
        |      AS x,
        |    CAST(sum(CASE WHEN ts >= (SELECT c FROM cut)
        |      THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
        |      / count(CASE WHEN ts >= (SELECT c FROM cut) THEN 1 END)
        |      AS y
        |  FROM events GROUP BY 1, 2),
        |v AS (SELECT * FROM u WHERE x IS NOT NULL AND y IS NOT NULL),
        |m AS (SELECT count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x * y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y * y AS DECIMAL(18,6))) AS DOUBLE) AS syy
        |  FROM v),
        |t AS (SELECT n, sx / n AS mx,
        |    (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
        |    (sxy - sx * sy / n)
        |      / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr
        |  FROM m),
        |adj AS (SELECT arm, count(*) AS n,
        |    CAST(sum(CAST(y - (SELECT theta FROM t)
        |      * (x - (SELECT mx FROM t)) AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*) AS madj,
        |    CAST(sum(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / count(*)
        |      AS mraw
        |  FROM v GROUP BY 1)
        |SELECT (SELECT n FROM t) AS n_users,
        |  round((SELECT theta FROM t), 6) AS theta,
        |  round((SELECT 1.0 - corr * corr FROM t), 6) AS var_ratio,
        |  round(max(CASE WHEN arm = 1 THEN mraw END)
        |    - max(CASE WHEN arm = 0 THEN mraw END), 6) AS raw_effect,
        |  round(max(CASE WHEN arm = 1 THEN madj END)
        |    - max(CASE WHEN arm = 0 THEN madj END), 6) AS cuped_effect
        |FROM adj""".stripMargin,
    "events_hampel_outliers" ->
      """WITH hourly AS (SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS h,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |med AS (
        |  SELECT a.event_type, a.h, a.n,
        |    quantile_cont(b.n, 0.5) AS med
        |  FROM hourly a JOIN hourly b
        |    ON b.event_type = a.event_type
        |    AND b.h BETWEEN a.h - 12 AND a.h + 12
        |  GROUP BY 1, 2, 3),
        |mad AS (
        |  SELECT w.event_type, w.h, w.n, w.med,
        |    quantile_cont(abs(b.n - w.med), 0.5) AS mad
        |  FROM med w JOIN hourly b
        |    ON b.event_type = w.event_type
        |    AND b.h BETWEEN w.h - 12 AND w.h + 12
        |  GROUP BY 1, 2, 3, 4)
        |SELECT event_type, count(*) AS n_hours,
        |  CAST(sum(CASE WHEN (mad > 0
        |      AND abs(n - med) > 3 * 1.4826 * mad)
        |      OR (mad = 0 AND n <> med)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(max(CASE WHEN mad > 0
        |    THEN abs(n - med) / (1.4826 * mad) END), 6) AS max_score
        |FROM mad GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
