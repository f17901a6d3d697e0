package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Property checks for the experimentation/statistics surface (the
  * oracle gate proves cross-engine equality; these prove the STATISTICS
  * are right — known-answer identities a wrong formula can't fake). */
class StatsSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("welch t: identical arms give t = 0; known two-sample case matches R") {
    // identical arms via duplicating each value across both parities
    import spark.implicits._
    // +1001 flips user-id parity, so every value lands in BOTH arms
    val rows = (1 to 40).map(i => (i.toLong, "x", 5.0 + (i % 7)))
    val e = (rows ++ rows.map { case (id, t0, v) => (id + 1001, t0, v) })
      .map { case (id, t0, v) => (id, t0, v, (id % 2).toInt) }
      .toDF("user_id", "event_type", "value", "arm")
    val m = e.groupBy($"event_type", $"arm")
      .agg(count(lit(1)).as("n"), sum($"value").as("s1"),
        sum($"value" * $"value").as("s2"))
      .withColumn("mean", $"s1" / $"n")
      .withColumn("vr", ($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1))
      .orderBy($"arm").collect()
    assert(m(0).getAs[Double]("mean") == m(1).getAs[Double]("mean"))
    assert(math.abs(m(0).getAs[Double]("vr") - m(1).getAs[Double]("vr")) < 1e-9)
    // Welch on {1,2,3,4} vs {2,4,6,8,10}: va=5/3, vb=10, se2=29/12
    // → t = -3.5/sqrt(29/12) = -2.2514350, df = (29/12)²/(25/432 + 1)
    // = 5.5207876
    val a = Seq(1.0, 2.0, 3.0, 4.0); val b = Seq(2.0, 4.0, 6.0, 8.0, 10.0)
    def mv(x: Seq[Double]) = {
      val n = x.size; val m0 = x.sum / n
      (n, m0, x.map(v => (v - m0) * (v - m0)).sum / (n - 1))
    }
    val (na, ma, va) = mv(a); val (nb, mb, vb) = mv(b)
    val se2 = va / na + vb / nb
    val t0 = (ma - mb) / math.sqrt(se2)
    val df = se2 * se2 / (va * va / (na.toDouble * na * (na - 1)) +
      vb * vb / (nb.toDouble * nb * (nb - 1)))
    assert(math.abs(t0 - (-2.2514350)) < 1e-5)
    assert(math.abs(df - 5.5207876) < 1e-5)
  }

  test("acf: a strictly periodic series has acf ≈ 1 at its period") {
    import spark.implicits._
    // period-4 series over 64 hours, mean-varying: x_h = 10 + (h % 4) * 3
    val hourly = (0 until 64).map(h => (h.toLong, 10L + (h % 4) * 3))
      .toDF("h", "n")
    val base = hourly.agg(count(lit(1)).as("nh"), sum($"n").as("s"),
      sum($"n" * $"n").as("ss"))
    val lagged = hourly
      .select($"h", $"n", explode(sequence(lit(1), lit(4))).as("lag"))
      .join(hourly.select($"h".as("h2"), $"n".as("n2")),
        $"h2" === $"h" + $"lag")
      .groupBy($"lag")
      .agg(count(lit(1)).as("c_k"), sum($"n" * $"n2").as("sxy"),
        sum($"n").as("sx"), sum($"n2").as("sy"))
    val acf = lagged.crossJoin(base)
      .withColumn("mu", $"s".cast("double") / $"nh")
      .select($"lag", (($"sxy" - $"mu" * ($"sx" + $"sy") +
        $"c_k" * $"mu" * $"mu") /
        ($"ss".cast("double") - $"s".cast("double") * $"s" / $"nh")).as("acf"))
      .orderBy($"lag").collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(acf(4) > 0.9, s"period-lag acf ${acf(4)}")
    assert(acf(2) < 0.0, s"anti-phase lag acf ${acf(2)}")
  }

  test("cusum: changepoint lands on a planted mean shift") {
    import spark.implicits._
    // 40 hours at 10/h then 40 hours at 30/h → argmax |S_k| at k=40
    val hourly = (0 until 80)
      .map(h => ("a", h.toLong, if (h < 40) 10L else 30L))
      .toDF("event_type", "hour_start", "n")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"hour_start")
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type")
    val scored = hourly
      .withColumn("k", row_number().over(w))
      .withColumn("cum", sum($"n").over(w))
      .withColumn("tot", sum($"n").over(wt))
      .withColumn("nh", count(lit(1)).over(wt))
      .withColumn("s_abs", abs($"cum".cast("double") -
        $"k" * $"tot".cast("double") / $"nh"))
    val top = scored.orderBy($"s_abs".desc, $"hour_start").head
    assert(top.getAs[Long]("hour_start") == 39L) // last pre-shift hour
    assert(top.getAs[Long]("cum") == 400L)
  }

  test("kaplan-meier: hand-computed curve on a 5-user cohort") {
    import spark.implicits._
    // durations 1,2,2,3,4; the 4 is censored (no death) →
    // S(1)=4/5, S(2)=4/5·(1−2/4)=0.4, S(3)=0.4·(1−1/2)=0.2
    val users = Seq((1L, 1), (2L, 1), (3L, 1), (4L, 1), (5L, 0))
      .zip(Seq(1L, 2L, 2L, 3L, 4L))
      .map { case ((u, dead), d) => (u, d, dead) }
      .toDF("user_id", "dur_h", "dead")
    val buckets = users.groupBy($"dur_h")
      .agg(count(lit(1)).as("n_all"), sum($"dead").as("n_deaths"))
    val wRisk = org.apache.spark.sql.expressions.Window
      .orderBy($"dur_h".desc)
      .rowsBetween(Long.MinValue, 0)
    val wS = org.apache.spark.sql.expressions.Window.orderBy($"dur_h")
      .rowsBetween(Long.MinValue, 0)
    val km = buckets
      .withColumn("n_risk", sum($"n_all").over(wRisk))
      .filter($"n_deaths" > 0)
      .withColumn("term", when($"n_deaths" < $"n_risk",
        log(lit(1.0) - $"n_deaths".cast("double") / $"n_risk")))
      .withColumn("survival", when($"n_deaths" === $"n_risk", lit(0.0))
        .otherwise(round(exp(Q.dsumOver($"term", wS)), 6)))
      .orderBy($"dur_h")
      .select($"dur_h", $"survival").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(km(1L) - 0.8) < 1e-4)
    assert(math.abs(km(2L) - 0.4) < 1e-4)
    assert(math.abs(km(3L) - 0.2) < 1e-4)
  }

  test("holt tracks a linear trend that ewma lags") {
    // x_t = 10 + 2t: Holt's forecast converges to the true next value;
    // plain EWMA converges to a LAGGED value (~x_t − 2·(1−α)/α)
    var (l, b) = (12.0, 0.0)
    var ewma = 12.0
    for (t <- 2 to 60) {
      val x = 10.0 + 2 * t
      val nl = 0.3 * x + 0.7 * (l + b)
      b = 0.3 * (nl - l) + 0.7 * b
      l = nl
      ewma = 0.3 * x + 0.7 * ewma
    }
    val nextTrue = 10.0 + 2 * 61
    assert(math.abs((l + b) - nextTrue) < 1.0, s"holt forecast ${l + b}")
    assert(nextTrue - ewma > 5.0, s"ewma should lag, got $ewma")
  }

  test("gini: 0 for equal shares, (n-1)/n for total concentration") {
    import spark.implicits._
    def gini(xs: Seq[Double]): Double = {
      val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
        .toDF("id", "x")
      val w = org.apache.spark.sql.expressions.Window.orderBy($"x", $"id")
      df.withColumn("i", row_number().over(w))
        .agg(((lit(2.0) * sum($"i" * $"x") - (count(lit(1)) + 1) *
          sum($"x")) / (count(lit(1)) * sum($"x"))).as("g"))
        .head.getDouble(0)
    }
    assert(math.abs(gini(Seq(5.0, 5.0, 5.0, 5.0))) < 1e-9)
    assert(math.abs(gini(Seq(0.0, 0.0, 0.0, 20.0)) - 0.75) < 1e-9)
  }

  test("benford expectation is a distribution; conformal output is sane") {
    val b = Stats.queries("audit_benford")(spark, sf).collect()
    assert(b.map(_.getAs[Double]("p_benford")).sum > 0.999)
    assert(b.map(_.getAs[Double]("p_obs")).sum > 0.999)
    val c = Stats.queries("events_conformal_interval")(spark, sf).collect()
    c.foreach { r =>
      assert(r.getAs[Long]("qhat") >= 0)
      val cov = r.getAs[Double]("coverage")
      assert(cov >= 0.0 && cov <= 1.0)
    }
  }

  test("registered stats queries return sane shapes on sf0.001") {
    val corr = Stats.queries("q_corr_matrix")(spark, sf).collect()
    assert(corr.length == 6)
    corr.foreach { r =>
      val c = r.getAs[Double]("corr")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"corr out of range: $r")
    }
    val t = Stats.queries("ab_welch_ttest")(spark, sf).collect()
    assert(t.nonEmpty)
    t.foreach(r => assert(!r.getAs[Double]("welch_df").isNaN))
    val chi = Stats.queries("ab_chi_square")(spark, sf).head
    assert(chi.getAs[Double]("chi2") >= 0.0)
    val acf = Stats.queries("events_acf_hourly")(spark, sf).collect()
    assert(acf.length == 12)
    acf.foreach { r =>
      val a = r.getAs[Double]("acf")
      assert(a >= -1.0 - 1e-6 && a <= 1.0 + 1e-6, s"acf out of range: $r")
    }
  }

  /** Planted events fixture exercising the REGISTERED rank-test and
    * trend queries end-to-end (written as parquet so the real loader
    * path runs): arm is user-id parity, so even ids are arm a. */
  private lazy val rankFixture: String = {
    import spark.implicits._
    val dir = "/tmp/graft_stats_fixture"
    // type "x": arm a = {1,2,2,3}, arm b = {2,3,4} — hand-rankable
    val x = Seq((2L, "x", 1.0), (4L, "x", 2.0), (6L, "x", 2.0),
      (8L, "x", 3.0), (1L, "x", 2.0), (3L, "x", 3.0), (5L, "x", 4.0))
      .map { case (u, t0, v) => (u, t0, v, "2024-01-01 00:00:00") }
    // type "purchase": hourly revenue 1, 3, 4 → pairwise slopes
    // {2, 1.5, 1} → Theil–Sen median 1.5; OLS is also exactly 1.5
    val p = Seq((10L, "purchase", 1.0, "2024-01-01 00:30:00"),
      (11L, "purchase", 3.0, "2024-01-01 01:30:00"),
      (12L, "purchase", 4.0, "2024-01-01 02:30:00"))
    (x ++ p).toDF("user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("mann-whitney: hand-computed midrank U on the planted fixture") {
    // combined x sample ranks: 1→1; three 2s→midrank 3; two 3s→5.5;
    // 4→7. R_a = 1 + 2·3 + 5.5 = 12.5, U_a = R_a − 4·5/2 = 2.5
    val r = Stats.queries("ab_mann_whitney")(spark, rankFixture)
      .collect().find(_.getString(0) == "x").get
    assert(r.getAs[Long]("n_a") == 4 && r.getAs[Long]("n_b") == 3)
    assert(math.abs(r.getAs[Double]("u_a") - 2.5) < 1e-9)
    assert(!r.getAs[Double]("z").isNaN)
  }

  test("ks: hand-computed max CDF gap on the planted fixture") {
    // F_a = (.25, .75, 1, 1), F_b = (0, 1/3, 2/3, 1) over the shared
    // grid → D = 5/12
    val r = Stats.queries("ab_ks_test")(spark, rankFixture)
      .collect().find(_.getString(0) == "x").get
    assert(math.abs(r.getAs[Double]("d_stat") - 5.0 / 12) < 1e-6)
  }

  test("theil-sen: planted linear-ish series gives the median slope") {
    val r = Stats.queries("events_theil_sen")(spark, rankFixture).head
    assert(r.getAs[Long]("n_pairs") == 3)
    assert(math.abs(r.getAs[Double]("theil_sen_slope") - 1.5) < 1e-9)
    assert(math.abs(r.getAs[Double]("ols_slope") - 1.5) < 1e-9)
  }

  test("ccf: planted click series leading purchases by 1h peaks at lag +1") {
    import spark.implicits._
    val dir = "/tmp/graft_ccf_fixture"
    def at(h: Int, m: Int) = f"2024-01-01 $h%02d:$m%02d:00"
    // clicks at hours 0/1/2 with counts 1/2/5; purchases mirror at 1/2/3
    val clicks = Seq(at(0, 1)) ++ Seq(at(1, 1), at(1, 2)) ++
      (1 to 5).map(m => at(2, m))
    val purch = Seq(at(1, 1)) ++ Seq(at(2, 1), at(2, 2)) ++
      (1 to 5).map(m => at(3, m))
    (clicks.map(ts => (1L, "click", 0.0, ts)) ++
      purch.map(ts => (2L, "purchase", 0.0, ts)))
      .toDF("user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = Stats.queries("events_ccf_lead_lag")(spark, dir).collect()
      .map(r => r.getAs[Int]("lag") -> r).toMap
    assert(math.abs(rows(1).getAs[Double]("ccf") - 1.0) < 1e-9)
    assert(rows(1).getAs[Long]("n_pairs") == 3)
  }

  test("ks drift: identical windows give 0; disjoint windows give 1") {
    import spark.implicits._
    val dir = "/tmp/graft_ksdrift_fixture"
    // type x: week-1 {1,2} vs later {1,2} → D = 0
    // type y: week-1 {1}   vs later {2}   → D = 1
    val rows = Seq(
      (1L, "x", 1.0, "2024-01-01 00:00:00"),
      (2L, "x", 2.0, "2024-01-02 00:00:00"),
      (3L, "x", 1.0, "2024-01-20 00:00:00"),
      (4L, "x", 2.0, "2024-01-21 00:00:00"),
      (5L, "y", 1.0, "2024-01-01 00:00:00"),
      (6L, "y", 2.0, "2024-01-20 00:00:00"))
    rows.toDF("user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Stats.queries("monitor_ks_drift")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("ks_drift")).toMap
    assert(math.abs(got("x")) < 1e-9)
    assert(math.abs(got("y") - 1.0) < 1e-9)
  }

  test("cuped: pooled theta fit shrinks the imbalance-inflated effect toward truth") {
    import spark.implicits._
    val dir = "/tmp/graft_cuped_fixture"
    // arm 0 (even ids): pre x ∈ {1..5}, post y = 2x
    // arm 1 (odd ids):  pre x ∈ {3..7}, post y = 2x + 1 (true effect 1)
    // raw effect = (2·5+1) − 2·3 = 5 (imbalance-inflated). Pooled fit:
    // θ = 65/30 = 13/6, adjusted effect = 5 − θ·(x̄₁−x̄₀) = 5 − 13/3
    // = 2/3 — most of the imbalance removed; ρ² = 4225/4275
    val a0 = (1 to 5).map(i => (2L * i, i.toDouble, 2.0 * i))
    val a1 = (1 to 5).map(i => (2L * i - 1, (i + 2).toDouble,
      2.0 * (i + 2) + 1))
    val rows = (a0 ++ a1).flatMap { case (uid, x, y) =>
      Seq((uid, "m", x, "2024-01-01 10:00:00"),
        (uid, "m", y, "2024-01-20 10:00:00"))
    }
    rows.toDF("user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Stats.queries("ab_cuped")(spark, dir).head
    assert(r.getAs[Long]("n_users") == 10)
    assert(math.abs(r.getAs[Double]("theta") - 13.0 / 6) < 1e-6)
    assert(math.abs(r.getAs[Double]("raw_effect") - 5.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("cuped_effect") - 2.0 / 3) < 1e-6)
    assert(math.abs(r.getAs[Double]("var_ratio") - 50.0 / 4275) < 1e-6)
    // diff-in-diff on the same fixture: both arms double pre→post plus
    // the +1 treatment shift; did = (y1−x1) − (y0−x0) = mean shift
    // difference = (x̄1 + 1) − x̄0 = 3
    val d = Stats.queries("ab_diff_in_diff")(spark, dir).head
    assert(math.abs(d.getAs[Double]("did") - 3.0) < 1e-6)
  }

  test("obf: boundary shrinks with information; planted huge effect crosses") {
    import spark.implicits._
    val dir = "/tmp/graft_obf_fixture"
    // 10 days × 20 users/arm; arm 0 metric ~N(1,·), arm 1 ~100 + noise
    val rows = for {
      d <- 1 to 10; u <- 1L to 40L
    } yield (u, "m",
      (if (u % 2 == 1) 100.0 else 1.0) + (u % 7) * 0.1,
      f"2024-01-$d%02d 10:00:00")
    rows.toDF("user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Stats.queries("ab_sequential_obf")(spark, dir)
      .orderBy(col("day")).collect()
    assert(got.length == 10)
    // boundary monotone non-increasing as information accrues
    got.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(0).getAs[Double]("obf_bound") >=
          w(1).getAs[Double]("obf_bound") - 1e-9)
    }
    // final boundary is the fixed-horizon 2.963; the planted effect
    // is enormous → crossed
    assert(math.abs(got.last.getAs[Double]("obf_bound") - 2.963) < 1e-6)
    assert(got.last.getAs[Int]("crossed") == 1)
    got.foreach { r =>
      val want = if (math.abs(r.getAs[Double]("z")) >
        r.getAs[Double]("obf_bound")) 1 else 0
      assert(r.getAs[Int]("crossed") == want)
    }
  }

  test("shapley attribution: hand-computed game; credit conserves exactly") {
    import spark.implicits._
    val dir = "/tmp/graft_shapley_fixture"
    // u1 touched {click}, u2 {click, view}, u3 nothing — all convert.
    // φ_click = 1/4 + 9/12·1/1... worked by hand: 1.5; φ_view = 0.5;
    // error/signup 0; Σφ = 2 = conversions with ≥1 touch
    val rows = Seq(
      (1L, "click", "2024-01-01 09:00:00"),
      (1L, "purchase", "2024-01-01 10:00:00"),
      (2L, "click", "2024-01-01 09:00:00"),
      (2L, "view", "2024-01-01 09:30:00"),
      (2L, "purchase", "2024-01-01 10:00:00"),
      (3L, "purchase", "2024-01-01 10:00:00"))
    rows.map { case (u, t0, ts) => (u, t0, 0.0, ts) }
      .toDF("user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.streaming.EventStream
      .queries("events_shapley_attribution")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("shapley"))
      .toMap
    assert(math.abs(got("click") - 1.5) < 1e-6, got)
    assert(math.abs(got("view") - 0.5) < 1e-6, got)
    assert(math.abs(got("error")) < 1e-6 && math.abs(got("signup")) < 1e-6)
    assert(math.abs(got.values.sum - 2.0) < 1e-6) // conservation
  }

  test("markov removal: sole converting channel gets effect 1, bystander 0") {
    import spark.implicits._
    val dir = "/tmp/graft_markov_fixture"
    // u1/u2: click → purchase; u3: view → (no purchase)
    // P(conv) = P(start→click) = 2/3; removing click kills every
    // converting walk → effect 1; removing view changes nothing → 0
    val rows = Seq(
      (1L, "click", "2024-01-01 09:00:00"),
      (1L, "purchase", "2024-01-01 10:00:00"),
      (2L, "click", "2024-01-01 09:00:00"),
      (2L, "purchase", "2024-01-01 10:00:00"),
      (3L, "view", "2024-01-01 09:00:00"))
    rows.zipWithIndex.map { case ((u, t0, ts), i) =>
        (i.toLong, u, t0, 0.0, ts) }
      .toDF("event_id", "user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val base = pinned
    val got = graft.streaming.EventStream
      .queries("events_markov_removal")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("p_conv"), r.getAs[Double]("removal_effect")))
      .toMap
    // the transition matrix, the loop's last step and pstart; no other step
    assert(pinned <= base + 3, "only the loop's result may stay pinned")
    assert(math.abs(got("click")._2 - 1.0) < 1e-6, got)
    assert(math.abs(got("view")._2) < 1e-6, got)
    assert(math.abs(got("view")._1 - 2.0 / 3) < 1e-6, got)
  }

  test("hampel: planted spike flagged, flat series clean") {
    import spark.implicits._
    val dir = "/tmp/graft_hampel_fixture"
    // type "sp": 1 event/hour for 48h except a 50-event spike at h=24;
    // type "fl": flat 2 events/hour — no outliers
    def ts(h: Int, m: Int) = f"2024-01-0${1 + h / 24}%d ${h % 24}%02d:$m%02d:00"
    val sp = (0 until 48).flatMap { h =>
      val k = if (h == 24) 50 else 1
      (0 until k).map(m => (1L, "sp", 0.0, ts(h, m)))
    }
    val fl = (0 until 48).flatMap(h =>
      Seq((2L, "fl", 0.0, ts(h, 0)), (3L, "fl", 0.0, ts(h, 1))))
    (sp ++ fl).toDF("user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Stats.queries("events_hampel_outliers")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_outliers"))
      .toMap
    assert(got("sp") == 1L, s"spike not flagged: $got")
    assert(got("fl") == 0L)
  }

  test("fdr: BH adjustment is monotone, bounded, at least the raw p") {
    val rows = Stats.queries("ab_fdr_bh")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byRank = rows.sortBy(_.getAs[Int]("p_rank"))
    byRank.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(0).getAs[Double]("p_bh") <= w(1).getAs[Double]("p_bh") + 1e-9)
    }
    byRank.foreach { r =>
      val p = r.getAs[Double]("p_value"); val a = r.getAs[Double]("p_bh")
      assert(a >= p - 1e-9 && a <= 1.0 + 1e-9)
      assert(p >= 0.0 && p <= 1.0 + 1e-9)
    }
  }
}
