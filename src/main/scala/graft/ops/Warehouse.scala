package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Q._

/** Warehouse-modeling analytics the reference has no counterpart for
  * (its 642-line ingest script ends at the columnar sink — see
  * SURVEY §2c): slowly-changing-dimension history, RFM customer
  * segmentation, and statistical anomaly flagging over the event
  * stream.
  *
  * Scale notes: SCD-2 is one shuffle on the dimension key plus a
  * bounded per-key window; anomaly z-scores reduce the event stream to
  * one row per (type, hour) before any join, and the per-type stats
  * table is broadcast. RFM's three ntile windows run over the
  * *post-aggregation* per-user table (|users| rows, not |events|) —
  * see the comment on the query for the 100 TB variant.
  */
object Warehouse {

  /** Per-user R/F/M aggregates — shared by the exact (ntile) and
    * approx-threshold RFM formulations. */
  private def rfmPerUser(e: DataFrame): DataFrame = {
    val now = e.agg(max(unix_micros(col("ts"))).as("t_now"))
    e.groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("t_last"),
        count(lit(1)).as("frequency"),
        dsum(col("value")).as("monetary"))
      .crossJoin(broadcast(now))
      .withColumn("recency_us", col("t_now") - col("t_last"))
  }

  /** Quintile score from four broadcast thresholds: 1 + #{t_k < v}
    * (ascending value = better). */
  private def thresholdScore(v: org.apache.spark.sql.Column,
      ts: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    ts.foldLeft(lit(1))((acc, t) => acc + when(v > t, 1).otherwise(0))

  /** Snapshot diff (the CDC delta between two versions of a keyed
    * table): full outer join on the key, classify each key as
    * added / removed / changed by a caller-supplied change predicate,
    * and emit ONLY the delta — the thing a pipeline materializes to
    * avoid reprocessing an unchanged 100 TB snapshot. One shuffle per
    * side on the key (sort-merge full outer); with both snapshots
    * bucketed by the key the exchange disappears entirely
    * (`Sinks`-style bucketing, same co-location story as
    * `q_bucketed_join`). The change predicate compares typed columns
    * (IS DISTINCT FROM semantics via `<=>`), not row hashes — hashing
    * float renderings is engine-dependent, typed compares are not. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, key: String,
      compare: Seq[String]): DataFrame = {
    val o = oldDf.select(col(key) +: compare.map(c =>
      col(c).as(s"old_$c")): _*)
    val n = newDf.select(col(key) +: compare.map(c =>
      col(c).as(s"new_$c")): _*)
    val changed = compare.map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    // presence flags, not null-checks on data columns: a legitimately
    // NULL compare column must not read as an absent row
    val j = o.withColumn("__in_old", lit(true))
      .join(n.withColumn("__in_new", lit(true)), Seq(key), "full_outer")
    j.withColumn("status",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(changed, lit("changed")))
      .filter(col("status").isNotNull)
      .drop("__in_old", "__in_new")
  }

  /** PSI fixed-width value bins: width 25, 12 bins, top bin catch-all
    * (events.value sits in [0, ~500] with mean ~50 — the low bins carry
    * the mass, the catch-all keeps the tail from fragmenting). Fixed
    * bins, not quantiles: bin edges must be CONSTANTS for PSI to be
    * comparable across runs, and quantile edges would re-shift every
    * period (the classic PSI-implementation bug). */
  val PsiBinWidth = 25.0
  val PsiBins = 12

  /** Population-stability-index drift between two periods of a metric's
    * distribution: PSI = Σ_bins (p_cur − p_base)·ln(p_cur/p_base), with
    * Laplace-smoothed proportions p = (n + 0.5)/(N + bins/2) so empty
    * bins contribute finite terms. The standard model-ops drift gate
    * (PSI < 0.1 stable / > 0.25 shifted).
    *
    * Scale shape: ONE scan reduces the stream to (type, bin, period)
    * counts — partial+final hash agg; everything after is
    * |types|×|bins| rows. The period cutoff (midpoint of the observed
    * time range) is a one-row broadcast; in production it's a literal
    * (yesterday vs today), dropping even that. Float determinism: all
    * proportions are integer-count divisions (one IEEE division each),
    * terms are summed with the DECIMAL(18,6) pattern. */
  def psiByType(e: DataFrame): DataFrame = {
    val ev = e.select(col("event_type"), col("value"),
      unix_micros(col("ts")).as("us"))
    val cut = ev.agg(((min(col("us")) + max(col("us"))) / lit(2L))
      .cast(LongType).as("cut"))
    val binned = ev.crossJoin(broadcast(cut))
      .withColumn("base", when(col("us") < col("cut"), 1).otherwise(0))
      .withColumn("bin", least(floor(col("value") / lit(PsiBinWidth))
        .cast(IntegerType), lit(PsiBins - 1)))
    val cnt = binned.groupBy(col("event_type"), col("bin"))
      .agg(sum(col("base")).as("nb"),
        sum(lit(1) - col("base")).as("nc"))
    // every (type, bin) cell participates, observed or not — the bin
    // GRID is part of the statistic, and both engines must smooth the
    // same empty cells
    val grid = binned.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0), lit(PsiBins - 1))).as("bin"))
    val full = grid.join(cnt, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("nb", "nc"))
    val tot = full.groupBy(col("event_type"))
      .agg(sum(col("nb")).as("tb"), sum(col("nc")).as("tc"))
    val half = lit(PsiBins / 2.0)
    val pb = (col("nb") + lit(0.5)) / (col("tb") + half)
    val pc = (col("nc") + lit(0.5)) / (col("tc") + half)
    full.join(broadcast(tot), "event_type")
      .withColumn("term", (pc - pb) * log(pc / pb))
      .groupBy(col("event_type"))
      .agg(max(col("tb")).as("n_base"), max(col("tc")).as("n_cur"),
        round(dsum(col("term")), 6).as("psi"))
      .orderBy(col("event_type"))
  }

  /** Categorical-mix PSI: the same statistic over the event-TYPE
    * distribution itself (did the traffic mix shift?) — one output row.
    * Category set = observed types across both periods (the grid is the
    * distinct-type table, so both engines smooth identical cells). */
  def psiMix(e: DataFrame): DataFrame = {
    val ev = e.select(col("event_type"), unix_micros(col("ts")).as("us"))
    val cut = ev.agg(((min(col("us")) + max(col("us"))) / lit(2L))
      .cast(LongType).as("cut"))
    val cnt = ev.crossJoin(broadcast(cut))
      .withColumn("base", when(col("us") < col("cut"), 1).otherwise(0))
      .groupBy(col("event_type"))
      .agg(sum(col("base")).as("nb"), sum(lit(1) - col("base")).as("nc"))
    val tot = cnt.agg(count(lit(1)).as("k"), sum(col("nb")).as("tb"),
      sum(col("nc")).as("tc"))
    val pb = (col("nb") + lit(0.5)) / (col("tb") + col("k") / lit(2.0))
    val pc = (col("nc") + lit(0.5)) / (col("tc") + col("k") / lit(2.0))
    cnt.crossJoin(broadcast(tot))
      .withColumn("term", (pc - pb) * log(pc / pb))
      .groupBy()
      .agg(max(col("k")).as("n_types"), max(col("tb")).as("n_base"),
        max(col("tc")).as("n_cur"), round(dsum(col("term")), 6).as("psi"))
  }

  /** Minimum co-purchase support: pairs seen in fewer baskets are
    * noise under lift (a 1-basket pair of two 1-basket parts maxes
    * the score — same failure mode PMI's min-count kills). */
  val CoPurchaseMinSupport = 2L

  /** k-anonymity threshold: a quasi-identifier group smaller than this
    * is a re-identification risk (k = 5 is the conventional floor). */
  val KAnon = 5

  /** l-diversity floor: risky when a quasi-group carries fewer than
    * this many distinct sensitive values. */
  val LDiv = 3

  /** Quasi-identifier projection of the event stream: (type,
    * hour-of-day, value bucket) — the kind of coarse attributes an
    * adversary can observe externally. Sensitive attribute = user_id. */
  private def quasi(e: DataFrame): DataFrame =
    e.select(col("event_type"), hour(col("ts")).as("hour"),
      floor(col("value") / lit(50.0)).cast(IntegerType).as("vbin"),
      col("user_id"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // k-anonymity audit: quasi-identifier groups with fewer than K
    // members — each is a publishable-data re-identification risk.
    // One partial+final hash agg over the quasi projection; at 100 TB
    // the group table is |distinct quasi tuples| rows, never the
    // stream. Oracle-checked (pure counting).
    "privacy_k_anon" -> { (s, dir) =>
      quasi(events(s, dir))
        .groupBy(col("event_type"), col("hour"), col("vbin"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") < KAnon)
        .orderBy(col("event_type"), col("hour"), col("vbin"))
    },

    // l-diversity audit: quasi-groups whose sensitive attribute
    // (user_id) takes fewer than L distinct values — k-anonymous
    // groups can still leak when everyone in them shares the sensitive
    // value (Machanavajjhala et al. 2007). Same single-agg shape, one
    // COUNT DISTINCT per group. Oracle-checked.
    "privacy_l_diversity" -> { (s, dir) =>
      quasi(events(s, dir))
        .groupBy(col("event_type"), col("hour"), col("vbin"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("l_distinct"))
        .filter(col("l_distinct") < LDiv)
        .orderBy(col("event_type"), col("hour"), col("vbin"))
    },

    // Poisson-bootstrap confidence interval for the per-type mean —
    // THE scalable CI recipe (Chamandy et al. 2012, "Estimating
    // uncertainty for massive data streams"): resample weights are
    // per-(row, replicate) Poisson(1) draws, so each replicate's mean
    // is one weighted aggregate and no row ever needs to be sampled
    // WITH replacement across the cluster. Here the draws are
    // DETERMINISTIC — a two-hex-char md5 threshold ladder at the
    // Poisson(1) cdf (0.368/0.736/0.920/0.981/0.996) — so the DuckDB
    // oracle reproduces every weight and the whole interval is
    // oracle-checked. B = 32 replicates; bounds = 2nd/31st order
    // statistics (a ~94% interval). Scale shape: one explode ×32 into
    // a (type, replicate) hash agg — partial+final, no shuffle beyond
    // the |types|·B-row aggregate; the order statistics are a window
    // over B rows per type.
    "events_bootstrap_ci" -> { (s, dir) =>
      val B = 32
      val e = events(s, dir).select(col("event_type"), col("event_id"),
        col("value"))
      val drawn = e
        .select(col("event_type"), col("event_id"), col("value"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("h",
          substring(md5(concat_ws(":", col("event_id"), col("b"))), 1, 2))
        .withColumn("w",
          when(col("h") < "5e", 0).when(col("h") < "bc", 1)
            .when(col("h") < "eb", 2).when(col("h") < "fb", 3)
            .when(col("h") < "ff", 4).otherwise(5))
      val means = drawn.groupBy(col("event_type"), col("b"))
        .agg((dsum(col("w") * col("value")) /
          sum(col("w"))).as("mean_b"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("mean_b"), col("b"))
      val ranked = means.withColumn("rk", row_number().over(w))
      val bounds = ranked.groupBy(col("event_type"))
        .agg(round(max(when(col("rk") === 2, col("mean_b"))), 6).as("boot_lo"),
          round(max(when(col("rk") === B - 1, col("mean_b"))), 6)
            .as("boot_hi"))
      e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(davg(col("value")), 6).as("mean_exact"))
        .join(bounds, "event_type")
        .orderBy(col("event_type"))
    },

    // Data-quality expectations suite (the dbt-test / Deequ-style
    // constraint report a pipeline runs before publishing a table):
    // five rule families — not-null, uniqueness, accepted values,
    // numeric range, referential integrity — each one scan-shaped agg
    // (uniqueness = count minus count-distinct, never a self-join;
    // referential = left-anti count, the shape a bloom-filter side
    // channel accelerates at 100 TB), unioned into a 5-row report.
    "quality_expectations" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      def row(rule: String, checked: org.apache.spark.sql.Column,
          viol: org.apache.spark.sql.Column) =
        struct(lit(rule).as("rule"), checked.as("n_checked"),
          viol.as("n_violations"), (viol === 0).as("pass"))
      // all same-table rules share ONE scan/agg (at 100 TB, 3 rules =
      // 3 conditional aggregates in one pass, never 3 table scans);
      // only the cross-table referential check is its own (anti-)join
      val ordersRules = o.agg(count(lit(1)).as("n"),
          sum(col("o_custkey").isNull.cast(LongType)).as("v_null"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uniq"),
          sum((!col("o_orderstatus").isin("O", "F", "P"))
            .cast(LongType)).as("v_acc"))
        .select(explode(array(
          row("orders.o_custkey.not_null", col("n"), col("v_null")),
          row("orders.o_orderkey.unique", col("n"), col("v_uniq")),
          row("orders.o_orderstatus.accepted_values", col("n"),
            col("v_acc")))).as("r"))
      val lineitemRules = li.agg(count(lit(1)).as("n"),
          sum((col("l_discount") < 0.0 || col("l_discount") > 0.1)
            .cast(LongType)).as("v_rng"))
        .select(explode(array(
          row("lineitem.l_discount.range_0_0.1", col("n"),
            col("v_rng")))).as("r"))
      val referential = li.agg(count(lit(1)).as("n"))
        .crossJoin(li.join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("v")))
        .select(row("lineitem.l_orderkey.references_orders",
          col("n"), col("v")).as("r"))
      ordersRules.unionAll(lineitemRules).unionAll(referential)
        .select(col("r.rule").as("rule"), col("r.n_checked").as("n_checked"),
          col("r.n_violations").as("n_violations"), col("r.pass").as("pass"))
        .orderBy(col("rule"))
    },

    // Differentially-private release of the per-type event counts
    // (Dwork et al. 2006, Laplace mechanism, sensitivity 1, ε = 0.05 →
    // b = 20): noise = −b·sgn(u−½)·ln(1−2|u−½|) with u derived from a
    // SEEDED hash of the group key, so the release is reproducible and
    // the oracle replays the exact noise — the determinism a release
    // audit needs (real deployments rotate the seed per release).
    // One hash agg; noise is per-GROUP arithmetic over |types| rows.
    "privacy_dp_counts" -> { (s, dir) =>
      val b = 20.0
      events(s, dir).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_true"))
        .withColumn("h",
          conv(substring(md5(concat(lit("dp_seed_1:"), col("event_type"))),
            1, 6), 16, 10).cast(LongType))
        .withColumn("u", (col("h") + 0.5) / 16777216.0)
        .withColumn("noise", -lit(b) * signum(col("u") - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)))
        .select(col("event_type"),
          round(col("n_true") + col("noise"), 6).as("n_released"),
          round(col("noise"), 6).as("noise"))
        .orderBy(col("event_type"))
    },

    // numeric drift monitor: per-type PSI of the value distribution,
    // first half-period vs second (oracle-checked — counts, divisions,
    // ln, decimal sum)
    "monitor_psi" -> { (s, dir) => psiByType(events(s, dir)) },

    // categorical drift monitor: PSI of the event-type mix (oracle-
    // checked, one row)
    "monitor_psi_mix" -> { (s, dir) => psiMix(events(s, dir)) },

    // Jensen–Shannon divergence of the event-type mix, first
    // half-period vs second — the bounded (≤ ln 2), symmetric
    // complement to PSI that stays finite when a category appears or
    // dies out entirely. Same one-scan reduction as psiMix (counts per
    // (type, period)); Laplace smoothing over the shared type grid so
    // both engines smooth identical cells; JSD = ½KL(p‖m) + ½KL(q‖m),
    // per-type terms decimal-summed.
    "monitor_jsd_mix" -> { (s, dir) =>
      val ev = events(s, dir)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
      val cut = ev.agg(((min(col("us")) + max(col("us"))) / lit(2L))
        .cast(LongType).as("cut"))
      val cnt = ev.crossJoin(broadcast(cut))
        .withColumn("base", when(col("us") < col("cut"), 1).otherwise(0))
        .groupBy(col("event_type"))
        .agg(sum(col("base")).as("nb"), sum(lit(1) - col("base")).as("nc"))
      val tot = cnt.agg(count(lit(1)).as("k"), sum(col("nb")).as("tb"),
        sum(col("nc")).as("tc"))
      val p = (col("nb") + lit(0.5)) / (col("tb") + col("k") / lit(2.0))
      val q = (col("nc") + lit(0.5)) / (col("tc") + col("k") / lit(2.0))
      val m = (p + q) / lit(2.0)
      cnt.crossJoin(broadcast(tot))
        .withColumn("term",
          (p * log(p / m) + q * log(q / m)) / lit(2.0))
        .groupBy()
        .agg(max(col("k")).as("n_types"),
          round(dsum(col("term")), 6).as("jsd"))
    },

    // Market-basket co-purchase lift (the association-rule screen a
    // merchandising / recommender pipeline runs): part pairs appearing
    // in the same order, scored by lift = N·c(ab)/(c(a)·c(b)) with a
    // minimum-support floor. The pair source is the order-keyed
    // self-join over DISTINCT (order, part) rows — work is
    // Σ_o |items(o)|² (basket-bounded, ~7 items for this schema),
    // never all part pairs; per-part counts join back broadcast
    // (|parts| rows). Counts are integers, lift is one double ratio;
    // top-50 by rounded lift with full tie-break →
    // TakeOrderedAndProject.
    // item-item cosine recommendations ("customers who bought X also
    // bought…"): binary-vector cosine c(ab)/√(c(a)·c(b)) over shared
    // baskets, top-3 per item via a partition-local row_number — the
    // per-key-top-k recommender shape next to the global-top-50 lift
    // screen. Same governed basket self-join as rec_copurchase_lift
    // (work Σ|basket|², hot-basket capped); ordering uses the ROUNDED
    // cosine so the cross-engine comparator never depends on a last
    // ulp. Marginals stay computed from the ungoverned items.
    "rec_item_item_cosine" -> { (s, dir) =>
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct()
      val partCnt = items.groupBy(col("part"))
        .agg(count(lit(1)).as("c"))
      val governed = items
        .withColumn("bsz",
          count(lit(1)).over(Window.partitionBy(col("okey"))))
        .filter(Scale.wedgeGovernor(col("okey"), col("part"), col("bsz")))
        .drop("bsz")
      val pairs = governed.alias("x")
        .join(governed.alias("y"),
          col("x.okey") === col("y.okey") &&
            col("x.part") =!= col("y.part"))
        .groupBy(col("x.part").as("part_a"), col("y.part").as("part_b"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= CoPurchaseMinSupport)
      // marginal-count joins: NO broadcast hint. partCnt is
      // item-cardinality-sized — a dimension at every test SF (AQE
      // still picks broadcast-hash there), but the one frame in this
      // query that outgrows an executor's broadcast budget at 100 TB
      // item counts; a pinned hint would then OOM the build side
      // where AQE would fall back to a sort-merge on part. The pair
      // side is already support-filtered, so either plan is one
      // bounded shuffle.
      val sim = pairs
        .join(partCnt.select(col("part").as("part_a"),
          col("c").as("c_a")), "part_a")
        .join(partCnt.select(col("part").as("part_b"),
          col("c").as("c_b")), "part_b")
        .withColumn("cosine", round(col("c_ab") /
          sqrt(col("c_a").cast(DoubleType) * col("c_b")), 6))
      val wRank = Window.partitionBy(col("part_a"))
        .orderBy(col("cosine").desc, col("part_b"))
      sim.withColumn("rnk", row_number().over(wRank))
        .filter(col("rnk") <= 3)
        .select(col("part_a"), col("rnk"), col("part_b"), col("c_ab"),
          col("cosine"))
        .orderBy(col("part_a"), col("rnk"))
    },

    "rec_copurchase_lift" -> { (s, dir) =>
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct()
      val nOrders = items.select(col("okey")).distinct()
        .agg(count(lit(1)).as("n_orders"))
      val partCnt = items.groupBy(col("part"))
        .agg(count(lit(1)).as("c"))
      // wedge governor on the basket self-join: a 100 TB "basket" can
      // be a crawler artifact with 10⁶ items → 10¹² pairs in one task.
      // Basket size arrives via a sort-free count window partitioned on
      // the SAME key the self-join shuffles on (one exchange, reused by
      // both join sides); baskets within the cap — all of them at test
      // SFs — are untouched, so the oracle is unchanged. Per-part
      // counts and n_orders stay computed from the UNgoverned items:
      // the governor bounds pair generation, never the true marginals.
      val governed = items
        .withColumn("bsz",
          count(lit(1)).over(Window.partitionBy(col("okey"))))
        .filter(Scale.wedgeGovernor(col("okey"), col("part"), col("bsz")))
        .drop("bsz")
      val pairs = governed.alias("x")
        .join(governed.alias("y"),
          col("x.okey") === col("y.okey") && col("x.part") < col("y.part"))
        .groupBy(col("x.part").as("part_a"), col("y.part").as("part_b"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= CoPurchaseMinSupport)
      pairs
        .join(broadcast(partCnt.select(col("part").as("part_a"),
          col("c").as("c_a"))), "part_a")
        .join(broadcast(partCnt.select(col("part").as("part_b"),
          col("c").as("c_b"))), "part_b")
        .crossJoin(broadcast(nOrders))
        .select(col("part_a"), col("part_b"), col("c_ab"),
          round(col("c_ab").cast(DoubleType) * col("n_orders") /
            (col("c_a") * col("c_b")), 6).as("lift"))
        .orderBy(col("lift").desc, col("part_a"), col("part_b"))
        .limit(50)
    },

    // snapshot diff: two deterministic "versions" of orders (old drops
    // keys ≡0 mod 23 — later inserts; new drops keys ≡0 mod 31 —
    // deletes; prices on keys ≡0 mod 7 re-priced in new) → the delta
    // a change-data-capture step would publish. Only the delta is
    // returned; unchanged keys (the overwhelming mass at scale) never
    // leave the join.
    "q_snapshot_diff" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val old = orders.filter(col("o_orderkey") % 23 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val nw = orders.filter(col("o_orderkey") % 31 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          // +1.50 not *0.9: one IEEE add is bit-identical across
          // engines, a multiply-then-round can straddle a tie
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.5)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      snapshotDiff(old, nw, "o_orderkey",
        Seq("o_orderstatus", "o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    // SCD type-2 history build: each order becomes a versioned row of
    // the customer's "current order" dimension with [valid_from,
    // valid_to) from the next change, NULL-open for the latest (the
    // MERGE-free formulation of dimension versioning). One shuffle on
    // o_custkey; the window is bounded per key.
    "q_scd2_history" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("o_orderdate").as("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },

    // RFM segmentation: per-user recency/frequency/monetary → quintile
    // scores → 3-digit segment code. The ntile windows are global by
    // definition (quintiles of the whole user base) but run over the
    // per-user aggregate, which is orders of magnitude smaller than the
    // event stream; at 100 TB swap ntile for a join against
    // approx-quantile thresholds (same output contract, audited like
    // the ANN recall queries) once |users| itself outgrows one task.
    "events_rfm" -> { (s, dir) =>
      val perUser = rfmPerUser(events(s, dir))
      val wr = Window.orderBy(col("recency_us").desc, col("user_id"))
      val wf = Window.orderBy(col("frequency"), col("user_id"))
      val wm = Window.orderBy(col("monetary"), col("user_id"))
      perUser.select(col("user_id"), col("recency_us"),
          col("frequency"), col("monetary"),
          ntile(5).over(wr).as("r_score"),
          ntile(5).over(wf).as("f_score"),
          ntile(5).over(wm).as("m_score"))
        .withColumn("rfm_code",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .orderBy(col("user_id"))
    },

    // the 100 TB RFM path: quintile thresholds from percentile_approx
    // over the per-user aggregate (one pre-agg + one broadcast row —
    // no global window, no single-task sort), scores by threshold
    // comparison. Approximate at the bucket boundaries only;
    // audit_rfm_agreement tracks disagreement vs the exact ntile form.
    "events_rfm_approx" -> { (s, dir) =>
      val perUser = rfmPerUser(events(s, dir))
      val qs = array(lit(0.2), lit(0.4), lit(0.6), lit(0.8))
      val thr = perUser.agg(
        percentile_approx(col("recency_us"), qs, lit(10000)).as("tr"),
        percentile_approx(col("frequency"), qs, lit(10000)).as("tf"),
        percentile_approx(col("monetary"), qs, lit(10000)).as("tm"))
      perUser.crossJoin(broadcast(thr))
        .select(col("user_id"), col("recency_us"), col("frequency"),
          col("monetary"),
          // recency: smaller = better, so score runs opposite
          (lit(6) - thresholdScore(col("recency_us"),
            (0 to 3).map(i => col("tr")(i)))).as("r_score"),
          thresholdScore(col("frequency"),
            (0 to 3).map(i => col("tf")(i))).as("f_score"),
          thresholdScore(col("monetary"),
            (0 to 3).map(i => col("tm")(i))).as("m_score"))
        .withColumn("rfm_code",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .orderBy(col("user_id"))
    },

    // agreement audit between the exact (global-window ntile) and
    // approx-threshold RFM: fraction of users with identical scores
    // per dimension + mean absolute score gap — the number that says
    // whether the scale path is a faithful stand-in.
    "audit_rfm_agreement" -> { (s, dir) =>
      val exact = queries("events_rfm")(s, dir)
        .select(col("user_id"), col("r_score").as("r1"),
          col("f_score").as("f1"), col("m_score").as("m1"))
      val approx = queries("events_rfm_approx")(s, dir)
        .select(col("user_id"), col("r_score").as("r2"),
          col("f_score").as("f2"), col("m_score").as("m2"))
      exact.join(approx, "user_id")
        .agg(count(lit(1)).as("n_users"),
          round(avg(when(col("r1") === col("r2"), 1.0).otherwise(0.0)), 4)
            .as("r_agree"),
          round(avg(when(col("f1") === col("f2"), 1.0).otherwise(0.0)), 4)
            .as("f_agree"),
          round(avg(when(col("m1") === col("m2"), 1.0).otherwise(0.0)), 4)
            .as("m_agree"),
          round(avg(abs(col("r1") - col("r2")) + abs(col("f1") - col("f2"))
            + abs(col("m1") - col("m2"))), 4).as("mean_abs_gap"))
    },

    // table profiling: per-column row/null/distinct counts and min/max
    // in one declarative pass (the Expand-based multi-count-distinct is
    // one shuffle; at 100 TB swap the exact distincts for
    // approx_count_distinct and the pass becomes map-side-partial —
    // same output contract, HLL accuracy). min/max are surfaced as
    // strings so one schema covers every column type; numeric columns
    // profile in their natural order before the cast.
    "q_data_profile" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      def prof(name: String, c: org.apache.spark.sql.Column,
          lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column) =
        struct(lit(name).as("column_name"),
          count(lit(1)).as("n_rows"),
          sum(when(c.isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(c).as("n_distinct"),
          lo.cast(StringType).as("min_s"), hi.cast(StringType).as("max_s"))
      o.agg(
        prof("o_orderkey", col("o_orderkey"),
          min(col("o_orderkey")), max(col("o_orderkey"))).as("p1"),
        prof("o_custkey", col("o_custkey"),
          min(col("o_custkey")), max(col("o_custkey"))).as("p2"),
        prof("o_orderstatus", col("o_orderstatus"),
          min(col("o_orderstatus")), max(col("o_orderstatus"))).as("p3"),
        prof("o_orderdate", col("o_orderdate").cast(DateType),
          min(col("o_orderdate").cast(DateType)),
          max(col("o_orderdate").cast(DateType))).as("p4"))
        .select(explode(array(col("p1"), col("p2"), col("p3"), col("p4")))
          .as("p"))
        .select(col("p.*"))
        .orderBy(col("column_name"))
    },

    // first-order Markov transition matrix of the event stream: for
    // each user's ts-ordered event sequence, count (state → next)
    // transitions and the row-normalized probability. One shuffle on
    // user_id with a bounded per-user window, then a hash agg over at
    // most |event_type|² rows — the classic journey-analysis primitive.
    // event_id breaks ts ties so both engines order identically.
    "events_transition_matrix" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val trans = events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      // row-normalize with a window over the |types|²-row aggregate —
      // a totals join would recompute the whole event scan + per-user
      // window a second time (no exchange reuse across the self-join)
      val wt = Window.partitionBy(col("event_type"))
      trans
        .select(col("event_type"), col("next_type"), col("n"),
          round(col("n").cast(DoubleType) / sum(col("n")).over(wt), 6)
            .as("p"))
        .orderBy(col("event_type"), col("next_type"))
    },

    // DAU/WAU stickiness: daily active users over trailing-7-day
    // weekly actives — the product-analytics ratio next to RFM and
    // retention. Exact (no sketch): WAU is NOT decomposable from daily
    // distinct counts, so each (day, user) row explodes into the 7
    // cover days it keeps the user "weekly active" for, and WAU is one
    // distinct count over that — an equi-shuffle on day, never a
    // 7-way band self-join. Both frames are (days × users)-bounded.
    "events_dau_wau_stickiness" -> { (s, dir) =>
      val du = events(s, dir)
        .select(date_trunc("day", col("ts")).cast(DateType).as("d"),
          col("user_id")).distinct()
        .localCheckpoint() // feeds dau, cover AND the edge scalars
      val cover = du
        .withColumn("o", explode(sequence(lit(0), lit(6))))
        .select(date_add(col("d"), col("o")).as("d"), col("user_id"))
        .distinct()
      val dau = du.groupBy(col("d")).agg(count(lit(1)).as("dau"))
      val wau = cover.groupBy(col("d")).agg(count(lit(1)).as("wau"))
      val edges = du.agg(date_add(min(col("d")), 6).as("lo"),
        max(col("d")).as("hi"))
      dau.join(wau, Seq("d"))
        .crossJoin(broadcast(edges))
        .filter(col("d").between(col("lo"), col("hi")))
        .select(col("d"), col("dau"), col("wau"),
          round(col("dau").cast(DoubleType) / col("wau"), 6)
            .as("stickiness"))
        .orderBy(col("d"))
    },

    // Markov absorption: probability of reaching the 'purchase' state
    // within 1/4/8 steps from each state, under the empirical
    // transition matrix with purchase made absorbing — the journey
    // analysis that turns the transition matrix into "how close is
    // this state to converting". ONE data pass builds the matrix
    // (the events_transition_matrix reduction); the k-step recursion
    // then runs entirely on the |types|²-row frame — 8 joins over
    // metadata, one [[Fixpoint]] checkpoint per step.
    // Per-step products are decimal-quantized before summing (≤|types|
    // terms), so the recursion is bit-identical to the oracle's
    // chained-CTE replay.
    "events_absorption_prob" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wt = Window.partitionBy(col("event_type"))
      val trans = events(s, dir)
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type").as("a"), col("next_type").as("b"),
          (col("n").cast(DoubleType) / sum(col("n")).over(wt)).as("tp"))
        .localCheckpoint() // tiny; reused by all 8 recursion steps
      val types = trans.select(col("a").as("t"))
        .union(trans.select(col("b"))).distinct().localCheckpoint()
      def step(pv: DataFrame, r: Int): DataFrame = {
        val nxt = trans
          .join(pv.select(col("t").as("b"), col("p").as("pb")), Seq("b"))
          .groupBy(col("a"))
          .agg(dsum(col("tp") * col("pb")).as("sp"))
        types.join(nxt.select(col("a").as("t"), col("sp")), Seq("t"),
            "left")
          .select(col("t"),
            when(col("t") === "purchase", lit(1.0))
              .otherwise(coalesce(col("sp"), lit(0.0))).as("p"))
      }
      val p0 = types.select(col("t"),
        when(col("t") === "purchase", lit(1.0)).otherwise(lit(0.0))
          .as("p"))
      // each snapshot is the next run's `init`, which a run never releases
      val p1 = Fixpoint.run(p0, 1)(step).state
      val p4 = Fixpoint.run(p1, 3)(step).state
      val p8 = Fixpoint.run(p4, 4, assets = Seq(trans, types))(step).state
      Seq(1 -> p1, 4 -> p4, 8 -> p8).map { case (k, df) =>
          df.select(col("t"), round(col("p"), 6).as(s"p$k")) }
        .reduce((l, r) => l.join(r, Seq("t")))
        .select(col("t").as("event_type"), col("p1"), col("p4"),
          col("p8"))
        .orderBy(col("event_type"))
    },

    // winsorization (outlier clipping) at the exact p01/p99 of quantity
    // per return flag: thresholds from one tiny percentile agg
    // (broadcast back), clamp, re-aggregate. Integral input keeps the
    // percentile interpolation arithmetic exact on both engines (same
    // contract as q_percentiles).
    "q_winsorize" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val thr = li.groupBy(col("l_returnflag")).agg(
        expr("percentile(l_quantity, 0.01)").as("lo"),
        expr("percentile(l_quantity, 0.99)").as("hi"))
      li.join(broadcast(thr), "l_returnflag")
        .withColumn("wq",
          least(greatest(col("l_quantity").cast(DoubleType), col("lo")),
            col("hi")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") < col("lo"), 1L).otherwise(0L))
            .as("n_clipped_lo"),
          sum(when(col("l_quantity") > col("hi"), 1L).otherwise(0L))
            .as("n_clipped_hi"),
          davg(col("wq")).as("mean_winsorized"))
        .orderBy(col("l_returnflag"))
    },

    // key-skew diagnostic: the heaviest join/grouping keys with their
    // share of all rows and their multiple of the median key weight —
    // the report that decides whether a key needs salting or an AQE
    // skew split BEFORE the job that would have stalled on it. One
    // hash agg to per-key counts, then scalar stats (broadcast) + a
    // top-10 over the post-agg table.
    "q_skew_report" -> { (s, dir) =>
      // cached: both the scalar stats row and the top-10 read it, and
      // recomputing it means a second full event scan
      val perKey = events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = perKey.agg(sum(col("n")).as("total"),
        expr("percentile(n, 0.5)").as("med"))
      val out = perKey.crossJoin(broadcast(stats))
        .select(col("user_id"), col("n"),
          round(col("n").cast(DoubleType) / col("total"), 6).as("share"),
          round(col("n") / col("med"), 4).as("x_median"))
        .orderBy(col("n").desc, col("user_id"))
        .limit(10)
        // 10-row result: materialize so the per-key cache is released
        // here instead of leaking one pinned frame per invocation
        .localCheckpoint()
      perKey.unpersist(blocking = false)
      out
    },

    // hourly anomaly flags: z-score of each (event_type, hour) count
    // against that type's own hourly distribution, |z| > 2 flagged.
    // The stream reduces to one row per (type, hour) before the stats
    // join; variance comes from exact integer sum/sum-of-squares (the
    // two-pass-free formulation), so the doubles are reproducible on
    // any partitioning and in DuckDB.
    "events_anomaly_zscore" -> { (s, dir) =>
      val hourly = events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          sum(col("n")).as("sum_n"),
          sum(col("n") * col("n")).as("sum_sq"))
        .withColumn("mean_n", col("sum_n").cast(DoubleType) / col("n_hours"))
        .withColumn("var_n",
          (col("sum_sq").cast(DoubleType) -
            col("sum_n").cast(DoubleType) * col("sum_n") / col("n_hours")) /
            (col("n_hours") - 1))
      hourly.join(broadcast(stats), "event_type")
        .filter(col("n_hours") > 1 && col("var_n") > 0)
        .withColumn("z",
          round((col("n") - col("mean_n")) / sqrt(col("var_n")), 4))
        .select(col("event_type"), col("hour_start"), col("n"),
          col("z"), (abs(col("z")) > 2).as("is_anomaly"))
        .orderBy(col("event_type"), col("hour_start"))
    },

    // EWMA smoothing + one-step forecast per event type (the capacity/
    // trend number next to the z-score anomaly flag): s_t = α·x_t +
    // (1−α)·s_{t−1} folded over the type's hourly counts in hour order.
    // EWMA is inherently sequential PER KEY, so the right distributed
    // shape is: shuffle once to per-(type, hour) counts (partial+final
    // agg), collect each type's bounded hour series into an array, and
    // fold it per row — the recursion never crosses rows, keys stay
    // independent/parallel, and the series length is bounded by the
    // time window (720 rows/key/month), not by data volume. Both
    // engines fold left-to-right over the same sorted array, and each
    // step rounds to 6 dp, so the recursion is bit-identical
    // cross-engine.
    "events_ewma_hourly" -> { (s, dir) =>
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n"))
      hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          array_sort(collect_list(struct(col("hour_start"), col("n"))))
            .as("series"))
        // 0.3D not 0.3: a bare decimal literal makes Spark compute
        // 0.3*x decimal-EXACT while DuckDB multiplies binary doubles —
        // different pre-quantization values each step (caught by the
        // Holt query at sf0.1; same hazard here). floor-quantization
        // per step, not round, for the same cross-engine reason (Q.q6).
        // 1000000.0D not 1000000.0 on BOTH quantization literals: the
        // bare form parses as DECIMAL, and floor(double) is BIGINT, so
        // BIGINT / DECIMAL re-types the whole column DECIMAL(,9) —
        // values identical to the oracle's DOUBLE but rendering
        // "2.205204000" vs "2.205204", which fails the driver's
        // rendered-value hash (the round-7 red row).
        .withColumn("ewma", expr(
          """floor(aggregate(series, CAST(NULL AS DOUBLE),
            |  (acc, x) -> CASE WHEN acc IS NULL
            |    THEN CAST(x.n AS DOUBLE)
            |    ELSE floor((0.3D * x.n + 0.7D * acc)
            |      * 1000000.0D + 0.5D) / 1000000.0D END)
            |  * 1000000.0D + 0.5D) / 1000000.0D""".stripMargin))
        .withColumn("last_n", element_at(col("series"), -1).getField("n"))
        .select(col("event_type"), col("n_hours"), col("last_n"),
          col("ewma"),
          round(col("ewma") - col("last_n"), 6).as("trend_gap"))
        .orderBy(col("event_type"))
    },

    // Holt double-exponential smoothing (level + trend) per event type
    // — the forecast EWMA cannot make: EWMA lags any trending series by
    // construction; Holt tracks the slope. Same distributed recursion
    // shape as events_ewma_hourly: one shuffle to (type, hour) counts,
    // each type's BOUNDED series collected and folded per row with a
    // TWO-field struct accumulator (level, trend) — keys parallel, the
    // recursion never crosses rows. First element initializes
    // (l=x₀, b=0), each step rounds both fields to 6 dp so the coupled
    // recursion is bit-identical to DuckDB's struct list_reduce.
    "events_holt_hourly" -> { (s, dir) =>
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n"))
      hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          array_sort(collect_list(struct(col("hour_start"), col("n"))))
            .as("series"))
        // per-step quantization uses floor(v·1e6+0.5)/1e6, NOT round:
        // over ~3600 steps at sf0.1 the recursion hits round()'s
        // 1-ulp cross-engine divergence window — the floor form is the
        // same IEEE ops on both engines (see Q.q6)
        .withColumn("st", expr(
          """aggregate(series,
            |  named_struct('l', CAST(NULL AS DOUBLE), 'b', CAST(0 AS DOUBLE)),
            |  (acc, x) -> CASE WHEN acc.l IS NULL
            |    THEN named_struct('l', CAST(x.n AS DOUBLE),
            |      'b', CAST(0 AS DOUBLE))
            |    ELSE named_struct(
            |      'l', floor((0.3D * x.n + 0.7D * (acc.l + acc.b))
            |        * 1000000.0 + 0.5) / 1000000.0,
            |      'b', floor((0.3D * (floor((0.3D * x.n + 0.7D * (acc.l + acc.b))
            |          * 1000000.0 + 0.5) / 1000000.0 - acc.l)
            |        + 0.7D * acc.b) * 1000000.0 + 0.5) / 1000000.0) END)"""
            .stripMargin))
        .select(col("event_type"), col("n_hours"),
          element_at(col("series"), -1).getField("n").as("last_n"),
          col("st.l").as("level"), col("st.b").as("trend"),
          q6(col("st.l") + col("st.b")).as("forecast_next"))
        .orderBy(col("event_type"))
    },

    // Small-file compaction plan (the OPTIMIZE/bin-packing pass every
    // 100 TB lakehouse table needs): coalesce ADJACENT time-partition
    // files into ~target-row bins, preserving the time clustering that
    // makes partition pruning work (first-fit over an arbitrary order
    // would destroy it). The "file listing" here is the per-month row
    // counts of lineitem — metadata-sized by construction (|files|
    // rows, never data rows), so the global order window is bounded and
    // the plan itself costs one aggregate; the assignment rule
    // bin = floor(rows_before / target) is pure integer arithmetic.
    "q_compaction_plan" -> { (s, dir) =>
      val w = Window.orderBy(col("month"))
      val wb = Window.partitionBy(col("bin"))
      // cast to DATE: Spark's date_trunc returns TIMESTAMP while the
      // DuckDB oracle's date_trunc over a DATE column returns DATE —
      // identical values, but "1995-01-01 00:00:00" vs "1995-01-01"
      // under the driver's rendered-value hash (the decimal-literal
      // hazard's calendar cousin, caught by the r8 strict comparator)
      t(s, dir, "lineitem")
        .groupBy(date_trunc("month", col("l_shipdate")).cast(DateType)
          .as("month"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("rows_before",
          coalesce(sum(col("n_rows")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("bin", floor(col("rows_before") / CompactionTargetRows))
        .withColumn("bin_rows", sum(col("n_rows")).over(wb))
        .withColumn("bin_files", count(lit(1)).over(wb))
        .select(col("month"), col("n_rows"), col("bin"),
          col("bin_rows"), col("bin_files"))
        .orderBy(col("month"))
    }
  )

  /** Target output size (rows as the stand-in for bytes — the testdata
    * exposes no physical file metadata; the arithmetic is identical). */
  val CompactionTargetRows = 20000L

  /** The DuckDB mirror of events_absorption_prob's k-step recursion as
    * chained CTEs (the kCoreSql pattern — DuckDB's recursive CTEs
    * forbid aggregates in the recursive term). MATERIALIZED on the
    * matrix is load-bearing: every step references `tr`, and default
    * inlining would re-derive the event-scan window once per step. */
  private def absorptionSql(steps: Int): String = {
    val chain = (1 to steps).map { k =>
      s"""p$k AS (SELECT t,
         |    CASE WHEN t = 'purchase' THEN 1.0
         |      ELSE coalesce(s.sp, 0.0) END AS p
         |  FROM types LEFT JOIN (
         |    SELECT a AS t,
         |      CAST(sum(CAST(tp * pv.p AS DECIMAL(18,6))) AS DOUBLE)
         |        AS sp
         |    FROM tr JOIN p${k - 1} pv ON tr.b = pv.t GROUP BY a) s
         |  USING (t))""".stripMargin
    }.mkString(",\n")
    s"""WITH seq0 AS (
       |  SELECT event_type, lead(event_type) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS next_type
       |  FROM events),
       |c AS MATERIALIZED (SELECT event_type AS a, next_type AS b,
       |    count(*) AS n
       |  FROM seq0 WHERE next_type IS NOT NULL GROUP BY 1, 2),
       |tr AS MATERIALIZED (SELECT a, b,
       |    CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY a) AS tp
       |  FROM c),
       |types AS MATERIALIZED (
       |  SELECT DISTINCT a AS t FROM c UNION SELECT DISTINCT b FROM c),
       |p0 AS (SELECT t,
       |    CASE WHEN t = 'purchase' THEN 1.0 ELSE 0.0 END AS p
       |  FROM types),
       |$chain
       |SELECT types.t AS event_type, round(a1.p, 6) AS p1,
       |  round(a4.p, 6) AS p4, round(a$steps.p, 6) AS p$steps
       |FROM types JOIN p1 a1 ON a1.t = types.t
       |  JOIN p4 a4 ON a4.t = types.t
       |  JOIN p$steps a$steps ON a$steps.t = types.t
       |ORDER BY 1""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "quality_expectations" ->
      """SELECT 'lineitem.l_discount.range_0_0.1' AS rule,
        |  (SELECT count(*) FROM lineitem) AS n_checked,
        |  (SELECT count(*) FROM lineitem
        |     WHERE l_discount < 0.0 OR l_discount > 0.1) AS n_violations,
        |  (SELECT count(*) FROM lineitem
        |     WHERE l_discount < 0.0 OR l_discount > 0.1) = 0 AS pass
        |UNION ALL
        |SELECT 'lineitem.l_orderkey.references_orders',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o
        |       WHERE o.o_orderkey = l.l_orderkey)),
        |  (SELECT count(*) FROM lineitem l
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o
        |       WHERE o.o_orderkey = l.l_orderkey)) = 0
        |UNION ALL
        |SELECT 'orders.o_custkey.not_null',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
        |  (SELECT count(*) FROM orders WHERE o_custkey IS NULL) = 0
        |UNION ALL
        |SELECT 'orders.o_orderkey.unique',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders),
        |  (SELECT count(*) - count(DISTINCT o_orderkey) FROM orders) = 0
        |UNION ALL
        |SELECT 'orders.o_orderstatus.accepted_values',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders
        |     WHERE o_orderstatus NOT IN ('O', 'F', 'P')),
        |  (SELECT count(*) FROM orders
        |     WHERE o_orderstatus NOT IN ('O', 'F', 'P')) = 0
        |ORDER BY rule""".stripMargin,
    "monitor_jsd_mix" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) AS us FROM events),
        |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM ev),
        |cnt AS (SELECT event_type,
        |    sum(CASE WHEN us < cut THEN 1 ELSE 0 END) AS nb,
        |    sum(CASE WHEN us < cut THEN 0 ELSE 1 END) AS nc
        |  FROM ev CROSS JOIN cut GROUP BY 1),
        |tot AS (SELECT count(*) AS k, sum(nb) AS tb, sum(nc) AS tc
        |  FROM cnt),
        |terms AS (SELECT k,
        |    ((nb + 0.5) / (tb + k / 2.0)) AS p,
        |    ((nc + 0.5) / (tc + k / 2.0)) AS q
        |  FROM cnt CROSS JOIN tot),
        |t2 AS (SELECT k,
        |    (p * ln(p / ((p + q) / 2.0)) +
        |     q * ln(q / ((p + q) / 2.0))) / 2.0 AS term
        |  FROM terms)
        |SELECT max(k) AS n_types,
        |  round(CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS jsd
        |FROM t2""".stripMargin,
    "rec_item_item_cosine" ->
      s"""WITH items AS (
        |  SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
        |  FROM lineitem),
        |pc AS (SELECT part, count(*) AS c FROM items GROUP BY 1),
        |pairs AS (
        |  SELECT x.part AS part_a, y.part AS part_b, count(*) AS c_ab
        |  FROM items x JOIN items y
        |    ON x.okey = y.okey AND x.part <> y.part
        |  GROUP BY 1, 2 HAVING count(*) >= ${CoPurchaseMinSupport}),
        |sim AS (
        |  SELECT part_a, part_b, c_ab,
        |    round(c_ab / sqrt(CAST(a.c AS DOUBLE) * b.c), 6) AS cosine
        |  FROM pairs JOIN pc a ON a.part = part_a
        |  JOIN pc b ON b.part = part_b),
        |rk AS (
        |  SELECT part_a, part_b, c_ab, cosine,
        |    row_number() OVER (PARTITION BY part_a
        |      ORDER BY cosine DESC, part_b) AS rnk
        |  FROM sim)
        |SELECT part_a, rnk, part_b, c_ab, cosine
        |FROM rk WHERE rnk <= 3 ORDER BY part_a, rnk""".stripMargin,
    "rec_copurchase_lift" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS okey,
         |    l_partkey AS part FROM lineitem),
         |n AS (SELECT count(DISTINCT okey) AS n_orders FROM items),
         |pc AS (SELECT part, count(*) AS c FROM items GROUP BY part),
         |pairs AS (SELECT x.part AS part_a, y.part AS part_b,
         |    count(*) AS c_ab
         |  FROM items x JOIN items y
         |    ON x.okey = y.okey AND x.part < y.part
         |  GROUP BY 1, 2 HAVING count(*) >= ${CoPurchaseMinSupport})
         |SELECT part_a, part_b, c_ab,
         |  round(CAST(c_ab AS DOUBLE) * n_orders / (ca.c * cb.c), 6)
         |    AS lift
         |FROM pairs CROSS JOIN n
         |  JOIN pc ca ON ca.part = pairs.part_a
         |  JOIN pc cb ON cb.part = pairs.part_b
         |ORDER BY lift DESC, part_a, part_b LIMIT 50""".stripMargin,
    "privacy_dp_counts" ->
      """WITH c AS (SELECT event_type, count(*) AS n_true FROM events
        |  GROUP BY 1),
        |hx AS (SELECT event_type, n_true,
        |    md5('dp_seed_1:' || event_type) AS m FROM c),
        |hv AS (SELECT event_type, n_true,
        |    CAST((instr('0123456789abcdef', substring(m, 1, 1)) - 1)
        |      * 1048576 +
        |    (instr('0123456789abcdef', substring(m, 2, 1)) - 1) * 65536 +
        |    (instr('0123456789abcdef', substring(m, 3, 1)) - 1) * 4096 +
        |    (instr('0123456789abcdef', substring(m, 4, 1)) - 1) * 256 +
        |    (instr('0123456789abcdef', substring(m, 5, 1)) - 1) * 16 +
        |    (instr('0123456789abcdef', substring(m, 6, 1)) - 1)
        |      AS BIGINT) AS h
        |  FROM hx),
        |nz AS (SELECT event_type, n_true,
        |    -20.0 * sign((h + 0.5) / 16777216.0 - 0.5) *
        |      ln(1.0 - 2.0 * abs((h + 0.5) / 16777216.0 - 0.5)) AS noise
        |  FROM hv)
        |SELECT event_type, round(n_true + noise, 6) AS n_released,
        |  round(noise, 6) AS noise
        |FROM nz ORDER BY event_type""".stripMargin,
    "events_bootstrap_ci" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events),
        |d AS (SELECT event_type, value,
        |    substr(md5(concat(event_id, ':', b)), 1, 2) AS h, b
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 32)) AS b)),
        |wts AS (SELECT event_type, value, b,
        |    CASE WHEN h < '5e' THEN 0 WHEN h < 'bc' THEN 1
        |         WHEN h < 'eb' THEN 2 WHEN h < 'fb' THEN 3
        |         WHEN h < 'ff' THEN 4 ELSE 5 END AS w
        |  FROM d),
        |m AS (SELECT event_type, b,
        |    CAST(sum(CAST(w * value AS DECIMAL(18,6))) AS DOUBLE)
        |      / sum(w) AS mean_b
        |  FROM wts GROUP BY 1, 2),
        |r AS (SELECT event_type, mean_b,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY mean_b, b) AS rk
        |  FROM m),
        |bounds AS (SELECT event_type,
        |    round(max(CASE WHEN rk = 2 THEN mean_b END), 6) AS boot_lo,
        |    round(max(CASE WHEN rk = 31 THEN mean_b END), 6) AS boot_hi
        |  FROM r GROUP BY 1),
        |ex AS (SELECT event_type, count(*) AS n_events,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(value), 6) AS mean_exact
        |  FROM e GROUP BY 1)
        |SELECT ex.event_type, ex.n_events, ex.mean_exact,
        |  bounds.boot_lo, bounds.boot_hi
        |FROM ex JOIN bounds USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "privacy_k_anon" ->
      s"""SELECT event_type, hour(ts) AS hour,
         |  CAST(floor(value / 50.0) AS INT) AS vbin,
         |  count(*) AS n
         |FROM events GROUP BY 1, 2, 3
         |HAVING count(*) < $KAnon
         |ORDER BY 1, 2, 3""".stripMargin,
    "privacy_l_diversity" ->
      s"""SELECT event_type, hour(ts) AS hour,
         |  CAST(floor(value / 50.0) AS INT) AS vbin,
         |  count(*) AS n, count(DISTINCT user_id) AS l_distinct
         |FROM events GROUP BY 1, 2, 3
         |HAVING count(DISTINCT user_id) < $LDiv
         |ORDER BY 1, 2, 3""".stripMargin,
    "monitor_psi" ->
      s"""WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
         |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM e),
         |b AS (SELECT event_type,
         |    CASE WHEN us < cut THEN 1 ELSE 0 END AS base,
         |    least(CAST(floor(value / $PsiBinWidth) AS INT), ${PsiBins - 1})
         |      AS bin
         |  FROM e CROSS JOIN cut),
         |cnt AS (SELECT event_type, bin, sum(base) AS nb,
         |    sum(1 - base) AS nc
         |  FROM b GROUP BY 1, 2),
         |grid AS (SELECT event_type, unnest(range(0, $PsiBins)) AS bin
         |  FROM (SELECT DISTINCT event_type FROM e)),
         |f AS (SELECT g.event_type, g.bin, coalesce(nb, 0) AS nb,
         |    coalesce(nc, 0) AS nc
         |  FROM grid g LEFT JOIN cnt
         |    ON cnt.event_type = g.event_type AND cnt.bin = g.bin),
         |tot AS (SELECT event_type, sum(nb) AS tb, sum(nc) AS tc
         |  FROM f GROUP BY 1),
         |terms AS (SELECT f.event_type, tb, tc,
         |    ((f.nc + 0.5) / (tc + ${PsiBins / 2.0})
         |      - (f.nb + 0.5) / (tb + ${PsiBins / 2.0}))
         |    * ln(((f.nc + 0.5) / (tc + ${PsiBins / 2.0}))
         |        / ((f.nb + 0.5) / (tb + ${PsiBins / 2.0}))) AS term
         |  FROM f JOIN tot ON tot.event_type = f.event_type)
         |SELECT event_type, CAST(max(tb) AS BIGINT) AS n_base,
         |  CAST(max(tc) AS BIGINT) AS n_cur,
         |  round(CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6) AS psi
         |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,
    "monitor_psi_mix" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
         |cut AS (SELECT (min(us) + max(us)) // 2 AS cut FROM e),
         |cnt AS (SELECT event_type,
         |    sum(CASE WHEN us < cut THEN 1 ELSE 0 END) AS nb,
         |    sum(CASE WHEN us < cut THEN 0 ELSE 1 END) AS nc
         |  FROM e CROSS JOIN cut GROUP BY 1),
         |tot AS (SELECT count(*) AS k, sum(nb) AS tb, sum(nc) AS tc
         |  FROM cnt),
         |terms AS (SELECT k, tb, tc,
         |    ((nc + 0.5) / (tc + k / 2.0) - (nb + 0.5) / (tb + k / 2.0))
         |    * ln(((nc + 0.5) / (tc + k / 2.0))
         |        / ((nb + 0.5) / (tb + k / 2.0))) AS term
         |  FROM cnt CROSS JOIN tot)
         |SELECT CAST(max(k) AS BIGINT) AS n_types,
         |  CAST(max(tb) AS BIGINT) AS n_base,
         |  CAST(max(tc) AS BIGINT) AS n_cur,
         |  round(CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6) AS psi
         |FROM terms""".stripMargin,
    "events_ewma_hourly" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_start,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, count(*) AS n_hours,
        |    list(CAST(n AS DOUBLE) ORDER BY hour_start) AS ns
        |  FROM h GROUP BY 1),
        |e AS (SELECT event_type, n_hours, ns,
        |    floor(list_reduce(ns,
        |      (acc, x) -> floor((0.3 * x + 0.7 * acc)
        |        * 1000000.0 + 0.5) / 1000000.0)
        |      * 1000000.0 + 0.5) / 1000000.0 AS ewma
        |  FROM l)
        |SELECT event_type, n_hours, CAST(ns[-1] AS BIGINT) AS last_n,
        |  ewma, round(ewma - ns[-1], 6) AS trend_gap
        |FROM e ORDER BY event_type""".stripMargin,
    // the recursion as an explicit per-index recursive CTE — DuckDB's
    // struct-accumulator list_reduce mis-resolves cross-field acc
    // references (probed: acc.l inside the 'b' field sees the current
    // step's OUTPUT), so the coupled fold can't share the EWMA oracle's
    // lambda shape
    "events_holt_hourly" ->
      """WITH RECURSIVE h AS (SELECT event_type,
        |    date_trunc('hour', ts) AS hour_start, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, count(*) AS n_hours,
        |    list(CAST(n AS DOUBLE) ORDER BY hour_start) AS ns
        |  FROM h GROUP BY 1),
        |st(event_type, i, l, b) AS (
        |  SELECT event_type, 1, ns[1], CAST(0 AS DOUBLE) FROM l
        |  UNION ALL
        |  SELECT s.event_type, i + 1,
        |    floor((0.3 * ll.ns[i+1] + 0.7 * (s.l + s.b))
        |      * 1000000.0 + 0.5) / 1000000.0,
        |    floor((0.3 * (floor((0.3 * ll.ns[i+1] + 0.7 * (s.l + s.b))
        |        * 1000000.0 + 0.5) / 1000000.0 - s.l)
        |      + 0.7 * s.b) * 1000000.0 + 0.5) / 1000000.0
        |  FROM st s JOIN l ll USING (event_type) WHERE i < ll.n_hours)
        |SELECT st.event_type, n_hours, CAST(ns[-1] AS BIGINT) AS last_n,
        |  st.l AS level, st.b AS trend,
        |  floor((st.l + st.b) * 1000000.0 + 0.5) / 1000000.0
        |    AS forecast_next
        |FROM st JOIN l USING (event_type) WHERE i = n_hours
        |ORDER BY event_type""".stripMargin,
    "q_compaction_plan" ->
      s"""WITH f AS (
         |  SELECT date_trunc('month', l_shipdate) AS month,
         |    count(*) AS n_rows
         |  FROM lineitem GROUP BY 1),
         |c AS (SELECT month, n_rows,
         |    COALESCE(sum(n_rows) OVER (ORDER BY month
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS rows_before
         |  FROM f),
         |b AS (SELECT month, n_rows,
         |    CAST(floor(rows_before / $CompactionTargetRows.0) AS BIGINT)
         |      AS bin
         |  FROM c)
         |SELECT month, n_rows, bin,
         |  CAST(sum(n_rows) OVER (PARTITION BY bin) AS BIGINT) AS bin_rows,
         |  count(*) OVER (PARTITION BY bin) AS bin_files
         |FROM b ORDER BY month""".stripMargin,
    "q_snapshot_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 23 <> 0),
        |nw AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.5
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 31 <> 0)
        |SELECT * FROM (
        |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    o.o_orderstatus AS old_o_orderstatus,
        |    o.o_totalprice AS old_o_totalprice,
        |    n.o_orderstatus AS new_o_orderstatus,
        |    n.o_totalprice AS new_o_totalprice,
        |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |         WHEN n.o_orderkey IS NULL THEN 'removed'
        |         WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |         THEN 'changed' END AS status
        |  FROM old o FULL JOIN nw n ON o.o_orderkey = n.o_orderkey)
        |WHERE status IS NOT NULL ORDER BY o_orderkey""".stripMargin,
    "q_data_profile" ->
      """WITH p AS (
        |  SELECT 'o_orderkey' AS column_name, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_null,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_s
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', count(*),
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_custkey),
        |    CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*),
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT o_orderstatus),
        |    min(o_orderstatus), max(o_orderstatus)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*),
        |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(DISTINCT CAST(o_orderdate AS DATE)),
        |    CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR),
        |    CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR)
        |  FROM orders)
        |SELECT * FROM p ORDER BY column_name""".stripMargin,
    "q_scd2_history" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  o_orderdate AS valid_from,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS valid_to,
        |  lead(o_orderdate) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "events_rfm" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |mx AS (SELECT max(us) AS t_now FROM e),
        |u AS (SELECT user_id, max(us) AS t_last, count(*) AS frequency,
        |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
        |  FROM e GROUP BY user_id),
        |r AS (SELECT user_id, t_now - t_last AS recency_us,
        |    frequency, monetary
        |  FROM u CROSS JOIN mx),
        |sc AS (SELECT user_id, recency_us, frequency, monetary,
        |    CAST(ntile(5) OVER (ORDER BY recency_us DESC, user_id) AS INT)
        |      AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS INT)
        |      AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary, user_id) AS INT)
        |      AS m_score
        |  FROM r)
        |SELECT *, r_score * 100 + f_score * 10 + m_score AS rfm_code
        |FROM sc ORDER BY user_id""".stripMargin,
    "events_transition_matrix" ->
      """WITH tr AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type, next_type, count(*) AS n FROM tr
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n,
        |  round(CAST(n AS DOUBLE)
        |    / sum(n) OVER (PARTITION BY event_type), 6) AS p
        |FROM c ORDER BY event_type, next_type""".stripMargin,
    "events_absorption_prob" -> absorptionSql(8),
    "events_dau_wau_stickiness" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d,
        |    user_id
        |  FROM events),
        |cover AS (
        |  SELECT DISTINCT d + CAST(o AS INTEGER) AS d, user_id
        |  FROM du, unnest(range(0, 7)) AS t(o)),
        |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY 1),
        |wau AS (SELECT d, count(*) AS wau FROM cover GROUP BY 1)
        |SELECT d, dau, wau,
        |  round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
        |FROM dau JOIN wau USING (d)
        |WHERE d >= (SELECT min(d) FROM du) + 6
        |  AND d <= (SELECT max(d) FROM du)
        |ORDER BY d""".stripMargin,
    "q_winsorize" ->
      """WITH thr AS (
        |  SELECT l_returnflag, quantile_cont(l_quantity, 0.01) AS lo,
        |    quantile_cont(l_quantity, 0.99) AS hi
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l_quantity < lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_lo,
        |  CAST(sum(CASE WHEN l_quantity > hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_hi,
        |  CAST(sum(CAST(least(greatest(CAST(l_quantity AS DOUBLE), lo), hi)
        |      AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS mean_winsorized
        |FROM lineitem JOIN thr USING (l_returnflag)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_skew_report" ->
      """WITH pk AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |st AS (SELECT sum(n) AS total, quantile_cont(n, 0.5) AS med FROM pk)
        |SELECT user_id, n,
        |  round(CAST(n AS DOUBLE) / total, 6) AS share,
        |  round(n / med, 4) AS x_median
        |FROM pk CROSS JOIN st
        |ORDER BY n DESC, user_id LIMIT 10""".stripMargin,
    "events_anomaly_zscore" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_start,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n_hours, sum(n) AS sum_n,
        |    sum(n * n) AS sum_sq
        |  FROM h GROUP BY event_type),
        |sv AS (SELECT event_type, n_hours,
        |    CAST(sum_n AS DOUBLE) / n_hours AS mean_n,
        |    (CAST(sum_sq AS DOUBLE)
        |      - CAST(sum_n AS DOUBLE) * sum_n / n_hours) / (n_hours - 1)
        |      AS var_n
        |  FROM st)
        |SELECT event_type, hour_start, n,
        |  round((n - mean_n) / sqrt(var_n), 4) AS z,
        |  abs(round((n - mean_n) / sqrt(var_n), 4)) > 2 AS is_anomaly
        |FROM h JOIN sv USING (event_type)
        |WHERE n_hours > 1 AND var_n > 0
        |ORDER BY event_type, hour_start""".stripMargin
  )
}
