package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Q._

/** Additional analytics surface: exact percentiles, pivot, custom UDAF
  * (typed Aggregator), and deterministic dictionary-code
  * materialization over the driver tables. */
object Analytics {

  /** Typed UDAF example: exact sum of squares. Chosen so the value is
    * order-independent (integral inputs, exact in double far below
    * 2^53) and therefore oracle-checkable — demonstrating the
    * Aggregator surface without floating-point ambiguity. */
  object SumSq extends Aggregator[Double, Double, Double] {
    def zero: Double = 0.0
    def reduce(b: Double, a: Double): Double = b + a * a
    def merge(b1: Double, b2: Double): Double = b1 + b2
    def finish(r: Double): Double = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
    def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  val Priorities: Seq[String] = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact interpolated percentiles (integral quantities → the
    // interpolation arithmetic is exact on both engines)
    "q_percentiles" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"),
          min(col("l_quantity")).as("qmin"),
          max(col("l_quantity")).as("qmax"))
        .orderBy(col("l_returnflag"))
    },
    // exact percentile as a WINDOW aggregate (per-order median
    // attached to every line; integral inputs → exact interpolation)
    "q_window_percentile" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_wp")
      s.sql("""
        SELECT l_orderkey, l_linenumber,
          percentile(l_quantity, 0.5) OVER (PARTITION BY l_orderkey)
            AS med_qty
        FROM lineitem_wp ORDER BY l_orderkey, l_linenumber""")
    },
    // pivot: order counts per status × priority
    "q_pivot_orders" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", Priorities)
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("o_orderstatus"))
    },
    // custom typed Aggregator (UDAF surface)
    "q_udaf_sumsq" -> { (s, dir) =>
      val sumsq = udaf(SumSq)
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(sumsq(col("l_quantity")).as("sumsq_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_linestatus"))
    },
    // custom TypedImperativeAggregate: exact top-k heavy hitters over
    // the exploded token stream (mutable hash-map buffer, serialized
    // partial merge), flattened for the SQL oracle
    "q_topk_heavy_hitters" -> { (s, dir) =>
      import org.apache.spark.sql.GraftBridge
      val topk = GraftBridge.column(
        graft.functions.TopKTokens(
          GraftBridge.expression(col("token")), 20).toAggregateExpression())
      t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .agg(topk.as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).as("rank"), col("col.token").as("token"),
          col("col.cnt").as("cnt"))
        .orderBy(col("rank"))
    },
    // fixed-width numeric histogram: one partial+final hash agg on the
    // computed bucket; bucket arithmetic is exact (division before
    // floor happens in DOUBLE identically on both engines)
    "q_histogram_prices" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(floor(col("l_extendedprice") / 5000).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"))
        .orderBy(col("bucket"))
    },
    // approximate sketches: HLL distinct, approx quantiles, CMS.
    // Estimates are engine-specific → rows-only check here; OpsSpec
    // asserts each estimate against the exact value with tolerance.
    "q_approx_sketches" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("approx_median_price"),
          count_min_sketch(col("l_suppkey"), lit(0.01), lit(0.95), lit(42))
            .as("cms"))
        .select(col("l_returnflag"), col("approx_orders"),
          col("approx_median_price"), length(col("cms")).as("cms_bytes"))
        .orderBy(col("l_returnflag"))
    },
    // mergeable-sketch rollup (DataSketches HLL): per-(type, hour)
    // user sketches built ONCE, then unioned to per-type distinct
    // estimates WITHOUT re-scanning raw events — the pattern that
    // turns a 100 TB distinct-count rollup into a merge of kilobyte
    // sketches (build daily sketch tables, answer any cube cell from
    // them). Rows-only (estimates aren't SQL-reproducible); OpsSpec
    // bounds the error vs the exact count.
    "q_hll_rollup" -> { (s, dir) =>
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_start"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          hll_sketch_estimate(hll_union_agg(col("sk")))
            .as("approx_users"))
        .orderBy(col("event_type"))
    },
    // mergeable QUANTILE sketch rollup (Spark's built-in DataSketches
    // KLL aggregates, k = 200) — the percentile analogue of
    // q_hll_rollup: per-(type, hour) value sketches built once, then
    // MERGED per type and asked for p50/p95/p99 — a 100 TB latency
    // rollup answered from kilobyte binaries, never a raw re-scan.
    // Rows-only (KLL estimates aren't SQL-reproducible); OpsSpec bounds
    // the rank error vs exact quantile_cont.
    "q_kll_rollup" -> { (s, dir) =>
      val hourly = events(s, dir)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour_start"))
        .agg(kll_sketch_agg_double(col("value")).as("sk"))
      hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"),
          kll_merge_agg_double(col("sk")).as("msk"))
        .select(col("event_type"), col("n_hours"),
          kll_sketch_get_quantile_double(col("msk"),
            array(lit(0.5), lit(0.95), lit(0.99))).as("approx_q"))
        .select(col("event_type"), col("n_hours"),
          round(element_at(col("approx_q"), 1), 6).as("p50"),
          round(element_at(col("approx_q"), 2), 6).as("p95"),
          round(element_at(col("approx_q"), 3), 6).as("p99"))
        .orderBy(col("event_type"))
    },
    // deterministic dictionary materialization (reference O10): codes by
    // first-encounter order = file order; the customer file is ordered
    // by c_custkey, so first encounter ≙ min custkey per segment
    "ingest_dict_encode" -> { (s, dir) =>
      val (encoded, _) = graft.ingest.Categorical.encode(
        t(s, dir, "customer"), "c_mktsegment")
      encoded.select(col("c_custkey"), col("c_mktsegment"),
        col("c_mktsegment_code"))
        .orderBy(col("c_custkey"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  min(l_quantity) AS qmin, max(l_quantity) AS qmax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_window_percentile" ->
      """SELECT l_orderkey, l_linenumber,
        |  quantile_cont(l_quantity, 0.5) OVER (PARTITION BY l_orderkey)
        |    AS med_qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_pivot_orders" -> {
      val cases = Priorities.map(p =>
        s"""CAST(sum(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS "$p"""")
        .mkString(",\n  ")
      s"""SELECT o_orderstatus,
         |  $cases
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
    },
    "q_histogram_prices" ->
      """SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
        |  count(*) AS n, min(l_extendedprice) AS lo,
        |  max(l_extendedprice) AS hi
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_topk_heavy_hitters" ->
      """SELECT CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
        |  token, cnt
        |FROM (
        |  SELECT token, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS token
        |    FROM documents)
        |  GROUP BY token)
        |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "q_udaf_sumsq" ->
      """SELECT l_linestatus,
        |  sum(l_quantity * l_quantity) AS sumsq_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "ingest_dict_encode" ->
      """WITH firsts AS (
        |  SELECT c_mktsegment, min(c_custkey) AS first_key
        |  FROM customer GROUP BY c_mktsegment),
        |codes AS (
        |  SELECT c_mktsegment,
        |    CAST(row_number() OVER (ORDER BY first_key) - 1 AS INT) AS c_mktsegment_code
        |  FROM firsts)
        |SELECT c_custkey, c.c_mktsegment, c_mktsegment_code
        |FROM customer c JOIN codes USING (c_mktsegment)
        |ORDER BY c_custkey""".stripMargin
  )
}
