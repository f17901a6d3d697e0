package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
import org.apache.spark.util.sketch.BloomFilter

import Q._

/** Scale-pattern operators: salted joins for skewed keys, bucketed
  * co-located joins, and SQL registration of the custom codegen
  * expressions.
  *
  * These exist to make the 100 TB story concrete and testable at small
  * SF: each query's RESULT is oracle-checked against the plain
  * formulation (salting/bucketing must be semantically invisible), and
  * the plan shape is what changes — verified via Explain/specs.
  */
object Scale {

  /** Degree budget for wedge-generating self-joins (Adamic–Adar
    * wedges, co-purchase baskets). A key with degree d contributes d²
    * pair rows, all produced inside the single task that owns the key
    * — one power-law key at 100 TB is an unboundable task. 2048 keeps
    * every key's pair volume ≤ ~2M rows (well inside a task) while
    * sitting far above any degree the TPC-H-shaped test data produces,
    * so the small-SF oracles are bit-identical with the governor on. */
  val WedgeDegreeCap = 2048

  /** Hot-key governor predicate for wedge joins: keeps every
    * contributor of a key whose degree is within `cap`, and for hotter
    * keys keeps a deterministic ~cap-sized hash sample of contributors
    * (row kept iff pmod(hash(key, contributor), deg) < cap — each
    * contributor's hash is a uniform draw in [0, deg), so ~cap of deg
    * survive, reproducibly). Entirely map-side: the degree is already
    * on the row (from the broadcast degree join or a basket-size
    * window), so the governor is one xxhash64 + pmod per row with NO
    * extra shuffle — unlike a row_number() cap, which would force a
    * per-key sort of exactly the hot keys it exists to protect.
    * `audit_wedge_cap` reports what the governor would truncate;
    * OpsSpec plants a hot key to prove the bound and the bit-identity
    * of cold keys. */
  def wedgeGovernor(key: Column, contributor: Column, deg: Column,
      cap: Int = WedgeDegreeCap): Column =
    deg <= cap ||
      pmod(xxhash64(key, contributor), deg.cast(LongType)) < lit(cap.toLong)

  /** Salted equi-join for skew: the fact side adds a deterministic salt
    * in [0, n); the dim side is exploded ×n so every (key, salt) bucket
    * joins locally. One hot key is thereby spread over n tasks. AQE's
    * skew-join split handles moderate skew automatically — explicit
    * salting is for the pathological keys AQE can't split (a single
    * giant hash-map build). Salt is derived by hashing a unique fact
    * column, so results are reproducible. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
      saltSrc: String, n: Int): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(col(saltSrc)), lit(n.toLong)).cast("int"))
    val expanded = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(n - 1))))
    salted.join(expanded, Seq(key, "__salt")).drop("__salt")
  }

  /** Bloom-pruned join: build a Bloom filter over the dim side's keys,
    * pre-filter the fact scan with a membership probe, then run the
    * exact join. Semantically invisible (false positives are removed by
    * the join) but at scale the fact table is pruned BEFORE its shuffle.
    * It is the pair Spark's runtime bloom-filter injection plans —
    * `BloomFilterAggregate` in a scalar subquery, probed by
    * `BloomFilterMightContain` (`might_contain`) — made explicit so the
    * pruning is plannable and testable. The subquery runs when the join
    * executes; keys are compared as LONG. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    def asLong(c: String) = GraftBridge.expression(col(c).cast(LongType))
    val build = new BloomFilterAggregate(asLong(dimKey), Literal(expectedItems),
      Literal(BloomFilter.optimalNumOfBits(expectedItems, fpp)))
    val bloom = dim.agg(GraftBridge.column(build.toAggregateExpression()))
      .scalar()
    fact.filter(GraftBridge.column(BloomFilterMightContain(
        GraftBridge.expression(bloom), asLong(factKey))))
      .join(dim, col(factKey) === col(dimKey))
  }

  /** In-session registration of the full custom-expression SQL surface
    * (same builder table as the `GraftExtensions` deployment path). */
  def registerSqlFunctions(spark: SparkSession): Unit =
    graft.GraftFunctions.builders.foreach { case (name, _, builder) =>
      GraftBridge.registerFunction(spark, name, builder)
    }

  /** In-session registration of the domain optimizer rules (the
    * extensions path injects them cluster-wide). Idempotent. */
  def registerOptimizerRules(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.LevenshteinPigeonhole))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+
          graft.plans.LevenshteinPigeonhole

  /** Write both fact tables bucketed+sorted on the join key, then join
    * the bucketed tables. With matching bucket counts the sort-merge
    * join needs NO Exchange on either side — at 100 TB this is the
    * difference between joining in place and reshuffling both tables
    * for every downstream join on the same key. Returns the joined
    * frame (plan-shape asserted in OpsSpec). */
  def bucketedOrdersLineitem(s: SparkSession, dir: String,
      buckets: Int = 8): DataFrame = {
    // a fresh session's in-memory catalog doesn't know about leftover
    // managed-table locations from a previous run — clear both
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("orders_bucketed", "lineitem_bucketed").foreach { tbl =>
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      graft.Util.rmrf(new java.io.File(s"$wh/$tbl"))
    }
    t(s, dir, "orders")
      .write.mode("overwrite")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_bucketed")
    t(s, dir, "lineitem")
      .write.mode("overwrite")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_bucketed")
    s.table("orders_bucketed").hint("merge")
      .join(s.table("lineitem_bucketed"),
        col("o_orderkey") === col("l_orderkey"))
  }

  /** Grid-blocked interval (band) join: the scale path for non-equi
    * range joins. Each interval row is exploded onto the fixed-width
    * grid cells it overlaps; each probe row computes its single cell;
    * an ordinary shuffled equi-join on the cell matches them, and the
    * exact interval predicate re-verifies candidates. Because a probe
    * lives in exactly one cell and an interval carries each covered
    * cell once, no pair can match twice — no dedup step is needed.
    * Replaces the broadcast-nested-loop plan (`q_range_band_join`) that
    * at 100 TB would stream the whole probe table past every interval;
    * here both sides shuffle once on the cell key and intervals grow
    * only by their width/cellWidth overlap factor. */
  def blockedBandJoin(probe: DataFrame, x: String, intervals: DataFrame,
      lo: String, hi: String, cellWidth: Double): DataFrame = {
    // last cell = the one containing values strictly below the open
    // upper bound: ceil(hi/w)−1, not floor(hi/w), which would emit a
    // guaranteed-dead candidate cell whenever hi sits exactly on a
    // cell boundary (greatest() guards degenerate zero-width input)
    val cells = intervals.withColumn("__cell",
      explode(sequence(floor(col(lo) / cellWidth).cast("long"),
        greatest(floor(col(lo) / cellWidth),
          ceil(col(hi) / cellWidth) - 1).cast("long"))))
    probe.withColumn("__cell", floor(col(x) / cellWidth).cast("long"))
      .join(cells, "__cell")
      .filter(col(x) >= col(lo) && col(x) < col(hi))
      .drop("__cell")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // salted join must produce exactly the plain join's answer
    "q_salted_join" -> { (s, dir) =>
      val ev = events(s, dir)
        .withColumnRenamed("user_id", "c_custkey")
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      saltedJoin(ev, cust, "c_custkey", "event_id", 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy(col("c_mktsegment"))
    },
    // bucketed co-located join: same answer as the plain join, no
    // shuffle on either join input (asserted in OpsSpec)
    "q_bucketed_join" -> { (s, dir) =>
      bucketedOrdersLineitem(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    },
    // bloom-pruned join must produce exactly the plain join's answer
    "q_bloom_pruned_join" -> { (s, dir) =>
      val ev = events(s, dir)
      val richCust = t(s, dir, "customer")
        .filter(col("c_acctbal") > 9000)
        .select(col("c_custkey"), col("c_mktsegment"))
      bloomPrunedJoin(ev, richCust, "user_id", "c_custkey", 2000L)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy(col("c_mktsegment"))
    },
    // z-order (Morton) clustering key + the data-skipping index it
    // yields: interleave 8 bits of customer bucket with 8 bits of
    // price bucket, assign rows to fixed-width z-ranges ("files"), and
    // emit each file's per-dimension min/max — the footer stats a scan
    // would prune on. Pure per-row bit arithmetic plus one hash agg;
    // no global sort is needed because file assignment is value-based
    // (z >> 4), not rank-based.
    "q_zorder_key" -> { (s, dir) =>
      val withBuckets = t(s, dir, "orders")
        .withColumn("xb", (col("o_custkey") % 256).cast(IntegerType))
        .withColumn("yb",
          least(floor(col("o_totalprice") / 2000.0), lit(255.0))
            .cast(IntegerType))
      val z = (0 until 8).foldLeft(lit(0)) { (acc, i) =>
        acc
          .bitwiseOR(shiftleft(shiftright(col("xb"), i).bitwiseAND(lit(1)),
            2 * i))
          .bitwiseOR(shiftleft(shiftright(col("yb"), i).bitwiseAND(lit(1)),
            2 * i + 1))
      }
      withBuckets.withColumn("zval", z)
        .withColumn("file_id", shiftright(col("zval"), 4))
        .groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("xb")).as("x_min"), max(col("xb")).as("x_max"),
          min(col("yb")).as("y_min"), max(col("yb")).as("y_max"))
        .orderBy(col("file_id"))
    },
    // the band join of q_range_band_join on its equi-join scale path:
    // grid cells of width 500 deliberately do NOT align with the
    // 400-wide bands, so intervals straddle cells and the explode +
    // re-verify machinery is actually exercised. Same oracle as the
    // nested-loop form — blocking must be semantically invisible.
    "q_range_band_join_blocked" -> { (s, dir) =>
      val bands = t(s, dir, "nation")
        .select(col("n_nationkey").as("band"),
          (col("n_nationkey") * 400 - 1000).cast(DoubleType).as("lo"),
          ((col("n_nationkey") + 1) * 400 - 1000).cast(DoubleType).as("hi"))
      blockedBandJoin(t(s, dir, "customer"), "c_acctbal",
          bands, "lo", "hi", cellWidth = 500.0)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("band_bal"))
        .orderBy(col("band"))
    },
    // custom codegen expression exposed through the SQL surface
    "q_sql_graft_dot" -> { (s, dir) =>
      registerSqlFunctions(s)
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.Vectors.toDouble(col("embedding")).as("v"))
        .createOrReplaceTempView("emb_v")
      s.sql("""
        SELECT vec_id, round(sqrt(graft_dot(v, v)), 6) AS l2_norm
        FROM emb_v ORDER BY vec_id""")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_bloom_pruned_join" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events e JOIN customer c
        |  ON e.user_id = c.c_custkey AND c.c_acctbal > 9000
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_zorder_key" -> {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((xb >> $i) & 1) << ${2 * i})",
        s"(((yb >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"""WITH b AS (SELECT
         |    CAST(o_custkey % 256 AS INT) AS xb,
         |    CAST(least(floor(o_totalprice / 2000.0), 255.0) AS INT) AS yb
         |  FROM orders),
         |z AS (SELECT xb, yb, ($terms) AS zval FROM b)
         |SELECT zval >> 4 AS file_id, count(*) AS n_rows,
         |  min(xb) AS x_min, max(xb) AS x_max,
         |  min(yb) AS y_min, max(yb) AS y_max
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_range_band_join_blocked" ->
      """SELECT n_nationkey AS band, count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS band_bal
        |FROM nation JOIN customer
        |  ON c_acctbal >= n_nationkey*400 - 1000
        | AND c_acctbal < (n_nationkey+1)*400 - 1000
        |GROUP BY 1 ORDER BY band""".stripMargin,
    "q_sql_graft_dot" ->
      """SELECT vec_id,
        |  round(sqrt(list_reduce(
        |    list_transform(range(1, len(embedding)+1),
        |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
        |    (x, y) -> x + y)), 6) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin
  )
}
