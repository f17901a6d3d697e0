package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge.readParquet
import org.apache.spark.sql.functions._

import graft.ops.Q._

/** Source/sink format coverage beyond the reference's binary-columnar
  * store: partitioned Parquet (with partition pruning), ORC, and
  * JSON-lines — each exercised as a write→read roundtrip whose result
  * must match the original table via the DuckDB oracle.
  *
  * Scale notes: `partitionBy` on a low-cardinality column is the lake
  * layout that makes partition pruning free for every downstream reader;
  * the roundtrip read below shows `PartitionFilters` (not just
  * `PushedFilters`) in its scan.
  */
object Sinks {

  private def tmp(dir: String, name: String): String =
    s"/tmp/graft_sinks/${dir.replaceAll("\\W", "_")}/$name"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // hive-style partitioned parquet + partition-pruned read-back
    "sink_partitioned_parquet" -> { (s, dir) =>
      val out = tmp(dir, "docs_by_lang")
      t(s, dir, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(out)
      readParquet(s, out)
        .filter(col("lang").isin("de", "es"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
    // dynamic partition pruning: a partitioned fact joined to a dim
    // whose filter is on a NON-join column, so the optimizer cannot
    // prune statically — it must plan a runtime `dynamicpruning`
    // subquery that reads ONLY the partitions the filtered dim reaches
    // (PlanSpec locks the plan node). At 100 TB this is the difference
    // between scanning 5 partitions and 5000: the fact scan waits for
    // the broadcast dim and prunes on its values. Oracle-checked — the
    // filter (priority-group row count not divisible by 3) is
    // deterministic pure counting.
    "q_dpp_join" -> { (s, dir) =>
      val out = tmp(dir, "orders_by_pri")
      t(s, dir, "orders")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
      val fact = readParquet(s, out)
      val dim = t(s, dir, "orders")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("pri_cnt"))
        .filter(col("pri_cnt") % 3 =!= 0)
        .select(col("o_orderpriority"), col("pri_cnt"))
      fact.join(broadcast(dim), "o_orderpriority")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    },
    // codec control: zstd-compressed parquet roundtrip (the 100 TB
    // storage default trade: ~30% smaller than snappy, similar scan cost)
    "sink_zstd_roundtrip" -> { (s, dir) =>
      val out = tmp(dir, "lineitem_zstd")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .write.mode("overwrite").option("compression", "zstd").parquet(out)
      readParquet(s, out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    },
    // ORC sink/scan roundtrip
    "sink_orc_roundtrip" -> { (s, dir) =>
      val out = tmp(dir, "orders_orc")
      t(s, dir, "orders").write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))
    },
    // CSV sink/scan roundtrip (explicit read schema: inference is a
    // sampling pass we don't need when the writer's schema is known)
    "sink_csv_roundtrip" -> { (s, dir) =>
      val out = tmp(dir, "customer_csv")
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
          "c_acctbal DOUBLE, c_mktsegment STRING")
        .csv(out)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy(col("c_nationkey"))
    },
    // schema evolution: two writers with different schemas, one
    // mergeSchema read (the lake reality of long-lived datasets —
    // readers must tolerate added columns)
    "sink_merge_schema" -> { (s, dir) =>
      val out = tmp(dir, "orders_evolving")
      val ord = t(s, dir, "orders")
      ord.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$out/batch=1")
      ord.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$out/batch=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    },
    // JSON-lines sink/scan roundtrip
    "sink_jsonl_roundtrip" -> { (s, dir) =>
      val out = tmp(dir, "events_jsonl")
      events(s, dir).select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(out)
      s.read.json(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy(col("event_type"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    "q_dpp_join" ->
      """WITH dim AS (SELECT o_orderpriority, count(*) AS pri_cnt
        |  FROM orders GROUP BY 1),
        |sel AS (SELECT o_orderpriority FROM dim WHERE pri_cnt % 3 <> 0)
        |SELECT o.o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total
        |FROM orders o JOIN sel USING (o_orderpriority)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "sink_partitioned_parquet" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang IN ('de', 'es') ORDER BY doc_id""".stripMargin,
    "sink_zstd_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "sink_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "sink_csv_roundtrip" ->
      """SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "sink_merge_schema" ->
      """SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,
    "sink_jsonl_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
