package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.SparkSuite

/** Plan-shape assertions: the properties that make each operator hold
  * at 100 TB are locked in here, so a regression that silently
  * de-optimizes a plan (losing a pushdown, broadcasting the wrong side,
  * dropping partial aggregation) fails CI even though results stay
  * correct.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {
  val dir = "/root/testdata/sf0.001"

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  test("q6: every predicate reaches the parquet scan; schema is pruned") {
    val plan = formatted(q("q6_forecast_revenue"))
    assert(plan.contains("PushedFilters:"), plan)
    // all four filter columns pushed
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(plan.contains(s"IsNotNull($c)"), s"missing pushed filter on $c\n$plan")
    }
    // column pruning: the scan must not read uninvolved columns
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_partkey"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q3: dimension join is a broadcast, not a shuffle join") {
    val plan = formatted(q("q3_shipping_priority"))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q1: hash aggregation is partial+final (map-side combine)") {
    val plan = formatted(q("q1_pricing_summary"))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("q2 top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = formatted(q("q2_topk_parts"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Sort ["), plan)
  }

  test("semi/anti joins plan as LeftSemi/LeftAnti (no row explosion)") {
    assert(formatted(q("q_semi_join")).contains("LeftSemi"))
    assert(formatted(q("q_anti_join")).contains("LeftAnti"))
  }

  test("hot paths stay inside whole-stage codegen") {
    Seq("q1_pricing_summary", "q6_forecast_revenue", "q_distinct_agg")
      .foreach { name =>
        val df = q(name)
        df.collect() // AQE finalizes (and codegens) stages on execution
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("*("), s"$name has no codegen span:\n${plan.take(800)}")
      }
  }

  test("broadcast scalar (q22) plans without a shuffle of the big side") {
    val plan = formatted(q("q22_idle_balance"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("q_dpp_join: fact scan carries a runtime dynamicpruning filter") {
    // the dim filter is on a non-join column, so static constraint
    // propagation can't prune; the plan must show the partition filter
    // as a dynamic-pruning subquery on the partitioned fact scan
    val plan = formatted(q("q_dpp_join"))
    assert(plan.contains("dynamicpruning"), plan.take(2000))
    assert(plan.contains("PartitionFilters"), plan.take(2000))
  }

  test("bloom membership filter sits on the fact scan before the join") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val df = q("q_bloom_pruned_join")
    val plan = formatted(df)
    assert(plan.contains("might_contain"), plan)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.size == 1, plan)
    // the probe filters the fact (left) input, below the join
    val probes = joins.head.left.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
    }
    assert(probes.size == 1, plan)
    assert(probes.head.collectFirst { case j: Join => j }.isEmpty, plan)
  }

  test("LSH bucket cap: no oversized buckets on the test corpus") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), graft.ops.Text.wordShingles(col("text"), 3).as("sh"))
    assert(graft.ops.Dedup.oversizedBucketCount(docs, "doc_id", "sh") == 0L)
  }

  test("range band join broadcasts the tiny band dimension") {
    val plan = formatted(q("q_range_band_join"))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("blocked band join plans as an equi-join — no nested loop anywhere") {
    val plan = formatted(q("q_range_band_join_blocked"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"blocked band join fell back to a nested loop:\n$plan")
  }

  test("fuzzy pairs join is an equi-join on the blocking key") {
    val plan = formatted(q("link_fuzzy_pairs"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"fuzzy join fell back to a nested loop:\n$plan")
  }

  test("jaro pairs: equi-join on the block key, governor in plan, no window") {
    val plan = formatted(q("link_jaro_pairs"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"JW join fell back to a nested loop:\n$plan")
    // the block-cap governor is IN the plan (xxhash64 sample filter)
    // and map-side — no window/sort stage of its own
    assert(plan.contains("xxhash64"),
      s"JW block governor filter missing from plan:\n$plan")
    assert(!plan.contains("Window"),
      s"governor added a window stage to the JW path:\n$plan")
  }

  test("triangle counting plans with equi-joins only") {
    val plan = formatted(q("graph_triangles"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"triangle count fell back to a nested loop:\n$plan")
  }

  test("phash band dedup plans as an equi-join — no nested loop") {
    val plan = formatted(q("mm_phash_dedup"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"phash band join fell back to a nested loop:\n$plan")
  }

  test("k-core ANN peeling plans with equi-joins only") {
    val plan = formatted(q("graph_kcore_ann"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"k-core peel fell back to a nested loop:\n$plan")
  }

  test("adamic-adar wedge join is part-keyed; top-50 has no global sort") {
    val plan = formatted(q("graph_adamic_adar"))
    assert(!plan.contains("CartesianProduct"),
      s"wedge join fell back to all-pairs:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 planned as a global sort:\n$plan")
    // the hot-key governor is IN the plan (xxhash64 sample filter) and
    // map-side — it must not introduce a window/sort stage of its own
    assert(plan.contains("xxhash64"),
      s"wedge governor filter missing from plan:\n$plan")
    assert(!plan.contains("Window"),
      s"governor added a window stage to the wedge path:\n$plan")
    // the wedge self-join must stay shuffle-hash: SMJ's edge-table
    // sorts spilled 9.5 GB at 10× for a join output that is re-shuffled
    // by supplier pair immediately after
    assert(plan.contains("ShuffledHashJoin"),
      s"wedge join regressed to sort-merge:\n$plan")
  }

  test("rank tests: one grid-bounded pass — single scan, partial+final agg, window after agg") {
    // the load-bearing 100 TB shape for exact rank statistics: the data
    // is reduced to a cents-grid histogram in ONE partial+final
    // aggregate, and every window/rank step runs on the grid-sized
    // frame — never on data rows. Locked: (a) exactly one scan of the
    // events table, (b) map-side combine on the histogram agg, (c) any
    // Window sits ABOVE the first aggregate in the plan tree (i.e. its
    // input is the grid, not the scan), (d) no cartesian anywhere.
    // monitor_ks_drift is allowed a second scan: the reference-window
    // cut is a min-timestamp broadcast scalar (its own bounded pass)
    Seq("ab_mann_whitney" -> 1, "ab_ks_test" -> 1,
        "monitor_ks_drift" -> 2).foreach { case (n, maxScans) =>
      val plan = formatted(q(n))
      assert("HashAggregate".r.findAllIn(plan).size >= 2, s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
      val scans = plan.linesIterator
        .count(_.matches("""^\(\d+\) Scan parquet\s*"""))
      assert(scans <= maxScans,
        s"$n reduction re-scans the data: $scans scans\n$plan")
      // in the formatted TREE (top-down, deeper nodes later), the scan
      // is deepest; the histogram aggregate directly above it has the
      // largest HashAggregate index. Every Window must print before it
      // — i.e. consume the aggregate's grid-bounded output, never the
      // scan. (The details section repeats nodes in number order, so
      // only the tree lines — everything before the first detail
      // header — are positionally meaningful.)
      val tree = plan.linesIterator.toSeq
        .takeWhile(!_.matches("""^\(\d+\) .*"""))
      val lastAgg = tree.lastIndexWhere(_.contains("HashAggregate"))
      tree.zipWithIndex.filter(_._1.contains("Window")).foreach {
        case (l, i) =>
          assert(i < lastAgg,
            s"$n has a window below the reduction (windowing data rows?): $l\n$plan")
      }
    }
  }

  test("q11/q20: dim side broadcasts; threshold arrives as a broadcast scalar") {
    Seq("q11_important_value", "q20_excess_supplier").foreach { n =>
      val plan = formatted(q(n))
      assert(plan.contains("BroadcastHashJoin"), s"$n:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$n:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$n: nothing here should need a fact-fact shuffle join:\n$plan")
    }
  }

  test("pareto frontier: grid join-back broadcasts; no dominance self-join") {
    val plan = formatted(q("q_pareto_frontier"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"),
      s"skyline fell back to the O(n²) dominance join:\n$plan")
  }

  test("hampel band joins stay equi-keyed on event_type — no nested loop") {
    val plan = formatted(q("events_hampel_outliers"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band self-join lost its equi key:\n$plan")
  }

  test("co-purchase basket join carries the governor; no all-pairs fallback") {
    val plan = formatted(q("rec_copurchase_lift"))
    assert(plan.contains("xxhash64"),
      s"basket governor filter missing from plan:\n$plan")
    // basket size arrives via a count window partitioned on the SAME
    // key (okey) the self-join shuffles on — present, and no cartesian
    // (the one BroadcastNestedLoopJoin is the legitimate one-row
    // crossJoin(broadcast(nOrders)) scalar attach)
    assert(plan.contains("Window"), s"basket-size window missing:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"basket join fell back to all-pairs:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 planned as a global sort:\n$plan")
  }

  test("pmi top-50 avoids a global sort; unigram join is broadcast") {
    val plan = formatted(q("text_pmi_bigrams"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-50 planned as a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab-bounded unigram side not broadcast:\n$plan")
  }

  test("stats reductions are one partial+final agg before any window/join") {
    // corr matrix: a single scan-side partial HashAggregate carries all
    // 15 moments; no shuffle before it
    val plan = formatted(q("q_corr_matrix"))
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // welch: partial+final agg over (type, arm)
    val welch = formatted(q("ab_welch_ttest"))
    assert(welch.contains("HashAggregate"), welch)
  }

  test("levenshtein pigeonhole rule: guard injected, idempotent, lossless") {
    import spark.implicits._
    Scale.registerOptimizerRules(spark)
    Scale.registerOptimizerRules(spark) // registration idempotence
    assert(spark.experimental.extraOptimizations
      .count(_ == graft.plans.LevenshteinPigeonhole) == 1)
    // parquet-backed frame: a local Seq would be constant-folded into
    // a LocalRelation before the plan can be inspected
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val filtered = docs.filter(
      org.apache.spark.sql.functions.levenshtein($"lang", $"source") <= 2)
    val opt = filtered.queryExecution.optimizedPlan.toString
    // the injected guard survives optimization exactly once
    assert(opt.contains("abs((length(lang"),
      s"length guard not injected:\n$opt")
    assert("abs\\(".r.findAllIn(opt).size == 1,
      s"guard duplicated (rule not idempotent under fixpoint):\n$opt")
    // semantics unchanged on a hand-checkable frame: kitten→sitting is
    // distance 3 — the guard passes it (length diff 1) but the real
    // filter must still drop it
    val df = Seq(("ab", "abc"), ("abcdef", "a"), ("same", "same"),
      ("kitten", "sitting")).toDF("x", "y")
    val kept = df.filter(
      org.apache.spark.sql.functions.levenshtein($"x", $"y") <= 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(kept == Set(("ab", "abc"), ("same", "same")))
    // the 3-arg thresholded form must NOT be rewritten: it returns -1
    // when distance > threshold, so ("abcdef","a") (distance 5, length
    // gap 5) passes `levenshtein(x, y, 1) <= 2` via -1 — the length
    // guard is not implied and would wrongly drop that row
    val optT = docs.filter(
      org.apache.spark.sql.functions.levenshtein($"lang", $"source", 1) <= 2)
      .queryExecution.optimizedPlan.toString
    assert(!optT.contains("abs("),
      s"thresholded levenshtein must not get the pigeonhole guard:\n$optT")
    val keptT = df.filter(
      org.apache.spark.sql.functions.levenshtein($"x", $"y", 1) <= 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(keptT == Set(("ab", "abc"), ("abcdef", "a"), ("same", "same"),
      ("kitten", "sitting")))
  }

  test("quality expectations: same-table rules share one scan") {
    val plan = formatted(q("quality_expectations"))
    // 3 orders rules → 1 agg scan (+1 for the referential anti-join's
    // build side); 1 lineitem range rule + n_checked + anti-join probe.
    // Formatted plans list each scan in the tree AND the detail
    // section — count only the numbered detail entries.
    val scans = plan.linesIterator
      .count(_.matches("""^\(\d+\) Scan parquet\s*"""))
    assert(scans <= 5, s"expectations suite re-scans tables: $scans scans\n$plan")
  }

  test("stream-static enrich: dimension side is broadcast") {
    val plan = formatted(q("stream_static_enrich"))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("semantic contamination probe plans with equi-joins only") {
    val plan = formatted(q("text_contamination_semantic"))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"band-index contamination probe fell back to a nested loop:\n$plan")
  }

  test("BFS frontier expansion plans with equi-joins only") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // the loop's plans are executed (and checkpointed) while the frame is
    // built, so they are caught as they run, not read off the result
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val pairs = (1L to 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    spark.listenerManager.register(listener)
    try {
      Graph.bfsHops(pairs, "id_a", "id_b", seeds, 3, cap = 0).collect()
      GraftBridge.flushListenerBus(spark)
    } finally spark.listenerManager.unregister(listener)
    object H extends AdaptiveSparkPlanHelper
    val joins = plans.asScala.toSeq.flatMap(H.collect(_) {
      case j: BaseJoinExec => j })
    val nonEqui = joins.filter(_.leftKeys.isEmpty)
    assert(nonEqui.isEmpty, s"frontier join without keys:\n${
      nonEqui.mkString("\n")}")
    // the frontier ⋈ edges join and the novelty anti-join
    assert(Seq(Inner, LeftAnti).forall(t => joins.exists(_.joinType == t)),
      joins.map(_.nodeName).mkString(", "))
  }

  test("building a query starts no job for its table reads") {
    Seq("q1_pricing_summary", "q3_shipping_priority", "text_quality")
      .foreach(name => assert(jobsIn(q(name)) == 0, name))
    // the bounded collect of graph_bfs_hops' pairs and seeds is the only
    // action: 4 jobs at sf0.01 (the fuzzy-pair join's stages under AQE,
    // then the limited collect), where the checkpoint loop started 19
    val bfs = jobsIn(SparkEntry.queries("graph_bfs_hops")(spark,
      "/root/testdata/sf0.01"))
    assert(bfs <= 4, s"$bfs jobs")
  }

  test("IVF index lands partitioned by cluster; literal reads prune") {
    // what this locks: the on-disk LAYOUT — one directory per cluster,
    // and a cluster-literal read resolves to PartitionFilters (no full
    // scan). The probe path restricts clusters through a join, where
    // skipping is runtime behavior (broadcast/DPP), not a static plan
    // property — the layout is the precondition that makes it possible.
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        graft.functions.Vectors.toDouble(col("embedding")).as("v"))
    val path = "/tmp/graft_ivf_planspec"
    Similarity.ivfIndexBuild(e, path)
    val dirs = new java.io.File(s"$path/assignments").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("cluster=")) >= 2,
      s"assignments not partitioned by cluster: ${dirs.mkString(",")}")
    val probe = spark.read.parquet(s"$path/assignments")
      .filter(col("cluster") === 3)
    val plan = formatted(probe)
    assert(plan.contains("PartitionFilters") &&
      plan.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("cluster")),
      s"cluster filter not pushed to partition pruning:\n$plan")
  }

  test("TopKPerKey: partial+final execs around one shuffle; equals window") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val custom = graft.plans.TopK.perKey(orders,
      Seq("o_custkey"), Seq(("o_totalprice", true), ("o_orderkey", false)), 3)
    val plan = custom.queryExecution.executedPlan.toString
    assert("TopKPerKey".r.findAllIn(plan).size == 2, plan)
    assert(plan.contains("Exchange"), plan)
    val got = custom.select(col("o_custkey"), col("o_orderkey"))
      .orderBy(col("o_custkey"), col("o_orderkey")).collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val exp = orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).select(col("o_custkey"), col("o_orderkey"))
      .orderBy(col("o_custkey"), col("o_orderkey")).collect().toSeq
    assert(got == exp)
  }

  test("TopKPerKey resolves columns with the session resolver (case-insensitive)") {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val upper = graft.plans.TopK.perKey(orders,
      Seq("O_CUSTKEY"), Seq(("O_TOTALPRICE", true), ("o_orderkey", false)), 3)
    val lower = graft.plans.TopK.perKey(orders,
      Seq("o_custkey"), Seq(("o_totalprice", true), ("o_orderkey", false)), 3)
    assert(upper.select(col("o_orderkey")).orderBy(col("o_orderkey"))
      .collect().toSeq ==
      lower.select(col("o_orderkey")).orderBy(col("o_orderkey"))
        .collect().toSeq)
    intercept[IllegalArgumentException] {
      graft.plans.TopK.perKey(orders, Seq("no_such_col"),
        Seq(("o_orderkey", false)), 1)
    }
  }

  test("TopKPerKey groups null keys together, like window partitionBy") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((Some(1L), 10, 1), (Some(1L), 20, 2), (None, 30, 3),
      (None, 40, 4), (None, 50, 5), (Some(2L), 60, 6))
      .toDF("k", "v", "id")
    val got = graft.plans.TopK.perKey(df, Seq("k"),
        Seq(("v", true), ("id", false)), 2)
      .select($"id").as[Int].collect().sorted.toSeq
    // null group keeps top-2 by v desc → ids 5,4; others keep all
    assert(got == Seq(1, 2, 4, 5, 6))
  }

  test("ngram LSH pairs are a subset of the exact-Jaccard anchor") {
    val exact = q("dedup_jaccard_exact").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = q("dedup_ngram_jaccard").collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.contains(key), s"LSH pair $key not in exact anchor")
      assert(exact(key) == r.getDouble(2), s"jaccard mismatch for $key")
    }
  }

  test("url canonicalization is a pure map: no join, no agg, the only " +
      "exchange is the final presentation sort") {
    val plan = formatted(q("pipeline_url_canonical"))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    // one range exchange for the trailing orderBy, nothing else moves
    // (count node-detail headers "(N) Exchange" — the formatted output
    // names each node once in the tree and once in the details)
    assert("""\(\d+\) Exchange""".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("rangepartitioning"), plan)
  }

  test("domain quota: one hash exchange on the domain key feeds the " +
      "top-k window; no join, no second data shuffle") {
    val plan = formatted(q("pipeline_domain_quota"))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Window"), plan)
    // hashpartitioning(domain) for the window + rangepartitioning for
    // the final orderBy — exactly two exchanges
    assert("""\(\d+\) Exchange""".r.findAllIn(plan).size == 2, plan)
    assert(plan.contains("hashpartitioning(domain"), plan)
  }

  test("quota/sample windows early-out past k: the WindowGroupLimit " +
      "rewrite must be present (rank<=k never materializes full groups)") {
    // The "rank early-outs past k" scale claim was a comment until
    // r12 — on Spark 4.x it is the WindowGroupLimit physical rewrite
    // (map-side partial limit + final limit per key). A Spark upgrade
    // or plan drift that silently loses it would turn a hot-key quota
    // into a full-group materialization at 100 TB; fail here instead.
    Seq("pipeline_domain_quota", "pipeline_domain_quota_etld",
        "pipeline_sample_k_per_source").foreach { name =>
      val plan = formatted(q(name))
      assert(plan.contains("WindowGroupLimit"),
        s"$name lost the WindowGroupLimit early-out\n$plan")
    }
  }

  test("eTLD+1 quota: suffix matching is per-row InSet (no join, no " +
      "broadcast); one hash exchange on the registrable-domain key") {
    val plan = formatted(q("pipeline_domain_quota_etld"))
    // the public-suffix snapshot must ride inside the row expression,
    // never as a join/broadcast relation
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Broadcast"), plan)
    assert(plan.contains("Window"), plan)
    // hashpartitioning(domain) for the window + rangepartitioning for
    // the final orderBy — exactly two exchanges, same as host keying
    assert("""\(\d+\) Exchange""".r.findAllIn(plan).size == 2, plan)
    assert(plan.contains("hashpartitioning(domain"), plan)
  }

  test("quota NULL-sentinel filter stays cheap: the pushed Filter must " +
      "not contain a clone of the canonicalizer chain") {
    // Filtering on `url IS NOT NULL` made predicate pushdown inline
    // the ENTIRE canonicalizer expression into the Filter — every row
    // paid the chain twice (measured 1.84 s vs 0.74 s at the pinned
    // bench). The pipelines filter on isAbsoluteUrl(raw_url) instead;
    // the IDNA fold's function name is a marker that exists ONLY
    // inside the canonicalizer, so a Filter carrying it means the
    // clone came back.
    Seq("pipeline_domain_quota", "pipeline_domain_quota_etld")
      .foreach { name =>
        val plan = formatted(q(name))
        assert(plan.contains("graft_idn_host_ascii"),
          s"$name lost the IDNA fold entirely\n$plan")
        val filters = plan.split("\n").filter(_.contains("Condition"))
        assert(filters.nonEmpty, s"$name lost the sentinel filter\n$plan")
        filters.foreach { f =>
          assert(!f.contains("graft_idn_host_ascii"),
            s"$name Filter carries a canonicalizer clone (the r13 " +
              s"double-eval regression)\n$f")
        }
      }
  }
}
