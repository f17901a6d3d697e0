package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The timing main. By default it runs the headline queries (the
  * compute-heavy representatives of each operator family — ingest
  * roundtrips are excluded since they mostly measure CSV re-export) on
  * SPARK_GRAFT_SF_DIR; SPARK_GRAFT_BENCH_ONLY names any comma-separated
  * set of registered queries instead, which makes it the profiler of a
  * single query too. Each query gets one untimed warm-up and three
  * timed runs; the result is one JSON line on stdout, printed last,
  * plus the per-query diagnostics in BENCH_DETAIL.json (or
  * SPARK_GRAFT_DETAIL_PATH).
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> [SPARK_GRAFT_BENCH_ONLY=q1,q2]
  * sbt "runMain graft.Bench" */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q_window_topn_orders", "q_distinct_agg", "q_rollup_orders",
    "q_asof_join", "q_percentiles", "q_salted_join",
    "dedup_minhash", "dedup_simhash", "dedup_embedding_cosine",
    // production-threshold ANN (τ=0.9, 8×10 multiprobe) carries the
    // realistic banded-dedup cost; the τ=0.45 anchor-matching variant
    // (48 tables) is deliberately excluded — its cost is an artifact of
    // oracle-matching recall at an unrealistically loose threshold
    "dedup_embedding_ann_tight",
    "dedup_containment_lsh", // prefix-filter inverted-index scale path
    "sim_topk_bruteforce", "sim_topk_lsh", "sim_topk_ivf",
    "text_quality", "text_term_freq", "text_fingerprint",
    "text_contamination", "pipeline_pack_sequences_sharded",
    "text_bigram_lm", "q_zorder_key",
    "mm_decode_meta", "stream_hourly_window", "stream_sessionize",
    // round-5 additions: batch-vs-index dedup (the production
    // incremental mode), iterative-graph representative, the blocked
    // fuzzy join (quadratic-in-block record linkage), the band join's
    // equi-join scale path, and streaming windowed count-distinct
    "dedup_incr_minhash", "graph_pagerank",
    "link_fuzzy_pairs", "q_range_band_join_blocked",
    "stream_hourly_uniques",
    // round-6 additions: batch-vs-index semantic dedup (completing the
    // exact/MinHash/embedding incremental trio), the ANN-pair label
    // propagation (the scale form of the iterative-graph family), the
    // hashed linear quality classifier, and BPE subword stats (driver
    // learn on a bounded histogram + codegen apply)
    "dedup_incr_embedding", "graph_label_prop_ann",
    "text_quality_classifier", "text_bpe_tokens",
    // hybrid retrieval, ANN vector leg (the 100 TB form)
    "search_hybrid_rrf_ann",
    // round-7 additions: product-quantization ANN (codes-only scan +
    // ADC shortlist + exact re-rank) and the streaming semantic-dedup
    // two-batch replay (band index + vector state across microbatches)
    "sim_topk_pq", "stream_incr_embedding",
    // exact substring-span dedup (ExactSubstr primitive: corpus-wide
    // repeated-window detection + per-doc span merge)
    "dedup_substring_spans",
    // round-7: mergeable KLL quantile-sketch rollup (the percentile
    // analogue of the HLL rollup, on Spark's built-in KLL aggregates),
    // perceptual-hash band dedup (lossless Hamming band join), and
    // k-core peeling over LSH pairs (the iterative-graph scale form)
    "q_kll_rollup", "mm_phash_dedup", "graph_kcore_ann",
    // round-7 additions: semantic contamination screen (persisted band
    // index probe — the batch-vs-index join at its production shape)
    // and frontier BFS over the blocked entity graph
    "text_contamination_semantic", "graph_bfs_hops",
    // round-7 additions: RAG context assembly over the ANN candidates
    // (retrieval + pairwise near-dup drop + budget pack), the
    // streaming CDC state merge, Kneser-Ney LM scoring (4 corpus-wide
    // count tables + broadcast joins), single-pass Gram PCA, and the
    // PSI drift monitor's one-scan reduction
    "search_rag_context_ann", "stream_cdc_upsert", "text_kneser_ney",
    "sim_pca_power", "monitor_psi", "search_phrase_match",
    // round-7 additions: the one-pass d² moment matrix, the part-keyed
    // Adamic–Adar wedge join, and PMI collocation mining (explode +
    // vocab-bounded aggs + broadcast probability join)
    "q_corr_matrix", "graph_adamic_adar", "text_pmi_bigrams",
    // basket-bounded co-purchase association join and the blocked
    // Jaro–Winkler fuzzy join (codegen expression in the inner loop)
    "rec_copurchase_lift", "link_jaro_pairs",
    // round-8 additions: the grid-histogram rank test (exact ranks
    // without ranking data rows), the Hampel band self-joins, RAKE's
    // explode + capped vocab join, the source-pair JSD grid, exact
    // WAU via the cover-day explode, the iterated absorption matrix,
    // and the q21 double-correlation collapse
    "ab_mann_whitney", "events_hampel_outliers", "text_rake_keywords",
    "text_source_jsd", "events_dau_wau_stickiness",
    "events_absorption_prob", "q21_waiting_supplier",
    // round-9 additions: exact Shapley attribution (one pass to channel
    // bitmasks, coalition math on 16-row frames) and item-item cosine
    // recommendations (AQE-planned marginal joins, per-item top-k)
    "events_shapley_attribution", "rec_item_item_cosine",
    // round-12 addition: the web-intake representative — URL parse +
    // eTLD+1 InSet probe + one hash exchange into a WindowGroupLimit
    // top-k (pipeline_url_canonical itself is zero-shuffle and mostly
    // re-measures the scan, so the quota variant carries the family)
    "pipeline_domain_quota_etld")

  /** One timed run's measurements: wall seconds plus the shuffle/spill
    * byte deltas attributed to exactly this run (listener bus flushed
    * around each run). Per-RUN bytes are the r10 verdict's missing
    * telemetry: the per-query average could not distinguish "every run
    * wrote 2× the bytes" (a plan change — a real scale hazard) from
    * "one GC-excursion run re-wrote blocks" (environment). */
  final case class RunStat(sec: Double, shufWMb: Double, shufRMb: Double,
      spillMb: Double)

  /** The timing path: a between-runs reset plus timed runs with their
    * shuffle/spill bytes. The bytes are task-metric counters accumulated by a listener ("measure, don't guess" for the
    * plan dimension the wall clock hides): a query whose time looks fine
    * but whose shuffle bytes grew 10× is a scale regression the timing
    * alone would miss at sf0.1. */
  final class Meter(spark: SparkSession) {
    private val shufW = new AtomicLong
    private val shufR = new AtomicLong
    private val spill = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        }
      }
    })

    /** clearCache() drops catalog-cached relations but NOT
      * localCheckpoint RDD blocks, which linger until their RDD is
      * GC'd — the 3× probe's storage telemetry showed them accumulating
      * to hundreds of MB across iterative-graph queries and pressuring
      * later ones. Between runs every frame is dead, so force-unpersist
      * is safe. */
    def clear(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // quiesce the heap before the timed section starts: in a full
      // 65-query run the iterative-graph queries measured 2× their
      // own same-hour isolated numbers (tight spreads, zero spill,
      // identical shuffle bytes) — accumulated garbage from earlier
      // queries was being collected inside later queries' timed runs.
      // clear() is always called OUTSIDE the timing window, so the
      // forced full GC costs wall clock but never inflates a number.
      System.gc()
    }

    /** One timed run of `body` with its own byte attribution: the
      * listener bus is drained before the counter snapshot and again
      * before the delta, so late task-end events can't attribute a
      * neighbor run's bytes. */
    def timed(body: => Unit): RunStat = {
      clear()
      GraftBridge.flushListenerBus(spark)
      val (w0, r0, sp0) = (shufW.get, shufR.get, spill.get)
      val t0 = System.nanoTime()
      body
      val sec = math.round((System.nanoTime() - t0) / 1e9 * 1000) / 1000.0
      GraftBridge.flushListenerBus(spark)
      def mb(bytes: Long) = math.round(bytes / 1e6 * 10) / 10.0
      RunStat(sec, mb(shufW.get - w0), mb(shufR.get - r0),
        mb(spill.get - sp0))
    }
  }

  /** Timed runs per query: the median of 3 is the A/B statistic. */
  val Runs = 3

  /** One query's outcome: its timed runs — a single `-1` run when the
    * query failed, so it can never pass as a fast success — and the
    * storage still pinned after its caches were cleared (a leaked
    * persist). */
  final case class QueryResult(name: String, runs: Vector[RunStat],
      storageUsedMb: Double) {
    def secs: Vector[Double] = runs.map(_.sec).sorted
    def median: Double = secs(secs.size / 2)
  }

  /** The queries of one run: the headline set, or the registered
    * queries that `only` lists (comma-separated, in that order). An
    * unknown name fails the run rather than silently timing less. */
  def selected(only: Option[String]): Seq[String] = only.fold(headline) {
    list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY=\"$list\" must list registered queries; " +
          s"unknown: ${unknown.mkString(", ")}")
      names
  }

  /** The stdout line (the compact shape a caller parses from the tail
    * of the output, so the line stays short) and the detail record,
    * which adds `cpus`, the run guard's `meta` fragment and the
    * per-query maps: [min, median, max] spread, pinned
    * storage, mean shuffle/spill MB per run, and the per-run
    * [sec, shuffle_write_mb] pairs — a plan change inflates every run's
    * bytes, a GC excursion only the slow run's. */
  def summary(results: Seq[QueryResult], sfDir: String, cpus: String,
      meta: String): (String, String) = {
    def byQuery(f: QueryResult => Any): String =
      results.map(r => "\"" + r.name + "\":" + f(r)).mkString("{", ",", "}")
    def mean(f: RunStat => Double)(r: QueryResult): Double =
      math.round(r.runs.map(f).sum / r.runs.size * 10) / 10.0
    val total = results.map(_.median).sum
    val line = s""""metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${byQuery(_.median)},"sf":${Util.jsonString(sfDir)},""" +
      s""""runs_per_query":$Runs,"stat":"median""""
    // "*" is a legal cpus value (local[*]): a bare number only when it is one
    val cpusJson = if (cpus.matches("[0-9]+")) cpus else Util.jsonString(cpus)
    def spread(r: QueryResult) = s"[${r.secs.head},${r.median},${r.secs.last}]"
    def perRun(r: QueryResult) =
      r.runs.map(s => s"[${s.sec},${s.shufWMb}]").mkString("[", ",", "]")
    val detail = s"""{$line,"cpus":$cpusJson,$meta,""" +
      s""""spread":${byQuery(spread)},""" +
      s""""storage_used_mb_after":${byQuery(_.storageUsedMb)},""" +
      s""""shuffle_write_mb":${byQuery(mean(_.shufWMb))},""" +
      s""""shuffle_read_mb":${byQuery(mean(_.shufRMb))},""" +
      s""""spill_mb":${byQuery(mean(_.spillMb))},""" +
      s""""sec_shufw_runs":${byQuery(perRun)}}"""
    (s"{$line}", detail)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = selected(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    // Exclusive run lock + quiescence report: the lock serializes graft
    // JVMs, and the contention/other-JVM flags land in the detail record
    // so an anomalous run self-diagnoses instead of reading as a plan
    // regression.
    val guard = tools.RunGuard.acquire("graft.Bench")
    val spark = Sessions.local()
    // warm the JVM/codegen once on the smallest sf so per-query numbers
    // measure the query, not first-job session setup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    def run(name: String): Unit = SparkEntry.queries(name)(spark, sfDir).count()
    val meter = new Meter(spark)
    val results = names.map { name =>
      val t0 = System.nanoTime()
      val ok = try { run(name); true } // warm-up, untimed
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      System.err.println(
        f"[bench] $name warm-up ${(System.nanoTime() - t0) / 1e9}%.3f s")
      val runs = if (!ok) Vector(RunStat(-1.0, 0, 0, 0))
      else Vector.tabulate(Runs) { i =>
        val st = meter.timed(run(name))
        System.err.println(s"[bench] $name run${i + 1} ${st.sec} s " +
          s"shuffle_write_mb=${st.shufWMb} shuffle_read_mb=${st.shufRMb} " +
          s"spill_mb=${st.spillMb}")
        st
      }
      meter.clear()
      // cached bytes still pinned after clearCache() reveal a leaked persist
      val storage = spark.sparkContext.getExecutorMemoryStatus.values
      val usedMb = math.round(storage.map { case (max, free) => max - free }
        .sum / 1e5) / 10.0
      val result = QueryResult(name, runs, usedMb)
      System.err.println(s"[bench] $name times=${result.secs.mkString(",")} " +
        s"storage_used_mb=$usedMb")
      result
    }
    val (line, detail) = summary(results, sfDir, Sessions.Cpus, guard.metaJson)
    // overridable path so probe runs never clobber the committed record
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_PATH",
      "BENCH_DETAIL.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath), detail + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    System.err.println(s"[bench] detail: $detail")
    println(line) // the last thing this process prints
    spark.stop()
    guard.release()
  }
}
