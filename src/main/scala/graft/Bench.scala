package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Perf harness: runs the headline queries (the compute-heavy
  * representatives of each operator family — ingest roundtrips are
  * excluded since they mostly measure CSV re-export) on
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver. */
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

  /** The one timing path of Bench and Profile: a between-runs reset plus
    * timed runs with their shuffle/spill bytes. The bytes are task-metric
    * counters accumulated by a listener ("measure, don't guess" for the
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

  /** Excursion policy (r10 verdict item 2): a timed run whose wall
    * clock exceeds `factor`× the query's own in-triple minimum — by at
    * least `minGapSec`, so sub-second queries don't churn on noise —
    * is a GC/scheduler excursion, not a measurement of the plan
    * (r10's driver artifact: pagerank [5.79, 5.96, 44.2] at a 91 GiB
    * heap; one more excursion landing on a different run index flips
    * the median and fabricates a cross-round regression). Each
    * excursion is discarded and re-run once via `rerun`, at most
    * `maxRetries` total per query; a replacement that is itself an
    * excursion is kept (evidence over silence) once retries run out.
    * Returns the final runs plus how many raw runs were discarded —
    * the count lands in BENCH_DETAIL as `excursions` so the artifact
    * self-explains.
    *
    * Statistic caveat: the policy biases a legitimately BIMODAL query
    * (slow 1-in-N by plan nature, not by GC) toward its fast mode. A
    * row with excursions>0 is therefore a different statistic than a
    * raw median — cross-round comparisons must treat such rows as
    * fast-mode medians and consult the preserved per-run evidence in
    * `sec_shufw_runs` before calling a regression (SURVEY §9k). */
  /** Median-of-2 top-up (r12 lesson): two consecutive rounds produced
    * >1.2× cross-round 10× "regressions" (adamic_adar r11 18.6 s vs a
    * 13.7 s truth, kcore_ann r12 13.85 vs 9.3) that median-of-3
    * re-runs dissolved — with only 2 runs the reported value is the
    * SLOWER run, and the excursion policy can't fire when the pair is
    * within 2.5× of itself. For any multi-second row measured with
    * fewer than 3 runs, one extra run buys a real median; sub-second
    * rows aren't worth the wall clock (their absolute error is
    * bounded by the threshold). Returns how many runs to add. */
  def topUpRuns(stats: Vector[RunStat], thresholdSec: Double = 5.0): Int =
    if (stats.size == 2 && !stats.exists(_.sec < 0) &&
      stats.map(_.sec).max > thresholdSec) 1 else 0

  def dropExcursions(raw: Vector[RunStat], rerun: () => RunStat,
      factor: Double = 2.5, minGapSec: Double = 1.0,
      maxRetries: Int = 3): (Vector[RunStat], Int) = {
    var stats = raw
    var discarded = 0
    var retries = maxRetries
    var done = false
    while (!done && retries > 0) {
      val mn = stats.map(_.sec).min
      val idx = stats.indexWhere(s =>
        s.sec > factor * mn && s.sec - mn > minGapSec)
      if (idx < 0) done = true
      else {
        System.err.println(s"[bench] excursion discarded: " +
          s"${stats(idx).sec}s vs min ${mn}s — re-running")
        stats = stats.updated(idx, rerun())
        discarded += 1
        retries -= 1
      }
    }
    (stats, discarded)
  }

  /** The r12 standing comparison rule, mechanized (r12 verdict ask 4):
    * cross-round wall-total deltas under 15% with per-query shuffle
    * bytes stable within 1% are box-window noise; anything more is
    * signal worth a root-cause. Totals are computed over the COMMON
    * query set only (the r12 advice lesson: a new query's seconds are
    * not a regression), failed rows (sec < 0) excluded. An EMPTY
    * filtered common set (disjoint SPARK_GRAFT_BENCH_ONLY subset, or
    * all rows failed) is "incomparable", not a 0/0 "signal" — the
    * r13 advice fix. Byte resolution is 0.1 MB, so the 1% test
    * carries a 0.3 MB absolute floor — sub-floor rows cannot express
    * a meaningful 1%. Returns (class, commonPriorTotal, commonTotal,
    * driftedBytes, |filtered common set| — the size the totals were
    * actually computed over, NOT the raw key intersection). */
  def classifyVsPrior(priorSec: Map[String, Double],
      curSec: Map[String, Double], priorBytes: Map[String, Double],
      curBytes: Map[String, Double])
      : (String, Double, Double, Seq[(String, Double, Double)], Int) = {
    val common = curSec.keySet.intersect(priorSec.keySet)
      .filter(q => curSec(q) >= 0 && priorSec(q) >= 0)
    val pTot = common.toSeq.map(priorSec).sum
    val cTot = common.toSeq.map(curSec).sum
    val drifted = common.toSeq.sorted.flatMap { q =>
      for {
        p <- priorBytes.get(q); c <- curBytes.get(q)
        if math.abs(c - p) > math.max(0.01 * p, 0.3)
      } yield (q, p, c)
    }
    val cls =
      if (common.isEmpty) "incomparable"
      else if (pTot > 0 && math.abs(cTot / pTot - 1.0) <= 0.15 &&
        drifted.isEmpty) "noise"
      else "signal"
    (cls, pTot, cTot, drifted, common.size)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Exclusive run lock + quiescence report: round 8's driver bench
    // read 80 s with 2–15× per-query spreads because a zombie chain
    // contended the box during the window. The lock serializes graft
    // JVMs; the contention/other-JVM flags land in BENCH_DETAIL so an
    // anomalous record self-diagnoses instead of reading as a plan
    // regression.
    val guard = tools.RunGuard.acquire("graft.Bench")
    val cpus = Sessions.Cpus
    val spark = Sessions.local()
    // warm the JVM/codegen once on the smallest sf so per-query numbers
    // measure the query, not first-job session setup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // round-4 lesson: a single timed run per query made a uniform +20%
    // drift across untouched queries indistinguishable from real plan
    // regressions. Per query: one untimed warm-up, then median of 3
    // timed runs; caches cleared between queries so one query's persist
    // can't pressure the next one's executors.
    val timedRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    def run(name: String): Unit = SparkEntry.queries(name)(spark, sfDir).count()
    // post-query storage telemetry: cached bytes still pinned after
    // clearCache() reveal a leaked persist; total/free executor storage
    // memory contextualizes an anomalous timing (external memory
    // pressure during the run shows up as shrunken free space). Round-5
    // lesson: the official record once carried a 12× one-off excursion
    // and nothing in the output could tell it from a plan regression.
    def storageMb: (Double, Double) = {
      val st = spark.sparkContext.getExecutorMemoryStatus.values
      val maxMb = st.map(_._1).sum / 1e6
      val freeMb = st.map(_._2).sum / 1e6
      (math.round((maxMb - freeMb) * 10) / 10.0, math.round(freeMb * 10) / 10.0)
    }
    val meter = new Meter(spark)
    // Heap-mismatch warning (r10 verdict item 3): the driver's harness
    // launches this main with its own -Xmx (91 GiB observed in r10, vs
    // the tuned 8 GiB in build.sbt/run_main.sh), and big heaps measured
    // 2.5–7x single-run GC excursions on this box. The stamp already
    // lands in metaJson; the WARN makes the caveat visible in the bench
    // tail without opening SURVEY. 10240 leaves headroom over -Xmx8g's
    // reported maxMemory so the tuned config never false-positives.
    val heapMb = Runtime.getRuntime.maxMemory / (1024L * 1024L)
    def heapWarn(): Unit = {
      if (heapMb > 10240)
        System.err.println(s"[bench] WARNING: jvm_max_heap_mb=$heapMb " +
          "exceeds the tuned 8192 — bench numbers are NOT comparable to " +
          "the committed record (big heaps measured 2.5-7x GC excursions " +
          "on this box; see SURVEY §9k)")
      // r10's "big-heap shuffle-byte inflation" was actually THIS knob:
      // at 32 cores the band-join family writes 2-3x the 4-core bytes —
      // map-side partial aggregation combines fewer duplicates per task
      // (measured gradient 20.2/29.2/41.5/58.6 MB at 4/8/16/32 cores,
      // same plan, zero spill, per-run-uniform). Byte counters only
      // compare within one parallelism setting.
      if (cpus != "4")
        System.err.println(s"[bench] NOTE: cpus=$cpus (committed record " +
          "is at 4) — shuffle-byte counters scale with map parallelism " +
          "via partial-agg dilution; compare bytes only within one " +
          "cpus setting (SURVEY §9k)")
    }
    heapWarn()
    def timedOnce(name: String): RunStat = meter.timed(run(name))
    // optional comma-separated subset (local iteration / extra scale
    // points — the driver sets only SPARK_GRAFT_SF_DIR)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val results = headline.filter(SparkEntry.queries.contains)
      .filter(n => only.forall(_.contains(n)))
      .map { name =>
      val ok = try { run(name); true } // warm-up, untimed
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
      val (stats, excursions) = if (!ok)
        (Vector(RunStat(-1.0, 0, 0, 0)), 0)
      else {
        val raw = (1 to timedRuns).map(_ => timedOnce(name)).toVector
        val topped = raw ++ (1 to topUpRuns(raw)).map(_ => timedOnce(name))
        if (topped.size > raw.size)
          System.err.println(s"[bench] $name: multi-second row at " +
            s"$timedRuns runs — topped up to a real median (r12 lesson)")
        dropExcursions(topped, () => timedOnce(name))
      }
      val times = stats.map(_.sec).sorted
      // per-query per-run means, comparable across timedRuns settings
      // and to prior rounds' divide-by-runs numbers
      def mean(xs: Vector[Double]) =
        math.round(xs.sum / math.max(xs.size, 1) * 10) / 10.0
      val shufMb = mean(stats.map(_.shufWMb))
      val shufRdMb = mean(stats.map(_.shufRMb))
      val spillMb = mean(stats.map(_.spillMb))
      meter.clear()
      val (usedMb, freeMb) = storageMb
      System.err.println(s"[bench] $name times=${times.mkString(",")} " +
        s"shuffle_write_mb=$shufMb shuffle_read_mb=$shufRdMb " +
        s"spill_mb=$spillMb excursions=$excursions " +
        s"storage_used_mb=$usedMb storage_free_mb=$freeMb")
      // a failed query reports -1 so it can never pass as a fast success
      (name, times, usedMb, shufMb, shufRdMb, spillMb, stats, excursions)
    }
    val qs = results.map { case (k, ts, _, _, _, _, _, _) =>
      "\"" + k + "\":" + ts(ts.size / 2) }.mkString("{", ",", "}")
    // per-query raw spread [min, median, max] — three numbers that cost
    // nothing and let an anomalous official record self-diagnose
    val spreads = results.map { case (k, ts, _, _, _, _, _, _) =>
      "\"" + k + "\":[" + ts.head + "," + ts(ts.size / 2) + "," + ts.last + "]"
    }.mkString("{", ",", "}")
    val leaked = results.map { case (k, _, m, _, _, _, _, _) =>
      "\"" + k + "\":" + m }.mkString("{", ",", "}")
    val shuffles = results.map { case (k, _, _, w, _, _, _, _) =>
      "\"" + k + "\":" + w }.mkString("{", ",", "}")
    val shuffleReads = results.map { case (k, _, _, _, r, _, _, _) =>
      "\"" + k + "\":" + r }.mkString("{", ",", "}")
    val spills = results.map { case (k, _, _, _, _, sp, _, _) =>
      "\"" + k + "\":" + sp }.mkString("{", ",", "}")
    // run-aligned per-run arrays [[sec, shuffle_write_mb], ...] + the
    // discarded-excursion count: the r10 root-cause telemetry — a plan
    // change inflates EVERY run's bytes, a GC-retry excursion only the
    // slow run's
    val perRun = results.map { case (k, _, _, _, _, _, st, _) =>
      "\"" + k + "\":[" +
        st.map(s => s"[${s.sec},${s.shufWMb}]").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val excs = results.map { case (k, _, _, _, _, _, _, ex) =>
      "\"" + k + "\":" + ex }.mkString("{", ",", "}")
    val total = results.map { case (_, ts, _, _, _, _, _, _) =>
      ts(ts.size / 2) }.sum
    // The driver captures only the last ~2000 chars of this process's
    // output and parses the JSON line from within that window — round
    // 6's line, grown past 2000 chars by the spread and storage maps,
    // fell out of the window and the official record went null. So the
    // stdout line stays in the compact round-5 shape (≈1.4 KB at 41
    // queries) and the full diagnostics go to a repo artifact + stderr.
    // cpus is a raw env string and "*" is a legal value for local[*]:
    // emit it as a bare number only when it IS one, else as a quoted
    // JSON string, so BENCH_DETAIL stays parseable for any setting
    val cpusJson = if (cpus.matches("[0-9]+")) cpus else "\"" + cpus + "\""
    // --- vs_prior: the noise|signal classification, emitted (not just
    // narrated) per r12 verdict ask 4. The prior is the COMMITTED
    // record (read before this run overwrites it); a probe run at a
    // different sf/cpus is incomparable by the §9k rule and says so.
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_PRIOR_DETAIL",
      "/root/repo/BENCH_DETAIL.json")
    val curSecMap = results.map { case (k, ts, _, _, _, _, _, _) =>
      k -> ts(ts.size / 2) }.toMap
    val curBytesMap = results.map { case (k, _, _, w, _, _, _, _) =>
      k -> w }.toMap
    val vsPrior: String = try {
      import org.json4s._
      val j = org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(priorPath)),
        java.nio.charset.StandardCharsets.UTF_8))
      val pSf = j \ "sf" match { case JString(s) => s; case _ => "" }
      val pCpus = j \ "cpus" match {
        case JInt(i) => i.toString
        case JString(s) => s
        case _ => ""
      }
      if (pSf != sfDir || pCpus != cpus)
        s""""vs_prior":{"compared":false,"reason":"prior $pSf@${pCpus}cpus vs $sfDir@${cpus}cpus — bytes/wall only comparable within one config (SURVEY 9k)"}"""
      else {
        def dmap(field: String): Map[String, Double] = j \ field match {
          case JObject(fs) => fs.collect {
            case (k, JDouble(v)) => k -> v
            case (k, JInt(v)) => k -> v.toDouble
          }.toMap
          case _ => Map.empty
        }
        val (cls, pTot, cTot, drifted, nCommon) =
          classifyVsPrior(dmap("queries"), curSecMap,
            dmap("shuffle_write_mb"), curBytesMap)
        if (cls == "incomparable")
          s""""vs_prior":{"compared":false,"reason":"no common non-failed queries with the prior (disjoint subset or all rows failed)","common_queries":0}"""
        else {
          val ratio = if (pTot > 0)
            math.round(cTot / pTot * 1000) / 1000.0 else -1.0
          val dj = drifted.map { case (q, p, c) => s""""$q":[$p,$c]""" }
            .mkString("{", ",", "}")
          s""""vs_prior":{"compared":true,"common_queries":$nCommon,"prior_total_common":${math.round(pTot * 1000) / 1000.0},"total_common":${math.round(cTot * 1000) / 1000.0},"wall_ratio":$ratio,"drifted_bytes":$dj,"class":"$cls"}"""
        }
      }
    } catch { case e: Throwable =>
      s""""vs_prior":{"compared":false,"reason":"no parseable prior (${e.getClass.getSimpleName})"}"""
    }
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs_per_query":$timedRuns,"stat":"median","cpus":$cpusJson,${guard.metaJson},"spread":$spreads,"storage_used_mb_after":$leaked,"shuffle_write_mb":$shuffles,"shuffle_read_mb":$shuffleReads,"spill_mb":$spills,"excursions":$excs,"sec_shufw_runs":$perRun,$vsPrior}"""
    // overridable path so local/probe chains never clobber the
    // committed official record (round-8 zombie-chain lesson: a stale
    // relaunch wrote its late detail over the repo artifact)
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL_PATH",
      "/root/repo/BENCH_DETAIL.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailPath), detail + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    System.err.println(s"[bench] detail: $detail")
    // WARN/NOTE must precede the metric line: r11's trailing heapWarn()
    // pushed the {"metric":"total"} line out of the driver's 2000-char
    // tail-capture window and BENCH_r11.json parsed null. The metric
    // line is the LAST thing this process prints.
    heapWarn()
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs_per_query":$timedRuns,"stat":"median"}""")
    spark.stop()
    guard.release()
  }
}
