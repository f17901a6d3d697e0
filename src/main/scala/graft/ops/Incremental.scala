package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftBridge.readParquet
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Q._

/** Incremental (batch-vs-index) deduplication — the production mode at
  * 100 TB. A pipeline does not re-dedup the whole corpus per crawl; it
  * dedups TODAY'S batch against a persisted index of the accepted
  * corpus and appends the survivors' index entries:
  *
  *  - exact: the index is one row per distinct content fingerprint —
  *    bytes proportional to |corpus|, never re-reads corpus text. The
  *    batch anti-joins it on the fingerprint (one narrow equi-join;
  *    only fingerprints shuffle, never documents).
  *  - near-dup: the index is the MinHash LSH band table
  *    (band, band_hash, id) — [[Dedup.Bands]] rows per doc. The batch
  *    computes its own signatures (embarrassingly parallel, batch-sized
  *    not corpus-sized) and equi-joins the index on (band, band_hash);
  *    candidates are exact-verified by joining shingle sets back by id
  *    from BOTH sides. Corpus text is touched only for the verify join
  *    on candidate ids — at τ-near-dup rates that is a vanishing
  *    fraction of the corpus.
  *
  * Here the driver ships one `documents` table, so the queries split it
  * deterministically by md5(doc_id) — ~81% "base" (the persisted
  * corpus) vs ~19% "batch" (the new crawl) — and derive the index on
  * the fly; in production the index is a parquet table maintained
  * across runs. The split is hash-based so it reproduces identically in
  * the DuckDB oracle.
  */
object Incremental {

  /** md5-prefix split: first hex char < 'd' → base (13/16 ≈ 81%). */
  private def isBase(id: Column): Column =
    substring(md5(id.cast(StringType)), 1, 1) < "d"

  /** Content fingerprint matching `dedup_exact_fingerprint`: md5 of the
    * sorted distinct whitespace tokens (robust to token order and
    * duplication — a bag-of-words identity). */
  private def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(Text.tokens(text)))))

  /** One index row per distinct base-corpus fingerprint. */
  def fingerprintIndex(base: DataFrame, textCol: String): DataFrame =
    base.select(fingerprint(col(textCol)).as("fp")).distinct()

  /** Exact incremental dedup: batch rows whose fingerprint is not in
    * the index, then keep-first within the batch itself (a batch can
    * contain its own duplicates). Returns the surviving batch rows. */
  def dedupAgainstIndex(batch: DataFrame, index: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val fp = batch.select(col(idCol), fingerprint(col(textCol)).as("fp"))
    val novel = fp.join(index, Seq("fp"), "left_anti")
    val w = Window.partitionBy(col("fp")).orderBy(col(idCol))
    novel.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .select(col(idCol), col("fp"))
  }

  /** LSH band index over the base corpus: (band, bkey, id), the
    * persisted near-dup index a production pipeline maintains. */
  def bandIndex(sets: DataFrame): DataFrame =
    Dedup.minhashSignatures(sets)
      .select(col("id"), posexplode(Dedup.bandKeys(col("sig"))))
      .select(col("pos").as("band"), col("col").as("bkey"), col("id"))

  /** Near-dup incremental dedup: batch docs with a τ-Jaccard partner in
    * the base corpus, found via the band index and exact-verified.
    * Returns (id_batch, id_base, jaccard). Recall follows the LSH
    * s-curve (audited by `audit_incr_minhash_recall`); precision is 1.0
    * by construction. */
  /** NOTE on parallelism: the expensive per-row work here (K-hash
    * MinHash signatures, then the array-intersect verify) executes in
    * the INPUT frames' partitions — callers deriving sets from a small
    * parquet corpus must spread the derivation (see [[shingleSets]]:
    * one raw-text exchange ahead of the shingle projection; the r14
    * 10× probe read 31 s at 2.2 MB shuffle with everything in the
    * 1-partition scan). On a real cluster inputs arrive
    * pre-partitioned and no exchange is needed, which is why the
    * spread is NOT hard-wired into this operator. */
  def nearDupAgainstIndex(batchSets: DataFrame, baseSets: DataFrame,
      threshold: Double): DataFrame = {
    val index = bandIndex(baseSets)
    val probes = bandIndex(batchSets)
      .withColumnRenamed("id", "id_batch")
    val cands = probes.join(index, Seq("band", "bkey"))
      .select(col("id_batch"), col("id").as("id_base"))
      .distinct()
    val a = batchSets.select(col("id").as("id_batch"), col("sh").as("sh_a"))
    val b = baseSets.select(col("id").as("id_base"), col("sh").as("sh_b"))
    // hint("merge"): the verify sides are corpus-derived SHINGLE-SET
    // frames — ~3 KB of strings per row — and Spark's size estimate
    // lands them under the broadcast threshold; building the resulting
    // 100+ MB HashedRelations on the driver dominated the whole query
    // (r14 10× breakdown: 25.2 s with the broadcasts, 6.5 s without —
    // everything else ~2.5 s). Same wide-row broadcast hazard that
    // pins merge in Dedup.embeddingNearDupPlan; the skinny candidate
    // pairs and the set frames exchange linearly instead. At 100 TB
    // neither set side could ever broadcast.
    cands.join(a.hint("merge"), "id_batch").join(b.hint("merge"), "id_base")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_batch"), col("id_base"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** One microbatch of streaming incremental dedup: dedup `batch`
    * against the parquet fingerprint index at `indexDir` (and within
    * itself), append the survivors (id, fp, batch_id) to `outDir` and
    * their fingerprints to the index. The streaming entry point below
    * wires this into `foreachBatch`; it is also directly replayable for
    * deterministic batch verification. Restart semantics follow the
    * sink: parquet append is at-least-once on retry (survivors of a
    * replayed batch re-dedup against the index they already updated, so
    * re-appended rows are exact duplicates — a downstream exact dedup
    * or a transactional sink upgrade makes it exactly-once). */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String, batchId: Long): Unit = {
    val sp = batch.sparkSession
    val index =
      if (graft.Util.Fs.exists(sp, indexDir)) readParquet(sp, indexDir)
      else sp.createDataFrame(sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("fp", StringType))))
    val survivors = dedupAgainstIndex(batch, index, idCol, textCol)
      .withColumn("batch_id", lit(batchId))
      .localCheckpoint() // cut the read-then-append cycle on indexDir
    survivors.write.mode("append").parquet(outDir)
    survivors.select(col("fp")).write.mode("append").parquet(indexDir)
  }

  /** Streaming incremental dedup: every microbatch dedups against the
    * accumulated index and appends to it — the streaming form of the
    * batch index pattern above. */
  def dedupStream(stream: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String) =
    stream.writeStream.foreachBatch {
      (b: DataFrame, id: Long) =>
        processBatch(b, idCol, textCol, indexDir, outDir, id)
    }

  /** One microbatch of streaming DISTINCT-COUNT maintenance: per-group
    * Theta sketches held in a parquet state table, merged (never
    * recomputed) with each batch's own sketches — the sketch extension
    * of [[incr_agg_merge]]'s algebraic-aggregate state, covering the
    * one aggregate class (COUNT DISTINCT) algebraic state cannot.
    * At 100 TB the state is |groups| kilobyte binaries; each batch
    * costs one batch-sized aggregate + a |groups|-sized union — the raw
    * history is never re-scanned, and the same binaries answer ANY
    * later union across groups (theta sketches are closed under set
    * algebra, unlike raw distinct counts). At-least-once caveat: a
    * replayed batch re-unions the same items — a NO-OP for a set
    * sketch, so restart semantics are exactly-once-equivalent here
    * (stronger than the dedup handlers' at-least-once). */
  def processSketchBatch(batch: DataFrame, keyCol: String, itemCol: String,
      stateDir: String): Unit = {
    val sp = batch.sparkSession
    val bs = batch.groupBy(col(keyCol))
      .agg(theta_sketch_agg(col(itemCol).cast(StringType)).as("sk"))
    val merged = if (graft.Util.Fs.exists(sp, stateDir))
      bs.unionByName(readParquet(sp, stateDir))
        .groupBy(col(keyCol)).agg(theta_union_agg(col("sk")).as("sk"))
    else bs
    // eager checkpoint cuts the read-then-overwrite cycle on stateDir
    merged.localCheckpoint().write.mode("overwrite").parquet(stateDir)
  }

  /** CDC delete marker: an event of this type tombstones its key (the
    * synthetic stream has no op-code column; 'error' plays DELETE, the
    * other four types are upserts — the mapping is arbitrary and the
    * mechanics are type-agnostic). */
  val CdcDeleteType = "error"

  /** One microbatch of streaming CDC apply: fold a batch of keyed
    * change records into the persisted current-state table — the
    * foreachBatch MERGE every warehouse ingestion runs. Per key and
    * batch: the LATEST record (by ts, event_id) wins; a winning
    * [[CdcDeleteType]] record removes the key; `n_changes` counts
    * records since the key's last delete (a delete wipes history — the
    * key restarts if re-inserted). Batches must arrive in stream order
    * (the usual CDC contract); within a batch, order is by (ts,
    * event_id), not arrival.
    *
    * Scale shape: the batch reduces to one row per touched key (one
    * hash agg + one bounded window), then ONE equi-join with the state
    * table on the key. State is |live keys| rows — partitioned by key
    * in production so the merge co-locates; the overwrite becomes a
    * partition-level rewrite of touched partitions only (Hive-style
    * dynamic partition overwrite). Restart: overwrite is idempotent
    * per (state, batch) pair, so a replayed batch converges to the
    * same state — exactly-once-equivalent, stronger than the append
    * sinks' at-least-once. */
  def processCdcBatch(batch: DataFrame, stateDir: String): Unit = {
    val sp = batch.sparkSession
    val dels = batch.filter(col("event_type") === CdcDeleteType)
      .groupBy(col("user_id")).agg(max(col("ts")).as("del_ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val reduced = batch.join(dels, Seq("user_id"), "left")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("rn") === 1, struct(col("ts").as("last_ts"),
          col("event_id").as("last_event_id"),
          col("event_type").as("last_type"),
          col("value").as("last_value")))).as("wrow"),
        sum(when(col("del_ts").isNull || col("ts") > col("del_ts"), 1L)
          .otherwise(0L)).as("n_batch"),
        max(col("del_ts")).as("del_ts"))
      .select(col("user_id"), col("wrow.last_ts"), col("wrow.last_event_id"),
        col("wrow.last_type"), col("wrow.last_value"), col("n_batch"),
        col("del_ts").isNotNull.as("has_del"))
    val stateSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("last_ts", TimestampType),
      StructField("last_event_id", LongType),
      StructField("last_type", StringType),
      StructField("last_value", DoubleType),
      StructField("n_changes", LongType)))
    val state =
      if (graft.Util.Fs.exists(sp, stateDir)) readParquet(sp, stateDir)
      else sp.createDataFrame(
        sp.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
    val st = state.select(col("user_id"), col("last_ts").as("s_ts"),
      col("last_event_id").as("s_eid"), col("last_type").as("s_type"),
      col("last_value").as("s_value"), col("n_changes").as("s_n"))
    val merged = st.join(reduced, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("last_ts"), col("s_ts")).as("last_ts"),
        coalesce(col("last_event_id"), col("s_eid")).as("last_event_id"),
        coalesce(col("last_type"), col("s_type")).as("last_type"),
        coalesce(col("last_value"), col("s_value")).as("last_value"),
        (when(coalesce(col("has_del"), lit(false)), lit(0L))
          .otherwise(coalesce(col("s_n"), lit(0L))) +
          coalesce(col("n_batch"), lit(0L))).as("n_changes"))
      .filter(col("last_type") =!= CdcDeleteType)
    // eager checkpoint cuts the read-then-overwrite cycle on stateDir
    merged.localCheckpoint().write.mode("overwrite").parquet(stateDir)
  }

  /** Incremental Holt (level, trend) state maintenance — the streaming
    * form of `events_holt_hourly`: each microbatch's per-(type, hour)
    * counts are folded INTO the persisted two-field state instead of
    * re-running the whole series. The recursion is sequential per key,
    * so the contract matches CDC's: batches arrive time-ordered (and
    * must not split an hour — align microbatch boundaries to the
    * window, as any hourly trigger does). Because each step's
    * arithmetic is the identical IEEE floor-quantized expression, the
    * replayed state is BIT-EQUAL to the one-shot batch fold — the
    * registered two-batch replay shares events_holt_hourly's oracle
    * verbatim. Overwrite keeps restarts exactly-once-equivalent. */
  def processHoltBatch(batch: DataFrame, stateDir: String): Unit = {
    val sp = batch.sparkSession
    val hourly = batch
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hour_start"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("b_hours"),
        array_sort(collect_list(struct(col("hour_start"), col("n"))))
          .as("series"))
    val stateSchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("n_hours", LongType), StructField("last_n", LongType),
      StructField("level", DoubleType), StructField("trend", DoubleType)))
    val state =
      if (graft.Util.Fs.exists(sp, stateDir)) readParquet(sp, stateDir)
      else sp.createDataFrame(
        sp.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
    val merged = hourly.join(
        state.select(col("event_type"), col("n_hours").as("s_hours"),
          col("last_n").as("s_last"), col("level").as("s_l"),
          col("trend").as("s_b")),
        Seq("event_type"), "full_outer")
      // seed the fold with the persisted state; fresh types initialize
      // from their first element via the NULL branch — the exact batch
      // expression with a different zero
      .withColumn("st", expr(
        """aggregate(coalesce(series, array()),
          |  named_struct('l', s_l, 'b', coalesce(s_b, CAST(0 AS DOUBLE))),
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
      .select(col("event_type"),
        (coalesce(col("s_hours"), lit(0L)) +
          coalesce(col("b_hours"), lit(0L))).as("n_hours"),
        coalesce(element_at(col("series"), -1).getField("n"),
          col("s_last")).as("last_n"),
        col("st.l").as("level"), col("st.b").as("trend"))
    merged.localCheckpoint().write.mode("overwrite").parquet(stateDir)
  }

  /** LshBuckets band index over base-corpus EMBEDDINGS: (tb, bk, id) —
    * the persisted semantic-dedup analogue of [[bandIndex]]. In
    * production this parquet table is maintained across runs (append
    * survivors' bands nightly); here it is derived from the md5 split.
    * One row per (table, vector): bytes proportional to tables·|corpus|,
    * never the vectors themselves.
    * Mixed widths: see [[graft.functions.LshBuckets.bands]]. */
  def embeddingBandIndex(vecs: DataFrame, tables: Int, bits: Int,
      dim: Int, kHigh: Int = 0): DataFrame =
    graft.functions.LshBuckets.bands(vecs.select("id", "v"), "v", tables,
      bits, dim, kHigh).select("tb", "bk", "id")

  /** Semantic incremental dedup: batch vectors with a cosine ≥ τ
    * partner in the base corpus, found via the persisted band index and
    * exact-cosine-verified. Batch-side buckets multiprobe the `bits`
    * Hamming-1 neighbors (probe-side rows only — the index is never
    * expanded), so per-table hit p^b + b·p^(b−1)(1−p) keeps recall ≈ 1
    * with a quarter of the tables a resident-only probe needs. Only ids
    * travel through the band join; vectors join back by id for the
    * verify, so precision is 1.0 by construction and recall is the only
    * approximation (audited per round by audit_incr_embedding_recall).
    * Returns (id_batch, id_base, cosine). */
  def nearDupEmbeddingAgainstIndex(batch: DataFrame, base: DataFrame,
      threshold: Double, tables: Int = 24, bits: Int = 0,
      dim: Int = 64): DataFrame = {
    // bits = 0 → derive MIXED widths from the BASE corpus size
    // ([[Dedup.adaptiveWidths]]): 5 bits is the tuned width (recall 1.0
    // audited) up to 5k vectors; past it the fractional-width policy
    // holds expected bucket occupancy (and so candidates-per-probe —
    // audit_incr_candidates freezes the measured number) constant,
    // where the old integer step let it oscillate 2× across a doubling
    // (r13 10×-probe: 10.31× wall on 3.33× data). A persisted
    // production index stores its widths; here both halves derive them
    // from the same base frame.
    val (bl, kh) =
      if (bits > 0) (bits, 0)
      else Dedup.adaptiveWidths(5, base.count(), 5000L, tables)
    probeEmbeddingIndex(batch, embeddingBandIndex(base, tables, bl, dim, kh),
      base, threshold, tables, bl, dim, kh)
  }

  /** The probe half of [[nearDupEmbeddingAgainstIndex]] against an
    * ALREADY-MATERIALIZED band index (e.g. read back from parquet —
    * the streaming handler below maintains one): multiprobe batch-side
    * bucket expansion, (table, bucket) equi-join, exact-cosine verify
    * against `base` vectors joined by candidate id. */
  /** Batch-side multiprobe band rows (tb, bk, id_batch). */
  private def multiprobeBands(batch: DataFrame, tables: Int, bits: Int,
      dim: Int, kHigh: Int): DataFrame =
    graft.functions.LshBuckets.probes(
      embeddingBandIndex(batch, tables, bits, dim, kHigh)
        .withColumnRenamed("id", "id_batch"), bits, kHigh)

  def probeEmbeddingIndex(batch: DataFrame, index: DataFrame,
      base: DataFrame, threshold: Double, tables: Int, bits: Int,
      dim: Int, kHigh: Int = 0): DataFrame = {
    // spread the probe side FIRST: with every join below broadcast
    // (skinny index, bounded vector sides), the whole candidate
    // generate+verify pipeline — this query's entire cost — executes
    // inside the batch scan's tasks, and a small parquet batch (a few
    // MB ≪ maxPartitionBytes) arrives as ONE partition, i.e. one
    // core. The r14 10× probe measured dedup_incr_embedding at 23 s
    // median with 0.1 MB total shuffle — 63M broadcast-fetch+cosine
    // verifies on a single thread. One round-robin exchange of the
    // BATCH rows (the smallest frame in the query) buys full-core
    // fan-out of everything downstream; on a real cluster the batch
    // arrives pre-partitioned and this exchange is batch-sized noise.
    val spread = batch.repartition(
      batch.sparkSession.sparkContext.defaultParallelism)
    val probes = multiprobeBands(spread, tables, bits, dim, kHigh)
    // verify FIRST, dedup the answer: candidate instances (multiple
    // (tb, bk) hits for the same pair) flow straight into the vector
    // joins and the τ filter, and only the answer-sized survivor set
    // is distinct'ed. Deduping the raw (id_batch, id_base) instances
    // up front hash-shuffled the full candidate volume — 150M rows /
    // 4-7 GB of spill at the 10× probe — to save vector joins that
    // are broadcast (small base) or id-shuffles the old shape paid
    // anyway (large base). Redundant cosine re-evaluation for
    // duplicate candidates is map-side CPU, the cheap resource.
    // (measured at the 10× probe: pinning merge on these three joins
    // was tried and REVERTED — the skinny index rows and the bounded
    // batch side make the broadcast fetch acceptable here, while the
    // forced sort of the candidate-instance stream spilled 75–150 GB.
    // The wide-row broadcast hazard that justifies the merge pin in
    // Dedup.embeddingNearDupPlan does not apply to a (tb, bk, id)
    // index probe.)
    val cands = probes.join(index, Seq("tb", "bk"))
      .select(col("id_batch"), col("id").as("id_base"))
    import graft.functions.Vectors
    val a = batch.select(col("id").as("id_batch"), col("v").as("va"),
      col("nrm").as("na"))
    val b = base.select(col("id").as("id_base"), col("v").as("vb"),
      col("nrm").as("nb"))
    cands.join(a, "id_batch").join(b, "id_base")
      .withColumn("cos",
        Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_batch"), col("id_base"),
        round(col("cos"), 6).as("cosine"))
      .distinct()
  }

  /** Candidate-volume audit of the adaptive embedding band probe: the
    * quantity [[Dedup.adaptiveWidths]] governs is candidate (probe ⋈
    * resident) band matches PER BATCH ROW — constant occupancy makes it
    * grow only with the Hamming-1 probe count (~log n), never with the
    * corpus. One row: the deployed widths, batch/base sizes, total
    * candidate instances, and candidates per batch row. Registered as
    * `audit_incr_candidates`, so a Verify or Bench run on the
    * 1×/3×/10× scale dirs measures the curve. */
  def incrCandidateStats(batch: DataFrame, base: DataFrame,
      tables: Int = 24, dim: Int = 64, refN: Long = 5000L): DataFrame = {
    val (nBatch, nBase) = (batch.count(), base.count())
    val (bl, kh) = Dedup.adaptiveWidths(5, nBase, refN, tables)
    multiprobeBands(batch, tables, bl, dim, kh)
      .join(embeddingBandIndex(base, tables, bl, dim, kh), Seq("tb", "bk"))
      .agg(count(lit(1)).as("n_candidates"))
      .select(lit(bl).as("bits_low"), lit(kh).as("k_high"),
        lit(nBatch).as("n_batch"), lit(nBase).as("n_base"),
        col("n_candidates"),
        round(col("n_candidates").cast(DoubleType) /
          lit(math.max(1L, nBatch).toDouble), 2).as("cand_per_batch_row"))
  }

  /** One microbatch of streaming SEMANTIC incremental dedup — the
    * embedding analogue of [[processBatch]]. The persisted state is two
    * parquet tables: `indexDir` holds the (tb, bk, id) band rows (what
    * the probe equi-joins — tables·|corpus| skinny rows) and `vecDir`
    * the survivors' (id, v, nrm) vectors (touched only by the verify
    * join on candidate ids). A batch vector is a duplicate if it has a
    * cosine ≥ τ partner among prior survivors (band probe + exact
    * verify) or a SMALLER-ID τ-partner within its own batch's novel
    * set; survivors append (id, batch_id) to `outDir` plus their band
    * rows and vectors to the state tables. Same at-least-once restart
    * semantics as [[processBatch]] (re-appended survivors re-dedup to
    * exact duplicates). */
  /** Persisted-index metadata: the live band rows sit at
    * `$indexDir/v$version`, written at width `bits`, which was derived
    * for a corpus of `designN` vectors. A persisted index's band width
    * must stay constant WITHIN a version (probe buckets must match
    * resident buckets), so the width cannot be derived per call — but
    * a width frozen forever is the one documented super-linear scale
    * path (the r8 10× probe measured 5.2–5.4× on 3.33× data: bucket
    * occupancy grows linearly with the corpus at fixed width, so
    * candidate pairs grow quadratically). The re-index watermark below
    * closes it: when the indexed corpus doubles past `designN`, the
    * index is REBUILT from the survivor vectors at the
    * [[Dedup.adaptiveWidths]] widths for the new size, into a fresh
    * version directory — an O(|corpus|) band recomputation amortized
    * over the doubling that triggered it, exactly a hash table's
    * resize policy. */
  /** `bits`/`kHigh` are the mixed-width pair of [[Dedup.adaptiveWidths]]
    * (kHigh tables at bits+1, the rest at bits); pre-mixed-width meta
    * files carry no k_high field and read back as kHigh = 0 — exactly
    * the uniform width they were written at. */
  final case class EmbIndexMeta(version: Int, bits: Int, designN: Long,
      kHigh: Int = 0)

  private def metaPath(indexDir: String) =
    s"$indexDir/_graft_index_meta.json"

  /** Meta I/O goes through the Hadoop [[graft.Util.Fs]] resolver —
    * the index dir is the same path Spark writes the band parquet to,
    * so on a cluster (`hdfs://`/`s3a://` state dirs) the meta must
    * live next to the data it describes; a `java.io.File` read there
    * would return "no meta" and silently re-probe at a wrong width. */
  def readEmbIndexMeta(sp: SparkSession,
      indexDir: String): Option[EmbIndexMeta] = {
    if (!graft.Util.Fs.exists(sp, metaPath(indexDir))) None
    else {
      val s = graft.Util.Fs.readUtf8(sp, metaPath(indexDir))
      def numOpt(k: String): Option[Long] =
        ("\"" + k + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(s)
          .map(_.group(1).toLong)
      def num(k: String): Long =
        numOpt(k).getOrElse(sys.error(s"corrupt index meta: $s"))
      Some(EmbIndexMeta(num("version").toInt, num("bits").toInt,
        num("design_n"), numOpt("k_high").getOrElse(0L).toInt))
    }
  }

  /** Atomic on local FS and HDFS alike (write-tmp + overwriting
    * rename via [[graft.Util.Fs.writeUtf8Atomic]]). */
  def writeEmbIndexMeta(sp: SparkSession, indexDir: String,
      m: EmbIndexMeta): Unit = {
    graft.Util.Fs.mkdirs(sp, indexDir)
    graft.Util.Fs.writeUtf8Atomic(sp, metaPath(indexDir),
      s"""{"version":${m.version},"bits":${m.bits},""" +
        s""""k_high":${m.kHigh},"design_n":${m.designN}}""")
  }

  /** Corpus size that doubles the design size → rebuild. */
  val ReindexGrowthFactor = 2L

  /** NOTE on `bits`/`kHigh`: the CREATION widths. A caller that knows
    * the corpus the index will grow to sizes them up front
    * ([[Dedup.adaptiveWidths]](5, expectedN, 5000, tables) — the
    * registered replays derive them from the full replayed corpus, so
    * their 2-batch fold probes at the steady-state widths instead of
    * paying one narrow-width batch then rebuilding); `bits = 0` sizes
    * creation adaptively from the first batch's novel count. Either
    * way the widths are afterwards owned by the persisted metadata and
    * advanced by the re-index watermark (see [[EmbIndexMeta]]), so an
    * UNDER-estimate is a transient cost, never a frozen quadratic. */
  def processEmbeddingBatch(batch: DataFrame, indexDir: String,
      vecDir: String, outDir: String, batchId: Long, threshold: Double,
      tables: Int = 24, bits: Int = 5, dim: Int = 64,
      refN: Long = 5000L, kHigh: Int = 0): Unit = {
    val sp = batch.sparkSession
    def verDir(v: Int) = s"$indexDir/v$v"
    // legacy-layout migration: a pre-versioning index has its band
    // rows directly in indexDir with no meta file. Treating that as an
    // empty corpus would re-emit duplicates of every prior survivor as
    // novel and orphan the old rows — so detect the legacy rows and
    // adopt them: move each top-level entry into v0 and commit a meta
    // at the caller's width (the legacy writer froze the caller's
    // `bits`, so that IS the width those rows were written at).
    // bits = 0 (adaptive) cannot name the legacy width — fail loudly
    // instead of probing at a guess.
    val meta = readEmbIndexMeta(sp, indexDir).orElse {
      val legacy = graft.Util.Fs.listNames(sp, indexDir)
        .filterNot(n => n.startsWith("_graft_index_meta") ||
          n.matches("v\\d+"))
      if (legacy.isEmpty) None
      else {
        require(bits > 0, s"unversioned legacy index at $indexDir " +
          "with adaptive sizing (bits = 0): its band width cannot be " +
          "recovered; pass the bits it was written with")
        legacy.foreach(n =>
          graft.Util.Fs.moveInto(sp, s"$indexDir/$n", verDir(0)))
        // adopted-width sanity check (one agg over the legacy rows,
        // paid once at migration): band keys live in [0, 2^bits), so a
        // key at or above 2^bits PROVES the caller's claimed width is
        // narrower than what the legacy writer used — committing it
        // would make every probe silently miss duplicates. Fail loudly.
        // The converse (claimed wider than written → all keys in the
        // bottom half) is only probabilistic — a degenerate one-cluster
        // corpus legitimately occupies few buckets — so it warns
        // instead of failing.
        val bkAgg = readParquet(sp, verDir(0))
          .agg(max(col("bk")).cast(LongType), count(lit(1))).head()
        if (!bkAgg.isNullAt(0)) {
          val (mxBk, nRows) = (bkAgg.getLong(0), bkAgg.getLong(1))
          require(mxBk < (1L << bits), s"legacy index at $indexDir has " +
            s"band key $mxBk >= 2^$bits: it was written at a WIDER " +
            "band width than the passed bits — adopting this width " +
            "would make probes silently miss duplicates")
          if (nRows >= 64 && mxBk < (1L << (bits - 1)))
            System.err.println(s"[incremental] WARNING: adopting legacy " +
              s"index at $indexDir at width $bits but all $nRows band " +
              s"keys are below 2^${bits - 1} — if the legacy writer " +
              "used a narrower width, probes will miss duplicates; " +
              "verify the original creation bits")
        }
        val indexed0 =
          if (graft.Util.Fs.exists(sp, vecDir))
            readParquet(sp, vecDir).count() else 0L
        val m = EmbIndexMeta(0, bits, math.max(indexed0, refN))
        writeEmbIndexMeta(sp, indexDir, m)
        Some(m)
      }
    }
    // stale-version GC: the rebuild's meta flip is atomic but the old
    // version dir's delete is not — a crash between them would leak vN
    // forever. Probes always follow the meta, so any version dir other
    // than meta.version is garbage by definition; collect it here
    // (metadata-only listing).
    meta.foreach { m =>
      graft.Util.Fs.listNames(sp, indexDir)
        .filter(n => n.matches("v\\d+") && n != s"v${m.version}")
        .foreach(n => graft.Util.Fs.deleteRecursive(sp, s"$indexDir/$n"))
    }
    // checkpoint: the novel frame feeds the self-probe THREE times
    // (its band index, the probe side, and the verify base) plus the
    // survivor anti-join — without materialization the cross-batch
    // parquet probe above re-executes once per consumer (measured 4×
    // the per-probe cost at sf0.1)
    val novel = (meta match {
      case Some(m) if graft.Util.Fs.exists(sp, verDir(m.version)) =>
        val dup = probeEmbeddingIndex(batch,
            readParquet(sp, verDir(m.version)), readParquet(sp, vecDir),
            threshold, tables, m.bits, dim, m.kHigh)
          .select(col("id_batch").as("id")).distinct()
        batch.join(dup, Seq("id"), "left_anti")
      // meta committed but no band rows yet — the creation-crash
      // window (the meta write precedes the first append, below):
      // everything is novel
      case _ => batch
    }).localCheckpoint()
    // first creation: the caller's sizing wins when given; bits = 0
    // sizes the widths for the corpus actually arriving, so even a
    // blind first batch starts at its adaptive widths instead of paying
    // one quadratic batch then rebuilding
    val (effBits, effKHigh) = meta match {
      case Some(m) => (m.bits, m.kHigh)
      case None if bits > 0 => (bits, kHigh)
      case None => Dedup.adaptiveWidths(5, novel.count(), refN, tables)
    }
    // the creation meta is committed BEFORE the first band append: if
    // the process died between an append and a trailing meta write, a
    // replay would re-derive possibly DIFFERENT adaptive widths and
    // append mixed-width band rows into the same v0, after which
    // probes silently miss duplicates. Fixing the widths first makes
    // any replay read the committed pair. designN stays a placeholder
    // until the post-append count below.
    if (meta.isEmpty)
      writeEmbIndexMeta(sp, indexDir,
        EmbIndexMeta(0, effBits, refN, effKHigh))
    // within-batch near-dups: probe the novel set against its own bands
    // and drop every id with a smaller-id τ-partner (deterministic
    // keep-first; the agreement audit folds the identical rule)
    val losers = probeEmbeddingIndex(novel,
        embeddingBandIndex(novel, tables, effBits, dim, effKHigh), novel,
        threshold, tables, effBits, dim, effKHigh)
      .filter(col("id_batch") > col("id_base"))
      .select(col("id_batch").as("id")).distinct()
    val survivors = novel.join(losers, Seq("id"), "left_anti")
      .withColumn("batch_id", lit(batchId))
      .localCheckpoint() // cut the read-then-append cycle on the state dirs
    // AT-LEAST-ONCE batch semantics: the three appends below (outDir,
    // band dir, vecDir) are not one transaction — parquet append can't
    // give one — so a crash between them followed by a batch replay
    // re-emits this batch's survivors (duplicate outDir/band rows; the
    // meta-first ordering above already closes the width-divergence
    // window). This order is chosen deliberately: appending vecDir
    // FIRST would instead make a crash-after-band replay find the
    // batch in the index and emit NOTHING — at-most-once, i.e.
    // silently LOST survivors, strictly worse for a dedup pipeline
    // than replay duplicates a downstream `distinct()` on
    // (id, batch_id) can remove. Exactly-once needs an external
    // commit protocol (e.g. the streaming entry point's foreachBatch
    // with idempotent batchIds, or a table format with multi-file
    // transactions).
    survivors.select(col("id"), col("batch_id"))
      .write.mode("append").parquet(outDir)
    val ver = meta.map(_.version).getOrElse(0)
    embeddingBandIndex(survivors, tables, effBits, dim, effKHigh)
      .write.mode("append").parquet(verDir(ver))
    survivors.select(col("id"), col("v"), col("nrm"))
      .write.mode("append").parquet(vecDir)
    // ---- re-index watermark ----
    val indexedN = readParquet(sp, vecDir).count()
    meta match {
      case None =>
        // design size = the capacity the chosen width covers (at least
        // the tuned reference), so small corpora don't rebuild on
        // every early doubling; replaces the placeholder committed
        // before the first append
        writeEmbIndexMeta(sp, indexDir,
          EmbIndexMeta(0, effBits, math.max(indexedN, refN), effKHigh))
      case Some(m) if indexedN > ReindexGrowthFactor * m.designN =>
        val (newBits, newKHigh) =
          Dedup.adaptiveWidths(5, indexedN, refN, tables)
        if (newBits > m.bits || (newBits == m.bits && newKHigh > m.kHigh)) {
          // rebuild at the wider setting into a fresh version dir; the
          // meta flip is atomic, then the stale version is dropped
          // (a crash between the two is cleaned by the entry GC above)
          embeddingBandIndex(readParquet(sp, vecDir), tables, newBits,
              dim, newKHigh)
            .write.mode("overwrite").parquet(verDir(m.version + 1))
          writeEmbIndexMeta(sp, indexDir,
            EmbIndexMeta(m.version + 1, newBits, indexedN, newKHigh))
          graft.Util.Fs.deleteRecursive(sp, verDir(m.version))
        } else
          // corpus doubled but the adaptive widths didn't move (refN
          // floor): just advance the watermark so the check stays O(1)
          writeEmbIndexMeta(sp, indexDir, m.copy(designN = indexedN))
      case _ => ()
    }
  }

  /** Streaming semantic dedup: every microbatch of (id, v, nrm) vectors
    * dedups against the accumulated band index and appends to it. */
  def embeddingDedupStream(stream: DataFrame, indexDir: String,
      vecDir: String, outDir: String, threshold: Double,
      tables: Int = 24, bits: Int = 5, dim: Int = 64,
      kHigh: Int = 0) =
    stream.writeStream.foreachBatch {
      (b: DataFrame, id: Long) =>
        processEmbeddingBatch(b, indexDir, vecDir, outDir, id, threshold,
          tables, bits, dim, kHigh = kHigh)
    }

  /** The exact (all-pairs) twin of the two-batch semantic-dedup fold —
    * the correctness anchor [[stream_incr_embedding]]'s agreement audit
    * compares against. Same keep rule as [[processEmbeddingBatch]]:
    * batch-2 rows are duplicates against batch-1 SURVIVORS (not all of
    * batch 1 — a vector whose only τ-partner was itself dropped must
    * survive), within-batch losers have a smaller-id τ-partner in the
    * batch's novel set. O(n²) cosine joins — small-SF audit use only. */
  def exactEmbeddingFold(b1: DataFrame, b2: DataFrame,
      threshold: Double): DataFrame = {
    import graft.functions.Vectors
    def pairs(l: DataFrame, r: DataFrame): DataFrame =
      l.select(col("id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
        .crossJoin(r.select(col("id").as("id_b"), col("v").as("vb"),
          col("nrm").as("nb")))
        .filter(Vectors.dot(col("va"), col("vb")) /
          (col("na") * col("nb")) >= threshold)
        .select(col("id_a"), col("id_b"))
    def survivorsWithin(batch: DataFrame): DataFrame = {
      val losers = pairs(batch, batch).filter(col("id_a") > col("id_b"))
        .select(col("id_a").as("id")).distinct()
      batch.join(losers, Seq("id"), "left_anti")
    }
    val s1 = survivorsWithin(b1).localCheckpoint()
    val dup2 = pairs(b2, s1).select(col("id_a").as("id")).distinct()
    val s2 = survivorsWithin(b2.join(dup2, Seq("id"), "left_anti"))
    s1.select(col("id"), lit(1L).as("batch_id"))
      .unionAll(s2.select(col("id"), lit(2L).as("batch_id")))
  }

  /** Embedding frames for the md5 batch/base split (same 81/19 split as
    * the document queries, keyed on vec_id). */
  /** Effective τ for the incremental-embedding family: the tuned 0.45
    * below the reference corpus size, density-governed above it
    * ([[Dedup.adaptiveTau]] — the r7 3× probe measured 7.3× growth at
    * fixed τ because the ANSWER is quadratic in corpus size at fixed
    * τ). Shared by the index probes and their exact audit anchors so
    * recall/agreement stay apples-to-apples at every scale point; the
    * oracle-checked anchor `dedup_incr_embedding_exact` keeps the
    * fixed 0.45 its DuckDB SQL hard-codes. */
  private def incrEmbTau(s: SparkSession, dir: String): Double =
    Dedup.memoTau(s, dir, 0.45)

  private[graft] def vecSets(s: SparkSession, dir: String,
      base: Boolean): DataFrame = {
    import graft.functions.Vectors
    t(s, dir, "embeddings")
      .filter(if (base) isBase(col("vec_id")) else !isBase(col("vec_id")))
      .select(col("vec_id").cast(LongType).as("id"),
        Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
  }

  /** The held-out benchmark vectors (every 100th id, offset 7) and the
    * training-candidate corpus — the semantic analogue of
    * text_contamination's src0 split, over embeddings. */
  private def benchVecs(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Vectors
    t(s, dir, "embeddings")
      .filter(col("vec_id") % 100 === 7)
      .select(col("vec_id").cast(LongType).as("id"),
        Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
  }

  private def trainVecs(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Vectors
    t(s, dir, "embeddings")
      .filter(col("vec_id") % 100 =!= 7)
      .select(col("vec_id").cast(LongType).as("id"),
        Vectors.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm(col("v")))
  }

  /** Exact batch×base cosine pairs — the small-scale oracle anchor for
    * [[nearDupEmbeddingAgainstIndex]] (all-pairs join, batch×base only). */
  private def exactIncrEmbPairs(s: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    import graft.functions.Vectors
    val a = vecSets(s, dir, base = false)
      .repartition(s.sparkContext.defaultParallelism, col("id"))
      .select(col("id").as("id_batch"), col("v").as("va"), col("nrm").as("na"))
    val b = vecSets(s, dir, base = true)
      .select(col("id").as("id_base"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .withColumn("cos",
        Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_batch"), col("id_base"),
        round(col("cos"), 6).as("cosine"))
  }

  private def shingleSets(s: SparkSession, dir: String,
      base: Boolean): DataFrame = {
    // spread BEFORE the shingle projection: a small parquet corpus is
    // ONE scan partition, and everything downstream of this derivation
    // (shingling, MinHash signatures, the verify) inherits it — the
    // exchange moves raw (doc_id, text) rows, ~20× narrower than the
    // computed shingle arrays would be
    val docs = t(s, dir, "documents")
      .filter(if (base) isBase(col("doc_id")) else !isBase(col("doc_id")))
      .repartition(s.sparkContext.defaultParallelism)
    docs.select(col("doc_id").as("id"),
      array_distinct(Text.charShingles(col("text"), 5)).as("sh"))
  }

  /** Exact batch×base Jaccard pairs — the small-scale oracle anchor for
    * [[nearDupAgainstIndex]] (same contract, all-pairs join). */
  private def exactIncrPairs(s: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val a = shingleSets(s, dir, base = false)
      .repartition(s.sparkContext.defaultParallelism, col("id"))
      .select(col("id").as("id_batch"), col("sh").as("sh_a"))
    val b = shingleSets(s, dir, base = true)
      .select(col("id").as("id_base"), col("sh").as("sh_b"))
    a.join(b,
        size(col("sh_b")).cast(DoubleType) >= size(col("sh_a")) * threshold &&
        size(col("sh_a")).cast(DoubleType) >= size(col("sh_b")) * threshold)
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_batch"), col("id_base"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // embedding drift monitor: population stats of the incoming batch
    // against the base corpus — counts, mean vector norm per side, and
    // the cosine between the two per-dimension centroids. The number a
    // pipeline alarms on BEFORE pouring a re-embedded or
    // distribution-shifted batch into an index tuned for the old
    // geometry. One scan: per-side scalars are a 2-group agg, the
    // centroids are a posexplode + (side, dim)-keyed DECIMAL sum
    // (order-independent → oracle-exact), and everything after is
    // 64-row arithmetic. At 100 TB the per-dim partial sums are
    // map-side-combined, so the shuffle is #partitions × 128 rows.
    "incr_embedding_drift" -> { (s, dir) =>
      import graft.functions.Vectors
      val e = t(s, dir, "embeddings")
        .select(isBase(col("vec_id")).as("is_base"),
          Vectors.toDouble(col("embedding")).as("v"))
      val side = e
        .withColumn("nrm", Vectors.norm(col("v")))
        .groupBy(col("is_base"))
        .agg(count(lit(1)).as("n"), davg(col("nrm")).as("mn"))
      val cent = e.select(col("is_base"), posexplode(col("v")))
        .groupBy(col("is_base"), col("pos"))
        .agg((sum(col("col").cast(DecimalType(28, 12))).cast(DoubleType) /
          count(lit(1))).as("c"))
      val cos = cent.filter(col("is_base"))
        .select(col("pos"), col("c").as("cb"))
        .join(cent.filter(!col("is_base"))
          .select(col("pos"), col("c").as("cn")), "pos")
        .agg(
          sum((col("cb") * col("cn")).cast(DecimalType(38, 18)))
            .cast(DoubleType).as("dot"),
          sum((col("cb") * col("cb")).cast(DecimalType(38, 18)))
            .cast(DoubleType).as("nb2"),
          sum((col("cn") * col("cn")).cast(DecimalType(38, 18)))
            .cast(DoubleType).as("nn2"))
        .select(round(col("dot") / (sqrt(col("nb2")) * sqrt(col("nn2"))), 6)
          .as("centroid_cosine"))
      side.filter(col("is_base"))
        .select(col("n").as("n_base"), round(col("mn"), 6).as("mean_norm_base"))
        .crossJoin(side.filter(!col("is_base"))
          .select(col("n").as("n_batch"),
            round(col("mn"), 6).as("mean_norm_batch")))
        .crossJoin(cos) // three 1-row frames
    },

    // incremental MATERIALIZED-AGGREGATE maintenance: the per-(lang,
    // source) corpus statistics table is kept current by merging the
    // persisted base state with the new batch's delta state — the base
    // RAW rows are never re-scanned (at 100 TB the state table is
    // |lang|×|source| rows; the nightly cost is one scan of the BATCH
    // plus a state-sized merge). Only algebraic aggregates live in the
    // state (count, sum, max — each mergeable by the same function);
    // the non-mergeable mean is derived at read time from sum/count,
    // which is exactly why it's NOT a state column. Oracle = the full
    // recompute over base ∪ batch, which the merge must equal exactly.
    "incr_agg_merge" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .withColumn("n_tok", size(Text.tokens(col("text"))).cast(LongType))
      def state(df: DataFrame) = df.groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
          max(col("doc_id")).as("max_doc_id"))
      state(docs.filter(isBase(col("doc_id"))))       // persisted state
        .unionByName(state(docs.filter(!isBase(col("doc_id"))))) // delta
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          max(col("max_doc_id")).as("max_doc_id"))
        .withColumn("mean_tokens",
          round(col("n_tokens").cast(DoubleType) /
            col("n_docs").cast(DoubleType), 6))
        .orderBy(col("lang"), col("source"))
    },

    "dedup_incr_exact" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val index = fingerprintIndex(docs.filter(isBase(col("doc_id"))), "text")
      dedupAgainstIndex(docs.filter(!isBase(col("doc_id"))), index,
        "doc_id", "text")
        .orderBy(col("doc_id"))
    },

    // all-pairs anchor (batch×base only — already far smaller than the
    // full O(n²): ~19% × 81% of the square)
    "dedup_incr_jaccard_exact" -> { (s, dir) =>
      exactIncrPairs(s, dir, 0.5).orderBy(col("id_batch"), col("id_base"))
    },

    // the scale path: band-index equi-join + exact verify (rows-only;
    // recall audited below, precision 1.0 by construction)
    "dedup_incr_minhash" -> { (s, dir) =>
      nearDupAgainstIndex(shingleSets(s, dir, base = false),
        shingleSets(s, dir, base = true), 0.5)
        .orderBy(col("id_batch"), col("id_base"))
    },

    // deterministic 2-batch replay of the streaming foreachBatch
    // handler: documents split by doc_id parity arrive as two
    // microbatches; each dedups against the index state the previous
    // one left behind. The oracle reproduces the same two-step fold in
    // SQL, so this row proves the streaming handler's cross-batch
    // semantics, not just a batch query.
    "stream_incr_dedup" -> { (s, dir) =>
      // NOTE on java.io.File/Files here and in the replay queries below:
      // these `createTempDirectory` dirs are driver-LOCAL scratch by
      // construction (this process creates them on the local disk,
      // replays two microbatches through them, and deletes them) — the
      // Hadoop-`Fs` migration that moved all USER-SUPPLIED state dirs
      // to the session's filesystem deliberately skipped them; a DFS
      // audit should too.
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_incr_stream").toString
      val (idxDir, outDir) = (s"$tmp/index", s"$tmp/out")
      val docs = t(s, dir, "documents")
      processBatch(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        idxDir, outDir, 1L)
      processBatch(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        idxDir, outDir, 2L)
      val out = readParquet(s, outDir)
        .select(col("doc_id"), col("fp"), col("batch_id"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
      graft.Util.rmrf(new java.io.File(tmp))
      out
    },

    // deterministic 2-batch replay of the streaming CDC MERGE handler:
    // the event stream split at its time midpoint arrives as two
    // microbatches of keyed change records; batch 2 folds into the
    // state table batch 1 left behind (latest-wins upserts, tombstone
    // deletes, since-last-delete change counts). Oracle = the same
    // fold expressed as one global SQL pass — valid because the
    // batches are time-ordered, which is exactly the CDC contract the
    // handler documents.
    "stream_cdc_upsert" -> { (s, dir) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_cdc_stream").toString
      val stateDir = s"$tmp/state"
      val e = events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      val cut = e.agg(((min(unix_micros(col("ts"))) +
        max(unix_micros(col("ts")))) / lit(2L)).cast(LongType))
        .head.getLong(0)
      processCdcBatch(e.filter(unix_micros(col("ts")) < cut), stateDir)
      processCdcBatch(e.filter(unix_micros(col("ts")) >= cut), stateDir)
      val out = readParquet(s, stateDir)
        .select(col("user_id"), unix_micros(col("last_ts")).as("last_us"),
          col("last_event_id"), col("last_type"), col("last_value"),
          col("n_changes"))
        .orderBy(col("user_id"))
        .localCheckpoint()
      graft.Util.rmrf(new java.io.File(tmp))
      out
    },

    // deterministic 2-batch replay of the incremental Holt handler:
    // events split at an HOUR boundary (the handler contract) arrive
    // as two microbatches folding into the persisted (level, trend)
    // state; the result must be BIT-EQUAL to the one-shot batch fold,
    // so this shares events_holt_hourly's oracle verbatim.
    "stream_holt_state" -> { (s, dir) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_holt_stream").toString
      val stateDir = s"$tmp/state"
      val e = events(s, dir)
      val hourOf = floor(unix_micros(col("ts")) / 3600000000L)
      val cut = e.agg(((min(hourOf) + max(hourOf)) / lit(2L))
        .cast(LongType)).head.getLong(0)
      processHoltBatch(e.filter(hourOf < cut), stateDir)
      processHoltBatch(e.filter(hourOf >= cut), stateDir)
      val out = readParquet(s, stateDir)
        .select(col("event_type"), col("n_hours"), col("last_n"),
          col("level"), col("trend"),
          q6(col("level") + col("trend")).as("forecast_next"))
        .orderBy(col("event_type"))
        .localCheckpoint()
      graft.Util.rmrf(new java.io.File(tmp))
      out
    },

    // all-pairs anchor for semantic incremental dedup (batch×base
    // only); τ = 0.45 matches the corpus-wide exact anchor family
    "dedup_incr_embedding_exact" -> { (s, dir) =>
      exactIncrEmbPairs(s, dir, 0.45)
        .orderBy(col("id_batch"), col("id_base"))
    },

    // the scale path: persisted band index + multiprobe batch probes +
    // exact-cosine verify (rows-only; recall audited below, precision
    // 1.0 by construction). At τ = 0.45 the 24×5 multiprobe config
    // leaves a per-pair miss ≈ 0.574²⁴ ≈ 2·10⁻⁶; at a production
    // τ = 0.9 the cheaper 8-table × 10-bit config of
    // dedup_embedding_ann_tight is the right sizing.
    "dedup_incr_embedding" -> { (s, dir) =>
      nearDupEmbeddingAgainstIndex(vecSets(s, dir, base = false),
        vecSets(s, dir, base = true), incrEmbTau(s, dir))
        .orderBy(col("id_batch"), col("id_base"))
    },

    // deterministic 2-batch replay of the SEMANTIC streaming handler
    // (the embedding analogue of stream_incr_dedup): vectors split by
    // vec_id parity arrive as two microbatches; batch 2 dedups against
    // the band index + vector state batch 1 left behind. Rows-only by
    // design — the probe is LSH (recall < 1 in principle); the audit
    // below folds the identical rule exactly and measures agreement.
    "stream_incr_embedding" -> { (s, dir) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_incr_emb_stream").toString
      val (idxDir, vecDir, outDir) = (s"$tmp/index", s"$tmp/vec", s"$tmp/out")
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id").cast(LongType).as("id"),
          graft.functions.Vectors.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", graft.functions.Vectors.norm(col("v")))
      // creation widths sized for the full replayed corpus (identity
      // ≤ 5k vectors, so every tuned recall/correctness number holds);
      // past creation the widths are owned by the persisted metadata
      // and the re-index watermark covers any growth beyond this sizing
      val (bl, kh) = Dedup.adaptiveWidths(5, vecs.count(), 5000L, 24)
      val tau = incrEmbTau(s, dir)
      processEmbeddingBatch(vecs.filter(col("id") % 2 === 0),
        idxDir, vecDir, outDir, 1L, tau, bits = bl, kHigh = kh)
      processEmbeddingBatch(vecs.filter(col("id") % 2 === 1),
        idxDir, vecDir, outDir, 2L, tau, bits = bl, kHigh = kh)
      val out = readParquet(s, outDir)
        .select(col("id"), col("batch_id"))
        .orderBy(col("id"))
        .localCheckpoint()
      graft.Util.rmrf(new java.io.File(tmp))
      out
    },

    // deterministic 2-batch replay of streaming DISTINCT-COUNT state
    // maintenance: events split by event_id parity arrive as two
    // microbatches; each merges its per-type user sketches into the
    // parquet state, and the final state answers distinct users per
    // type without ever re-scanning batch 1. Rows-only (theta
    // estimates aren't SQL-reproducible past exact mode); the audit
    // below scores the estimates against the exact distinct counts.
    "stream_incr_distinct" -> { (s, dir) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_sketch_stream").toString
      val ev = events(s, dir).select(col("event_type"), col("user_id"))
      processSketchBatch(ev.filter(col("user_id") % 2 === 0),
        "event_type", "user_id", s"$tmp/state")
      processSketchBatch(ev.filter(col("user_id") % 2 === 1),
        "event_type", "user_id", s"$tmp/state")
      val out = readParquet(s, s"$tmp/state")
        .select(col("event_type"),
          round(theta_sketch_estimate(col("sk")).cast(DoubleType), 2)
            .as("approx_users"))
        .orderBy(col("event_type"))
        .localCheckpoint()
      graft.Util.rmrf(new java.io.File(tmp))
      out
    },

    // sketch-vs-exact error of the streamed distinct-count state: max
    // relative error across groups (0.0 while groups are in exact mode)
    "audit_stream_incr_distinct" -> { (s, dir) =>
      val est = queries("stream_incr_distinct")(s, dir)
      val exact = events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, "event_type")
        .agg(count(lit(1)).as("n_groups"),
          round(max(abs(col("approx_users") - col("n_exact")) /
            col("n_exact")), 6).as("max_rel_err"))
    },

    // agreement of the streamed fold vs the exact all-pairs fold: both
    // counts plus |symmetric difference| = 0 when the LSH probe missed
    // nothing. The streamed side re-runs the same two-batch replay.
    "audit_stream_incr_embedding" -> { (s, dir) =>
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_incr_emb_audit").toString
      val (idxDir, vecDir, outDir) = (s"$tmp/index", s"$tmp/vec", s"$tmp/out")
      val vecs = t(s, dir, "embeddings")
        .select(col("vec_id").cast(LongType).as("id"),
          graft.functions.Vectors.toDouble(col("embedding")).as("v"))
        .withColumn("nrm", graft.functions.Vectors.norm(col("v")))
      val (b1, b2) = (vecs.filter(col("id") % 2 === 0),
        vecs.filter(col("id") % 2 === 1))
      val (bl, kh) = Dedup.adaptiveWidths(5, vecs.count(), 5000L, 24)
      val tau = incrEmbTau(s, dir)
      processEmbeddingBatch(b1, idxDir, vecDir, outDir, 1L, tau,
        bits = bl, kHigh = kh)
      processEmbeddingBatch(b2, idxDir, vecDir, outDir, 2L, tau,
        bits = bl, kHigh = kh)
      val streamed = readParquet(s, outDir)
        .select(col("id"), col("batch_id")).localCheckpoint()
      graft.Util.rmrf(new java.io.File(tmp))
      val exact = exactEmbeddingFold(b1, b2, tau)
      val diff = streamed.select(col("id"), col("batch_id"))
        .unionAll(exact)
        .groupBy(col("id"), col("batch_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") =!= 2)
        .agg(count(lit(1)).as("n_disagree"))
      streamed.agg(count(lit(1)).as("n_stream"))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(diff)
    },

    // SEMANTIC benchmark-contamination screen (the embedding analogue
    // of text_contamination's 8-gram screen, which paraphrases evade):
    // flag training-corpus vectors with cosine ≥ τ against any held-out
    // benchmark vector. Exact anchor: the bounded bench set broadcast
    // against ONE corpus scan — all-pairs only in bench×corpus, never
    // corpus².
    "text_contamination_semantic_exact" -> { (s, dir) =>
      import graft.functions.Vectors
      val bench = benchVecs(s, dir)
        .select(col("id").as("id_bench"), col("v").as("vb"),
          col("nrm").as("nb"))
      trainVecs(s, dir)
        .select(col("id").as("doc_id"), col("v").as("va"),
          col("nrm").as("na"))
        .crossJoin(broadcast(bench))
        .withColumn("cos",
          Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") >= 0.45)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bench_matches"),
          round(max(col("cos")), 6).as("max_cosine"))
        .orderBy(col("doc_id"))
    },

    // the 100 TB form: index the training corpus ONCE (persisted band
    // index), probe each benchmark release against it — bench probes
    // multiprobe the index, candidates exact-cosine verified, so
    // precision is 1.0 and recall the only approximation (audited
    // below). Rows-only by the LSH contract.
    "text_contamination_semantic" -> { (s, dir) =>
      nearDupEmbeddingAgainstIndex(benchVecs(s, dir), trainVecs(s, dir), 0.45)
        .groupBy(col("id_base").as("doc_id"))
        .agg(count(lit(1)).as("n_bench_matches"),
          max(col("cosine")).as("max_cosine"))
        .orderBy(col("doc_id"))
    },

    // doc-level recall of the ANN contamination screen vs the exact
    // anchor (a missed flagged doc = leaked benchmark content)
    "audit_contamination_semantic_recall" -> { (s, dir) =>
      val exact = queries("text_contamination_semantic_exact")(s, dir)
        .select(col("doc_id"))
      val ann = queries("text_contamination_semantic")(s, dir)
        .select(col("doc_id"))
      val matched = ann.join(exact, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_matched"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(matched)
        .select(col("n_exact"), col("n_matched"),
          when(col("n_exact") === 0, lit(1.0)).otherwise(
            round(col("n_matched").cast(DoubleType) / col("n_exact"), 4))
            .as("recall"))
    },

    "audit_incr_embedding_recall" -> { (s, dir) =>
      val tau = incrEmbTau(s, dir)
      val approx = nearDupEmbeddingAgainstIndex(
        vecSets(s, dir, base = false), vecSets(s, dir, base = true), tau)
        .select(col("id_batch").as("id_a"), col("id_base").as("id_b"))
      val exact = exactIncrEmbPairs(s, dir, tau)
        .select(col("id_batch").as("id_a"), col("id_base").as("id_b"))
      val matched = approx.join(exact, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_matched"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(matched)
        .select(col("n_exact"), col("n_matched"),
          when(col("n_exact") === 0, lit(1.0)).otherwise(
            round(col("n_matched").cast(DoubleType) / col("n_exact"), 4))
            .as("recall"))
    },

    // candidate pairs per batch row of the adaptive-width embedding
    // probe — the number the mixed-width policy holds ~constant across
    // corpus growth (rows-only: it measures the engine, not data)
    "audit_incr_candidates" -> { (s, dir) =>
      incrCandidateStats(vecSets(s, dir, base = false),
        vecSets(s, dir, base = true))
    },

    "audit_incr_minhash_recall" -> { (s, dir) =>
      val approx = nearDupAgainstIndex(shingleSets(s, dir, base = false),
        shingleSets(s, dir, base = true), 0.5)
        .select(col("id_batch").as("id_a"), col("id_base").as("id_b"))
      val exact = exactIncrPairs(s, dir, 0.5)
        .select(col("id_batch").as("id_a"), col("id_base").as("id_b"))
      val matched = approx.join(exact, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_matched"))
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(matched)
        .select(col("n_exact"), col("n_matched"),
          when(col("n_exact") === 0, lit(1.0)).otherwise(
            round(col("n_matched").cast(DoubleType) / col("n_exact"), 4))
            .as("recall"))
    }
  )

  def oracleSql: Map[String, String] = Map(
    // bit-equal to the one-shot fold by construction → same oracle
    "stream_holt_state" ->
      graft.ops.Warehouse.oracleSql("events_holt_hourly"),
    "incr_embedding_drift" ->
      """WITH e AS (
        |  SELECT substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < 'd' AS is_base,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |side AS (
        |  SELECT is_base, count(*) AS n,
        |    CAST(sum(CAST(sqrt(list_reduce(list_transform(range(1, len(v)+1),
        |      i -> v[i]*v[i]), (x,y) -> x+y)) AS DECIMAL(18,6))) AS DOUBLE)
        |      / count(*) AS mn
        |  FROM e GROUP BY is_base),
        |cent AS (
        |  SELECT is_base, i.i - 1 AS pos,
        |    CAST(sum(CAST(v[i.i] AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS c
        |  FROM e CROSS JOIN LATERAL (SELECT unnest(range(1, 65)) AS i) i
        |  GROUP BY is_base, i.i),
        |cosine AS (
        |  SELECT round(
        |    CAST(sum(CAST(b.c * n.c AS DECIMAL(38,18))) AS DOUBLE) /
        |    (sqrt(CAST(sum(CAST(b.c * b.c AS DECIMAL(38,18))) AS DOUBLE)) *
        |     sqrt(CAST(sum(CAST(n.c * n.c AS DECIMAL(38,18))) AS DOUBLE))), 6)
        |    AS centroid_cosine
        |  FROM (SELECT pos, c FROM cent WHERE is_base) b
        |  JOIN (SELECT pos, c FROM cent WHERE NOT is_base) n USING (pos))
        |SELECT b.n AS n_base, round(b.mn, 6) AS mean_norm_base,
        |  nb.n AS n_batch, round(nb.mn, 6) AS mean_norm_batch,
        |  c.centroid_cosine
        |FROM (SELECT * FROM side WHERE is_base) b,
        |  (SELECT * FROM side WHERE NOT is_base) nb, cosine c""".stripMargin,
    // full recompute — the merged state must equal it bit-for-bit
    // (counts/sums/max are exact integers; the mean divides two exact
    // integers in DOUBLE on both engines)
    "incr_agg_merge" ->
      """WITH d AS (SELECT doc_id, lang, source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  max(doc_id) AS max_doc_id,
        |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS mean_tokens
        |FROM d GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "dedup_incr_exact" ->
      """WITH d AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(
        |      list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd' AS is_base
        |  FROM documents),
        |idx AS (SELECT DISTINCT fp FROM d WHERE is_base)
        |SELECT doc_id, fp FROM d
        |WHERE NOT is_base AND fp NOT IN (SELECT fp FROM idx)
        |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "stream_incr_dedup" ->
      """WITH d AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(
        |      list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp,
        |    doc_id % 2 = 0 AS b1
        |  FROM documents),
        |s1 AS (SELECT doc_id, fp, CAST(1 AS BIGINT) AS batch_id
        |  FROM d WHERE b1
        |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
        |s2 AS (SELECT doc_id, fp, CAST(2 AS BIGINT) AS batch_id
        |  FROM d WHERE NOT b1 AND fp NOT IN (SELECT fp FROM s1)
        |  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1)
        |SELECT doc_id, fp, batch_id FROM (SELECT * FROM s1
        |  UNION ALL SELECT * FROM s2)
        |ORDER BY doc_id""".stripMargin,
    "stream_cdc_upsert" ->
      s"""WITH e AS (SELECT user_id, ts, event_id, event_type, value
         |  FROM events),
         |dels AS (SELECT user_id, max(ts) AS del_ts FROM e
         |  WHERE event_type = '$CdcDeleteType' GROUP BY 1),
         |last AS (SELECT user_id, ts, event_id, event_type, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM e QUALIFY rn = 1),
         |cnt AS (SELECT e.user_id, count(*) AS n_changes
         |  FROM e LEFT JOIN dels d ON d.user_id = e.user_id
         |  WHERE d.del_ts IS NULL OR e.ts > d.del_ts GROUP BY 1)
         |SELECT l.user_id, epoch_us(l.ts) AS last_us,
         |  l.event_id AS last_event_id, l.event_type AS last_type,
         |  l.value AS last_value, CAST(c.n_changes AS BIGINT) AS n_changes
         |FROM last l JOIN cnt c ON c.user_id = l.user_id
         |WHERE l.event_type <> '$CdcDeleteType'
         |ORDER BY l.user_id""".stripMargin,
    "dedup_incr_embedding_exact" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < 'd' AS is_base
        |  FROM embeddings)
        |SELECT a.vec_id AS id_batch, b.vec_id AS id_base,
        |  round(list_reduce(list_transform(range(1, len(a.v)+1),
        |      i -> a.v[i]*b.v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(range(1, len(a.v)+1),
        |        i -> a.v[i]*a.v[i]), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(range(1, len(b.v)+1),
        |        i -> b.v[i]*b.v[i]), (x,y) -> x+y))), 6) AS cosine
        |FROM e a JOIN e b ON NOT a.is_base AND b.is_base
        |WHERE list_reduce(list_transform(range(1, len(a.v)+1),
        |      i -> a.v[i]*b.v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(range(1, len(a.v)+1),
        |        i -> a.v[i]*a.v[i]), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(range(1, len(b.v)+1),
        |        i -> b.v[i]*b.v[i]), (x,y) -> x+y))) >= 0.45
        |ORDER BY id_batch, id_base""".stripMargin,
    "text_contamination_semantic_exact" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (
        |  SELECT c.vec_id AS doc_id,
        |    list_reduce(list_transform(range(1, len(c.v)+1),
        |        i -> c.v[i]*b.v[i]), (x,y) -> x+y)
        |      / (sqrt(list_reduce(list_transform(range(1, len(c.v)+1),
        |          i -> c.v[i]*c.v[i]), (x,y) -> x+y))
        |       * sqrt(list_reduce(list_transform(range(1, len(b.v)+1),
        |          i -> b.v[i]*b.v[i]), (x,y) -> x+y))) AS cos
        |  FROM e c JOIN e b
        |    ON c.vec_id % 100 <> 7 AND b.vec_id % 100 = 7)
        |SELECT doc_id, count(*) AS n_bench_matches,
        |  round(max(cos), 6) AS max_cosine
        |FROM p WHERE cos >= 0.45
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_incr_jaccard_exact" ->
      """WITH g AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, length(text)-3), i -> substr(text, i, 5))) AS sh,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'd' AS is_base
        |  FROM documents)
        |SELECT a.doc_id AS id_batch, b.doc_id AS id_base,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        |FROM g a JOIN g b ON NOT a.is_base AND b.is_base
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        |ORDER BY id_batch, id_base""".stripMargin
  )
}
