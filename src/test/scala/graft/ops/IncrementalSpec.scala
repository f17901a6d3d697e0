package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Specs for incremental (batch-vs-index) dedup and the iterative graph
  * operators, run on the driver's sf0.001 tables. */
class IncrementalSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("incremental holt: 3-batch replay bit-equals the one-shot fold") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_holt_spec").toString
    val stateDir = s"$tmp/state"
    val e = Q.events(spark, sf)
    val hourOf = floor(unix_micros(col("ts")) / 3600000000L)
    val bounds = e.agg(min(hourOf).cast("long"), max(hourOf).cast("long"))
      .head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    Incremental.processHoltBatch(e.filter(hourOf < c1), stateDir)
    Incremental.processHoltBatch(
      e.filter(hourOf >= c1 && hourOf < c2), stateDir)
    Incremental.processHoltBatch(e.filter(hourOf >= c2), stateDir)
    val streamed = spark.read.parquet(stateDir)
      .select(col("event_type"), col("n_hours"), col("last_n"),
        col("level"), col("trend"))
      .orderBy(col("event_type")).collect().toSeq
    val batch = Warehouse.queries("events_holt_hourly")(spark, sf)
      .select(col("event_type"), col("n_hours"), col("last_n"),
        col("level"), col("trend"))
      .orderBy(col("event_type")).collect().toSeq
    assert(streamed == batch)
    // an empty microbatch is a no-op on the state
    Incremental.processHoltBatch(e.filter(lit(false)), stateDir)
    val after = spark.read.parquet(stateDir)
      .select(col("event_type"), col("n_hours"), col("last_n"),
        col("level"), col("trend"))
      .orderBy(col("event_type")).collect().toSeq
    assert(after == streamed)
    graft.Util.rmrf(new java.io.File(tmp))
  }

  test("incremental exact: survivors are novel vs index and unique in batch") {
    import spark.implicits._
    val base = Seq((1L, "a b c"), (2L, "d e f")).toDF("id", "text")
    val batch = Seq(
      (10L, "c b a"),   // token-set dup of base doc 1 → dropped
      (11L, "x y z"),   // novel
      (12L, "z y x"),   // within-batch dup of 11 → dropped (11 first)
      (13L, "p q")      // novel
    ).toDF("id", "text")
    val idx = Incremental.fingerprintIndex(base, "text")
    val out = Incremental.dedupAgainstIndex(batch, idx, "id", "text")
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(11L, 13L))
  }

  test("cdc apply: latest wins, tombstone drops, delete resets count") {
    import spark.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_spec")
      .toString + "/state"
    // batch 1 — key 1: up, delete, up (count restarts at 1);
    // key 2: two upserts (count 2); key 3: delete only (tombstoned)
    Incremental.processCdcBatch(Seq(
      (1L, ts(10), 100L, "view", 1.0),
      (1L, ts(20), 101L, "error", 0.0),
      (1L, ts(30), 102L, "click", 3.0),
      (2L, ts(10), 103L, "view", 5.0),
      (2L, ts(40), 104L, "view", 6.0),
      (3L, ts(15), 105L, "error", 0.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value"), tmp)
    val s1 = spark.read.parquet(tmp)
      .select($"user_id", $"last_event_id", $"n_changes")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(s1.toSeq == Seq((1L, 102L, 1L), (2L, 104L, 2L)))
    // batch 2 — key 1: delete then re-insert (count restarts at 1);
    // key 2: untouched (state carries over); key 3: re-inserted after
    // batch-1 tombstone (fresh count); key 4: new
    Incremental.processCdcBatch(Seq(
      (1L, ts(50), 200L, "error", 0.0),
      (1L, ts(60), 201L, "view", 9.0),
      (3L, ts(55), 202L, "signup", 2.0),
      (4L, ts(50), 203L, "view", 7.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value"), tmp)
    val s2 = spark.read.parquet(tmp)
      .select($"user_id", $"last_event_id", $"last_value", $"n_changes")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(s2.toSeq == Seq((1L, 201L, 9.0, 1L), (2L, 104L, 6.0, 2L),
      (3L, 202L, 2.0, 1L), (4L, 203L, 7.0, 1L)))
    // same-timestamp tie breaks on event_id (the CDC sequence column)
    Incremental.processCdcBatch(Seq(
      (4L, ts(70), 301L, "view", 1.0),
      (4L, ts(70), 300L, "view", 2.0))
      .toDF("user_id", "ts", "event_id", "event_type", "value"), tmp)
    val s3 = spark.read.parquet(tmp).filter($"user_id" === 4L)
      .select($"last_event_id", $"n_changes")
      .as[(Long, Long)].collect()
    assert(s3.toSeq == Seq((301L, 3L)))
    graft.Util.rmrf(new java.io.File(tmp).getParentFile)
  }

  test("embedding index re-index watermark: rebuilds wider when the corpus doubles") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_reindex_spec").toString
    val (idxDir, vecDir, outDir) = (s"$tmp/index", s"$tmp/vec", s"$tmp/out")
    // one-hot unit vectors on distinct axes: pairwise cosine 0, so
    // nothing dedups until we plant an exact duplicate
    def vecs(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map { id =>
        val v = Array.fill(64)(0.0); v((id % 64).toInt) = 1.0
        (id, v, 1.0)
      }.toDF("id", "v", "nrm")
    val tau = 0.8
    // refN = 4 so the adaptive width moves at unit-test sizes;
    // bits = 0 → creation sizes the width from the arriving batch
    Incremental.processEmbeddingBatch(vecs(0L to 9L), idxDir, vecDir,
      outDir, 1L, tau, bits = 0, refN = 4L)
    val m1 = Incremental.readEmbIndexMeta(spark, idxDir).get
    assert(m1.version == 0 && m1.designN == 10L)
    // creation sized the width for the arriving 10 > refN vectors
    assert(m1.bits == Dedup.adaptiveBits(5, 10L, 4L) && m1.bits > 5)
    // batch 2 pushes the corpus past 2× designN → rebuild, wider, v1
    Incremental.processEmbeddingBatch(vecs(10L to 21L), idxDir, vecDir,
      outDir, 2L, tau, bits = 0, refN = 4L)
    val m2 = Incremental.readEmbIndexMeta(spark, idxDir).get
    assert(m2.version == 1 && m2.bits > m1.bits && m2.designN == 22L,
      s"watermark did not rebuild: $m2")
    assert(new java.io.File(s"$idxDir/v1").exists)
    assert(!new java.io.File(s"$idxDir/v0").exists,
      "stale index version not dropped")
    // the REBUILT index still dedups: id 64 duplicates id 0's axis
    Incremental.processEmbeddingBatch(vecs(Seq(22L, 23L, 64L)), idxDir,
      vecDir, outDir, 3L, tau, bits = 0, refN = 4L)
    val out = spark.read.parquet(outDir)
      .select($"id", $"batch_id").as[(Long, Long)].collect().toMap
    assert(!out.contains(64L),
      "duplicate slipped past the rebuilt index")
    assert(out.keySet == (0L to 23L).toSet)
    assert(out(22L) == 3L && out(9L) == 1L && out(21L) == 2L)
    graft.Util.rmrf(new java.io.File(tmp))
  }

  test("legacy unversioned embedding index migrates to v0 instead of re-emitting dups") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_legacy_idx_spec").toString
    val (idxDir, vecDir, outDir) = (s"$tmp/index", s"$tmp/vec", s"$tmp/out")
    def vecs(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map { id =>
        val v = Array.fill(64)(0.0); v((id % 64).toInt) = 1.0
        (id, v, 1.0)
      }.toDF("id", "v", "nrm")
    Incremental.processEmbeddingBatch(vecs(0L to 9L), idxDir, vecDir,
      outDir, 1L, 0.8)
    // legacy-ize: band rows directly in indexDir, no meta, no v0 —
    // the pre-versioning on-disk layout
    val idx = new java.io.File(idxDir)
    new java.io.File(idx, "v0").listFiles.foreach(f =>
      assert(f.renameTo(new java.io.File(idx, f.getName))))
    assert(new java.io.File(idx, "v0").delete())
    assert(new java.io.File(idx, "_graft_index_meta.json").delete())
    // adaptive sizing cannot recover the legacy width → loud failure,
    // and the failed call must not have touched the layout
    intercept[IllegalArgumentException] {
      Incremental.processEmbeddingBatch(vecs(Seq(10L)), idxDir, vecDir,
        outDir, 2L, 0.8, bits = 0)
    }
    assert(!new java.io.File(idx, "v0").exists)
    // with the legacy width named, the rows are adopted: id 64 shares
    // id 0's axis and must still be recognized as a duplicate
    Incremental.processEmbeddingBatch(vecs(Seq(10L, 64L)), idxDir, vecDir,
      outDir, 2L, 0.8)
    val m = Incremental.readEmbIndexMeta(spark, idxDir).get
    assert(m.version == 0 && m.bits == 5, s"migration meta wrong: $m")
    val out = spark.read.parquet(outDir)
      .select($"id", $"batch_id").as[(Long, Long)].collect().toMap
    assert(!out.contains(64L), "migrated index failed to dedup")
    assert(out(10L) == 2L && out.keySet == (0L to 10L).toSet)
    // nothing but the meta and the version dir remains at top level
    val top = graft.Util.Fs.listNames(spark, idxDir).toSet
    assert(top == Set("_graft_index_meta.json", "v0"), top.toString)
    graft.Util.rmrf(new java.io.File(tmp))
  }

  test("creation crash window: committed meta width wins over re-derivation; stale version dirs are GCed") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_crashwin_spec").toString
    val (idxDir, vecDir, outDir) = (s"$tmp/index", s"$tmp/vec", s"$tmp/out")
    def vecs(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map { id =>
        val v = Array.fill(64)(0.0); v((id % 64).toInt) = 1.0
        (id, v, 1.0)
      }.toDF("id", "v", "nrm")
    // simulate a creation that died after the meta commit but before
    // the first band append: meta fixes width 7, v0 absent
    Incremental.writeEmbIndexMeta(spark, idxDir,
      Incremental.EmbIndexMeta(0, 7, 5000L))
    // the replay asks for adaptive sizing (bits = 0), which would have
    // re-derived a DIFFERENT width — the committed 7 must win
    Incremental.processEmbeddingBatch(vecs(0L to 9L), idxDir, vecDir,
      outDir, 1L, 0.8, bits = 0)
    val m = Incremental.readEmbIndexMeta(spark, idxDir).get
    assert(m.bits == 7, s"replay re-derived the width: $m")
    // plant a stale version dir (rebuild crash between meta flip and
    // delete); the next batch entry must collect it
    val stale = new java.io.File(s"$idxDir/v3")
    assert(stale.mkdirs())
    java.nio.file.Files.write(stale.toPath.resolve("junk"),
      "x".getBytes)
    Incremental.processEmbeddingBatch(vecs(Seq(10L, 64L)), idxDir, vecDir,
      outDir, 2L, 0.8, bits = 0)
    assert(!stale.exists, "stale version dir not GCed")
    val out = spark.read.parquet(outDir)
      .select($"id", $"batch_id").as[(Long, Long)].collect().toMap
    assert(!out.contains(64L) && out.keySet == (0L to 10L).toSet)
    graft.Util.rmrf(new java.io.File(tmp))
  }

  test("embedding index state dirs resolve through Hadoop: file:// URIs work end-to-end") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_uri_idx_spec").toString
    // explicit-scheme URIs: java.io.File("file:///…") mangles these
    // (it sees a relative path named "file:"), so this passing proves
    // the state machinery resolves paths the way Spark itself does
    val (idxDir, vecDir, outDir) =
      (s"file://$tmp/index", s"file://$tmp/vec", s"file://$tmp/out")
    def vecs(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map { id =>
        val v = Array.fill(64)(0.0); v((id % 64).toInt) = 1.0
        (id, v, 1.0)
      }.toDF("id", "v", "nrm")
    Incremental.processEmbeddingBatch(vecs(0L to 9L), idxDir, vecDir,
      outDir, 1L, 0.8)
    Incremental.processEmbeddingBatch(vecs(Seq(10L, 64L)), idxDir, vecDir,
      outDir, 2L, 0.8)
    val m = Incremental.readEmbIndexMeta(spark, idxDir).get
    assert(m.version == 0 && m.bits == 5)
    val out = spark.read.parquet(outDir)
      .select($"id", $"batch_id").as[(Long, Long)].collect().toMap
    assert(!out.contains(64L), "URI-addressed index failed to dedup")
    assert(out.keySet == (0L to 10L).toSet)
    graft.Util.rmrf(new java.io.File(tmp))
  }

  test("incremental minhash finds the exact batch-vs-base pairs at sf0.001") {
    val approx = Incremental.queries("dedup_incr_minhash")(spark, sf)
      .select(col("id_batch"), col("id_base")).collect().toSet
    // exact anchor from the registered query
    val exact = Incremental.queries("dedup_incr_jaccard_exact")(spark, sf)
      .select(col("id_batch"), col("id_base")).collect().toSet
    assert(approx.subsetOf(exact), "LSH path must be precision-1.0")
    val recall = Incremental.queries("audit_incr_minhash_recall")(spark, sf)
      .head.getAs[Double]("recall")
    assert(recall >= 0.95, s"recall $recall below the audited floor")
  }

  test("pagerank: ranks sum to ~1 and hubs outrank leaves") {
    import spark.implicits._
    // star: hub h connected to 5 spokes + a detached pair
    val edges0 = (1 to 5).map(i => ("h", s"s$i")) :+ (("x", "y"))
    val edges = edges0.toDF("a", "b")
    val e = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    val base = pinned
    val ranks = Graph.pageRank(e).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pinned <= base + 1, "only the result may stay pinned")
    val total = ranks.values.sum
    assert(math.abs(total - 1.0) < 1e-6, s"rank mass $total drifted")
    assert(ranks("h") > ranks("s1") * 3,
      "hub must dominate its spokes")
    assert(math.abs(ranks("x") - ranks("y")) < 1e-9,
      "symmetric pair must tie")
    assert(ranks("h") > ranks("x"), "hub must outrank detached pair")
  }

  test("pagerank on a directed edge list keeps its sink and follows the " +
      "recurrence") {
    import spark.implicits._
    // node 5 is a sink: it receives rank from 2 and 4 but is never a src
    val edges = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 2L -> 5L, 3L -> 1L,
      3L -> 4L, 4L -> 5L)
    // the second case adds node 6, a source: it has no in-edge. The
    // reference counts src ∪ dst in n, keeps a source at its teleport
    // share and passes nothing on from a sink.
    Seq(edges, edges :+ (6L -> 1L)).foreach { es =>
      val got = Graph.pageRank(es.toDF("src", "dst")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = PageRankReference(es, None, Graph.Iterations)
      assert(got.keySet == want.keySet)
      got.foreach { case (v, r) =>
        assert(math.abs(r - want(v)) < 1e-12, s"node $v: $r vs ${want(v)}")
      }
    }
  }

  test("data profile reports exact nulls and distincts") {
    import spark.implicits._
    val rows = Warehouse.queries("q_data_profile")(spark, sf).collect()
    assert(rows.length == 4)
    val byCol = rows.map(r => r.getString(0) -> r).toMap
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val n = orders.count()
    assert(byCol("o_orderkey").getAs[Long]("n_rows") == n)
    assert(byCol("o_orderkey").getAs[Long]("n_distinct") == n)
    assert(byCol("o_orderkey").getAs[Long]("n_null") == 0L)
    assert(byCol("o_orderstatus").getAs[Long]("n_distinct") <= 3L)
  }

  test("adaptiveWidths: identity below refN, continuous above, occupancy within 2x of target") {
    val (refN, tables) = (5000L, 24)
    // identity at and below the tuned reference — every audited
    // recall/correctness number at the shipped SFs is untouched
    for (n <- Seq(1L, 100L, 2000L, 5000L))
      assert(Dedup.adaptiveWidths(5, n, refN, tables) == (5, 0))
    // boundary: both policies jump to base+1 just past refN
    assert(Dedup.adaptiveWidths(5, refN + 1, refN, tables) == (6, 0))
    assert(Dedup.adaptiveBits(5, refN + 1, refN) == 6)
    var prevW = 0.0
    for (n <- 5001L to 80000L by 37L) {
      val (bl, kh) = Dedup.adaptiveWidths(5, n, refN, tables)
      assert(kh >= 0 && kh < tables, s"kHigh $kh out of range at n=$n")
      // the realized real-valued width is monotone non-decreasing
      val w = bl + kh.toDouble / tables
      assert(w >= prevW - 1e-9, s"width regressed at n=$n: $prevW -> $w")
      prevW = w
      // expected total occupancy Σ_t n/2^(b_t) stays within a 1/tables
      // rounding step of the constant target refN/2^(base+1) per table
      // — the 2× oscillation of the integer policy is gone
      val occ = ((tables - kh) * n.toDouble / (1L << bl) +
        kh * n.toDouble / (1L << (bl + 1))) / tables
      val target = refN.toDouble / (1 << 6)
      assert(occ > target * 0.9 && occ < target * 1.1,
        s"occupancy $occ off target $target at n=$n (bl=$bl kh=$kh)")
      // never wider than one bit past the integer policy, never
      // narrower than it minus one full bit (candidates strictly ≤)
      val ib = Dedup.adaptiveBits(5, n, refN)
      assert(w >= ib - 1e-9 && w <= ib + 1.0 + 1e-9,
        s"width $w vs integer $ib at n=$n")
    }
  }

  test("mixed-width band index: narrow tables are the wide bucket's low bits") {
    import spark.implicits._
    val v = (0L to 40L).map { id =>
      val arr = Array.tabulate(64)(i =>
        math.sin(id * 37.0 + i * 1.7)) // dense, deterministic
      (id, arr, 1.0)
    }.toDF("id", "v", "nrm")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select($"tb", $"id", $"bk").as[(Int, Long, Int)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
    val mixed = keyed(Incremental.embeddingBandIndex(v, 4, 5, 64, kHigh = 2))
    val wide = keyed(Incremental.embeddingBandIndex(v, 4, 6, 64))
    val narrow = keyed(Incremental.embeddingBandIndex(v, 4, 5, 64))
    assert(mixed.nonEmpty && mixed.keySet == wide.keySet)
    mixed.foreach { case ((tb, id), bk) =>
      if (tb < 2) assert(bk == wide((tb, id)),
        s"wide table $tb must keep all 6 bits")
      else assert(bk == narrow((tb, id)),
        s"narrow table $tb must equal the 5-bit bucket")
      // and the 5-bit bucket IS the 6-bit bucket masked — the
      // width-independent hyperplane property the one-pass hashing
      // of mixed widths relies on
      assert(narrow((tb, id)) == (wide((tb, id)) & 31))
    }
  }

  test("mixed-width creation: meta round-trips k_high and the index dedups") {
    import spark.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_mixedw_spec").toString
    val (idxDir, vecDir, outDir) = (s"$tmp/index", s"$tmp/vec", s"$tmp/out")
    def vecs(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.map { id =>
        val v = Array.fill(64)(0.0); v((id % 64).toInt) = 1.0
        (id, v, 1.0)
      }.toDF("id", "v", "nrm")
    // refN = 7, 10 novel vectors → bStar = 6 + log2(10/7) ≈ 6.515:
    // a genuinely fractional width (kHigh strictly inside (0, tables))
    val expected = Dedup.adaptiveWidths(5, 10L, 7L, 24)
    assert(expected._2 > 0 && expected._2 < 24, s"fixture not fractional: $expected")
    Incremental.processEmbeddingBatch(vecs(0L to 9L), idxDir, vecDir,
      outDir, 1L, 0.8, bits = 0, refN = 7L)
    val m = Incremental.readEmbIndexMeta(spark, idxDir).get
    assert((m.bits, m.kHigh) == expected, s"creation widths wrong: $m")
    // batch 2 probes the mixed-width index: id 64 shares id 0's axis
    // (cosine 1) and must be caught; id 10 is novel
    Incremental.processEmbeddingBatch(vecs(Seq(10L, 64L)), idxDir, vecDir,
      outDir, 2L, 0.8, bits = 0, refN = 7L)
    val out = spark.read.parquet(outDir)
      .select($"id", $"batch_id").as[(Long, Long)].collect().toMap
    assert(!out.contains(64L), "mixed-width index failed to dedup")
    assert(out.keySet == (0L to 10L).toSet)
    // legacy meta without k_high reads back as uniform width
    Incremental.writeEmbIndexMeta(spark, s"$tmp/legacy",
      Incremental.EmbIndexMeta(0, 7, 5000L))
    val legacyJson = graft.Util.Fs.readUtf8(spark,
      s"$tmp/legacy/_graft_index_meta.json")
      .replaceAll(""""k_high":\d+,""", "")
    graft.Util.Fs.writeUtf8Atomic(spark,
      s"$tmp/legacy/_graft_index_meta.json", legacyJson)
    val lm = Incremental.readEmbIndexMeta(spark, s"$tmp/legacy").get
    assert(lm == Incremental.EmbIndexMeta(0, 7, 5000L, 0))
    graft.Util.rmrf(new java.io.File(tmp))
  }

  test("incr candidate stats: sane shape at sf0.001 (identity widths)") {
    val r = Incremental.queries("audit_incr_candidates")(spark, sf).head()
    assert(r.getAs[Int]("bits_low") == 5 && r.getAs[Int]("k_high") == 0)
    assert(r.getAs[Long]("n_batch") > 0 && r.getAs[Long]("n_base") > 0)
    assert(r.getAs[Long]("n_candidates") > 0)
    assert(r.getAs[Double]("cand_per_batch_row") > 0.0)
  }

  test("writeUtf8Atomic sweeps stale tmp orphans and leaves one file") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_fs_spec").toFile
    val dst = new java.io.File(tmp, "_meta.json")
    // a crashed prior writer left a uniquely-suffixed orphan: without
    // the sweep it would live forever and perturb Fs.fingerprint()
    val orphan = new java.io.File(tmp, "_meta.json.tmp-deadbeef")
    java.nio.file.Files.writeString(orphan.toPath, "stale")
    // Hadoop's ChecksumFileSystem writes .crc sidecars on local disk —
    // not ours to assert on, so compare the non-sidecar names only
    def names = tmp.listFiles.map(_.getName).filterNot(_.endsWith(".crc")).toSet
    graft.Util.Fs.writeUtf8Atomic(spark, dst.getPath, "v1")
    assert(!orphan.exists, "stale orphan must be swept")
    assert(names == Set("_meta.json"), s"unexpected files: $names")
    assert(graft.Util.Fs.readUtf8(spark, dst.getPath) == "v1")
    // overwrite path still atomic-replaces and leaves no temp behind
    graft.Util.Fs.writeUtf8Atomic(spark, dst.getPath, "v2")
    assert(names == Set("_meta.json"), s"unexpected files: $names")
    assert(graft.Util.Fs.readUtf8(spark, dst.getPath) == "v2")
    graft.Util.rmrf(tmp)
  }
}
