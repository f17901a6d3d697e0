package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite
import graft.functions.Vectors

class OpsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("cosine / dot / l2 match hand-computed values") {
    val df = Seq(
      (1L, Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),
      (2L, Array(1.0, 2.0, 2.0), Array(1.0, 2.0, 2.0)),
      (3L, Array(3.0, 4.0, 0.0), Array(6.0, 8.0, 0.0))
    ).toDF("id", "a", "b")
    val r = df.select($"id", Vectors.dot($"a", $"b").as("dot"),
      Vectors.cosine($"a", $"b").as("cos"),
      Vectors.l2sq($"a", $"b").as("d2"))
      .orderBy($"id").collect()
    assert(r(0).getDouble(1) == 0.0 && r(0).getDouble(2) == 0.0)
    assert(r(1).getDouble(2) == 1.0 && r(1).getDouble(3) == 0.0)
    assert(math.abs(r(2).getDouble(2) - 1.0) < 1e-12)
    assert(r(2).getDouble(1) == 50.0 && r(2).getDouble(3) == 25.0)
  }

  test("PQ: handcrafted codebook encodes/prices exactly; top-k scores are exact cosines") {
    // 2 subspaces × 2 centroids over dim 4 — argmin and ADC are exact
    val cb = Array(
      Array(Array(0.0, 0.0), Array(10.0, 10.0)), // subspace 0
      Array(Array(0.0, 5.0), Array(5.0, 0.0)))   // subspace 1
    val df = Seq(
      (1L, Array(0.1, -0.1, 0.2, 4.8)), // → codes (0, 0)
      (2L, Array(9.0, 11.0, 4.9, 0.0))  // → codes (1, 1)
    ).toDF("vec_id", "v")
    val enc = df.select($"vec_id",
        Similarity.pqEncode($"v", cb).as("codes"))
      .orderBy($"vec_id").collect()
    assert(enc(0).getSeq[Int](1) == Seq(0, 0))
    assert(enc(1).getSeq[Int](1) == Seq(1, 1))
    val q = Seq((7L, Array(0.0, 0.0, 5.0, 0.0))).toDF("query_id", "qv")
    val dt = q.select(Similarity.pqDistTable($"qv", cb).as("dt"))
      .head.getSeq[scala.collection.Seq[Double]](0)
    assert(dt(0) == Seq(0.0, 200.0) && dt(1) == Seq(50.0, 0.0))
    // end-to-end on a trained codebook: every returned cosine equals
    // the brute-force cosine for that (query, neighbor) pair
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 40L).map(i =>
        (i, Array.fill(4)(rnd.nextDouble() * (if (i % 2 == 0) 1 else -1))))
      .toDF("vec_id", "v")
    val probes = corpus.filter($"vec_id" <= 2)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val pq = Similarity.pqTopK(corpus, probes, 3, m = 2, kk = 2,
      kCand = 10, dim = 4)
    val bf = Similarity.bruteForceTopK(corpus, probes, 3)
    val joined = pq.select($"query_id", $"neighbor_id", $"cosine")
      .join(bf.select($"query_id", $"neighbor_id",
        $"cosine".as("bf_cos")), Seq("query_id", "neighbor_id"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getDouble(2) == r.getDouble(3)))
  }

  test("IVF-PQ with no pruning degenerates to exact brute force") {
    // nprobe = clusters and an unbounded shortlist remove both
    // approximations; residual encoding must then change nothing
    val rnd = new scala.util.Random(11)
    val corpus = (1L to 30L).map(i =>
        (i, Array.fill(4)(rnd.nextDouble() - 0.5)))
      .toDF("vec_id", "v")
    val probes = corpus.filter($"vec_id" <= 2)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val ivfpq = Similarity.ivfPqTopK(corpus, probes, 3, clusters = 2,
        nprobe = 2, m = 2, kk = 4, kCand = 100, dim = 4)
      .select($"query_id", $"neighbor_id", $"rank", $"cosine")
      .orderBy($"query_id", $"rank").collect()
    val bf = Similarity.bruteForceTopK(corpus, probes, 3)
      .select($"query_id", $"neighbor_id", $"rank", $"cosine")
      .orderBy($"query_id", $"rank").collect()
    assert(ivfpq.toSeq == bf.toSeq)
  }

  test("snapshot diff classifies added/removed/changed and drops unchanged") {
    val old = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0),
      (5L, null.asInstanceOf[String], 50.0)).toDF("k", "s", "p")
    val nw = Seq((1L, "A", 10.0), (2L, "B", 25.0), (4L, "D", 40.0),
      (5L, null.asInstanceOf[String], 50.0)).toDF("k", "s", "p")
    val r = Warehouse.snapshotDiff(old, nw, "k", Seq("s", "p"))
      .orderBy($"k").collect()
    // 1 unchanged and 5 (null-equal via <=>) dropped; 2 changed,
    // 3 removed, 4 added
    assert(r.map(x => (x.getLong(0), x.getString(5))).toSeq ==
      Seq((2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("substring spans: repeated runs merge into maximal spans; short docs drop out") {
    // doc 1 and 2 share tokens 1..15 (a 15-token run → windows at
    // positions 1..6 for n=10, one merged span of 15 tokens); doc 2
    // ALSO repeats the run at its tail, far enough (gap > n) to be a
    // second island; doc 3 is unique; doc 4 is shorter than n
    val run = (1 to 15).map(i => s"t$i").mkString(" ")
    val mid = (50 to 75).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, run + " " + (100 to 120).map(i => s"a$i").mkString(" ")),
      (2L, run + " " + mid + " " + run),
      (3L, (200 to 240).map(i => s"b$i").mkString(" ")),
      (4L, "x y z")
    ).toDF("doc_id", "text")
    val r = Dedup.substringSpans(docs).orderBy($"doc_id").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // doc 1: one 15-token span
    assert(r(0).getLong(1) == 1L && r(0).getLong(2) == 15L &&
      r(0).getInt(3) == 15)
    // doc 2: the run appears at head and tail → two islands, 30 dup
    // tokens, each span 15 tokens long
    assert(r(1).getLong(1) == 2L && r(1).getLong(2) == 30L &&
      r(1).getInt(3) == 15)
  }

  test("minhash near-dup finds a planted duplicate with exact jaccard") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " x y"
    val other = (100 to 140).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other))
      .toDF("doc_id", "text")
      .select($"doc_id", Text.wordShingles($"text", 3).as("sh"))
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "sh", 0.3)
      .collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getLong(0) == 1L && p.getLong(1) == 2L)
    // shingle sets: base has 38 3-shingles; nearDup shares 36 of them
    val jac = p.getDouble(2)
    assert(jac > 0.5 && jac < 1.0)
  }

  test("simhash: identical text → hamming 0; perturbation small") {
    val a = (1 to 50).map(i => s"w$i").mkString(" ")
    val b = a.replace("w50", "zz")
    val docs = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs((1L, 3L)) > 0 && pairs((1L, 3L)) <= 16)
  }

  test("exact dedup keeps the first row per key") {
    val df = Seq((3L, "k1"), (1L, "k1"), (2L, "k2"), (5L, "k2"))
      .toDF("id", "k")
    val kept = Dedup.exact(df, Seq($"k"), $"id")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L))
  }

  test("LSH top-k results are a subset of brute-force candidates with correct ranks") {
    val dir = "/root/testdata/sf0.001"
    val c = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
    val probes = c.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val exact = Similarity.bruteForceTopK(c, probes, 50)
      .select($"query_id", $"neighbor_id", $"cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val approx = Similarity.lshTopK(c, probes, 5).collect()
    assert(approx.nonEmpty)
    // every LSH result must carry the exact cosine the brute-force path
    // computed for the same pair (when within its top-50)
    approx.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exact.get(key).foreach(c => assert(c == r.getDouble(3)))
    }
  }

  test("IVF top-k scores match brute-force for the pairs it returns") {
    val dir = "/root/testdata/sf0.001"
    val c = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
    val probes = c.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val exact = Similarity.bruteForceTopK(c, probes, 499)
      .select($"query_id", $"neighbor_id", $"cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Similarity.ivfTopK(c, probes, 5).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val cos = exact((r.getLong(0), r.getLong(1)))
      assert(cos == r.getDouble(3))
    }
  }

  test("SimHashAgg equals the composed 64-aggregate formulation") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fast = Dedup.simhashes(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slow = Dedup.simhashesComposed(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == slow)
    assert(fast.nonEmpty)
  }

  test("LshBuckets expression equals the composed per-table bucketId") {
    import org.apache.spark.sql.GraftBridge
    val c = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", Vectors.toDouble($"embedding").as("v"))
    val planes = Similarity.hyperplanes(Similarity.Tables, Similarity.Bits, 64)
    val composed = c.select($"vec_id" +: planes.zipWithIndex.map {
        case (tp, tb) => Similarity.bucketId($"v", tp).as(s"b$tb")
      }: _*).collect()
      .map(r => r.getLong(0) -> (0 until Similarity.Tables).map(i => r.getInt(i + 1)))
      .toMap
    val fused = c.select($"vec_id", GraftBridge.column(
        graft.functions.LshBuckets(GraftBridge.expression($"v"),
          Similarity.Tables, Similarity.Bits, 64)).as("bk")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toIndexedSeq).toMap
    assert(fused == composed)
  }

  test("embedding ANN equals the exact all-pairs result (recall 1.0), no cross join") {
    // both SFs: the ANN query shares the exact query's oracle, so the
    // equality must hold wherever the driver might run Verify
    Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val exact = Dedup.queries("dedup_embedding_cosine")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val ann = Dedup.queries("dedup_embedding_ann")(spark, dir)
      val got = ann.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact.nonEmpty)
      assert((exact -- got).isEmpty, s"$dir: ANN missed pairs: ${exact -- got}")
      assert((got -- exact).isEmpty, s"$dir: ANN extra pairs: ${got -- exact}")
      // plan property checked on the lazy builder: the registered query
      // materializes (localCheckpoint), which hides the join from its plan
      val (lazyPlan, handle) = Dedup.embeddingNearDupPlan(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", 0.45, 48, 5, 64)
      val plan = lazyPlan.queryExecution.executedPlan.toString
      handle.unpersist(blocking = false)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"ANN plan contains a cross/theta join:\n${plan.take(1200)}")
    }
  }

  test("containment prefix-filter path equals the exact all-pairs result, no cross join") {
    // sf0.01 only (the driver's Verify SF): the exact anchor is O(n²)
    // with per-pair set intersections — minutes at sf0.1, too slow for a
    // unit gate. sf0.1 equality was measured once out-of-band: 566/566
    // pairs, recall 1.0 (audit_containment_recall tracks it per round).
    Seq("/root/testdata/sf0.01").foreach { dir =>
      val exact = Dedup.queries("dedup_containment")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", graft.ops.Text.charShingles($"text", 5).as("sh"))
      val approx = Dedup.containmentPairs(docs, "doc_id", "sh", 0.8)
      val got = approx
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(exact.nonEmpty)
      assert((exact -- got).isEmpty, s"$dir: prefix filter missed: ${exact -- got}")
      assert((got -- exact).isEmpty, s"$dir: prefix filter extra: ${got -- exact}")
      val (lazyPlan, handle) = Dedup.containmentPlan(docs, "doc_id", "sh", 0.8,
        materializeCands = false)
      val plan = lazyPlan.queryExecution.executedPlan.toString
      handle.unpersist(blocking = false)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$dir: containment plan contains a cross/theta join:\n${plan.take(1200)}")
    }
  }

  test("sharded sequence packing: every doc starts inside its bin's token span") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val budget = 4096L
    val packed = TextStats.packSequences(docs, "text", "doc_id", budget, 8)
      .collect()
    assert(packed.nonEmpty)
    packed.foreach { r =>
      val bin = r.getAs[Long]("bin")
      val start = r.getAs[Long]("bin_start")
      assert(start >= bin * budget && start < (bin + 1) * budget,
        s"doc ${r.get(0)} starts at $start outside bin $bin")
    }
    // packing must cover every doc exactly once
    assert(packed.length == docs.count())
  }

  test("components: empty pair set returns an empty frame, no NPE") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val comp = Dedup.components(pairs, "id_a", "id_b")
    assert(comp.columns.toSeq == Seq("id", "comp"))
    assert(comp.collect().isEmpty)
  }

  test("components: a 60-node chain (diameter > 25) → one cluster") {
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val base = pinned
    val comp = Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pinned <= base + 1, "only the result may stay pinned")
    assert(comp.size == 60)
    assert(comp.values.forall(_ == 1L), s"split clusters: $comp")
  }

  test("components: star graph (1 hub × 50k spokes) converges, no single-task straggler") {
    // a celebrity node skews the groupBy(src) min-aggregate; partial
    // aggregation must absorb it and convergence must take O(1) rounds
    val pairs = spark.range(1, 50001)
      .select(org.apache.spark.sql.functions.lit(0L).as("a"), $"id".as("b"))
    val comp = Dedup.components(pairs, "a", "b").collect()
    assert(comp.length == 50001)
    assert(comp.forall(_.getLong(1) == 0L), "every node must join the hub's cluster")
  }

  test("components: chains merge transitively, min id wins") {
    // two chains (1-2-3-4, 10-11) and an isolated pair (20, 21)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val comp = Dedup.components(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("bloom-pruned join equals the plain join") {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.ops.Q.events(spark, dir)
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .filter($"c_acctbal" > 5000).select($"c_custkey", $"c_mktsegment")
    val pruned = Scale.bloomPrunedJoin(ev, cust, "user_id", "c_custkey", 1000L)
      .select($"event_id", $"c_custkey").orderBy($"event_id").collect()
    val plain = ev.join(cust, $"user_id" === $"c_custkey")
      .select($"event_id", $"c_custkey").orderBy($"event_id").collect()
    assert(pruned.nonEmpty && pruned.sameElements(plain))
  }

  test("SQL surface: minhash/simhash/lsh/topk callable from SQL") {
    Scale.registerSqlFunctions(spark)
    Seq((1L, "a b a c"), (2L, "x y z w")).toDF("id", "text")
      .createOrReplaceTempView("sqlfn_docs")
    val r = spark.sql("""
      SELECT id,
        graft_minhash(graft_char_shingles(text, 3), 8) AS mh,
        graft_lsh_buckets(array(1.0d, -1.0d), 4, 8, 2) AS lb,
        graft_simhash(xxhash64(text)) AS sh,
        graft_topk_tokens(text, 2) AS tk
      FROM sqlfn_docs GROUP BY id, text ORDER BY id""").collect()
    assert(r.length == 2)
    assert(r(0).getSeq[Long](1).length == 8)
    assert(r(0).getSeq[Int](2).length == 4)
  }

  test("bucketed join plans with no shuffle on either input") {
    val joined = Scale.bucketedOrdersLineitem(spark, "/root/testdata/sf0.001")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("adaptiveTau: identity under refN; bounds similarity-graph degree past it") {
    val n = 2000
    val vecs = (0 until n).map { i =>
      val rnd = new scala.util.Random(i * 2654435761L)
      (i.toLong, Array.fill(8)(rnd.nextGaussian()))
    }
    val df = vecs.toDF("vec_id", "embedding")
    // at or below the tuned size the analyst's τ passes through
    // untouched (and no sampling job runs)
    assert(Dedup.adaptiveTau(df, "vec_id", "embedding", 0.2,
      400L, 5000L) == 0.2)
    // past refN the policy tightens τ to hold expected degree ≈ 16
    val tau = Dedup.adaptiveTau(df, "vec_id", "embedding", 0.2,
      n.toLong, 500L, targetDegree = 16)
    assert(tau > 0.2, s"tau not raised: $tau")
    val withN = df.select($"vec_id",
      Vectors.toDouble($"embedding").as("v"))
    val edges = withN.as("a")
      .crossJoin(broadcast(withN.as("b")))
      .filter($"a.vec_id" < $"b.vec_id" &&
        Vectors.cosine($"a.v", $"b.v") >= tau)
      .count()
    // expected n·targetDegree/2 = 16 000 edges; the sampled quantile
    // plus 4-dp floor-quantization lands within a factor of 2
    assert(edges > n * 16 / 4 && edges < n * 16,
      s"edge budget missed: $edges edges at tau=$tau")
  }

  test("wedge governor: planted hot key bounded, cold keys bit-identical, deterministic") {
    // one hot part with 300 suppliers (45 150 ungoverned wedge pairs)
    // among 20 cold parts of degree 4 — the power-law shape the
    // governor exists for, planted far above the test cap of 16
    val hot = (1 to 300).map(i => (i.toLong, 9999L))
    val cold = for (p <- 1 to 20; i <- 1 to 4)
      yield ((1000L + p * 10 + i, p.toLong))
    val edges = (hot ++ cold).toDF("l_suppkey", "l_partkey")
    val governed = Graph.adamicAdar(edges, "l_suppkey", "l_partkey",
      cap = 16, topK = 1000000).collect()
    val full = Graph.adamicAdar(edges, "l_suppkey", "l_partkey",
      cap = 1000000, topK = 1000000).collect()
    // hot pairs: suppliers 1..300 — the ~Binomial(300, 16/300) sample
    // (mean 16, sd 3.9) keeps k suppliers → C(k,2) pairs; k ≤ 48
    // (mean + 8σ) bounds them at C(48,2) ≪ the ungoverned 45 150
    def isHot(r: org.apache.spark.sql.Row) = r.getLong(0) <= 300
    val hotPairs = governed.count(isHot)
    assert(full.count(isHot) == 300 * 299 / 2)
    assert(hotPairs > 0 && hotPairs <= 48 * 47 / 2,
      s"hot-key pair volume not governed: $hotPairs")
    // cold keys (degree 4 ≤ cap) must be BIT-identical to ungoverned,
    // including scores — the governor may only touch over-cap keys
    assert(governed.filterNot(isHot).toSet == full.filterNot(isHot).toSet)
    // deterministic: same sample both runs
    val again = Graph.adamicAdar(edges, "l_suppkey", "l_partkey",
      cap = 16, topK = 1000000).collect()
    assert(governed.toSet == again.toSet)
  }

  test("JW block governor: hot block bounded, cold blocks bit-identical; ratio prune lossless") {
    // one hot block of 200 identical names (19 900 ungoverned pairs,
    // all scoring 1.0) among 10 cold blocks of 4 — planted far above
    // the test cap of 16
    val hot = (1 to 200).map(i => (i.toLong, "abcdefghij", "H"))
    val cold = for (blk <- 1 to 10; i <- 1 to 4) yield
      ((1000L + blk * 10 + i, if (i <= 2) s"coldname$blk" else s"other${blk}x$i",
        s"C$blk"))
    val rows = (hot ++ cold).toDF("id", "nm", "blk")
    val governed = Linkage.jaroPairs(rows, "id", "nm", "blk", cap = 16)
      .collect()
    val full = Linkage.jaroPairs(rows, "id", "nm", "blk", cap = 1000000)
      .collect()
    def isHot(r: org.apache.spark.sql.Row) = r.getLong(0) <= 200
    assert(full.count(isHot) == 200 * 199 / 2)
    // ~Binomial(200, 16/200) contributors survive (mean 16, sd 3.9);
    // mean + 8σ bounds the block at C(48,2) ≪ the ungoverned 19 900
    val hotPairs = governed.count(isHot)
    assert(hotPairs > 0 && hotPairs <= 48 * 47 / 2,
      s"hot-block pair volume not governed: $hotPairs")
    // cold blocks (size 4 ≤ cap) must be bit-identical, scores included
    assert(governed.filterNot(isHot).toSet == full.filterNot(isHot).toSet)
    // deterministic: same hash sample on a second run
    val again = Linkage.jaroPairs(rows, "id", "nm", "blk", cap = 16)
      .collect()
    assert(governed.toSet == again.toSet)
    // the length-ratio prune is lossless: ungoverned jaroPairs equals a
    // raw quadratic scan with NO ratio filter on length-diverse names
    // (ratios straddle the 0.5 bound; "prefixprefixprefix…" pairs score
    // high at ratio ≈ 0.5, short-vs-long pairs fall below it)
    val diverse = Seq(
      (1L, "ab", "D"), (2L, "abcd", "D"), (3L, "abcdefgh", "D"),
      (4L, "abcdefghabcdefgh", "D"), (5L, "abcdefghabcdefghx", "D"),
      (6L, "a", "D"), (7L, "zyx", "D")).toDF("id", "nm", "blk")
    val pruned = Linkage.jaroPairs(diverse, "id", "nm", "blk",
        cap = 1000000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    val a = diverse.select($"id".as("id_a"), $"nm".as("name_a"))
    val b = diverse.select($"id".as("id_b"), $"nm".as("name_b"))
    val raw = a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("jw", org.apache.spark.sql.GraftBridge.column(
        graft.functions.JaroWinkler(
          org.apache.spark.sql.GraftBridge.expression($"name_a"),
          org.apache.spark.sql.GraftBridge.expression($"name_b"))))
      .filter($"jw" >= Linkage.JaroThreshold)
      .select($"id_a", $"id_b", round($"jw", 6).as("jw")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned == raw, s"ratio prune dropped real matches: " +
      s"missing=${raw -- pruned} extra=${pruned -- raw}")
  }

  test("salted join equals the plain join") {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.ops.Q.events(spark, dir)
      .withColumnRenamed("user_id", "c_custkey")
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select($"c_custkey", $"c_mktsegment")
    val salted = Scale.saltedJoin(ev, cust, "c_custkey", "event_id", 8)
      .groupBy($"c_mktsegment").count().orderBy($"c_mktsegment").collect()
    val plain = ev.join(cust, "c_custkey")
      .groupBy($"c_mktsegment").count().orderBy($"c_mktsegment").collect()
    assert(salted.sameElements(plain))
  }

  test("native shingle expressions match the HOF formulations") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cmp = docs.select(
      Text.wordShingles($"text", 3).as("wn"),
      Text.wordShinglesHof($"text", 3).as("wh"),
      Text.charShingles($"text", 5).as("cn"),
      Text.charShinglesHof($"text", 5).as("ch"))
      .filter($"wn" =!= $"wh" || $"cn" =!= $"ch")
    assert(cmp.count() == 0)
    // short-input fallbacks
    val tiny = Seq("a b", "ab", "").toDF("text").select(
      Text.wordShingles($"text", 3).as("wn"),
      Text.wordShinglesHof($"text", 3).as("wh"),
      Text.charShingles($"text", 5).as("cn"),
      Text.charShinglesHof($"text", 5).as("ch"))
    assert(tiny.filter($"wn" =!= $"wh" || $"cn" =!= $"ch").count() == 0)
  }

  test("as-of join never matches null keys (SQL semantics)") {
    import java.sql.Timestamp
    val l = Seq((Option.empty[Long], Timestamp.valueOf("2024-01-01 10:00:00"), 1L),
        (Some(7L), Timestamp.valueOf("2024-01-01 10:00:00"), 2L))
      .toDF("k", "ts", "row_id")
    val r = Seq((Option.empty[Long], Timestamp.valueOf("2024-01-01 09:00:00"), "nullcarry"),
        (Some(7L), Timestamp.valueOf("2024-01-01 09:00:00"), "ok"))
      .toDF("k", "rts", "payload")
    val out = AsOf.join(l, r, "k", "ts", "rts", Seq("payload"))
      .orderBy($"row_id").collect()
    assert(out(0).getAs[String]("payload") == null) // null key → no match
    assert(out(1).getAs[String]("payload") == "ok")
  }

  test("as-of join ignores right rows with null timestamps") {
    import java.sql.Timestamp
    val l = Seq((7L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L))
      .toDF("k", "ts", "row_id")
    val r = Seq((7L, Option.empty[Timestamp], "BAD"),
        (7L, Some(Timestamp.valueOf("2024-01-01 09:00:00")), "ok"))
      .toDF("k", "rts", "payload")
    val out = AsOf.join(l, r, "k", "ts", "rts", Seq("payload")).collect()
    assert(out.head.getAs[String]("payload") == "ok")
    // carry-name collision is rejected up front
    intercept[IllegalArgumentException] {
      AsOf.join(l, r.withColumnRenamed("payload", "ts"), "k", "ts", "rts",
        Seq("ts"))
    }
  }

  test("char shingles slice by code points, not UTF-16 units") {
    val emoji = "a😀b" // a + 😀 + b
    val native = Seq(emoji).toDF("text")
      .select(Text.charShingles($"text", 2)).collect().head.getSeq[String](0)
    val hof = Seq(emoji).toDF("text")
      .select(Text.charShinglesHof($"text", 2)).collect().head.getSeq[String](0)
    assert(native == hof)
    assert(native == Seq("a😀", "😀b"))
  }

  test("SQL shingle functions accept integral literals and reject bad args") {
    Scale.registerSqlFunctions(spark)
    val r = spark.sql(
      "SELECT graft_word_shingles('a b c', CAST(2 AS BIGINT)) AS sh")
      .collect().head.getSeq[String](0)
    assert(r == Seq("a b", "b c"))
    intercept[Exception] {
      spark.sql("SELECT graft_word_shingles('a b c', 0)").collect()
    }
  }

  test("dictionary encode assigns a usable code to the null group") {
    val df = Seq(Some("x"), None, Some("y"), None).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "c")
    val (encoded, decoder) = graft.ingest.Categorical.encode(df, "c")
    val codes = encoded.orderBy($"id").select($"c_code").collect()
      .map(r => if (r.isNullAt(0)) -1 else r.getInt(0)).toSeq
    assert(!codes.contains(-1), s"null rows left uncoded: $codes")
    assert(decoder.count(_ == null) == 1)
  }

  test("oversized-bucket audit reports zero on the test corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", Text.wordShingles($"text", 3).as("sh"))
    assert(Dedup.oversizedBucketCount(docs, "doc_id", "sh") == 0L)
  }

  test("approx sketches land within tolerance of exact answers") {
    val dir = "/root/testdata/sf0.01"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_orderkey").as("n"),
        expr("percentile(l_extendedprice, 0.5)").as("med"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val approx = Analytics.queries("q_approx_sketches")(spark, dir).collect()
    approx.foreach { r =>
      val (n, med) = exact(r.getString(0))
      assert(math.abs(r.getLong(1) - n).toDouble / n < 0.05,
        s"HLL off >5%: ${r.getLong(1)} vs $n")
      assert(math.abs(r.getDouble(2) - med) / med < 0.05,
        s"approx median off >5%: ${r.getDouble(2)} vs $med")
      assert(r.getInt(3) > 0) // CMS sketch materialized
    }
  }

  test("TopKTokens buffer serde roundtrips and merges correctly") {
    import graft.functions.TopKTokens
    val agg = TopKTokens(
      org.apache.spark.sql.GraftBridge.expression($"x"), 3)
    val b1 = scala.collection.mutable.HashMap("a" -> 5L, "b" -> 2L)
    val b2 = agg.deserialize(agg.serialize(b1))
    assert(b2 == b1)
    val merged = agg.merge(b2, scala.collection.mutable.HashMap("b" -> 1L, "c" -> 9L))
    assert(merged == scala.collection.mutable.HashMap(
      "a" -> 5L, "b" -> 3L, "c" -> 9L))
  }

  test("GraftExtensions installs its functions into a SparkSessionExtensions") {
    // full end-to-end SQL use of graft_dot is oracle-checked by
    // q_sql_graft_dot; here we check the extension wiring itself
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(e)
  }

  test("multimodal decode handles arbitrary non-UTF8 binary payloads") {
    val rnd = new scala.util.Random(42)
    val rows = (1L to 100L).map(i =>
      (i, Array.fill(64 + rnd.nextInt(512))(rnd.nextInt().toByte)))
    val m = Multimodal.decodeBatch(rows.toDF("doc_id", "payload")).collect()
    assert(m.length == 100)
    assert(m.forall(r => r.getLong(1) >= 64)) // n_bytes preserved
  }

  test("multimodal decode is deterministic and batch-shaped") {
    val p = Multimodal.payloads(spark, "/root/testdata/sf0.001")
    val m1 = Multimodal.decodeBatch(p).orderBy($"doc_id").collect()
    val m2 = Multimodal.decodeBatch(p.repartition(7)).orderBy($"doc_id").collect()
    assert(m1.sameElements(m2)) // partitioning must not change results
    assert(m1.forall(_.getInt(3) >= 320)) // width lower bound
  }

  test("HLL sketch rollup estimates within 5% of exact distinct counts") {
    val ev = Q.events(spark, "/root/testdata/sf0.001")
    val approx = graft.ops.Analytics.queries("q_hll_rollup")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(2).toDouble).toMap
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= 0.05 * n,
        s"$k: approx ${approx(k)} vs exact $n")
    }
  }

  test("adaptiveBits: identity at tuned size, +1 per corpus doubling") {
    assert(Dedup.adaptiveBits(5, 500, 5000) == 5)
    assert(Dedup.adaptiveBits(5, 5000, 5000) == 5)
    assert(Dedup.adaptiveBits(5, 5001, 5000) == 6)
    assert(Dedup.adaptiveBits(5, 10000, 5000) == 6)
    assert(Dedup.adaptiveBits(5, 15000, 5000) == 7)  // the 3x probe point
    assert(Dedup.adaptiveBits(5, 20000, 5000) == 7)
    assert(Dedup.adaptiveBits(10, 5000000, 5000) == 20)
  }

  test("mixed-width self-join ANN: candidates nest monotonically in width") {
    // a bit-(b+1) bucket match implies the low-b bits match, and
    // Hamming-1 at b+1 implies Hamming-1 over the low b bits — so per
    // table the collision set SHRINKS with width, and after the exact
    // verify the final pair sets nest: uniform(b+1) ⊆ mixed(b, k) ⊆
    // uniform(b). The r15 migration of the self-join harness to
    // adaptiveWidths rides on exactly this containment.
    def pairs(bits: Int, kh: Int) =
      Dedup.embeddingNearDupPairs(
        Dedup.embWithTwins(spark, "/root/testdata/sf0.001"), "vec_id", "v",
        0.9, tables = 8, bits = bits, multiprobe = true, kHigh = kh)
        .select($"id_a", $"id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = pairs(11, 0)
    val mixed = pairs(10, 4)
    val narrow = pairs(10, 0)
    assert(narrow.nonEmpty, "fixture empty — twin planting broken")
    assert(mixed.subsetOf(narrow), "mixed ⊄ narrow")
    assert(wide.subsetOf(mixed), "wide ⊄ mixed")
  }

  test("containmentCandidateStats: coherent with the registered path") {
    val docs = Q.t(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", Text.charShingleHashes($"text", 5).as("sh"))
    val r = Dedup.containmentCandidateStats(docs, "doc_id", "sh", 0.8).head
    val nDocs = r.getAs[Long]("n_docs")
    val nInst = r.getAs[Long]("n_instances")
    val nCand = r.getAs[Long]("n_candidates")
    val nPairs = r.getAs[Long]("n_pairs")
    assert(nDocs == 500L)
    // the funnel only narrows: instances ≥ surviving candidates ≥
    // verified pairs; candidates exist whenever pairs do
    assert(nInst >= nCand && nCand >= nPairs)
    // the audited answer count IS the registered query's answer count
    val registered = Dedup.containmentPairs(docs, "doc_id", "sh", 0.8)
      .count()
    assert(nPairs == registered, s"audit $nPairs vs registered $registered")
    assert(r.getAs[Double]("inst_per_doc") > 0.0)
  }

  test("kCore peels a pendant chain and keeps the clique") {
    // K4 on {1,2,3,4} plus chain 4-5-6: 2-core = the clique exactly,
    // and the chain needs TWO rounds (6 peels, then 5) — catching any
    // implementation that only peels once
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("id_a", "id_b")
    val base = pinned
    val core = Graph.kCore(pairs, "id_a", "id_b", k = 2, rounds = 4)
      .orderBy($"node").collect()
    assert(pinned <= base + 1, "only the result may stay pinned")
    assert(core.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(core.map(_.getLong(1)).forall(_ == 3L)) // clique degrees
    // k above the max degree empties the graph without erroring
    assert(Graph.kCore(pairs, "id_a", "id_b", k = 10, rounds = 4)
      .collect().isEmpty)
  }

  test("audio energy: planted silence and peak land where constructed") {
    // 3 windows of 64 "samples": silent (all 128 → energy 0), loud
    // (alternating ±100 → 64·10000), mild (all 128±8 → 64·64)
    val bytes = (Array.fill(64)(128.toByte)
      ++ Array.tabulate(64)(i => if (i % 2 == 0) 228.toByte else 28.toByte)
      ++ Array.fill(64)(136.toByte))
    val rows = Seq((1L, bytes)).toDF("doc_id", "payload")
    val r = Multimodal.audioEnergy(rows).head
    assert(r.getAs[Long]("n_windows") == 3)
    assert(r.getAs[Long]("peak_energy") == 64L * 100 * 100)
    assert(r.getAs[Long]("peak_window") == 1)
    assert(r.getAs[Long]("silent_windows") == 2) // 0 and 64·64 < 16384
    assert(r.getAs[Long]("total_energy") == 64L * 100 * 100 + 64L * 64)
  }

  test("phash band join finds planted byte-flipped payload dups losslessly") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(4096)(rnd.nextInt().toByte)
    // near-dup: flip a couple of bytes hard enough to flip SOME hash
    // bits but stay within the Hamming-3 production threshold
    val dup = base.clone(); dup(100) = (dup(100) ^ 0x7f).toByte
    val far = Array.fill(4096)(rnd.nextInt().toByte)
    val rows = Seq((1L, base), (2L, dup), (3L, far)).toDF("doc_id", "payload")
    val h = Multimodal.phashBatch(rows)
    val d12 = java.lang.Long.bitCount(
      Multimodal.phash63(base) ^ Multimodal.phash63(dup))
    assert(d12 <= 3, s"planted dup drifted to Hamming $d12")
    val pairs = Multimodal.phashBandPairs(h).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // lossless claim: band join == brute force at the same threshold
    val brute = h.as("a").join(h.as("b"), $"a.doc_id" < $"b.doc_id")
      .selectExpr("a.doc_id", "b.doc_id",
        "bit_count(a.phash ^ b.phash) AS hm")
      .filter($"hm" <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == brute)
  }

  test("KLL quantile sketch rollup within 3% rank error of exact quantiles") {
    val ev = Q.events(spark, "/root/testdata/sf0.001")
    val approx = graft.ops.Analytics.queries("q_kll_rollup")(
        spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // KLL guarantees RANK error (~1.7% at k=200, two merge levels), not
    // value error: assert each reported quantile's exact rank in the
    // type's value distribution is within 3% of the requested rank.
    val byType = ev.select($"event_type", $"value").collect()
      .groupBy(_.getString(0)).map { case (k, rs) =>
        k -> rs.map(_.getDouble(1)).sorted }
    assert(approx.keySet == byType.keySet)
    for ((k, (p50, p95, p99)) <- approx; (q, v) <- Seq(0.50 -> p50, 0.95 -> p95, 0.99 -> p99)) {
      val vals = byType(k)
      val rank = vals.count(_ <= v).toDouble / vals.length
      assert(math.abs(rank - q) <= 0.03, s"$k q=$q value=$v rank=$rank")
    }
  }

  test("BPE learn + encode match the hand-computed classic example") {
    // Sennrich's low/lower/newest/widest corpus. Hand-derived with the
    // documented tie-breaks (pair-frequency desc, pair lexicographic):
    // e+s(9) es+t(9) l+o(7) lo+w(7) e+w(6) ew+est(6) n+ewest(6)
    // d+est(3) i+dest(3) w+idest(3) e+r(2) low+er(2), then no pair
    // occurs twice → learn stops at 12 even with headroom for 20.
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = Bpe.learnMerges(docs, "text", numMerges = 20)
    assert(merges == Seq("e" -> "s", "es" -> "t", "l" -> "o", "lo" -> "w",
      "e" -> "w", "ew" -> "est", "n" -> "ewest", "d" -> "est",
      "i" -> "dest", "w" -> "idest", "e" -> "r", "low" -> "er"))
    // apply: known words collapse to learned units, "lowest" composes
    // low+est from shared merges, unseen words fall back to characters
    val enc = Seq((1L, "lowest newest widest lower low unseen"))
      .toDF("id", "t")
      .select(Bpe.encode(col("t"), merges).as("s"))
      .head.getSeq[String](0)
    assert(enc == Seq("low", "est", "newest", "widest", "lower", "low",
      "u", "n", "s", "e", "e", "n"))
  }

  test("labelPropagation: deep (≥8-iteration) propagation converges " +
      "with bounded plan depth") {
    // a 12-node path graph seeded only at node 0: the label travels one
    // hop per round, so labeling the far end NEEDS ≥11 rounds — this
    // exercises the in-loop localCheckpoint cadence (every 4th round)
    // on a plan that would otherwise nest 11 join+window layers
    val nodes = (0L to 11L)
      .map(i => (i, if (i == 0L) "A" else null))
      .toDF("node", "seed_label")
    val pairs = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val base = pinned
    val out = Graph.labelPropagation(nodes, pairs, "a", "b", 12)
      .orderBy($"node").collect()
    assert(pinned <= base + 1, "only the result may stay pinned")
    assert(out.length == 12)
    assert(out.forall(_.getString(1) == "A"))
    assert(out.count(_.getBoolean(2)) == 1)
  }

  test("graph_label_prop_ann releases its ANN pair checkpoint") {
    // RDDs pinned by the query, not the net count: an earlier test's
    // RDD that a GC drops meanwhile would hide one left behind here
    def pinnedIds = spark.sparkContext.getPersistentRDDs.keySet
    val base = pinnedIds
    Graph.queries("graph_label_prop_ann")(spark, "/root/testdata/sf0.001")
      .collect()
    val added = pinnedIds -- base
    assert(added.size <= 1, s"only the result may stay pinned: $added")
  }

  test("persisted IVF index probe equals the in-session ivfTopK") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id",
        graft.functions.Vectors.toDouble($"embedding").as("v"))
    val probes = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"v".as("qv"))
    val path = "/tmp/graft_ivf_spec"
    Similarity.ivfIndexBuild(e, path)
    val direct = Similarity.ivfTopK(e, probes, 5)
      .orderBy($"query_id", $"rank").collect()
    val fromIndex = Similarity.ivfIndexProbe(spark, path, probes, 5)
      .orderBy($"query_id", $"rank").collect()
    assert(direct.nonEmpty && fromIndex.sameElements(direct))
  }

  test("blockedBandJoin equals the nested-loop band join, straddling cells") {
    val probe = (0 to 200).map(i => (i.toLong, i * 7.3 - 100.0))
      .toDF("pid", "x")
    // deliberately irregular intervals, several wider than one cell
    val iv = Seq((1L, -50.0, 120.0), (2L, 100.0, 101.0), (3L, 300.0, 900.0),
      (4L, 899.0, 1000.0), (5L, -200.0, -199.0)).toDF("band", "lo", "hi")
    val blocked = Scale.blockedBandJoin(probe, "x", iv, "lo", "hi", 250.0)
      .select($"pid", $"band").orderBy($"pid", $"band").collect()
    val naive = probe.join(iv, $"x" >= $"lo" && $"x" < $"hi")
      .select($"pid", $"band").orderBy($"pid", $"band").collect()
    assert(blocked.nonEmpty && blocked.sameElements(naive))
  }

  test("fuzzyPairs: length prune is lossless, pairs emitted once") {
    val rows = Seq((1L, "alpha", "g"), (2L, "alpho", "g"), (3L, "alphaxx", "g"),
      (4L, "beta", "g"), (5L, "alpha", "h")).toDF("id", "name", "blk")
    val got = Linkage.fuzzyPairs(rows, "id", "name", "blk", 2)
      .select($"id_a", $"id_b", $"dist").orderBy($"id_a", $"id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // (1,2) dist 1; (1,3) dist 2; (2,3) dist 3 → out; beta → out;
    // id 5 matches nothing (different block); no (b,a) duplicates
    assert(got.toSeq == Seq((1L, 2L, 1), (1L, 3L, 2)))
  }

  test("bm25TopK ranks rarer matching terms above common ones") {
    // "cat" appears in 1 of 4 docs, "dog" in 3 of 4: the cat-bearing doc
    // must outrank dog-only docs for query {cat, dog}; doc 9 (neither)
    // must not be retrieved; the query doc itself (id 1) is excluded
    val docs = Seq(
      (1L, "cat x dog y z"), (2L, "cat a b c d"),
      (3L, "dog a b c d"), (4L, "dog e f g h"),
      (9L, "p q r s t")).toDF("doc_id", "text")
    val queries = Seq((1L, "cat"), (1L, "dog")).toDF("query_id", "term")
    val got = Search.bm25TopK(docs, queries, 10)
      .orderBy($"rank").collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    assert(got.head == (1, 2L))           // the rare-term doc wins
    assert(got.map(_._2).toSet == Set(2L, 3L, 4L)) // 1 excluded, 9 absent
  }

  test("GramAgg matches hand-computed scatter matrix; merge = add") {
    import org.apache.spark.sql.GraftBridge
    import graft.functions.GramAgg
    val df = Seq(Array(1.0, 2.0), Array(3.0, -1.0), Array(0.5, 0.0))
      .toDF("c").repartition(3) // forces partial/final merge
    val g = df.agg(GraftBridge.column(GramAgg(
        GraftBridge.expression($"c"), 2).toAggregateExpression()).as("g"))
      .head.getSeq[Long](0)
    // Σ xxᵀ·1e6: [1+9+0.25, 2−3+0; 2−3+0, 4+1+0]
    assert(g == Seq(10250000L, -1000000L, -1000000L, 5000000L))
  }

  test("pca power: residuals small, spectrum ordered, gram consistent") {
    val sf = "/root/testdata/sf0.001"
    val r = Similarity.queries("sim_pca_power")(spark, sf).head
    assert(r.getAs[Double]("residual_pc1") < 1e-2)
    assert(r.getAs[Double]("residual_pc2") < 1e-2)
    val (f1, f2) = (r.getAs[Double]("frac_pc1"), r.getAs[Double]("frac_pc2"))
    assert(r.getAs[Double]("var_pc1") >= r.getAs[Double]("var_pc2"))
    assert(f1 > 0 && f1 <= 1 && f2 > 0 && f2 <= f1)
    // the aggregate's matrix row 1 must agree with the oracle-checked
    // posexplode probe to ≤ 1 micro-unit per cell (math.round vs
    // decimal-cast differ only on exact-tie rounding)
    val probe = Similarity.queries("sim_pca_gram_probe")(spark, sf)
      .orderBy($"dim_j").collect().map(_.getLong(1))
    import org.apache.spark.sql.GraftBridge
    import graft.functions.GramAgg
    val full = Similarity.centeredForSpec(spark, sf)
      .agg(GraftBridge.column(GramAgg(
        GraftBridge.expression($"c"), 64).toAggregateExpression()).as("g"))
      .head.getSeq[Long](0)
    val row1 = full.slice(0, 64)
    assert(row1.zip(probe).forall { case (a, b) => math.abs(a - b) <= 1 })
  }

  test("phraseMatch: adjacency only, occurrences counted, self excluded") {
    // phrase from doc 1 = tokens 2..4 = "b c d"; doc 2 contains it
    // twice, doc 3 has the terms NON-adjacent (must not match), doc 4
    // has a partial prefix only
    val docs = Seq(
      (1L, "a b c d e f g"),
      (2L, "x b c d y b c d z"),
      (3L, "b x c x d x e x"),
      (4L, "b c x x x x x")).toDF("doc_id", "text")
    val phrases = Seq((1L, "b", "c", "d")).toDF("query_id", "t1", "t2", "t3")
    val got = Search.phraseMatch(docs, phrases).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((2L, 2L)))
  }

  test("ragContext drops near-dups of higher-ranked docs and cuts at budget") {
    // query 9: candidates ranked 1..3; doc 21 is a near-dup of doc 20
    // (cos 1.0 > τ) → dropped; budget 30 keeps 20 (12 tok) + 22
    // (15 tok, cum 27) and the cut is on the kept sequence
    val v1 = Array(1.0, 0.0); val v2 = Array(0.0, 1.0)
    val corpus = Seq((20L, v1), (21L, v1), (22L, v2))
      .toDF("vec_id", "v")
    val topk = Seq(
      (9L, 20L, 1, 0.9), (9L, 21L, 2, 0.9), (9L, 22L, 3, 0.5))
      .toDF("query_id", "neighbor_id", "rank", "cosine")
    val docs = Seq(
      (20L, Seq.fill(12)("w").mkString(" ")),
      (21L, Seq.fill(9)("w").mkString(" ")),
      (22L, Seq.fill(15)("w").mkString(" "))).toDF("doc_id", "text")
    val got = Search.ragContext(topk, corpus, docs, 0.85, 30).collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getInt(4), r.getLong(5)))
    assert(got.toSeq == Seq((1, 20L, 12, 12L), (2, 22L, 15, 27L)))
    // tighter budget truncates mid-sequence
    val cut = Search.ragContext(topk, corpus, docs, 0.85, 20).collect()
    assert(cut.map(_.getLong(2)).toSeq == Seq(20L))
  }

  test("rrfFuse: both-list docs beat single-list docs; exact arithmetic") {
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val vec = Seq((1L, 10L, 2), (1L, 12L, 1)).toDF("query_id", "doc_id", "rank")
    val got = Search.rrfFuse(lex, vec, 10)
      .orderBy($"rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // doc 10: 1/61 + 1/62; docs 12/11: 1/61, 1/62 (tie-break by doc_id
    // would apply only on equal scores — here 12's 1/61 > 11's 1/62)
    assert(got.map(_._2).toSeq == Seq(10L, 12L, 11L))
    assert(got.head._3 == math.round((1.0 / 61 + 1.0 / 62) * 1e6) / 1e6)
  }

  test("theta sketches: exact-mode set algebra matches hand-computed sets") {
    def est(sk: Column) = theta_sketch_estimate(sk).cast("double")
    val df = Seq(("A", "a"), ("A", "b"), ("A", "c"),
      ("B", "b"), ("B", "c"), ("B", "d")).toDF("src", "item")
    val sk = df.groupBy($"src").agg(theta_sketch_agg($"item").as("sk"))
    // |A|=3 |B|=3 |A∪B|=4 |A∩B|=2 — below 4k items the sketch is exact
    val o = sk.filter($"src" === "A").select($"sk".as("ska"))
      .crossJoin(sk.filter($"src" === "B").select($"sk".as("skb")))
      .select(array(est($"ska"), est($"skb"),
        est(theta_union($"ska", $"skb")),
        est(theta_intersection($"ska", $"skb"))).as("o"))
      .head.getSeq[Double](0)
    assert(o == Seq(3.0, 3.0, 4.0, 2.0))
    // rollup merge: union the two per-src sketches → estimate 4
    val merged = sk.agg(theta_union_agg($"sk").as("u"))
    val u = merged.select(est($"u")).head.getDouble(0)
    assert(u == 4.0)
  }

  test("rows-only sketch queries at sf0.01: exact-mode audits read 0, " +
      "schemas pinned") {
    val sf = "/root/testdata/sf0.01"
    def run(q: String) = graft.SparkEntry.queries(q)(spark, sf)
    def schema(q: String) =
      run(q).schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    val theta = run("audit_theta_overlap_error").head
    assert(theta.getAs[Double]("max_abs_err") == 0.0)
    assert(theta.getAs[Double]("mean_abs_err") == 0.0)
    assert(run("audit_stream_incr_distinct").head
      .getAs[Double]("max_rel_err") == 0.0)
    assert(schema("corpus_overlap_theta") == Seq("source_a" -> "string",
      "source_b" -> "string", "n_a_est" -> "double", "n_b_est" -> "double",
      "union_est" -> "double", "inter_est" -> "double",
      "jaccard_est" -> "double"))
    assert(schema("stream_incr_distinct") ==
      Seq("event_type" -> "string", "approx_users" -> "double"))
    assert(schema("q_kll_rollup") == Seq("event_type" -> "string",
      "n_hours" -> "bigint", "p50" -> "double", "p95" -> "double",
      "p99" -> "double"))
  }

  test("evalMetrics: recall/MRR/nDCG match hand-computed values") {
    // query 13 (the fixed workload's id rule), relevant universe = docs
    // 1, 2 (label 1, excluding the query itself); ranking hits them at
    // ranks 2 and 5
    val labels = Seq((13L, 1), (1L, 1), (2L, 1), (3L, 2))
      .toDF("vec_id", "label")
    val ranked = Seq((13L, 1, 3L), (13L, 2, 1L), (13L, 5, 2L))
      .toDF("query_id", "rank", "doc_id")
    val r = Search.evalMetrics(ranked, labels, 10).head
    assert(r.getAs[Long]("n_rel") == 2L && r.getAs[Long]("n_hits") == 2L)
    assert(r.getAs[Double]("recall_at_10") == 1.0)
    assert(r.getAs[Double]("mrr_at_10") == 0.5)
    // dcg = 1/log2(3) + 1/log2(6), idcg = 1/log2(2) + 1/log2(3), each
    // term DECIMAL(18,6)-rounded before the sum (the dsum pattern)
    def d6(x: Double) = math.round(x * 1e6) / 1e6
    val dcg = d6(1.0 / (math.log(3) / math.log(2))) +
      d6(1.0 / (math.log(6) / math.log(2)))
    val idcg = 1.0 + d6(1.0 / (math.log(3) / math.log(2)))
    assert(math.abs(r.getAs[Double]("ndcg_at_10") - dcg / idcg) < 1e-5)
  }

  test("processSketchBatch: cross-batch distinct union; replay is a no-op") {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_sketch_spec").toString
    def est(): Map[String, Double] = {
      val sk = spark.read.parquet(s"$tmp/state")
      sk.select($"k", theta_sketch_estimate($"sk").cast("double").as("e"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    val b1 = Seq(("a", 1L), ("a", 2L), ("b", 1L)).toDF("k", "u")
    val b2 = Seq(("a", 2L), ("a", 3L), ("c", 9L)).toDF("k", "u")
    Incremental.processSketchBatch(b1, "k", "u", s"$tmp/state")
    Incremental.processSketchBatch(b2, "k", "u", s"$tmp/state")
    // a: {1,2} ∪ {2,3} = 3 distinct; b: {1}; c: {9}
    assert(est() == Map("a" -> 3.0, "b" -> 1.0, "c" -> 1.0))
    // at-least-once replay of batch 2 must not change any estimate
    Incremental.processSketchBatch(b2, "k", "u", s"$tmp/state")
    assert(est() == Map("a" -> 3.0, "b" -> 1.0, "c" -> 1.0))
    graft.Util.rmrf(new java.io.File(tmp))
  }

  test("bfsHops: path-graph distances; isolated seed kept at 0; horizon cut") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val seeds = Seq(Tuple1(1L), Tuple1(10L)).toDF("node")
    val base = pinned
    val got = Graph.bfsHops(pairs, "id_a", "id_b", seeds, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(pinned <= base + 1, "only the result may stay pinned")
    // node 5 is 4 hops out — beyond the 3-round horizon
    assert(got == Map(1L -> 0, 10L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("spreadBy spreads to the session's parallelism, not its shuffle partitions") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "2")
    try {
      val target = spark.sparkContext.defaultParallelism
      assert(target != 2)
      val one = spark.range(0, 1000, 1, 1).toDF("x")
      assert(Q.spreadBy(one, col("x")).rdd.getNumPartitions == target)
    } finally spark.conf.set(key, before)
  }

  test("bfsHops: null ids and null seeds give the same rows on both paths") {
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null),
      (null, 3L), (3L, 4L), (null, null), (2L, 2L), (1L, 2L))
      .toDF("id_a", "id_b")
    val seeds = Seq[java.lang.Long](1L, null, 1L, 9L).map(Tuple1(_))
      .toDF("node")
    // the loop's anti-join never matches a null, so a null neighbour of
    // the round-2 frontier {2} comes back at hop 2; nothing reaches 3, 4
    val want = Seq[(java.lang.Long, Int)]((1L, 0), (1L, 0), (9L, 0),
      (null, 0), (2L, 1), (null, 2)).map(_.toString).sorted
    Seq(Graph.BfsLocalCap, 0).foreach { cap =>
      val got = Graph.bfsHops(pairs, "id_a", "id_b", seeds, 3, cap)
        .collect().map(r => (r.get(0), r.getInt(1)).toString).toSeq.sorted
      assert(got == want, s"cap $cap")
    }
  }

  test("personalized pagerank: rank decays with distance from the seed; mass conserved") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val base = pinned
    val got = Graph.personalizedPageRank(pairs, seeds)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pinned <= base + 1, "only the result may stay pinned")
    // proximity ordering from the single seed at node 1
    assert(got(1L) > got(2L) && got(2L) > got(3L) && got(3L) > got(4L),
      got.toString)
    // undirected graph, no dangling nodes → total mass ≈ 1
    assert(math.abs(got.values.sum - 1.0) < 1e-6, got.values.sum)
  }

  test("pareto frontier: planted dominance cases, including the equal-size tie") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pareto_spec").toString
    // (price, size): the 2.5/7 part matches the cheaper 2.0/7's size,
    // so it is dominated (not strictly bigger); 1.0/3 loses the
    // equal-price tie to 1.0/5; 3.0/6 is dominated by 2.0/7.
    Seq((1L, 900.0, 5), (2L, 900.0, 3), (3L, 901.0, 7),
        (4L, 901.5, 7), (5L, 902.0, 6))
      .toDF("p_partkey", "p_retailprice", "p_size")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = Relational2.queries("q_pareto_frontier")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L))
    graft.Util.rmrf(new java.io.File(dir))
  }

  test("q21 waiting-supplier: window form agrees with the planted exists semantics") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_q21_spec").toString
    // order 1: supp 1 late, supp 2 on time  → supp 1 waits (2 late lines)
    // order 2: supp 1 and 2 BOTH late       → nobody (not the only one)
    // order 3: supp 3 late, single-supplier → nobody (no other supplier)
    val base = java.sql.Timestamp.valueOf("1995-01-01 00:00:00")
    def ship(days: Int) =
      new java.sql.Timestamp(base.getTime + days * 86400000L)
    Seq((1L, "F", base), (2L, "F", base), (3L, "F", base))
      .toDF("o_orderkey", "o_orderstatus", "o_orderdate")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((1L, 1L, ship(90)), (1L, 1L, ship(60)), (1L, 2L, ship(10)),
        (2L, 1L, ship(90)), (2L, 2L, ship(90)),
        (3L, 3L, ship(90)))
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/lineitem.parquet")
    Seq((1L, "S1"), (2L, "S2"), (3L, "S3"))
      .toDF("s_suppkey", "s_name")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/supplier.parquet")
    val got = Relational2.queries("q21_waiting_supplier")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("S1" -> 2L))
    graft.Util.rmrf(new java.io.File(dir))
  }

  test("silhouette: separated blobs score near 1, a split blob scores low") {
    import spark.implicits._
    // two tight 2-D blobs far apart: k=2 should score ≈ 1
    val blobA = (0 until 20).map(i => (i.toLong,
      Seq(0.0 + (i % 3) * 0.01, 0.0 + (i % 5) * 0.01)))
    val blobB = (0 until 20).map(i => (100L + i,
      Seq(50.0 + (i % 3) * 0.01, 50.0 + (i % 5) * 0.01)))
    val two = (blobA ++ blobB).toDF("vec_id", "v")
    val sTwo = Similarity.silhouetteIvf(two, clusters = 2).collect()
    assert(sTwo.forall(_.getAs[Double]("mean_silhouette") > 0.95))
    // ONE blob forced into k=2: the split is arbitrary → low scores
    val one = blobA.toDF("vec_id", "v")
    val sOne = Similarity.silhouetteIvf(one, clusters = 2).collect()
    assert(sOne.forall(_.getAs[Double]("mean_silhouette") < 0.8))
    sOne.foreach { r =>
      val s = r.getAs[Double]("mean_silhouette")
      assert(s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9)
    }
  }

  test("flesch: hand-computed score on a planted document") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_flesch_spec").toString
    // "aa bb. cc!" → 3 words, 2 sentence breaks, 1 vowel group
    // → 206.835 − 1.015·(3/2) − 84.6·(1/3) = 177.1125
    Seq((1L, "aa bb. cc!", "en"))
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val r = TextStats.queries("text_flesch_readability")(spark, dir).head
    assert(math.abs(r.getAs[Double]("flesch") - 177.1125) < 1e-4)
    graft.Util.rmrf(new java.io.File(dir))
  }

  test("rake: stopword boundaries split phrases; degree/freq scores add up") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rake_spec").toString
    // "red apple" occurs twice (split at 'and'); each word appears only
    // in that 2-word phrase → wscore = 2 each → phrase score 4.0.
    // The second doc's 5-word run is support-1 → filtered.
    Seq((1L, "red apple and red apple", "en"),
        (2L, "one two three four five", "en"))
      .toDF("doc_id", "text", "lang")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = TextStats.queries("text_rake_keywords")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("occurrences"), r.getAs[Double]("score"))).toMap
    assert(got.contains("red apple"))
    assert(got("red apple")._1 == 2L)
    assert(math.abs(got("red apple")._2 - 4.0) < 1e-9)
    assert(!got.keys.exists(_.contains("three")))
    graft.Util.rmrf(new java.io.File(dir))
  }

  test("source jsd: identical sources at 0, disjoint vocabularies at ln 2") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_jsd_spec").toString
    Seq((1L, "cat dog bird", "en", "sA"),
        (2L, "cat dog bird", "en", "sB"),
        (3L, "fish crab squid", "en", "sC"))
      .toDF("doc_id", "text", "lang", "source")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = TextStats.queries("text_source_jsd")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("jsd")).toMap
    assert(math.abs(got(("sA", "sB"))) < 1e-9)
    assert(math.abs(got(("sA", "sC")) - math.log(2.0)) < 1e-6)
    assert(math.abs(got(("sB", "sC")) - math.log(2.0)) < 1e-6)
    graft.Util.rmrf(new java.io.File(dir))
  }

  test("q11/q20 thresholds bind: non-degenerate, average-relative at sf0.001") {
    val sf = "/root/testdata/sf0.001"
    val v = Relational2.queries("q11_important_value")(spark, sf).collect()
    assert(v.nonEmpty && v.length < 200)
    val e = Relational2.queries("q20_excess_supplier")(spark, sf).collect()
    assert(e.map(_.getLong(0)).distinct.length == e.length)
  }

  test("planted-cluster IVF audits: non-vacuous and above the recall floor") {
    val sf = "/root/testdata/sf0.001"
    // the fixture actually separates: within-cluster cosine ≈ 0.8,
    // cross ≈ ±0.1·0.8 (doc'd derivation)
    val cc = Similarity.clusteredCorpus(spark, sf)
      .withColumn("g", col("vec_id") % 16)
    val pairs = cc.as("a").crossJoin(cc.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select((col("a.g") === col("b.g")).as("same"),
        Vectors.cosine(col("a.v"), col("b.v")).as("cos"))
      .groupBy(col("same")).agg(min(col("cos")).as("mn"),
        max(col("cos")).as("mx")).collect()
      .map(r => r.getBoolean(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(pairs(true)._1 > 0.6, s"within-cluster cos ${pairs(true)}")
    assert(pairs(false)._2 < 0.5, s"cross-cluster cos ${pairs(false)}")
    // the audits measure the index on this fixture: floor 0.9 at the
    // nprobe = 4/16 operating point (r13 ask 3 'done' criterion)
    val ivf = Similarity.queries("audit_sim_ivf_recall")(spark, sf).head
    assert(ivf.getAs[Long]("n_exact") > 0)
    assert(ivf.getAs[Double]("recall") >= 0.9, s"ivf recall $ivf")
    val ivfpq = Similarity.queries("audit_ivfpq_recall")(spark, sf).head
    assert(ivfpq.getAs[Double]("recall") >= 0.9, s"ivfpq recall $ivfpq")
    // curve: monotone non-decreasing in nprobe, exact at nprobe = k
    val curve = Similarity.queries("audit_ivf_nprobe_curve")(spark, sf)
      .collect().map(r => r.getAs[Int]("nprobe") -> r.getAs[Double]("recall"))
    assert(curve.map(_._1).toSeq == Seq(1, 2, 4, 8, 16))
    curve.sliding(2).foreach { case Array((_, a), (_, b)) =>
      assert(b >= a - 1e-9, s"curve not monotone: $curve")
    }
    assert(curve.last._2 == 1.0, s"nprobe=k must be exact: $curve")
  }

  test("containment recall clears its stated floor at sf0.01 (df-asc prefixes under the cap)") {
    val r = Dedup.queries("audit_containment_recall")(spark,
      "/root/testdata/sf0.01").head
    assert(r.getAs[Long]("n_exact") > 0, s"anchor empty: $r")
    assert(r.getAs[Double]("recall") >= r.getAs[Double]("floor"),
      s"containment recall below floor: $r")
  }

  test("tight-ANN twin fixture: audit is non-vacuous and recall ≈ 1") {
    val sf = "/root/testdata/sf0.001"
    // twins plant pairs above τ = 0.9 (r13: the shipped embeddings
    // have none, so the audit read n_exact = 0 — vacuous)
    val r = Dedup.queries("audit_embedding_ann_tight_recall")(spark, sf)
      .head
    assert(r.getAs[Long]("n_exact") > 0, s"twin fixture empty: $r")
    assert(r.getAs[Double]("recall") >= 0.99, s"tight recall $r")
    // and the twins really are tight pairs of their originals: every
    // planted (−(id+1), id) pair is in the exact answer (twin ids are
    // negative — disjoint from any non-negative corpus, r14 advice)
    val exact = Dedup.exactCosinePairsOf(Dedup.embWithTwins(spark, sf), 0.9)
      .select(col("id_a"), col("id_b")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val planted = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") % 50 === 3).select(col("vec_id"))
      .collect().map(_.getLong(0))
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(exact.contains((-(id + 1L), id)),
        s"twin of $id below the tight τ")
    }
  }
}
