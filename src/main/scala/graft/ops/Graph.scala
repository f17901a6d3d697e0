package graft.ops

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import Q._

/** Iterative graph analytics on DataFrames — the domain-quality-
  * weighting pattern web-corpus curation uses (rank domains by link
  * structure, weight documents by their domain's score). Connected
  * components live in [[Dedup.components]]; this adds fixed-iteration
  * PageRank and degree profiling over the supplier–part bipartite graph
  * induced by `lineitem`.
  *
  * PageRank, uniform or personalized, is one recurrence ([[rankLoop]])
  * over the node set src ∪ dst. Each round is one EDGE-sized equi-join
  * of the persisted edge asset with the node-sized contribution frame
  * (rank/deg, DECIMAL-cast once per node) and one `groupBy(dst)` whose
  * partial aggregation combines contributions map-side. The rank frame
  * is the [[Fixpoint]] state, so its checkpoints are node-sized.
  *
  * Determinism: per-iteration contributions are summed with the
  * [[Q.dsum]] DECIMAL trick (order-independent), and each iteration's
  * rank is rounded to 12 decimals, so Spark and the DuckDB oracle (ten
  * chained CTEs, generated by the same loop) agree bit-for-bit.
  */
object Graph {

  val Damping = 0.85
  val Iterations = 10

  /** Below this node count the per-iteration contribution frame (node,
    * rank/deg — ~25 bytes/row) is broadcast: ~125 MB at the cap, and
    * the million-times-larger edge list never moves. Above it, the
    * edge list is persisted pre-partitioned and pre-sorted on `src`
    * once, so each iteration's sort-merge join shuffles only the
    * node-sized contribution frame. */
  val BroadcastNodesCap = 5000000L

  /** Both directions of every (a, b) pair as (src, dst), in ONE pass
    * over the pairs: a union(pairs, pairs.reverse) would execute the
    * pair subtree twice (self-union has no subtree reuse guarantee). */
  private def bidirectional(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(explode(array(
        struct(col(a).as("src"), col(b).as("dst")),
        struct(col(b).as("src"), col(a).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Undirected supplier–part edges: distinct (l_suppkey, l_partkey)
    * pairs, both directions. Node ids stay LONG end to end — supplier
    * k → 2k, part k → 2k+1 — because every per-iteration join and
    * aggregate hashes/compares the node id: long keys keep those
    * operations in primitive codegen and halve the shuffled bytes vs
    * the 'S'/'P'-prefixed display strings (which cost ~0.3 s/iteration
    * at sf0.1 before this change). */
  private def edgeList(s: SparkSession, dir: String): DataFrame = {
    // repartition by the distinct keys BEFORE distinct: the dedup then
    // reuses this exchange (guide §2.4 — same keys, same partition
    // count) so the exchange count is unchanged, but the 600k-row hash
    // dedup runs across the session's cores instead of as the map-side
    // partial aggregate inside the ONE-row-group scan task (every test
    // SF table is a single parquet row group — unsplittable). Guarded
    // (r15 verdict): on already-parallel layouts spreadBy no-ops so
    // distinct keeps its map-side partial dedup — the unguarded form
    // shuffled raw pre-dedup rows at every scale.
    val li = Q.spreadBy(t(s, dir, "lineitem")
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p")),
        col("s"), col("p"))
      .distinct()
      .select((col("s") * 2).as("a"), (col("p") * 2 + 1).as("b"))
    bidirectional(li, "a", "b")
  }

  /** Fixed-iteration PageRank over a directed (src, dst) edge list: the
    * personalized recurrence of [[rankLoop]] with every node a seed. */
  def pageRank(edges: DataFrame, damping: Double = Damping,
      iterations: Int = Iterations): DataFrame =
    rankLoop(edges, None, damping, iterations)

  /** Personalized PageRank: the (1−d) teleport mass is split over
    * `seeds` (node) only, uniform over the distinct seed set, so rank
    * measures proximity to the seeds. A seed that is not a node of the
    * graph still counts in |seeds| and receives nothing. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      damping: Double = Damping,
      iterations: Int = Iterations): DataFrame =
    rankLoop(edges, Some(seeds), damping, iterations)

  /** The one PageRank recurrence, returning (node, rank).
    *
    * Nodes are src ∪ dst. With k seeds (every node when `seeds` is
    * None), a seed's teleport share is tp = (1−d)/k and every other
    * node's is 0; the start rank is round(1/k, 12) on a seed and 0
    * elsewhere. Each round a node's rank is round(tp + d·Σ c, 12) over
    * its in-edges, where an edge from u carries c = rank(u)/outdeg(u)
    * cast to DECIMAL(18,12). A node with no in-edge holds round(tp, 12)
    * after the first round. A sink (no out-edge) passes nothing on: the
    * mass that reaches it leaves the graph, so ranks sum to 1 only when
    * every node has an out-edge (as on a bidirectional list) and every
    * seed is a node.
    *
    * Layout, chosen by node count against `nodesCap`: at or below it
    * the edge asset is hash-partitioned on `dst` and the contribution
    * frame is broadcast, so a round is one broadcast-hash join and one
    * exchange-free aggregate (a broadcast join keeps the streamed side's
    * partitioning); above it the asset is partitioned and sorted on
    * `src`, so a round's sort-merge join shuffles only the contribution
    * frame. The step body is the same on both sides: the edge asset
    * carries the destination's out-degree (and, personalized, its
    * teleport share), so the aggregate rebuilds the whole rank state. */
  private[ops] def rankLoop(edges: DataFrame, seeds: Option[DataFrame],
      damping: Double, iterations: Int,
      nodesCap: Long = BroadcastNodesCap): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e0 = edges.select(col("src"), col("dst")).persist(lvl)
    // out-degree (0 for a sink) and in-edge flag of every endpoint, in
    // one aggregate over both ends of each edge
    val deg = e0.select(explode(array(
        struct(col("src").as("node"), lit(1L).as("o"), lit(0).as("i")),
        struct(col("dst").as("node"), lit(0L).as("o"), lit(1).as("i"))))
        .as("x"))
      .groupBy(col("x.node").as("node"))
      .agg(sum(col("x.o")).as("deg"), max(col("x.i")).as("has_in"))
    val sd = seeds.map(_.select(col("node")).distinct())
    val nodes = sd.fold(deg.withColumn("seed", lit(true)))(s =>
        deg.join(s.withColumn("seed", lit(true)), Seq("node"), "left"))
      .select(col("node"), col("deg"), col("has_in"),
        coalesce(col("seed"), lit(false)).as("seed"))
      .persist(lvl)
    // |nodes| and |edges| are bounded driver scalars (counts, not data
    // volume) — the same stance as the components convergence check
    val Row(n: Long, m: Long, nSources: Long) = nodes.agg(count(lit(1)),
      coalesce(sum(col("deg")), lit(0L)),
      count(when(col("has_in") === 0, 1))).first()
    val k = sd.fold(n)(_.count())
    // an empty seed set would make every teleport share (1−d)/k
    // Infinity and the whole rank vector NaN — fail loudly instead
    require(sd.isEmpty || k > 0,
      "personalized PageRank needs a non-empty seed set")
    val small = n <= nodesCap
    def maybeB(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val tp = when(col("seed"), lit((1.0 - damping) / k)).otherwise(lit(0.0))
    // the edge asset carries what the aggregate needs of its dst; the
    // uniform teleport share stays a literal (a per-edge share measured
    // ~10 % slower there)
    val (dstCols, teleport) =
      if (sd.isEmpty) (Nil, lit((1.0 - damping) / k))
      else (Seq(tp.as("dtp")), max(col("dtp")))
    val ed0 = e0.join(maybeB(nodes.select(col("node").as("dst") +:
      col("deg").as("ddeg") +: dstCols: _*)), Seq("dst"))
    val ed = if (small) {
      // size iteration tasks by data, not by default parallelism: ten
      // join+agg stages over 32 near-empty partitions pay 10×32 task
      // launches for microseconds of compute each; too few partitions
      // serializes the join instead. ~120k edge rows (~2 MB) per task
      // balances the two.
      ed0.repartition(math.max(4, math.min(64, (m / 120000L).toInt)),
        col("dst"))
    } else ed0.repartition(col("src")).sortWithinPartitions("src")
    ed.persist(lvl).count()
    e0.unpersist(blocking = false)
    val sources = nodes.filter(col("has_in") === 0)
      .select(col("node"), round(tp, 12).as("rank"), col("deg"))
    val init = nodes.select(col("node"),
      round(when(col("seed"), lit(1.0 / k)).otherwise(lit(0.0)), 12)
        .as("rank"), col("deg"))
    // node-sized state, read once per round: [[Fixpoint]]'s every = 4
    Fixpoint.run(init, iterations, every = 4,
        assets = Seq(ed, nodes)) { (ranks, _) =>
      // scale-12 cast: same rounding as a wider decimal, but the sum
      // accumulator stays in compact-long range (sums < 10^6)
      val contrib = ranks.filter(col("deg") > 0).select(col("node"),
        (col("rank") / col("deg")).cast(DecimalType(18, 12)).as("contrib"))
      ed.join(maybeB(contrib), ed("src") === contrib("node"))
        .groupBy(col("dst"))
        .agg((teleport + lit(damping) *
          sum(col("contrib")).cast(DoubleType)).as("rr"),
          max(col("ddeg")).as("deg"))
        .select(col("dst").as("node"), round(col("rr"), 12).as("rank"),
          col("deg"))
        // without sources (any bidirectional list) the union would only
        // add a scan of the node frame to every round
        .transform(r => if (nSources > 0) r.union(sources) else r)
    }.state.select(col("node"), col("rank"))
  }

  /** DuckDB mirror of [[personalizedPageRank]]: chained CTEs from the
    * same loop — seed-uniform teleport via a LEFT-JOINed vector. */
  private def pprSql(damping: Double, iterations: Int): String = {
    val header =
      """WITH li AS (
        |  SELECT DISTINCT l_suppkey * 2 AS a,
        |    l_partkey * 2 + 1 AS b FROM lineitem),
        |edges AS (SELECT a AS src, b AS dst FROM li
        |  UNION ALL SELECT b, a FROM li),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |sd AS (SELECT DISTINCT s_suppkey * 2 AS node FROM supplier
        |  WHERE s_nationkey = 3),
        |kk AS (SELECT count(*) AS k FROM sd),
        |tpv AS (SELECT d.src AS node,
        |    CASE WHEN sd.node IS NOT NULL
        |      THEN CAST(%TP% AS DOUBLE) / kk.k ELSE 0.0 END AS tp
        |  FROM deg d LEFT JOIN sd ON d.src = sd.node CROSS JOIN kk),
        |r0 AS (SELECT node,
        |    round(CASE WHEN tp > 0
        |      THEN CAST(1.0 AS DOUBLE) / (SELECT k FROM kk)
        |      ELSE 0.0 END, 12) AS rank
        |  FROM tpv)""".stripMargin
        .replace("%TP%", (1.0 - damping).toString)
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT t.node,
         |    round(t.tp + coalesce(w.walk, 0), 12) AS rank
         |  FROM tpv t LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST($damping AS DOUBLE) *
         |        CAST(sum(CAST(p.rank / d.deg AS DECIMAL(18,12)))
         |          AS DOUBLE) AS walk
         |    FROM edges e
         |    JOIN r${i - 1} p ON e.src = p.node
         |    JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) w ON w.node = t.node)""".stripMargin
    }.mkString(",\n")
    s"""$header,
       |$iters
       |SELECT node, round(rank, 8) AS rank FROM r$iterations
       |ORDER BY rank DESC, node LIMIT 50""".stripMargin
  }

  /** The DuckDB mirror of [[pageRank]]: ten chained CTEs generated by
    * the same loop, same DECIMAL sum and per-iteration rounding. */
  private def pageRankSql(damping: Double, iterations: Int): String = {
    val header =
      """WITH li AS (
        |  SELECT DISTINCT l_suppkey * 2 AS a,
        |    l_partkey * 2 + 1 AS b FROM lineitem),
        |edges AS (SELECT a AS src, b AS dst FROM li
        |  UNION ALL SELECT b, a FROM li),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM deg),
        |r0 AS (SELECT src AS node, round(CAST(1.0 AS DOUBLE) / n, 12) AS rank
        |  FROM deg CROSS JOIN nn)""".stripMargin
    // bare numeric literals are DECIMAL in DuckDB — cast to DOUBLE so
    // both engines do the identical IEEE ops (Spark literals are DOUBLE)
    val tp = 1.0 - damping
    val iters = (1 to iterations).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |    round(CAST($tp AS DOUBLE) / nn.n + CAST($damping AS DOUBLE) *
         |      CAST(sum(CAST(p.rank / d.deg AS DECIMAL(18,12))) AS DOUBLE),
         |      12) AS rank
         |  FROM edges e
         |  JOIN r${i - 1} p ON e.src = p.node
         |  JOIN deg d ON e.src = d.src
         |  CROSS JOIN nn
         |  GROUP BY e.dst, nn.n)""".stripMargin
    }.mkString(",\n")
    s"""$header,
       |$iters
       |SELECT node, round(rank, 8) AS rank FROM r$iterations
       |ORDER BY node""".stripMargin
  }

  /** Per-node triangle counts over an undirected edge list given as
    * unique (a, b) pairs. Edges are oriented toward the (degree, id)-
    * larger endpoint first — the classic skew hardening: every triangle
    * then has exactly one apex with out-edges to the other two corners,
    * and a hub of degree D contributes wedges from its LOW-degree
    * neighbors instead of D²/2 pairs of its own. Three equi-joins, no
    * driver-side state; each triangle is counted exactly once because
    * the wedge-closing edge exists in only one orientation. */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = pairs.select(col(aCol).cast(LongType).as("a"),
      col(bCol).cast(LongType).as("b"))
    val deg = e.select(col("a").as("n"))
      .union(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // keep the destination's degree on the directed edge: the wedge
    // join below uses it to emit each unordered out-neighbor pair ONCE
    // (ordered by the same (degree, id) total order), halving the
    // largest intermediate of the whole computation
    val dir = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"),
          col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
    // wedge (v, w) with v before w in the orientation order — exactly
    // the order in which the closing edge v→w exists, so the closing
    // inner join needs no mirror candidates
    val tri = dir
      .join(dir.select(col("u"), col("v").as("w"), col("dv").as("dw")), "u")
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .join(dir.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Semi-supervised label propagation: seed nodes carry a fixed
    * label; every other node adopts, each round, the majority label of
    * its labeled neighbors (tie → smaller label), keeping its previous
    * label when no neighbor is labeled yet. The data-labeling
    * primitive: spread a small set of human/heuristic labels over a
    * similarity graph instead of paying for labels everywhere.
    *
    * `nodes` = (node, seed_label nullable); `pairs` = undirected
    * unique (a, b) edges. Each iteration is one edge-sized equi-join +
    * a majority aggregate with map-side partial counts + a per-node
    * bounded window — the same shuffle shape and the same [[Fixpoint]]
    * cadence as a PageRank round. */
  def labelPropagation(nodes: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String, iterations: Int): DataFrame = {
    // persist the edge frame: every iteration joins it, and the pair
    // source may itself be an expensive plan (an exact-cosine anchor
    // or an LSH band join) that must not re-execute per round — the
    // same static-asset stance as pageRank's edge list.
    // NOT dst-partitioned: the r16 A/B measured the pageRank-style
    // dst-layout (exchange-free vote agg + window) at 0.85× @32c /
    // 1.05× @4c — with only 2-4 iterations the entry repartition +
    // double materialization costs more than the tiny per-round
    // exchanges it removes. See OPTIMIZATION_r16.md.
    val ed = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // node-sized state, read once per round: [[Fixpoint]]'s every = 4
    Fixpoint.run(nodes.withColumn("label", col("seed_label")), iterations,
        every = 4, assets = Seq(ed)) { (labels, _) =>
      val votes = ed
        .join(labels.select(col("node").as("src"), col("label").as("nl")),
          "src")
        .filter(col("nl").isNotNull)
        .groupBy(col("dst"), col("nl")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst")).orderBy(col("c").desc, col("nl"))
      val maj = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("nl").as("mlabel"))
      labels.join(maj, Seq("node"), "left")
        .select(col("node"), col("seed_label"),
          when(col("seed_label").isNotNull, col("seed_label"))
            .otherwise(coalesce(col("mlabel"), col("label"))).as("label"))
    }.state.select(col("node"), col("label"),
      col("seed_label").isNotNull.as("is_seed"))
  }

  /** Seed frame shared by the label-propagation variants: every fifth
    * vector keeps its true label, the rest start unlabeled. */
  private def lpNodes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id").as("node"),
        when(col("vec_id") % 5 === 0, col("label")).as("seed_label"))

  /** Effective τ for the similarity-graph family: the analyst's 0.2
    * below the tuned corpus size, density-governed above it
    * ([[Dedup.adaptiveTau]] — the r7 3× probe showed the EDGE SET at
    * fixed τ=0.2 growing 5.8–6.4× on 3× data because the answer is
    * quadratic in corpus size at fixed τ). Shared by the ANN pair
    * source and the audits' exact anchors so agreement stays
    * apples-to-apples at every scale point. */
  private def lpTau(s: SparkSession, dir: String): Double =
    Dedup.memoTau(s, dir, 0.2)

  /** `loop` over the scale-path pair source of the similarity-graph
    * family: multiprobe LSH band join at the same τ = 0.2 the exact
    * anchor uses. At this loose threshold a pair collides per 5-bit
    * table with p = (1−acos(.2)/π)⁵ ≈ 0.057; multiprobe lifts the
    * per-table hit to p⁵ + 5p⁴(1−p) ≈ 0.28, so 24 tables leave a
    * per-pair miss of ≈ 0.722²⁴ ≈ 4·10⁻⁴ at half the band fan-out of
    * the τ=0.45 default config. The pairs' checkpoint is released once
    * `loop` returns: [[labelPropagation]] and [[kCore]] return a
    * checkpoint of their own, so nothing reads the pairs after that. */
  private def onAnnPairs(s: SparkSession, dir: String)(
      loop: DataFrame => DataFrame): DataFrame = {
    val emb = t(s, dir, "embeddings")
    // 24×5 is tuned (agreement 1.0) at ≤5k vectors; widen the bands
    // past that so bucket size stays bounded — the 3× scale probe
    // measured 9.7× runtime growth with the width left fixed. MIXED
    // widths ([[Dedup.adaptiveWidths]], r14 verdict ask 2): the
    // integer-step policy let occupancy oscillate 2× between corpus
    // doublings; the fractional table split holds it constant.
    val (bl, kh) = Dedup.adaptiveWidths(5, emb.count(), 5000L, 24)
    val pairs = Dedup.embeddingNearDupPairs(emb, "vec_id",
      "embedding", lpTau(s, dir), tables = 24, bits = bl,
      multiprobe = true, kHigh = kh)
    try loop(pairs)
    finally GraftBridge.release(pairs)
  }

  /** k-core decomposition by iterative peeling: drop nodes whose degree
    * is below k, repeat — what survives is the maximal subgraph where
    * everyone keeps ≥ k neighbors. On a similarity graph this extracts
    * the DENSE semantic clusters (boilerplate families, template
    * swarms) that near-dup pair lists only hint at. Each round is one
    * degree aggregate (map-side partial) + two equi-joins of the edge
    * list against the node-sized survivor set (broadcast below the
    * node cap) — the same shuffle shape as a PageRank round, with the
    * edge list SHRINKING monotonically. `rounds` is fixed so the
    * DuckDB oracle (same loop, chained CTEs) matches per-round even
    * short of the fixpoint; [[Fixpoint]] keeps arbitrary depths
    * plan-bounded. */
  def kCore(pairs: DataFrame, idA: String, idB: String, k: Int,
      rounds: Int): DataFrame = {
    // Loop state is the shrinking edge list: node-set-only state
    // re-scanned the FULL round-0 edge list every round (50 s at the 3×
    // probe — the peel exists precisely because the edge list shrinks).
    val e0 = bidirectional(pairs, idA, idB).localCheckpoint()
    // `keep` is node-sized, but a checkpointed frame has no stats, so
    // the planner would default the survivor joins to sort-merge —
    // re-sorting the edge list twice per round. Broadcast whenever the
    // node set fits the node cap: every node of this bidirectional list
    // is the src of an edge, so the edge count bounds every round's
    // node count (the peel only shrinks) — one conservative count.
    val nodeBound = e0.count()
    def maybeB(df: DataFrame): DataFrame =
      if (nodeBound <= BroadcastNodesCap) broadcast(df) else df
    // each round reads the edge list three times: [[Fixpoint]]'s every = 1
    val e = Fixpoint.run(e0, rounds, assets = Seq(e0)) { (e, _) =>
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src"))
      e.join(maybeB(keep), Seq("src"))
        .join(maybeB(keep.withColumnRenamed("src", "dst")), Seq("dst"))
    }.state
    val out = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .localCheckpoint()
    GraftBridge.release(e)
    out
  }

  /** Multi-source BFS: minimum hop distance from a seed set, expanded
    * `rounds` frontiers — "how far is every record from a trusted
    * seed?" (provenance radius over an entity graph, contamination
    * blast-radius over a similarity graph). Same pair-source-agnostic
    * stance as [[labelPropagation]]/[[kCore]]: feed it blocked fuzzy
    * pairs, LSH band pairs, or exact anchors.
    *
    * One bounded collect brings the pairs and the seeds to the driver,
    * at most `cap + 1` rows. When at most `cap` come back, the rounds run
    * there over adjacency arrays ([[bfsLocal]]) and the result is a local
    * relation: building the frame starts no further job. Otherwise the
    * rounds run as a frontier-based [[Fixpoint]] loop: each round joins
    * the edge list against ONLY the nodes first reached last round
    * (never the whole reached set), so per-round work tracks the
    * frontier size; the reached set grows monotonically and the
    * `left_anti` novelty check is a node-sized join. The reached set is
    * checkpointed every round — the anti-join re-reads materialized
    * rows, not a growing plan; it recomputes the pairs the collect
    * read. Both paths give the same rows and schema.
    *
    * `seeds` = (node); every seed row is kept at hop 0, and unreached
    * nodes are absent from the output. */
  def bfsHops(pairs: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, rounds: Int, cap: Int = BfsLocalCap): DataFrame = {
    val ab = pairs.select(col(aCol).cast(LongType).as("a"),
      col(bCol).cast(LongType).as("b"))
    val seed0 = seeds.select(col("node").cast(LongType).as("node"),
      lit(0).as("dist"))
    // seed rows carry a null `b` and the flag
    val got = ab.select(col("a"), col("b"), lit(false))
      .union(seed0.select(col("node"), lit(null).cast(LongType), lit(true)))
      .limit(cap + 1).collect()
    if (got.length <= cap) {
      val nullable = Seq(seed0.schema("node"), ab.schema("a"), ab.schema("b"))
        .exists(_.nullable)
      pairs.sparkSession.createDataFrame(bfsLocal(got, rounds).asJava,
        StructType(Seq(StructField("node", LongType, nullable),
          StructField("dist", IntegerType, nullable = false))))
    } else {
      // NOT dst-partitioned: the r16 A/B measured the pageRank-style
      // dst-layout (exchange-free frontier distinct) at 0.80× @32c /
      // 0.97× @4c — three node-sized rounds don't amortize an entry
      // repartition + double materialization. See OPTIMIZATION_r16.md.
      val ed = bidirectional(ab, "a", "b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val seeds0 = seed0.localCheckpoint()
      // reached set with its hop, read twice a round: [[Fixpoint]]'s every = 1
      Fixpoint.run(seeds0, rounds, assets = Seq(ed, seeds0)) { (dist, r) =>
        val novel = ed
          .join(dist.filter(col("dist") === r - 1)
            .select(col("node").as("src")), "src")
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .select(col("node"), lit(r).as("dist"))
        dist.union(novel)
      }.state
    }
  }

  /** [[bfsHops]]'s rounds on the driver over adjacency arrays, from its
    * collected (a, b, isSeed) rows, with the loop's rows: every seed row
    * at hop 0 (duplicates, nulls and seeds outside the graph included),
    * then each node at the round that first reaches it. A null id never
    * expands, and the loop's anti-join never matches it, so a null
    * neighbour comes back as (null, r) in every round r whose frontier
    * touches one. */
  private def bfsLocal(got: Array[Row], rounds: Int): Seq[Row] = {
    val (seedRows, edgeRows) = got.partition(_.getBoolean(2))
    def id(r: Row, i: Int) = Option.when(!r.isNullAt(i))(r.getLong(i))
    val adj = edgeRows
      .flatMap(r => Seq(id(r, 0) -> id(r, 1), id(r, 1) -> id(r, 0)))
      .collect { case (Some(u), v) => u -> v }.groupMap(_._1)(_._2)
    val seeds = seedRows.flatMap(id(_, 0))
    val reached = mutable.HashSet.from(seeds)
    var frontier = seeds.distinct.toSeq
    val hops = (1 to rounds).flatMap { r =>
      val nbrs = frontier.flatMap(adj.getOrElse(_, Array.empty[Option[Long]]))
        .distinct
      frontier = nbrs.flatten.filter(reached.add)
      (if (nbrs.contains(None)) Seq(Row(null, r)) else Nil) ++
        frontier.map(Row(_, r))
    }
    seedRows.toSeq.map(r => Row(r.get(0), 0)) ++ hops
  }

  /** Most rows (edge pairs plus seeds) [[bfsHops]] collects to run on the
    * driver. It bounds driver heap: a few hundred bytes per row for the
    * collected rows, the adjacency arrays and the result rows, under
    * 100 MB at the cap. */
  val BfsLocalCap = 1 << 18

  val BfsRounds = 3

  val KCoreK = 18
  val KCoreRounds = 8

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "graph_pagerank" -> { (s, dir) =>
      pageRank(edgeList(s, dir))
        .select(col("node"), round(col("rank"), 8).as("rank"))
        .orderBy(col("node"))
    },

    // personalized PageRank: teleport mass lands only on a SEED SET
    // (here: nation-3 suppliers) instead of uniformly — the relevance
    // score "importance as seen from these seeds" used for seed-based
    // corpus expansion and related-entity ranking. The same recurrence
    // as graph_pagerank ([[rankLoop]]), with the teleport share carried
    // on the edge asset. Top-50 by rank keeps the output focused on the
    // seed neighborhood.
    "graph_ppr" -> { (s, dir) =>
      val seeds = t(s, dir, "supplier")
        .filter(col("s_nationkey") === 3)
        .select((col("s_suppkey") * 2).as("node"))
      personalizedPageRank(edgeList(s, dir), seeds)
        .select(col("node"), round(col("rank"), 8).as("rank"))
        .orderBy(col("rank").desc, col("node"))
        .limit(50)
    },

    // degree distribution — the profiling pass that decides whether a
    // graph needs skew handling (a power-law tail → salt the hubs)
    "graph_degree_hist" -> { (s, dir) =>
      edgeList(s, dir)
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .groupBy(col("deg")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("deg"))
    },

    // label propagation over the cosine ≥ 0.2 similarity graph: every
    // fifth vector keeps its true label as the seed; two rounds of
    // majority spreading label the rest. Pairs come from the exact
    // cosine anchor so the oracle reproduces them; the LSH band join
    // (embeddingNearDupPairs) is the drop-in pair source at scale —
    // the propagation loop is agnostic to where pairs came from.
    "graph_label_prop" -> { (s, dir) =>
      labelPropagation(lpNodes(s, dir),
        Dedup.exactCosinePairs(s, dir, 0.2), "id_a", "id_b", 2)
        .orderBy(col("node"))
    },

    // the 100 TB form of the same propagation: pairs from the
    // multiprobe LSH band equi-join instead of the O(n²) exact-cosine
    // anchor — the loop is agnostic to the pair source, so this is the
    // drop-in scale path. Rows-only (LSH recall < 1 can flip a
    // majority vote); audit_label_prop_agreement below tracks per-node
    // agreement with the exact anchor each round.
    "graph_label_prop_ann" -> { (s, dir) =>
      onAnnPairs(s, dir)(labelPropagation(lpNodes(s, dir), _,
        "id_a", "id_b", 2))
        .orderBy(col("node"))
    },

    // fraction of nodes whose ANN-propagated label equals the exact
    // anchor's (null = null counts as agreement — both variants leaving
    // a node unlabeled IS the same answer). Rows-only by design — this
    // row is the measurement.
    "audit_label_prop_agreement" -> { (s, dir) =>
      val exact = labelPropagation(lpNodes(s, dir),
          Dedup.exactCosinePairs(s, dir, lpTau(s, dir)), "id_a", "id_b", 2)
        .select(col("node"), col("label").as("exact_label"))
      val ann = onAnnPairs(s, dir)(labelPropagation(lpNodes(s, dir), _,
          "id_a", "id_b", 2))
        .select(col("node"), col("label").as("ann_label"))
      exact.join(ann, Seq("node"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("ann_label") <=> col("exact_label"), 1L)
            .otherwise(0L)).as("n_agree"))
        .select(col("n_nodes"), col("n_agree"),
          round(col("n_agree").cast(DoubleType) / col("n_nodes"), 4)
            .as("agreement"))
    },

    // k-core of the cosine ≥ 0.2 similarity graph (k=18 cascades over
    // ~6 peel rounds on this corpus — min degree is 13, so smaller k
    // converges instantly). Exact-cosine anchor pairs → the oracle
    // replays the identical 8 rounds as chained CTEs.
    "graph_kcore" -> { (s, dir) =>
      kCore(Dedup.exactCosinePairs(s, dir, 0.2), "id_a", "id_b",
        KCoreK, KCoreRounds)
        .orderBy(col("node"))
    },

    // the 100 TB form: pairs from the multiprobe LSH band equi-join —
    // peeling is pair-source-agnostic, so this registers the scale
    // path alongside the anchor from day one (label propagation
    // learned this the hard way in round 5). Rows-only: LSH recall < 1
    // lowers some degrees, which can peel a borderline node early.
    "graph_kcore_ann" -> { (s, dir) =>
      onAnnPairs(s, dir)(kCore(_, "id_a", "id_b", KCoreK, KCoreRounds))
        .orderBy(col("node"))
    },

    // core-membership agreement: Jaccard of the exact and ANN core
    // node sets (the measurement row for the approximation)
    "audit_kcore_agreement" -> { (s, dir) =>
      val exact = kCore(Dedup.exactCosinePairs(s, dir, lpTau(s, dir)),
        "id_a", "id_b", KCoreK, KCoreRounds).select(col("node"))
      val ann = onAnnPairs(s, dir)(kCore(_,
        "id_a", "id_b", KCoreK, KCoreRounds))
        .select(col("node").as("node_ann"))
      exact.join(ann, col("node") === col("node_ann"), "full_outer")
        .agg(count(col("node")).as("n_exact"),
          count(col("node_ann")).as("n_ann"),
          sum(when(col("node").isNotNull && col("node_ann").isNotNull, 1L)
            .otherwise(0L)).as("n_common"))
        .select(col("n_exact"), col("n_ann"), col("n_common"),
          round(col("n_common").cast(DoubleType) /
            (col("n_exact") + col("n_ann") - col("n_common")), 4)
            .as("jaccard"))
    },

    // multi-source BFS over the fuzzy-match entity graph: hop distance
    // from the trusted-seed set (every 50th part). The pair source is
    // already the BLOCKED scale path (equi-join on brand + banded
    // levenshtein — no all-pairs), so the one registered form is the
    // 100 TB form; oracle replays the same 3 frontier expansions as
    // chained CTEs.
    "graph_bfs_hops" -> { (s, dir) =>
      val part = t(s, dir, "part")
      val pairs = Linkage.fuzzyPairs(part,
        "p_partkey", "p_name", "p_brand", 2)
      val seeds = part.filter(col("p_partkey") % 50 === 0)
        .select(col("p_partkey").as("node"))
      bfsHops(pairs, "id_a", "id_b", seeds, BfsRounds)
        .orderBy(col("node"))
    },

    // per-node triangle participation on the fuzzy-match entity graph
    // (the supplier–part graph is bipartite — zero triangles by
    // construction — so the count runs on a graph that has them).
    // Orientation changes the join shape, never the answer: the oracle
    // counts the same triangles with the plain id-ordered triple join.
    "graph_triangles" -> { (s, dir) =>
      val pairs = Linkage.fuzzyPairs(t(s, dir, "part"),
        "p_partkey", "p_name", "p_brand", 2)
      triangleCounts(pairs, "id_a", "id_b")
        .orderBy(col("node"))
    },

    // Adamic–Adar link prediction over the supplier–part bipartite
    // graph (Adamic & Adar 2003): for each supplier pair, score
    // Σ_p 1/ln(deg(p)) over commonly-supplied parts — shared RARE
    // parts predict a link, shared commodity parts barely count. The
    // classic wedge-join shape: distinct edges (one shuffle), part
    // degrees (vocab-sized agg, broadcast back), pairs generated by the
    // part-keyed self-join so work is Σ_p deg(p)² — bounded per part,
    // never all-pairs; at 100 TB a power-law part would be capped or
    // salted exactly like the triangle count's (degree, id) orientation.
    // Per-wedge 1/ln(deg) is per-row double arithmetic; the pair score
    // is an order-independent decimal sum; top-50 by rounded score with
    // full tiebreak → TakeOrderedAndProject, no global sort.
    // The wedge generator runs under [[Scale.wedgeGovernor]]: the cap
    // (2048) is far above any sf degree, so the oracle is unchanged,
    // but a 100 TB power-law part can no longer put deg² rows in one
    // task — see `audit_wedge_cap` for what would be truncated.
    "graph_adamic_adar" -> { (s, dir) =>
      adamicAdar(t(s, dir, "lineitem"), "l_suppkey", "l_partkey")
    },

    // governor audit for the two wedge-join families: per pair source,
    // how many keys exceed the degree cap and how many wedge pairs the
    // governor's hash sample would drop. Zero at every test SF (the
    // cap is a governor, not a sampler, until real power-law skew
    // appears) — and exactly-zero is the oracle assertion that the
    // governor is semantically invisible at these scales.
    "audit_wedge_cap" -> { (s, dir) =>
      val cap = Scale.WedgeDegreeCap.toLong
      val capWedges = lit(cap * (cap - 1) / 2)
      def summary(degrees: DataFrame, family: String): DataFrame =
        degrees.agg(
          count(lit(1)).as("n_keys"),
          max(col("deg")).as("max_deg"),
          coalesce(sum(when(col("deg") > cap, 1L)), lit(0L))
            .as("n_keys_capped"),
          (sum(col("deg") * (col("deg") - 1)) / lit(2)).cast(LongType)
            .as("wedges_total"),
          coalesce(sum(when(col("deg") > cap,
              (col("deg") * (col("deg") - 1) / lit(2)).cast(LongType)
                - capWedges)), lit(0L))
            .as("wedges_dropped"))
          .select(lit(family).as("family"), col("n_keys"), col("max_deg"),
            col("n_keys_capped"), col("wedges_total"), col("wedges_dropped"))
      val li = t(s, dir, "lineitem")
      val aaDeg = li.select(col("l_suppkey").as("sup"),
          col("l_partkey").as("part")).distinct()
        .groupBy(col("part")).agg(count(lit(1)).as("deg"))
      val bkDeg = li.select(col("l_orderkey").as("okey"),
          col("l_partkey").as("part")).distinct()
        .groupBy(col("okey")).agg(count(lit(1)).as("deg"))
      summary(aaDeg, "aa_part").union(summary(bkDeg, "basket"))
        .orderBy(col("family"))
    }
  )

  /** Adamic–Adar top-`topK` (see the `graph_adamic_adar` entry above
    * for semantics). Factored out so OpsSpec can run it with a small
    * cap against a planted hot key. The 1/ln(deg) wedge weight always
    * uses the TRUE degree (computed before the governor), so governed
    * sampling reduces which wedges are counted for a hot key — never
    * the weight of the wedges that are. */
  def adamicAdar(lineitem: DataFrame, supCol: String, partCol: String,
      cap: Int = Scale.WedgeDegreeCap, topK: Int = 50): DataFrame = {
    // repartition by the distinct keys (the dedup reuses the exchange —
    // guide §2.4) so the 600k-row dedup runs across cores instead of
    // inside the one-row-group scan task, and materialize ONCE: the
    // edge list feeds both `deg` and the wedge join below, and without
    // the checkpoint the scan+distinct subtree executed twice per run
    // (~9 MB at sf0.1 — two longs per distinct pair). Guarded (r15
    // verdict): on already-parallel layouts spreadBy no-ops so distinct
    // keeps its map-side partial dedup.
    val edges = Q.spreadBy(lineitem
        .select(col(supCol).as("sup"), col(partCol).as("part")),
        col("sup"), col("part"))
      .distinct()
      .localCheckpoint()
    // small (per-part) frame, materialized once: it feeds the
    // broadcast, the governor filter AND the wedge-volume scalar below
    val deg = edges.groupBy(col("part"))
      .agg(count(lit(1)).as("deg")).filter(col("deg") >= 2)
      .localCheckpoint()
    val wedges = edges.join(broadcast(deg), "part")
      .filter(Scale.wedgeGovernor(col("part"), col("sup"), col("deg"), cap))
      .select(col("part"), col("sup"), col("deg"))
    // shuffle-hash, not sort-merge: the wedge self-join's output is
    // re-shuffled by (sup_a, sup_b) right after, so SMJ's two
    // edge-table sorts buy nothing — at 10× they spilled 9.5 GB. The
    // per-part hash groups are degree-capped by the governor, so the
    // build side always fits.
    val wedgeVolume = deg
      .agg(coalesce(sum(col("deg") * (col("deg") - 1) / 2), lit(0))
        .cast(LongType)).first.getLong(0)
    // the wedge-pair aggregation's state is ~|distinct supplier pairs|
    // — at 10× (87M wedges over 10k suppliers) that blew past the 32
    // session partitions' memory and fell back to 10 GB of sort spill.
    // Same fix as the containment count-filter: hash-repartition the
    // pairs on their own group keys into a volume-scaled partition
    // count (the groupBy reuses the partitioning), so per-task state
    // stays ~500k pairs no matter the corpus. Map-side combining loses
    // nothing: a pair's wedges arrive scattered across part partitions.
    val aggParts = math.max(
      lineitem.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      math.min(4096L, wedgeVolume / 500000L).toInt)
    wedges.alias("x")
      .join(wedges.alias("y").hint("shuffle_hash"),
        col("x.part") === col("y.part") && col("x.sup") < col("y.sup"))
      .repartition(aggParts, col("x.sup"), col("y.sup"))
      .groupBy(col("x.sup").as("sup_a"), col("y.sup").as("sup_b"))
      .agg(count(lit(1)).as("n_common"),
        round(dsum(lit(1.0) / log(col("x.deg"))), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("sup_a"), col("sup_b"))
      .limit(topK)
  }

  /** The DuckDB mirror of [[kCore]] over the exact-cosine pair source:
    * the same fixed peel rounds as chained CTEs. MATERIALIZED is
    * load-bearing — each round references its predecessor twice (the
    * HAVING scan and the edge filter), so default inlining would
    * re-derive the whole chain exponentially. */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val header =
      """WITH ev AS MATERIALIZED (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |pr AS MATERIALIZED (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id
        |  WHERE list_reduce(list_transform(range(1, len(a.v)+1),
        |      i -> a.v[i]*b.v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(range(1, len(a.v)+1),
        |        i -> a.v[i]*a.v[i]), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(range(1, len(b.v)+1),
        |        i -> b.v[i]*b.v[i]), (x,y) -> x+y))) >= 0.2),
        |e0 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION ALL SELECT id_b AS src, id_a AS dst FROM pr)""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      s""",
         |k$r AS MATERIALIZED (SELECT src FROM e${r - 1}
         |  GROUP BY src HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN k$r s ON e.src = s.src JOIN k$r d ON e.dst = d.src)""".stripMargin
    }.mkString
    header + roundsSql +
      s"\nSELECT src AS node, count(*) AS deg FROM e$rounds GROUP BY src ORDER BY node"
  }

  /** The DuckDB mirror of [[bfsHops]] on the fuzzy-pair graph: the same
    * fixed frontier expansions as chained CTEs (frontier r = neighbors
    * of frontier r−1 not yet in the reached set). */
  private def bfsSql(rounds: Int): String = {
    val header =
      """WITH p AS MATERIALIZED (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |ed AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |d0 AS MATERIALIZED (SELECT p_partkey AS node, 0 AS dist
        |  FROM part WHERE p_partkey % 50 = 0)""".stripMargin
    val roundsSql = (1 to rounds).map { r =>
      s""",
         |f$r AS MATERIALIZED (
         |  SELECT DISTINCT ed.dst AS node, $r AS dist
         |  FROM ed JOIN d${r - 1} f ON ed.src = f.node
         |    ${if (r == 1) "" else s"AND f.dist = ${r - 1}"}
         |  WHERE ed.dst NOT IN (SELECT node FROM d${r - 1})),
         |d$r AS MATERIALIZED (
         |  SELECT * FROM d${r - 1} UNION ALL SELECT * FROM f$r)""".stripMargin
    }.mkString
    header + roundsSql +
      s"\nSELECT node, dist FROM d$rounds ORDER BY node"
  }

  def oracleSql: Map[String, String] = Map(
    "audit_wedge_cap" ->
      s"""WITH aad AS (SELECT part, count(*) AS deg FROM (
         |    SELECT DISTINCT l_partkey AS part, l_suppkey AS sup
         |    FROM lineitem) GROUP BY part),
         |bkd AS (SELECT okey, count(*) AS deg FROM (
         |    SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
         |    FROM lineitem) GROUP BY okey),
         |u AS (SELECT 'aa_part' AS family, deg FROM aad
         |  UNION ALL SELECT 'basket', deg FROM bkd)
         |SELECT family, count(*) AS n_keys, max(deg) AS max_deg,
         |  CAST(coalesce(sum(CASE WHEN deg > ${Scale.WedgeDegreeCap}
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_keys_capped,
         |  CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS wedges_total,
         |  CAST(coalesce(sum(CASE WHEN deg > ${Scale.WedgeDegreeCap}
         |    THEN CAST(deg * (deg - 1) / 2 AS BIGINT)
         |      - ${Scale.WedgeDegreeCap.toLong * (Scale.WedgeDegreeCap - 1) / 2}
         |    END), 0) AS BIGINT) AS wedges_dropped
         |FROM u GROUP BY family ORDER BY family""".stripMargin,
    "graph_pagerank" -> pageRankSql(Damping, Iterations),
    "graph_ppr" -> pprSql(Damping, Iterations),
    "graph_bfs_hops" -> bfsSql(BfsRounds),
    "graph_kcore" -> kCoreSql(KCoreK, KCoreRounds),
    "graph_adamic_adar" ->
      """WITH edges AS (SELECT DISTINCT l_suppkey AS sup,
        |    l_partkey AS part FROM lineitem),
        |deg AS (SELECT part, count(*) AS deg FROM edges
        |  GROUP BY part HAVING count(*) >= 2),
        |w AS (SELECT e.part, e.sup, d.deg
        |  FROM edges e JOIN deg d USING (part))
        |SELECT x.sup AS sup_a, y.sup AS sup_b,
        |  count(*) AS n_common,
        |  round(CAST(sum(CAST(1.0 / ln(x.deg) AS DECIMAL(18,6)))
        |    AS DOUBLE), 6) AS aa_score
        |FROM w x JOIN w y ON x.part = y.part AND x.sup < y.sup
        |GROUP BY 1, 2
        |ORDER BY aa_score DESC, sup_a, sup_b LIMIT 50""".stripMargin,
    "graph_degree_hist" ->
      """WITH li AS (
        |  SELECT DISTINCT l_suppkey * 2 AS a,
        |    l_partkey * 2 + 1 AS b FROM lineitem),
        |edges AS (SELECT a AS src, b AS dst FROM li
        |  UNION ALL SELECT b, a FROM li),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)
        |SELECT deg, count(*) AS n_nodes FROM deg
        |GROUP BY deg ORDER BY deg""".stripMargin,
    // same two majority rounds, chained CTEs; the majority vote is
    // row_number over (count DESC, label) — identical tie-break
    "graph_label_prop" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_reduce(list_transform(range(1, len(a.v)+1),
        |      i -> a.v[i]*b.v[i]), (x,y) -> x+y)
        |    / (sqrt(list_reduce(list_transform(range(1, len(a.v)+1),
        |        i -> a.v[i]*a.v[i]), (x,y) -> x+y))
        |     * sqrt(list_reduce(list_transform(range(1, len(b.v)+1),
        |        i -> b.v[i]*b.v[i]), (x,y) -> x+y))) >= 0.2),
        |ed AS (SELECT id_a AS src, id_b AS dst FROM p
        |  UNION ALL SELECT id_b, id_a FROM p),
        |l0 AS (SELECT vec_id AS node,
        |    CASE WHEN vec_id % 5 = 0 THEN label END AS seed_label,
        |    CASE WHEN vec_id % 5 = 0 THEN label END AS label
        |  FROM embeddings),
        |m1 AS (SELECT dst, nl FROM (
        |    SELECT ed.dst, l.label AS nl, count(*) AS c,
        |      row_number() OVER (PARTITION BY ed.dst
        |        ORDER BY count(*) DESC, l.label) AS rn
        |    FROM ed JOIN l0 l ON ed.src = l.node
        |    WHERE l.label IS NOT NULL GROUP BY ed.dst, l.label)
        |  WHERE rn = 1),
        |l1 AS (SELECT l0.node, l0.seed_label,
        |    CASE WHEN l0.seed_label IS NOT NULL THEN l0.seed_label
        |         ELSE COALESCE(m1.nl, l0.label) END AS label
        |  FROM l0 LEFT JOIN m1 ON l0.node = m1.dst),
        |m2 AS (SELECT dst, nl FROM (
        |    SELECT ed.dst, l.label AS nl, count(*) AS c,
        |      row_number() OVER (PARTITION BY ed.dst
        |        ORDER BY count(*) DESC, l.label) AS rn
        |    FROM ed JOIN l1 l ON ed.src = l.node
        |    WHERE l.label IS NOT NULL GROUP BY ed.dst, l.label)
        |  WHERE rn = 1),
        |l2 AS (SELECT l1.node, l1.seed_label,
        |    CASE WHEN l1.seed_label IS NOT NULL THEN l1.seed_label
        |         ELSE COALESCE(m2.nl, l1.label) END AS label
        |  FROM l1 LEFT JOIN m2 ON l1.node = m2.dst)
        |SELECT node, label, seed_label IS NOT NULL AS is_seed
        |FROM l2 ORDER BY node""".stripMargin,
    "graph_triangles" ->
      """WITH p AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |tri AS (
        |  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        |  FROM p e1 JOIN p e2 ON e1.id_b = e2.id_a
        |  JOIN p e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
        |n AS (SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, count(*) AS n_triangles FROM n
        |GROUP BY node ORDER BY node""".stripMargin
  )
}
