package graft.ops

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SparkSuite

/** Both sides of each graph size gate on the same input.
  * [[Graph.bfsHops]]: the driver-side rounds (default `cap`), the
  * [[Fixpoint]] loop (`cap = 0`) and a plain-Scala BFS give the same
  * rows, and both Spark sides the same schema. [[Graph.rankLoop]]: the
  * broadcast layout, the partitioned layout (`nodesCap = 0`) and a
  * plain-Scala PageRank give the same ranks. */
object GraphProps extends Properties("graph") with SparkSuite {
  import spark.implicits._

  // each case runs the loop on Spark: keep the count small
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  // ids 0..7 in the graph, seeds from 0..9: duplicate pairs, self-loops,
  // duplicate seeds and seeds outside the graph all come up often
  private val pairGen: Gen[List[(Long, Long)]] = Gen.oneOf(Gen.const(Nil),
    Gen.listOf(Gen.oneOf(
      for (a <- Gen.choose(0L, 7L); b <- Gen.choose(0L, 7L)) yield (a, b),
      Gen.choose(0L, 7L).map(a => (a, a)))))
  private val seedGen: Gen[List[Long]] = Gen.listOf(Gen.choose(0L, 9L))

  /** Every seed row at hop 0, then each node at the round that first
    * reaches it, over both directions of every pair. */
  private def reference(pairs: Seq[(Long, Long)], seeds: Seq[Long],
      rounds: Int): Seq[(Long, Int)] = {
    val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    val seen = scala.collection.mutable.Set(seeds: _*)
    var frontier = seeds.distinct
    val hops = (1 to rounds).flatMap { r =>
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct
        .filterNot(seen)
      seen ++= frontier
      frontier.map(_ -> r)
    }
    (seeds.map(_ -> 0) ++ hops).sorted
  }

  property("bfsHops: driver rounds == Fixpoint loop == plain BFS") =
    forAll(pairGen, seedGen, Gen.choose(1, 4)) { (pairs, seeds, rounds) =>
      val p = pairs.toDF("id_a", "id_b")
      val s = seeds.map(Tuple1(_)).toDF("node")
      val local = Graph.bfsHops(p, "id_a", "id_b", s, rounds)
      val loop = Graph.bfsHops(p, "id_a", "id_b", s, rounds, cap = 0)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq.sorted
      local.schema == loop.schema &&
        rows(local) == reference(pairs, seeds, rounds) &&
        rows(loop) == rows(local)
    }

  property("pageRank: broadcast layout == partitioned layout == plain " +
      "Scala") =
    forAll(pairGen, Gen.oneOf(false, true),
        Gen.option(Gen.nonEmptyListOf(Gen.choose(0L, 9L))),
        Gen.choose(1, 5)) { (pairs, both, seeds, iterations) =>
      val edges = if (both) pairs ++ pairs.map(_.swap) else pairs
      val e = edges.toDF("src", "dst")
      val s = seeds.map(_.map(Tuple1(_)).toDF("node"))
      def ranks(nodesCap: Long) = Graph.rankLoop(e, s, Graph.Damping,
          iterations, nodesCap)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = PageRankReference(edges, seeds, iterations)
      def close(got: Map[Long, Double]) = got.keySet == want.keySet &&
        got.forall { case (v, r) => math.abs(r - want(v)) < 1e-12 }
      close(ranks(Graph.BroadcastNodesCap)) && close(ranks(0L))
    }
}

/** [[Graph.rankLoop]]'s documented recurrence in plain Scala, over the
  * edge list as given (duplicates and self-loops count): nodes src ∪
  * dst, teleport (1−d)/k on each of the k distinct seeds (every node
  * when `seeds` is None), shares and ranks rounded to 12 dp, a node with
  * no in-edge at its teleport share, nothing passed on from a sink. */
private[ops] object PageRankReference {
  import scala.math.BigDecimal.RoundingMode.HALF_UP

  def apply(edges: Seq[(Long, Long)], seeds: Option[Seq[Long]],
      iterations: Int): Map[Long, Double] = {
    def dp12(x: Double) = BigDecimal(x).setScale(12, HALF_UP)
    val d = Graph.Damping
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.toSet
    val sd = seeds.fold(nodes)(_.toSet)
    val outDeg = edges.groupMapReduce(_._1)(_ => 1)(_ + _)
    def tp(v: Long) = if (sd(v)) (1.0 - d) / sd.size else 0.0
    var rank = nodes.map(v => v -> dp12(if (sd(v)) 1.0 / sd.size else 0.0)
      .toDouble).toMap
    for (_ <- 1 to iterations) {
      val share = outDeg.map { case (v, o) => v -> dp12(rank(v) / o) }
      val in = edges.groupMapReduce(_._2)(e => share(e._1))(_ + _)
      rank = nodes.map(v => v -> dp12(tp(v) +
        d * in.getOrElse(v, BigDecimal(0)).toDouble).toDouble).toMap
    }
    rank
  }
}
