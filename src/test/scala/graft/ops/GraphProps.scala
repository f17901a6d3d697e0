package graft.ops

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.SparkSuite

/** Both sides of [[Graph.bfsHops]]'s size gate on the same input: the
  * driver-side rounds (default `cap`), the [[Fixpoint]] loop (`cap = 0`)
  * and a plain-Scala BFS give the same rows, and both Spark sides the
  * same schema. */
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
}
