package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The contract of [[Fixpoint.run]]: its checkpoint cadence, which
  * checkpoints it releases and which it leaves to the caller, asset
  * cleanup on failure, and early stopping. */
class FixpointSpec extends AnyFunSuite with SparkSuite {

  /** The id of the RDD a checkpointed frame reads, if it is one. */
  private def ckptRdd(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => Some(r.rdd.id)
      case _ => None
    }

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def plusOne(df: DataFrame, r: Int): DataFrame =
    df.select((col("x") + 1).as("x"))

  private def xs(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("checkpoints at rounds every, 2·every, … and at the last one") {
    val seen = Seq.newBuilder[(Int, Boolean)]
    val res = Fixpoint.run(spark.range(3).toDF("x"), 7, every = 3) {
      (df, r) =>
        seen += r -> ckptRdd(df).isDefined
        plusOne(df, r)
    }
    // round r reads the state of round r − 1: checkpoints after 3 and 6
    assert(seen.result() == (1 to 7).map(r => r -> (r == 4 || r == 7)))
    assert(ckptRdd(res.state).isDefined && !res.converged)
    assert(xs(res.state) == Seq(7L, 8L, 9L))
  }

  // a GC or Spark's context cleaner may drop unreachable RDDs from the
  // set meanwhile, so these compare the RDDs that appeared, not the set
  test("only the returned checkpoint outlives the loop; init stays readable") {
    val init = spark.range(3).toDF("x").localCheckpoint()
    val before = persisted
    Seq(1, 2).foreach { every =>
      val res = Fixpoint.run(init, 6, every)(plusOne)
      assert(persisted -- before == ckptRdd(res.state).toSet, s"every $every")
      assert(xs(res.state) == Seq(6L, 7L, 8L))
      assert(xs(init) == Seq(0L, 1L, 2L))
      org.apache.spark.sql.GraftBridge.release(res.state)
    }
    assert(persisted -- before == Set.empty)
  }

  test("a step that throws releases the assets and the loop's checkpoints") {
    val before = persisted
    val cached = spark.range(10).toDF("x")
      .persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    val ckpt = spark.range(5).toDF("x").localCheckpoint()
    val err = intercept[IllegalStateException] {
      Fixpoint.run(spark.range(3).toDF("x"), 5,
          assets = Seq(cached, ckpt)) { (df, r) =>
        if (r == 2) throw new IllegalStateException("round 2")
        plusOne(df, r)
      }
    }
    assert(err.getMessage == "round 2")
    assert(cached.storageLevel == StorageLevel.NONE)
    assert(persisted -- before == Set.empty)
  }

  test("until stops at the first checkpoint that satisfies it, and says so") {
    var rounds = 0
    val res = Fixpoint.run(spark.range(3).toDF("x"), 10,
        until = df => xs(df).max >= 5) { (df, r) =>
      rounds = r
      plusOne(df, r)
    }
    assert(res.converged && rounds == 3)
    assert(xs(res.state) == Seq(3L, 4L, 5L))
    val never = Fixpoint.run(spark.range(3).toDF("x"), 2,
      until = _ => false)(plusOne)
    assert(!never.converged && xs(never.state) == Seq(2L, 3L, 4L))
  }
}
