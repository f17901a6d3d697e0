package graft

import org.apache.spark.sql.SparkSession

/** The shared test session: the mains' config on a fixed `local[4]`, so
  * every machine and every exported bench setting tests the same thing,
  * with its own warehouse so a suite never clobbers a concurrent
  * `Verify`. */
trait SparkSuite {
  lazy val spark: SparkSession =
    Sessions.local("local[4]", "/tmp/graft_warehouse_test")

  /** RDDs the session holds in storage (cached or checkpointed). Spark
    * keeps them in a weak map, so a GC can only lower the count. */
  def pinned: Int = spark.sparkContext.getPersistentRDDs.size
}
