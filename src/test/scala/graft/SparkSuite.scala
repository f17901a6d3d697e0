package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}

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

  /** Spark jobs started while `body` runs. */
  def jobsIn(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftBridge.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftBridge.flushListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}
