package graft

import org.apache.spark.sql.SparkSession

/** The one session definition: every main and every test suite builds
  * its `SparkSession` here, so a measured, verified and tested run all
  * see the same config. */
object Sessions {
  /** Local parallelism of the bench/verify/profile mains. "*" is legal
    * (`local[*]`). */
  val Cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Shuffle partitions follow the master: `local[N]` gives N, anything
    * else (`local[*]`, a cluster URL) the driver's core count. Spark's
    * default of 200 only multiplies task-launch overhead on one node. */
  private def shufflePartitions(master: String): Int = master match {
    case s"local[$n]" if n.nonEmpty && n.forall(_.isDigit) => n.toInt
    case _ => math.max(1, Runtime.getRuntime.availableProcessors())
  }

  def local(master: String = s"local[$Cpus]",
      warehouse: String = "/tmp/graft_warehouse"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions(master).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
