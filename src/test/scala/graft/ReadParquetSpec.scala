package graft

import org.apache.spark.sql.GraftBridge.readParquet
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** [[org.apache.spark.sql.GraftBridge.readParquet]] reads what
  * `spark.read.parquet` reads — the same schema and rows — and starts no
  * job to learn the schema. */
class ReadParquetSpec extends AnyFunSuite with SparkSuite {

  private def sameAsSpark(path: String): Unit = {
    val spark0 = spark.read.parquet(path)
    var ours: org.apache.spark.sql.DataFrame = null
    assert(jobsIn { ours = readParquet(spark, path) } == 0, path)
    assert(ours.schema == spark0.schema, path)
    assert(ours.count() == spark0.count(), path)
  }

  test("every test table at every scale factor") {
    val tables = Seq("customer", "documents", "embeddings", "events",
      "lineitem", "nation", "orders", "part", "region", "supplier")
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- tables)
      sameAsSpark(s"/root/testdata/$sf/$t.parquet")
  }

  test("nanosecond timestamps follow the session's nanosAsLong") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val path = getClass.getResource("/events_ns.parquet").getPath
    sameAsSpark(path)
    assert(readParquet(spark, path).schema("ts").dataType == LongType)
  }

  test("Spark-written directories: multi-part with _SUCCESS, partitioned") {
    val dir = "/tmp/graft_read_parquet_spec"
    Util.rmrf(new java.io.File(dir))
    val df = spark.range(1000).select(col("id"), (col("id") % 3).as("k"),
      col("id").cast("string").as("s"))
    df.repartition(3).write.parquet(s"$dir/parts")
    assert(new java.io.File(s"$dir/parts/_SUCCESS").exists)
    sameAsSpark(s"$dir/parts")
    df.write.partitionBy("k").parquet(s"$dir/by_k")
    sameAsSpark(s"$dir/by_k")
    Util.rmrf(new java.io.File(dir))
  }

  test("a missing path or one without data files fails as Spark's read") {
    val empty = new java.io.File("/tmp/graft_read_parquet_spec_empty")
    empty.mkdirs()
    Seq("/tmp/graft_read_parquet_spec_missing", empty.getPath).foreach { p =>
      val theirs = intercept[Exception](spark.read.parquet(p))
      val ours = intercept[Exception](readParquet(spark, p))
      assert(ours.getClass == theirs.getClass, p)
    }
    empty.delete()
  }
}
