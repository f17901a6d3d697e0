package graft.ingest

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

class IngestSpec extends AnyFunSuite with SparkSuite {
  def fixture(name: String): String =
    getClass.getResource(s"/$name").getPath

  def typesOf(path: String, parseDates: Boolean = false): Map[String, DataType] = {
    val schema = TypeInference.infer(
      Collimate.read(spark, path), parseDates)
    schema.fields.map(f => f.name -> f.dataType).toMap
  }

  test("basic inference: int / double / string (O4/O5)") {
    assert(typesOf(fixture("types_basic.csv")) ==
      Map("id" -> IntegerType, "score" -> DoubleType, "label" -> StringType))
  }

  test("mixed inference: demotions on the lattice + int64 widening (Q1/Q3)") {
    // a: pure int; b: double demoted to string by 'x'; c: int demoted to
    // double by 3.5 — and 2147483648 overflows int32 → our intended
    // semantics widen to... c contains 3.5 so double wins anyway.
    assert(typesOf(fixture("types_mixed.csv")) ==
      Map("a" -> IntegerType, "b" -> StringType, "c" -> DoubleType))
  }

  test("int64 widening beyond 2^31 (Q3 intended semantics)") {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      List("2147483648", "5").map(org.apache.spark.sql.Row(_)).asJava,
      StructType(Seq(StructField("big", StringType))))
    val s = TypeInference.infer(df)
    assert(s.fields.head.dataType == LongType)
  }

  test("NULL_SET canonicalization is exact + case-sensitive (O6)") {
    val r = Collimate(spark, fixture("nulls.csv")).df.collect()
      .sortBy(r => Option(r.getAs[Integer]("i")).map(_.toInt).getOrElse(-1))
    // column i: 1, null(2 tokens), 2 → int with nulls
    // column s: x, n/a→null, but "NULL"/"NA" uppercase stay literal
    val s = Collimate(spark, fixture("nulls.csv")).df
      .select("s").collect().map(_.getString(0)).toSet
    assert(s == Set("x", null, "NULL", "NA"))
    assert(r.count(_.isNullAt(0)) == 2)
  }

  test("date detection locks a single surviving format (O7/O8)") {
    assert(typesOf(fixture("dates_iso.csv"), parseDates = true)("d") == DateType)
    assert(typesOf(fixture("dates_us.csv"), parseDates = true)("d") == DateType)
    val iso = Collimate(spark, fixture("dates_iso.csv"),
      Collimate.Options(parseDates = true)).df
    assert(iso.select("d").collect().map(_.get(0).toString).sorted.toSeq ==
      Seq("2011-01-02", "2011-01-03", "2012-12-31"))
  }

  test("ambiguous dates (two surviving formats) stay strings") {
    assert(typesOf(fixture("dates_ambiguous.csv"), parseDates = true)("d") ==
      StringType)
  }

  test("dates disabled without the -d flag") {
    assert(typesOf(fixture("dates_iso.csv"))("d") == StringType)
  }

  test("datetime detection: timestamp step on the lattice (extension)") {
    import scala.jdk.CollectionConverters._
    def infer(vals: Seq[String]): DataType = {
      val df = spark.createDataFrame(
        vals.map(org.apache.spark.sql.Row(_)).asJava,
        StructType(Seq(StructField("c", StringType))))
      TypeInference.infer(df, parseDates = true).fields.head.dataType
    }
    // each variant locks exactly one surviving timestamp format
    assert(infer(Seq("2024-01-02 13:45:00", "2024-2-3 4:5:6")) ==
      TimestampType)
    assert(infer(Seq("2024-01-02T13:45:00", "2024-2-3T4:5:6")) ==
      TimestampType)
    assert(infer(Seq("2024-01-02 13:45:00.123")) == TimestampType)
    assert(infer(Seq("2024/01/02 13:45:00")) == TimestampType)
    // mixed separators: two formats each survive a strict subset →
    // zero formats survive every row → string (same rule as dates)
    assert(infer(Seq("2024-01-02 13:45:00", "2024-01-03T13:45:00")) ==
      StringType)
    // datetime does NOT shadow the date vote: pure dates stay DateType,
    // and a date/datetime mix survives neither family
    assert(infer(Seq("2024-01-02", "2024-01-03")) == DateType)
    assert(infer(Seq("2024-01-02", "2024-01-02 13:45:00")) == StringType)
    // out-of-range fields fail the strict parse → string
    assert(infer(Seq("2024-13-02 13:45:00")) == StringType)
    assert(infer(Seq("2024-01-02 25:45:00")) == StringType)
    // numeric levels still win before the datetime step
    assert(infer(Seq("123", "456")) == IntegerType)
  }

  test("datetime cast normalizes with the locked format") {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      Seq("2024-01-02T13:45:00", "2024-2-3T4:5:6")
        .map(org.apache.spark.sql.Row(_)).asJava,
      StructType(Seq(StructField("ts", StringType))))
    val r = Collimate.fromRows(df, Collimate.Options(parseDates = true))
    assert(r.df.schema.head.dataType == TimestampType)
    assert(r.df.collect().map(_.get(0).toString).sorted.toSeq ==
      Seq("2024-01-02 13:45:00.0", "2024-02-03 04:05:06.0"))
  }

  test("numeric header: the cast reads the column, not a SQL literal") {
    val dir = java.nio.file.Files.createTempDirectory("graft_numhdr")
    val f = dir.resolve("n.csv")
    java.nio.file.Files.writeString(f, "2024,total\n5,7\n6,8\n")
    val r = Collimate(spark, f.toString)
    assert(r.df.columns.toSeq == Seq("2024", "total"))
    assert(r.df.collect().map(row => (row.getInt(0), row.getInt(1))).toSeq
      .sorted == Seq((5, 7), (6, 8)))
    graft.Util.rmrf(dir.toFile)
  }

  test("inference prefix does not depend on partitioning") {
    // 3000 rows → a 1000-row prefix; every row past it carries a value
    // that would demote `v` to string, and `id` counts the prefix rows
    val dir = java.nio.file.Files.createTempDirectory("graft_prefix")
    val f = dir.resolve("p.csv")
    java.nio.file.Files.writeString(f, (0 until 3000).map(i =>
      s"$i,${if (i < 1000) i.toString else "x"}").mkString("id,v\n", "\n", "\n"))
    def inferAt(splitBytes: Option[String]): (IngestSchema, Int) = {
      val key = "spark.sql.files.maxPartitionBytes"
      splitBytes.foreach(spark.conf.set(key, _))
      try {
        val df = Collimate.read(spark, f.toString)
        (TypeInference.infer(df), df.rdd.getNumPartitions)
      } finally spark.conf.unset(key)
    }
    val (whole, _) = inferAt(None)
    val (split, parts) = inferAt(Some("4096"))
    assert(parts >= 4)
    assert(split == whole)
    assert(whole.rowCount == 3000 && whole.scanned == 1000)
    assert(whole.fields.map(f => f.name -> (f.dataType, f.distinct)) ==
      Seq("id" -> (IntegerType, 1000L), "v" -> (IntegerType, 1000L)))
    graft.Util.rmrf(dir.toFile)
    // local-relation frame: spark_partition_id() folds to 0 while its
    // RDD has several partitions; the whole frame is the prefix
    import scala.jdk.CollectionConverters._
    val local = spark.createDataFrame(
      (0 until 150).map(i => org.apache.spark.sql.Row(i.toString)).asJava,
      StructType(Seq(StructField("id", StringType))))
    val s = TypeInference.infer(local)
    assert(s.rowCount == 150 && s.scanned == 150)
    assert(s.fields.head.distinct == 150)
  }

  /** Messages `FileStreamSink` logs while `body` runs. */
  def sinkWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("sink-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith(".FileStreamSink"))
          seen.add(e.getMessage.getFormattedMessage)
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    app.start()
    root.addAppender(app)
    try body finally { root.removeAppender(app); app.stop() }
    seen.toArray.toSeq.map(_.toString)
  }

  test("inference runs at most 3 Spark jobs") {
    val df = Collimate.read(spark, fixture("late_surprise.csv"))
    val jobs = jobsIn(TypeInference.infer(df, parseDates = true))
    assert(jobs > 0 && jobs <= 3, s"$jobs jobs")
  }

  test("one-shuffle inference: partials merged across reduce tasks agree") {
    // AQE folds a tiny prefix into one reduce partition; without that,
    // each column's values spread over all shuffle partitions and the
    // driver sums one partial per column per task
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    Seq("late_surprise.csv", "types_mixed.csv", "nulls.csv").foreach { f =>
      val df = Collimate.read(spark, fixture(f))
      val folded = TypeInference.infer(df, parseDates = true)
      spark.conf.set(key, "false")
      val spread = try TypeInference.infer(df, parseDates = true)
        finally spark.conf.unset(key)
      assert(spread == folded, f)
    }
  }

  test("header fidelity: the driver-side header is Spark's inferred schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_header")
    def check(name: String, body: String, multiLine: Boolean = false) = {
      val f = dir.resolve(name)
      java.nio.file.Files.writeString(f, body)
      val spark0 = spark.read.options(Collimate.csvOptions(name, multiLine))
        .csv(f.toString).schema
      val ours = Collimate.read(spark, f.toString, multiLine).schema
      assert(ours == spark0, name)
      ours.fieldNames.toSeq
    }
    assert(check("dup.csv", "a,a,b\n1,2,3\n") == Seq("a0", "a1", "b"))
    assert(check("blank.csv", ",x\n1,2\n") == Seq("_c0", "x"))
    assert(check("quoted.csv", "\"a,b\",c\n1,2\n") == Seq("a,b", "c"))
    assert(check("padded.csv", "  a , b  \n1,2\n") == Seq("a", "b"))
    assert(check("t.tsv", "a b\tc\n1\t2\n") == Seq("a b", "c"))
    assert(check("ml.csv", "\"a\nb\",c\n\"1\n2\",3\n", multiLine = true) ==
      Seq("a\nb", "c"))
    assert(check("lead.csv", "\n\n   \na,b\n1,2\n") == Seq("a", "b"))
    assert(check("hdr.csv", "a,b\n") == Seq("a", "b"))
    assert(check("zero.csv", "") == Nil)
    assert(check("zero_ml.csv", "", multiLine = true) == Nil)
    // a directory of part files, read through a glob (IngestQueries.roundtrip)
    val parts = dir.resolve("parts").toString
    spark.range(10).selectExpr("id", "id * 2 AS `two x`").repartition(2)
      .write.option("header", "true").csv(parts)
    val glob = s"$parts/*.csv"
    assert(Collimate.read(spark, glob).schema ==
      spark.read.options(Collimate.csvOptions(glob, multiLine = false))
        .csv(glob).schema)
    assert(Collimate.read(spark, glob).count() == 10)
    // no job: the header is read on the driver
    assert(jobsIn(Collimate.read(spark, glob)) == 0)
    assert(jobsIn(Collimate.read(spark, fixture("types_basic.csv"),
      multiLine = true)) == 0)
    // the glob reaches Spark expanded: Spark stats a glob string as a
    // path and logs a FileNotFoundException with its stack trace
    assert(sinkWarnings(spark.read.csv(glob)).nonEmpty)
    assert(sinkWarnings(Collimate.read(spark, glob).count()).isEmpty)
    graft.Util.rmrf(dir.toFile)
  }

  test("chmod-free Parquet write: same files, permission bits and rows") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_localfs")
    val r = Collimate(spark, fixture("late_surprise.csv"))
    val plain = dir.resolve("plain")
    r.df.write.parquet(plain.toString)
    Collimate.write(r, dir.resolve("ours").toString)
    val ours = dir.resolve("ours/data.parquet")
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def tree(root: Path) = Files.walk(root).iterator.asScala.map { p =>
      root.relativize(p).toString.replaceAll(uuid, "UUID") ->
        java.nio.file.attribute.PosixFilePermissions.toString(
          Files.getPosixFilePermissions(p))
    }.toSeq.sorted
    assert(tree(ours) == tree(plain))
    assert(tree(plain).map(_._1).toSet.contains("._SUCCESS.crc"))
    assert(spark.read.parquet(ours.toString).collect().toSeq.sortBy(_.toString) ==
      spark.read.parquet(plain.toString).collect().toSeq.sortBy(_.toString))
    graft.Util.rmrf(dir.toFile)
  }

  test("sanitize replicates the reference chain (O12)") {
    assert(Sanitize(" First-Name ") == "first_name")
    assert(Sanitize("A&B") == "aandb")
    // edge-strip removes the trailing " %" before the % substitution
    // can fire (verified against the reference chain with node)
    assert(Sanitize("price %") == "price")
    assert(Sanitize("95% conf.") == "95percent_conf")
    assert(Sanitize("email@addr") == "emailataddr")
    assert(Sanitize("x  y") == "x_y")
    assert(Sanitize("__z__") == "__z__")
    val cols = Collimate(spark, fixture("names.csv")).df.columns.toSeq
    assert(cols == Seq("first_name", "aandb", "price",
      "emailataddr", "x_y", "__z__"))
  }

  test("TSV and JSON scans agree with CSV (O1-O3)") {
    val csv = Collimate(spark, fixture("types_basic.csv")).df
    val json = Collimate(spark, fixture("records.json")).df
      .select("id", "score", "label")
    assert(json.schema == csv.schema)
    assert(json.collect().toSet == csv.collect().toSet)
    val tsv = Collimate(spark, fixture("types_basic.tsv")).df
    assert(tsv.schema == csv.schema)
  }

  test("RFC4180 quoting: embedded delimiters + doubled quotes (O1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_quotes")
    val f = dir.resolve("q.csv")
    java.nio.file.Files.writeString(f,
      "id,note\n1,\"a, b\"\n2,\"say \"\"hi\"\", ok\"\n")
    val rows = Collimate.read(spark, f.toString)
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(rows == Seq("a, b", "say \"hi\", ok"))
    graft.Util.rmrf(dir.toFile)
  }

  test("multiLine option: newlines inside quoted fields (O1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ml")
    val f = dir.resolve("m.csv")
    java.nio.file.Files.writeString(f,
      "id,note\n1,\"line one\nline two\"\n2,plain\n")
    val rows = Collimate.read(spark, f.toString, multiLine = true)
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(rows == Seq("line one\nline two", "plain"))
    // the CLI's -m reaches the scan too
    val out = dir.resolve("out").toString
    CollimateCli.run(spark, Array("-m", f.toString, out))
    assert(spark.read.parquet(s"$out/data.parquet")
      .orderBy("id").collect().map(_.getString(1)).toSeq == rows)
    graft.Util.rmrf(dir.toFile)
  }

  test("JSONL scan: line-delimited records agree with whole-file JSON") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl")
    java.nio.file.Files.writeString(dir.resolve("a.jsonl"),
      """{"id": 1, "v": "x"}
        |{"id": 2, "v": "y"}
        |""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """[{"id": 1, "v": "x"}, {"id": 2, "v": "y"}]""")
    val jl = Collimate.read(spark, s"$dir/a.jsonl").orderBy("id").collect().toSeq
    val wf = Collimate.read(spark, s"$dir/a.json").orderBy("id").collect().toSeq
    assert(jl == wf && jl.size == 2)
    graft.Util.rmrf(dir.toFile)
  }

  test("raw columnar sink writes reference-format files (O13/O14)") {
    import java.nio.{ByteBuffer, ByteOrder}
    val dir = java.nio.file.Files.createTempDirectory("graft_raw")
    val csv = dir.resolve("t.csv")
    val rows = (1 to 20).map(i =>
      s"$i,${i + 0.5},${if (i % 2 == 0) "even" else "odd"}").mkString("\n")
    java.nio.file.Files.writeString(csv, s"Num,Score,Seg\n$rows\n")
    val res = Collimate(spark, csv.toString)
    val out = dir.resolve("out").toString
    val index = graft.sources.RawColumnarSink.write(res, out)
    assert(index == Map("Num" -> "num.i32", "Score" -> "score.f32",
      "Seg" -> "seg.k8"))
    // .i32: 20 little-endian ints in file order
    val i32 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/num.i32"))
    val ib = ByteBuffer.wrap(i32).order(ByteOrder.LITTLE_ENDIAN)
    assert(i32.length == 80 && (1 to 20).forall(i => ib.getInt(4 * (i - 1)) == i))
    // .f32: float32 values
    val f32 = ByteBuffer.wrap(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/score.f32"))).order(ByteOrder.LITTLE_ENDIAN)
    assert(f32.getFloat(0) == 1.5f && f32.getFloat(76) == 20.5f)
    // .k8 codes by first encounter (odd=0, even=1) + valid-JSON decoder
    val k8 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/seg.k8"))
    assert(k8.toSeq == (1 to 20).map(i => (if (i % 2 == 0) 1 else 0).toByte))
    val key = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/seg.k8.key"))
    assert(key == "[\"odd\",\n \"even\"]\n")
    val idxJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/index.json"))
    assert(idxJson.contains("\"Seg\" : \"seg.k8\""))
    graft.Util.rmrf(dir.toFile)
  }

  test("raw sink: a categorical timestamp column writes a valid-JSON .key") {
    import org.json4s._
    val dir = java.nio.file.Files.createTempDirectory("graft_raw_ts")
    val csv = dir.resolve("t.csv")
    // row 20's empty cell is a null: the decoder's JSON null
    val rows = (1 to 20).map(i =>
      if (i == 20) s"$i," else s"$i,2024-01-0${2 - i % 2} 10:00:00")
      .mkString("\n")
    java.nio.file.Files.writeString(csv, s"id,ts\n$rows\n")
    val res = Collimate(spark, csv.toString,
      Collimate.Options(parseDates = true))
    val ts = res.schema.fields.find(_.name == "ts").get
    assert(ts.dataType == TimestampType && ts.categorical)
    val out = dir.resolve("out").toString
    assert(graft.sources.RawColumnarSink.write(res, out)("ts") == "ts.k8")
    val key = org.json4s.jackson.JsonMethods.parse(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/ts.k8.key")))
    assert(key == JArray(List(JString("2024-01-01 10:00:00.0"),
      JString("2024-01-02 10:00:00.0"), JNull)))
    graft.Util.rmrf(dir.toFile)
  }

  test("empty input → empty result, no crash (index.js:134)") {
    // header-only CSV: columns survive with the all-null seed type
    val r = Collimate(spark, fixture("empty.csv"))
    assert(r.df.count() == 0)
    assert(r.df.columns.toSeq == Seq("a", "b"))
    assert(r.schema.fields.forall(_.dataType == IntegerType))
  }

  test("empty JSONL input → empty result, no crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_jsonl")
    java.nio.file.Files.writeString(dir.resolve("e.jsonl"), "")
    val r = Collimate(spark, s"$dir/e.jsonl")
    assert(r.df.count() == 0)
    assert(r.schema.rowCount == 0L)
    graft.Util.rmrf(dir.toFile)
  }

  test("ragged JSONL: missing keys → NULL, extra keys widen the schema " +
      "(divergence from reference crash, index.js:307)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ragged_jsonl")
    java.nio.file.Files.writeString(dir.resolve("r.jsonl"),
      """{"id": 1, "a": "x"}
        |{"id": 2, "b": "y"}
        |{"id": 3, "a": "z", "b": "w", "extra": 9}
        |""".stripMargin)
    val r = Collimate(spark, s"$dir/r.jsonl")
    assert(r.df.columns.toSeq.sorted == Seq("a", "b", "extra", "id"))
    val rows = r.df.orderBy("id").collect()
    assert(rows(0).getAs[String]("a") == "x" && rows(0).isNullAt(
      rows(0).fieldIndex("b")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("a")) &&
      rows(1).getAs[String]("b") == "y")
    assert(rows(2).getAs[Integer]("extra") == 9)
    graft.Util.rmrf(dir.toFile)
  }

  test("raw sink: dictionary past 65,536 entries degrades to .json " +
      "(no 16-bit code truncation)") {
    import org.apache.spark.sql.functions._
    val n = 66000
    val df = spark.range(n.toLong)
      .select(concat(lit("v"), col("id")).as("c"))
      .coalesce(1).sortWithinPartitions("c")
    val meta = FieldMeta("c", "c", StringType, None,
      categorical = true, n.toLong)
    val res = Collimate.Result(df,
      IngestSchema(Seq(meta), n.toLong, n.toLong, n.toDouble))
    val out = java.nio.file.Files.createTempDirectory("graft_bigcat").toString
    val index = graft.sources.RawColumnarSink.write(res, out)
    assert(index == Map("c" -> "c.json")) // not .k16
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/c.k16")))
    val body = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/c.json"))
    assert(body.startsWith("[\"v0\"") && body.count(_ == ',') == n - 1)
    graft.Util.rmrf(new java.io.File(out))
  }

  test("late surprise after the scan prefix → NULL, not 0 (Q8)") {
    val r = Collimate(spark, fixture("late_surprise.csv"))
    val types = r.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("v") == IntegerType) // frozen from prefix
    val vals = r.df.select("v").collect()
    assert(vals.count(_.isNullAt(0)) == 1) // 'oops' → NULL, not 0
  }

  test("categorical threshold formula (O9, index.js:232-247)") {
    // full scan: ef=1 → threshold = ceil(0.3N)
    assert(Categorical.threshold(100, 100) == 30.0)
    // 2/3 sample → first key ≤ 0.667 is 0.4 → ef=0.65² = 0.4225
    assert(math.abs(Categorical.threshold(1500, 1000) - 450 * 0.4225) < 1e-9)
    // below the smallest key → 0 (reference: NaN, nothing categorical)
    assert(Categorical.threshold(1000000, 1000) == 0.0)
    assert(Categorical.threshold(65536 * 10, 65536 * 10) == 65536 * 1.0)
  }

  test("categorical detection on late_surprise (low-card cat column)") {
    val r = Collimate(spark, fixture("late_surprise.csv"))
    val byName = r.schema.fields.map(f => f.name -> f).toMap
    assert(byName("cat").categorical)   // 3 distinct ≤ threshold
    assert(!byName("v").categorical)    // ~1000 distinct in prefix
  }

  test("dictionary codes assigned by first-encounter order (O10)") {
    val df = Collimate(spark, fixture("late_surprise.csv")).df
    val (encoded, decoder) = Categorical.encode(df, "cat")
    assert(decoder.toSeq == Seq("u", "v", "w", "xyz")) // file order of first rows
    val first = encoded.filter(org.apache.spark.sql.functions.col("v") === 0)
      .select("cat_code").collect().head.getInt(0)
    assert(first == 0)
  }

  test("ragged rows ingest without crashing (reference crashes, Q8-family)") {
    // short row → missing cells null; long row → extra cells dropped
    val r = Collimate(spark, fixture("ragged.csv"))
    val rows = r.df.orderBy("a").collect()
    assert(rows.length == 4)
    assert(r.df.columns.toSeq == Seq("a", "b", "c"))
    val shortRow = rows.find(_.getInt(0) == 4).get
    assert(shortRow.isNullAt(2))
  }

  test("sanitize dedupe is globally collision-free") {
    assert(Sanitize.dedupe(Seq("a", "a_2", "a")) == Seq("a", "a_2", "a_3"))
    assert(Sanitize.dedupe(Seq("x", "x", "x")) == Seq("x", "x_2", "x_3"))
  }

  test("property: dictionary encode∘decode is identity (§5.3)") {
    val df = Collimate(spark, fixture("late_surprise.csv")).df
    val (encoded, decoder) = Categorical.encode(df, "cat")
    val bad = encoded.collect().count { r =>
      val v = r.getAs[String]("cat")
      val code = r.getAs[Int]("cat_code")
      decoder(code) != v
    }
    assert(bad == 0)
  }

  test("property: inference is monotone on the type lattice (§5.3)") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    def typeOf(vals: Seq[String]): DataType = {
      val df = spark.createDataFrame(
        vals.map(Row(_)).asJava,
        StructType(Seq(StructField("c", StringType))))
      TypeInference.infer(df).fields.head.dataType
    }
    def rank(t: DataType): Int = t match {
      case IntegerType => 0; case LongType => 1; case DoubleType => 2
      case _ => 3
    }
    // appending rows may only widen (never narrow) the inferred type
    val base = Seq("1", "2", "3")
    val extensions = Seq(
      Seq("4"), Seq("2147483648"), Seq("4.5"), Seq("x"), Seq("null"))
    extensions.foreach { ext =>
      assert(rank(typeOf(base ++ ext)) >= rank(typeOf(base)),
        s"narrowed on $ext")
    }
    assert(rank(typeOf(base ++ Seq("4.5") ++ Seq("x"))) >=
      rank(typeOf(base ++ Seq("4.5"))))
  }

  test("property: sanitize is idempotent") {
    val names = Seq(" First-Name ", "A&B", "price %", "email@addr",
      "x  y", "__z__", "weird!!name??", "95% conf.", "a-b-c")
    names.foreach(n => assert(Sanitize(Sanitize(n)) == Sanitize(n)))
  }

  test("roundtrip: write parquet + index sidecar (O13/O14)") {
    import org.json4s._
    val tmp = java.nio.file.Files.createTempDirectory("collimate_test")
    // a quoted header holding a tab: index.json must escape it
    val tabbed = tmp.resolve("tabbed.csv")
    java.nio.file.Files.writeString(tabbed, "\"a\tb\",c\n1,x\n2,y\n")
    def roundtrip(in: String, rows: Long): JValue = {
      val out = tmp.resolve(s"out_${rows}").toString
      val r = Collimate(spark, in)
      Collimate.write(r, out, Collimate.Options(writeIndex = true))
      val back = spark.read.parquet(s"$out/data.parquet")
      assert(back.schema == r.df.schema)
      assert(back.count() == rows)
      val idx = org.json4s.jackson.JsonMethods.parse(new String(
        java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$out/index.json")), "UTF-8"))
      assert(idx.asInstanceOf[JObject].obj.map(_._1) ==
        r.schema.fields.map(_.name).toList)
      idx
    }
    assert(roundtrip(fixture("types_basic.csv"), 4) \ "id" \ "type" ==
      JString("int"))
    assert((roundtrip(tabbed.toString, 2) \ "a\tb" \ "column")
      .isInstanceOf[JString])
  }
}
