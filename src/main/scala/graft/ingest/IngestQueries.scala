package graft.ingest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.GraftBridge.readParquet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Oracle-checked queries exercising the ingest pipeline end-to-end
  * (registered via SparkEntry). Literal-input queries hardcode their
  * expected output in DuckDB VALUES; roundtrip queries export a driver
  * table to CSV, run the full Collimate pipeline on it, and must
  * reproduce the original table byte-for-byte.
  */
object IngestQueries {

  private def tmpDir(dir: String, name: String): String =
    s"/tmp/graft_ingest/${dir.replaceAll("\\W", "_")}/$name"

  /** Export a table to a single-header CSV the way a collimate user
    * would have it on disk. */
  private def exportCsv(df: DataFrame, orderCol: String, path: String): Unit =
    df.orderBy(orderCol).coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** CSV part files carry a .csv extension inside `path`; Collimate.read
    * dispatches on extension, so hand it the glob. */
  private def roundtrip(s: SparkSession, dir: String, table: String,
      orderCol: String, opts: Collimate.Options = Collimate.Options()): DataFrame = {
    val src = readParquet(s, s"$dir/$table.parquet")
    val out = tmpDir(dir, table)
    exportCsv(src, orderCol, out)
    val ingested = Collimate(s, s"$out/*.csv", opts).df
    // Cast back to the source schema: the oracle checks VALUES fidelity;
    // inference-decision checks live in ingest_infer_customer + specs.
    ingested.select(src.schema.fields.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      .orderBy(orderCol)
  }

  private val sanitizeInputs = Seq(
    " First-Name ", "A&B", "price %", "email@addr", "x  y", "__z__",
    "95% conf.", "weird!!name??", "Total-Sales-2024")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_sanitize" -> { (s, _) =>
      val rows = sanitizeInputs.zipWithIndex.map { case (n, i) =>
        Row(i + 1, n, Sanitize(n))
      }
      s.createDataFrame(rows.asJava,
        StructType(Seq(StructField("id", IntegerType, false),
          StructField("original", StringType),
          StructField("sanitized", StringType))))
        .orderBy("id")
    },

    // Schema-drift report between two ingests of "the same" feed — the
    // day-2 operation every ingest pipeline needs when yesterday's int
    // column starts carrying decimals or a date column goes dirty. Both
    // versions run the full inference (ONE sampling agg each); the diff
    // is a per-column type comparison over the bounded schema frames.
    // Inputs are literal (deterministic at any SF) so the expected
    // report is a VALUES oracle.
    "ingest_schema_diff" -> { (s, dir) =>
      import s.implicits._
      val v1 = Seq(
        ("1", "10", "2024-01-02", "3.5"),
        ("2", "20", "2024-02-03", "4.5"),
        ("3", "30", "2024-03-04", "5.5"))
        .toDF("id", "n_items", "event_day", "score")
      val v2 = Seq(
        ("1", "10", "2024-01-02", "3.5"),
        ("2", "20.5", "2024-02-03", "4.5"),
        ("3", "30", "not-a-date", "5.5"))
        .toDF("id", "n_items", "event_day", "score")
      def inferTypes(df: DataFrame, name: String): Seq[(String, String)] = {
        val out = tmpDir(dir, name)
        exportCsv(df, "id", out)
        Collimate.read(s, s"$out/*.csv") match { case raw =>
          TypeInference.infer(raw, parseDates = true).fields
            .map(f => f.name -> f.dataType.simpleString)
        }
      }
      val t1 = inferTypes(v1, "schema_diff_v1").toMap
      val t2 = inferTypes(v2, "schema_diff_v2").toMap
      val rows = t1.keys.toSeq.sorted.map { c =>
        Row(c, t1(c), t2(c), t1(c) != t2(c))
      }
      s.createDataFrame(rows.asJava, StructType(Seq(
          StructField("column", StringType, false),
          StructField("type_v1", StringType, false),
          StructField("type_v2", StringType, false),
          StructField("changed", BooleanType, false))))
        .orderBy("column")
    },

    "ingest_nulls" -> { (s, _) =>
      val tokens = Seq("null", "na", "n/a", "none", "", "-",
        "NULL", "NA", "x", "0")
      val rows = tokens.zipWithIndex.map { case (t, i) => Row(i + 1, t) }
      val df = s.createDataFrame(rows.asJava,
        StructType(Seq(StructField("id", IntegerType, false),
          StructField("raw", StringType))))
      df.select(col("id"), Nulls.canonicalize(col("raw")).as("canon"))
        .orderBy("id")
    },

    "ingest_dates" -> { (s, _) =>
      val data = Seq(
        Row(1, "2011-01-02", "2-1-2011", "3-25-2011"),
        Row(2, "2011-1-3", "28-2-2012", "12-31-2012"),
        Row(3, "2012-12-31", "3-3-2013", "1-2-2013"))
      val df = s.createDataFrame(data.asJava,
        StructType(Seq(StructField("id", IntegerType, false),
          StructField("iso", StringType), StructField("global", StringType),
          StructField("us", StringType))))
      // full pipeline: inference locks one format per column, casts
      Collimate.fromRows(df, Collimate.Options(parseDates = true))
        .df.orderBy("id")
    },

    // datetime inference (extension past the reference's dead
    // TIME_FORMATS — index.js:113-129): SQL-style, ISO-8601 T, and
    // fractional columns each lock exactly one timestamp format;
    // `mixed` sees two different surviving formats across rows (vote
    // count < nn for every candidate) and stays a string — the same
    // exactly-one-surviving contract the date vote uses.
    "ingest_datetimes" -> { (s, _) =>
      val data = Seq(
        Row(1, "2024-01-02 13:45:00", "2024-01-02T13:45:00",
          "2024-01-02 13:45:00.123", "2024-01-02 13:45:00"),
        Row(2, "2024-2-3 4:5:6", "2024-2-3T4:5:6",
          "2024-02-03 04:05:06.456", "2024-01-03T13:45:00"),
        Row(3, "2025-12-31 23:59:59", "2025-12-31T23:59:59",
          "2025-12-31 23:59:59.999", "2024-01-04 13:45:00"))
      val df = s.createDataFrame(data.asJava,
        StructType(Seq(StructField("id", IntegerType, false),
          StructField("sql_dt", StringType), StructField("iso_dt", StringType),
          StructField("frac_dt", StringType), StructField("mixed", StringType))))
      Collimate.fromRows(df, Collimate.Options(parseDates = true))
        .df.orderBy("id")
    },

    "ingest_roundtrip_nation" -> { (s, dir) =>
      roundtrip(s, dir, "nation", "n_nationkey")
    },

    // O2: TSV scan through the full pipeline (part file renamed to .tsv
    // so the extension dispatch takes the tab-delimited branch)
    "ingest_roundtrip_region_tsv" -> { (s, dir) =>
      val src = readParquet(s, s"$dir/region.parquet")
      val out = tmpDir(dir, "region_tsv")
      src.orderBy("r_regionkey").coalesce(1).write.mode("overwrite")
        .option("header", "true").option("sep", "\t").csv(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".csv")).get
      val tsv = new java.io.File(out, "data.tsv")
      java.nio.file.Files.move(part.toPath, tsv.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Collimate(s, tsv.getPath).df
        .select(src.schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        .orderBy("r_regionkey")
    },

    // O3: whole-file JSON array (the reference's JSON.parse path) —
    // region is a fixed 5-row dim, so writing the array driver-side is
    // exact, not a scale compromise
    "ingest_roundtrip_region_json" -> { (s, dir) =>
      val src = readParquet(s, s"$dir/region.parquet")
      val rows = src.orderBy("r_regionkey").collect().map { r =>
        s"""{"r_regionkey": ${r.getAs[Int]("r_regionkey")}, """ +
          s""""r_name": "${r.getAs[String]("r_name")}"}"""
      }
      val out = new java.io.File(tmpDir(dir, "region_json"))
      out.mkdirs()
      val f = new java.io.File(out, "data.json")
      java.nio.file.Files.writeString(f.toPath,
        rows.mkString("[", ",\n ", "]\n"))
      Collimate(s, f.getPath).df
        .select(src.schema.fields.map(fd =>
          col(fd.name).cast(fd.dataType).as(fd.name)).toIndexedSeq: _*)
        .orderBy("r_regionkey")
    },

    "ingest_roundtrip_customer" -> { (s, dir) =>
      roundtrip(s, dir, "customer", "c_custkey")
    },

    // O7/O8 through the full pipeline at table scale: orders exported
    // with ISO dates, re-ingested with -d → DateType, values intact
    "ingest_roundtrip_orders_dates" -> { (s, dir) =>
      val src = readParquet(s, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
      val out = tmpDir(dir, "orders_dates")
      exportCsv(src, "o_orderkey", out)
      Collimate(s, s"$out/*.csv",
        Collimate.Options(parseDates = true)).df
        .select(col("o_orderkey").cast(LongType),
          col("o_custkey").cast(LongType), col("o_orderstatus"),
          col("o_totalprice").cast(DoubleType), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    },

    "ingest_infer_customer" -> { (s, dir) =>
      // export customer as CSV, run inference only, surface the decisions
      val src = readParquet(s, s"$dir/customer.parquet")
      val out = tmpDir(dir, "customer_infer")
      exportCsv(src, "c_custkey", out)
      val schema = TypeInference.infer(Collimate.read(s, s"$out/*.csv"))
      val rows = schema.fields.map(f =>
        Row(f.name, f.dataType.simpleString, f.categorical))
      s.createDataFrame(rows.asJava,
        StructType(Seq(StructField("column_name", StringType),
          StructField("inferred_type", StringType),
          StructField("is_categorical", BooleanType, false))))
        .orderBy("column_name")
    }
  )

  def oracleSql: Map[String, String] = Map(
    "ingest_schema_diff" ->
      """SELECT * FROM (VALUES
        | ('event_day', 'date', 'string', true),
        | ('id', 'int', 'int', false),
        | ('n_items', 'int', 'double', true),
        | ('score', 'double', 'double', false))
        | t("column", type_v1, type_v2, changed)
        |ORDER BY "column"""".stripMargin,
    "ingest_sanitize" -> {
      val vals = sanitizeInputs.zipWithIndex.map { case (n, i) =>
        s"(${i + 1}, '${n.replace("'", "''")}', '${Sanitize(n)}')"
      }.mkString(", ")
      s"SELECT * FROM (VALUES $vals) t(id, original, sanitized) ORDER BY id"
    },
    "ingest_nulls" ->
      """SELECT * FROM (VALUES
        | (1, NULL), (2, NULL), (3, NULL), (4, NULL), (5, NULL), (6, NULL),
        | (7, 'NULL'), (8, 'NA'), (9, 'x'), (10, '0')
        |) t(id, canon) ORDER BY id""".stripMargin,
    "ingest_dates" ->
      """SELECT * FROM (VALUES
        | (1, DATE '2011-01-02', DATE '2011-01-02', DATE '2011-03-25'),
        | (2, DATE '2011-01-03', DATE '2012-02-28', DATE '2012-12-31'),
        | (3, DATE '2012-12-31', DATE '2013-03-03', DATE '2013-01-02')
        |) t(id, iso, "global", us) ORDER BY id""".stripMargin,
    "ingest_datetimes" ->
      """SELECT * FROM (VALUES
        | (1, TIMESTAMP '2024-01-02 13:45:00', TIMESTAMP '2024-01-02 13:45:00',
        |  TIMESTAMP '2024-01-02 13:45:00.123', '2024-01-02 13:45:00'),
        | (2, TIMESTAMP '2024-02-03 04:05:06', TIMESTAMP '2024-02-03 04:05:06',
        |  TIMESTAMP '2024-02-03 04:05:06.456', '2024-01-03T13:45:00'),
        | (3, TIMESTAMP '2025-12-31 23:59:59', TIMESTAMP '2025-12-31 23:59:59',
        |  TIMESTAMP '2025-12-31 23:59:59.999', '2024-01-04 13:45:00')
        |) t(id, sql_dt, iso_dt, frac_dt, mixed) ORDER BY id""".stripMargin,
    "ingest_roundtrip_nation" ->
      "SELECT * FROM nation ORDER BY n_nationkey",
    "ingest_roundtrip_region_tsv" ->
      "SELECT * FROM region ORDER BY r_regionkey",
    "ingest_roundtrip_region_json" ->
      "SELECT * FROM region ORDER BY r_regionkey",
    "ingest_roundtrip_customer" ->
      "SELECT * FROM customer ORDER BY c_custkey",
    "ingest_roundtrip_orders_dates" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS DATE) AS o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "ingest_infer_customer" ->
      """SELECT * FROM (VALUES
        | ('c_acctbal', 'double', false),
        | ('c_custkey', 'int', false),
        | ('c_mktsegment', 'string', true),
        | ('c_name', 'string', false),
        | ('c_nationkey', 'int', true)
        |) t(column_name, inferred_type, is_categorical) ORDER BY column_name""".stripMargin
  )
}
