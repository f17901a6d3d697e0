package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column logical type for an ingested frame. */
case class FieldMeta(
    name: String,
    sanitized: String,
    dataType: DataType,
    dateFormat: Option[String],
    categorical: Boolean,
    distinct: Long)

case class IngestSchema(
    fields: Seq[FieldMeta],
    rowCount: Long,
    scanned: Long,
    categoricalThreshold: Double)

/** Schema inference (reference O4/O5, `index.js:146-337`), re-expressed
  * as ONE Spark aggregation over a bounded prefix of the data.
  *
  * The reference seeds a type from row 0 then demotes while scanning the
  * first `scan` rows (`scan = N<1000 ? N : max(1000, 0.3N)`,
  * `index.js:220-221`). Seed-then-demote over a prefix is equivalent to
  * evaluating the whole prefix at once on the lattice
  * int → double → string, which is what we do: the prefix is exploded
  * to (column, value) pairs and grouped to distinct values with their
  * multiplicity; each reduce task then folds its distinct values into
  * per-column partials — the distinct count and the multiplicities of
  * the values that survive `try_cast` at each lattice level and each
  * strict date parse — which the driver sums. Every predicate runs once
  * per distinct value and the plan does not grow with the column count.
  * Cost: one narrow count job plus one one-shuffle aggregation, 3 Spark
  * jobs under AQE
  * (SURVEY.md §7 "inference at 100 TB": never one job per column, never
  * a driver-side collect of rows).
  *
  * Intended-semantics divergences (SURVEY.md §2b):
  *  - Q1/Q3: integers beyond ±2^31−1 infer as `LongType` (the reference
  *    demotes to str on the seed row and, due to a stale-variable bug,
  *    not at all during refinement).
  *  - Q8: the type decision still comes from the prefix only (same
  *    sampling contract), but a post-freeze value that fails the cast
  *    becomes NULL, never `0`/`NaN`.
  */
object TypeInference {
  val MinScanCount = 1000L     // index.js:22
  val MinScanFraction = 0.3    // index.js:23
  /** Scale divergence: the reference's 0.3·N prefix is unbounded — at
    * 100 TB that is a 30 TB inference scan. We cap the prefix (the
    * encounter-fraction model in Categorical already compensates for
    * small sample fractions). */
  val DefaultScanCap = 2000000L

  def scanCount(n: Long, cap: Long = DefaultScanCap): Long =
    if (n < MinScanCount) n
    else math.min(math.max(MinScanCount, (n * MinScanFraction).toLong), cap)

  private val IntMin = Int.MinValue.toLong
  private val IntMax = Int.MaxValue.toLong

  /** Infer a schema for `df` (any input types; cells are canonicalized
    * as strings first, mirroring the CSV path). One narrow count job,
    * then one one-shuffle aggregation over the prefix: 3 Spark jobs under
    * AQE. */
  def infer(df: DataFrame, parseDates: Boolean = false,
      scanCap: Long = DefaultScanCap): IngestSchema = {
    val cols = df.columns.toSeq
    // Rows per partition in one narrow pass, keyed by the VALUE of
    // spark_partition_id() rather than the RDD partition index: for a
    // local-relation frame (createDataFrame) the optimizer folds it to 0
    // while the RDD still has several partitions, and the prefix filter
    // below sees that same folded value.
    val perPid = df.select(spark_partition_id()).queryExecution.toRdd
      .mapPartitions { rows =>
        val c = scala.collection.mutable.LongMap.empty[Long]
        rows.foreach(r => c(r.getInt(0)) = c.getOrElse(r.getInt(0), 0L) + 1)
        c.iterator
      }.collect().groupMapReduce(_._1.toInt)(_._2)(_ + _).toSeq.sorted
    val n = perPid.map(_._2).sum
    if (n == 0 || cols.isEmpty) {
      // index.js:134 — empty input → empty result
      return IngestSchema(
        cols.map(c => FieldMeta(c, Sanitize(c), IntegerType, None,
          categorical = false, 0L)), 0L, 0L, 0.0)
    }
    val scan = scanCount(n, scanCap)
    // Parallel prefix take, no GlobalLimit: partition order is split
    // order (the order limit() consumes), so each partition's quota of
    // the first `limitRows` rows follows from the cumulative counts.
    // `monotonically_increasing_id` is (pid << 33) + row-in-partition,
    // so the local row number needs no shuffle, and partitions past the
    // boundary take 0 rows. Same row SET as df.limit(limitRows).
    val limitRows = scan.max(1)
    val need = Array.fill(perPid.last._1 + 1)(0L)
    perPid.zip(perPid.scanLeft(0L)(_ + _._2)).foreach {
      case ((pid, cnt), off) => need(pid) = (limitRows - off).max(0).min(cnt)
    }
    val pid = spark_partition_id()
    val prefix = df.filter(
      monotonically_increasing_id() - shiftleft(pid.cast(LongType), 33) <
        try_element_at(typedLit(need), pid + 1))
    // (column, value) → multiplicity m in one shuffle; then each reduce
    // task folds its distinct values into per-column partials — dct =
    // #values, nn = Σm and one vote Σm·[pred(v)] per lattice level and
    // format — and the driver sums the partials (≤ one per column per
    // task), as it does the counts above
    val (v, m) = (col("v"), col("m"))
    val asLong = v.try_cast(LongType)
    val preds = Seq(asLong.isNotNull, asLong.between(IntMin, IntMax),
      v.try_cast(DoubleType).isNotNull) ++ (if (parseDates)
        Dates.Formats.map(Dates.parses(v, _)) ++
          Dates.TimestampFormats.map(Dates.tparses(v, _))
      else Nil)
    val width = 2 + preds.size
    val stats = prefix
      .select(posexplode(array(cols.map(c =>
        Nulls.canonicalize(col(c).cast(StringType))): _*)).as(Seq("i", "v")))
      .where(v.isNotNull)
      .groupBy("i", "v").agg(count(lit(1)).as("m"))
      .select(col("i") +: m +: preds.map(coalesce(_, lit(false))): _*)
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.LongMap.empty[Array[Long]]
        rows.foreach { r =>
          val s = acc.getOrElseUpdate(r.getInt(0), new Array[Long](width))
          val k = r.getLong(1)
          s(0) += 1; s(1) += k
          var j = 2
          while (j < width) { if (r.getBoolean(j)) s(j) += k; j += 1 }
        }
        acc.iterator
      }.collect()
      .groupMapReduce(_._1.toInt)(_._2)((a, b) => a.lazyZip(b).map(_ + _))
    val thresh = Categorical.threshold(n, scan)
    val fields = cols.zipWithIndex.map { case (c, i) =>
      // an all-null column has no values: dct = nn = 0
      val s = stats.getOrElse(i, new Array[Long](width)).toSeq
      val Seq(dct, nn, lng, intOk, dbl) = s.take(5)
      // exactly-one-surviving-format rule, index.js:373-378; the date
      // and timestamp candidate families are disjoint on any single
      // value (a 8–10 char date can never parse a 14+ char datetime
      // pattern and vice versa), so the two votes cannot both survive
      def surviving(fs: Seq[String], votes: Seq[Long]) =
        fs.zip(votes).collect { case (f, k) if k == nn => f }
      val dates = surviving(Dates.Formats, s.drop(5))
      val stamps = surviving(Dates.TimestampFormats,
        s.drop(5 + Dates.Formats.size))
      val (dt, fmt): (DataType, Option[String]) =
        if (nn == 0) (IntegerType, None) // all-null seeds int32, index.js:183-185
        else if (lng == nn && intOk == nn) (IntegerType, None)
        else if (lng == nn) (LongType, None)
        else if (dbl == nn) (DoubleType, None)
        // int → long → double → date → TIMESTAMP → str
        else if (dates.size == 1) (DateType, Some(dates.head))
        else if (stamps.size == 1) (TimestampType, Some(stamps.head))
        else (StringType, None)
      FieldMeta(c, Sanitize(c), dt, fmt,
        Categorical.isCategorical(dct, thresh), dct)
    }
    // de-dup sanitized collisions, same policy as Sanitize.columns
    val deduped = fields.zip(Sanitize.dedupe(fields.map(_.sanitized)))
      .map { case (f, s) => f.copy(sanitized = s) }
    IngestSchema(deduped, n, scan, thresh)
  }

  /** Apply an inferred schema: canonicalize nulls, cast to the decided
    * type (`try_cast` — post-freeze misfits become NULL, Q8 intended
    * semantics), normalize dates, rename to sanitized names. Purely
    * declarative — Catalyst folds this into the scan, so the "fill pass"
    * (reference O11, `index.js:407-488`) is the write job itself. */
  def cast(df: DataFrame, schema: IngestSchema): DataFrame = {
    val canon = df.select(schema.fields.map { f =>
      Nulls.canonicalize(col(f.name).cast(StringType)).as(f.sanitized)
    }: _*)
    canon.select(schema.fields.map { f =>
      val c = f.dataType match {
        case t @ (IntegerType | LongType | DoubleType) =>
          col(f.sanitized).try_cast(t)
        case DateType      => Dates.normalize(col(f.sanitized), f.dateFormat.get)
        case TimestampType => Dates.normalizeTs(col(f.sanitized), f.dateFormat.get)
        case _             => col(f.sanitized)
      }
      c.as(f.sanitized)
    }: _*)
  }
}
