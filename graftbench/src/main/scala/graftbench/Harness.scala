package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.ingest.{Collimate, IngestSchema, TypeInference}
import graft.sources.RawColumnarSink

/** One client in one JVM, closed loop: runs the warm-up passes of a
  * plan, then timed passes until the deadline, and writes what it
  * measured as JSON lines. It times the
  * public calls of each layer from outside; all statistics are left to
  * run.py.
  *
  * Usage: Harness <plan.tsv>. Plan lines are tab-separated:
  * `key value` settings, then `warmup|timed round ingest id csv rows`
  * and `warmup|timed round query name` ops. Ops sharing a round number
  * form one pass; the timed region runs whole passes until `seconds` have
  * gone by and at least `min_passes` have run. */
object Harness {
  final case class Op(phase: String, round: Int, kind: String, args: Seq[String])

  private val clock0Ms = System.currentTimeMillis()
  private val clock0Ns = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as Spark's listener event times. */
  def nowMs: Double = clock0Ms + (System.nanoTime() - clock0Ns) / 1e6

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  def jitMillis: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Order-insensitive content hash of collected rows. Doubles are
    * rounded to 9 significant digits so that a summation order chosen
    * by the engine does not read as a different answer. */
  def rowsHash(rows: Array[Row]): Long = {
    def norm(v: Any): String = v match {
      case null => "∅"
      case d: Double => "%.9g".format(d)
      case f: Float => "%.9g".format(f.toDouble)
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case a: Array[_] => a.map(norm).mkString("[", ",", "]")
      case o => o.toString
    }
    rows.foldLeft(0L)((acc, r) =>
      acc + (MurmurHash3.stringHash(norm(r)).toLong & 0xffffffffL))
  }

  def schemaKey(s: IngestSchema): String =
    s.fields.map(f => Seq(f.name, f.sanitized, f.dataType.simpleString,
      f.categorical, f.dateFormat.getOrElse("")).mkString("|"))
      .mkString(";") + s"#${s.rowCount}"

  def dirKey(dir: File): String =
    Option(dir.listFiles).map(_.toSeq).getOrElse(Nil)
      .map(f => s"${f.getName}:${f.length}").sorted.mkString(",")

  def main(args: Array[String]): Unit = {
    val lines = Files.readAllLines(Paths.get(args(0))).asScala
      .map(_.split("\t", -1).toSeq).filter(_.nonEmpty)
    val conf = lines.filter(_.size == 2).map(l => l(0) -> l(1)).toMap
    val ops = lines.filter(l => l(0) == "warmup" || l(0) == "timed")
      .map(l => Op(l(0), l(1).toInt, l(2), l.drop(3))).toSeq
    val out = conf("out")
    val seconds = conf("seconds").toDouble
    val trace = conf("trace") == "1"
    val cores = conf("cores")
    val sfDir = conf("sf")
    val minPasses = conf("min_passes").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = nowMs
    Codegen.install()
    val log = new SpanLog
    if (trace) spark.sparkContext.addSparkListener(new Recorder(log))

    val refs = mutable.Map.empty[String, String]
    val records = ArrayBuffer.empty[String]
    var failedWarmup = 0

    /** Check `got` against the first value seen for `key` (the warm-up
      * op's); returns an error, or "" when it matches. */
    def againstRef(key: String, got: String): String =
      refs.get(key) match {
        case None => refs(key) = got; ""
        case Some(want) if want == got => ""
        case Some(want) => s"$key: got $got, warm-up had $want"
      }

    def runOp(op: Op): Double = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      val spans = ArrayBuffer.empty[(String, Double, Double)]
      def span[A](layer: String)(body: => A): A = {
        val a = nowMs
        try body finally spans += ((layer, a, nowMs))
      }
      val outDir = new File(s"$out/ingest/${op.args.head}")
      if (op.kind == "ingest") deleteTree(outDir)
      val idx = records.size
      if (trace) {
        org.apache.spark.graftbench.Bus.flush(spark.sparkContext)
        log.add(s"""{"ev":"op_start","op":$idx}""")
      }
      val (gc0, jit0) = (gcMillis, jitMillis)
      val (cg0, cgMs0) = (Codegen.compiles, Codegen.millis)
      val t0 = nowMs
      // the op's work; returns a closure that checks its outputs
      val work: Either[Throwable, () => Seq[String]] = try Right(op.kind match {
        case "ingest" =>
          val Seq(id, csv, rowsS) = op.args
          val opts = Collimate.Options(parseDates = true, writeIndex = true)
          val raw = span("ingest.read")(Collimate.read(spark, csv))
          val schema = span("ingest.infer")(TypeInference.infer(raw, opts.parseDates))
          val result = span("ingest.write_parquet") {
            val r = Collimate.Result(TypeInference.cast(raw, schema), schema)
            Collimate.write(r, outDir.getPath, opts)
            r
          }
          span("ingest.write_raw")(RawColumnarSink.write(result, s"$outDir/raw"))
          () => {
            val rows = rowsS.toLong
            val pq = spark.read.parquet(s"$outDir/data.parquet").count()
            Seq(
              againstRef(s"schema:$id", schemaKey(schema)),
              if (schema.rowCount == rows) ""
              else s"inferred row count ${schema.rowCount} != csv rows $rows",
              if (pq == rows) "" else s"parquet rows $pq != csv rows $rows",
              if (new File(outDir, "index.json").isFile) "" else "no index.json",
              againstRef(s"raw:$id", dirKey(new File(outDir, "raw"))))
          }
        case "query" =>
          val name = op.args.head
          val df = span("ops.build")(SparkEntry.queries(name)(spark, sfDir))
          span("ops.plan")(df.queryExecution.executedPlan)
          val rows = span("ops.exec")(df.collect())
          () => Seq(againstRef(s"query:$name", s"${rows.length}/${rowsHash(rows)}"))
      }) catch { case e: Throwable => Left(e) }
      val t1 = nowMs
      val (gc1, jit1) = (gcMillis, jitMillis)
      val (cg1, cgMs1) = (Codegen.compiles, Codegen.millis)
      if (trace) {
        org.apache.spark.graftbench.Bus.flush(spark.sparkContext)
        log.add(s"""{"ev":"op_end","op":$idx}""")
      }
      // (checks run, failures)
      val (checks, errors) = work match {
        case Left(e) => (0, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        case Right(check) =>
          try { val r = check(); (r.size, r.filter(_.nonEmpty)) }
          catch { case e: Throwable => (0, Seq(s"check failed: ${e.getMessage}")) }
      }
      val extra = if (op.kind == "ingest") {
        val pq = Option(new File(outDir, "data.parquet").listFiles).toSeq.flatten
          .filter(_.getName.endsWith(".parquet")).map(_.length).sum
        s""","pq_bytes":$pq"""
      } else ""
      if (errors.nonEmpty) System.err.println(s"[graftbench] op $idx failed: ${errors.mkString("; ")}")
      if (errors.nonEmpty && op.phase == "warmup") failedWarmup += 1
      records += s"""{"op":$idx,"phase":"${op.phase}","round":${op.round},""" +
        s""""kind":"${op.kind}","name":${json(op.args.head)},"t0":$t0,"t1":$t1,""" +
        s""""spans":[${spans.map { case (n, a, b) => s"""[${json(n)},$a,$b]""" }.mkString(",")}],""" +
        s""""gc_ms":${gc1 - gc0},"jit_ms":${jit1 - jit0},"cg_n":${cg1 - cg0},"cg_ms":${cgMs1 - cgMs0},""" +
        s""""checks":$checks,"ok":${errors.isEmpty},"why":${json(errors.mkString("; "))}$extra}"""
      t1 - t0
    }

    // the passes of a phase, in plan order
    def rounds(phase: String): Seq[Seq[Op]] =
      ops.filter(_.phase == phase).groupBy(_.round).toSeq.sortBy(_._1).map(_._2)

    val warmTimes = rounds("warmup").map(_.map(runOp).sum)
    val setupEndMs = nowMs

    val jit0 = jitMillis
    val timedStart = nowMs
    val timedIt = rounds("timed").iterator
    var passes = 0
    while (timedIt.hasNext &&
        (passes < minPasses || nowMs - timedStart < seconds * 1000)) {
      timedIt.next().foreach(runOp)
      passes += 1
    }
    val timedEnd = nowMs
    val jit1 = jitMillis

    val dir = Paths.get(out)
    Files.write(dir.resolve("ops.jsonl"), records.asJava, StandardCharsets.UTF_8)
    Files.write(dir.resolve("trace.jsonl"), log.all.asJava, StandardCharsets.UTF_8)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.writeString(dir.resolve("summary.json"),
      s"""{"jvm_start_ms":$jvmStart,"session_ms":$sessionMs,""" +
        s""""setup_end_ms":$setupEndMs,"timed_start_ms":$timedStart,""" +
        s""""timed_end_ms":$timedEnd,"warmup_rounds":${warmTimes.size},""" +
        s""""warmup_round_s":[${warmTimes.map(_ / 1000).mkString(",")}],""" +
        s""""failed_warmup":$failedWarmup,""" +
        s""""jit_ms_timed":${jit1 - jit0},"peak_rss_kb":$peakRssKb}""" + "\n")
    spark.stop()
  }
}
