package org.apache.spark.sql

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{CodecStreams, DataSource}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.HadoopFSUtils

/** Bridge to Spark internals that graft needs and Spark keeps
  * `private[sql]`: the Column ↔ Expression conversion for graft's custom
  * Catalyst expressions (`ExpressionUtils`) and the CSV header parsing
  * (`UnivocityParser`, `CSVUtils`) behind the driver-side header read,
  * and the Parquet footer conversion behind the driver-side schema read.
  * All have to be reached from inside the package — this is the only
  * file outside the `graft` namespace. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom LogicalPlan (`Dataset.ofRows` is
    * `private[sql]`): the entry point for whole-operator custom nodes
    * like graft.plans.TopKPerKey. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The analyzed plan of a DataFrame (for wrapping in custom nodes). */
  def analyzed(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Free the storage blocks behind a cached or `localCheckpoint()`ed
    * DataFrame; Spark has no call that releases a checkpoint, so per-round
    * checkpoints (graft.ops.Fixpoint) stay pinned until the context
    * cleaner notices (gigabytes at the 3× scale probe). Only a plan that
    * IS a checkpoint is released, by id as the cleaner does it
    * (`RDD.unpersist` logs a WARN per local checkpoint). */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
      case _ => ()
    }
  }

  /** Block until every queued SparkListener event has been delivered
    * (`listenerBus` is `private[spark]`). Task-end metrics arrive on
    * the async bus; a telemetry snapshot taken without draining it can
    * attribute one query's shuffle/spill bytes to the next. */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a custom expression under a SQL-callable name
    * (`sessionState` is also `private[sql]`). Idempotent. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** `spark.read.options(options).csv(path)` with `header` on and
    * `inferSchema` off — every column a nullable string named by the
    * header record — but with the schema computed on the driver with
    * Spark's own header functions. Spark learns it by running a job over
    * the scan (`take(1)`); handing this schema to the reader instead
    * starts no job.
    *
    * Input files: `path`'s glob matches, directories listed one level
    * deep, with the names Spark skips (`_`- and `.`-prefixed) left out.
    * The header comes from the first file in path order that holds a
    * record; if none does, the schema is empty, as Spark infers. One
    * difference: Spark reads the header from its first split, the
    * largest file. The two choices differ only when the files' headers
    * differ. When the path names no input file, Spark's own read runs
    * and reports it.
    *
    * A glob reaches the reader as its expanded roots, with Spark's
    * globbing off: Spark would stat the glob string itself as a path
    * (`FileStreamSink.hasMetadata`) and log a `FileNotFoundException`
    * for every read. A path without glob characters reaches it
    * unchanged. */
  def readCsv(spark: SparkSession, path: String,
      options: Map[String, String]): DataFrame = {
    val sqlConf = spark.sessionState.conf
    val opts = new CSVOptions(options, sqlConf.csvColumnPruning,
      sqlConf.sessionLocalTimeZone, sqlConf.columnNameOfCorruptRecord)
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    val glob = new Path(path)
    val fs = glob.getFileSystem(conf)
    val roots = Option(fs.globStatus(glob)).toSeq.flatten
    val files = roots
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
      .filter(s => s.isFile && !HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      .map(_.getPath).sortBy(_.toString)
    // line mode: the first non-empty line, parsed (TextInputCSVDataSource);
    // multiLine: the first record of the token stream (MultiLineCSVDataSource)
    def firstRecord(file: Path): Option[Array[String]] =
      if (opts.multiLine) {
        val in = CodecStreams.createInputStream(conf, file)
        try UnivocityParser.tokenizeStream(in, shouldDropHeader = false,
          new CsvParser(opts.asParserSettings), opts.charset).nextOption()
        finally in.close()
      } else CSVUtils.readHeaderLine(file, opts, conf)
        .map(new CsvParser(opts.asParserSettings).parseLine)
    val reader = spark.read.options(options)
    if (files.isEmpty) reader.csv(path)
    else {
      val schema = files.iterator.map(firstRecord)
        .collectFirst { case Some(r) => r } match {
        case Some(record) if record != null =>
          StructType(CSVUtils.makeSafeHeader(record,
            sqlConf.caseSensitiveAnalysis, opts).toSeq
            .map(StructField(_, StringType, nullable = true)))
        case _ => StructType(Nil)
      }
      if (SparkHadoopUtil.get.isGlobPath(glob))
        reader.schema(schema).option(DataSource.GLOB_PATHS_KEY, "false")
          .csv(roots.map(_.getPath.toString): _*)
      else reader.schema(schema).csv(path)
    }
  }

  /** `spark.read.parquet(path)` without its schema-inference job: Spark
    * starts one job per read only to read one footer
    * (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`). This reads
    * the same footer on the driver and hands the schema to the reader.
    *
    * The footer is the one Spark picks: the path's leaf files, listed
    * recursively as the file index lists them (Spark's hidden-name
    * filter, which keeps the `_common_metadata`/`_metadata` summaries),
    * in path order; a `_common_metadata`, else a `_metadata`, else the
    * first data file. The conversion is Spark's, under the session conf,
    * so `nanosAsLong` and TIMESTAMP_NTZ inference follow the session.
    * Partition columns are still discovered from the directory names by
    * the reader. When the path is missing or holds no data file, Spark's
    * own read runs and raises its usual error. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(p: Path): Seq[FileStatus] = fs.listStatus(p).toSeq
      .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    val files = (if (fs.exists(root)) leaves(root) else Nil)
      .sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    files.find(f => !summaries.contains(f.getPath.getName)) match {
      case None => spark.read.parquet(path)
      case Some(data) =>
        val first = summaries.flatMap(n => files.find(_.getPath.getName == n))
          .headOption.getOrElse(data)
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(first, conf), SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
    }
  }
}
