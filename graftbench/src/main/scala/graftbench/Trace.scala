package graftbench

import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.LoggerConfig
import org.apache.spark.scheduler._

/** In-memory span log, written out once when the run ends. Lines are
  * JSON objects; run.py turns them into per-op layer numbers. Both the
  * main thread (op markers) and the listener-bus thread append, so every
  * append is synchronized and the order of lines is the order of
  * delivery. */
final class SpanLog {
  private val lines = new ArrayBuffer[String]
  def add(line: String): Unit = synchronized { lines += line }
  def all: Seq[String] = synchronized { lines.toList }
}

/** Records Spark jobs, stages and tasks as spans. Registered only in a
  * traced run. A job belongs to the op whose markers enclose its start
  * event; stages and tasks follow their job (run.py `attribute`). */
final class Recorder(log: SpanLog) extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    log.add(s"""{"ev":"job_start","job":${e.jobId},"t":${e.time},""" +
      s""""stages":[${e.stageIds.mkString(",")}]}""")

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    log.add(s"""{"ev":"job_end","job":${e.jobId},"t":${e.time}}""")

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    log.add(s"""{"ev":"stage","stage":${s.stageId},""" +
      s""""attempt":${s.attemptNumber()},""" +
      s""""t0":${s.submissionTime.getOrElse(-1L)},""" +
      s""""t1":${s.completionTime.getOrElse(-1L)},"tasks":${s.numTasks}}""")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val (run, cpu, gc, shw, fw, spill) =
      if (m == null) (0L, 0L, 0L, 0L, 0L, 0L)
      else (m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled + m.memoryBytesSpilled)
    log.add(s"""{"ev":"task","stage":${e.stageId},"t0":${i.launchTime},""" +
      s""""t1":${i.finishTime},"run_ms":$run,"cpu_ns":$cpu,"gc_ms":$gc,""" +
      s""""shw_b":$shw,"fw_ms":$fw,"spill_b":$spill}""")
  }
}

/** Whole-stage codegen compiles: the count comes from Spark's
  * `CodegenMetrics`; the milliseconds from the "Code generated in N ms"
  * line `CodeGenerator` logs once per compile (the metric itself is a
  * sampling histogram, so its sum is not exact). The logger is routed
  * to this appender only, so nothing reaches the console. */
object Codegen {
  private val Name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val Msg = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val ms = new DoubleAdder

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new AbstractAppender("graftbench-codegen", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case Msg(v) => ms.add(v.toDouble)
          case _ => ()
        }
    }
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig(Name, Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger(Name, lc)
    ctx.updateLoggers()
  }

  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def millis: Double = ms.sum
}
