package graft.streaming

import java.sql.Timestamp

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

case class Doc(doc_id: Long, text: String)

case class Vec(id: Long, v: Seq[Double], nrm: Double)

/** Structured Streaming parity: the SAME hourlyAgg transform that the
  * batch oracle checks is run here as a real streaming query (memory
  * sink), plus a stateful mapGroupsWithState op. */
class StreamingSpec extends AnyFunSuite with SparkSuite
    with BeforeAndAfterAll {
  import spark.implicits._

  // StreamingQuery.stop() cancels the query's job group twice even when
  // no batch is running, and the DAGScheduler logs each cancel that finds
  // no job as a WARN: two lines per test. That one logger is kept at
  // ERROR while this suite runs, then inherits its level again.
  private val dagLogger = "org.apache.spark.scheduler.DAGScheduler"

  override def beforeAll(): Unit = Configurator.setLevel(dagLogger, Level.ERROR)

  override def afterAll(): Unit = {
    // the scheduler handles events in order: once a job submitted now
    // has run, the last stop()'s cancels have been logged
    spark.range(1).count()
    Configurator.setLevel(dagLogger, null: Level)
  }

  def ts(m: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:00")

  val sample: Seq[Ev] = Seq(
    Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0),
    Ev(3, ts(65), 1, "buy", 10.0), Ev(4, ts(70), 2, "click", 3.0),
    Ev(5, ts(125), 2, "click", 4.0))

  test("hourlyAgg: streaming with watermark == batch on same data") {
    val input = MemoryStream[Ev](spark)
    input.addData(sample: _*)
    val q = EventStream.hourlyAgg(
        input.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_out")
        .orderBy($"hour_start", $"event_type").collect().toSeq
      val batch = EventStream.hourlyAgg(sample.toDF())
        .orderBy($"hour_start", $"event_type").collect().toSeq
      assert(streamed == batch)
      assert(streamed.map(_.getLong(2)).sum == sample.size)
    } finally q.stop()
  }

  test("stream-static enrich: streaming join to a static dim == batch") {
    val dim = Seq((1L, "FRANCE"), (2L, "KENYA"))
      .toDF("c_custkey", "n_name")
    val input = MemoryStream[Ev](spark)
    input.addData(sample: _*)
    val q = EventStream.enrichByNation(input.toDF(), dim)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_out")
        .orderBy($"n_name", $"event_type").collect().toSeq
      val batch = EventStream.enrichByNation(sample.toDF(), dim)
        .orderBy($"n_name", $"event_type").collect().toSeq
      assert(streamed == batch)
      assert(streamed.map(_.getLong(2)).sum == sample.size)
    } finally q.stop()
  }

  test("stateful streaming: running per-user count via mapGroupsWithState") {
    val input = MemoryStream[Ev](spark)
    val counts = input.toDS()
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + evs.size
          state.update(n)
          (user, n)
      }
    val q = counts.writeStream.outputMode("update")
      .format("memory").queryName("user_counts").start()
    try {
      input.addData(sample.take(3): _*)
      q.processAllAvailable()
      input.addData(sample.drop(3): _*)
      q.processAllAvailable()
      val last = spark.table("user_counts")
        .groupBy($"_1").agg(max($"_2").as("n"))
        .orderBy($"_1").as[(Long, Long)].collect().toSeq
      assert(last == Seq((1L, 3L), (2L, 2L)))
    } finally q.stop()
  }

  test("watermark drops late data in append mode") {
    val input = MemoryStream[Ev](spark)
    val agg = EventStream.hourlyAgg(
        input.toDF().withWatermark("ts", "10 minutes"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      // batch 1: two events in hour 10, one at 11:15 → watermark
      // advances to 11:15-10min = 11:05, PAST the hour-10 window end
      input.addData(Ev(1, ts(605), 1, "click", 1.0),
        Ev(2, ts(620), 1, "click", 1.0), Ev(3, ts(675), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: a late event in hour 10 — its window end (11:00) is
      // now below the watermark (11:05) → dropped, and the finalized
      // hour-10 window emits with only the on-time events
      input.addData(Ev(4, ts(700), 1, "click", 1.0),
        Ev(5, ts(607), 1, "late", 99.0))
      q.processAllAvailable()
      input.addData(Ev(6, ts(840), 1, "click", 1.0)) // close hour 11
      q.processAllAvailable()
      val rows = spark.table("late_out")
        .select($"hour_start", $"event_type", $"n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSeq.sorted
      // hour 10 emitted with ONLY the two on-time events; the late
      // 'late' event at 10:07 was dropped by the watermark
      assert(rows.contains((Timestamp.valueOf("2024-01-01 10:00:00"), "click", 2L)))
      assert(!rows.exists(_._2 == "late"))
    } finally q.stop()
  }

  test("hourlyUniques: chained dedup→agg streaming == batch (append mode)") {
    val input = MemoryStream[Ev](spark)
    val q = EventStream.hourlyUniques(
        input.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("uniq_out").start()
    // user 1 twice in hour 0 (dedup → 1), users 1+2 in hour 1
    val data = Seq(
      Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 1.0),
      Ev(3, ts(65), 1, "buy", 1.0), Ev(4, ts(70), 2, "click", 1.0))
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      input.addData(Ev(5, ts(200), 9, "click", 1.0)) // advance watermark
      q.processAllAvailable()
      val streamed = spark.table("uniq_out")
        .filter($"hour_start" < ts(120)) // finalized windows only
        .orderBy($"hour_start").as[(Timestamp, Long)].collect().toSeq
      val batch = EventStream.hourlyUniques(data.toDF())
        .orderBy($"hour_start").as[(Timestamp, Long)].collect().toSeq
      assert(streamed == batch)
      assert(streamed.map(_._2) == Seq(1L, 2L))
    } finally q.stop()
  }

  test("trending types: streamed window counts + batch rank == batch end-to-end") {
    // the production split: windowTypeCounts is the unbounded-state
    // streaming stage (append mode, watermark-finalized windows);
    // trendRank runs per emitted batch on the bounded count table
    val input = MemoryStream[Ev](spark)
    val q = EventStream.windowTypeCounts(
        input.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("trend_counts").start()
    val data = Seq(
      Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 2, "click", 1.0),
      Ev(3, ts(30), 3, "buy", 1.0),
      Ev(4, ts(65), 1, "click", 1.0), Ev(5, ts(70), 2, "buy", 1.0),
      Ev(6, ts(80), 3, "buy", 1.0), Ev(7, ts(85), 4, "buy", 1.0))
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      input.addData(Ev(8, ts(300), 9, "view", 1.0)) // advance watermark
      q.processAllAvailable()
      val finalized = spark.table("trend_counts")
        .filter($"win_start" < ts(180))
      val streamed = EventStream.trendRank(finalized)
        .orderBy($"win_start", $"trend_rank").collect().toSeq
      val batch = EventStream.trendRank(EventStream.windowTypeCounts(
          data.toDF()))
        .orderBy($"win_start", $"trend_rank").collect().toSeq
      assert(streamed == batch)
      // hour 1: buy went 1→3 (growth 2), click 2→1 (growth −1)
      val h1 = streamed.filter(_.getTimestamp(0) == ts(60))
      assert(h1.map(r => (r.getString(2), r.getLong(5))).toSeq ==
        Seq(("buy", 2L), ("click", -1L)))
    } finally q.stop()
  }

  test("slidingAgg: streaming with watermark == batch on same data") {
    val input = MemoryStream[Ev](spark)
    input.addData(sample: _*)
    val q = EventStream.slidingAgg(
        input.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sliding_out")
        .orderBy($"win_start", $"event_type").collect().toSeq
      val batch = EventStream.slidingAgg(sample.toDF())
        .orderBy($"win_start", $"event_type").collect().toSeq
      assert(streamed == batch)
      // 1h/15m slide → every event in exactly 4 windows
      assert(streamed.map(_.getLong(2)).sum == sample.size * 4)
    } finally q.stop()
  }

  test("stream-stream interval join == batch on same data") {
    val input = MemoryStream[Ev](spark)
    val attrib = EventStream.purchaseAttribution(
      input.toDF().withWatermark("ts", "20 minutes"))
    val q = attrib.writeStream.outputMode("append")
      .format("memory").queryName("attrib_out").start()
    val data = Seq(
      Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(8), 1, "click", 1.0),
      Ev(3, ts(12), 1, "purchase", 9.0),        // joins clicks 1,2
      Ev(4, ts(40), 1, "purchase", 9.0),        // joins nothing (gap > 10m)
      Ev(5, ts(50), 2, "click", 1.0), Ev(6, ts(55), 2, "purchase", 9.0))
    try {
      input.addData(data: _*)
      q.processAllAvailable()
      // close the watermark so pending matches flush
      input.addData(Ev(7, ts(200), 9, "click", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("attrib_out")
        .orderBy($"buy_id", $"click_id")
        .as[(Long, Long, Long)].collect().toSeq
      val batch = EventStream.purchaseAttribution(data.toDF())
        .orderBy($"buy_id", $"click_id")
        .as[(Long, Long, Long)].collect().toSeq
      assert(streamed == batch)
      assert(streamed == Seq((3L, 1L, 1L), (3L, 2L, 1L), (6L, 5L, 2L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses cross-batch duplicates") {
    val input = MemoryStream[Ev](spark)
    val deduped = input.toDS()
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(6), 1, "click", 1.0))
      q.processAllAvailable()
      // same event_id redelivered inside the watermark → suppressed
      input.addData(Ev(1, ts(7), 1, "click", 1.0), Ev(3, ts(8), 1, "click", 1.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select($"event_id")
        .as[Long].collect().toSeq.sorted
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("foreachBatch sink writes each microbatch transactionally") {
    val dir = java.nio.file.Files.createTempDirectory("graft_feb").toString
    val input = MemoryStream[Ev](spark)
    val q = input.toDF()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("append").parquet(s"$dir/out")
        ()
      }
      .start()
    try {
      input.addData(sample.take(3): _*)
      q.processAllAvailable()
      input.addData(sample.drop(3): _*)
      q.processAllAvailable()
      val n = spark.read.parquet(s"$dir/out").count()
      assert(n == sample.size)
    } finally {
      q.stop()
      graft.Util.rmrf(new java.io.File(dir))
    }
  }

  test("streaming incremental dedup carries the index across microbatches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val input = MemoryStream[Doc](spark)
    val q = graft.ops.Incremental.dedupStream(input.toDF(), "doc_id", "text",
      s"$dir/idx", s"$dir/out").start()
    try {
      input.addData(Doc(1, "a b"), Doc(2, "b a")) // 2 = token-set dup of 1
      q.processAllAvailable()
      input.addData(Doc(3, "a b"), Doc(4, "c d")) // 3 = dup vs batch-1 index
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
        .select($"doc_id", $"batch_id").as[(Long, Long)].collect().sorted
      assert(out.toSeq == Seq((1L, 0L), (4L, 1L))) // MemoryStream batch ids
    } finally {
      q.stop()
      graft.Util.rmrf(new java.io.File(dir))
    }
  }

  test("streaming semantic dedup carries band index + vectors across microbatches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_emb").toString
    val input = MemoryStream[Vec](spark)
    val q = graft.ops.Incremental.embeddingDedupStream(input.toDF(),
      s"$dir/idx", s"$dir/vec", s"$dir/out", 0.9,
      tables = 8, bits = 4, dim = 4).start()
    try {
      // batch 0: 2 duplicates 1 (same vector); 3 orthogonal → keep 1, 3
      input.addData(Vec(1, Seq(1, 0, 0, 0), 1.0),
        Vec(2, Seq(1, 0, 0, 0), 1.0), Vec(3, Seq(0, 1, 0, 0), 1.0))
      q.processAllAvailable()
      // batch 1: 4 duplicates survivor 1 via the persisted index;
      // 6 duplicates 5 within the batch → keep 5 only
      input.addData(Vec(4, Seq(1, 0, 0, 0), 1.0),
        Vec(5, Seq(0, 0, 1, 0), 1.0), Vec(6, Seq(0, 0, 1, 0), 1.0))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
        .select($"id", $"batch_id").as[(Long, Long)].collect().sorted
      assert(out.toSeq == Seq((1L, 0L), (3L, 0L), (5L, 1L)))
      // the state tables hold exactly the survivors' rows; the band
      // rows live under the metadata-owned version dir
      assert(spark.read.parquet(s"$dir/vec").count() == 3)
      val meta = graft.ops.Incremental.readEmbIndexMeta(spark, s"$dir/idx").get
      assert(meta.bits == 4, s"width floor not honored: $meta")
      assert(spark.read.parquet(s"$dir/idx/v${meta.version}").count() == 3 * 8)
    } finally {
      q.stop()
      graft.Util.rmrf(new java.io.File(dir))
    }
  }

  test("session_window: streaming with watermark == batch on same data") {
    val input = MemoryStream[Ev](spark)
    input.addData(sample: _*)
    val q = EventStream.sessionWindowAgg(
        input.toDF().withWatermark("ts", "10 minutes"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("session_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("session_out")
        .orderBy($"user_id", $"session_start").collect().toSeq
      val batch = EventStream.sessionWindowAgg(sample.toDF())
        .orderBy($"user_id", $"session_start").collect().toSeq
      assert(streamed == batch)
      // same session split as the window-based sessionize
      assert(streamed.map(r => (r.getLong(0), r.getLong(3))) ==
        Seq((1L, 2L), (1L, 1L), (2L, 1L), (2L, 1L)))
    } finally q.stop()
  }

  test("sessionize splits on the 30-minute gap") {
    val df = sample.toDF()
    val sessions = EventStream.sessionize(df)
      .orderBy($"user_id", $"session_id")
      .select($"user_id", $"session_id", $"n_events")
      .as[(Long, Long, Long)].collect().toSeq
    // user 1: events at :05/:20 then 1:05 → 2 sessions (45-min gap)
    // user 2: 1:10 then 2:05 → 2 sessions (55-min gap)
    assert(sessions == Seq((1L, 1L, 2L), (1L, 2L, 1L),
      (2L, 1L, 1L), (2L, 2L, 1L)))
  }
}
