package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Specs for the warehouse-modeling operators (Warehouse.scala) and the
  * z-order layout op (Scale.scala), run on the driver's sf0.001 tables.
  */
class WarehouseSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("scd2: per customer, intervals chain and exactly one is current") {
    val rows = Warehouse.queries("q_scd2_history")(spark, sf).collect()
    assert(rows.nonEmpty)
    // Q.t normalizes the testdata's TIMESTAMP_NTZ columns to TIMESTAMP,
    // so valid_from/valid_to externalize as java.sql.Timestamp; go
    // through Instant so the assertions don't care which form arrives.
    def ts(r: org.apache.spark.sql.Row, i: Int): java.time.Instant =
      r.get(i) match {
        case t: java.sql.Timestamp => t.toInstant
        case l: java.time.LocalDateTime => l.toInstant(java.time.ZoneOffset.UTC)
      }
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.count(_.getBoolean(5)) == 1)
      // ordered by (valid_from, orderkey): each valid_to equals the
      // next row's valid_from and never precedes its own valid_from
      val sorted = rs.sortWith { (a, b) =>
        val c = ts(a, 3).compareTo(ts(b, 3))
        c < 0 || (c == 0 && a.getLong(1) < b.getLong(1))
      }
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(!a.isNullAt(4))
        assert(ts(a, 4) == ts(b, 3))
        assert(!ts(a, 4).isBefore(ts(a, 3)))
      }
      assert(sorted.last.isNullAt(4))
    }
  }

  test("rfm: scores are quintiles 1..5 with near-equal bucket sizes") {
    val rows = Warehouse.queries("events_rfm")(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.length
    Seq(4, 5, 6).foreach { i => // r_score, f_score, m_score
      val counts = rows.groupBy(_.getInt(i)).map { case (k, v) =>
        assert(k >= 1 && k <= 5)
        v.size
      }
      assert(counts.max - counts.min <= 1) // ntile balance
    }
    rows.foreach { r =>
      assert(r.getInt(7) ==
        r.getInt(4) * 100 + r.getInt(5) * 10 + r.getInt(6))
    }
    assert(n >= 5)
  }

  test("rfm approx-threshold path agrees with exact ntile quintiles") {
    val approx = Warehouse.queries("events_rfm_approx")(spark, sf).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      Seq(4, 5, 6).foreach(i => assert(r.getInt(i) >= 1 && r.getInt(i) <= 5))
    }
    val audit = Warehouse.queries("audit_rfm_agreement")(spark, sf).collect()
    assert(audit.length == 1)
    val a = audit.head
    assert(a.getLong(0) > 0)
    Seq(1, 2, 3).foreach { i =>
      assert(a.getDouble(i) >= 0.8, s"dimension $i agreement ${a.getDouble(i)}")
    }
  }

  test("anomaly z-scores: per type, mean(z) ≈ 0 and flags match |z|>2") {
    val rows = Warehouse.queries("events_anomaly_zscore")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(4) == (math.abs(r.getDouble(3)) > 2)))
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val zs = rs.map(_.getDouble(3))
      assert(math.abs(zs.sum / zs.length) < 0.05)
    }
  }

  test("zorder: value-based files cover disjoint z-ranges with bounded " +
    "per-dim spread") {
    val rows = Scale.queries("q_zorder_key")(spark, sf).collect()
    assert(rows.nonEmpty)
    // file ids are distinct (groupBy) and each file's x/y ranges are
    // min ≤ max within the 8-bit bucket domain
    rows.foreach { r =>
      Seq((r.getInt(2), r.getInt(3)), (r.getInt(4), r.getInt(5))).foreach {
        case (lo, hi) =>
          assert(lo >= 0 && hi <= 255 && lo <= hi)
      }
    }
    // the low 4 z-bits interleave exactly 2 x-bits and 2 y-bits, so one
    // file (fixed z >> 4) varies x and y by at most 3 each — the
    // data-skipping property a min/max-pruned scan exploits
    rows.foreach { r =>
      assert(r.getInt(3) - r.getInt(2) <= 3)
      assert(r.getInt(5) - r.getInt(4) <= 3)
    }
  }

  test("stickiness: one-day user dilutes WAU for exactly its 7 cover days") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = "/tmp/graft_stick_fixture"
    // user 1 active every day d0..d7; user 2 only on d0 — it keeps
    // WAU at 2 through d6, so stickiness is 1/2 until d7's 1/1
    val rows = (0 to 7).map(d => (1L, "click", 0.0,
        f"2024-01-0${d + 1}%d 10:00:00")) :+
      (2L, "click", 0.0, "2024-01-01 10:00:00")
    rows.toDF("user_id", "event_type", "value", "ts_s")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Warehouse.queries("events_dau_wau_stickiness")(spark, dir)
      .collect().map(r => r.getDate(0).toString ->
        (r.getAs[Long]("dau"), r.getAs[Long]("wau"),
          r.getAs[Double]("stickiness"))).toMap
    assert(got.keySet == Set("2024-01-07", "2024-01-08"))
    assert(got("2024-01-07") == ((1L, 2L, 0.5)))
    assert(got("2024-01-08") == ((1L, 1L, 1.0)))
  }

  test("absorption: probabilities are monotone in k and within [0,1]") {
    val base = pinned
    val rows = Warehouse.queries("events_absorption_prob")(spark,
      "/root/testdata/sf0.001").collect()
    // the p1, p4 and p8 snapshots the result joins; no other round
    assert(pinned <= base + 3, "only the three snapshots may stay pinned")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p1, p4, p8) = (r.getAs[Double]("p1"), r.getAs[Double]("p4"),
        r.getAs[Double]("p8"))
      assert(p1 >= 0 && p8 <= 1.0 + 1e-9)
      // purchase is absorbing → reaching it within more steps can
      // only be more likely
      assert(p1 <= p4 + 1e-9 && p4 <= p8 + 1e-9, s"not monotone: $r")
      if (r.getString(0) == "purchase")
        assert(p1 == 1.0 && p8 == 1.0)
    }
  }
}
