package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only profiler: times any registered query through Bench's timing
  * path (untimed warm-up, then timed runs with cleared caches and
  * per-run shuffle/spill bytes), plus three record probes whose JSON
  * lines `tools/assemble_scale.py` embeds in the scale artifact. Not
  * part of the driver contract.
  *
  * Usage: sbt "runMain graft.Profile <sfDir> <query | probe>"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = args.drop(1).headOption.getOrElse("dedup_containment_lsh")
    // shares /tmp/graft_warehouse (bucketed-table rewrites) with Verify
    // and Bench, so it takes their lock
    val guard = tools.RunGuard.acquire("graft.Profile")
    val spark = Sessions.local()
    val meter = new Bench.Meter(spark)
    what match {
      case "quota_skew" => profileQuotaSkew(spark, meter, sfDir)
      case "incr_candidates" => profileIncrCandidates(spark, sfDir)
      case "containment_candidates" =>
        profileContainmentCandidates(spark, sfDir)
      case q =>
        def run(): Unit = SparkEntry.queries(q)(spark, sfDir).count()
        time(s"$q warm")(run())
        for (i <- 1 to 3) report(s"$q run$i", meter.timed(run()))
    }
    spark.stop()
    guard.release()
  }

  private def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  private def report(label: String, st: Bench.RunStat): Unit =
    println(f"[profile] $label%-40s ${st.sec}%8.3f s " +
      s"shuffle_write_mb=${st.shufWMb} shuffle_read_mb=${st.shufRMb} " +
      s"spill_mb=${st.spillMb}")

  /** Machine-readable probe record sink. DEDICATED env var — the skew
    * probe used to reuse Bench's SPARK_GRAFT_DETAIL_PATH, so a var
    * exported once for a bench chain silently truncated the bench
    * detail artifact with the probe record (the exact clobber class
    * the override path was added to prevent). APPEND, not truncate
    * (r14 advice): two probes run in one chain with the var exported
    * once must both land in the record file — each record is one
    * newline-terminated JSON line. */
  private def writeRecord(rec: String): Unit = {
    sys.env.get("SPARK_GRAFT_PROFILE_RECORD_PATH").foreach { p =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        rec + "\n", java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case e: Throwable =>
        System.err.println(s"[profile] record write failed: ${e.getMessage}") }
    }
    println(rec)
  }

  /** Candidate-volume probe of the adaptive-width embedding band join
    * (r13 ask 1): one JSON record with the deployed widths and
    * candidates-per-batch-row at `dir` — run at 1×/3×/10× scale dirs
    * and embedded in BENCH_SCALE so the scale curve of
    * dedup_incr_embedding's governed quantity is a frozen number. */
  private def profileIncrCandidates(s: SparkSession, dir: String): Unit = {
    import graft.ops.Incremental
    val r = time("incr_candidates")(Incremental.incrCandidateStats(
      Incremental.vecSets(s, dir, base = false),
      Incremental.vecSets(s, dir, base = true)).head())
    writeRecord(s"""{"probe":"incr_candidates","dir":"$dir"""" +
      s""","bits_low":${r.getInt(0)},"k_high":${r.getInt(1)}""" +
      s""","n_batch":${r.getLong(2)},"n_base":${r.getLong(3)}""" +
      s""","n_candidates":${r.getLong(4)}""" +
      s""","cand_per_batch_row":${r.getDouble(5)}}""")
  }

  /** Candidate-volume probe of the containment prefix filter (r14
    * verdict ask 1): one JSON record with instance/candidate/answer
    * counts and the per-doc curves at `dir` — run at 1×/3×/10× scale
    * dirs and embedded in BENCH_SCALE so dedup_containment_lsh's scale
    * ratio is attributable (candidate blowup vs honest output growth)
    * as a frozen number. */
  private def profileContainmentCandidates(s: SparkSession,
      dir: String): Unit = {
    import graft.ops.{Dedup, Text}
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), Text.charShingleHashes(col("text"), 5).as("sh"))
    val r = time("containment_candidates")(
      Dedup.containmentCandidateStats(docs, "doc_id", "sh", 0.8).head())
    writeRecord(s"""{"probe":"containment_candidates","dir":"$dir"""" +
      s""","n_docs":${r.getLong(0)},"posting_volume":${r.getLong(1)}""" +
      s""","n_instances":${r.getLong(2)},"n_candidates":${r.getLong(3)}""" +
      s""","n_pairs":${r.getLong(4)},"inst_per_doc":${r.getDouble(5)}""" +
      s""","cand_per_doc":${r.getDouble(6)}}""")
  }

  /** Mega-host probe for the eTLD+1 quota: runs
    * `pipeline_domain_quota_etld` on `dir` (point it at a corpus where
    * ONE registrable domain owns ~100% of the rows) twice — with the
    * WindowGroupLimit rewrite active and with it excluded — printing
    * per-run wall + shuffle-write bytes. The delta IS the 100 TB
    * hot-domain story: with the rewrite, every map partition forwards
    * at most k rows per key, so the exchange carries O(k·maps) rows no
    * matter how skewed the corpus; without it, the full mega-group
    * crosses the wire into a single reducer. */
  private def profileQuotaSkew(s: SparkSession, meter: Bench.Meter,
      dir: String): Unit = {
    def run(): Long =
      SparkEntry.queries("pipeline_domain_quota_etld")(s, dir).count()
    val wgl = "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit"
    // median-of-3 per leg + a machine-readable record: the probe is a
    // STANDING per-round invariant (r12 verdict ask 5) — the assembled
    // BENCH_SCALE artifact embeds this JSON so "0.0 MB shuffled at
    // 100% skew" is re-measured and re-committed every round, not a
    // one-off table in SURVEY prose
    val legs = Seq("wgl_on" -> "", "wgl_off" -> wgl).map {
      case (label, excl) =>
        s.conf.set("spark.sql.optimizer.excludedRules", excl)
        val rows = time(s"$label warm")(run())
        println(s"[profile] $label output_rows $rows")
        val stats = (1 to 3).map { i =>
          val st = meter.timed(run())
          report(s"$label run$i", st)
          st
        }
        val secMed = stats.map(_.sec).sorted.apply(1)
        val mbMed = stats.map(_.shufWMb).sorted.apply(1)
        s""""$label":{"sec_median":$secMed,"shuffle_write_mb_median":$mbMed,"output_rows":$rows,"runs":3}"""
    }
    s.conf.set("spark.sql.optimizer.excludedRules", "")
    writeRecord(
      s"""{"probe":"quota_skew","dir":"$dir",${legs.mkString(",")}}""")
  }
}
