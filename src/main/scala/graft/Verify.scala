package graft

import java.nio.file.{Files, Paths}

import Util.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg (local iteration only — the driver passes two):
    // run just the queries whose name contains any of the
    // comma-separated substrings
    val only = args.drop(2).headOption.map(_.split(",").toSeq)
    // Exclusive run lock + quiescence report (round-8 lesson: a zombie
    // background chain raced this main's output dir and flipped 5
    // hashes while rows/schema matched). Held for the whole run.
    val guard = tools.RunGuard.acquire("graft.Verify")
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // Write the oracle map BEFORE running any query: round 6's record
    // came back as an empty {} because this main previously wrote
    // oracle_sql.json only after all ~215 queries — a crash, OOM, or
    // driver timeout mid-run left nothing to compare at all. Written
    // first, a partial run still yields per-query verdicts for
    // everything that completed (missing parquet reads as a visible
    // failure, never as silent absence of evidence).
    writeOracles(outDir)
    // run-identity stamp: written at start, re-read at end. If another
    // process wrote into this outDir while we ran (the round-8 clobber
    // mode), the stamp mismatch turns a silent artifact corruption into
    // a loud nonzero exit.
    val stamp = s"""{"main":"graft.Verify","sf_dir":${jsonString(sfDir)},""" +
      guard.metaJson + "}"
    val stampPath = Paths.get(s"$outDir/run_meta.json")
    Files.writeString(stampPath, stamp)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output from an earlier run so a failure can
        // never be masked by yesterday's parquet
        Util.rmrf(new java.io.File(s"$outDir/$name"))
      }
      // queries that persist() internally would otherwise pin blocks for
      // the rest of this 150-query session
      finally spark.catalog.clearCache()
    }
    spark.stop()
    guard.release()
    val stampBack = try Files.readString(stampPath)
      catch { case _: Throwable => "<missing>" }
    if (stampBack != stamp) {
      System.err.println("[verify] FATAL: run_meta.json was rewritten " +
        s"mid-run (expected this run's stamp, found: $stampBack) — " +
        "another process wrote into this output dir; results are " +
        "not trustworthy")
      sys.exit(3)
    }
  }

  private def writeOracles(outDir: String): Unit = {
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
