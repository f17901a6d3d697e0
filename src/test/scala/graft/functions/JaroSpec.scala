package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Known-answer + edge cases for JaroWinkler, pinned to DuckDB's
  * jaro_winkler_similarity (the oracle engine) — including the
  * empirically-probed semantics: empty→0, window max/2−1 (no floor
  * clamp above 0), integer-halved transpositions, bonus only above
  * jaro 0.7. */
class JaroSpec extends AnyFunSuite with SparkSuite {
  private def jw(a: String, b: String): Double = JaroWinkler.compute(a, b)

  test("known values match DuckDB jaro_winkler_similarity") {
    assert(math.abs(jw("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jw("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(math.abs(jw("aaaa", "aaaab") - 0.96) < 1e-12)
    // below the 0.7 boost threshold the prefix bonus must NOT apply
    assert(jw("abqqqqqq", "abzzzzzz") == 0.5)
    // odd mismatch count: DuckDB floors the transposition half
    // (abcdef/bcadef → m=6, 3 mismatches, t=1 → 0.944…)
    assert(math.abs(jw("abcdef", "bcadef") - 0.9444444444444445) < 1e-12)
  }

  test("edges: empties are 0, window 0 blocks adjacent swaps, identity is 1") {
    assert(jw("", "") == 0.0 && jw("a", "") == 0.0 && jw("", "a") == 0.0)
    assert(jw("ab", "ba") == 0.0) // window max(2,2)/2-1 = 0
    assert(jw("abc", "abc") == 1.0)
    assert(jw("a", "a") == 1.0)
  }

  test("computeGte: exact above the lossless ratio bound, 0 below, never a false prune") {
    import org.apache.spark.unsafe.types.UTF8String
    def gte(a: String, b: String, tau: Double): Double =
      JaroWinkler.computeGte(UTF8String.fromString(a),
        UTF8String.fromString(b), math.max(0.0, 5.0 * tau - 4.0))
    // survivors of the ratio bound score EXACTLY like the plain form
    assert(gte("MARTHA", "MARHTA", 0.9) == jw("MARTHA", "MARHTA"))
    assert(gte("aaaa", "aaaab", 0.9) == jw("aaaa", "aaaab"))
    // ratio < 5τ−4 → pruned to 0.0 — and the plain score really is
    // below τ there (the bound is lossless, not heuristic)
    val (a, b) = ("abcdefgh", "abc") // ratio 0.375 < 0.5
    assert(gte(a, b, 0.9) == 0.0 && jw(a, b) < 0.9)
    // exhaustive losslessness on random pairs: pruned ⇒ plain < τ
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val x = rnd.alphanumeric.take(rnd.nextInt(16)).mkString
      val y = rnd.alphanumeric.take(rnd.nextInt(16)).mkString
      val g = gte(x, y, 0.9)
      if (g == 0.0) assert(jw(x, y) < 0.9 || jw(x, y) == 0.0,
        s"false prune on ($x, $y): plain=${jw(x, y)}")
      else assert(g == jw(x, y), s"score drift on ($x, $y)")
    }
    // τ ≤ 0.8 disables the bound (5τ−4 ≤ 0): scores pass through exact
    assert(gte(a, b, 0.5) == jw(a, b))
  }

  test("symmetric, bounded, and SQL-registered") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 200) {
      val a = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val b = rnd.alphanumeric.take(rnd.nextInt(12)).mkString
      val x = jw(a, b); val y = jw(b, a)
      assert(x == y, s"asymmetric on ($a, $b)")
      assert(x >= 0.0 && x <= 1.0, s"out of range on ($a, $b)")
    }
    graft.ops.Scale.registerSqlFunctions(spark)
    val r = spark.sql(
      "SELECT graft_jaro_winkler('MARTHA', 'MARHTA') AS jw").head.getDouble(0)
    assert(math.abs(r - 0.9611111111111111) < 1e-12)
    // thresholded SQL form: exact above the bound, 0 when pruned
    val g = spark.sql("SELECT graft_jaro_winkler_gte('MARTHA', 'MARHTA', 0.9)" +
      " AS jw").head.getDouble(0)
    assert(math.abs(g - 0.9611111111111111) < 1e-12)
    val p = spark.sql("SELECT graft_jaro_winkler_gte('abcdefgh', 'abc', 0.9)" +
      " AS jw").head.getDouble(0)
    assert(p == 0.0)
    // the IDNA host fold rides the same registration path
    val idn = spark.sql(
      "SELECT graft_idn_host_ascii('news.bücher.de') AS h")
      .head.getString(0)
    assert(idn == "news.xn--bcher-kva.de")
  }
}
