package graft

import org.scalatest.funsuite.AnyFunSuite

/** The suite timer's artifact: the per-query median behind every
  * reported time, the JSON serialization of rep walls and the per-query
  * count fields, plus the query-name selection that `Verify` and
  * `SPARK_GRAFT_BENCH_ONLY` share.
  */
class BenchSpec extends AnyFunSuite {

  test("median: odd, even (average of middles), empty") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Bench.median(Nil) == -1.0)
  }

  test("artifact format: jArr emits 2-decimal JSON arrays (rep_walls / adjudication walls)") {
    // rep_walls and rep_detail carry [rep1,rep2,rep3] per query via
    // jArr — pin the exact serialization.
    assert(Bench.jArr(Seq(0.925, 2.614, 2.7)) == "[0.93,2.61,2.70]")
    assert(Bench.jArr(Nil) == "[]")
  }

  test("artifact format: per-query tasks (max over reps) and codegen_compiles (last rep)") {
    // codegen_compiles reads the LAST rep: the first rep of a query pays
    // its cold compiles, a warm rep compiles only classes whose code
    // changed between runs
    val tasks = Map("a" -> Seq(4L, 6L, 5L), "b" -> Seq.empty[Long])
    val compiles = Map("a" -> Seq(120L, 3L, 0L), "b" -> Seq.empty[Long])
    assert(Bench.countFields(Seq("a", "b"), tasks, compiles) ==
      "\"tasks\":{\"a\":6,\"b\":-1},\"codegen_compiles\":{\"a\":0,\"b\":-1}")
  }

  test("queryNames: comma- or space-separated names across arguments") {
    assert(SparkEntry.queryNames(Seq("q1_agg,q2_proj_filter")) ==
      Set("q1_agg", "q2_proj_filter"))
    assert(SparkEntry.queryNames(Seq("q1_agg q2_proj_filter", "q1_agg")) ==
      Set("q1_agg", "q2_proj_filter"))
    assert(SparkEntry.queryNames(Seq(" q1_agg , q2_proj_filter ")) ==
      Set("q1_agg", "q2_proj_filter"))
  }

  test("queryNames: unknown names fail, each one named") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.queryNames(Seq("q1_agg,q2_proj_filtr", "q9_nope")))
    assert(e.getMessage.contains("q2_proj_filtr, q9_nope"))
    assert(!e.getMessage.contains("q1_agg"))
  }

  test("Verify: a misspelled query name fails the dump instead of shrinking it") {
    val out = TestSpark.scratch("verify-unknown-name")
    intercept[IllegalArgumentException](
      Verify.main(Array(TestSpark.sf, out, "q1_agg,q2_proj_filtr")))
    assert(!new java.io.File(s"$out/q1_agg").exists())
  }
}
