package graft

import org.scalatest.funsuite.AnyFunSuite

/** The acceptance artifact's self-normalization math (r13 verdict order
  * 1): the hot/quiet verdict the driver's BENCH_r{N}.json now carries is
  * only as trustworthy as the ratio/mover computation behind it — pinned
  * here on constructed runs, including the exact r13 adjudication shape
  * (uniform ambient inflation vs a genuine per-query regression).
  */
class BenchSpec extends AnyFunSuite {

  test("median: odd, even (average of middles), empty") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Bench.median(Nil) == -1.0)
  }

  test("uniform ambient inflation: high anchor ratio, ZERO movers — the r13 signature") {
    val anchor = (1 to 20).map(i => s"q$i" -> 2.0).toMap
    // every query uniformly 1.18x — ambient load, nothing crosses the
    // 1.5x+0.5s mover bar (2.36 < 3.5)
    val secs = (1 to 20).map(i => s"q$i" -> 2.36)
    val (ratio, movers) = Bench.anchorStats(secs, anchor)
    assert(math.abs(ratio - 1.18) < 1e-9)
    assert(movers.isEmpty)
  }

  test("a genuine regression: one mover crosses the bar, median ratio stays quiet") {
    val anchor = (1 to 20).map(i => s"q$i" -> 2.0).toMap
    val secs = (1 to 19).map(i => s"q$i" -> 2.0) :+ ("q20" -> 8.0)
    val (ratio, movers) = Bench.anchorStats(secs, anchor)
    assert(ratio == 1.0) // median over 20 ratios, 19 of them 1.0
    assert(movers == Seq("q20" -> 4.0))
  }

  test("the mover bar is 1.5x PLUS 0.5s: a fast query doubling does not flap") {
    // 0.3s -> 0.7s is 2.33x but under 1.5*0.3+0.5 = 0.95s — noise floor,
    // not a mover; a slow query at the same ratio IS one
    val anchor = Map("fast" -> 0.3, "slow" -> 4.0)
    val (_, movers) = Bench.anchorStats(
      Seq("fast" -> 0.7, "slow" -> 9.4), anchor)
    assert(movers.map(_._1) == Seq("slow"))
  }

  test("new queries and errored queries are excluded from both statistics") {
    val anchor = Map("a" -> 1.0, "b" -> 1.0)
    // "new" absent from anchor; "a" errored upstream (caller drops it by
    // passing -1 — anchorStats filters non-positive)
    val (ratio, movers) = Bench.anchorStats(
      Seq("a" -> -1.0, "b" -> 1.1, "new" -> 99.0), anchor)
    assert(math.abs(ratio - 1.1) < 1e-9)
    assert(movers.isEmpty)
  }

  test("movers sort slowest-ratio first") {
    val anchor = Map("x" -> 1.0, "y" -> 1.0, "z" -> 1.0)
    val (_, movers) = Bench.anchorStats(
      Seq("x" -> 2.1, "y" -> 3.5, "z" -> 2.6), anchor)
    assert(movers.map(_._1) == Seq("y", "z", "x"))
  }

  test("empty intersection (no anchor / all new): ratio -1, no movers") {
    val (ratio, movers) = Bench.anchorStats(Seq("q" -> 1.0), Map.empty)
    assert(ratio == -1.0)
    assert(movers.isEmpty)
  }

  test("verdict: computed ratio decides, loadavg suppressed (quiet tree on a hot-looking host)") {
    // ratio 1.05 on a host whose 5-min loadavg tripped the flag — the
    // measured per-query evidence wins (the r14 back-to-back-runs case)
    assert(Bench.hostVerdictOf(1.05, hotByLoad = true) == (false, "quiet"))
    assert(Bench.hostVerdictOf(1.30, hotByLoad = false) == (true, "hot"))
  }

  test("verdict: any cluster downgrade weakens quiet to quiet_cluster_adjudicate (ADVICE r17)") {
    // a clustered mover is excused from n_movers but could hide a real
    // regression inside the contention window — the verdict must demand
    // adjudication, never read as plain quiet
    assert(Bench.hostVerdictOf(1.05, hotByLoad = false, nCluster = 1) ==
      (false, "quiet_cluster_adjudicate"))
    assert(Bench.hostVerdictOf(-1.0, hotByLoad = false, nCluster = 2) ==
      (false, "quiet_cluster_adjudicate"))
    // a hot verdict stays hot — the stronger flag already demands a re-run
    assert(Bench.hostVerdictOf(1.30, hotByLoad = false, nCluster = 1) ==
      (true, "hot"))
    // zero clusters: unchanged r14 behavior
    assert(Bench.hostVerdictOf(1.05, hotByLoad = false, nCluster = 0) ==
      (false, "quiet"))
  }

  test("moverSplitOf: all-reps-slow is a mover; one-fast-rep is a suspect (r15 order 2)") {
    val anchor = Map("reg" -> 1.0, "cont" -> 1.0, "ok" -> 1.0)
    val reps = Seq(
      "reg" -> Seq(3.0, 3.2, 3.1),   // min 3.0 > bar 2.0 → genuine mover
      "cont" -> Seq(1.0, 3.0, 3.1),  // median 3.0 > bar, min 1.0 ≤ bar → suspect
      "ok" -> Seq(1.0, 1.1, 0.9))    // median under bar → neither
    val (movers, suspects) = Bench.moverSplitOf(reps, anchor)
    assert(movers.map(_._1) == Seq("reg"))
    assert(math.abs(movers.head._2 - 3.1) < 1e-9) // ratio of medians
    assert(suspects.map(_._1) == Seq("cont"))
    assert(math.abs(suspects.head._2 - 3.0) < 1e-9)
  }

  test("moverSplitOf: the r15 driver shape — median 2.8x with min at anchor is a SUSPECT, not a mover") {
    // q161_bpe_merges in BENCH_r15: driver median 2.61s vs anchor 0.92s,
    // while the repo's interleaved closing drives measured 0.92s — the
    // contention explanation requires at least one driver rep at anchor
    // speed; under the split rule that spread classifies as suspect.
    val (movers, suspects) = Bench.moverSplitOf(
      Seq("q161" -> Seq(0.93, 2.61, 2.70)), Map("q161" -> 0.92))
    assert(movers.isEmpty)
    assert(suspects.map(_._1) == Seq("q161"))
  }

  test("moverSplitOf: anchor-absent and empty-rep queries contribute to neither; sort is slowest-first") {
    val anchor = Map("a" -> 1.0, "b" -> 1.0)
    val (movers, suspects) = Bench.moverSplitOf(
      Seq("a" -> Seq(4.0, 4.0, 4.0), "b" -> Seq(3.0, 3.0, 3.0),
        "new" -> Seq(9.0, 9.0, 9.0), "empty" -> Nil),
      anchor)
    assert(movers.map(_._1) == Seq("a", "b"))
    assert(suspects.isEmpty)
  }

  test("clusterSplitOf: the r16 driver shape — q50 inside an 11-suspect run-order window downgrades to cluster") {
    // BENCH_r16's adjudication verbatim: the lone mover q50_repetition
    // (walls [2.90,3.90,2.40] vs anchor 0.90) plus 11 suspects, ALL
    // inside the q43..q64 run-order window — the periodic-ambient-burst
    // signature (pass wall ≈ burst period re-hits the same window every
    // pass). Run order is the REAL registry order the bench executes.
    val runOrder = SparkEntry.queries.toSeq.map(_._1).sorted
    val movers = Seq("q50_repetition" -> 3.22)
    val suspects = Seq(
      "q51_bpe_tokens" -> 4.95, "q52_temporal_dedup" -> 4.77,
      "q64_keepfirst_dedup" -> 4.62, "q53_skew_profile" -> 4.03,
      "q43_weather_star" -> 3.47, "q45_heavy_hitters" -> 3.23,
      "q47_salted_join" -> 3.02, "q48_approx_quantile" -> 2.92,
      "q4_semi_join" -> 2.90, "q54_cube" -> 2.58, "q59_ann_pq" -> 2.25)
    val (real, cluster) = Bench.clusterSplitOf(movers, suspects, runOrder)
    assert(real.isEmpty)
    assert(cluster.map(_._1) == Seq("q50_repetition"))
  }

  test("clusterSplitOf: an isolated mover stays a mover even with far-away suspects") {
    val runOrder = SparkEntry.queries.toSeq.map(_._1).sorted
    // q89_pagerank is 50+ run-order positions from the q43..q64 window
    val movers = Seq("q89_pagerank" -> 3.0)
    val suspects = Seq("q43_weather_star" -> 3.47,
      "q45_heavy_hitters" -> 3.23, "q47_salted_join" -> 3.02)
    val (real, cluster) = Bench.clusterSplitOf(movers, suspects, runOrder)
    assert(real.map(_._1) == Seq("q89_pagerank"))
    assert(cluster.isEmpty)
  }

  test("clusterSplitOf: a shared-helper regression (several MOVERS, zero suspects) is never downgraded") {
    // the trigram machinery is shared by q50/q190/q193 — a real helper
    // regression makes them all all-reps-slow MOVERS; movers never
    // downgrade movers, and with no suspects nothing clusters even if
    // the victims were adjacent
    val runOrder = SparkEntry.queries.toSeq.map(_._1).sorted
    val movers = Seq("q50_repetition" -> 3.0,
      "q190_repetition_ratio" -> 2.8, "q193_filter_funnel" -> 2.5)
    val (real, cluster) = Bench.clusterSplitOf(movers, Nil, runOrder)
    assert(real.map(_._1).toSet ==
      Set("q50_repetition", "q190_repetition_ratio", "q193_filter_funnel"))
    assert(cluster.isEmpty)
  }

  test("clusterSplitOf: boundary — exactly ClusterMinSuspects inside ±ClusterWindow clusters, one fewer does not") {
    val runOrder = (0 until 40).map(i => f"q$i%02d")
    val mover = Seq("q20" -> 3.0)
    // three suspects at distances 8, 5, 1 (all within the ±8 window)
    val in = Seq("q12" -> 2.0, "q15" -> 2.0, "q21" -> 2.0)
    assert(Bench.clusterSplitOf(mover, in, runOrder)._2.map(_._1) == Seq("q20"))
    // one at distance 9 falls out → only 2 in-window → stays a mover
    val out = Seq("q11" -> 2.0, "q15" -> 2.0, "q21" -> 2.0)
    assert(Bench.clusterSplitOf(mover, out, runOrder)._1.map(_._1) == Seq("q20"))
  }

  test("artifact format: jArr emits 2-decimal JSON arrays (rep_walls / adjudication walls)") {
    // BENCH_r{N} carries [rep1,rep2,rep3] per query via jArr — pin the
    // exact serialization the adjudication fields depend on.
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

  test("verdict: NO computed ratio (stale/unreadable/zero-overlap anchor) falls back to loadavg (ADVICE r14)") {
    // anchorStats yields -1 when the anchor shares no query names; that
    // must NOT read as anchor-backed "quiet" on a hot host
    assert(Bench.hostVerdictOf(-1.0, hotByLoad = true) == (true, "hot"))
    assert(Bench.hostVerdictOf(-1.0, hotByLoad = false) ==
      (false, "quiet_no_anchor"))
    // ratio exactly 0 is not evidence either
    assert(Bench.hostVerdictOf(0.0, hotByLoad = true) == (true, "hot"))
  }
}
