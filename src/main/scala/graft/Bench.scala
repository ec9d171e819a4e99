package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Driver-run benchmark: every registered query at the env-selected scale
  * factor, one JSON line to stdout. Reps are interleaved round-robin across
  * the whole suite (pass 1 times every query once, then pass 2, ...) so a
  * host-contention window inflates ONE rep of many queries — which the
  * per-query median filters out — instead of every rep of a few queries,
  * which no statistic can repair (the r7/r10/r11 adjudications were all
  * back-to-back reps caught inside such a window).
  *
  * The artifact is self-defending: /proc/loadavg at start/end/per-pass and
  * per-rep process-CPU deltas are recorded, so a contaminated run is
  * identifiable from the JSON alone (wall inflates while process CPU stays
  * flat → ambient load, not a code regression).
  *
  * It is also SELF-NORMALIZING (r13 verdict order 1 — the r13 closing
  * artifact was taken on a ~3-core-loaded host and could not say so about
  * itself): the run loads the newest tracked per-query anchor
  * (`PERF_anchor_r*.json`, override via SPARK_GRAFT_BENCH_ANCHOR), stamps
  * its own `anchor_ratio` (median per-query ratio vs the anchor) and a
  * spread-aware mover split (r15 verdict order 2): `movers` are queries
  * whose MIN rep crosses the 1.5×anchor+0.5s bar (all reps slow — a code
  * property), `suspects` those whose median crosses but whose best rep
  * ran at anchor speed (pass-local contention). Both appear with raw rep
  * walls in the final `adjudication` field, and every query's raw walls
  * are emitted (`rep_walls` on the full line, `rep_detail` in
  * target/bench_full.json). It also emits a quiet/hot `host_verdict`. When the anchor comparison actually
  * PRODUCED a ratio (anchor_ratio > 0) it DECIDES: hot iff anchor_ratio
  * exceeds [[Bench.HotAnchorRatio]] — the uniform-inflation signature
  * of ambient load on an unchanged tree. Without a computed ratio
  * (non-sf0.1 run, scoped subset, missing/unreadable file, or an anchor
  * sharing no query names with the run) the pre-run 5-MIN loadavg vs
  * [[Bench.HotLoad]] decides instead (after one 60s cooldown retry) and
  * the verdict reads `quiet_no_anchor`; the load flag is always
  * recorded as `load_hot` either way. Anchor comparison only applies to
  * a FULL run at the anchor's scale (sf0.1, the driver's per-round
  * scale); other runs record `anchor:"skipped_*"`, and a file that
  * existed but contributed nothing records `unreadable:`/`no_overlap:`.
  *
  * Each query is forced through a `noop`-format write — unlike `count()`,
  * that materializes every output column (no Catalyst shortcut where the
  * count skips projections), so timings reflect real execution.
  */
object Bench {
  private def loadavg: Seq[Double] =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
      .split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Throwable => Seq(-1.0) }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  private def procCpuSec: Double = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => -1.0
  }

  private[graft] def jArr(xs: Seq[Double]): String =
    xs.map(x => f"$x%.2f").mkString("[", ",", "]")

  /** The artifact's per-query count fields, keyed in `order`:
    *   - `tasks`, completed tasks, max over reps (listener-bus counts can
    *     lag a few events behind the action's return, so one rep may read
    *     a task or two short). This is the scaling evidence: a query
    *     floored at a handful of tasks cannot speed up with more cores;
    *   - `codegen_compiles`, generated classes compiled during the LAST
    *     rep. Once the JVM-wide codegen cache holds a query's classes this
    *     is 0, so a nonzero entry names a query whose generated code
    *     changes between runs.
    * -1 marks a query with no completed rep.
    */
  private[graft] def countFields(order: Seq[String],
      tasks: String => Seq[Long], compiles: String => Seq[Long]): String = {
    def field(key: String, pick: String => Option[Long]): String =
      order.map(k => "\"" + k + "\":" + pick(k).getOrElse(-1L))
        .mkString("\"" + key + "\":{", ",", "}")
    field("tasks", tasks(_).maxOption) + "," +
      field("codegen_compiles", compiles(_).lastOption)
  }

  /** 5-MIN loadavg above this before the run starts ⇒ ambient load is
    * already eating cores this process doesn't own (the bench itself has
    * burned nothing yet). ~1.5 is this host's measured quiet floor — the
    * r12/r13 quiet anchors started at 0.3–1.4; the contaminated r13
    * driver run's own markers read 1.7–3.9. The 5-min field, not the
    * 1-min one: the sbt/JVM launch that starts the bench inflates the
    * 1-min average by itself (measured: 1.59 at start on an idle host
    * right after compiling), while a genuinely hot host — sustained
    * background burn, the r13 case — shows in both.
    */
  private val HotLoad = 1.5
  private def load5m(xs: Seq[Double]): Option[Double] = xs.drop(1).headOption
  /** Median per-query ratio vs the anchor above this ⇒ hot even if the
    * loadavg sample missed the contention window: a real code regression
    * moves SPECIFIC queries (movers), ambient load moves ALL of them
    * uniformly — r13's contaminated run read a uniform 1.18 median with
    * every mover's min-rep at its anchor value.
    */
  private val HotAnchorRatio = 1.15

  /** Newest tracked anchor in cwd (PERF_anchor_r<N>.json, highest N),
    * unless SPARK_GRAFT_BENCH_ANCHOR names one explicitly.
    */
  private def anchorFile: Option[java.io.File] =
    sys.env.get("SPARK_GRAFT_BENCH_ANCHOR").map(new java.io.File(_)).orElse {
      val re = "PERF_anchor_r(\\d+)\\.json".r
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(f => f.getName match {
          case re(n) => Some((n.toInt, f))
          case _ => None
        })
        .sortBy(-_._1).headOption.map(_._2)
    }.filter(_.isFile)

  /** The anchor's per-query median map. Jackson is on the Spark classpath;
    * any parse surprise degrades to "no anchor", never a dead bench.
    */
  private def anchorMap(f: java.io.File): Map[String, Double] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(f)
      val pq = root.get("per_query_sec")
      val it = pq.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
      b.result()
    } catch { case _: Throwable => Map.empty }

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val k = s.size
    if (k == 0) -1.0
    else if (k % 2 == 1) s(k / 2)
    else (s(k / 2 - 1) + s(k / 2)) / 2.0
  }

  /** Anchor normalization math, factored for BenchSpec: given this run's
    * per-query medians (errored queries excluded by the caller) and the
    * anchor map, returns (anchor_ratio = median per-query ratio over the
    * intersection, movers = queries past the 1.5×anchor+0.5s bar with
    * their ratios, slowest first). Queries absent from the anchor (new
    * this round) or non-positive on either side contribute to neither.
    */
  private[graft] def anchorStats(secs: Seq[(String, Double)],
      anchor: Map[String, Double]): (Double, Seq[(String, Double)]) = {
    val joined = secs.collect {
      case (name, s) if s > 0 && anchor.get(name).exists(_ > 0) =>
        (name, s, anchor(name))
    }
    val ratio = median(joined.map { case (_, s, a) => s / a })
    val movers = joined.collect {
      case (name, s, a) if s > 1.5 * a + 0.5 => name -> s / a
    }.sortBy(-_._2)
    (ratio, movers)
  }

  /** Spread-aware mover adjudication (r15 verdict order 2 — the r15
    * driver/closing mover discrepancy was un-adjudicable from medians
    * alone). Given each query's raw per-rep walls, a query whose MEDIAN
    * crosses the 1.5×anchor+0.5s bar splits into:
    *   - a **mover** (real regression) only when its MIN rep also crosses
    *     the bar — all N interleaved reps slow is a plan/code property;
    *     one-pass ambient contention cannot produce it;
    *   - otherwise a **suspect** — ≥1 rep ran at anchor speed, so the
    *     median was dragged by contention in specific passes (the r13 and
    *     r15 shapes: every flagged query's min-rep sat at its anchor
    *     value). Suspects are recorded with their full rep walls so the
    *     artifact adjudicates itself.
    * Queries absent from the anchor or with no successful reps contribute
    * to neither. Both lists sort slowest-ratio (of medians) first.
    */
  private[graft] def moverSplitOf(repWalls: Seq[(String, Seq[Double])],
      anchor: Map[String, Double])
      : (Seq[(String, Double)], Seq[(String, Double)]) = {
    def bar(a: Double) = 1.5 * a + 0.5
    val joined = repWalls.collect {
      case (name, ws) if ws.nonEmpty && anchor.get(name).exists(_ > 0) =>
        (name, median(ws), ws.min, anchor(name))
    }
    val movers = joined.collect {
      case (n, m, mn, a) if mn > bar(a) => n -> m / a
    }.sortBy(-_._2)
    val suspects = joined.collect {
      case (n, m, mn, a) if m > bar(a) && mn <= bar(a) => n -> m / a
    }.sortBy(-_._2)
    (movers, suspects)
  }

  /** Clustered-suspects escape hatch (r16 verdict order 1 — the
    * q50_repetition adjudication). The min-rep-over-bar mover rule
    * assumes interleaving decorrelates contention across reps, but the
    * suite's passes run at a near-constant wall (~80 s at sf0.1), so a
    * PERIODIC ambient burst whose period is close to the pass wall
    * re-hits the same RUN-ORDER window in every pass — min rep over the
    * bar with zero code change. The r16 driver bench is the measured
    * instance: its 12 bar-crossers all sit inside one 18-position
    * run-order window (q43..q64), 11 of them suspects (min rep at
    * anchor — contention PROVEN for that window of the pass timeline),
    * and the one "mover" (q50, walls [2.90,3.90,2.40] vs anchor 0.90,
    * code path untouched since r15) re-measured at anchor speed on a
    * quiet host.
    *
    * Rule: a mover with ≥ [[ClusterMinSuspects]] suspects within
    * ±[[ClusterWindow]] run-order positions is downgraded to `cluster`
    * kind — reported with full rep walls in the adjudication field but
    * excluded from `n_movers` (counted as `n_cluster`). Suspects are the
    * right witnesses because each one PROVES the window was contended in
    * some pass yet the code still runs at anchor speed; a genuine
    * regression has no mechanism to surround itself with them. A
    * shared-helper regression moving several queries is NOT masked:
    * its victims are all MOVERS (all reps slow) scattered by name
    * (q50/q190/q193 share the trigram machinery yet sit 100+ run-order
    * positions apart), and movers never downgrade movers.
    */
  private[graft] val ClusterWindow = 8
  private[graft] val ClusterMinSuspects = 3

  /** Splits `movers` into (real movers, cluster-downgraded movers) by
    * the rule above; `runOrder` is the bench's execution order (the
    * name-sorted query list). Both halves keep the slowest-first sort.
    */
  private[graft] def clusterSplitOf(movers: Seq[(String, Double)],
      suspects: Seq[(String, Double)], runOrder: Seq[String])
      : (Seq[(String, Double)], Seq[(String, Double)]) = {
    val pos = runOrder.zipWithIndex.toMap
    val suspectPos = suspects.flatMap(s => pos.get(s._1))
    val (clustered, real) = movers.partition { case (n, _) =>
      pos.get(n).exists(p =>
        suspectPos.count(sp => math.abs(sp - p) <= ClusterWindow)
          >= ClusterMinSuspects)
    }
    (real, clustered)
  }

  /** Verdict decision, factored for BenchSpec: (hot_host, host_verdict).
    * A computed ratio (anchorRatio > 0) decides hot vs quiet; without
    * one — no anchor file, unreadable file, or zero name overlap — the
    * loadavg flag decides and the verdict is explicitly weaker
    * ("quiet_no_anchor"), never a ratio-backed "quiet" (ADVICE r14).
    *
    * A cluster downgrade is EVIDENCE of a contention window, not an
    * acquittal: a genuine regression sitting inside that window would
    * be excused from n_movers by the same rule (ADVICE r17). So any
    * n_cluster > 0 weakens a quiet verdict to
    * "quiet_cluster_adjudicate" — the artifact demands a quiet-host
    * re-measure of the clustered queries before the round's perf claim
    * counts, instead of silently reading as clean.
    */
  private[graft] def hostVerdictOf(anchorRatio: Double,
      hotByLoad: Boolean, nCluster: Int = 0): (Boolean, String) = {
    val hot =
      if (anchorRatio > 0) anchorRatio > HotAnchorRatio else hotByLoad
    val verdict =
      if (hot) "hot"
      else if (nCluster > 0) "quiet_cluster_adjudicate"
      else if (anchorRatio <= 0) "quiet_no_anchor"
      else "quiet"
    (hot, verdict)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // hot-at-start retry: a loaded host gets ONE 60s cooldown before the
    // run commits (cheap vs re-running a 4-minute suite); still hot after
    // the cooldown → proceed but the artifact self-flags below.
    var cooldown = false
    if (load5m(loadavg).exists(_ > HotLoad) &&
        !sys.env.contains("SPARK_GRAFT_BENCH_NO_COOLDOWN")) {
      cooldown = true
      Thread.sleep(60000)
    }
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // ---- scaling-probe evidence (r19 verdict order 3, ADDITIVE) ----
    // The driver's c8/c32 heuristic flagged `suspect_cpus_ignored` because
    // per-query walls barely move with the core count at sf0.1 — the
    // inputs are single ~15 MB parquet files, openCostInBytes floors the
    // scan at ~4 splits, and fixed scheduling/planning overhead dominates.
    // Make that adjudicable from the artifact alone: record the core
    // count the session actually RUNS with (defaultParallelism — derived
    // from the local[$cpus] master, i.e. the env contract applied) and
    // per-query completed-TASK counts (a query whose task count is far
    // below the core count cannot scale with cores, whatever its wall
    // does). Counting happens on the listener bus outside the timed
    // window; timing methodology is untouched.
    val taskCounter = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          taskEnd: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskCounter.incrementAndGet(): Unit
      }
    })
    val loadStart = loadavg
    // warm-up outside timing: parquet footers (+ first row group) of
    // every table, then one full query for JIT — so the first timed
    // queries don't pay one-off IO/compile costs the rest never see.
    // events MUST go through Tables (nanos-timestamp handling). Each
    // loader is itself inside the try: `Tables.events` analyzes eagerly
    // (withColumn), so a schema surprise must degrade to a cold first
    // query, not kill the whole bench before a single timing is taken.
    val t = Tables(spark, sfDir)
    Seq[() => org.apache.spark.sql.DataFrame](
      () => t.region, () => t.nation, () => t.customer, () => t.supplier,
      () => t.part, () => t.orders, () => t.lineitem, () => t.events,
      () => t.documents, () => t.embeddings).foreach { mk =>
      try mk().limit(1).collect(): Unit
      catch { case _: Throwable => () }
    }
    try SparkEntry.queries.head._2(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // median-of-N per query: a single-shot timing cannot distinguish host
    // variance from a real regression (the r3 q4/q50 "regressions" were
    // exactly this), so each query runs N times and reports its median;
    // the headline total is the sum of medians.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // iteration aid: SPARK_GRAFT_BENCH_ONLY=q65_dup_clusters,q68_cluster_reps
    // times just those queries (the driver never sets it — full run).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val n = selected.size
    val wall = Array.fill(n)(collection.mutable.ArrayBuffer.empty[Double])
    val cpu = Array.fill(n)(collection.mutable.ArrayBuffer.empty[Double])
    val tasks = Array.fill(n)(collection.mutable.ArrayBuffer.empty[Long])
    val compiles = Array.fill(n)(collection.mutable.ArrayBuffer.empty[Long])
    val errAt = Array.fill[Option[String]](n)(None)
    val passLoads = collection.mutable.ArrayBuffer.empty[Seq[Double]]
    for (_ <- 1 to reps) {
      passLoads += loadavg
      for (((name, fn), i) <- selected.zipWithIndex if errAt(i).isEmpty) {
        // a crashing query must NOT score as a fast pass: record the error
        // and exit nonzero after reporting (later passes skip it)
        spark.sparkContext.setJobDescription(name)
        val k0 = taskCounter.get()
        val g0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val c0 = procCpuSec
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          wall(i) += (System.nanoTime() - t0) / 1e9
          cpu(i) += procCpuSec - c0
          tasks(i) += taskCounter.get() - k0
          compiles(i) += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - g0
        } catch { case t: Throwable => errAt(i) = Some(t.toString) }
        // Release the query's published blocks OUTSIDE the timing window.
        // localCheckpoint persists at the RDD layer, which survives the
        // DataFrame going out of scope until the ContextCleaner gets to
        // it — in a 177-query shared JVM the accumulated blocks inflated
        // later heavy queries 2–2.9× (q172 at sf1: 23.9s fresh-JVM vs
        // 48–69s late in a suite pass). Nothing reuses Spark storage
        // across query calls (each call builds fresh frames), so a
        // blanket release between timings is safe and makes in-suite
        // numbers match fresh-JVM solo numbers.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
      }
    }
    val loadEnd = loadavg
    val results = selected.zipWithIndex.map { case ((name, _), i) =>
      val secs =
        if (errAt(i).isDefined || wall(i).isEmpty) -1.0
        else {
          // true median: average the two middle elements for even reps
          // (sorted(k/2) alone would report the SLOWER middle run)
          val s = wall(i).sorted
          val k = s.size
          if (k % 2 == 1) s(k / 2) else (s(k / 2 - 1) + s(k / 2)) / 2.0
        }
      (name, secs, errAt(i))
    }
    // ascending-by-time so the SLOWEST queries sit at the END of the line:
    // the driver keeps only a ~2000-char tail of stdout, and this ordering
    // lands the top-cost queries (the ones worth reading) inside that
    // window for free, right before the compact total line
    val qs = results.sortBy(_._2).map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(m)) =>
      "\"" + k + "\":\"" + m.replaceAll("""[\\"\n\r\t]""", " ").take(200) + "\""
    }
    // full line carries the errors map; the compact final line gets only
    // the numeric count — a heavy-failure run would otherwise re-inflate
    // the last line past the driver's tail window (the thing it exists
    // to stay inside of)
    val errField =
      if (errs.isEmpty) ""
      else errs.mkString(""","errors":{""", ",", "}") + s""","failed":${errs.size}"""
    val failedField = if (errs.isEmpty) "" else s""","failed":${errs.size}"""
    // a crashed query contributes 0s of work — a summed total would READ
    // AS FASTER on a broken build, so the headline goes to -1 whenever
    // anything failed (per-query times stay available above)
    val total =
      if (errs.isEmpty) results.map(_._2).sum else -1.0
    // contention markers: loadavg trail + the suite-level CPU/wall ratio of
    // the medians. On an otherwise-idle local[32] host the ratio sits well
    // above 1 (parallel execution); a run squeezed by ambient load shows
    // wall growing with process-CPU flat, dragging the ratio down and
    // loadavg far above this process's own burn.
    val cpuTotal = selected.indices.collect {
      case i if errAt(i).isEmpty && cpu(i).nonEmpty => cpu(i).sorted.apply(cpu(i).size / 2)
    }.sum
    val cpuWall = if (total > 0) cpuTotal / total else -1.0
    // ---- anchor normalization (r13 verdict order 1) ----
    // anchors are measured at the driver's per-round scale; a subset run
    // (SPARK_GRAFT_BENCH_ONLY) or another SF is not comparable per-suite,
    // but per-QUERY ratios/movers still are — only the verdict weakens.
    // a scoped subset (SPARK_GRAFT_BENCH_ONLY) has a different JIT/cache
    // profile than the full interleaved suite the anchor was measured
    // under (PERF.md's q89 note: scoped warm median 3.27s vs in-suite
    // anchor 4.83s — NOT comparable in either direction), so only a full
    // run earns anchor normalization.
    val sfName = new java.io.File(sfDir).getName
    val anchorF = if (sfName == "sf0.1" && only.isEmpty) anchorFile else None
    val anchor = anchorF.map(anchorMap).getOrElse(Map.empty)
    val (anchorRatio, _) = anchorStats(
      results.collect { case (name, secs, None) => name -> secs }, anchor)
    // mover/suspect split consults the raw rep spread, not just medians
    // (r15 verdict order 2): only an all-reps-slow query is a mover —
    // and a mover inside a suspect cluster (a contention-proven
    // run-order window) downgrades to `cluster` (r16 verdict order 1).
    val (allMovers, suspects) = moverSplitOf(
      selected.zipWithIndex.collect {
        case ((name, _), i) if errAt(i).isEmpty => name -> wall(i).toSeq
      }, anchor)
    val (movers, clusterMovers) =
      clusterSplitOf(allMovers, suspects, selected.map(_._1))
    val hotByLoad = load5m(loadStart).exists(_ > HotLoad)
    // When the anchor comparison exists it DECIDES: the measured
    // per-query ratio on an unchanged tree is ground truth, while the
    // start loadavg cannot tell foreign ambient load from the residual
    // 5-min average of this host's own just-finished work (measured:
    // three back-to-back closing runs read load_start 1.86/2.72/2.62
    // from each other's burn with ratios 1.13/1.04/1.06 and zero
    // movers — demonstrably fine runs). loadavg decides only when a
    // ratio was actually COMPUTED (anchorRatio > 0) — an anchor file
    // that parses but shares no query names with the run (stale anchor,
    // renamed queries) yields ratio -1 and must not suppress the
    // loadavg fallback (ADVICE r14). loadavg is always recorded.
    val (hotHost, hostVerdict) =
      hostVerdictOf(anchorRatio, hotByLoad, clusterMovers.size)
    // the anchor field must name the comparison that actually HAPPENED:
    // a file that existed but parsed to nothing (or overlapped nothing)
    // is flagged, not silently credited (ADVICE r14)
    val anchorName =
      if (sfName != "sf0.1") "skipped_sf"
      else if (only.nonEmpty) "skipped_subset"
      else anchorF match {
        case None => "none"
        case Some(f) if anchor.isEmpty => s"unreadable:${f.getName}"
        case Some(f) if anchorRatio <= 0 => s"no_overlap:${f.getName}"
        case Some(f) => f.getName
      }
    val moversJson = movers
      .map { case (n, r) => "\"" + n + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    val suspectsJson = suspects
      .map { case (n, r) => "\"" + n + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    val clusterJson = clusterMovers
      .map { case (n, r) => "\"" + n + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    // movers+suspects with their raw walls and anchor value — bounded
    // (usually 0–2 entries), placed on the FINAL compact line so the
    // adjudication evidence survives the driver's stdout tail window
    // even when the full per-query maps are truncated away.
    val idxOf = selected.zipWithIndex.map { case ((n, _), i) => n -> i }.toMap
    val adjJson = (movers.map((_, "mover")) ++
      clusterMovers.map((_, "cluster")) ++ suspects.map((_, "suspect")))
      .map { case ((n, r), kind) =>
        "\"" + n + "\":{\"kind\":\"" + kind + "\"" + f""","ratio":$r%.2f""" +
          ",\"walls\":" + jArr(wall(idxOf(n)).toSeq) +
          f""","anchor":${anchor.getOrElse(n, -1.0)}%.2f}"""
      }.mkString("{", ",", "}")
    val anchorField =
      s""","anchor":"$anchorName"""" +
        f""","anchor_ratio":$anchorRatio%.3f,"n_movers":${movers.size}""" +
        s""","n_cluster":${clusterMovers.size},"n_suspects":${suspects.size}""" +
        s""","hot_host":$hotHost,"load_hot":$hotByLoad""" +
        s""","host_verdict":"$hostVerdict","cooldown":$cooldown"""
    val loadField =
      s""","load_start":${jArr(loadStart)},"load_end":${jArr(loadEnd)}""" +
        s""","pass_loads":${passLoads.map(jArr).mkString("[", ",", "]")}""" +
        f""","cpu_wall_ratio":$cpuWall%.2f,"reps":$reps,"interleaved":true""" +
        s""","cpus_env":"$cpus"""" +
        s""","default_parallelism":${spark.sparkContext.defaultParallelism}""" +
        anchorField
    // per-query raw rep walls, ascending by median like `queries`, so the
    // slowest queries' spreads land inside the driver's stdout tail
    // window (r15 verdict order 2: medians alone were un-adjudicable)
    val repWallsJson = results.sortBy(_._2)
      .map { case (k, _, _) => "\"" + k + "\":" + jArr(wall(idxOf(k)).toSeq) }
      .mkString("{", ",", "}")
    val counts = countFields(results.sortBy(_._2).map(_._1),
      k => tasks(idxOf(k)).toSeq, k => compiles(idxOf(k)).toSeq)
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"rep_walls":$repWallsJson,$counts$errField,"movers":$moversJson,"cluster":$clusterJson,"suspects":$suspectsJson$loadField,"sf":"$sfDir"}"""
    println(line)
    // the driver's stdout capture truncates long output (BENCH_r07 lost 70
    // of 134 per-query numbers that way) — persist the complete line to a
    // stable path as well, so every round's evidence survives verbatim.
    // bench_full.json additionally carries every per-rep wall/CPU sample:
    // the per-query spread is the proof that a slow median was (or was not)
    // a one-pass contention artifact.
    try {
      val repsDetail = selected.zipWithIndex.map { case ((name, _), i) =>
        "\"" + name + "\":{\"wall\":" + jArr(wall(i).toSeq) +
          ",\"cpu\":" + jArr(cpu(i).toSeq) + "}"
      }.mkString("{", ",", "}")
      val fullLine = line.dropRight(1) + s""","rep_detail":$repsDetail}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench_full.json"),
        (fullLine + "\n").getBytes("UTF-8"))
      // sf-suffixed copy so a later run at another SF doesn't clobber
      // this one's evidence (subset runs at other SFs did exactly that)
      val sfTag = new java.io.File(sfDir).getName.replaceAll("[^A-Za-z0-9._-]", "_")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"target/bench_full-$sfTag.json"),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
    // FINAL stdout line is a compact summary with no per-query map: the
    // driver's capture tail-truncates long output, and a 5 KB queries
    // map can push the line's head (the metric/value fields) out of the
    // window — r7/r9 both recorded parsed:null that way. A short last
    // line always survives a tail whole; the full per-query evidence
    // lives in the line above and in target/bench_full*.json.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size}$failedField,"adjudication":$adjJson$loadField,"sf":"$sfDir","queries_file":"target/bench_full.json"}""")
    if (errs.nonEmpty) sys.exit(1)
  }
}
