package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Ckpt
import graft.Ckpt.GraftCheckpoint

/** Deduplication operators over the `documents` corpus — the exact /
  * near-dup family of a pretraining data pipeline.
  *
  * Scale design (the part that must survive 100 TB):
  *   - exact dedup is a hash group-by on a 128-bit content fingerprint —
  *     one shuffle keyed by digest, map-side partial aggregation;
  *   - n-gram Jaccard and MinHash-LSH both avoid the O(n²) cross join:
  *     candidates come from a df-capped inverted index (pairs via bounded
  *     combination explode) / banded-signature join (band hash → docs),
  *     so cost is bounded by posting-list caps; an optional lossless
  *     PPJoin prefix filter exists for pair-volume-dominated corpora
  *     (see jaccardPairs);
  *   - SimHash and MinHash signatures come from exploded token/shingle
  *     streams through codegen'd hash aggregates (partial+final), not
  *     per-row interpreted array lambdas.
  *
  * Thresholding note: jaccard = inter/(|A|+|B|-inter) is a single division
  * of exact integers, so Spark and DuckDB compute the identical double and
  * the `>= t` cut is portable; rounding happens only at output.
  */
object DedupOps {

  /** Exact dedup: group on md5(text), keep the smallest doc_id
    * (deterministic winner), count copies.
    */
  def q19DedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .groupBy(md5($"text").as("fp"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  val q19Sql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY keep_id""".stripMargin

  /** doc_id + distinct word-3-gram shingle set (drops docs under 3
    * words). Shingles come from the native byte-scan expression
    * (graft.plans.TextExpressions.WordTrigrams, see its scaladoc);
    * construction is identical to split-on-space trigrams for any
    * single-space-separated text — runs of consecutive spaces (empty
    * tokens) are not expected in the corpus contract.
    */
  private[graft] def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledFrom(Tables(spark, dir).documents)

  /** The regex formulation of the shared trigram definition — retained
    * as documentation and as the independent construction the
    * equivalence spec checks the native expression against (a lookahead
    * anchored at start-of-string or a space, NOT `\\b`, which fires
    * mid-token on punctuation and invents shingles a tokenizer would
    * never produce).
    */
  private[graft] val TrigramRegex = "(?:^| )(?=(\\S+ \\S+ \\S+))"

  /** Its DuckDB twin, over `t = string_split(text, ' ')` — interpolated
    * into every oracle that shingles, for the same single-definition
    * reason.
    */
  private[graft] val TrigramSqlExpr =
    "list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"

  /** Word count via length arithmetic (single-space contract) — the
    * ≥3-words gate without a split() array materialization.
    */
  private def wordsGe3(c: Column): Column =
    (length(c) - length(translate(c, " ", ""))) >= 2

  /** Multiset trigram stream: one row per overlapping word-3-gram
    * occurrence (no dedup). Same tokenization contract as shingledFrom.
    * Trigrams come from the native byte-scan expression
    * (graft.plans.TextExpressions.WordTrigrams) — one pass, no regex
    * engine; equivalence with TrigramRegex and the naive split+transform
    * construction is pinned by DedupSimilaritySpec.
    */
  private[graft] def trigramStream(docs: DataFrame): DataFrame =
    docs
      .filter(wordsGe3(col("text")))
      .select(col("doc_id"),
        explode(graft.plans.TextExpressions.wordTrigrams(col("text"))).as("s"))

  /** Sized shared-rare-shingle pair frame (doc_a, doc_b, n_a, n_b, inter)
    * from a shingled frame — the one-shuffle inverted-index core shared by
    * the Jaccard (q20) and containment (q136) pair queries. The posting
    * stream carries each doc's full set size alongside the shingle, so
    * pair rows come out of the combination explode ALREADY sized — no
    * join back to a per-doc counts frame. The df cap is enforced INSIDE
    * the collection (functions.BoundedCollect): a group past the cap
    * would be discarded by the df filter anyway, so the aggregate keeps
    * ≤ cap+1 postings per shingle and finishes overflowed groups as null.
    * One by-shingle shuffle total, per-group state capped at every stage —
    * a stop-shingle in millions of docs ships ≤ cap+1 rows per map task.
    */
  private[graft] def sizedPairs(sh: DataFrame, dfCap: Int): DataFrame = {
    import sh.sparkSession.implicits._
    val postN = sh.select(
      $"doc_id", size($"shingles").cast("long").as("n_sh"),
      explode($"shingles").as("s"))
    // position order downstream is doc_id order (finish sorts), so
    // i < j keeps doc_a < doc_b by construction
    postN
      .groupBy($"s")
      .agg(graft.functions.BoundedCollect
        .boundedPostings($"doc_id", $"n_sh", dfCap).as("ds"))
      .filter($"ds".isNotNull)
      .select(posexplode($"ds").as(Seq("i", "a")), $"ds")
      .select($"i", $"a", posexplode($"ds").as(Seq("j", "b")))
      .filter($"i" < $"j")
      .groupBy(
        $"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.n_sh".as("n_a"), $"b.n_sh".as("n_b"))
      .agg(count(lit(1)).as("inter"))
  }

  private[graft] def shingledFrom(docs: DataFrame): DataFrame =
    docs
      .filter(wordsGe3(col("text")))
      .select(
        col("doc_id"),
        array_distinct(graft.plans.TextExpressions.wordTrigrams(col("text")))
          .as("shingles"))

  /** Threshold + ordering for a pair frame that already carries
    * (inter, n_a, n_b). The jaccard column is the UNROUNDED quotient:
    * both engines divide identical exact integers, so the doubles are
    * bit-identical — while round(x, 4) on a ratio that lands on a
    * 4th-decimal half (e.g. 631/800 = 0.78875) resolves differently in
    * Spark (decimal-string HALF_UP → 0.7888) vs DuckDB (binary →
    * 0.7887). Same no-round-on-exact-ratios policy as
    * Relational.moneyAvg.
    */
  private def jaccardFromSized(pairs: DataFrame, threshold: Double): DataFrame = {
    import pairs.sparkSession.implicits._
    pairs
      .withColumn("jaccard_raw", $"inter".cast("double") / ($"n_a" + $"n_b" - $"inter"))
      .filter($"jaccard_raw" >= threshold)
      .select($"doc_a", $"doc_b", $"jaccard_raw".as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Exact pairwise Jaccard for a candidate-pair frame (doc_a, doc_b). */
  private def jaccardOf(pairsInter: DataFrame, counts: DataFrame, threshold: Double): DataFrame = {
    import pairsInter.sparkSession.implicits._
    jaccardFromSized(
      pairsInter
        .join(counts.select($"doc_id".as("doc_a"), $"n_sh".as("n_a")), "doc_a")
        .join(counts.select($"doc_id".as("doc_b"), $"n_sh".as("n_b")), "doc_b"),
      threshold)
  }

  /** Near-dup pairs at a Jaccard threshold over a df-capped inverted
    * index, with an optional PPJoin-style prefix filter.
    *
    * Semantics (mirrored exactly by the SQL oracles): intersections are
    * counted over RARE shingles only (global df ≤ dfCap — the classic
    * stop-shingle cut; shingles in more docs discriminate nothing and
    * only create join skew), denominators use the full shingle-set
    * sizes. Both candidate paths produce identical results:
    *
    *   - default: self-join the capped postings, count shared shingles
    *     per pair (one groupBy). Join volume is bounded by dfCap² per
    *     shingle — already skew-proof.
    *   - prefixFilter=true: additionally order each doc's rare shingles
    *     rarest-first by (global df, shingle) and join only each side's
    *     first n_rare − ceil(t·n_rare) + 1 postings (Bayardo et al.
    *     2007; Xiao et al. 2008). Lossless w.r.t. the capped threshold:
    *     a qualifying pair has inter ≥ t·n_rare on both sides (from
    *     inter ≥ t/(1+t)·(n_a+n_b) and n_full ≥ n_rare). Candidates are
    *     then verified by an exact rare-set intersection.
    *
    * MEASURED (local[32], sf0.1, 5000 docs): the prefix path is ~2×
    * SLOWER here — it trims join input by (1−t) but pays two extra
    * posting-stream shuffles (prefix rank window + rare-set collect),
    * and the capped join output is already tiny on this corpus. It wins
    * only where candidate-PAIR volume dominates: high thresholds and
    * dup-heavy skewed corpora, where the (1−t)² cut on quadratic join
    * output outweighs the linear extra shuffles. Default stays the
    * plain capped join; flip the flag when profiling says pairs
    * dominate.
    */
  private[graft] def jaccardPairs(docs: DataFrame, threshold: Double,
      dfCap: Int = 25, prefixFilter: Boolean = false): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    // deliberately NOT cached: the frame is consumed by two branches, but
    // a .cache() here would leak one pinned copy per invocation for the
    // session lifetime (bench/specs call this repeatedly), and at corpus
    // scale you recompute a projection rather than pin the shingle set
    val sh = shingledFrom(docs)
    if (!prefixFilter) {
      // One-pass default path: the sizedPairs inverted-index core (one
      // by-shingle shuffle; see its scaladoc — the classic dfreq-aggregate
      // + join-back plan costs a second shuffle and a second pass over
      // the uncached shingling upstream). The PropertySpec
      // path-equivalence tests pin this against the dfreq-join
      // formulation the prefix branch still uses.
      return jaccardFromSized(sizedPairs(sh, dfCap), threshold)
    }
    val counts = sh.select($"doc_id", size($"shingles").as("n_sh"))
    val post = sh.select($"doc_id", explode($"shingles").as("s"))
    val dfreq = post.groupBy($"s").agg(count(lit(1)).as("df"))
    val postRare = post.join(dfreq.filter($"df" <= dfCap), "s")
    val inter = {
        // one doc-keyed shuffle carries both the prefix rank and the
        // rare-set size (row_number + count share the window exchange)
        val wDoc = Window.partitionBy($"doc_id").orderBy($"df", $"s")
        val wAll = Window.partitionBy($"doc_id")
        val ranked = postRare
          .withColumn("rn", row_number().over(wDoc))
          .withColumn("n_rare", count(lit(1)).over(wAll))
        // ceil over double arithmetic can overestimate (25 * 0.28 =
        // 7.000000000000001 → ceil 8, true α 7), which would SHORTEN the
        // prefix and break losslessness — shave an epsilon first
        val prefix = ranked
          .filter($"rn" <= $"n_rare" - ceil($"n_rare" * threshold - lit(1e-9)) + 1)
          .select($"doc_id", $"s")
        val cand = prefix.as("a")
          .join(prefix.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
          .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
        val rareSets = ranked.groupBy($"doc_id").agg(collect_list($"s").as("rsh"))
        cand
          .join(rareSets.select($"doc_id".as("doc_a"), $"rsh".as("rsh_a")), "doc_a")
          .join(rareSets.select($"doc_id".as("doc_b"), $"rsh".as("rsh_b")), "doc_b")
          .select($"doc_a", $"doc_b",
            size(array_intersect($"rsh_a", $"rsh_b")).cast("long").as("inter"))
      }
    jaccardOf(inter, counts, threshold)
  }

  /** Near-dup via word-3-gram Jaccard ≥ 0.2 through the df-capped
    * inverted-index join above.
    */
  def q20NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(Tables(spark, dir).documents, 0.2)

  /** DuckDB twin: shared rare shingles from the df-capped inverted-index
    * join (both candidate paths in jaccardPairs produce exactly this).
    */
  val q20Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct($TrigramSqlExpr) AS shingles
      |  FROM toks WHERE len(t) >= 3),
      |counts AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
      |post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |rare AS (SELECT s FROM post GROUP BY s HAVING count(*) <= 25),
      |pr AS (SELECT post.doc_id, post.s FROM post JOIN rare USING (s)),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT doc_a, doc_b,
      |    CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard_raw
      |  FROM inter
      |  JOIN counts ca ON doc_a = ca.doc_id
      |  JOIN counts cb ON doc_b = cb.doc_id)
      |SELECT doc_a, doc_b, jaccard_raw AS jaccard
      |FROM j WHERE jaccard_raw >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q136: asymmetric shingle CONTAINMENT pairs — the subset-duplicate
    * detector Jaccard structurally misses. A document that is a clean
    * truncation, excerpt, or quote of a larger one has
    * |A∩B|/|A| ≈ 1 while |A∩B|/|A∪B| can sit far below any sane Jaccard
    * threshold (a 10% excerpt of a long doc has Jaccard ≤ 0.1), so a
    * Jaccard-only dedup pass ships both copies and the training set
    * memorizes the excerpt twice. Containment = inter / min(|A|, |B|)
    * scores the pair by how much of the SMALLER set the larger one
    * swallows; both full set sizes, the raw intersection, and the
    * Jaccard ride along so a curation policy can distinguish
    * "near-identical twins" (high containment, high Jaccard) from
    * "excerpt swallowed by superset" (high containment, low Jaccard).
    *
    * Plan: identical to q20 — the shared sizedPairs inverted-index core
    * (ONE by-shingle shuffle, df-capped posting lists, pair rows sized
    * at the explode) with a different finisher; intersection semantics
    * are q20's documented "shared RARE shingles" (df ≤ cap) against the
    * FULL distinct set sizes. Doubles are quotients of exact integers —
    * bit-identical cross-engine, no rounding (jaccardFromSized's
    * no-round-on-exact-ratios policy).
    */
  def q136Containment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables(spark, dir).documents, 0.5)

  private[graft] def containmentPairs(docs: DataFrame, threshold: Double,
      dfCap: Int = 25): DataFrame = {
    import docs.sparkSession.implicits._
    sizedPairs(shingledFrom(docs), dfCap)
      .withColumn("containment", $"inter".cast("double") / least($"n_a", $"n_b"))
      .filter($"containment" >= threshold)
      .select($"doc_a", $"doc_b", $"n_a", $"n_b", $"inter", $"containment",
        ($"inter".cast("double") / ($"n_a" + $"n_b" - $"inter")).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  val q136Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct($TrigramSqlExpr) AS shingles
      |  FROM toks WHERE len(t) >= 3),
      |counts AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
      |post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |rare AS (SELECT s FROM post GROUP BY s HAVING count(*) <= 25),
      |pr AS (SELECT post.doc_id, post.s FROM post JOIN rare USING (s)),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |c AS (
      |  SELECT doc_a, doc_b, ca.n_sh AS n_a, cb.n_sh AS n_b, inter,
      |    CAST(inter AS DOUBLE) / least(ca.n_sh, cb.n_sh) AS containment
      |  FROM inter
      |  JOIN counts ca ON doc_a = ca.doc_id
      |  JOIN counts cb ON doc_b = cb.doc_id)
      |SELECT doc_a, doc_b, n_a, n_b, inter, containment,
      |  CAST(inter AS DOUBLE) / (n_a + n_b - inter) AS jaccard
      |FROM c WHERE containment >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  private[graft] val NumHashes = 16
  private[graft] val Bands = 4
  private[graft] val RowsPerBand = NumHashes / Bands

  /** Portable MinHash family: ONE md5 per shingle → 31-bit base hash h
    * (first 8 hex digits mod 2³¹−1), then 16 affine transforms
    * (aᵢ·h + bᵢ) mod 2³¹−1 — integer arithmetic any engine reproduces
    * exactly (products stay < 2⁶² so int64 never overflows), at one
    * cryptographic hash per posting instead of sixteen.
    */
  private[graft] val P31 = 2147483647L // 2^31 - 1 (prime)
  private[graft] val hashA: Seq[Long] =
    (0 until NumHashes).map(i => (2654435761L * (i + 1)) % P31)
  private[graft] val hashB: Seq[Long] =
    (0 until NumHashes).map(i => (2246822519L * (i + 3) + 3266489917L) % P31)

  /** Band key over one band's row-min columns — shared by the aggregated
    * (minhashLsh) and row-local (bandedDocs) constructions so the two can
    * never drift.
    */
  private[graft] def bandKey(portable: Boolean)(cols: Seq[Column]): Column =
    if (portable) md5(concat_ws("|", cols: _*)) else xxhash64(cols: _*)

  /** Row-local banded MinHash signatures: one output row per (doc, band)
    * with the band's bucket key — the SAME hash families, lane math and
    * band construction as minhashLsh, but expressed entirely as per-row
    * array operations (transform/array_min — no aggregation, no shuffle).
    * That makes it legal in a Structured Streaming plan, where the
    * aggregated groupBy-min construction would itself be a stateful
    * operator. `carry` columns (e.g. the event-time column) ride along.
    *
    * The portable family hoists the one-md5-per-shingle base hash into a
    * materialized column so the 16 affine lanes don't recompute the
    * cryptographic hash; the engine family (xxhash64, the scale path)
    * hashes per (lane, shingle) directly — still row-local and cheap.
    *
    * Documents with fewer than 3 words have NO trigram shingles, so they
    * cannot near-duplicate anything; a keep/drop materialization must
    * still KEEP them (dropping them would be silent data loss, unlike the
    * pair queries where they merely produce no pairs). They are emitted
    * with {Bands} synthetic doc-unique bucket keys (prefixed so they can
    * never collide with a real minhash band key, whose pre-hash input is
    * all digits and pipes) — every downstream consumer then sees them win
    * all their buckets and keeps them unconditionally.
    */
  private[graft] def bandedDocs(docs: DataFrame, carry: Seq[String],
      portable: Boolean): DataFrame = {
    val base = docs
      .filter(wordsGe3(col("text")))
      .withColumn("__sh",
        array_distinct(graft.plans.TextExpressions.wordTrigrams(col("text"))))
    // portable lanes: ALL 16 minima in one codegen'd pass over the
    // shingle array (plans.TextExpressions.PortableMinHashLanes, r19) —
    // the HOF form paid one interpreted md5-fold transform plus 16
    // interpreted array_min(transform(...)) passes per row. Same base
    // hash, lane arithmetic and empty/null semantics (spec-pinned); the
    // __mhs array is materialized by its own projection so the 16
    // element reads never re-run the scan.
    val hoisted =
      if (portable) base.withColumn("__mhs",
        graft.plans.TextExpressions.portableMinHashLanes(
          col("__sh"), hashA, hashB, P31))
      else base
    def lane(i: Int): Column =
      if (portable) col("__mhs").getItem(i)
      else array_min(transform(col("__sh"), s => xxhash64(lit(i), s)))
    val keep = col("doc_id") +: carry.map(col)
    val sigs = hoisted.select(
      keep ++ (0 until NumHashes).map(i => lane(i).as(s"mh$i")): _*)
    val banded = sigs.select(
      keep :+ explode(array((0 until Bands).map { b =>
        struct(
          lit(b).as("band"),
          bandKey(portable)(
            (b * RowsPerBand until (b + 1) * RowsPerBand).map(i => col(s"mh$i"))).as("h"))
      }: _*)).as("bh"): _*)
      .select(keep :+ col("bh.band").as("band") :+ col("bh.h").as("h"): _*)
    val shortRows = docs
      .filter(!wordsGe3(col("text")))
      .select(keep :+ explode(array((0 until Bands).map(b => lit(b)): _*)).as("band"): _*)
      .withColumn("h",
        if (portable) md5(concat_ws("|", lit("short"), col("doc_id"), col("band")))
        else xxhash64(lit("short"), col("doc_id"), col("band")))
    banded.unionByName(shortRows)
  }

  /** Batch twin of EventsStreaming.lshDedupWithinWatermark: a document
    * survives iff it is the (ts, doc_id)-first occupant of EVERY one of
    * its band buckets — the same any-band-collision-suppresses semantics
    * the streaming dropDuplicatesWithinWatermark composition applies
    * (with first-arrival replaced by first-event-time, which coincide
    * when the stream is fed in event-time order). StreamingSpec pins the
    * two bit-for-bit on closed windows.
    */
  private[graft] def lshDedupKeepFirst(docs: DataFrame, portable: Boolean): DataFrame = {
    import docs.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"band", $"h")
    bandedDocs(docs, Seq("ts"), portable)
      .withColumn("__first", min(struct($"ts", $"doc_id")).over(w))
      .groupBy($"doc_id", $"ts")
      .agg(
        count(lit(1)).as("n_bands"),
        sum(when(struct($"ts", $"doc_id") === $"__first", 1L).otherwise(0L)).as("n_won"))
      .filter($"n_won" === $"n_bands")
      .select($"doc_id", $"ts")
  }

  /** MinHash + LSH near-dup: 16 hashes, 4 bands × 4 rows. Candidates =
    * docs sharing any band signature (equi-join on (band, hash) — the LSH
    * bucket join); candidates are then verified with exact Jaccard ≥ 0.5.
    *
    * Signatures are computed as `min(hash(seed_i, shingle))` over an
    * exploded posting list — a plain codegen'd hash aggregate (16 min
    * accumulators per doc), instead of 16 interpreted higher-order array
    * traversals per document. One shuffle keyed by doc_id; at corpus
    * scale the posting explode is narrow and the aggregate is
    * partial+final.
    *
    * Two hash families, same plumbing:
    *   - portable (registered, oracle-checked): one md5 per shingle →
    *     31-bit base hash → 16 affine min-transforms (see P31/hashA/
    *     hashB above), band key = md5 of the 4 row-mins — every step
    *     integer/md5 arithmetic reproducible in any engine, so the
    *     ENTIRE LSH pipeline hash-checks against DuckDB;
    *   - engine (portable=false, the 100 TB path): seeded xxhash64
    *     64-bit integers — no cryptographic hash anywhere. Same
    *     candidate semantics; swap is one flag.
    */
  def q21MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLsh(spark, dir, portable = true)

  private[graft] def minhashLsh(spark: SparkSession, dir: String, portable: Boolean): DataFrame = {
    import spark.implicits._
    // reused for the exact-verify sets; NOT cached — same per-invocation
    // leak rationale as jaccardPairs (recompute a narrow projection
    // rather than pin the shingle set for the session lifetime)
    val sh = shingled(spark, dir)
    val post = sh.select($"doc_id", explode($"shingles").as("s"))
    // base hash projected ONCE per posting; the 16 signature lanes are
    // cheap arithmetic over it
    val postH =
      if (portable)
        post.withColumn("h",
          conv(substring(md5($"s"), 1, 8), 16, 10).cast("long") % P31)
      else post.withColumn("h", xxhash64($"s"))
    def rowHash(i: Int): Column =
      if (portable) (lit(hashA(i)) * $"h" + lit(hashB(i))) % P31
      else xxhash64(lit(i), $"s")
    def bandHash(cols: Seq[Column]): Column = bandKey(portable)(cols)
    val mins = (0 until NumHashes).map(i => min(rowHash(i)).as(s"mh$i"))
    val sigs = postH.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
    val buckets = sigs.select(
      $"doc_id",
      explode(array((0 until Bands).map { b =>
        struct(
          lit(b).as("band"),
          bandHash((b * RowsPerBand until (b + 1) * RowsPerBand).map(i => col(s"mh$i"))).as("h"))
      }: _*)).as("bh"))
      .select($"doc_id", $"bh.band".as("band"), $"bh.h".as("h"))
    val cand = buckets.as("a")
      .join(buckets.as("b"), $"a.band" === $"b.band" && $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
    // verify candidates exactly — each side's join carries the shingle
    // ARRAY and its size together, so no separate counts joins (and two
    // fewer recomputes of the uncached shingling upstream)
    val withSets = cand
      .join(sh.select($"doc_id".as("doc_a"), $"shingles".as("sh_a"),
        size($"shingles").as("n_a")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"shingles".as("sh_b"),
        size($"shingles").as("n_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sh_a", $"sh_b")).cast("long").as("inter"),
        $"n_a", $"n_b")
    jaccardFromSized(withSets, 0.5)
  }

  /** md5-fold over an ALREADY-computed 32-hex-char column: first 8 hex
    * digits to a long — the SQL twin of
    * `conv(substring(<hex>, 1, 8), 16, 10)`. Same digit arithmetic as
    * the base-hash fold inside [[lshBucketsCte]] (which inlines
    * `md5(s)`; this variant folds a named column so the md5 is computed
    * once per row).
    */
  private def md5FoldHexSql(hexCol: String): String = (1 to 8).map { j =>
    val mult = 1L << (4 * (8 - j))
    s"(strpos('0123456789abcdef', substr($hexCol, $j, 1)) - 1) * $mult"
  }.mkString(" + ")

  /** Shared WITH-clause prefix of the portable-LSH oracles (q21, q64):
    * shingling → base-hash fold → 16 affine min-lanes → banded bucket
    * keys — the same construction minhashLsh/bandedDocs run natively.
    */
  private def lshBucketsCte: String = {
    // first 8 hex digits of md5(s) folded to an integer, exactly like
    // conv(substring(md5(s),1,8),16,10)
    val foldH = (1 to 8).map { j =>
      val mult = 1L << (4 * (8 - j))
      s"(strpos('0123456789abcdef', substr(md5(s), $j, 1)) - 1) * $mult"
    }.mkString(" + ")
    val minsSql = (0 until NumHashes)
      .map(i => s"min((${hashA(i)} * h + ${hashB(i)}) % $P31) AS mh$i")
      .mkString(",\n      ")
    val bandsSql = (0 until Bands).map { b =>
      val cat = (b * RowsPerBand until (b + 1) * RowsPerBand)
        .map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS h FROM sigs"
    }.mkString("\n      UNION ALL\n      ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, list_distinct($TrigramSqlExpr) AS shingles
       |  FROM toks WHERE len(t) >= 3),
       |counts AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
       |post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |ph AS (SELECT doc_id, ($foldH) % $P31 AS h FROM post),
       |sigs AS (SELECT doc_id,
       |      $minsSql
       |    FROM ph GROUP BY doc_id),
       |buckets AS (
       |      $bandsSql)""".stripMargin
  }

  /** DuckDB twin of the PORTABLE q21: the same base-hash fold, affine
    * min-lanes, band keys, bucket join, and exact-Jaccard verify — the
    * full LSH pipeline is hash-checked, not just an invariant.
    */
  val q21Sql: String =
    s"""$lshBucketsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |ws AS (
       |  SELECT doc_a, doc_b, len(list_intersect(sa.shingles, sb.shingles)) AS inter
       |  FROM cand
       |  JOIN sh sa ON doc_a = sa.doc_id
       |  JOIN sh sb ON doc_b = sb.doc_id),
       |j AS (
       |  SELECT doc_a, doc_b,
       |    CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard_raw
       |  FROM ws
       |  JOIN counts ca ON doc_a = ca.doc_id
       |  JOIN counts cb ON doc_b = cb.doc_id)
       |SELECT doc_a, doc_b, jaccard_raw AS jaccard
       |FROM j WHERE jaccard_raw >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash-32 per document: bit b of hash(token) votes ±1 into bin
    * b; the signature's bit b is the vote sign. Computed as an exploded
    * token stream → 32 conditional-sum accumulators → bit reassembly —
    * all codegen'd scalar expressions (the earlier nested higher-order
    * fold interpreted 32 lambdas per token).
    *
    * Two hash families (same vote/reassembly plumbing):
    *   - portable (registered, oracle-checked): the 32 bits are the first
    *     8 hex digits of md5(token) — digit j contributes bits 4j..4j+3 —
    *     reproducible in DuckDB with substr+strpos arithmetic, so the
    *     whole signature hash-checks;
    *   - engine (portable=false, the 100 TB path): low 32 bits of
    *     xxhash64(token), one cheap hash call per token.
    */
  def q22Simhash(spark: SparkSession, dir: String): DataFrame =
    simhash(spark, dir, portable = true)

  private[graft] def simhash(spark: SparkSession, dir: String, portable: Boolean): DataFrame = {
    import spark.implicits._
    val bits = 32
    val toks = Tables(spark, dir).documents
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    // hash each token ONCE in a projection; the 32 vote lanes only do
    // shift/mask arithmetic over the projected value
    val hashed =
      if (portable)
        // 32-bit token hash = first 8 hex digits of md5 (bit b lives in
        // hex digit b/4+1 at in-digit position b%4, matching the twin)
        toks.withColumn("h", conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long"))
      else toks.withColumn("h", xxhash64($"tok"))
    val withBit: Int => Column =
      if (portable) b => shiftright($"h", 4 * (8 - (b / 4 + 1)) + b % 4).bitwiseAND(1)
      else b => shiftright($"h", b).bitwiseAND(1)
    val votes = (0 until bits).map { b =>
      sum(when(withBit(b) === 1, 1L).otherwise(-1L)).as(s"v$b")
    }
    val sim = (0 until bits)
      .map(b => when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    hashed.groupBy($"doc_id").agg(votes.head, votes.tail: _*)
      .select($"doc_id", sim.as("simhash"))
      .orderBy($"doc_id")
  }

  /** DuckDB twin of the PORTABLE q22: identical digit/bit/vote arithmetic. */
  val q22Sql: String = {
    val digits = (1 to 8)
      .map(j => s"strpos('0123456789abcdef', substr(md5(tok), $j, 1)) - 1 AS d$j")
      .mkString(",\n      ")
    val votes = (0 until 32).map { b =>
      val j = b / 4 + 1
      val div = 1 << (b % 4)
      s"sum(CASE WHEN (d$j // $div) % 2 = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n      ")
    val reasm = (0 until 32)
      .map(b => s"(CASE WHEN v$b >= 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |dg AS (SELECT doc_id,
       |      $digits
       |    FROM toks),
       |votes AS (SELECT doc_id,
       |      $votes
       |    FROM dg GROUP BY doc_id)
       |SELECT doc_id, CAST($reasm AS BIGINT) AS simhash
       |FROM votes
       |ORDER BY doc_id""".stripMargin
  }

  /** Benchmark-contamination flagging — the pretraining hygiene pass:
    * corpus docs sharing ≥ 3 distinct word-3-gram shingles with a
    * benchmark/eval set are flagged (n-gram-overlap decontamination as
    * described in public LM training reports). The fixture's benchmark
    * side is doc_id < 5. Scale shape: eval suites are KBs–MBs, so the
    * benchmark shingle set BROADCASTS and the corpus is scanned once
    * through a broadcast hash join — no shuffle of the corpus postings.
    */
  def q49Contamination(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val bsh = shingledFrom(docs.filter($"doc_id" < 5))
      .select(explode($"shingles").as("s")).distinct()
    val psh = shingledFrom(docs.filter($"doc_id" >= 5))
      .select($"doc_id", explode($"shingles").as("s"))
    psh.join(broadcast(bsh), "s")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= 3)
      .orderBy($"doc_id")
  }

  val q49Sql: String =
    s"""WITH sh AS (
      |  SELECT doc_id, list_distinct($TrigramSqlExpr) AS shingles
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 3),
      |bsh AS (
      |  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id < 5),
      |psh AS (
      |  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id >= 5)
      |SELECT doc_id, count(*) AS n_shared
      |FROM psh JOIN bsh USING (s)
      |GROUP BY doc_id
      |HAVING count(*) >= 3
      |ORDER BY doc_id""".stripMargin

  /** Exact dedup keyed by the cheap Rabin–Karp rolling hash (the
    * native RollingHash32 expression) instead of md5 — the production
    * fingerprint for shift-tolerant/content-defined dedup: one
    * multiply-add-mod per byte, no block cipher. 31-bit range means
    * birthday collisions are plausible at corpus scale; a collision
    * UNDER-dedups (distinct texts share a group and min-id wins), so
    * production pairs it with an exact-byte verify — here the oracle
    * twin recomputes the identical fold, so the gate checks the hash
    * semantics themselves.
    */
  def q58RollingDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .groupBy(graft.plans.TextExpressions.rollingHash32($"text").as("rh"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keep_id")
  }

  // ascii() folds codepoints == bytes on the ASCII corpus (q30 contract);
  // list_reduce with no init seeds from the first element, which equals
  // the zero-seeded fold because 0*257 + b1 = b1
  val q58Sql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) = 0 THEN 0
      |         ELSE list_reduce(
      |           list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
      |           (a, b) -> (a * 257 + b) % 2147483647)
      |    END AS rh
      |  FROM documents)
      |SELECT rh, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM h
      |GROUP BY rh
      |ORDER BY keep_id""".stripMargin

  /** Keep-first LSH dedup MATERIALIZATION: where q21 reports near-dup
    * PAIRS, this emits the deduplicated corpus — a document survives iff
    * it is the smallest doc_id in EVERY one of its band buckets (the
    * greedy bucket-first rule; q21's any-band candidate semantics turned
    * into a keep/drop decision). Exactly the batch semantics of the
    * streaming lshDedupWithinWatermark with doc_id as arrival order, but
    * over the PORTABLE hash family, so the whole decision — shingles,
    * lanes, band keys, winner selection — hash-checks against DuckDB.
    * One shuffle keyed by (band, bucket) plus one by doc; both bounded.
    *
    * CONTRACT — sub-3-word documents bypass dedup ENTIRELY here, even
    * exact-duplicate ones: they have no shingles, get doc-unique
    * synthetic buckets (bandedDocs), and are all kept. N identical
    * copies of a short boilerplate line survive as N rows. A curation
    * pipeline that wants identical short docs collapsed must compose
    * with exact dedup (q19DedupExact / rolling-hash q58), which has no
    * length floor — that is the deliberate division of labour, not an
    * oversight.
    */
  def q64KeepFirstDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"band", $"h")
    bandedDocs(Tables(spark, dir).documents, carry = Nil, portable = true)
      .withColumn("__first", min($"doc_id").over(w))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_bands"),
        sum(when($"doc_id" === $"__first", 1L).otherwise(0L)).as("n_won"))
      .filter($"n_won" === $"n_bands")
      .select($"doc_id")
      .orderBy($"doc_id")
  }

  // Short docs (<3 words, no shingles) are unconditional keepers — the twin
  // unions them straight in, where the engine routes them through synthetic
  // never-colliding band buckets (see bandedDocs).
  val q64Sql: String =
    s"""$lshBucketsCte,
       |firsts AS (SELECT band, h, min(doc_id) AS fd FROM buckets GROUP BY band, h),
       |won AS (SELECT b.doc_id,
       |               CASE WHEN b.doc_id = f.fd THEN 1 ELSE 0 END AS w
       |        FROM buckets b JOIN firsts f ON b.band = f.band AND b.h = f.h),
       |keepers AS (
       |  SELECT doc_id FROM won
       |  GROUP BY doc_id HAVING CAST(sum(w) AS BIGINT) = count(*)
       |  UNION ALL
       |  SELECT doc_id FROM documents
       |  WHERE length(text) - length(replace(text, ' ', '')) < 2)
       |SELECT doc_id FROM keepers
       |ORDER BY doc_id""".stripMargin

  /** Prefix-family duplicate detection: documents sharing an identical
    * 20-word PREFIX are grouped into families — the truncation/expansion
    * dup class (re-crawls cut at different lengths, template pages with
    * appended content) that whole-document hashing misses and Jaccard
    * may under-score when the tails diverge hard. `n_variants` counts
    * distinct full-text digests inside the family: 1 = pure exact-dup
    * family (q19's case), >1 = genuine partial dups needing inspection.
    * Docs under 20 words are out of scope (a 20-word prefix IS the doc).
    *
    * Scale shape: one row-local projection (split/slice/md5 — no
    * shingle explosion), one group-by keyed on the 128-bit prefix
    * digest, one join back. The family table after the size≥2 filter is
    * tiny (dup families are rare), so the join-back broadcasts at scale.
    */
  def q82PrefixDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables(spark, dir).documents
      .withColumn("__t", split($"text", " "))
      .filter(size($"__t") >= 20)
      .select($"doc_id",
        md5(concat_ws(" ", slice($"__t", 1, 20))).as("pk"),
        md5($"text").as("fh"))
    val fam = d.groupBy($"pk").agg(
        min($"doc_id").as("family_id"),
        count(lit(1)).as("family_size"),
        countDistinct($"fh").as("n_variants"))
      .filter($"family_size" >= 2)
    d.join(fam, "pk")
      .select($"doc_id", $"family_id", $"family_size", $"n_variants")
      .orderBy($"doc_id")
  }

  val q82Sql: String =
    """WITH d AS (
      |  SELECT doc_id, md5(array_to_string(t[1:20], ' ')) AS pk, md5(text) AS fh
      |  FROM (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 20),
      |fam AS (
      |  SELECT pk, min(doc_id) AS family_id,
      |         CAST(count(*) AS BIGINT) AS family_size,
      |         CAST(count(DISTINCT fh) AS BIGINT) AS n_variants
      |  FROM d GROUP BY pk HAVING count(*) >= 2)
      |SELECT doc_id, family_id, family_size, n_variants
      |FROM d JOIN fam USING (pk)
      |ORDER BY doc_id""".stripMargin

  /** INCREMENTAL near-dup dedup — the delta-ingestion pattern: the corpus
    * is split into an already-curated index (doc_id below the 80% split
    * point) and a NEW BATCH (the rest); each batch document gets a
    * verdict: `dup_of_corpus` (verified LSH near-dup of an index doc —
    * the corpus copy wins unconditionally), else `dup_in_batch` (near-dup
    * of a smaller-id batch doc — first occurrence wins), else `kept`,
    * plus the smallest winning partner id (NULL when kept). This is how
    * a 100 TB pipeline ingests a new crawl snapshot WITHOUT re-deduping
    * the whole corpus: the index side contributes only its banded
    * signatures, the batch is the only side that is fully re-processed.
    *
    * The verdict is pairwise, not transitive: a batch doc is dropped if
    * ANY earlier near-dup exists, even one that was itself dropped —
    * the same greedy first-wins rule as q64; chained families that need
    * transitive resolution are q65's job. Sub-3-word docs have no
    * shingles, pair with nothing, and are always kept (q64's contract).
    *
    * Plan: the verified pair list is q21's LSH join (banded signatures,
    * exact-Jaccard verify); the split point rides as a broadcast 1-row
    * frame (never a driver constant); verdicts are two bounded
    * aggregates over the pair list — |pairs| rows, not |corpus| —
    * left-joined back to the batch.
    */
  def q77IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    // the LSH pipeline is the expensive upstream and its pair output is
    // tiny — publish it once instead of re-deriving it for the corpus-
    // wins and batch-wins branches (q89 pattern)
    val pairs = minhashLsh(spark, dir, portable = true).select($"doc_a", $"doc_b")
      .ckpt()
    val split = docs.agg(floor(lit(0.8) * (max($"doc_id") + 1)).cast("long").as("s"))
    val p = pairs.crossJoin(broadcast(split))
    val corpusWins = p.filter($"doc_a" < $"s" && $"doc_b" >= $"s")
      .groupBy($"doc_b".as("doc_id")).agg(min($"doc_a").as("cp"))
    val batchWins = p.filter($"doc_a" >= $"s")
      .groupBy($"doc_b".as("doc_id")).agg(min($"doc_a").as("bp"))
    docs.select($"doc_id").crossJoin(broadcast(split)).filter($"doc_id" >= $"s")
      .join(corpusWins, Seq("doc_id"), "left")
      .join(batchWins, Seq("doc_id"), "left")
      .select($"doc_id",
        when($"cp".isNotNull, "dup_of_corpus")
          .when($"bp".isNotNull, "dup_in_batch")
          .otherwise("kept").as("verdict"),
        coalesce($"cp", $"bp").as("partner"))
      .orderBy($"doc_id")
  }

  val q77Sql: String =
    s"""$lshBucketsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |ws AS (
       |  SELECT doc_a, doc_b, len(list_intersect(sa.shingles, sb.shingles)) AS inter
       |  FROM cand
       |  JOIN sh sa ON doc_a = sa.doc_id
       |  JOIN sh sb ON doc_b = sb.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM ws
       |  JOIN counts ca ON doc_a = ca.doc_id
       |  JOIN counts cb ON doc_b = cb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5),
       |split AS (
       |  SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS s FROM documents),
       |cw AS (SELECT doc_b AS doc_id, min(doc_a) AS cp
       |       FROM pairs, split WHERE doc_a < s AND doc_b >= s GROUP BY doc_b),
       |bw AS (SELECT doc_b AS doc_id, min(doc_a) AS bp
       |       FROM pairs, split WHERE doc_a >= s GROUP BY doc_b),
       |batch AS (SELECT doc_id FROM documents, split WHERE doc_id >= s)
       |SELECT b.doc_id,
       |  CASE WHEN cw.cp IS NOT NULL THEN 'dup_of_corpus'
       |       WHEN bw.bp IS NOT NULL THEN 'dup_in_batch'
       |       ELSE 'kept' END AS verdict,
       |  coalesce(cw.cp, bw.bp) AS partner
       |FROM batch b
       |LEFT JOIN cw ON b.doc_id = cw.doc_id
       |LEFT JOIN bw ON b.doc_id = bw.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** Connected components by min-label propagation WITH pointer
    * doubling: every vertex starts labeled with itself; each round does
    * (a) one propagation step — a vertex adopts the smallest label among
    * itself and its neighbours — and (b) one shortcut step — a vertex
    * re-labels to its label's label, L(v) := L(L(v)). Propagation alone
    * needs diameter-many rounds; the shortcut doubles the distance a
    * label has travelled every round (reach_{r+1} >= 2*reach_r + 1, the
    * classic Shiloach–Vishkin hook-and-shortcut recurrence, same family
    * as Kiveris et al.'s large-star/small-star), so `maxIter = 20`
    * covers component diameters past 10^6 — adversarial sequential-edit
    * dup chains included. Fixpoint = every vertex carries the smallest
    * doc_id in its component. The loop is DRIVER-ORCHESTRATED but every
    * step is distributed (one edge-keyed join + one vertex-keyed
    * aggregate + one label-keyed self-join per round); the per-round
    * `count` is the standard iterative-convergence check (GraphX's
    * Pregel does the same) — it materializes the persisted next-state,
    * never ships rows to the driver.
    *
    * The shortcut join is always valid: label values are component
    * vertices (init takes min over self+neighbours, propagation takes
    * min over neighbour labels, shortcut takes an existing label), so
    * the inner self-join on label = v loses nobody.
    *
    * Scale + cache posture: the iteration runs ONLY over vertices that
    * have at least one edge — at corpus scale the dup graph is a tiny
    * fraction of the corpus (most documents are singletons), so the
    * per-round joins touch |edges| rows, never |corpus|. Singletons are
    * re-attached label=self by one final left join, which never enters
    * the loop. Nothing stays pinned after the call: intermediates are
    * unpersisted in a try/finally (so the maxIter throw releases them
    * too); each round's dead frames (the round's `prop` and the PREVIOUS
    * round's labels) are freed explicitly via [[graft.Ckpt.free]] the
    * moment the next round materializes — a long-lived JVM running many
    * CC queries would otherwise hold every round's blocks until the
    * driver's GC happens to trigger the ContextCleaner. Only the
    * CONVERGED labels frame keeps its blocks (it is the output).
    *
    * Durability contract: every publish goes through `ckpt()` — set
    * [[graft.Ckpt.ConfKey]] (`spark.graft.checkpointDir`) and the loop
    * checkpoints reliably to that directory, so on a real cluster an
    * executor loss replays the round from checkpoint files instead of
    * restarting the query (localCheckpoint blocks die with their
    * executor; reliable mode is spec-pinned in CkptSpec).
    */
  /** Rounds the last [[connectedComponents]] call took to converge —
    * observability for specs/PERF (the doubling guarantee is testable:
    * a planted diameter-200 chain must close in <= ~8 rounds, where
    * plain propagation would need 200). Driver-side only.
    */
  @volatile private[graft] var lastCcRounds: Int = 0

  /** Per-call sequence for CC edge-table names: CC edge sets are
    * query-specific (each call's LSH/fuzzy pair output), so unlike the
    * purchase-graph table there is nothing to cache across calls — a
    * fresh name per call makes staleness structurally impossible.
    */
  private val ccEdgeSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Publish the symmetrized CC edge stream for the round loop (r13
    * verdict order 2 — the same layout decision the iterative graph
    * family got at r13, extended to pointer-doubling CC):
    *
    *   - default: executor-memory `persist()` — one materialization of
    *     the expensive LSH upstream, but every round's src-keyed join
    *     re-exchanges the |E| stream (an in-memory frame carries no
    *     partitioning the planner trusts across the ckpt boundary);
    *   - [[GraphOps.EdgeTableConf]] set: a TABLE bucketed+sorted on
    *     `src` (`Warehouse.writeBucketed`, one file per bucket) — the
    *     init groupBy(src) and every round's edges⋈labels join plan with
    *     NO Exchange on the edge side (and no Sort either, under the
    *     companion `bucketedTableScan.outputOrdering` deployment conf —
    *     see [[GraphOps.bucketedPurchaseEdges]]); only the |V|-sized
    *     label frame shuffles per round. On a real cluster the |E|
    *     stream crosses the network once, at table-build time, instead
    *     of once per doubling round.
    *
    * The table is PER-CALL and dropped — files included — by the
    * returned release hook (the convergence loop's try/finally), because
    * CC edge sets are call-specific; the dup-graph |E| is a tiny
    * fraction of the corpus, so the extra disk write is small against
    * the LSH upstream it materializes either way. CcBucketedSpec pins
    * the plan shape and byte-identical results on both paths.
    */
  private[graft] def publishCcEdges(sym: DataFrame): (DataFrame, () => Unit) = {
    val spark = sym.sparkSession
    spark.conf.getOption(GraphOps.EdgeTableConf).filter(_.nonEmpty) match {
      case Some(wh) =>
        val table = s"graft_cc_edges_${ccEdgeSeq.incrementAndGet()}"
        val warehouse = graft.etl.Warehouse(spark, wh)
        warehouse.writeBucketed(sym, table, Seq("src"), 32)
        (spark.table(table), () => {
          spark.sql(s"DROP TABLE IF EXISTS $table")
          val p = new org.apache.hadoop.fs.Path(warehouse.path(table))
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true): Unit
        })
      case None =>
        val persisted = sym.persist()
        (persisted, () => { persisted.unpersist(): Unit })
    }
  }

  private[graft] def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    import vertices.sparkSession.implicits._
    // Symmetrize by a row-local explode, NOT a self-union: a union's two
    // branches each embed the (expensive — LSH candidate + verify) edge
    // subplan, so materializing the publish would run it twice.
    val (sym, releaseSym) = publishCcEdges(
      edges.select(explode(array(
          struct($"doc_a".as("src"), $"doc_b".as("dst")),
          struct($"doc_b".as("src"), $"doc_a".as("dst")))).as("e"))
        .select($"e.src", $"e.dst"))
    // Init fuses propagation round 1: the vertex list needs a dedup
    // shuffle anyway, and groupBy-min costs the same as distinct — so
    // start every vertex at min(self, neighbours). Near-dup cliques are
    // then ALREADY at fixpoint and the loop only runs its convergence
    // observation round.
    // Lineage discipline: the shortcut SELF-join makes the logical plan
    // reference the previous round TWICE, so a persist-only loop grows
    // the plan tree exponentially (2^rounds nodes — analysis itself OOMs
    // by round ~9). Eager ckpt() per round truncates lineage to the
    // materialized copy (reliable checkpoint files when
    // spark.graft.checkpointDir is set, executor-local blocks otherwise);
    // dead rounds are freed explicitly below.
    var labels = sym.groupBy($"src".as("v")).agg(least($"v", min($"dst")).as("label"))
      .ckpt()
    try {
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        val nbrMin = sym.join(labels.withColumnRenamed("v", "src"), "src")
          .groupBy($"dst".as("v")).agg(min($"label").as("nbr"))
        // Propagation: every subgraph vertex has >=1 neighbour, so the
        // inner join loses nobody. Checkpointed because the shortcut
        // self-join below references it on both sides — the checkpoint
        // both caches (no double edge-join) and truncates the plan.
        val prop = labels.join(nbrMin, Seq("v"))
          .select($"v", least($"label", $"nbr").as("label"), $"label".as("old"))
          .ckpt()
        // Shortcut (pointer doubling): L(v) := L(L(v)). Inner join is
        // safe — labels are themselves subgraph vertices (see scaladoc).
        // The convergence flag rides along as a column instead of a
        // second next-vs-old join; __chg is dropped by the explicit
        // selects at every use site.
        val next = prop.as("a")
          .join(prop.select($"v".as("p"), $"label".as("gp")), $"a.label" === $"p")
          .select($"a.v".as("v"), $"gp".as("label"), ($"gp" < $"a.old").as("__chg"))
          .ckpt()
        val changed = next.filter($"__chg").count()
        // `next` is materialized: this round's prop blocks and the
        // PREVIOUS round's label blocks are now provably dead — free
        // them eagerly instead of waiting on driver GC + ContextCleaner
        Ckpt.free(prop)
        Ckpt.free(labels)
        labels = next.select($"v", $"label")
        converged = changed == 0
        iter += 1
      }
      lastCcRounds = iter
      require(converged, s"connectedComponents did not converge in $maxIter rounds " +
        "(diameter past ~2^maxIter — raise maxIter; doubling makes rounds log2(diameter))")
      vertices.join(labels, Seq("v"), "left")
        .select($"v", coalesce($"label", $"v").as("label"))
    } finally {
      releaseSym()
    }
  }

  /** Near-dup CLUSTERS: q21's verified LSH pairs as an undirected graph,
    * connected components as cluster assignment — the step between
    * pairwise near-dup detection and corpus curation (keep one
    * representative per cluster; q64's bucket-greedy rule approximates
    * this in one pass, components make it transitive-exact: A≈B≈C lands
    * in ONE cluster even when A,C never collide). Every document appears:
    * singletons are their own cluster of size 1.
    */
  def q65DupClusters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the LSH pipeline is the expensive upstream and its pair output is
    // tiny — publish it once instead of re-deriving it for the corpus-
    // wins and batch-wins branches (q89 pattern)
    val pairs = minhashLsh(spark, dir, portable = true).select($"doc_a", $"doc_b")
      .ckpt()
    val verts = Tables(spark, dir).documents.select($"doc_id".as("v"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
    connectedComponents(verts, pairs)
      .select($"v".as("doc_id"), $"label".as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .orderBy($"doc_id")
  }

  /** Recursive-CTE twin of connectedComponents over the verified LSH
    * pairs, shared by q65/q68: reach(v) accumulates every component
    * member that can flow to v along pair edges (both directions), so
    * min(reach) per vertex — CTE `cl` — is exactly the min-propagation
    * fixpoint.
    *
    * ORACLE COST BOUND: `r` materializes the full reachability relation,
    * ~Σ|component|² rows, before the min() collapse — quadratic in the
    * largest component, while the Spark side stays linear-per-round. Fine
    * for the fixtures' small planted dup families (≤ tens of members); if
    * a fixture ever plants a LARGE near-dup family, the DuckDB oracle
    * will degrade quadratically and a timeout would masquerade as an
    * engine failure — keep planted families small, or rewrite the twin as
    * an iterative temp-table min-propagation.
    */
  private def ccClustersCte: String =
    s"""${lshBucketsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |ws AS (
       |  SELECT doc_a, doc_b, len(list_intersect(sa.shingles, sb.shingles)) AS inter
       |  FROM cand
       |  JOIN sh sa ON doc_a = sa.doc_id
       |  JOIN sh sb ON doc_b = sb.doc_id),
       |pr AS (
       |  SELECT doc_a, doc_b
       |  FROM ws
       |  JOIN counts ca ON doc_a = ca.doc_id
       |  JOIN counts cb ON doc_b = cb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pr
       |      UNION ALL SELECT doc_b, doc_a FROM pr),
       |r AS (
       |  SELECT doc_id AS v, doc_id AS reach FROM documents
       |  UNION
       |  SELECT e.dst AS v, r.reach AS reach FROM r JOIN e ON r.v = e.src),
       |cl AS (SELECT v AS doc_id, min(reach) AS cluster_id FROM r GROUP BY v)""".stripMargin

  val q65Sql: String =
    s"""$ccClustersCte
       |SELECT doc_id, cluster_id,
       |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM cl
       |ORDER BY doc_id""".stripMargin

  private val SplitFolds = 5L

  /** q170: group-aware k-fold split — fold assignment keyed by the
    * NEAR-DUP CLUSTER (q65's components), not the document, so no two
    * near-duplicates ever straddle train/eval: the split-time HALF of
    * the contamination problem (q49/q100 detect leakage after the fact;
    * this prevents the dominant source of it at assignment time —
    * near-identical docs landing on both sides). Emits the per-fold
    * ledger plus the audit pair that justifies the design: group-keyed
    * assignment has 0 straddling clusters (computed, not assumed — a
    * countDistinct over actual assignments), while the naive
    * doc-id-hash split would have straddled `naive_leaky_clusters`
    * multi-doc clusters on the same corpus.
    *
    * Fold hashing is the portable md5 fold of the cluster id — folds
    * are stable under corpus growth for unchanged clusters (a cluster
    * keeps its fold when new docs arrive elsewhere), the property that
    * lets a 100 TB split be assigned incrementally.
    *
    * Scale shape: clustering reuses q65's LSH→CC path (its cost
    * profile is q65's); everything after is one row-local fold hash,
    * one cluster-keyed aggregate, one 5-group fold aggregate, and a
    * broadcast 1-row audit join.
    */
  def q170GroupSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val pairs = minhashLsh(spark, dir, portable = true).select($"doc_a", $"doc_b")
      .ckpt()
    val labels = connectedComponents(docs.select($"doc_id".as("v")), pairs)
      .select($"v".as("doc_id"), $"label".as("cluster_id"))
    def md5fold(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % SplitFolds
    val perDoc = labels.join(docs.select($"doc_id", $"n_chars"), "doc_id")
      .withColumn("fold", md5fold($"cluster_id"))
      .withColumn("naive_fold", md5fold($"doc_id"))
      .ckpt() // feeds the fold ledger AND the cluster audit below
    val audit = perDoc.groupBy($"cluster_id")
      .agg(countDistinct($"fold").as("nf"),
        countDistinct($"naive_fold").as("nn"),
        count(lit(1)).as("sz"))
      .agg(
        sum(when($"nf" > 1, 1L).otherwise(0L)).as("group_leaky_clusters"),
        sum(when($"nn" > 1 && $"sz" > 1, 1L).otherwise(0L))
          .as("naive_leaky_clusters"))
    perDoc
      .groupBy($"fold")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"cluster_id").as("n_clusters"),
        sum($"n_chars").as("n_chars"))
      .crossJoin(broadcast(audit))
      .orderBy($"fold")
  }

  val q170Sql: String = {
    def fold(col: String) = {
      val h = (1 to 8).map { j =>
        val mult = 1L << (4 * (8 - j))
        s"(strpos('0123456789abcdef', substr(md5(CAST($col AS VARCHAR)), $j, 1)) - 1) * $mult"
      }.mkString(" + ")
      s"($h) % $SplitFolds"
    }
    s"""$ccClustersCte,
       |pd AS (
       |  SELECT cl.doc_id, cl.cluster_id, d.n_chars,
       |         ${fold("cl.cluster_id")} AS fold,
       |         ${fold("cl.doc_id")} AS naive_fold
       |  FROM cl JOIN documents d ON cl.doc_id = d.doc_id),
       |aud AS (
       |  SELECT
       |    CAST(count(*) FILTER (WHERE nf > 1) AS BIGINT)
       |      AS group_leaky_clusters,
       |    CAST(count(*) FILTER (WHERE nn > 1 AND sz > 1) AS BIGINT)
       |      AS naive_leaky_clusters
       |  FROM (SELECT cluster_id, count(DISTINCT fold) AS nf,
       |               count(DISTINCT naive_fold) AS nn, count(*) AS sz
       |        FROM pd GROUP BY cluster_id))
       |SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  group_leaky_clusters, naive_leaky_clusters
       |FROM pd CROSS JOIN aud
       |GROUP BY fold, group_leaky_clusters, naive_leaky_clusters
       |ORDER BY fold""".stripMargin
  }

  /** Representative selection — the curation step AFTER clustering: each
    * near-dup cluster keeps its highest-quality member (q18's portable
    * quality score; ties break to the smallest doc_id). One row per
    * cluster. Quality is IEEE-exact arithmetic on integer-derived values,
    * so the cross-engine ordering (and the emitted rep_quality) is
    * bit-identical.
    */
  def q68ClusterReps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the LSH pipeline is the expensive upstream and its pair output is
    // tiny — publish it once instead of re-deriving it for the corpus-
    // wins and batch-wins branches (q89 pattern)
    val pairs = minhashLsh(spark, dir, portable = true).select($"doc_a", $"doc_b")
      .ckpt()
    val docs = Tables(spark, dir).documents
    val labels = connectedComponents(docs.select($"doc_id".as("v")), pairs)
      .select($"v".as("doc_id"), $"label".as("cluster_id"))
    val scored = docs.select($"doc_id", TextOps.qualityCol.as("quality"))
    val byQuality = org.apache.spark.sql.expressions.Window
      .partitionBy($"cluster_id").orderBy($"quality".desc, $"doc_id".asc)
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
    labels.join(scored, "doc_id")
      .withColumn("rn", row_number().over(byQuality))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .filter($"rn" === 1)
      .select($"cluster_id", $"cluster_size",
        $"doc_id".as("rep_doc_id"), $"quality".as("rep_quality"))
      .orderBy($"cluster_id")
  }

  val q68Sql: String =
    s"""$ccClustersCte,
       |sc AS (SELECT doc_id, ${TextOps.qualitySqlExpr} AS quality FROM documents),
       |j AS (SELECT cl.cluster_id, cl.doc_id, sc.quality,
       |             row_number() OVER (PARTITION BY cluster_id
       |                                ORDER BY quality DESC, cl.doc_id) AS rn,
       |             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |      FROM cl JOIN sc ON cl.doc_id = sc.doc_id)
       |SELECT cluster_id, cluster_size, doc_id AS rep_doc_id, quality AS rep_quality
       |FROM j WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  /** Dedup savings estimator: the pre-flight report that decides
    * whether a dedup pass is worth its cluster bill. Exact-dup groups
    * (the q19 fingerprint aggregate) roll up into a cluster-size
    * histogram plus the headline numbers — rows removable, bytes
    * removable, dedup ratio in exact milli — per source, so the answer
    * is per-corpus-slice ("crawl-B is 40% copies, the curated slice is
    * clean").
    *
    * Cost: the same single fingerprint shuffle as q19 (byte totals ride
    * the same aggregate), then a source-keyed rollup of group-sized
    * rows. Near-dup savings (the q21/q65 families) bound BELOW by this
    * number — if exact savings alone justify the pass, no further
    * estimation is needed.
    */
  def q117DedupSavings(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val groups = Tables(spark, dir).documents
      .groupBy($"source", md5($"text").as("fp"))
      .agg(count(lit(1)).as("k"), sum($"n_chars").as("bytes"),
        min($"n_chars").as("keep_bytes"))
    groups.groupBy($"source")
      .agg(
        sum($"k").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        sum($"k" - 1).as("removable_docs"),
        sum($"bytes" - $"keep_bytes").as("removable_bytes"),
        max($"k").as("largest_family"))
      .withColumn("dedup_milli",
        expr("(removable_docs * 1000) div n_docs"))
      .orderBy($"source")
  }

  val q117Sql: String =
    """WITH g AS (
      |  SELECT source, md5(text) AS fp, count(*) AS k,
      |         sum(n_chars) AS bytes, min(n_chars) AS keep_bytes
      |  FROM documents GROUP BY source, md5(text))
      |SELECT source,
      |  CAST(sum(k) AS BIGINT) AS n_docs,
      |  count(*) AS n_distinct,
      |  CAST(sum(k - 1) AS BIGINT) AS removable_docs,
      |  CAST(sum(bytes - keep_bytes) AS BIGINT) AS removable_bytes,
      |  CAST(max(k) AS BIGINT) AS largest_family,
      |  CAST((sum(k - 1) * 1000) // sum(k) AS BIGINT) AS dedup_milli
      |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** Cross-source content-overlap matrix: for every pair of corpus
    * sources, how many distinct word-3-gram shingles they share, and the
    * Jaccard of their shingle vocabularies — the corpus-composition
    * report that decides which sources are near-mirrors (crawl overlap)
    * BEFORE committing to a mixture (q69/q91) or a full pairwise dedup.
    *
    * Scale shape: ONE shuffle keyed by shingle over the distinct
    * (shingle, source) set; per-shingle state is a source set bounded by
    * the number of sources (a small constant — 20 here, rarely >100 in
    * practice), so no key can accumulate unbounded state, and the pair
    * fanout per shingle is bounded by S². Pairs are emitted row-locally
    * from each sorted source set (explode + higher-order filter — no
    * self-join of the posting table, which would shuffle the whole
    * distinct set twice). The final aggregate is S² rows.
    */
  def q122SourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fs is consumed twice (per-source sizes + the pair fanout) —
    // localCheckpoint-publish it so the shingling scan runs ONCE
    // (q77/q78's shared-frame pattern; blocks are freed when the frame
    // drops, nothing stays pinned)
    val fs = Tables(spark, dir).documents
      .filter(wordsGe3(col("text")))
      .select($"source",
        explode(array_distinct(
          graft.plans.TextExpressions.wordTrigrams(col("text")))).as("s"))
      .distinct()
      .ckpt()
    val perSource = fs.groupBy($"source").agg(count(lit(1)).as("n"))
    val pairs = fs
      .groupBy($"s").agg(sort_array(collect_set($"source")).as("srcs"))
      .filter(size($"srcs") >= 2)
      .select(explode($"srcs").as("source_a"), $"srcs")
      .select($"source_a",
        explode(expr("filter(srcs, x -> x > source_a)")).as("source_b"))
      .groupBy($"source_a", $"source_b").agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(perSource.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n", "n_a")), Seq("source_a"))
      .join(broadcast(perSource.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n", "n_b")), Seq("source_b"))
      .select($"source_a", $"source_b", $"n_shared", $"n_a", $"n_b",
        ($"n_shared".cast("double") / ($"n_a" + $"n_b" - $"n_shared"))
          .as("jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  val q122Sql: String =
    s"""WITH toks AS (
      |  SELECT source, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT source, unnest(list_distinct($TrigramSqlExpr)) AS s
      |  FROM toks WHERE len(t) >= 3),
      |fs AS (SELECT DISTINCT source, s FROM sh),
      |n AS (SELECT source, count(*) AS n FROM fs GROUP BY source),
      |i AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         count(*) AS n_shared
      |  FROM fs a JOIN fs b ON a.s = b.s AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, n_shared,
      |  na.n AS n_a, nb.n AS n_b,
      |  CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) AS jaccard
      |FROM i
      |JOIN n na ON source_a = na.source
      |JOIN n nb ON source_b = nb.source
      |ORDER BY source_a, source_b""".stripMargin

  /** q148: LSH candidate-generation quality — recall and candidate
    * precision of the q21 banding against the exact-Jaccard truth set.
    * The number that answers "can I trust MinHash-LSH at 100 TB, where
    * the exhaustive pass is impossible": measure recall at a scale
    * where the exact answer IS computable (this query), then ship the
    * banding whose miss rate you've seen. Candidate precision is the
    * other dial — it prices the exact-verify stage (1/precision
    * verifies per true pair).
    *
    * Truth = the q20 inverted-index exact-Jaccard pairs at the q21
    * verify threshold (0.5); prediction = the band-collision candidate
    * set BEFORE verification (bandedDocs — the same row-local signature
    * construction the streaming dedup uses, pinned bit-for-bit to q21's
    * aggregated form by StreamingSpec/PropertySpec). Plan: both sides
    * are the existing one-shuffle machines; the eval itself joins two
    * pair lists and folds three counts — output is ONE row regardless
    * of corpus size.
    *
    * The truth/cand pair lists publish eagerly only when the documents
    * frame is past the [[graft.functions.DistributedRank]] gate. Within
    * it, Catalyst's ReuseExchange already shares the duplicated
    * subplans and an eager publish only breaks stage pipelining
    * (measured: 2.71→4.48 s at sf0.1); past it, each pair list is the
    * product of the corpus-scale shingle/banding machinery and
    * recomputing it for the second consumer costs a full extra pass.
    */
  def q148LshEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    lshEvalOf(docs, publish = !graft.functions.DistributedRank.fitsSingleTask(docs))
  }

  private[graft] def lshEvalOf(docs: DataFrame,
      publish: Boolean = false): DataFrame = {
    import docs.sparkSession.implicits._
    def pub(df: DataFrame): DataFrame = if (publish) df.ckpt() else df
    val truth = pub(jaccardPairs(docs, 0.5).select($"doc_a", $"doc_b"))
    val buckets = bandedDocs(docs, Seq.empty, portable = true)
    val cand = pub(buckets.as("a")
      .join(buckets.as("b"),
        $"a.band" === $"b.band" && $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct())
    val hit = truth.join(cand, Seq("doc_a", "doc_b"))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select($"n_truth", $"n_cand", $"n_hit",
        when($"n_truth" > 0, $"n_hit".cast("double") / $"n_truth").as("recall"),
        when($"n_cand" > 0, $"n_hit".cast("double") / $"n_cand").as("precision"))
  }

  /** DuckDB twin: the shared portable-LSH bucket CTE (same as q21) for
    * the candidate side, the q20 rare-shingle machinery at τ=0.5 for
    * the truth side, INTERSECT for the hits.
    */
  val q148Sql: String =
    s"""$lshBucketsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |rare AS (SELECT s FROM post GROUP BY s HAVING count(*) <= 25),
       |pr AS (SELECT post.doc_id, post.s FROM post JOIN rare USING (s)),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN counts ca ON doc_a = ca.doc_id
       |  JOIN counts cb ON doc_b = cb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5),
       |hit AS (SELECT * FROM truth INTERSECT SELECT * FROM cand)
       |SELECT
       |  (SELECT count(*) FROM truth) AS n_truth,
       |  (SELECT count(*) FROM cand) AS n_cand,
       |  (SELECT count(*) FROM hit) AS n_hit,
       |  CASE WHEN (SELECT count(*) FROM truth) > 0
       |       THEN CAST((SELECT count(*) FROM hit) AS DOUBLE)
       |            / (SELECT count(*) FROM truth) END AS recall,
       |  CASE WHEN (SELECT count(*) FROM cand) > 0
       |       THEN CAST((SELECT count(*) FROM hit) AS DOUBLE)
       |            / (SELECT count(*) FROM cand) END AS precision""".stripMargin

  /** q159: dup-pair evidence — for every exact-Jaccard near-dup pair,
    * the 3 RAREST shared shingles (df ascending, then shingle) with
    * their corpus frequencies. The audit surface dedup decisions need:
    * "why were these two merged" answered by concrete shared content,
    * rarest first (the most identifying evidence), instead of a bare
    * similarity score. A curation reviewer reads this table; an appeals
    * process queries it.
    *
    * Scale shape (r19 rework — one shingle pass, not two): the
    * sizedPairs inverted-index core already materializes, per rare
    * shingle, its full ≤cap posting list — so the shared-shingle
    * STREAM (doc_a, doc_b, s, df) with df = size of the posting list
    * falls out of the same bounded collect that the pair counts fold
    * over (df ≤ cap groups survive EXACTLY when the BoundedCollect
    * group isn't overflow-nulled, and size(ds) IS the global df).
    * Publishing that stream once feeds BOTH the Jaccard fold and the
    * per-pair top-3 evidence rank; the previous shape ran shingledFrom
    * + a posting-stream dfreq aggregate TWICE (once inside
    * jaccardPairs, once for the evidence re-join). Emitted as one ROW
    * per evidence item (no arrays — array ordering is exactly the
    * cross-engine ambiguity this repo avoids).
    */
  def q159DupEvidence(spark: SparkSession, dir: String): DataFrame =
    dupEvidenceOf(Tables(spark, dir).documents)

  private[graft] def dupEvidenceOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val postN = shingledFrom(docs).select(
      $"doc_id", size($"shingles").cast("long").as("n_sh"),
      explode($"shingles").as("s"))
    // shared rare-shingle stream, sized and df-stamped (see sizedPairs:
    // i < j keeps doc_a < doc_b because the bounded collect finishes
    // sorted by doc_id). Consumed by two branches — published once.
    val shared = postN
      .groupBy($"s")
      .agg(graft.functions.BoundedCollect
        .boundedPostings($"doc_id", $"n_sh", 25).as("ds"))
      .filter($"ds".isNotNull)
      .select($"s", size($"ds").cast("long").as("df"),
        posexplode($"ds").as(Seq("i", "a")), $"ds")
      .select($"s", $"df", $"i", $"a", posexplode($"ds").as(Seq("j", "b")))
      .filter($"i" < $"j")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.n_sh".as("n_a"), $"b.n_sh".as("n_b"), $"s", $"df")
      .ckpt()
    val pairs = shared
      .groupBy($"doc_a", $"doc_b", $"n_a", $"n_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        $"inter".cast("double") / ($"n_a" + $"n_b" - $"inter"))
      .filter($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"jaccard")
    pairs
      .join(shared.select($"doc_a", $"doc_b", $"s", $"df"),
        Seq("doc_a", "doc_b"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"doc_a", $"doc_b").orderBy($"df".asc, $"s".asc)))
      .filter($"rank" <= 3)
      .select($"doc_a", $"doc_b", $"jaccard", $"rank".cast("long").as("rank"),
        $"s".as("shingle"), $"df")
      .orderBy($"doc_a", $"doc_b", $"rank")
  }

  val q159Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct($TrigramSqlExpr) AS shingles
      |  FROM toks WHERE len(t) >= 3),
      |counts AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
      |post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |dfreq AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY s),
      |pr AS (SELECT post.doc_id, post.s, dfreq.df
      |       FROM post JOIN dfreq USING (s) WHERE df <= 25),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |  FROM pr a JOIN pr b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b,
      |    CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard
      |  FROM inter
      |  JOIN counts ca ON doc_a = ca.doc_id
      |  JOIN counts cb ON doc_b = cb.doc_id
      |  WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5),
      |ev AS (
      |  SELECT p.doc_a, p.doc_b, p.jaccard, a.s, a.df,
      |         row_number() OVER (PARTITION BY p.doc_a, p.doc_b
      |                            ORDER BY a.df, a.s) AS rank
      |  FROM pairs p
      |  JOIN pr a ON a.doc_id = p.doc_a
      |  JOIN pr b ON b.doc_id = p.doc_b AND b.s = a.s)
      |SELECT doc_a, doc_b, jaccard, rank, s AS shingle, df
      |FROM ev WHERE rank <= 3
      |ORDER BY doc_a, doc_b, rank""".stripMargin

  /** Window width (in whitespace tokens) for the duplicate-SPAN coverage
    * diagnostic. 5 keeps the fixture's short docs in range; the published
    * operating point for pretraining corpora is ~50 tokens (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better", ACL
    * 2022) — the plan shape is identical at any width.
    */
  private[graft] val SpanN = 5

  /** q172: duplicate n-gram SPAN coverage per document — the
    * substring-level complement of whole-doc dedup (q19) and set-overlap
    * near-dup (q20/q21). Document-level Jaccard misses a doc that is 95%
    * original but embeds a boilerplate paragraph repeated across the
    * corpus; span coverage reports exactly that: the fraction of a doc's
    * TOKENS lying inside at least one {SpanN}-token window that also
    * occurs verbatim in some OTHER document. Lee et al. (ACL 2022) showed
    * cutting such repeated spans measurably improves LMs; this is the
    * audit that prices the cut per document. Intra-doc repetition is
    * deliberately out of scope (q50 measures it) — a window must appear
    * in ≥ 2 DISTINCT documents to count.
    *
    * Scale shape: windows are hashed row-locally (one md5 per window —
    * the shuffle carries 32-char digests, never window text), then
    *   (1) a (gram, doc) partial-dedup aggregate (map-side combine
    *       collapses a doc's internal repeats before the shuffle),
    *   (2) a gram-level distinct-doc count keeping only cross-doc grams,
    *   (3) a semi join of the window stream against that gram set, and
    *   (4) a per-doc interval-union window (classic gaps-and-islands:
    *       running max of window-end over position order) folding
    *       overlapping dup windows into covered-token counts.
    * Every aggregate is partial-agg combinable; the only per-doc state is
    * the position-sorted dup-window list, bounded by doc length. No
    * all-pairs stage exists at any scale. dup_coverage is a quotient of
    * exact integers — bit-identical cross-engine (jaccardFromSized's
    * no-round policy).
    */
  def q172DupSpanCoverage(spark: SparkSession, dir: String): DataFrame =
    dupSpanCoverage(Tables(spark, dir).documents)

  private[graft] def dupSpanCoverage(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select($"doc_id", split($"text", " ").as("t"))
    // the span family's shared (doc_id, pos, g) builder — codegen'd
    // window kernel + builtin md5 (see windowGrams)
    val win = windowGrams(toks, SpanN)
    val dupg = win
      .groupBy($"g", $"doc_id").agg(count(lit(1)).as("occ"))
      .groupBy($"g").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= 2)
      .select($"g")
    val ord = Window.partitionBy($"doc_id").orderBy($"pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val perDoc = win.join(dupg, Seq("g"), "left_semi")
      .withColumn("prev_end", coalesce(max($"pos" + lit(SpanN)).over(ord), lit(0L)))
      .withColumn("contrib",
        greatest(lit(0L), ($"pos" + lit(SpanN)) - greatest($"pos", $"prev_end")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("dup_windows"), sum($"contrib").as("covered_tokens"))
    toks
      .select($"doc_id", size($"t").cast("long").as("n_tokens"),
        greatest(lit(0L), size($"t").cast("long") - lit(SpanN - 1L)).as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens", $"n_windows",
        coalesce($"dup_windows", lit(0L)).as("dup_windows"),
        coalesce($"covered_tokens", lit(0L)).as("covered_tokens"),
        (coalesce($"covered_tokens", lit(0L)).cast("double") / $"n_tokens")
          .as("dup_coverage"))
      .orderBy($"doc_id")
  }

  /** DuckDB twin: the same md5 window keys (full-digest grouping in BOTH
    * engines, so a hash collision — however improbable — collides
    * identically), the same cross-doc gram filter, the same running-max
    * interval union.
    */
  val q172Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |win AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         md5(array_to_string(t[i:i+${SpanN - 1}], ' ')) AS g
      |  FROM toks, unnest(range(1, len(t) - ${SpanN - 2})) AS u(i)
      |  WHERE len(t) >= $SpanN),
      |gd AS (SELECT g, doc_id FROM win GROUP BY 1, 2),
      |dupg AS (SELECT g FROM gd GROUP BY g HAVING count(*) >= 2),
      |dw AS (SELECT win.doc_id, pos FROM win JOIN dupg USING (g)),
      |cov AS (
      |  SELECT doc_id,
      |    greatest(0, pos + $SpanN - greatest(pos,
      |      coalesce(max(pos + $SpanN) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS contrib
      |  FROM dw),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows,
      |         CAST(sum(contrib) AS BIGINT) AS covered_tokens
      |  FROM cov GROUP BY 1),
      |base AS (
      |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |         CAST(greatest(len(t) - ${SpanN - 1}, 0) AS BIGINT) AS n_windows
      |  FROM toks)
      |SELECT base.doc_id, n_tokens, n_windows,
      |  coalesce(dup_windows, CAST(0 AS BIGINT)) AS dup_windows,
      |  coalesce(covered_tokens, CAST(0 AS BIGINT)) AS covered_tokens,
      |  CAST(coalesce(covered_tokens, CAST(0 AS BIGINT)) AS DOUBLE) / n_tokens
      |    AS dup_coverage
      |FROM base LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q174: MinHash estimator CALIBRATION — q148 scores the LSH
    * candidate GENERATOR (recall/precision of bucket collisions); this
    * scores the ESTIMATOR the verify-free fast path would use: per
    * agreement level k/16 between two signatures, how far is k/16 from
    * the true Jaccard? A pipeline that trusts raw sketch agreement above
    * some bar (skipping exact verification — the only option when the
    * shingle sets are too big to re-intersect) needs exactly this table
    * to pick the bar: ship est ≥ b only for bins whose measured gap is
    * tolerable.
    *
    * Binning is DISCRETE (k ∈ 0..16 — the estimator's native support),
    * so no float bin-boundary ambiguity exists. Per bin the micro-avg
    * true Jaccard is Σinter/Σunion — a single quotient of exact longs,
    * not a mean of per-pair doubles, so no cross-row float sum enters
    * any aggregate (the q87/q156 rule). Population = the LSH candidate
    * set (the only pairs a sketch-trusting path ever scores).
    *
    * Scale shape: the q21 one-shuffle signature machine twice-joined to
    * a candidate list the banding already bounds, then a ≤17-group
    * aggregate. Output is ≤ 17 rows at any corpus size.
    */
  def q174SketchCalibration(spark: SparkSession, dir: String): DataFrame =
    sketchCalibration(shingled(spark, dir))

  private[graft] def sketchCalibration(sh: DataFrame): DataFrame = {
    import sh.sparkSession.implicits._
    val postH = sh.select($"doc_id", explode($"shingles").as("s"))
      .withColumn("h", conv(substring(md5($"s"), 1, 8), 16, 10).cast("long") % P31)
    val mins = (0 until NumHashes).map(i =>
      min((lit(hashA(i)) * $"h" + lit(hashB(i))) % P31).as(s"mh$i"))
    val sigs = postH.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
    val buckets = sigs.select(
      $"doc_id",
      explode(array((0 until Bands).map { b =>
        struct(
          lit(b).as("band"),
          bandKey(portable = true)(
            (b * RowsPerBand until (b + 1) * RowsPerBand)
              .map(i => col(s"mh$i"))).as("h"))
      }: _*)).as("bh"))
      .select($"doc_id", $"bh.band".as("band"), $"bh.h".as("h"))
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        $"a.band" === $"b.band" && $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
    val agree = (0 until NumHashes)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sigA = sigs.select($"doc_id".as("doc_a") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"a_mh$i")): _*)
    val sigB = sigs.select($"doc_id".as("doc_b") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"b_mh$i")): _*)
    cand
      .join(sigA, "doc_a").join(sigB, "doc_b")
      .select($"doc_a", $"doc_b", agree.as("est16"))
      .join(sh.select($"doc_id".as("doc_a"), $"shingles".as("sh_a"),
        size($"shingles").cast("long").as("n_a")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"shingles".as("sh_b"),
        size($"shingles").cast("long").as("n_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"est16",
        size(array_intersect($"sh_a", $"sh_b")).cast("long").as("inter"),
        $"n_a", $"n_b")
      .groupBy($"est16")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"inter").as("sum_inter"),
        sum($"n_a" + $"n_b" - $"inter").as("sum_union"))
      .select($"est16", $"n_pairs", $"sum_inter", $"sum_union",
        ($"est16".cast("double") / NumHashes).as("est_jaccard"),
        ($"sum_inter".cast("double") / $"sum_union").as("act_jaccard"))
      .withColumn("gap", $"est_jaccard" - $"act_jaccard")
      .orderBy($"est16")
  }

  /** DuckDB twin: the shared portable-LSH CTE (identical signatures and
    * candidate set to q21/q148), lane-agreement fold, exact intersect,
    * micro-averaged per-bin Jaccard.
    */
  val q174Sql: String = {
    val agreeSql = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$lshBucketsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT doc_a, doc_b, CAST($agreeSql AS BIGINT) AS est16
       |  FROM cand
       |  JOIN sigs sa ON doc_a = sa.doc_id
       |  JOIN sigs sb ON doc_b = sb.doc_id),
       |ws AS (
       |  SELECT e.doc_a, e.doc_b, est16,
       |         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT) AS inter,
       |         CAST(ca.n_sh AS BIGINT) AS n_a, CAST(cb.n_sh AS BIGINT) AS n_b
       |  FROM est e
       |  JOIN sh sa ON e.doc_a = sa.doc_id
       |  JOIN sh sb ON e.doc_b = sb.doc_id
       |  JOIN counts ca ON e.doc_a = ca.doc_id
       |  JOIN counts cb ON e.doc_b = cb.doc_id)
       |SELECT est16,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(inter) AS BIGINT) AS sum_inter,
       |  CAST(sum(n_a + n_b - inter) AS BIGINT) AS sum_union,
       |  CAST(est16 AS DOUBLE) / $NumHashes AS est_jaccard,
       |  CAST(CAST(sum(inter) AS BIGINT) AS DOUBLE)
       |    / CAST(sum(n_a + n_b - inter) AS BIGINT) AS act_jaccard,
       |  CAST(est16 AS DOUBLE) / $NumHashes
       |    - CAST(CAST(sum(inter) AS BIGINT) AS DOUBLE)
       |      / CAST(sum(n_a + n_b - inter) AS BIGINT) AS gap
       |FROM ws
       |GROUP BY est16
       |ORDER BY est16""".stripMargin
  }

  /** FLOOR of the verify-skip bar q178 trusts — the offline-measured
    * value from q174's calibration table, below which the runtime
    * derivation may never move the bar (bar movement is one-directional:
    * runtime evidence can only make the fast path MORE conservative).
    * Measured (q174, DuckDB, r13): sf0.1 bins 13/14/15/16 read
    * act_jaccard 0.981/0.956/0.976/0.984 with worst gap −0.169 (the
    * estimator UNDERSHOOTS — conservative direction); sf0.01 agrees
    * (0.941–0.982). A false fast-accept at bar 13 would need a −0.31
    * gap, ~2× beyond the worst measured bin. Bins below 13 straddle the
    * threshold (est 0.56–0.75, where a ±1-lane wobble crosses 0.5) —
    * those verify exactly, regardless of what the calibration says.
    */
  private[graft] val FastAcceptFloor = 13

  /** Margin rule for the runtime bar (r13 verdict order 3): an agreement
    * bin k ≥ [[FastAcceptFloor]] FAILS calibration when its measured
    * micro-average true Jaccard (Σinter/Σunion over the calibration
    * pairs, a single quotient of exact longs) reads below
    * 0.6 = the 0.5 keep threshold + a 0.1 margin. The bar is then one
    * past the highest failing bin — never below the floor. 0.6 is ONE
    * shared literal (not `0.5 + 0.1`, whose binary sum is
    * 0.6000000000000001): both engines compare the identical double.
    */
  private[graft] val CalBarMin = 0.6

  /** Deterministic 1-in-N candidate sample the in-line calibration pays
    * exact verification for: pairs whose md5(doc_a|doc_b) 32-bit fold is
    * ≡ 0 (mod N). The sample bounds the calibration's exact-intersect
    * leg to |candidates|/N at any corpus size; a production deployment
    * with a STORED q174 table (previous batch / held-out sample) passes
    * it via [[calibratedDedup]]'s calibration override and pays nothing.
    */
  private[graft] val CalSampleMod = 4L

  /** The verify-skip bar from a calibration frame with columns
    * (est16, sum_inter, sum_union) — q174's table shape. Returns a 1-row
    * (bar: long) frame: `max(floor, 1 + max{k ≥ floor : bin k fails})`,
    * with the fail rule of [[CalBarMin]]. Direction safety by
    * construction: bins below the floor are ignored (they always verify
    * exactly), so runtime evidence can RAISE the bar — shrink the fast
    * path — but never lower it past the vetted floor; an empty or
    * all-passing calibration leaves the bar at the floor. Pinned by
    * CalibratedBarSpec on planted miscalibrated frames.
    */
  private[graft] def fastAcceptBar(calBins: DataFrame): DataFrame = {
    import calBins.sparkSession.implicits._
    calBins
      .filter($"est16" >= FastAcceptFloor.toLong &&
        $"sum_inter".cast("double") / $"sum_union" < CalBarMin)
      .agg(coalesce(max($"est16") + 1L, lit(FastAcceptFloor.toLong)).as("bar"))
  }

  /** q178: CALIBRATED verify-skip dedup — the production consumer of
    * q174's calibration table. q21 verifies EVERY LSH candidate with an
    * exact shingle intersection; at 100 TB that verify join is the
    * pipeline's widest leg (it carries full shingle arrays for every
    * candidate pair). This operator splits the candidate set by sketch
    * agreement at a bar DERIVED AT RUNTIME from the calibration table
    * (r13 verdict order 3 — the r13 version hard-coded 13, which
    * silently stales on a new corpus; the calibration table exists
    * precisely to set it):
    *
    *   - est16 ≥ bar → accepted on the 128-byte signatures ALONE
    *     (`path='sketch'`, jaccard NULL — the shingle sets are never
    *     re-read, which is the only option when they no longer fit a
    *     join);
    *   - est16 < bar → the exact q21 verify, Jaccard ≥ 0.5 keeps
    *     (`path='verified'`).
    *
    * The bar comes from [[fastAcceptBar]] — margin rule: a bin ≥ the
    * [[FastAcceptFloor]] fails when its measured micro-avg true Jaccard
    * reads below [[CalBarMin]] (the 0.5 keep threshold + 0.1 margin);
    * bar = one past the highest failing bin, floored at 13, so runtime
    * evidence can only shrink the fast path. The registered query
    * self-calibrates on the deterministic 1-in-[[CalSampleMod]] pair
    * sample (both engines compute the identical md5-fold sample, so the
    * whole derivation hash-checks); production feeds a STORED q174 frame
    * via the `calibration` override and pays no in-line verify at all.
    *
    * The decision this feeds: the q64/q65/q117 keep-drop materializations
    * run on the union of both paths; the q174 table is the dial that
    * sets (and audits — its per-bin gap IS the fast path's error budget)
    * the bar.
    *
    * Scale shape: identical candidate machinery to q21 (banded LSH — one
    * doc-keyed signature shuffle + the bucket join), then the exact
    * intersection join runs ONLY for the ambiguous band plus the bounded
    * calibration sample — the widest join in the dedup pipeline now
    * carries the mid-agreement sliver instead of every candidate (the
    * ~1/4 sample overlap with the sliver double-verifies a few pairs;
    * accepted — sharing the two joins would couple the legs for a
    * fraction of the sample's already-bounded cost). Doubles are
    * quotients of exact longs (jaccardFromSized's no-round policy);
    * est_jaccard is k/16 — both bit-identical cross-engine.
    */
  def q178CalibratedDedup(spark: SparkSession, dir: String): DataFrame =
    calibratedDedup(shingled(spark, dir))

  private[graft] def calibratedDedup(sh: DataFrame,
      calibration: Option[DataFrame] = None): DataFrame = {
    import sh.sparkSession.implicits._
    val postH = sh.select($"doc_id", explode($"shingles").as("s"))
      .withColumn("h", conv(substring(md5($"s"), 1, 8), 16, 10).cast("long") % P31)
    val mins = (0 until NumHashes).map(i =>
      min((lit(hashA(i)) * $"h" + lit(hashB(i))) % P31).as(s"mh$i"))
    val sigs = postH.groupBy($"doc_id").agg(mins.head, mins.tail: _*)
    val buckets = sigs.select(
      $"doc_id",
      explode(array((0 until Bands).map { b =>
        struct(
          lit(b).as("band"),
          bandKey(portable = true)(
            (b * RowsPerBand until (b + 1) * RowsPerBand)
              .map(i => col(s"mh$i"))).as("h"))
      }: _*)).as("bh"))
      .select($"doc_id", $"bh.band".as("band"), $"bh.h".as("h"))
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        $"a.band" === $"b.band" && $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
    val agree = (0 until NumHashes)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sigA = sigs.select($"doc_id".as("doc_a") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"a_mh$i")): _*)
    val sigB = sigs.select($"doc_id".as("doc_b") +:
      (0 until NumHashes).map(i => col(s"mh$i").as(s"b_mh$i")): _*)
    // est feeds BOTH the fast and the verified branch of the union —
    // publish it (pair-sized: 3 longs per candidate) or each branch
    // re-derives the whole signature+bucket+candidate machinery (the
    // q65 union-branch lesson; the unpublished plan re-scans the corpus
    // 10× STATICALLY, and only AQE's runtime ReusedExchange rescues it —
    // measured sf0.1 scoped: wall 1.83→2.04s, process-CPU 7.4→6.7s, so
    // the publish trades a small local materialization barrier for a
    // plan-GUARANTEED single derivation instead of runtime-luck reuse;
    // on a cluster the unlucky case is 2× a full corpus pass)
    val est = cand
      .join(sigA, "doc_a").join(sigB, "doc_b")
      .select($"doc_a", $"doc_b", agree.as("est16"))
      .ckpt()
    // in-line calibration on the deterministic 1-in-CalSampleMod pair
    // sample (md5 fold of "doc_a|doc_b" — the same first-8-hex-digit fold
    // as the shingle base hash, so DuckDB reproduces the sample exactly)
    val calBins = calibration.getOrElse {
      est
        .filter(conv(substring(md5(concat_ws("|", $"doc_a", $"doc_b")), 1, 8),
          16, 10).cast("long") % CalSampleMod === 0)
        .join(sh.select($"doc_id".as("doc_a"), $"shingles".as("sh_a"),
          size($"shingles").cast("long").as("n_a")), "doc_a")
        .join(sh.select($"doc_id".as("doc_b"), $"shingles".as("sh_b"),
          size($"shingles").cast("long").as("n_b")), "doc_b")
        .select($"est16",
          size(array_intersect($"sh_a", $"sh_b")).cast("long").as("inter"),
          $"n_a", $"n_b")
        .groupBy($"est16")
        .agg(sum($"inter").as("sum_inter"),
          sum($"n_a" + $"n_b" - $"inter").as("sum_union"))
    }
    // 1-row bar frame, broadcast into both branch filters — the bar stays
    // a PLAN value end to end (no driver collect between the calibration
    // aggregate and the split). ckpt() because BOTH branches reference
    // it: unpublished, each branch statically embeds its own copy of the
    // calibration subplan (2 more corpus shingle scans) and only AQE's
    // runtime ReusedExchange might rescue it — the same est lesson,
    // caught again in the r14 plan dump (q178 read 6 parquet scans
    // unpublished, 2 published).
    val withBar = est.crossJoin(broadcast(fastAcceptBar(calBins).ckpt()))
    val fast = withBar.filter($"est16" >= $"bar")
      .select($"doc_a", $"doc_b", $"est16",
        lit(null).cast("double").as("jaccard"), lit("sketch").as("path"))
    val verified = withBar.filter($"est16" < $"bar")
      .join(sh.select($"doc_id".as("doc_a"), $"shingles".as("sh_a"),
        size($"shingles").cast("long").as("n_a")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"shingles".as("sh_b"),
        size($"shingles").cast("long").as("n_b")), "doc_b")
      .select($"doc_a", $"doc_b", $"est16",
        size(array_intersect($"sh_a", $"sh_b")).cast("long").as("inter"),
        $"n_a", $"n_b")
      .select($"doc_a", $"doc_b", $"est16",
        ($"inter".cast("double") / ($"n_a" + $"n_b" - $"inter")).as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .withColumn("path", lit("verified"))
    fast.unionByName(verified)
      .select($"doc_a", $"doc_b", $"est16",
        ($"est16".cast("double") / NumHashes).as("est_jaccard"),
        $"jaccard", $"path")
      .orderBy($"doc_a", $"doc_b")
  }

  /** DuckDB twin: the shared portable-LSH CTE, agreement fold, the SAME
    * 1-in-[[CalSampleMod]] md5-fold calibration sample and bar
    * derivation (so the runtime bar itself hash-checks), then the bar
    * split — NULL jaccard on the sketch path, exact intersect only below
    * the bar.
    */
  val q178Sql: String = {
    val agreeSql = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$lshBucketsCte,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
       |est AS MATERIALIZED (
       |  SELECT doc_a, doc_b, CAST($agreeSql AS BIGINT) AS est16
       |  FROM cand
       |  JOIN sigs sa ON doc_a = sa.doc_id
       |  JOIN sigs sb ON doc_b = sb.doc_id),
       |calsel AS (
       |  SELECT doc_a, doc_b, est16,
       |         md5(CAST(doc_a AS VARCHAR) || '|' || CAST(doc_b AS VARCHAR))
       |           AS pm
       |  FROM est),
       |cals AS (
       |  SELECT c.est16,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
       |      AS inter,
       |    CAST(ca.n_sh AS BIGINT) AS n_a, CAST(cb.n_sh AS BIGINT) AS n_b
       |  FROM calsel c
       |  JOIN sh sa ON c.doc_a = sa.doc_id
       |  JOIN sh sb ON c.doc_b = sb.doc_id
       |  JOIN counts ca ON c.doc_a = ca.doc_id
       |  JOIN counts cb ON c.doc_b = cb.doc_id
       |  WHERE (${md5FoldHexSql("pm")}) % $CalSampleMod = 0),
       |calbins AS (
       |  SELECT est16, CAST(sum(inter) AS BIGINT) AS sum_inter,
       |         CAST(sum(n_a + n_b - inter) AS BIGINT) AS sum_union
       |  FROM cals GROUP BY est16),
       |bar AS (
       |  SELECT coalesce(max(est16) + 1, $FastAcceptFloor) AS bar
       |  FROM calbins
       |  WHERE est16 >= $FastAcceptFloor
       |    AND CAST(sum_inter AS DOUBLE) / sum_union
       |          < CAST('$CalBarMin' AS DOUBLE)),
       |fast AS (
       |  SELECT doc_a, doc_b, est16, CAST(NULL AS DOUBLE) AS jaccard,
       |         'sketch' AS path
       |  FROM est CROSS JOIN bar WHERE est16 >= bar),
       |ver AS (
       |  SELECT e.doc_a, e.doc_b, e.est16,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |      / (ca.n_sh + cb.n_sh
       |         - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
       |  FROM est e
       |  CROSS JOIN bar
       |  JOIN sh sa ON e.doc_a = sa.doc_id
       |  JOIN sh sb ON e.doc_b = sb.doc_id
       |  JOIN counts ca ON e.doc_a = ca.doc_id
       |  JOIN counts cb ON e.doc_b = cb.doc_id
       |  WHERE e.est16 < bar),
       |verf AS (
       |  SELECT doc_a, doc_b, est16, jaccard, 'verified' AS path
       |  FROM ver WHERE jaccard >= 0.5),
       |unioned AS (
       |  SELECT * FROM fast UNION ALL SELECT * FROM verf)
       |SELECT doc_a, doc_b, est16,
       |  CAST(est16 AS DOUBLE) / $NumHashes AS est_jaccard, jaccard, path
       |FROM unioned
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q175: per-document n-gram NOVELTY profile — the incremental-ingest
    * complement of q172. q172 answers "how much of this doc is repeated
    * ANYWHERE else" (symmetric, both copies score); a growing corpus
    * needs the asymmetric view: in doc_id ingest order, what fraction of
    * a doc's distinct {SpanN}-token windows appear here FIRST? A doc
    * whose content is entirely covered by earlier documents contributes
    * zero new n-grams and is a skip candidate regardless of whether any
    * single earlier doc clears a pairwise-Jaccard bar — exactly the
    * marginal-utility signal novelty-aware samplers cut on. Attribution
    * is deterministic: a window belongs to min(doc_id) over its
    * occurrences (ties impossible — the window stream is per-doc
    * deduplicated first).
    *
    * Scale shape: windows hash row-locally (the shuffle carries 32-char
    * digests, never text) into two independent aggregate legs — a
    * gram-keyed min(doc_id) feeding a doc-keyed count (the novelty
    * credit) and a (gram, doc) dedup feeding a doc-keyed count (the
    * denominator). All four aggregates are partial-agg combinable, no
    * stage is pairwise, no gram-sized frame is ever joined (see the
    * in-body note for the measured cost of the join form), and novelty
    * is a quotient of exact longs (portable bit-for-bit). Docs shorter
    * than SpanN have no windows: counts 0, novelty NULL (settled
    * identically in both engines before any division).
    */
  def q175NoveltyProfile(spark: SparkSession, dir: String): DataFrame =
    noveltyProfile(Tables(spark, dir).documents)

  private[graft] def noveltyProfile(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs.select($"doc_id", split($"text", " ").as("t"))
    // codegen'd window kernel + builtin md5 (no positions needed here —
    // plain explode; see windowGrams for the posexplode variant)
    val win = toks
      .filter(size($"t") >= SpanN)
      .select($"doc_id", explode(
        graft.plans.TextExpressions.arrayWordNgrams($"t", SpanN)).as("gt"))
      .select($"doc_id", md5($"gt").as("g"))
    // Two independent aggregate LEGS, never a gram⋈gram join (the join
    // form measured 54.3s at sf1 vs 12.3s for this shape — both sides of
    // that join are |distinct grams|-sized, and novelty only needs the
    // per-doc COUNTS): each distinct gram credits exactly its min-doc_id
    // owner, so novel_grams(d) = |{g : min(doc_id) over g = d}| — one
    // gram-keyed min (no pre-dedup needed) into a doc-keyed count. The
    // totals leg is the usual (g, doc) dedup into a doc-keyed count.
    // Both legs collapse to |docs|-row frames before anything joins.
    val novel = win.groupBy($"g").agg(min($"doc_id").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("novel_grams"))
    val totals = win.groupBy($"g", $"doc_id").agg(count(lit(1)).as("occ"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
    toks.select($"doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(novel, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"novel_grams", lit(0L)).as("novel_grams"),
        when(coalesce($"n_grams", lit(0L)) > 0,
          coalesce($"novel_grams", lit(0L)).cast("double") / $"n_grams")
          .as("novelty"))
      .orderBy($"doc_id")
  }

  /** DuckDB twin: same md5 window keys, same min-doc attribution, same
    * NULL policy for window-less docs.
    */
  val q175Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |gr AS (
      |  SELECT DISTINCT doc_id,
      |         md5(array_to_string(t[i:i+${SpanN - 1}], ' ')) AS g
      |  FROM toks, unnest(range(1, len(t) - ${SpanN - 2})) AS u(i)
      |  WHERE len(t) >= $SpanN),
      |fd AS (SELECT g, min(doc_id) AS first_doc FROM gr GROUP BY g),
      |pd AS (
      |  SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |    CAST(sum(CASE WHEN first_doc = gr.doc_id THEN 1 ELSE 0 END)
      |      AS BIGINT) AS novel_grams
      |  FROM gr JOIN fd USING (g) GROUP BY 1)
      |SELECT t.doc_id,
      |  coalesce(n_grams, CAST(0 AS BIGINT)) AS n_grams,
      |  coalesce(novel_grams, CAST(0 AS BIGINT)) AS novel_grams,
      |  CASE WHEN coalesce(n_grams, CAST(0 AS BIGINT)) > 0
      |       THEN CAST(novel_grams AS DOUBLE) / n_grams END AS novelty
      |FROM toks t LEFT JOIN pd USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Kept fragments shorter than this are dropped rather than kept: a
    * 1–2 token shard left between two excised boilerplate runs is not
    * trainable text. 3 is deliberately BELOW SpanN so the policy is
    * visible on the fixture's short docs; production tunes it with
    * SpanN (Lee et al. excise ~50-token spans and keep remainders).
    */
  private[graft] val MinFragTokens = 3L

  /** q180: duplicate-span EXCISION — the production remover that q172's
    * audit exists to justify (r14 verdict order 1). q172 MEASURES what
    * fraction of each doc lies inside cross-doc repeated SpanN-token
    * windows; whole-doc dedup (q19–q65) then keeps or drops entire
    * documents — so a doc that is 60% shared boilerplate either ships
    * 60% duplicated or loses its 40% novel remainder. This operator cuts
    * the middle path (Lee et al., ACL 2022: removing the repeated
    * SUBSTRINGS beats document-level dedup): excise each span whose
    * window set some OTHER doc owns, keep the novel remainder.
    *
    * Ownership is q175's first-owner attribution, per WINDOW: a window
    * is excised from doc d iff min(doc_id) over the docs containing that
    * window is < d — so exactly one copy of every shared span survives
    * corpus-wide (the first), deterministically, and the corpus loses no
    * content. first_doc < d already implies the window is cross-doc
    * (two distinct docs contain it), so no separate n_docs≥2 gate is
    * needed; intra-doc repeats whose windows d itself owns stay (q50
    * measures those).
    *
    * Excised windows fold into disjoint ISLANDS by interval union
    * (q172's gaps-and-islands core: a window merges into the current
    * island iff pos ≤ prev_end+1 — overlapping or exactly adjacent).
    * The remainder between/around islands splits into kept FRAGMENTS;
    * fragments shorter than [[MinFragTokens]] are dropped (a 2-token
    * shard between boilerplate runs is not trainable). Per doc:
    * n_tokens = excised + kept + dropped, an exact-long invariant the
    * spec pins. kept_ratio is one double quotient of exact longs —
    * bit-identical cross-engine.
    *
    * Scale shape: same as q172 — windows hash row-locally (the shuffle
    * carries 32-char digests and interval endpoints, never text
    * bodies), one gram-keyed min for ownership, a semi-ish join back,
    * then two per-doc analytic windows (running max for islands, lag
    * for fragment gaps) whose partitions are bounded by doc length, and
    * two partial-agg-combinable aggregates. No all-pairs stage, no
    * driver-side state.
    */
  def q180SpanExcise(spark: SparkSession, dir: String): DataFrame =
    spanExcise(Tables(spark, dir).documents)

  /** (doc_id, pos, g): every n-token window of every doc as a row-local
    * md5 digest keyed by its 1-based start position — the shared window
    * derivation of the span family (q172/q175/q180/q181 at [[SpanN]],
    * q182 at [[DecontamN]]). Text bodies never leave the scan; every
    * downstream shuffle carries 32-char digests and positions.
    */
  private[graft] def windowGrams(toks: DataFrame, n: Int,
      carry: Seq[String] = Nil): DataFrame = {
    import toks.sparkSession.implicits._
    val keep = $"doc_id" +: carry.map(col)
    // window text via the codegen'd byte-scan kernel (one exact-size
    // copy per window; the interpreted transform+slice+concat_ws HOF it
    // replaces is pinned equivalent by DedupSimilaritySpec), digested by
    // the codegen'd md5 builtin AFTER the explode
    toks
      .filter(size($"t") >= n)
      .select(keep :+ posexplode(
        graft.plans.TextExpressions.arrayWordNgrams($"t", n))
        .as(Seq("i", "gt")): _*)
      .select(keep ++ Seq(($"i" + 1L).cast("long").as("pos"),
        md5($"gt").as("g")): _*)
  }

  /** Interval union of excised n-token window STARTS into disjoint
    * maximal islands [s, e] (a window merges into the current island iff
    * pos ≤ prev_end + 1 — overlapping or exactly adjacent), one row per
    * island. The two analytic windows partition by doc, so partition
    * size is bounded by doc length — no global state.
    */
  private[graft] def islandsOf(exc: DataFrame, n: Int): DataFrame = {
    import exc.sparkSession.implicits._
    islandsOfSpans(exc.select($"doc_id", $"pos",
      ($"pos" + lit(n - 1L)).as("e0")))
  }

  /** The same interval union over HETEROGENEOUS spans (doc_id, pos, e0)
    * — q185 merges 5-token dup windows and 3-token benchmark windows in
    * one pass, so island extents come from max(e0), not pos + n - 1.
    * Tie order (same pos, different e0) cannot change the union — equal
    * starts always merge — but the frame orders (pos, e0 desc) anyway
    * so the running max is frame-deterministic in both engines.
    */
  private[graft] def islandsOfSpans(exc: DataFrame): DataFrame = {
    import exc.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy($"doc_id").orderBy($"pos", $"e0".desc)
    exc
      .withColumn("prev_end", coalesce(
        max($"e0")
          .over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("brk", when($"pos" > $"prev_end" + 1L, 1L).otherwise(0L))
      .withColumn("isl", sum($"brk")
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("s"), max($"e0").as("e"))
  }

  /** Shared core of q180/q181: the per-doc excision ISLANDS — disjoint
    * maximal token intervals [s, e] covered by windows some earlier doc
    * owns (first-owner rule, interval union with adjacent-merge; see
    * [[q180SpanExcise]]'s scaladoc for the full semantics). Input is the
    * (doc_id, t) tokenized frame; output one row per island.
    */
  private[graft] def excisionIslands(toks: DataFrame): DataFrame = {
    import toks.sparkSession.implicits._
    val win = windowGrams(toks, SpanN)
    val own = win.groupBy($"g").agg(min($"doc_id").as("first_doc"))
    val exc = win.join(own, Seq("g"))
      .filter($"first_doc" < $"doc_id")
      .select($"doc_id", $"pos")
    islandsOf(exc, SpanN)
  }

  private[graft] def spanExcise(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs.select($"doc_id", split($"text", " ").as("t"))
    excisionLedger(toks, excisionIslands(toks))
  }

  /** Per-doc excision accounting over an island frame: excised tokens
    * (island mass), kept tokens (inter-island fragments ≥
    * [[MinFragTokens]]), dropped tokens (sub-floor shards), fragment
    * count, kept ratio. n_tokens = excised + kept + dropped is an
    * exact-long invariant; untouched docs ledger as one whole-doc
    * fragment via the left join's NULL→0. Shared by q180 (first-owner
    * dup spans) and q182 (benchmark-overlap spans).
    */
  private[graft] def excisionLedger(toks: DataFrame, islands: DataFrame): DataFrame = {
    import toks.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val byStart = Window.partitionBy($"doc_id").orderBy($"s")
    val perDoc = islands
      .withColumn("headfrag",
        $"s" - coalesce(lag($"e", 1).over(byStart), lit(0L)) - lit(1L))
      .groupBy($"doc_id")
      .agg(
        sum($"e" - $"s" + lit(1L)).as("excised_raw"),
        sum(when($"headfrag" >= MinFragTokens, $"headfrag").otherwise(lit(0L)))
          .as("kept_mid"),
        sum(when($"headfrag" >= MinFragTokens, lit(1L)).otherwise(lit(0L)))
          .as("frag_mid"),
        max($"e").as("last_e"))
    toks
      .select($"doc_id", size($"t").cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("excised_tokens", coalesce($"excised_raw", lit(0L)))
      .withColumn("tail", $"n_tokens" - coalesce($"last_e", lit(0L)))
      .withColumn("kept_tokens", coalesce($"kept_mid", lit(0L)) +
        when($"tail" >= MinFragTokens, $"tail").otherwise(lit(0L)))
      .withColumn("n_fragments", coalesce($"frag_mid", lit(0L)) +
        when($"tail" >= MinFragTokens, lit(1L)).otherwise(lit(0L)))
      .select($"doc_id", $"n_tokens", $"excised_tokens", $"kept_tokens",
        ($"n_tokens" - $"excised_tokens" - $"kept_tokens").as("dropped_tokens"),
        $"n_fragments",
        ($"kept_tokens".cast("double") / $"n_tokens").as("kept_ratio"))
      .orderBy($"doc_id")
  }

  /** DuckDB twin: same md5 window keys (full-digest grouping in both
    * engines), same first-owner rule, same island merge (pos ≤
    * prev_end+1), same min-fragment policy — every count an exact long,
    * one double quotient at the end.
    */
  val q180Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |win AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         md5(array_to_string(t[i:i+${SpanN - 1}], ' ')) AS g
      |  FROM toks, unnest(range(1, len(t) - ${SpanN - 2})) AS u(i)
      |  WHERE len(t) >= $SpanN),
      |own AS (SELECT g, min(doc_id) AS first_doc FROM win GROUP BY g),
      |exc AS (SELECT win.doc_id, pos FROM win JOIN own USING (g)
      |        WHERE first_doc < win.doc_id),
      |m AS (
      |  SELECT doc_id, pos,
      |    coalesce(max(pos + ${SpanN - 1}) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
      |  FROM exc),
      |i2 AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN pos > prev_end + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM m),
      |isl AS (
      |  SELECT doc_id, isl, min(pos) AS s, max(pos) + ${SpanN - 1} AS e
      |  FROM i2 GROUP BY 1, 2),
      |fr AS (
      |  SELECT doc_id, s, e,
      |    s - coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) - 1
      |      AS headfrag
      |  FROM isl),
      |pd AS (
      |  SELECT doc_id,
      |    CAST(sum(e - s + 1) AS BIGINT) AS excised_raw,
      |    CAST(sum(CASE WHEN headfrag >= $MinFragTokens THEN headfrag ELSE 0 END)
      |      AS BIGINT) AS kept_mid,
      |    CAST(sum(CASE WHEN headfrag >= $MinFragTokens THEN 1 ELSE 0 END)
      |      AS BIGINT) AS frag_mid,
      |    CAST(max(e) AS BIGINT) AS last_e
      |  FROM fr GROUP BY 1),
      |fin AS (
      |  SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
      |    coalesce(excised_raw, CAST(0 AS BIGINT)) AS excised_tokens,
      |    coalesce(kept_mid, CAST(0 AS BIGINT)) AS kept_mid,
      |    coalesce(frag_mid, CAST(0 AS BIGINT)) AS frag_mid,
      |    CAST(len(t.t) AS BIGINT) - coalesce(last_e, CAST(0 AS BIGINT)) AS tail
      |  FROM toks t LEFT JOIN pd USING (doc_id))
      |SELECT doc_id, n_tokens, excised_tokens,
      |  kept_mid + CASE WHEN tail >= $MinFragTokens THEN tail
      |                  ELSE CAST(0 AS BIGINT) END AS kept_tokens,
      |  n_tokens - excised_tokens - kept_mid
      |    - CASE WHEN tail >= $MinFragTokens THEN tail
      |           ELSE CAST(0 AS BIGINT) END AS dropped_tokens,
      |  frag_mid + CASE WHEN tail >= $MinFragTokens THEN CAST(1 AS BIGINT)
      |                  ELSE CAST(0 AS BIGINT) END AS n_fragments,
      |  CAST(kept_mid + CASE WHEN tail >= $MinFragTokens THEN tail
      |                       ELSE CAST(0 AS BIGINT) END AS DOUBLE) / n_tokens
      |    AS kept_ratio
      |FROM fin
      |ORDER BY doc_id""".stripMargin

  /** q181: the EXCISED CORPUS itself — q180's ledger prices the cut;
    * this emits the post-cut training rows: every kept fragment as
    * (doc_id, frag_id, start_pos, frag_tokens, frag_text), ready for
    * chunking (q63) / packing (q66) / tokenization downstream. Same
    * semantics as q180 (first-owner keeps, [[MinFragTokens]] floor), so
    * per doc Σ frag_tokens = q180.kept_tokens — the spec pins that
    * cross-operator invariant. A fully-excised doc emits no rows; an
    * untouched doc emits itself as fragment 1.
    *
    * Text reconstruction is a slice of the whitespace token array
    * re-joined with single spaces — exact under the fixture corpus's
    * single-space contract (q179's rule), a documented normalization
    * (not a loss) for multi-space text.
    *
    * Scale shape: the island machinery is q180's (digests and interval
    * endpoints on every shuffle); text bodies move exactly ONCE, in the
    * final doc_id-keyed join that slices fragments out of the token
    * array — proportional to OUTPUT size, the floor for any operator
    * that materializes a corpus. The fragment-interval side of that
    * join is ≤ islands+1 rows per doc.
    */
  def q181ExciseFragments(spark: SparkSession, dir: String): DataFrame =
    exciseFragments(Tables(spark, dir).documents)

  /** Fragment INTERVALS of the excised corpus (doc_id, start_pos,
    * frag_tokens — q180/q181 semantics: first-owner dup spans,
    * [[MinFragTokens]] floor). q181 slices text onto these; q187 packs
    * them into training windows without ever moving text.
    */
  private[graft] def exciseFragIntervals(toks: DataFrame): DataFrame = {
    import toks.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val islands = excisionIslands(toks)
    val byStart = Window.partitionBy($"doc_id").orderBy($"s")
    // gap BEFORE each island (lag default 0 covers the head), plus the
    // per-doc tail after the last island — which, via the left join's
    // NULL→0, is the whole doc when no island exists
    val mid = islands
      .select($"doc_id",
        (coalesce(lag($"e", 1).over(byStart), lit(0L)) + 1L).as("start_pos"),
        ($"s" - coalesce(lag($"e", 1).over(byStart), lit(0L)) - 1L)
          .as("frag_tokens"))
    val tail = toks
      .select($"doc_id", size($"t").cast("long").as("n_tokens"))
      .join(islands.groupBy($"doc_id").agg(max($"e").as("last_e")),
        Seq("doc_id"), "left")
      .select($"doc_id",
        (coalesce($"last_e", lit(0L)) + 1L).as("start_pos"),
        ($"n_tokens" - coalesce($"last_e", lit(0L))).as("frag_tokens"))
    mid.unionAll(tail).filter($"frag_tokens" >= MinFragTokens)
  }

  private[graft] def exciseFragments(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select($"doc_id", split($"text", " ").as("t"))
    exciseFragIntervals(toks)
      .join(toks, Seq("doc_id"))
      .select($"doc_id",
        row_number().over(Window.partitionBy($"doc_id").orderBy($"start_pos"))
          .cast("long").as("frag_id"),
        $"start_pos", $"frag_tokens",
        concat_ws(" ", slice($"t", $"start_pos".cast("int"),
          $"frag_tokens".cast("int"))).as("frag_text"))
      .orderBy($"doc_id", $"frag_id")
  }

  /** DuckDB twin: q180's island pipeline verbatim, then the same
    * gap/tail fragment derivation and token-array slice.
    */
  val q181Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |win AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         md5(array_to_string(t[i:i+${SpanN - 1}], ' ')) AS g
      |  FROM toks, unnest(range(1, len(t) - ${SpanN - 2})) AS u(i)
      |  WHERE len(t) >= $SpanN),
      |own AS (SELECT g, min(doc_id) AS first_doc FROM win GROUP BY g),
      |exc AS (SELECT win.doc_id, pos FROM win JOIN own USING (g)
      |        WHERE first_doc < win.doc_id),
      |m AS (
      |  SELECT doc_id, pos,
      |    coalesce(max(pos + ${SpanN - 1}) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
      |  FROM exc),
      |i2 AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN pos > prev_end + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM m),
      |isl AS (
      |  SELECT doc_id, isl, min(pos) AS s, max(pos) + ${SpanN - 1} AS e
      |  FROM i2 GROUP BY 1, 2),
      |mid AS (
      |  SELECT doc_id,
      |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
      |      AS start_pos,
      |    s - coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) - 1
      |      AS frag_tokens
      |  FROM isl),
      |tl AS (
      |  SELECT t.doc_id, coalesce(last_e, 0) + 1 AS start_pos,
      |         CAST(len(t.t) AS BIGINT) - coalesce(last_e, 0) AS frag_tokens
      |  FROM toks t LEFT JOIN
      |    (SELECT doc_id, max(e) AS last_e FROM isl GROUP BY 1) li
      |    USING (doc_id)),
      |fr AS (
      |  SELECT * FROM mid WHERE frag_tokens >= $MinFragTokens
      |  UNION ALL
      |  SELECT * FROM tl WHERE frag_tokens >= $MinFragTokens)
      |SELECT f.doc_id,
      |  CAST(row_number() OVER (PARTITION BY f.doc_id ORDER BY f.start_pos)
      |    AS BIGINT) AS frag_id,
      |  CAST(f.start_pos AS BIGINT) AS start_pos,
      |  CAST(f.frag_tokens AS BIGINT) AS frag_tokens,
      |  array_to_string(t.t[f.start_pos:f.start_pos + f.frag_tokens - 1], ' ')
      |    AS frag_text
      |FROM fr f JOIN toks t USING (doc_id)
      |ORDER BY doc_id, frag_id""".stripMargin

  /** Benchmark panel for decontamination: fixture docs below this id are
    * the "eval suite" side. q49 draws the line at 5; widened to 10 here
    * so the sf0.01 gate sees a non-trivial excision surface (582
    * contaminated trigram windows across 290 corpus docs, measured, vs
    * 197 windows at a 5-doc panel).
    */
  private[graft] val BenchPanel = 10L

  /** Decontamination window width: word TRIGRAMS — q49's shingle width,
    * the aggressive end of the public n-gram-overlap decontam range
    * (verbatim-leakage rules run 8–13 grams; the aggressive end costs
    * recall of clean text, never leaks eval text). Deliberately narrower
    * than the dup-span family's [[SpanN]]: eval hygiene and boilerplate
    * removal sit at different precision/recall operating points.
    */
  private[graft] val DecontamN = 3

  /** q182: benchmark DECONTAMINATION as span excision — the remover
    * behind q49's audit, exactly the way q180 is the remover behind
    * q172's. q49 flags whole docs sharing ≥3 trigrams with the
    * benchmark set; dropping flagged docs whole loses their clean
    * remainder, keeping them ships eval text. This cuts the middle
    * path: excise every [[DecontamN]]-token window the benchmark panel
    * (doc_id < [[BenchPanel]]) contains from every corpus doc
    * (doc_id ≥ [[BenchPanel]]) and account the remainder under q180's
    * fragment rules (interval union with adjacent merge,
    * [[MinFragTokens]] floor). Unlike q180 there is NO first-owner
    * exemption: benchmark text must survive nowhere in the training
    * corpus, so every matching window is cut from every doc. Benchmark
    * docs themselves are not training data and emit no rows.
    *
    * Scale shape: eval suites are KBs–MBs against a 100 TB corpus, so
    * the benchmark window set BROADCASTS (q49's join shape) and corpus
    * windows are filtered map-side — no corpus-sized ownership shuffle
    * at all (structurally cheaper than q180, whose first-owner rule
    * must shuffle every window digest). The island/fragment analytics
    * partition by doc; shuffles carry digests and interval endpoints,
    * never text bodies.
    */
  def q182DecontamExcise(spark: SparkSession, dir: String): DataFrame =
    decontamExcise(Tables(spark, dir).documents)

  private[graft] def decontamExcise(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val ctoks = docs.filter($"doc_id" >= BenchPanel)
      .select($"doc_id", split($"text", " ").as("t"))
    val btoks = docs.filter($"doc_id" < BenchPanel)
      .select($"doc_id", split($"text", " ").as("t"))
    val bwin = windowGrams(btoks, DecontamN).select($"g").distinct()
    val exc = windowGrams(ctoks, DecontamN)
      .join(broadcast(bwin), Seq("g"))
      .select($"doc_id", $"pos")
    excisionLedger(ctoks, islandsOf(exc, DecontamN))
  }

  /** DuckDB twin: q180's island/fragment pipeline with the benchmark
    * window set as the excision source (no first-owner CTE) over the
    * corpus side only.
    */
  val q182Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE doc_id >= $BenchPanel),
      |btoks AS (
      |  SELECT string_split(text, ' ') AS t FROM documents
      |  WHERE doc_id < $BenchPanel),
      |bwin AS (
      |  SELECT DISTINCT md5(array_to_string(t[i:i+${DecontamN - 1}], ' ')) AS g
      |  FROM btoks, unnest(range(1, len(t) - ${DecontamN - 2})) AS u(i)
      |  WHERE len(t) >= $DecontamN),
      |win AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         md5(array_to_string(t[i:i+${DecontamN - 1}], ' ')) AS g
      |  FROM toks, unnest(range(1, len(t) - ${DecontamN - 2})) AS u(i)
      |  WHERE len(t) >= $DecontamN),
      |exc AS (SELECT win.doc_id, pos FROM win JOIN bwin USING (g)),
      |m AS (
      |  SELECT doc_id, pos,
      |    coalesce(max(pos + ${DecontamN - 1}) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
      |  FROM exc),
      |i2 AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN pos > prev_end + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM m),
      |isl AS (
      |  SELECT doc_id, isl, min(pos) AS s, max(pos) + ${DecontamN - 1} AS e
      |  FROM i2 GROUP BY 1, 2),
      |fr AS (
      |  SELECT doc_id, s, e,
      |    s - coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) - 1
      |      AS headfrag
      |  FROM isl),
      |pd AS (
      |  SELECT doc_id,
      |    CAST(sum(e - s + 1) AS BIGINT) AS excised_raw,
      |    CAST(sum(CASE WHEN headfrag >= $MinFragTokens THEN headfrag ELSE 0 END)
      |      AS BIGINT) AS kept_mid,
      |    CAST(sum(CASE WHEN headfrag >= $MinFragTokens THEN 1 ELSE 0 END)
      |      AS BIGINT) AS frag_mid,
      |    CAST(max(e) AS BIGINT) AS last_e
      |  FROM fr GROUP BY 1),
      |fin AS (
      |  SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
      |    coalesce(excised_raw, CAST(0 AS BIGINT)) AS excised_tokens,
      |    coalesce(kept_mid, CAST(0 AS BIGINT)) AS kept_mid,
      |    coalesce(frag_mid, CAST(0 AS BIGINT)) AS frag_mid,
      |    CAST(len(t.t) AS BIGINT) - coalesce(last_e, CAST(0 AS BIGINT)) AS tail
      |  FROM toks t LEFT JOIN pd USING (doc_id))
      |SELECT doc_id, n_tokens, excised_tokens,
      |  kept_mid + CASE WHEN tail >= $MinFragTokens THEN tail
      |                  ELSE CAST(0 AS BIGINT) END AS kept_tokens,
      |  n_tokens - excised_tokens - kept_mid
      |    - CASE WHEN tail >= $MinFragTokens THEN tail
      |           ELSE CAST(0 AS BIGINT) END AS dropped_tokens,
      |  frag_mid + CASE WHEN tail >= $MinFragTokens THEN CAST(1 AS BIGINT)
      |                  ELSE CAST(0 AS BIGINT) END AS n_fragments,
      |  CAST(kept_mid + CASE WHEN tail >= $MinFragTokens THEN tail
      |                       ELSE CAST(0 AS BIGINT) END AS DOUBLE) / n_tokens
      |    AS kept_ratio
      |FROM fin
      |ORDER BY doc_id""".stripMargin

  /** q185: UNIFIED excision — the one rewrite pass a production corpus
    * actually runs: benchmark decontamination (q182's trigram spans, no
    * exemption) and cross-doc dup-span removal (q180's first-owner
    * 5-token spans) cut TOGETHER, the two span sources interval-unioned
    * before fragment accounting. Running the removers serially instead
    * double-pays the corpus scan AND miscounts the result: a fragment
    * q180 keeps can straddle a benchmark span (and vice versa), and a
    * remainder that clears [[MinFragTokens]] against one span source
    * alone may not clear it against both — only the union ledger prices
    * the final corpus (the spec plants exactly that straddle). Benchmark
    * docs are not training data: they emit no rows and do not claim
    * dup-span ownership (a span shared only with the panel is decontam's
    * business — cut from every copy, no first-owner survivor).
    *
    * Scale shape: q180's single gram-keyed ownership shuffle plus
    * q182's broadcast benchmark filter — both window derivations are
    * row-local over the same tokenized scan, the union carries only
    * (doc_id, pos, e0) triples, and islands/fragments partition by doc.
    * One corpus rewrite pass regardless of how many span sources feed
    * it — the production reason this operator exists.
    */
  def q185UnifiedExcise(spark: SparkSession, dir: String): DataFrame =
    unifiedExcise(Tables(spark, dir).documents)

  private[graft] def unifiedExcise(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val ctoks = docs.filter($"doc_id" >= BenchPanel)
      .select($"doc_id", split($"text", " ").as("t"))
    val btoks = docs.filter($"doc_id" < BenchPanel)
      .select($"doc_id", split($"text", " ").as("t"))
    val bwin = windowGrams(btoks, DecontamN).select($"g").distinct()
    val excB = windowGrams(ctoks, DecontamN)
      .join(broadcast(bwin), Seq("g"))
      .select($"doc_id", $"pos", ($"pos" + lit(DecontamN - 1L)).as("e0"))
    val winD = windowGrams(ctoks, SpanN)
    val own = winD.groupBy($"g").agg(min($"doc_id").as("first_doc"))
    val excD = winD.join(own, Seq("g"))
      .filter($"first_doc" < $"doc_id")
      .select($"doc_id", $"pos", ($"pos" + lit(SpanN - 1L)).as("e0"))
    excisionLedger(ctoks, islandsOfSpans(excB.unionAll(excD)))
  }

  /** DuckDB twin: both window CTEs over the corpus side, spans unioned
    * with their own extents, then the max(e0) island pipeline and
    * q180's fragment accounting.
    */
  val q185Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE doc_id >= $BenchPanel),
      |btoks AS (
      |  SELECT string_split(text, ' ') AS t FROM documents
      |  WHERE doc_id < $BenchPanel),
      |bwin AS (
      |  SELECT DISTINCT md5(array_to_string(t[i:i+${DecontamN - 1}], ' ')) AS g
      |  FROM btoks, unnest(range(1, len(t) - ${DecontamN - 2})) AS u(i)
      |  WHERE len(t) >= $DecontamN),
      |winb AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         md5(array_to_string(t[i:i+${DecontamN - 1}], ' ')) AS g
      |  FROM toks, unnest(range(1, len(t) - ${DecontamN - 2})) AS u(i)
      |  WHERE len(t) >= $DecontamN),
      |wind AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         md5(array_to_string(t[i:i+${SpanN - 1}], ' ')) AS g
      |  FROM toks, unnest(range(1, len(t) - ${SpanN - 2})) AS u(i)
      |  WHERE len(t) >= $SpanN),
      |own AS (SELECT g, min(doc_id) AS first_doc FROM wind GROUP BY g),
      |exc AS (
      |  SELECT winb.doc_id, pos, pos + ${DecontamN - 1} AS e0
      |  FROM winb JOIN bwin USING (g)
      |  UNION ALL
      |  SELECT wind.doc_id, pos, pos + ${SpanN - 1} AS e0
      |  FROM wind JOIN own USING (g) WHERE first_doc < wind.doc_id),
      |m AS (
      |  SELECT doc_id, pos, e0,
      |    coalesce(max(e0) OVER (PARTITION BY doc_id ORDER BY pos, e0 DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
      |  FROM exc),
      |i2 AS (
      |  SELECT doc_id, pos, e0,
      |    sum(CASE WHEN pos > prev_end + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos, e0 DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM m),
      |isl AS (
      |  SELECT doc_id, isl, min(pos) AS s, max(e0) AS e
      |  FROM i2 GROUP BY 1, 2),
      |fr AS (
      |  SELECT doc_id, s, e,
      |    s - coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) - 1
      |      AS headfrag
      |  FROM isl),
      |pd AS (
      |  SELECT doc_id,
      |    CAST(sum(e - s + 1) AS BIGINT) AS excised_raw,
      |    CAST(sum(CASE WHEN headfrag >= $MinFragTokens THEN headfrag ELSE 0 END)
      |      AS BIGINT) AS kept_mid,
      |    CAST(sum(CASE WHEN headfrag >= $MinFragTokens THEN 1 ELSE 0 END)
      |      AS BIGINT) AS frag_mid,
      |    CAST(max(e) AS BIGINT) AS last_e
      |  FROM fr GROUP BY 1),
      |fin AS (
      |  SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
      |    coalesce(excised_raw, CAST(0 AS BIGINT)) AS excised_tokens,
      |    coalesce(kept_mid, CAST(0 AS BIGINT)) AS kept_mid,
      |    coalesce(frag_mid, CAST(0 AS BIGINT)) AS frag_mid,
      |    CAST(len(t.t) AS BIGINT) - coalesce(last_e, CAST(0 AS BIGINT)) AS tail
      |  FROM toks t LEFT JOIN pd USING (doc_id))
      |SELECT doc_id, n_tokens, excised_tokens,
      |  kept_mid + CASE WHEN tail >= $MinFragTokens THEN tail
      |                  ELSE CAST(0 AS BIGINT) END AS kept_tokens,
      |  n_tokens - excised_tokens - kept_mid
      |    - CASE WHEN tail >= $MinFragTokens THEN tail
      |           ELSE CAST(0 AS BIGINT) END AS dropped_tokens,
      |  frag_mid + CASE WHEN tail >= $MinFragTokens THEN CAST(1 AS BIGINT)
      |                  ELSE CAST(0 AS BIGINT) END AS n_fragments,
      |  CAST(kept_mid + CASE WHEN tail >= $MinFragTokens THEN tail
      |                       ELSE CAST(0 AS BIGINT) END AS DOUBLE) / n_tokens
      |    AS kept_ratio
      |FROM fin
      |ORDER BY doc_id""".stripMargin

  /** The benchmark panel's OLD half for the incremental scenario: q49's
    * original 5-doc line. q188 treats docs 5..[[BenchPanel]]-1 as the
    * newly-landed benchmark suite.
    */
  private[graft] val OldBenchPanel = 5L

  /** q188: INCREMENTAL decontamination — what happens when a NEW
    * benchmark suite lands (panel grows [[OldBenchPanel]] →
    * [[BenchPanel]]): re-excise only what can have changed, not the
    * corpus. The pruning claim is structural: new_grams ⊆ old_grams ∪
    * delta_grams, so a doc containing no DELTA gram keeps its exact old
    * islands — only delta-touched docs are recomputed (delta gram set
    * broadcasts; candidate set is contamination-sized, not
    * corpus-sized). Output: the changed docs' old/new ledgers
    * (excised/kept before and after, delta).
    *
    * The DuckDB twin deliberately takes the OTHER route — full
    * old-vs-new ledger recompute over the whole corpus, diffed — so the
    * oracle gate PROVES the pruned path misses nothing (same rows or
    * hash-fail). A delta window landing inside an already-excised
    * island changes neither ledger; such docs are computed and
    * correctly emit no row on both paths.
    */
  def q188IncrementalDecontam(spark: SparkSession, dir: String): DataFrame =
    incrementalDecontam(Tables(spark, dir).documents)

  private[graft] def incrementalDecontam(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val ctoks = docs.filter($"doc_id" >= BenchPanel)
      .select($"doc_id", split($"text", " ").as("t"))
    def panelGrams(lo: Long, hi: Long): DataFrame =
      windowGrams(docs.filter($"doc_id" >= lo && $"doc_id" < hi)
        .select($"doc_id", split($"text", " ").as("t")), DecontamN)
        .select($"g").distinct()
    // gOld feeds THREE consumers (the delta anti-join, the old-panel
    // ledger, and the unioned new-panel ledger) — publish once instead of
    // re-deriving the old panel's gram set per consumer (ADVICE r15)
    val gOld = panelGrams(0L, OldBenchPanel).ckpt()
    val gDelta = panelGrams(OldBenchPanel, BenchPanel)
      .join(gOld, Seq("g"), "left_anti")
    decontamStep(ctoks, gOld, gDelta)
  }

  /** One incremental-decontamination MAINTENANCE STEP, shared by batch
    * q188 and the streaming twin
    * ([[graft.streaming.EventsStreaming.runIncrementalDecontam]]): given
    * the corpus's tokenized frame, the KNOWN benchmark gram set
    * (everything already decontaminated against) and a freshly-landed
    * DELTA gram set (already anti-joined against known), emit the
    * changed docs' old/new excision ledgers. Both gram sets broadcast;
    * the corpus contributes one window-derivation pass over the
    * delta-TOUCHED docs only.
    */
  private[graft] def decontamStep(ctoks: DataFrame, gKnown: DataFrame,
      gDelta: DataFrame): DataFrame = {
    import ctoks.sparkSession.implicits._
    val cwin = windowGrams(ctoks, DecontamN)
    val touched = cwin.join(broadcast(gDelta), Seq("g"))
      .select($"doc_id").distinct()
    // cand is contamination-sized (delta-touched docs only) and feeds the
    // window derivation plus both ledgers' fragment accounting — publish
    // so the corpus parquet scan + semi-join runs once, not three times
    val cand = ctoks.join(broadcast(touched), Seq("doc_id"), "left_semi")
      .ckpt()
    // the candidate WINDOW set is the shared subplan of BOTH panel
    // ledgers — the exact unpublished-shared-subplan pattern q183's
    // scaladoc records as the r14 lesson (ADVICE r15). Publish once;
    // each ledgerVs call then only pays its own panel-join + island
    // chain over the materialized windows.
    val cwinCand = windowGrams(cand, DecontamN).ckpt()
    def ledgerVs(bwin: DataFrame): DataFrame = {
      val exc = cwinCand.join(broadcast(bwin), Seq("g"))
        .select($"doc_id", $"pos")
      excisionLedger(cand, islandsOf(exc, DecontamN))
    }
    val old = ledgerVs(gKnown).select($"doc_id",
      $"excised_tokens".as("excised_old"), $"kept_tokens".as("kept_old"))
    val nw = ledgerVs(gKnown.unionAll(gDelta)).select($"doc_id",
      $"excised_tokens".as("excised_new"), $"kept_tokens".as("kept_new"))
    old.join(nw, Seq("doc_id"))
      .filter($"excised_old" =!= $"excised_new" || $"kept_old" =!= $"kept_new")
      .select($"doc_id", $"excised_old", $"excised_new",
        ($"excised_new" - $"excised_old").as("delta_excised"),
        $"kept_old", $"kept_new")
      .orderBy($"doc_id")
  }

  /** q189: the delta-touched candidate MONITOR — batch twin of the
    * streaming surface
    * [[graft.streaming.EventsStreaming.decontamTouched]] (r16): per
    * corpus doc, how many times the newly-landed panel's NOVEL grams
    * (delta panel windows minus the already-known old-panel gram set)
    * hit it. This is the q188 candidate-discovery stage surfaced as its
    * own observable: operations teams watch the hit counts to size an
    * incremental re-excision before running it (a benchmark landing
    * that touches 0.001% of the corpus is a no-op run; one that
    * touches 20% means the "incremental" path should be abandoned for
    * a full q182 pass).
    *
    * OCCURRENCE semantics, matching the stream exactly: the novel side
    * keeps one row per delta-window occurrence (the stream cannot
    * dedup across its history), so n_hits = |delta occurrences ×
    * corpus occurrences| per doc. Both panel gram sets are
    * panel-sized → broadcast; the corpus contributes one window
    * derivation and the shuffle carries only the matched (doc_id)
    * rows of the hit join — contamination-sized, never corpus-sized.
    */
  def q189DecontamTouched(spark: SparkSession, dir: String): DataFrame =
    decontamTouchedBatch(Tables(spark, dir).documents)

  private[graft] def decontamTouchedBatch(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    def toks(lo: Long, hi: Long): DataFrame =
      docs.filter($"doc_id" >= lo && $"doc_id" < hi)
        .select($"doc_id", split($"text", " ").as("t"))
    val gOld = windowGrams(toks(0L, OldBenchPanel), DecontamN)
      .select($"g").distinct()
    val novel = windowGrams(toks(OldBenchPanel, BenchPanel), DecontamN)
      .select($"g")
      .join(broadcast(gOld), Seq("g"), "left_anti")
    val ctoks = docs.filter($"doc_id" >= BenchPanel)
      .select($"doc_id", split($"text", " ").as("t"))
    windowGrams(ctoks, DecontamN)
      .join(broadcast(novel), Seq("g"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy($"doc_id")
  }

  /** DuckDB twin: same panels, same occurrence semantics (the delta
    * side is NOT dedup'd; the old-panel known set is).
    */
  val q189Sql: String =
    s"""WITH ow AS (
      |  SELECT DISTINCT md5(array_to_string(t[i:i+${DecontamN - 1}], ' ')) AS g
      |  FROM (SELECT string_split(text, ' ') AS t FROM documents
      |        WHERE doc_id < $OldBenchPanel) b,
      |       unnest(range(1, len(t) - ${DecontamN - 2})) AS u(i)
      |  WHERE len(t) >= $DecontamN),
      |dw AS (
      |  SELECT md5(array_to_string(t[i:i+${DecontamN - 1}], ' ')) AS g
      |  FROM (SELECT string_split(text, ' ') AS t FROM documents
      |        WHERE doc_id >= $OldBenchPanel AND doc_id < $BenchPanel) b,
      |       unnest(range(1, len(t) - ${DecontamN - 2})) AS u(i)
      |  WHERE len(t) >= $DecontamN),
      |nv AS (SELECT dw.g FROM dw ANTI JOIN ow USING (g)),
      |cw AS (
      |  SELECT doc_id, md5(array_to_string(t[i:i+${DecontamN - 1}], ' ')) AS g
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |        WHERE doc_id >= $BenchPanel) b,
      |       unnest(range(1, len(t) - ${DecontamN - 2})) AS u(i)
      |  WHERE len(t) >= $DecontamN)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
      |FROM cw JOIN nv USING (g)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q192: per-source dedup impact report (r16) — the ops-facing summary
    * every dedup run ships with: for each source, how many docs are
    * exact duplicates of an EARLIER doc (keep-first, q19/q64's rule)
    * and how much token mass the pass removes. This is the report that
    * decides where dedup effort goes — a source at 40% duplicate token
    * mass gets a crawler fix, one at 0.1% doesn't justify a re-crawl.
    *
    * Scale shape: one digest-keyed partial+final aggregate (min doc_id
    * per digest) re-joined on digest, then a |sources|-group rollup —
    * neither shuffle carries text. The digest is grouping-internal
    * (never output), so the engine lane uses (xxhash64(text),
    * length(text)) — 16 bytes on the wire vs md5's 32-char string and a
    * much cheaper hash (r16 verdict order 8; the A/B is
    * `Probe q192-digest-price`, PERF.md r17). Collision honesty: a
    * false dup needs two distinct SAME-LENGTH texts sharing a 64-bit
    * hash — ~N²/2^65 before the length split (≈3 doc-pairs at 10^10
    * docs) — which perturbs an aggregate RATE report by ~1e-9 relative;
    * the exact-dedup family (q19/q64), which deletes docs rather than
    * reporting rates, keeps md5. The DuckDB twin stays md5 (DuckDB has
    * no xxhash64) — the report's values are digest-invariant, and
    * DedupSpec pins both lanes equal on the fixture.
    */
  def q192DedupImpact(spark: SparkSession, dir: String): DataFrame =
    dedupImpactOf(Tables(spark, dir).documents)

  private[graft] def dedupImpactOf(docs: DataFrame,
      md5Lane: Boolean = false): DataFrame = {
    import docs.sparkSession.implicits._
    val dg =
      if (md5Lane) Seq(md5($"text").as("dg"))
      else Seq(xxhash64($"text").as("dg"), length($"text").as("dl"))
    val keys = if (md5Lane) Seq("dg") else Seq("dg", "dl")
    val d = docs.select(Seq($"doc_id", $"source",
      TextOps.wordCount($"text").as("nw")) ++ dg: _*)
    val first = d.groupBy(keys.map(col): _*).agg(min($"doc_id").as("first_doc"))
    d.join(first, keys)
      .withColumn("is_dup", $"doc_id" > $"first_doc")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"is_dup", 1L).otherwise(0L)).as("n_dup_docs"),
        sum($"nw").as("tokens_total"),
        sum(when($"is_dup", $"nw").otherwise(0L)).as("tokens_dup"))
      .select($"source", $"n_docs", $"n_dup_docs",
        ($"n_dup_docs".cast("double") / $"n_docs").as("dup_rate"),
        $"tokens_total", $"tokens_dup")
      .orderBy($"source")
  }

  val q192Sql: String =
    s"""WITH d AS (
      |  SELECT doc_id, source, md5(text) AS dg,
      |         ${TextOps.wordCountSql} AS nw
      |  FROM documents),
      |f AS (SELECT dg, min(doc_id) AS first_doc FROM d GROUP BY 1)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN doc_id > first_doc THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_docs,
      |  CAST(sum(CASE WHEN doc_id > first_doc THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS dup_rate,
      |  CAST(sum(nw) AS BIGINT) AS tokens_total,
      |  CAST(sum(CASE WHEN doc_id > first_doc THEN nw ELSE 0 END) AS BIGINT)
      |    AS tokens_dup
      |FROM d JOIN f USING (dg)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** One decontam-ledger CTE chain for the q188 twin, parameterized by
    * prefix and panel bound — the FULL-corpus recompute (no pruning).
    */
  private def ledgerCtes(p: String, panel: Long): String =
    s"""${p}bw AS (
      |  SELECT DISTINCT md5(array_to_string(t[i:i+${DecontamN - 1}], ' ')) AS g
      |  FROM (SELECT string_split(text, ' ') AS t FROM documents
      |        WHERE doc_id < $panel) b,
      |       unnest(range(1, len(t) - ${DecontamN - 2})) AS u(i)
      |  WHERE len(t) >= $DecontamN),
      |${p}exc AS (SELECT win.doc_id, pos FROM win JOIN ${p}bw USING (g)),
      |${p}m AS (
      |  SELECT doc_id, pos,
      |    coalesce(max(pos + ${DecontamN - 1}) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
      |  FROM ${p}exc),
      |${p}i2 AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN pos > prev_end + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |  FROM ${p}m),
      |${p}isl AS (
      |  SELECT doc_id, isl, min(pos) AS s, max(pos) + ${DecontamN - 1} AS e
      |  FROM ${p}i2 GROUP BY 1, 2),
      |${p}fr AS (
      |  SELECT doc_id, s, e,
      |    s - coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) - 1
      |      AS headfrag
      |  FROM ${p}isl),
      |${p}pd AS (
      |  SELECT doc_id,
      |    CAST(sum(e - s + 1) AS BIGINT) AS excised_raw,
      |    CAST(sum(CASE WHEN headfrag >= $MinFragTokens THEN headfrag ELSE 0 END)
      |      AS BIGINT) AS kept_mid,
      |    CAST(max(e) AS BIGINT) AS last_e
      |  FROM ${p}fr GROUP BY 1),
      |${p}led AS (
      |  SELECT t.doc_id,
      |    coalesce(excised_raw, CAST(0 AS BIGINT)) AS excised,
      |    coalesce(kept_mid, CAST(0 AS BIGINT))
      |      + CASE WHEN CAST(len(t.t) AS BIGINT) - coalesce(last_e, CAST(0 AS BIGINT))
      |               >= $MinFragTokens
      |             THEN CAST(len(t.t) AS BIGINT) - coalesce(last_e, CAST(0 AS BIGINT))
      |             ELSE CAST(0 AS BIGINT) END AS kept
      |  FROM toks t LEFT JOIN ${p}pd USING (doc_id))""".stripMargin

  val q188Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE doc_id >= $BenchPanel),
      |win AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         md5(array_to_string(t[i:i+${DecontamN - 1}], ' ')) AS g
      |  FROM toks, unnest(range(1, len(t) - ${DecontamN - 2})) AS u(i)
      |  WHERE len(t) >= $DecontamN),
      |${ledgerCtes("o_", OldBenchPanel)},
      |${ledgerCtes("n_", BenchPanel)}
      |SELECT o.doc_id, o.excised AS excised_old, n.excised AS excised_new,
      |  n.excised - o.excised AS delta_excised,
      |  o.kept AS kept_old, n.kept AS kept_new
      |FROM o_led o JOIN n_led n USING (doc_id)
      |WHERE o.excised <> n.excised OR o.kept <> n.kept
      |ORDER BY o.doc_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q188_incremental_decontam", q188IncrementalDecontam, Some(q188Sql),
      Seq("X-dedup", "X-scale"),
      "incremental decontam: delta-gram-pruned re-excision when a new benchmark lands; twin is the full recompute"),
    Q("q189_decontam_touched", q189DecontamTouched, Some(q189Sql),
      Seq("X-dedup", "X-scale"),
      "delta-touched candidate monitor: novel-gram hit counts per corpus doc, batch twin of the streaming surface"),
    Q("q192_dedup_impact", q192DedupImpact, Some(q192Sql),
      Seq("X-dedup", "X-scale"),
      "per-source dedup impact report: keep-first duplicate docs and token mass removed, by source"),
    Q("q185_unified_excise", q185UnifiedExcise, Some(q185Sql),
      Seq("X-dedup", "X-scale"),
      "unified excision: dup spans + benchmark spans cut in ONE rewrite pass, interval-unioned before fragment accounting"),
    Q("q182_decontam_excise", q182DecontamExcise, Some(q182Sql),
      Seq("X-dedup", "X-scale"),
      "benchmark decontamination as span excision: every eval-overlapping trigram span cut from every corpus doc"),
    Q("q180_span_excise", q180SpanExcise, Some(q180Sql),
      Seq("X-dedup", "X-scale"),
      "dup-span excision: first owner keeps each shared span, others keep only novel fragments >= min length"),
    Q("q181_excise_fragments", q181ExciseFragments, Some(q181Sql),
      Seq("X-dedup", "X-scale"),
      "the excised corpus: kept fragment rows (start, length, text) — q180's ledger materialized"),
    Q("q159_dup_evidence", q159DupEvidence, Some(q159Sql), Seq("X-dedup"),
      "explainable dedup: rarest shared shingles as per-pair merge evidence"),
    Q("q175_novelty_profile", q175NoveltyProfile, Some(q175Sql),
      Seq("X-dedup", "X-scale"),
      "per-doc n-gram novelty: fraction of distinct windows first seen in this doc"),
    Q("q172_dupspan_coverage", q172DupSpanCoverage, Some(q172Sql),
      Seq("X-dedup", "X-scale"),
      "substring-level dup-span coverage: fraction of tokens inside cross-doc repeated windows"),
    Q("q174_sketch_calibration", q174SketchCalibration, Some(q174Sql),
      Seq("X-dedup", "X-eval"),
      "MinHash estimator calibration: per-agreement-bin gap vs exact Jaccard"),
    Q("q178_calibrated_dedup", q178CalibratedDedup, Some(q178Sql),
      Seq("X-dedup", "X-scale"),
      "verify-skip dedup: q174-calibrated sketch bar fast-accepts, exact verify only below it"),
    Q("q148_lsh_eval", q148LshEval, Some(q148Sql), Seq("X-dedup", "X-eval", "X-scale"),
      "LSH candidate recall/precision vs the exact-Jaccard truth set"),
    Q("q19_dedup_exact", q19DedupExact, Some(q19Sql), Seq("X-dedup"),
      "exact dedup on md5 content fingerprint"),
    Q("q117_dedup_savings", q117DedupSavings, Some(q117Sql), Seq("X-dedup", "X-scale"),
      "dedup savings pre-flight: removable rows/bytes and family histogram per source"),
    Q("q65_dup_clusters", q65DupClusters, Some(q65Sql), Seq("X-dedup"),
      "transitive near-dup clustering: connected components over LSH pairs"),
    Q("q68_cluster_reps", q68ClusterReps, Some(q68Sql), Seq("X-dedup"),
      "per-cluster representative selection by portable quality score"),
    Q("q170_group_split", q170GroupSplit, Some(q170Sql),
      Seq("X-dedup", "X-sample", "X-scale"),
      "group-aware k-fold split: folds keyed by near-dup cluster, leakage audit vs naive"),
    Q("q64_keepfirst_dedup", q64KeepFirstDedup, Some(q64Sql), Seq("X-dedup"),
      "LSH keep-first dedup materialization (batch twin of the streaming path)"),
    Q("q77_incremental_dedup", q77IncrementalDedup, Some(q77Sql), Seq("X-dedup"),
      "incremental near-dup dedup of a new batch against a corpus index"),
    Q("q82_prefix_dup", q82PrefixDup, Some(q82Sql), Seq("X-dedup"),
      "prefix-family partial-dup detection with full-text variant counts"),
    Q("q58_rolling_dedup", q58RollingDedup, Some(q58Sql), Seq("X-dedup"),
      "dedup keyed by the native Rabin-Karp rolling-hash expression"),
    Q("q49_contamination", q49Contamination, Some(q49Sql), Seq("X-dedup"),
      "benchmark-contamination flags via broadcast shingle overlap"),
    Q("q20_ngram_jaccard", q20NgramJaccard, Some(q20Sql), Seq("X-dedup"),
      "3-gram Jaccard near-dup via inverted-index join"),
    Q("q136_containment", q136Containment, Some(q136Sql), Seq("X-dedup"),
      "asymmetric shingle containment: subset/excerpt duplicate pairs"),
    Q("q21_minhash_lsh", q21MinhashLsh, Some(q21Sql), Seq("X-dedup"),
      "MinHash+LSH banded near-dup with exact verify"),
    Q("q22_simhash", q22Simhash, Some(q22Sql), Seq("X-dedup"),
      "SimHash-32 document signatures (narrow fold)"),
    Q("q122_source_overlap", q122SourceOverlap, Some(q122Sql), Seq("X-dedup", "X-scale"),
      "cross-source shingle-overlap matrix: shared trigrams + Jaccard per source pair"))

}
