package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Ckpt.GraftCheckpoint

/** Corpus-curation operators a pretraining pipeline runs between raw
  * ingestion and tokenization: PII redaction, quality-weighted sampling,
  * and context-window chunking. All three are row-local (narrow plans,
  * no shuffle except the sampler's per-stratum top-k) and all three are
  * oracle-checked end to end.
  */
object CurationOps {

  /** Regexes restricted to the RE2 ∩ java.util.regex common subset (no
    * lookarounds, no unicode classes) so Spark and the DuckDB oracle
    * tokenize identically — same contract as TextOps.BpeTokenRegex.
    */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val LongDigitsRe = "[0-9]{7,}"

  /** PII redaction: emails → `<EMAIL>`, IPv4s → `<IP>`, 7+-digit runs
    * (phone/account-shaped) → `<NUM>`, applied in that order with each
    * count taken on the text the pattern actually sees (an email's
    * digits must not double-count as a number). Row-local regex work —
    * at corpus scale this is a narrow codegen'd projection, no shuffle.
    */
  def q61PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .withColumn("n_email", regexp_count($"text", lit(EmailRe)).cast("long"))
      .withColumn("t1", regexp_replace($"text", EmailRe, "<EMAIL>"))
      .withColumn("n_ip", regexp_count($"t1", lit(Ipv4Re)).cast("long"))
      .withColumn("t2", regexp_replace($"t1", Ipv4Re, "<IP>"))
      .withColumn("n_num", regexp_count($"t2", lit(LongDigitsRe)).cast("long"))
      .select($"doc_id",
        regexp_replace($"t2", LongDigitsRe, "<NUM>").as("text_clean"),
        $"n_email", $"n_ip", $"n_num",
        ($"n_email" + $"n_ip" + $"n_num").as("n_redacted"))
      .orderBy($"doc_id")
  }

  val q61Sql: String = {
    def g(src: String, re: String, tok: String) =
      s"regexp_replace($src, '$re', '$tok', 'g')" // 'g': DuckDB defaults to first-match-only
    val t1 = g("text", EmailRe, "<EMAIL>")
    val t2 = g(t1, Ipv4Re, "<IP>")
    s"""SELECT doc_id,
       |  ${g(t2, LongDigitsRe, "<NUM>")} AS text_clean,
       |  CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all($t1, '$Ipv4Re')) AS BIGINT) AS n_ip,
       |  CAST(len(regexp_extract_all($t2, '$LongDigitsRe')) AS BIGINT) AS n_num,
       |  CAST(len(regexp_extract_all(text, '$EmailRe'))
       |     + len(regexp_extract_all($t1, '$Ipv4Re'))
       |     + len(regexp_extract_all($t2, '$LongDigitsRe')) AS BIGINT) AS n_redacted
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Quality-weighted sampling without replacement (A-ExpJ / exponential
    * clocks): each doc draws a deterministic uniform u from an md5 fold
    * of its id, its clock is −ln(u)/w with weight w = its size, and the
    * k smallest clocks per language stratum win — heavier docs are
    * proportionally likelier, reruns are bit-stable, and the shuffle is
    * one per-stratum top-k (windowed rank), never a global sort of the
    * corpus. Complements q39's UNweighted stratified sampler.
    */
  def q62WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p31 = DedupOps.P31
    // (0, 1]: +1 dodges ln(0) at the one-in-2³¹ zero fold
    val u = ((conv(substring(md5(concat(lit("ws|"), $"doc_id".cast("string"))), 1, 8), 16, 10)
      .cast("long") % p31) + lit(1L)).cast("double") / p31.toDouble
    // LIBM-PARITY ASSUMPTION (the one deliberate deviation from this
    // repo's exact-integer oracle-parity rule): the clock is ordered-on,
    // never output, and exponential-clock ranking is inherently pairwise-
    // transcendental (clock_a < clock_b ⟺ u_a^w_b > u_b^w_a — no per-row
    // integer key exists), so cross-engine agreement rests on Java's
    // Math.log (±1 ulp, semi-monotonic) and DuckDB's libm log agreeing at
    // the rank-k boundary. A last-ulp divergence there would flip one
    // sampled row and surface LOUDLY as an oracle hash mismatch, not as
    // silent corruption; none observed across sf0.01/0.1/1 + fuzz seeds.
    val clock = -log(u) / greatest($"n_chars", lit(1L)).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"__clock".asc, $"doc_id".asc)
    Tables(spark, dir).documents
      .withColumn("__clock", clock)
      .withColumn("__rn", row_number().over(w))
      .filter($"__rn" <= 5)
      .select($"lang", $"doc_id", $"n_chars")
      .orderBy($"lang", $"doc_id")
  }

  val q62Sql: String = {
    val p31 = DedupOps.P31
    val foldH = (1 to 8).map { j =>
      val mult = 1L << (4 * (8 - j))
      s"(strpos('0123456789abcdef', substr(md5('ws|' || CAST(doc_id AS VARCHAR)), $j, 1)) - 1) * $mult"
    }.mkString(" + ")
    s"""WITH c AS (
       |  SELECT lang, doc_id, n_chars,
       |         -ln(CAST(($foldH) % $p31 + 1 AS DOUBLE) / $p31)
       |           / greatest(n_chars, 1) AS clock
       |  FROM documents),
       |r AS (SELECT lang, doc_id, n_chars,
       |             row_number() OVER (PARTITION BY lang ORDER BY clock, doc_id) AS rn
       |      FROM c)
       |SELECT lang, doc_id, n_chars FROM r WHERE rn <= 5
       |ORDER BY lang, doc_id""".stripMargin
  }

  /** Context-window chunking: documents sliced into 50-word windows with
    * a 40-word stride (10-word overlap) — the pre-tokenization step that
    * fits corpus text to a model's context length. Pure row-local array
    * arithmetic (split → slice per window index), explodes to one row
    * per chunk; chunk count is exact integer math shared with the
    * oracle: 1 window for n ≤ 50, else ⌈(n−50)/40⌉ + 1.
    */
  private val ChunkWords = 50
  private val Stride = 40

  def q63Chunk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir).documents
      .withColumn("__w", split($"text", " "))
      .withColumn("__n", size($"__w"))
      .withColumn("__nc",
        when($"__n" <= ChunkWords, lit(1))
          .otherwise(expr(s"CAST((__n - ${ChunkWords - Stride + 1}) div $Stride AS INT) + 1")))
      .select($"doc_id", $"__w",
        explode(sequence(lit(0), $"__nc" - 1)).as("chunk_id"))
      .select($"doc_id", $"chunk_id".cast("long").as("chunk_id"),
        array_join(slice($"__w", $"chunk_id" * Stride + 1, lit(ChunkWords)), " ").as("chunk"),
        size(slice($"__w", $"chunk_id" * Stride + 1, lit(ChunkWords))).cast("long").as("n_tokens"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val q63Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS w, len(string_split(text, ' ')) AS n
       |  FROM documents),
       |k AS (SELECT doc_id, w,
       |             CASE WHEN n <= $ChunkWords THEN 1
       |                  ELSE (n - ${ChunkWords - Stride + 1}) // $Stride + 1 END AS nc
       |      FROM t),
       |e AS (SELECT doc_id, w, unnest(range(nc)) AS chunk_id FROM k)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  array_to_string(w[chunk_id * $Stride + 1 : chunk_id * $Stride + $ChunkWords], ' ') AS chunk,
       |  CAST(len(w[chunk_id * $Stride + 1 : chunk_id * $Stride + $ChunkWords]) AS BIGINT) AS n_tokens
       |FROM e
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** Sequence packing, concatenate-and-split style (how pretraining
    * actually fills context windows: documents are laid end to end per
    * stratum and CUT at window boundaries — no bin-packing search, no
    * padding waste): within each `source` stratum, documents in doc_id
    * order get a global token offset (an exclusive prefix sum), and a
    * doc's window span is pure integer arithmetic on that offset. Output
    * is the doc→window map a downstream gather step consumes.
    *
    * At scale: one shuffle per stratum (the prefix-sum window); strata
    * are independent, so a 100 TB corpus packs embarrassingly parallel
    * across sources — and within a stratum a production run would make
    * each input split its own stratum (per-split offsets need no global
    * order at all). First-fit bin packing would need a sequential scan;
    * the concatenate-and-split contract is WHY this stays one window
    * function.
    */
  private val PackWindow = 2048L

  def q66SeqPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.DistributedRank
    // the q124-class gate (see DistributedRank): the per-source prefix
    // sum is the exclusive running token count — the gated running sum
    // minus the doc's own tokens. Tokens count with the length-translate
    // identity (== size(split(text, ' ')) for the single-space split:
    // separators+1 counts empty tokens exactly like split's keep-empty
    // default), so no pass materializes a token array.
    val base = Tables(spark, dir).documents
      .select($"source", $"doc_id", TextOps.wordCount($"text").as("n_tokens"))
    DistributedRank.runningSums(base, Seq("source"), Seq($"doc_id"),
        $"doc_id", "n_tokens")
      .withColumn("start_off", $"cum_n_tokens" - coalesce($"n_tokens", lit(0L)))
      .select($"source", $"doc_id", $"n_tokens", $"start_off",
        expr(s"start_off div $PackWindow").as("window_start"),
        expr(s"(start_off + n_tokens - 1) div $PackWindow").as("window_end"))
      .withColumn("n_windows", $"window_end" - $"window_start" + 1L)
      .orderBy($"source", $"doc_id")
  }

  val q66Sql: String =
    s"""WITH t AS (
       |  SELECT source, doc_id,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT source, doc_id, n_tokens,
       |         CAST(COALESCE(sum(n_tokens) OVER (
       |           PARTITION BY source ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS start_off
       |  FROM t)
       |SELECT source, doc_id, n_tokens, start_off,
       |       start_off // $PackWindow AS window_start,
       |       (start_off + n_tokens - 1) // $PackWindow AS window_end,
       |       (start_off + n_tokens - 1) // $PackWindow
       |         - start_off // $PackWindow + 1 AS n_windows
       |FROM o
       |ORDER BY source, doc_id""".stripMargin

  /** Domain-mixture sampling: draw a fixed total budget of documents with
    * TARGET per-source weights (the pretraining data-mixing step: e.g.
    * upweight books over web crawl), capped by availability. Quotas are
    * exact integer arithmetic — quota(s) = (budget · w_s) div Σw — over
    * the weights of the sources actually present, and members are the
    * deterministic content-hash priority ranking q39 uses, so reruns are
    * bit-stable and no libm/rand enters the selection. One window over
    * the source key plus a broadcast quota map — at corpus scale this is
    * a single per-stratum top-k, never a global sort.
    */
  private val MixBudget = 100L
  private val MixWeights: Seq[(String, Long)] = Seq("web" -> 7L, "book" -> 3L)
  private val MixDefaultW = 1L

  def q69DomainMix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val wcol = MixWeights.foldLeft(lit(MixDefaultW)) { case (acc, (s, wt)) =>
      when($"source" === s, lit(wt)).otherwise(acc)
    }
    val srcs = docs.select($"source").distinct().withColumn("w", wcol)
    val totw = srcs.agg(sum($"w").as("tw"))
    val quotas = srcs.crossJoin(broadcast(totw))
      .select($"source", expr(s"($MixBudget * w) div tw").as("quota"))
    val byPriority = org.apache.spark.sql.expressions.Window
      .partitionBy($"source")
      .orderBy(md5(concat($"doc_id".cast("string"), lit(":"), $"text")), $"doc_id")
    docs.withColumn("rk", row_number().over(byPriority))
      .join(broadcast(quotas), "source")
      .filter($"rk" <= $"quota")
      .select($"source", $"rk".cast("long").as("rk"), $"doc_id")
      .orderBy($"source", $"rk")
  }

  val q69Sql: String = {
    val wcase = MixWeights.map { case (s, wt) => s"WHEN source = '$s' THEN $wt" }
      .mkString("CASE ", " ", s" ELSE $MixDefaultW END")
    s"""WITH srcs AS (SELECT DISTINCT source FROM documents),
       |sw AS (SELECT source, $wcase AS w FROM srcs),
       |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM sw),
       |quotas AS (SELECT source, ($MixBudget * w) // tw AS quota
       |           FROM sw CROSS JOIN tw),
       |ranked AS (SELECT source, doc_id, row_number() OVER (
       |             PARTITION BY source
       |             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || text), doc_id) AS rk
       |           FROM documents)
       |SELECT source, CAST(rk AS BIGINT) AS rk, doc_id
       |FROM ranked JOIN quotas USING (source)
       |WHERE rk <= quota
       |ORDER BY source, rk""".stripMargin
  }

  /** Dolma-style filter cascade — the DECISION layer over the repo's
    * quality signals: every document gets a kept/dropped verdict plus the
    * FIRST rule that fired (priority order: too_short → lang_filter →
    * pii_heavy → repetitive → low_quality), the attribute-tagging shape
    * real curation pipelines audit (per-rule drop counts, rule overlap).
    * All signals reuse the single portable definitions (TextOps word
    * count + quality, q61's ordered redaction counts, q50's top-trigram
    * share), so a threshold change here can never drift from the signal
    * queries.
    *
    * Scale: one doc-keyed trigram aggregate (the q50 shuffle) left-joined
    * back; everything else is row-local codegen'd string work. Sub-3-word
    * docs have no trigrams: their top_share is defined 0 (never
    * "repetitive" — they are caught by too_short first).
    */
  def q71FilterCascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir).documents
    val rep = DedupOps.trigramStream(docs)
      .groupBy($"doc_id", $"s").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg((max($"cnt").cast("double") / sum($"cnt")).as("__share"))
    val t1 = regexp_replace($"text", EmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, Ipv4Re, "<IP>")
    val nRedacted = regexp_count($"text", lit(EmailRe)).cast("long") +
      regexp_count(t1, lit(Ipv4Re)).cast("long") +
      regexp_count(t2, lit(LongDigitsRe)).cast("long")
    docs.join(rep, Seq("doc_id"), "left")
      .withColumn("n_words", TextOps.wordCount($"text"))
      .withColumn("quality", TextOps.qualityCol)
      .withColumn("n_redacted", nRedacted)
      .withColumn("top_share", coalesce($"__share", lit(0.0)))
      .withColumn("reason",
        when($"n_words" < 20, "too_short")
          .when(!$"lang".isin("en", "es", "de"), "lang_filter")
          .when($"n_redacted" > 2, "pii_heavy")
          .when($"top_share" > 0.1, "repetitive")
          .when($"quality" < 0.5, "low_quality")
          .otherwise("kept"))
      .select($"doc_id", $"n_words", $"n_redacted", $"top_share", $"quality",
        $"reason", when($"reason" === "kept", 1L).otherwise(0L).as("kept"))
      .orderBy($"doc_id")
  }

  val q71Sql: String = {
    def g(src: String, re: String, tok: String) =
      s"regexp_replace($src, '$re', '$tok', 'g')"
    val t1 = g("text", EmailRe, "<EMAIL>")
    val t2 = g(t1, Ipv4Re, "<IP>")
    s"""WITH tri AS (
       |  SELECT doc_id, unnest(${DedupOps.TrigramSqlExpr}) AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       |  WHERE len(t) >= 3),
       |pc AS (SELECT doc_id, s, count(*) AS cnt FROM tri GROUP BY doc_id, s),
       |rep AS (SELECT doc_id, CAST(max(cnt) AS DOUBLE) / sum(cnt) AS sh
       |        FROM pc GROUP BY doc_id),
       |base AS (
       |  SELECT doc_id,
       |    ${TextOps.wordCountSql} AS n_words,
       |    CAST(len(regexp_extract_all(text, '$EmailRe'))
       |       + len(regexp_extract_all($t1, '$Ipv4Re'))
       |       + len(regexp_extract_all($t2, '$LongDigitsRe')) AS BIGINT) AS n_redacted,
       |    coalesce(sh, CAST('0' AS DOUBLE)) AS top_share,
       |    ${TextOps.qualitySqlExpr} AS quality,
       |    lang
       |  FROM documents LEFT JOIN rep USING (doc_id)),
       |reasoned AS (
       |  SELECT doc_id, n_words, n_redacted, top_share, quality,
       |    CASE WHEN n_words < 20 THEN 'too_short'
       |         WHEN lang NOT IN ('en', 'es', 'de') THEN 'lang_filter'
       |         WHEN n_redacted > 2 THEN 'pii_heavy'
       |         WHEN top_share > CAST('0.1' AS DOUBLE) THEN 'repetitive'
       |         WHEN quality < CAST('0.5' AS DOUBLE) THEN 'low_quality'
       |         ELSE 'kept' END AS reason
       |  FROM base)
       |SELECT doc_id, n_words, n_redacted, top_share, quality, reason,
       |  CAST(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END AS BIGINT) AS kept
       |FROM reasoned
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic global shuffle + shard layout — the LAST step before
    * tokenized data ships to training: every document gets a
    * pseudorandom shard and a position inside it, stable across reruns
    * (hash-derived, no rand()). Exactly one shuffle, keyed by shard, and
    * a per-shard sort on the hash priority — at 100 TB that is thousands
    * of shards sorting in parallel, never a global total order.
    */
  private val NumShards = 8L

  /** Sub-bucket fan-out for q186's tie-rank window (ADVICE r15): bounds
    * any one window partition at ~(largest same-length population)/64
    * even when one word count dominates the corpus. Scale with cluster
    * parallelism; the (lengths × buckets) offset ledger stays broadcast-
    * tiny at any realistic setting.
    */
  private val RankBuckets = 64L

  def q72GlobalShuffle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byShard = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard").orderBy($"__pr".asc, $"doc_id".asc)
    Tables(spark, dir).documents
      .withColumn("__pr", md5(concat(lit("gs|"), $"doc_id".cast("string"))))
      .withColumn("shard",
        conv(substring($"__pr", 1, 8), 16, 10).cast("long") % NumShards)
      .withColumn("pos", row_number().over(byShard).cast("long"))
      .select($"doc_id", $"shard", $"pos")
      .orderBy($"shard", $"pos")
  }

  val q72Sql: String = {
    val foldH = (1 to 8).map { j =>
      val mult = 1L << (4 * (8 - j))
      s"(strpos('0123456789abcdef', substr(pr, $j, 1)) - 1) * $mult"
    }.mkString(" + ")
    s"""WITH h AS (
       |  SELECT doc_id, md5('gs|' || CAST(doc_id AS VARCHAR)) AS pr
       |  FROM documents),
       |s AS (SELECT doc_id, pr, CAST(($foldH) % $NumShards AS BIGINT) AS shard
       |      FROM h)
       |SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY pr, doc_id) AS BIGINT) AS pos
       |FROM s
       |ORDER BY shard, pos""".stripMargin
  }

  /** Length-bucketed batching analysis: documents grouped into
    * power-of-two word-count buckets (the static-shape batching a
    * training/inference stack pads to), reporting per bucket the doc
    * count, real token mass, padded mass at the bucket cap, and the
    * padding waste share — the number that decides whether dynamic
    * batching is worth deploying.
    *
    * The bucket id is bit-length arithmetic (floor-log2 via bin(),
    * q67's integer-exact discipline — no libm), so bucketing is
    * row-local; the report is one partial+final aggregate over
    * ~log2(max_len) groups. Waste is an exact-integer ratio evaluated
    * in one double division per bucket row.
    */
  def q90LengthBuckets(spark: SparkSession, dir: String): DataFrame =
    lengthBucketsOf(Tables(spark, dir).documents)

  private[graft] def lengthBucketsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    // bucket cap = 2^ceil(log2(n)) = 2^bitlength(n-1); n=1 → cap 1
    // (SQL-level shiftleft: the Scala wrapper only takes literal bits)
    val cap = expr("""CASE WHEN n_words = 1 THEN CAST(1 AS BIGINT)
      ELSE shiftleft(CAST(1 AS BIGINT),
                     CAST(length(bin(n_words - 1)) AS INT)) END""")
    docs
      .select($"doc_id", TextOps.wordCount($"text").as("n_words"))
      .withColumn("bucket_cap", cap)
      .groupBy($"bucket_cap")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_words").as("real_tokens"),
        (count(lit(1)) * $"bucket_cap").as("padded_tokens"))
      .select($"bucket_cap", $"n_docs", $"real_tokens", $"padded_tokens",
        (($"padded_tokens" - $"real_tokens").cast("double") / $"padded_tokens")
          .as("waste_share"))
      .orderBy($"bucket_cap")
  }

  val q90Sql: String =
    s"""WITH d AS (
       |  SELECT doc_id, ${TextOps.wordCountSql} AS n_words FROM documents),
       |b AS (
       |  SELECT doc_id, n_words,
       |    CASE WHEN n_words = 1 THEN CAST(1 AS BIGINT)
       |         ELSE CAST(1 AS BIGINT) << CAST(length(bin(n_words - 1)) AS INTEGER)
       |         END AS bucket_cap
       |  FROM d)
       |SELECT bucket_cap, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_words) AS BIGINT) AS real_tokens,
       |  CAST(count(*) * bucket_cap AS BIGINT) AS padded_tokens,
       |  CAST(count(*) * bucket_cap - sum(n_words) AS DOUBLE)
       |    / (count(*) * bucket_cap) AS waste_share
       |FROM b
       |GROUP BY bucket_cap
       |ORDER BY bucket_cap""".stripMargin

  /** Mixture epoch schedule: given target sampling weights per source
    * and a total token budget, compute each source's token demand
    * (exact integer split of the budget, largest-remainder rounding so
    * the demands sum EXACTLY to the budget), the tokens actually
    * available, and the repeat factor (epochs, ceil) the training run
    * must make over that source — the plan behind "webtext ×1.2,
    * wiki ×3.4" mixture tables.
    *
    * Everything is exact integer arithmetic (quotas and remainders via
    * div/mod; ceil via (a + b - 1) div b); the only doubles are
    * final per-row ratios. One aggregate over the corpus (source-keyed,
    * partial+final) + a k-row window for the largest-remainder ranks.
    */
  def q91MixSchedule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val budget = 9999999L // total training-token budget (indivisible by the weight sum, so the largest-remainder top-up is live)
    // target mixture weights (per mille, integers — portable arithmetic)
    val weights = Seq("src0" -> 500L, "src1" -> 300L, "src2" -> 200L)
    val w = weights.toDF("source", "weight_pm")
    val avail = Tables(spark, dir).documents
      .select($"source", TextOps.wordCount($"text").as("n_words"))
      .groupBy($"source").agg(sum($"n_words").as("avail_tokens"))
    val wSum = weights.map(_._2).sum
    val base = avail.join(broadcast(w), Seq("source"), "inner")
      .withColumn("floor_quota", expr(s"(weight_pm * $budget) div $wSum"))
      .withColumn("rem", expr(s"(weight_pm * $budget) % $wSum"))
    // largest-remainder: the top-(budget - Σfloor) remainders get +1
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy($"rem".desc, $"source")
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    base
      .withColumn("rk", row_number().over(wRank))
      .withColumn("short", lit(budget) - sum($"floor_quota").over(wAll))
      .withColumn("target_tokens",
        $"floor_quota" + when($"rk" <= $"short", 1L).otherwise(0L))
      .withColumn("epochs",
        expr("(target_tokens + avail_tokens - 1) div avail_tokens"))
      .select($"source", $"weight_pm", $"avail_tokens", $"target_tokens",
        $"epochs",
        ($"target_tokens".cast("double") / $"avail_tokens").as("repeat_factor"))
      .orderBy($"source")
  }

  val q91Sql: String =
    s"""WITH avail AS (
       |  SELECT source, CAST(sum(${TextOps.wordCountSql}) AS BIGINT) AS avail_tokens
       |  FROM documents GROUP BY source),
       |w AS (
       |  SELECT * FROM (VALUES ('src0', CAST(500 AS BIGINT)),
       |                        ('src1', CAST(300 AS BIGINT)),
       |                        ('src2', CAST(200 AS BIGINT)))
       |    AS t(source, weight_pm)),
       |base AS (
       |  SELECT a.source, w.weight_pm, a.avail_tokens,
       |    (w.weight_pm * 9999999) // 1000 AS floor_quota,
       |    (w.weight_pm * 9999999) % 1000 AS rem
       |  FROM avail a JOIN w ON a.source = w.source),
       |r AS (
       |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
       |    9999999 - sum(floor_quota) OVER () AS short
       |  FROM base)
       |SELECT source, weight_pm, avail_tokens,
       |  CAST(floor_quota + CASE WHEN rk <= short THEN 1 ELSE 0 END AS BIGINT)
       |    AS target_tokens,
       |  CAST((floor_quota + CASE WHEN rk <= short THEN 1 ELSE 0 END
       |        + avail_tokens - 1) // avail_tokens AS BIGINT) AS epochs,
       |  CAST(floor_quota + CASE WHEN rk <= short THEN 1 ELSE 0 END AS DOUBLE)
       |    / avail_tokens AS repeat_factor
       |FROM r
       |ORDER BY source""".stripMargin

  /** Leakage-safe train/val/test split: the split key is the CONTENT
    * fingerprint, not the row id, so exact duplicates can never straddle
    * splits (the classic eval-contamination bug: a val doc whose twin
    * sits in train). Docs draw an 80/10/10 bucket from an md5 fold of
    * their md5(text) fingerprint — deterministic across reruns and
    * engines, no rand(), no global sort. For NEAR-dup safety the same
    * shape applies with the q65/q68 cluster label as the key; this
    * operator pins the exact-dup tier, where the fingerprint needs no
    * join at all (one row-local hash, one aggregate).
    */
  def q100SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fp = md5($"text")
    val bucket = conv(substring(md5(concat(lit("split|"), fp)), 1, 8), 16, 10)
      .cast("long") % 10
    Tables(spark, dir).documents
      .withColumn("split",
        when(bucket <= 7, "train").when(bucket === 8, "val").otherwise("test"))
      .withColumn("fp", fp)
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"fp").as("n_clusters"),
        sum($"n_chars").as("n_chars"))
      .orderBy($"split")
  }

  val q100Sql: String = {
    val foldH = (1 to 8).map { j =>
      val mult = 1L << (4 * (8 - j))
      s"(strpos('0123456789abcdef', substr(md5('split|' || md5(text)), $j, 1)) - 1) * $mult"
    }.mkString(" + ")
    s"""WITH b AS (
       |  SELECT md5(text) AS fp, n_chars,
       |         ($foldH) % 10 AS bucket
       |  FROM documents)
       |SELECT CASE WHEN bucket <= 7 THEN 'train'
       |            WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
       |  count(*) AS n_docs,
       |  count(DISTINCT fp) AS n_clusters,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars
       |FROM b GROUP BY split
       |ORDER BY split""".stripMargin
  }

  /** Percentile-threshold quality gating: keep each source's top 30% by
    * the shared q18 quality signal. Absolute thresholds rot as sources
    * differ (0.6 keeps everything from Wikipedia and nothing from CC);
    * a per-source percentile self-calibrates. The integer form
    * `10·rank ≤ 3·n` avoids a double threshold entirely — no
    * percentile interpolation, no fp boundary, identical keep-set on
    * both engines even under quality ties (rank tie-breaks by doc_id).
    *
    * One window over the source partition (rank + count in the same
    * sort) — the q39/q62 per-stratum top-k shape with a proportional
    * rather than fixed k.
    */
  def q107PercentileGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.DistributedRank
    // the q124-class gate (see DistributedRank): rank is the running row
    // count in (quality desc, doc_id) order — a total order, so it IS
    // row_number — and n_source the partition total. Past the gate the
    // bucket is the NEGATED quality (descending order; quality is finite
    // — words ≥ 1 by construction — so the negation is a clean order
    // flip).
    val scored = Tables(spark, dir).documents
      .select($"source", $"doc_id", TextOps.qualityCol.as("quality"),
        lit(1L).as("docs"))
    DistributedRank.runningSums(scored, Seq("source"),
        Seq($"quality".desc, $"doc_id".asc), -$"quality", "docs")
      .filter($"cum_docs" * 10 <= $"total_docs" * 3)
      .select($"source", $"doc_id", $"cum_docs".as("rank"),
        $"total_docs".as("n_source"), $"quality")
      .orderBy($"source", $"doc_id")
  }

  val q107Sql: String =
    s"""WITH q AS (
       |  SELECT source, doc_id, ${TextOps.qualitySqlExpr} AS quality
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, quality,
       |         row_number() OVER (PARTITION BY source
       |                            ORDER BY quality DESC, doc_id ASC) AS rank,
       |         count(*) OVER (PARTITION BY source) AS n_source
       |  FROM q)
       |SELECT source, doc_id, rank, CAST(n_source AS BIGINT) AS n_source,
       |       quality
       |FROM r WHERE rank * 10 <= n_source * 3
       |ORDER BY source, doc_id""".stripMargin

  /** Moore–Lewis data selection: rank candidate documents by
    * cross-entropy DIFFERENCE between an in-domain LM (here: the `en`
    * slice) and the general-corpus LM — the standard technique for
    * mining domain-relevant training data out of a general pool (docs
    * whose tokens the in-domain model prices cheaply RELATIVE to the
    * general model rank first; pricing by one model alone just rewards
    * short/common text).
    *
    * House integer-bits style (q67/q74): each token costs
    * floor(log2((N+V)/(c+1))) bits under a model — add-one smoothing
    * covers out-of-vocabulary tokens, and the whole score is integer
    * arithmetic (per-token bits × occurrences, summed, normalized as
    * milli-bits-per-token with integer div) — bit-identical
    * cross-engine, no libm.
    *
    * Plan: token streams are row-local; both models are vocab-sized
    * count tables joined with AQE (in-domain counts left-joined so OOV
    * stays null→smoothed); corpus totals ride in as 1-row broadcasts.
    */
  def q108MooreLewis(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = Tables(spark, dir).documents
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
    // both LMs derive from the compact (doc, tok, occ) aggregate, which
    // is published once — the raw token explode runs a single time and
    // the model builds never rescan text (q89 pattern)
    val dt = toks.groupBy($"doc_id", $"lang", $"tok")
      .agg(count(lit(1)).as("occ"))
      .ckpt()
    val cin = dt.filter($"lang" === "en")
      .groupBy($"tok").agg(sum($"occ").as("cin"))
    val cgen = dt.groupBy($"tok").agg(sum($"occ").as("cgen"))
    val nin = cin.agg(sum($"cin").as("n_in"), count(lit(1)).as("v_in"))
    val ngen = cgen.agg(sum($"cgen").as("n_gen"), count(lit(1)).as("v_gen"))
    dt.filter($"lang" =!= "en")
      .join(cin, Seq("tok"), "left")
      .join(cgen, Seq("tok"), "left") // every candidate token is in gen
      .crossJoin(broadcast(nin)).crossJoin(broadcast(ngen))
      .withColumn("cin1", coalesce($"cin", lit(0L)) + 1)
      .withColumn("cgen1", coalesce($"cgen", lit(0L)) + 1)
      .withColumn("b_in",
        (length(bin(expr("(n_in + v_in) div cin1"))) - 1).cast("long") * $"occ")
      .withColumn("b_gen",
        (length(bin(expr("(n_gen + v_gen) div cgen1"))) - 1).cast("long") * $"occ")
      .groupBy($"doc_id")
      .agg(sum($"occ").as("n_tokens"),
        sum($"b_in").as("bits_in"), sum($"b_gen").as("bits_gen"))
      // the score can be NEGATIVE and both Spark's `div` and DuckDB's
      // `//` truncate toward zero — removing the non-negative remainder
      // first makes the division exact on both (floor semantics)
      .withColumn("ml_num", ($"bits_in" - $"bits_gen") * 1000)
      .withColumn("ml_milli",
        expr("(ml_num - (((ml_num % n_tokens) + n_tokens) % n_tokens)) div n_tokens"))
      .drop("ml_num")
      .orderBy($"ml_milli".asc, $"doc_id".asc)
      .limit(20)
  }

  val q108Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |dt AS (SELECT doc_id, lang, tok, count(*) AS occ
      |       FROM toks GROUP BY 1, 2, 3),
      |cin AS (SELECT tok, count(*) AS cin FROM toks WHERE lang = 'en'
      |        GROUP BY tok),
      |cgen AS (SELECT tok, count(*) AS cgen FROM toks GROUP BY tok),
      |nin AS (SELECT CAST(sum(cin) AS BIGINT) AS n_in,
      |               count(*) AS v_in FROM cin),
      |ngen AS (SELECT CAST(sum(cgen) AS BIGINT) AS n_gen,
      |                count(*) AS v_gen FROM cgen),
      |s AS (
      |  SELECT doc_id, occ,
      |    CAST(length(bin((n_in + v_in) // (coalesce(cin, 0) + 1))) - 1
      |      AS BIGINT) * occ AS b_in,
      |    CAST(length(bin((n_gen + v_gen) // (coalesce(cgen, 0) + 1))) - 1
      |      AS BIGINT) * occ AS b_gen
      |  FROM dt LEFT JOIN cin USING (tok) LEFT JOIN cgen USING (tok)
      |  CROSS JOIN nin CROSS JOIN ngen
      |  WHERE lang <> 'en'),
      |d AS (
      |  SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_tokens,
      |         CAST(sum(b_in) AS BIGINT) AS bits_in,
      |         CAST(sum(b_gen) AS BIGINT) AS bits_gen
      |  FROM s GROUP BY doc_id)
      |SELECT doc_id, n_tokens, bits_in, bits_gen,
      |       CAST(((bits_in - bits_gen) * 1000
      |         - ((((bits_in - bits_gen) * 1000) % n_tokens + n_tokens)
      |            % n_tokens)) // n_tokens AS BIGINT) AS ml_milli
      |FROM d
      |ORDER BY ml_milli ASC, doc_id ASC
      |LIMIT 20""".stripMargin

  private val DsirBuckets = 1024L

  /** q169: DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023): per-document log importance ratio
    * log p_target(doc)/p_raw(doc) under two hashed-feature unigram
    * models — target = the English slice, raw = the whole corpus. The
    * hashed complement to q108's Moore–Lewis: q108's LM is VOCAB-sized
    * (model grows with the corpus — at 100 TB the token table is
    * billions of rows), DSIR's is FIXED at [[DsirBuckets]] buckets
    * (md5-fold feature hashing), so the model side of the join is a
    * broadcast constant no matter how large the corpus grows — the
    * reason DSIR is the production data-selection method at scale.
    *
    * Exactness: bucket log-ratios are the fixed-point integer log2
    * (Profiling.withLog2Q12) of (ct+1)·(Tr+B) / (cr+1)·(Tt+B) —
    * add-one-smoothed rationals cross-multiplied into exact longs
    * (bounded for corpora ≤ ~3·10⁹ tokens; beyond that pre-shift the
    * counts by a common power of two before the multiply). Per-doc
    * weight is an integer sum of its tokens' bucket ratios; the one
    * double divides by dyadic 4096.
    *
    * Plan: one token explode feeding (a) a B-group aggregate with
    * map-side combine and (b) the per-doc sum after a broadcast join
    * against the 1024-row ratio table — one doc-keyed shuffle total,
    * then TakeOrdered for the top-20 ledger.
    */
  def q169DsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsOf(Tables(spark, dir).documents)

  /** NOTE the driver corpus's `lang` labels are synthetic relative to
    * its text (every language draws from the same 31-token salad — the
    * q16/q162 situation), so on THAT data the en/raw ratios hover near
    * zero and the top-20 ordering mostly reflects document length; the
    * planted disjoint-vocabulary fixture in CurationSpec is where
    * decisive positive-weight selection of target-language documents is
    * asserted.
    */
  private[graft] def dsirWeightsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val toks = docs
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
      .withColumn("b",
        conv(substring(md5($"tok"), 1, 8), 16, 10).cast("long") % DsirBuckets)
    val stats = toks.groupBy($"b").agg(
      sum(when($"lang" === "en", 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = stats.agg(sum($"ct").as("tt"), sum($"cr").as("tr"))
    val lr = stats.crossJoin(broadcast(tot))
      .withColumn("x", ($"ct" + 1) * ($"tr" + lit(DsirBuckets)))
      .withColumn("y", ($"cr" + 1) * ($"tt" + lit(DsirBuckets)))
    val bucketLr = Profiling.withLog2Q12(lr)
      .select($"b", $"log2_q12".as("lr_q12"))
    toks.join(broadcast(bucketLr), Seq("b"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_toks"), sum($"lr_q12").as("weight_q12"))
      .orderBy($"weight_q12".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"lang", $"n_toks", $"weight_q12",
        ($"weight_q12".cast("double") / 4096.0).as("weight_bits"))
  }

  /** DuckDB twin: same md5-fold bucket hash (the LSH oracles' fold),
    * same smoothed cross-multiplied ratio through the shared fixed-point
    * log2 CTE chain.
    */
  val q169Sql: String = {
    val foldH = (1 to 8).map { j =>
      val mult = 1L << (4 * (8 - j))
      s"(strpos('0123456789abcdef', substr(md5(tok), $j, 1)) - 1) * $mult"
    }.mkString(" + ")
    s"""WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |tk AS MATERIALIZED (
      |  SELECT doc_id, lang, ($foldH) % $DsirBuckets AS b
      |  FROM toks),
      |stats AS (
      |  SELECT b,
      |    CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct,
      |    CAST(count(*) AS BIGINT) AS cr
      |  FROM tk GROUP BY b),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
      |               CAST(sum(cr) AS BIGINT) AS tr FROM stats),
      |j AS (
      |  SELECT b, (ct + 1) * (tr + $DsirBuckets) AS x,
      |         (cr + 1) * (tt + $DsirBuckets) AS y
      |  FROM stats CROSS JOIN tot),
      |${Profiling.log2Q12SqlChain("j")},
      |blr AS (
      |  SELECT b, CAST(${Profiling.log2Q12SqlExpr} AS BIGINT) AS lr_q12
      |  FROM ${Profiling.log2Q12SqlOut}),
      |dw AS (
      |  SELECT t.doc_id, t.lang, CAST(count(*) AS BIGINT) AS n_toks,
      |         CAST(sum(l.lr_q12) AS BIGINT) AS weight_q12
      |  FROM tk t JOIN blr l USING (b)
      |  GROUP BY 1, 2)
      |SELECT doc_id, lang, n_toks, weight_q12,
      |  CAST(weight_q12 AS DOUBLE) / 4096.0 AS weight_bits
      |FROM dw
      |ORDER BY weight_q12 DESC, doc_id
      |LIMIT 20""".stripMargin
  }

  /** q150: cross-source quantile normalization — map each document's
    * raw quality signal (chars here; any score plugs in) to its
    * source-RELATIVE percentile, so one curation threshold means the
    * same thing in every source. Raw-score thresholds are incomparable
    * across sources (a "short" web page and a "short" paper differ by
    * 10×); q107's gate hard-codes one cut, this emits the whole
    * normalized scale — downstream mixing (q69/q91) can then sample by
    * uniform quantile instead of biased raw score.
    *
    * Scale shape: ONE window pass per source partition — percent_rank
    * over (score, doc_id) (total order ⇒ no tie ambiguity) — then the
    * decile is row-local arithmetic on the rank (NO second global
    * window/sort: floor(q·10) over the already-normalized value).
    * percent_rank = (rank−1)/(n−1) is a ratio of exact ints — emitted
    * unrounded, bit-identical cross-engine.
    */
  def q150QuantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.DistributedRank
    // the q124-class gate (see DistributedRank): (n_chars, doc_id) is a
    // total order, so percent_rank's rank IS the running row count and
    // n the partition total
    val base = Tables(spark, dir).documents
      .select($"doc_id", $"source", $"n_chars", lit(1L).as("docs"))
    DistributedRank.runningSums(base, Seq("source"),
        Seq($"n_chars", $"doc_id"), $"n_chars", "docs")
      // percent_rank = (rank−1)/(n−1), 0.0 for n = 1 — Spark's own
      // PercentRank branch, reproduced on the exact integers
      .withColumn("q", when($"total_docs" > 1,
        ($"cum_docs" - 1).cast("double") / ($"total_docs" - 1).cast("double"))
        .otherwise(0.0))
      .withColumn("decile", least(floor($"q" * 10), lit(9.0)).cast("long"))
      .select($"doc_id", $"source", $"n_chars", $"q", $"decile")
      .orderBy($"doc_id")
  }

  val q150Sql: String =
    """SELECT doc_id, source, n_chars,
      |  percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS q,
      |  CAST(least(floor(percent_rank() OVER (PARTITION BY source
      |         ORDER BY n_chars, doc_id) * 10), 9) AS BIGINT) AS decile
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** q158: contrastive triplet mining — (anchor, positive, negative)
    * training triples for embedding/reranker training. Positives are
    * the exact-Jaccard near-dup pairs (both directions, the q152
    * relevance set); negatives are DETERMINISTIC hash-ring draws: for
    * each (anchor, k) the corpus doc minimizing md5(anchor|k|doc)
    * WITHIN the hash bucket addressed by md5(anchor|k), and reruns/
    * backfills regenerate the identical triples (no RNG state to
    * version).
    *
    * Scale shape: corpus docs bucket once (row-local md5); the draw is
    * an equi-join on the bucket id followed by a (anchor, k) min-fold.
    * The bucket count SCALES with the corpus — max(256, n/64) — so the
    * per-draw candidate set stays ~64 docs and join volume is
    * |pairs|·K·64, LINEAR in corpus growth (a fixed 256-bucket ring
    * made every draw scan n/256 candidates: measured 190s of draw-join
    * at sf10, quadratic-by-stealth since pair count also grows with n).
    * Below n = 16384 the floor keeps the historical 256 ring, so
    * small-corpus draws are unchanged. The count is read once at
    * plan-build time; a production backfill pins it in pipeline
    * metadata so a grown corpus can't silently re-address old draws.
    * Anchors and their positives are excluded from the candidate set;
    * excluding deeper near-dup rings composes by feeding q65's cluster
    * table in as the exclusion side. Output contract: every (anchor,
    * positive, k) draw appears exactly once — a draw whose bucket holds
    * no candidate besides the anchor/positive emits negative = NULL, so
    * a consumer can DETECT an under-drawn anchor instead of silently
    * training on fewer than K negatives.
    */
  val TripletK = 3
  val NegBuckets = 256

  /** Corpus-count cache keyed by sf dir: the ring size is pinned at
    * plan-build time (see tripletsOf scaladoc), but repeated plan builds
    * of the SAME corpus (bench reps, plan audits, verify dumps) must not
    * each pay a full documents scan. Dev-harness convenience only — a
    * production backfill pins the count in pipeline metadata instead.
    */
  private val docCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def q158TripletMining(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val n: Long = docCountCache.computeIfAbsent(dir, _ => docs.count())
    tripletsOf(docs, math.max(NegBuckets.toLong, n / 64L).toInt)
  }

  private[graft] def tripletsOf(docs: DataFrame,
      negBuckets: Int = NegBuckets): DataFrame = {
    import docs.sparkSession.implicits._
    def md5mod(c: Column): Column =
      pmod(conv(substring(md5(c), 1, 15), 16, 10).cast("long"), lit(negBuckets.toLong))
    val pairs = DedupOps.jaccardPairs(docs, 0.5).select($"doc_a", $"doc_b")
    // symmetrize by a row-local explode, NOT a self-union: a union's two
    // branches each embed the (expensive — inverted-index Jaccard) pair
    // subplan, so deriving the anchor frame would run it twice (the
    // connectedComponents lesson; measured 333s → the jaccardPairs leg
    // halves at sf10)
    val anchors = pairs
      .select(explode(array(
        struct($"doc_a".as("anchor"), $"doc_b".as("positive")),
        struct($"doc_b".as("anchor"), $"doc_a".as("positive")))).as("e"))
      .select($"e.anchor".as("anchor"), $"e.positive".as("positive"),
        explode(array((1 to TripletK).map(lit(_)): _*)).as("k"))
      .withColumn("bucket", md5mod(concat_ws("|", $"anchor", $"k")))
      .ckpt()
    val buckets = docs.select($"doc_id".as("neg_cand"),
      md5mod($"doc_id".cast("string")).as("bucket"))
    val drawn = anchors.join(buckets, "bucket")
      .filter($"neg_cand" =!= $"anchor" && $"neg_cand" =!= $"positive")
      .withColumn("draw",
        md5(concat_ws("|", $"anchor", $"k", $"neg_cand")))
      .groupBy($"anchor", $"positive", $"k")
      .agg(min(struct($"draw", $"neg_cand")).as("m"))
      .select($"anchor", $"positive", $"k", $"m.neg_cand".as("negative"))
    // Short-draw contract: a hash bucket can contain no candidate other
    // than the anchor/positive — rejoin the full (anchor, positive, k)
    // grid so such draws surface as negative = NULL instead of silently
    // vanishing (a trainer must be able to SEE it got < K negatives).
    anchors.select($"anchor", $"positive", $"k")
      .join(drawn, Seq("anchor", "positive", "k"), "left")
      .select($"anchor", $"positive", $"k".cast("long").as("k"), $"negative")
      .orderBy($"anchor", $"positive", $"k")
  }

  val q158Sql: String = {
    val md5mod15 = (e: String) =>
      s"""(${(1 to 15).map { j =>
        val mult = 1L << (4 * (15 - j))
        s"(strpos('0123456789abcdef', substr(md5($e), $j, 1)) - 1) * $mult"
      }.mkString(" + ")}) % (SELECT nb FROM nbk)"""
    s"""WITH nbk AS (
      |  SELECT GREATEST($NegBuckets, CAST(count(*) AS BIGINT) // 64) AS nb
      |  FROM documents),
      |t2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT doc_id, list_distinct(${DedupOps.TrigramSqlExpr}) AS shingles
      |       FROM t2 WHERE len(t) >= 3),
      |counts AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
      |post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
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
      |anchors AS MATERIALIZED (
      |  SELECT anchor, positive, k,
      |         ${md5mod15("anchor || '|' || k")} AS bucket
      |  FROM (SELECT doc_a AS anchor, doc_b AS positive FROM truth
      |        UNION ALL SELECT doc_b, doc_a FROM truth)
      |  CROSS JOIN (SELECT unnest(range(1, ${TripletK + 1})) AS k)),
      |buckets AS MATERIALIZED (
      |  SELECT doc_id AS neg_cand,
      |         ${md5mod15("CAST(doc_id AS VARCHAR)")} AS bucket
      |  FROM documents),
      |cand AS (
      |  SELECT a.anchor, a.positive, a.k, b.neg_cand,
      |         md5(a.anchor || '|' || a.k || '|' || b.neg_cand) AS draw
      |  FROM anchors a JOIN buckets b USING (bucket)
      |  WHERE b.neg_cand <> a.anchor AND b.neg_cand <> a.positive),
      |drawn AS (
      |  SELECT anchor, positive, k, min_by(neg_cand, draw) AS negative
      |  FROM cand GROUP BY anchor, positive, k)
      |SELECT anchor, positive, k, negative
      |FROM anchors LEFT JOIN drawn USING (anchor, positive, k)
      |ORDER BY anchor, positive, k""".stripMargin
  }

  /** q179: TEMPERATURE-SAMPLED mixture weights DERIVED from measured
    * token mass — the missing upstream of the mixing family: q69/q91
    * consume GIVEN target weights; this computes them. Proportional
    * (α=1) sampling lets the biggest crawl source drown the rest;
    * uniform (α=0) starves it. The standard compromise is temperature
    * sampling p_s ∝ (share_s)^α (Arivazhagan et al. 2019 for
    * multilingual MT, the same rule LLM pretraining mixes use), pinned
    * here at α = 0.5 — i.e. √share — because √ is the one power IEEE
    * 754 requires CORRECTLY ROUNDED: both engines compute bit-identical
    * doubles, where a libm pow(x, 0.3) would drift in the last ulp (the
    * no-libm rule, PLANS.md).
    *
    * Normalization is deliberately RELATIVE-TO-THE-LARGEST source, not
    * sum-to-one: a sum over per-source √share doubles would be a
    * cross-row float sum (the q87/q156 rule — partial-merge order
    * varies), while max() of exact longs is order-free. temp_weight =
    * √(n_tokens/max_tokens) ∈ (0,1] and boost = √(max_tokens/n_tokens)
    * (how many times its proportional rate a source is oversampled,
    * relative to the head source) carry the same information — a
    * consumer normalizes locally over its ≤|sources|-row ledger.
    *
    * Scale shape: ONE groupBy(source) over a row-local word count
    * (length arithmetic, single-space contract — no split() array), with
    * map-side partial aggregation; the per-source ledger is published
    * once so the totals leg reads the |sources|-row copy instead of
    * re-embedding the corpus scan, and the 1-row (total, max) frame
    * rides in as a broadcast. Output is |sources| rows at any corpus
    * size.
    * share_ppm's ×10⁶ stays inside int64 for corpora ≤ ~9·10¹² tokens
    * (DuckDB would silently promote to HUGEINT while Spark overflows —
    * an engine DIVERGENCE, not just a wrong number); beyond that,
    * pre-shift the counts — the q169 pattern.
    */
  def q179MixtureWeights(spark: SparkSession, dir: String): DataFrame =
    mixtureWeightsOf(Tables(spark, dir).documents)

  private[graft] def mixtureWeightsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val words = when(length($"text") === 0, 0L)
      .otherwise((length($"text") - length(translate($"text", " ", "")) + 1)
        .cast("long"))
    // published ONCE: both the output rows and the totals frame derive
    // from perSource, and without the publish the groupBy-over-documents
    // subplan embeds twice — two corpus scans unless AQE reuse rescues
    // it (the unpublished-shared-subplan lesson q178's comment records;
    // flagged here by ADVICE r14). |sources| rows, so the ckpt is free.
    val perSource = docs
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum(words).as("n_tokens"))
      .ckpt()
    val totals = perSource.agg(
      sum($"n_tokens").as("total_tokens"), max($"n_tokens").as("max_tokens"))
    perSource.crossJoin(broadcast(totals))
      .select($"source", $"n_docs", $"n_tokens",
        expr("(n_tokens * 1000000) div total_tokens").as("share_ppm"),
        // exact-long quotient → IEEE sqrt: bit-identical cross-engine
        when($"max_tokens" > 0,
          sqrt($"n_tokens".cast("double") / $"max_tokens")).as("temp_weight"),
        when($"n_tokens" > 0,
          sqrt($"max_tokens".cast("double") / $"n_tokens")).as("boost"))
      .orderBy($"n_tokens".desc, $"source")
  }

  val q179Sql: String =
    """WITH ps AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(CASE WHEN length(text) = 0 THEN 0
      |      ELSE length(text) - length(replace(text, ' ', '')) + 1 END)
      |      AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |             CAST(max(n_tokens) AS BIGINT) AS max_tokens FROM ps)
      |SELECT source, n_docs, n_tokens,
      |  (n_tokens * 1000000) // total_tokens AS share_ppm,
      |  CASE WHEN max_tokens > 0
      |       THEN sqrt(CAST(n_tokens AS DOUBLE) / max_tokens) END
      |    AS temp_weight,
      |  CASE WHEN n_tokens > 0
      |       THEN sqrt(CAST(max_tokens AS DOUBLE) / n_tokens) END AS boost
      |FROM ps CROSS JOIN t
      |ORDER BY n_tokens DESC, source""".stripMargin

  /** q187: pack the EXCISED corpus — the stage q181's fragments exist to
    * feed, composed end to end: dup-span excision (q180/q181 semantics,
    * first-owner keeps, min-fragment floor) followed by q66's
    * concatenate-and-split packing into [[PackWindow]]-token training
    * windows, per source in (doc_id, start_pos) order. Per fragment:
    * its packed-stream offset and the window span it lands in. The
    * composition is the point — whole-doc packing (q66) over-counts by
    * exactly the excised mass, and this ledger prices the REAL
    * post-dedup training stream (Σ per-source offsets+tokens = kept
    * tokens, never raw tokens).
    *
    * Scale shape: the fragment-interval frame is q181's (digests and
    * interval endpoints on every shuffle — text never moves here, not
    * even once: packing needs only lengths); the offset window
    * partitions by source exactly like q66.
    */
  def q187ExcisedPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.DistributedRank
    val docs = Tables(spark, dir).documents
    val toks = docs.select($"doc_id", split($"text", " ").as("t"))
    val frags = DedupOps.exciseFragIntervals(toks)
    val withSrc = frags.join(docs.select($"doc_id", $"source"), Seq("doc_id"))
    // the q124-class gate (see DistributedRank): the per-source offset
    // is the exclusive running token count. A document's fragments
    // share its doc_id bucket, so the (doc_id, start_pos) order is
    // bucket-consistent past the gate.
    DistributedRank.runningSums(withSrc, Seq("source"),
        Seq($"doc_id", $"start_pos"), $"doc_id", "frag_tokens")
      .withColumn("start_off", $"cum_frag_tokens" - $"frag_tokens")
      .select($"source", $"doc_id", $"start_pos", $"frag_tokens", $"start_off",
        expr(s"start_off div $PackWindow").as("window_start"),
        expr(s"(start_off + frag_tokens - 1) div $PackWindow").as("window_end"))
      .orderBy($"source", $"doc_id", $"start_pos")
  }

  /** DuckDB twin: q181's fragment-interval pipeline (no text slice) +
    * q66's offset/window arithmetic per source.
    */
  val q187Sql: String = {
    val spanN = DedupOps.SpanN
    val minFrag = DedupOps.MinFragTokens
    s"""WITH toks AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
       |win AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |         md5(array_to_string(t[i:i+${spanN - 1}], ' ')) AS g
       |  FROM toks, unnest(range(1, len(t) - ${spanN - 2})) AS u(i)
       |  WHERE len(t) >= $spanN),
       |own AS (SELECT g, min(doc_id) AS first_doc FROM win GROUP BY g),
       |exc AS (SELECT win.doc_id, pos FROM win JOIN own USING (g)
       |        WHERE first_doc < win.doc_id),
       |m AS (
       |  SELECT doc_id, pos,
       |    coalesce(max(pos + ${spanN - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
       |  FROM exc),
       |i2 AS (
       |  SELECT doc_id, pos,
       |    sum(CASE WHEN pos > prev_end + 1 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM m),
       |isl AS (
       |  SELECT doc_id, isl, min(pos) AS s, max(pos) + ${spanN - 1} AS e
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
       |  SELECT * FROM mid WHERE frag_tokens >= $minFrag
       |  UNION ALL
       |  SELECT * FROM tl WHERE frag_tokens >= $minFrag),
       |o AS (
       |  SELECT d.source, f.doc_id, CAST(f.start_pos AS BIGINT) AS start_pos,
       |         CAST(f.frag_tokens AS BIGINT) AS frag_tokens,
       |         CAST(coalesce(sum(f.frag_tokens) OVER (
       |           PARTITION BY d.source ORDER BY f.doc_id, f.start_pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |           AS start_off
       |  FROM fr f JOIN (SELECT doc_id, source FROM documents) d
       |    USING (doc_id))
       |SELECT source, doc_id, start_pos, frag_tokens, start_off,
       |       start_off // $PackWindow AS window_start,
       |       (start_off + frag_tokens - 1) // $PackWindow AS window_end
       |FROM o
       |ORDER BY source, doc_id, start_pos""".stripMargin
  }

  /** q186: token-BALANCED shard layout vs hash sharding — the layout
    * question q72 leaves open: hash sharding equalizes DOC counts, but
    * training steps are paced by TOKENS, so a token-skewed corpus gives
    * hash shards unequal work (straggler shards). This derives the
    * classic remedy — assign docs to shards round-robin in descending
    * token order — and prices it against the q72 hash baseline in one
    * output: per shard, docs and token mass under both layouts.
    *
    * The global sort-desc round-robin is computed WITHOUT a global
    * window: docs with the SAME token count are interchangeable for
    * balance, so ranking partitions by (exact count × a doc_id-hash
    * sub-bucket of [[RankBuckets]]) and each cell's round-robin offset
    * comes from the tiny (lengths × buckets) ledger (cumulative count of
    * cells earlier in the global descending order, mod K). The
    * sub-bucket matters under realistic skew (ADVICE r15): a
    * length-clipped corpus concentrates most docs on ONE word count, and
    * a plain partition-by-count window would funnel that entire
    * population through a single straggler partition — bucketing bounds
    * every window partition by ~group/[[RankBuckets]] regardless of the
    * length distribution. The output is EXACTLY the unbucketed layout's:
    * a cell's docs occupy the same global rank range either way, and
    * both emitted ledgers are marginals that are invariant to which
    * same-length doc takes which rank. The two layout ledgers then roll
    * up from ONE (bal_shard × hash_shard) aggregate — ≤ K² rows
    * published once — so the corpus contributes one aggregation pass,
    * not two. At cluster scale, raise [[RankBuckets]] with parallelism;
    * the ledger stays ≤ lengths×buckets rows, far under broadcast size.
    */
  def q186BalancedShards(spark: SparkSession, dir: String): DataFrame =
    balancedShards(Tables(spark, dir).documents)

  private[graft] def balancedShards(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = docs.select($"doc_id",
      TextOps.wordCount($"text").as("n_words"),
      (conv(substring(md5(concat(lit("gs|"), $"doc_id".cast("string"))), 1, 8),
        16, 10).cast("long") % NumShards).as("hash_shard"),
      // skew guard: same-length docs are interchangeable, so the rank
      // window sub-partitions by a salted doc_id hash — no single window
      // partition absorbs a dominant word count (ADVICE r15)
      (conv(substring(md5(concat(lit("gb|"), $"doc_id".cast("string"))), 1, 8),
        16, 10).cast("long") % RankBuckets).as("bkt"))
    val wCnt = Window.partitionBy($"n_words", $"bkt").orderBy($"doc_id")
    val ranked = d.withColumn("rn", row_number().over(wCnt).cast("long"))
    // (length × bucket) ledger: offset of each cell in the global
    // descending-length order (a narrow second scan; the ledger itself is
    // tiny — ≤ distinct-lengths × RankBuckets rows)
    val offs = d.groupBy($"n_words", $"bkt").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum($"cnt").over(Window.orderBy($"n_words".desc, $"bkt".asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"n_words", $"bkt", $"off")
    val assigned = ranked.join(broadcast(offs), Seq("n_words", "bkt"))
      .withColumn("bal_shard", ($"off" + $"rn" - 1L) % NumShards)
    val cross = assigned
      .groupBy($"bal_shard", $"hash_shard")
      .agg(count(lit(1)).as("n"), sum($"n_words").as("tok"))
      .ckpt() // ≤ K² rows; both layout ledgers derive from it
    val bal = cross.groupBy($"bal_shard".as("shard"))
      .agg(sum($"n").as("bal_docs"), sum($"tok").as("bal_tokens"))
    val hsh = cross.groupBy($"hash_shard".as("shard"))
      .agg(sum($"n").as("hash_docs"), sum($"tok").as("hash_tokens"))
    bal.join(hsh, Seq("shard"), "full_outer")
      .select($"shard",
        coalesce($"bal_docs", lit(0L)).as("bal_docs"),
        coalesce($"bal_tokens", lit(0L)).as("bal_tokens"),
        coalesce($"hash_docs", lit(0L)).as("hash_docs"),
        coalesce($"hash_tokens", lit(0L)).as("hash_tokens"))
      .orderBy($"shard")
  }

  /** DuckDB twin: q72's hash fold for the baseline, the same
    * count-partitioned rank + ledger offset for the balanced layout,
    * ledgers rolled up from the MATERIALIZED K×K cross frame.
    *
    * INTENTIONAL twin divergence (ADVICE r16): this twin ranks with the
    * unbucketed window (PARTITION BY n_words only) while the Spark lane
    * ranks by (n_words, bkt). Parity holds because the emitted output is
    * the two MARGINAL ledgers, which are invariant to how rank
    * permutes within one n_words class — if the per-doc assignment or
    * the (bal_shard × hash_shard) cross frame is ever surfaced as
    * output, this twin must grow the same sub-bucket.
    */
  val q186Sql: String = {
    val foldH = (1 to 8).map { j =>
      val mult = 1L << (4 * (8 - j))
      s"(strpos('0123456789abcdef', substr(pr, $j, 1)) - 1) * $mult"
    }.mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, ${TextOps.wordCountSql} AS n_words,
       |         md5('gs|' || CAST(doc_id AS VARCHAR)) AS pr
       |  FROM documents),
       |d2 AS (SELECT doc_id, n_words,
       |              CAST(($foldH) % $NumShards AS BIGINT) AS hash_shard
       |       FROM d),
       |r AS (SELECT doc_id, n_words, hash_shard,
       |             row_number() OVER (PARTITION BY n_words ORDER BY doc_id)
       |               AS rn
       |      FROM d2),
       |l AS (SELECT n_words, count(*) AS cnt FROM d2 GROUP BY 1),
       |o AS (SELECT n_words,
       |             coalesce(sum(cnt) OVER (ORDER BY n_words DESC
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |               AS off
       |      FROM l),
       |a AS (SELECT r.*, CAST((o.off + rn - 1) % $NumShards AS BIGINT)
       |               AS bal_shard
       |      FROM r JOIN o USING (n_words)),
       |x AS MATERIALIZED (
       |  SELECT bal_shard, hash_shard, count(*) AS n, sum(n_words) AS tok
       |  FROM a GROUP BY 1, 2),
       |b AS (SELECT bal_shard AS shard, CAST(sum(n) AS BIGINT) AS bal_docs,
       |             CAST(sum(tok) AS BIGINT) AS bal_tokens
       |      FROM x GROUP BY 1),
       |h AS (SELECT hash_shard AS shard, CAST(sum(n) AS BIGINT) AS hash_docs,
       |             CAST(sum(tok) AS BIGINT) AS hash_tokens
       |      FROM x GROUP BY 1)
       |SELECT coalesce(b.shard, h.shard) AS shard,
       |  coalesce(bal_docs, CAST(0 AS BIGINT)) AS bal_docs,
       |  coalesce(bal_tokens, CAST(0 AS BIGINT)) AS bal_tokens,
       |  coalesce(hash_docs, CAST(0 AS BIGINT)) AS hash_docs,
       |  coalesce(hash_tokens, CAST(0 AS BIGINT)) AS hash_tokens
       |FROM b FULL OUTER JOIN h ON b.shard = h.shard
       |ORDER BY shard""".stripMargin
  }

  /** q183: token-budget data selection — the admission PLAN for "train
    * on the best half of the corpus". Given the q18/q68 quality score
    * and a token budget (half the corpus's token mass — SF-invariant,
    * so every gate scale sees a live boundary), derive the quality
    * threshold by consuming score VENTILES best-first: each of the 20
    * buckets is fully admitted while it fits, exactly one straddles the
    * budget (admitted pro-tanto), the rest are rejected. Output is the
    * 20-row-bounded admission ledger (bucket, docs, tokens, cumulative,
    * status, tokens_taken); Σ tokens_taken = budget exactly (integer
    * arithmetic, spec-pinned).
    *
    * The histogram IS the scale story: ranking a 100 TB corpus by score
    * is a full-corpus range-partitioned sort; a 20-bucket histogram is
    * one partial-agg-combinable aggregate over a scan, and the
    * threshold falls out of a 20-row frame. The doc-level cut inside
    * the single straddling ventile (which docs fill the last
    * `tokens_taken`) is the consumer's tie-break policy; this operator
    * prices the plan — the same plan-not-rows contract as q101/q134.
    * The bucketed totals publish once ([[Ckpt]]) so the budget leg
    * derives from the 20-row frame, not a second corpus scan (the r14
    * unpublished-shared-subplan lesson).
    */
  def q183BudgetSelect(spark: SparkSession, dir: String): DataFrame =
    budgetSelect(Tables(spark, dir).documents)

  private[graft] def budgetSelect(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val b = docs
      .select(
        least(lit(19L), floor(TextOps.qualityCol * 20).cast("long")).as("bucket"),
        TextOps.wordCount($"text").as("n_words"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("bucket_tokens"))
      .ckpt()
    val tot = b.agg(expr("sum(bucket_tokens) div 2").as("budget"))
    val cumW = Window.orderBy($"bucket".desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    b.crossJoin(broadcast(tot))
      .withColumn("cum_tokens", sum($"bucket_tokens").over(cumW))
      .select(
        $"bucket", $"n_docs", $"bucket_tokens", $"cum_tokens",
        when($"cum_tokens" <= $"budget", "full")
          .when($"cum_tokens" - $"bucket_tokens" < $"budget", "partial")
          .otherwise("rejected").as("status"),
        when($"cum_tokens" <= $"budget", $"bucket_tokens")
          .when($"cum_tokens" - $"bucket_tokens" < $"budget",
            $"budget" - ($"cum_tokens" - $"bucket_tokens"))
          .otherwise(lit(0L)).as("tokens_taken"))
      .orderBy($"bucket".desc)
  }

  /** DuckDB twin: same ventile bucketing, same integer budget, same
    * best-first cumulative admission. The bucket CTE is MATERIALIZED —
    * it feeds both the ledger and the budget leg.
    */
  val q183Sql: String =
    s"""WITH b AS MATERIALIZED (
       |  SELECT least(19, CAST(floor(${TextOps.qualitySqlExpr} * 20) AS BIGINT))
       |           AS bucket,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(${TextOps.wordCountSql}) AS BIGINT) AS bucket_tokens
       |  FROM documents GROUP BY 1),
       |t AS (SELECT CAST(sum(bucket_tokens) AS BIGINT) // 2 AS budget FROM b),
       |c AS (
       |  SELECT b.*, t.budget,
       |    CAST(sum(bucket_tokens) OVER (ORDER BY bucket DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM b CROSS JOIN t)
       |SELECT bucket, n_docs, bucket_tokens, cum_tokens,
       |  CASE WHEN cum_tokens <= budget THEN 'full'
       |       WHEN cum_tokens - bucket_tokens < budget THEN 'partial'
       |       ELSE 'rejected' END AS status,
       |  CASE WHEN cum_tokens <= budget THEN bucket_tokens
       |       WHEN cum_tokens - bucket_tokens < budget
       |         THEN budget - (cum_tokens - bucket_tokens)
       |       ELSE CAST(0 AS BIGINT) END AS tokens_taken
       |FROM c
       |ORDER BY bucket DESC""".stripMargin

  /** q193: quality-gate FUNNEL report (r16) — per-stage attrition of a
    * fixed filter pipeline, the table a curation run prints before
    * anyone trusts its output corpus: each doc is charged to its FIRST
    * failing gate, so the stages sum to the corpus exactly and the
    * report answers "which gate is eating my data" at a glance.
    *
    * Gates in pipeline order, all with INTEGER-EXACT thresholds (no
    * cross-engine double comparisons anywhere near the branch):
    *   1. `1_too_short`   — n_words < 5
    *   2. `2_repetitive`  — 2·dup_trigrams > n_trigrams (q190's
    *      row-local sorted-neighborhood machinery, ratio > 1/2)
    *   3. `3_digit_heavy` — 5·n_digits > n_chars (digit share > 1/5)
    *   4. `4_kept`
    * Stage labels carry their pipeline index so ORDER BY stage IS the
    * funnel order.
    *
    * Scale shape: every gate input is row-local (word count, in-row
    * trigram sort, two length() calls) — one corpus scan into a
    * ≤4-group aggregate; nothing shuffles but the 4-row result.
    */
  def q193FilterFunnel(spark: SparkSession, dir: String): DataFrame =
    filterFunnelOf(Tables(spark, dir).documents)

  private[graft] def filterFunnelOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val d = docs
      .select($"doc_id",
        TextOps.wordCount($"text").as("nw"),
        length($"text").cast("long").as("nc"),
        length(regexp_replace($"text", "[^0-9]", "")).cast("long").as("nd"),
        $"text")
      // trigrams + singleton count via the shared codegen'd kernels
      // (TextExpressions.wordTrigrams / sortedSingletonCount) — sub-3-
      // token docs get an empty array and singletons 0 from the kernels
      // themselves, so the former descending-sequence / ANSI empty-index
      // guards are structural now, not expression-level IFs
      .withColumn("gs",
        array_sort(graft.plans.TextExpressions.wordTrigrams($"text")))
      .withColumn("ngrams", size($"gs").cast("long"))
      .withColumn("singles",
        graft.plans.TextExpressions.sortedSingletonCount($"gs"))
      .withColumn("stage",
        when($"nw" < 5L, "1_too_short")
          .when(($"ngrams" - $"singles") * 2L > $"ngrams", "2_repetitive")
          .when($"nd" * 5L > $"nc", "3_digit_heavy")
          .otherwise("4_kept"))
    d.groupBy($"stage")
      .agg(count(lit(1)).as("n_docs"), sum($"nw").as("tokens"))
      .orderBy($"stage")
  }

  /** DuckDB twin: grouped trigram counts (q190's twin shape) left-joined
    * back, identical integer gate arithmetic. `filter(sequence(0, -1))`
    * has no DuckDB mirror, so the twin takes the aggregate route — same
    * exact integers either way.
    */
  val q193Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |         ${TextOps.wordCountSql} AS nw,
      |         CAST(length(text) AS BIGINT) AS nc,
      |         CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
      |           AS nd
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
      |  FROM t, unnest(range(1, len(t) - 1)) AS u(i)
      |  WHERE len(t) >= 3),
      |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
      |r AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS ngrams,
      |             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
      |               AS dup
      |      FROM c GROUP BY 1),
      |v AS (
      |  SELECT t.doc_id, nw,
      |    CASE WHEN nw < 5 THEN '1_too_short'
      |         WHEN coalesce(dup, 0) * 2 > coalesce(ngrams, 0)
      |           THEN '2_repetitive'
      |         WHEN nd * 5 > nc THEN '3_digit_heavy'
      |         ELSE '4_kept' END AS stage
      |  FROM t LEFT JOIN r USING (doc_id))
      |SELECT stage, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(nw) AS BIGINT) AS tokens
      |FROM v GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** q194: FUSED corpus-profile report (r17, verdict order 4) — the
    * one-pass scan a production curation stack actually runs. q15
    * (token/length stats), q90 (padded-batching mass), q190 (duplicate
    * trigram ratio), q191 (PII counts) and q193 (first-failing-gate
    * funnel) each scan `documents` end-to-end for signals that are ALL
    * row-local; at 100 TB five scans of the same corpus is four too
    * many. This operator computes every signal in ONE pass — scan →
    * project (all signals as columns) → a single |sources|-group
    * partial+final aggregate — and reports the per-source profile:
    * volume (docs/chars/words), repetition mass (trigram totals and the
    * corpus dup ratio), PII incidence (docs and hits), the q193 gate
    * attrition as first-failing-gate counts, and q90's padding waste at
    * power-of-two caps.
    *
    * The single-signal queries stay registered as the per-signal oracle
    * twins; this report is itself oracle-checked (the DuckDB twin takes
    * the grouped-trigram route, q190's twin shape). Integer-exact
    * everywhere except the two final ratio divisions, both zero-guarded
    * the same way in both lanes (an all-short-docs source has zero
    * trigrams; the fuzz fixtures exercise it).
    *
    * Scale notes measured at sf1 (PERF.md r17): the fused pass runs in
    * ~the cost of its most expensive constituent (the in-row trigram
    * sort) — the other four signals ride the same scan for free; the
    * shuffle is a ≤|sources|-row aggregate either way.
    */
  def q194CorpusProfile(spark: SparkSession, dir: String): DataFrame =
    corpusProfileOf(Tables(spark, dir).documents)

  private[graft] def corpusProfileOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val piiCols = TextOps.PiiPatterns.map { case (name, pat) =>
      expr(s"CAST(size(regexp_extract_all(text, '$pat', 0)) AS BIGINT)")
        .as(name)
    }
    val cap = expr("""CASE WHEN nw = 1 THEN CAST(1 AS BIGINT)
      ELSE shiftleft(CAST(1 AS BIGINT),
                     CAST(length(bin(nw - 1)) AS INT)) END""")
    val d = docs
      .select(Seq($"source", $"text",
        TextOps.wordCount($"text").as("nw"),
        length($"text").cast("long").as("nc"),
        length(regexp_replace($"text", "[^0-9]", "")).cast("long").as("nd"),
        $"text") ++ piiCols: _*)
      // q193's kernel trigram derivation verbatim (wordTrigrams /
      // sortedSingletonCount): sub-3-token docs get an empty array and
      // singletons 0 from the kernels — no expression-level guards
      .withColumn("gs",
        array_sort(graft.plans.TextExpressions.wordTrigrams($"text")))
      .withColumn("ngrams", size($"gs").cast("long"))
      .withColumn("singles",
        graft.plans.TextExpressions.sortedSingletonCount($"gs"))
      .withColumn("dup", $"ngrams" - $"singles")
      .withColumn("pii",
        TextOps.PiiPatterns.map(p => col(p._1)).reduce(_ + _))
      .withColumn("stage",
        when($"nw" < 5L, "short")
          .when($"dup" * 2L > $"ngrams", "repetitive")
          .when($"nd" * 5L > $"nc", "digit_heavy")
          .otherwise("kept"))
      .withColumn("cap", cap)
    d.groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"nc").as("n_chars"),
        sum($"nw").as("n_words"),
        sum($"ngrams").as("n_grams"),
        sum($"dup").as("dup_grams"),
        sum(when($"pii" > 0L, 1L).otherwise(0L)).as("pii_docs"),
        sum($"pii").as("pii_hits"),
        sum(when($"stage" === "short", 1L).otherwise(0L)).as("short_docs"),
        sum(when($"stage" === "repetitive", 1L).otherwise(0L))
          .as("repetitive_docs"),
        sum(when($"stage" === "digit_heavy", 1L).otherwise(0L))
          .as("digit_heavy_docs"),
        sum(when($"stage" === "kept", 1L).otherwise(0L)).as("kept_docs"),
        sum($"cap").as("padded_tokens"))
      .select($"source", $"n_docs", $"n_chars", $"n_words",
        $"n_grams", $"dup_grams",
        when($"n_grams" === 0L, lit(0.0))
          .otherwise($"dup_grams".cast("double") / $"n_grams")
          .as("dup_ratio"),
        $"pii_docs", $"pii_hits",
        $"short_docs", $"repetitive_docs", $"digit_heavy_docs",
        $"kept_docs", $"padded_tokens",
        // cap ≥ 1 per doc forces padded_tokens ≥ n_docs ≥ 1, so the
        // guard is structurally unreachable — but it keeps the "both
        // ratio divisions zero-guarded the same way in both lanes"
        // contract literally true (ADVICE r17)
        when($"padded_tokens" === 0L, lit(0.0))
          .otherwise(
            ($"padded_tokens" - $"n_words").cast("double") / $"padded_tokens")
          .as("pad_waste"))
      .orderBy($"source")
  }

  /** DuckDB twin: per-doc row-local signals in one CTE, the grouped
    * trigram counts (q190's twin shape) left-joined back, one GROUP BY
    * source. Same integers, same two zero-guarded double divisions.
    */
  val q194Sql: String = {
    val piiCols = TextOps.PiiPatterns.map { case (name, pat) =>
      s"CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS $name"
    }.mkString(",\n    ")
    val piiTotal = TextOps.PiiPatterns.map(_._1).mkString(" + ")
    s"""WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t,
      |    ${TextOps.wordCountSql} AS nw,
      |    CAST(length(text) AS BIGINT) AS nc,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
      |      AS nd,
      |    $piiCols
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, array_to_string(t[i:i+2], ' ') AS g
      |  FROM t, unnest(range(1, len(t) - 1)) AS u(i)
      |  WHERE len(t) >= 3),
      |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
      |r AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS ngrams,
      |             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
      |               AS dup
      |      FROM c GROUP BY 1),
      |v AS (
      |  SELECT t.source, t.nw, t.nc, t.nd,
      |    coalesce(r.ngrams, 0) AS ngrams, coalesce(r.dup, 0) AS dup,
      |    $piiTotal AS pii,
      |    CASE WHEN nw < 5 THEN 'short'
      |         WHEN coalesce(dup, 0) * 2 > coalesce(ngrams, 0)
      |           THEN 'repetitive'
      |         WHEN nd * 5 > nc THEN 'digit_heavy'
      |         ELSE 'kept' END AS stage,
      |    CASE WHEN nw = 1 THEN CAST(1 AS BIGINT)
      |         ELSE CAST(1 AS BIGINT) << CAST(length(bin(nw - 1)) AS INTEGER)
      |         END AS cap
      |  FROM t LEFT JOIN r USING (doc_id))
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(nc) AS BIGINT) AS n_chars,
      |  CAST(sum(nw) AS BIGINT) AS n_words,
      |  CAST(sum(ngrams) AS BIGINT) AS n_grams,
      |  CAST(sum(dup) AS BIGINT) AS dup_grams,
      |  CASE WHEN sum(ngrams) = 0 THEN CAST(0 AS DOUBLE)
      |       ELSE CAST(sum(dup) AS DOUBLE) / CAST(sum(ngrams) AS BIGINT)
      |       END AS dup_ratio,
      |  CAST(sum(CASE WHEN pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
      |  CAST(sum(pii) AS BIGINT) AS pii_hits,
      |  CAST(sum(CASE WHEN stage = 'short' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS short_docs,
      |  CAST(sum(CASE WHEN stage = 'repetitive' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS repetitive_docs,
      |  CAST(sum(CASE WHEN stage = 'digit_heavy' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS digit_heavy_docs,
      |  CAST(sum(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS kept_docs,
      |  CAST(sum(cap) AS BIGINT) AS padded_tokens,
      |  CASE WHEN sum(cap) = 0 THEN CAST(0 AS DOUBLE)
      |       ELSE CAST(sum(cap) - sum(nw) AS DOUBLE) / CAST(sum(cap) AS BIGINT)
      |       END AS pad_waste
      |FROM v
      |GROUP BY 1
      |ORDER BY 1""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("q194_corpus_profile", q194CorpusProfile, Some(q194Sql),
      Seq("X-curation", "X-scale"),
      "fused one-pass corpus profile: q15/q90/q190/q191/q193's row-local signals in a single scan, per-source report"),
    Q("q193_filter_funnel", q193FilterFunnel, Some(q193Sql),
      Seq("X-curation", "X-scale"),
      "quality-gate funnel: first-failing-gate attrition report, integer-exact thresholds, one corpus scan"),
    Q("q183_budget_select", q183BudgetSelect, Some(q183Sql),
      Seq("X-curation", "X-sample", "X-scale"),
      "token-budget data selection: quality-ventile admission ledger — best buckets first until the budget fills"),
    Q("q186_balanced_shards", q186BalancedShards, Some(q186Sql),
      Seq("X-curation", "X-scale"),
      "token-balanced shard layout vs q72's hash baseline: descending round-robin without a global window"),
    Q("q187_excised_pack", q187ExcisedPack, Some(q187Sql),
      Seq("X-curation", "X-dedup", "X-scale"),
      "pack the excised corpus: q181's fragments through q66's window math — the real post-dedup training stream"),
    Q("q179_mixture_weights", q179MixtureWeights, Some(q179Sql),
      Seq("X-curation", "X-sample", "X-scale"),
      "temperature (alpha=0.5) mixture weights from measured token mass: sqrt-tempered, max-relative"),
    Q("q158_triplet_mining", q158TripletMining, Some(q158Sql),
      Seq("X-curation", "X-sample", "X-scale"),
      "contrastive triplet mining: near-dup positives + deterministic hash-ring negatives"),
    Q("q150_quantile_normalize", q150QuantileNormalize, Some(q150Sql),
      Seq("X-curation", "X-sample"),
      "cross-source quantile normalization: per-source percent_rank to a shared scale"),
    Q("q61_pii_redact", q61PiiRedact, Some(q61Sql), Seq("X-curation"),
      "PII redaction: emails / IPv4s / long digit runs, ordered counts"),
    Q("q169_dsir_weights", q169DsirWeights, Some(q169Sql),
      Seq("X-curation", "X-sample", "X-scale"),
      "DSIR importance weights: hashed-feature models, fixed-point log ratios, top-20 ledger"),
    Q("q108_moore_lewis", q108MooreLewis, Some(q108Sql), Seq("X-curation", "X-sample"),
      "Moore-Lewis domain data selection: integer cross-entropy difference"),
    Q("q107_percentile_gate", q107PercentileGate, Some(q107Sql), Seq("X-curation", "X-sample"),
      "per-source top-30% quality gate via integer rank arithmetic"),
    Q("q100_split_leakage", q100SplitLeakage, Some(q100Sql), Seq("X-curation", "X-sample"),
      "leakage-safe 80/10/10 split keyed on content fingerprint, not row id"),
    Q("q90_length_buckets", q90LengthBuckets, Some(q90Sql), Seq("X-curation", "X-stats"),
      "power-of-two length buckets with padding-waste shares"),
    Q("q91_mix_schedule", q91MixSchedule, Some(q91Sql), Seq("X-curation", "X-sample"),
      "mixture epoch schedule: exact integer budget split, repeat factors"),
    Q("q71_filter_cascade", q71FilterCascade, Some(q71Sql), Seq("X-curation"),
      "filter cascade with reason codes: first-failing-rule verdict per doc"),
    Q("q72_global_shuffle", q72GlobalShuffle, Some(q72Sql), Seq("X-curation", "X-sample"),
      "deterministic global shuffle: hash-priority shard + position layout"),
    Q("q69_domain_mix", q69DomainMix, Some(q69Sql), Seq("X-curation", "X-sample"),
      "domain-mixture sampling: target source weights, integer quotas, hash priority"),
    Q("q66_seq_pack", q66SeqPack, Some(q66Sql), Seq("X-curation"),
      "sequence packing: concatenate-and-split doc-to-context-window map"),
    Q("q62_weighted_sample", q62WeightedSample, Some(q62Sql), Seq("X-curation", "X-sample"),
      "quality-weighted sampling without replacement (deterministic A-ExpJ)"),
    Q("q63_chunking", q63Chunk, Some(q63Sql), Seq("X-curation"),
      "context-window chunking: 50-word windows, 40-word stride"))
}
