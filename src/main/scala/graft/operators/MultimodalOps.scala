package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Ckpt.GraftCheckpoint

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, and decode / feature-extraction as
  * batched per-partition transforms.
  *
  * The decode step itself is a STUB (this environment has no image/audio
  * codecs): `decodeStub` derives deterministic fake "pixel statistics"
  * from the payload bytes. Everything around it is real and is the part
  * that matters at 100 TB:
  *   - schema: (media_id, kind, payload binary, width, height) rows —
  *     payloads travel as parquet binary, never through the driver;
  *   - execution: `mapPartitions` with explicit micro-batching (batch of
  *     64 payloads per decoder call — the same batch shape an Arrow-based
  *     decode UDF would see), so a native decoder amortizes setup per
  *     batch, not per row;
  *   - partitioning: decode is narrow — rows are decoded where they were
  *     scanned; only the small feature vectors continue into shuffles.
  */
object MultimodalOps {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int)
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
      mean_byte: Double, checksum: Long)

  val BatchSize = 64

  /** STUB decoder: stands in for an image/audio decode. Deterministic pure
    * function of the payload so tests and reruns agree. A real deployment
    * swaps only this function (same batch-in, batch-out signature).
    */
  def decodeStub(batch: Seq[MediaRow]): Seq[MediaFeatures] =
    batch.map { m =>
      var sum = 0L
      var check = 1125899906842597L
      m.payload.foreach { b =>
        sum += (b & 0xff)
        check = check * 31 + (b & 0xff)
      }
      MediaFeatures(m.media_id, m.kind,
        m.payload.length.toLong,
        if (m.payload.isEmpty) 0.0 else sum.toDouble / m.payload.length,
        check)
    }

  /** Batched decode over a distributed media Dataset. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap(batch => decodeStub(batch))
    }
  }

  /** Deterministic media table derived from `documents` (payload = UTF-8
    * text bytes posing as an encoded frame) — the fixture generator for
    * the multimodal path; kind/width/height are synthesized metadata.
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(
        $"doc_id".as("media_id"),
        when($"doc_id" % 3 === 0, "image").when($"doc_id" % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        encode($"text", "UTF-8").as("payload"),
        (($"doc_id" % 4) * 160 + 320).cast("int").as("width"),
        (($"doc_id" % 4) * 90 + 180).cast("int").as("height"))
      .as[MediaRow]
  }

  /** Frame-sampling stub for video payloads: every k-th BatchSize-byte
    * slice as a "frame" (real codec would seek keyframes; the slicing /
    * row-explosion plumbing is what's exercised).
    */
  def sampleFrames(media: Dataset[MediaRow], everyK: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      m.payload.grouped(BatchSize).zipWithIndex.collect {
        case (frame, i) if i % everyK == 0 => (m.media_id, i, frame.length.toLong)
      }
    }.toDF("media_id", "frame_idx", "frame_bytes")
  }

  /** Registered frame-sampling surface: every 4th 64-byte slice of each
    * video payload. Pure byte arithmetic over the UTF-8 fixture
    * payloads, so the whole row-explosion path hash-checks against a
    * DuckDB twin (same ASCII-corpus contract as q30).
    */
  def q57FrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sampleFrames(mediaFromDocuments(spark, dir))
      .select($"media_id", $"frame_idx".cast("long").as("frame_idx"), $"frame_bytes")
      .orderBy($"media_id", $"frame_idx")
  }

  val q57Sql: String =
    s"""WITH media AS (
      |  SELECT doc_id AS media_id, CAST(strlen(text) AS BIGINT) AS n
      |  FROM documents WHERE doc_id % 3 = 2),
      |f AS (
      |  SELECT media_id,
      |    unnest(range(0, CAST(ceil(CAST(n AS DOUBLE) / $BatchSize) AS BIGINT))) AS frame_idx,
      |    n
      |  FROM media)
      |SELECT media_id, frame_idx,
      |  least($BatchSize, n - frame_idx * $BatchSize) AS frame_bytes
      |FROM f
      |WHERE frame_idx % 4 = 0
      |ORDER BY media_id, frame_idx""".stripMargin

  /** End-to-end multimodal query: synthesize media → batched stub decode →
    * per-kind feature aggregate. The aggregated features (byte counts and
    * mean byte value of the UTF-8 payloads) are portable arithmetic, so
    * the whole decode path hash-checks against a DuckDB twin; the
    * non-portable rolling checksum stays spec-checked in MultimodalSpec.
    */
  def q30Multimodal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeFeatures(mediaFromDocuments(spark, dir)).toDF()
      .groupBy($"kind")
      .agg(
        count(lit(1)).as("n_media"),
        sum($"n_bytes").as("total_bytes"),
        round(avg($"mean_byte"), 4).as("avg_mean_byte"))
      .orderBy($"kind")
  }

  /** DuckDB twin of q30: the payload is the UTF-8 encoding of an
    * all-ASCII corpus (a CONTRACT of this oracle: one multi-byte char
    * would break strlen/ascii byte reconstruction — the oracle then
    * fails closed rather than silently diverging), so n_bytes = strlen
    * and the byte values are the character codepoints — the decode
    * stub's per-row features reconstructed in portable SQL. The LEFT
    * JOIN + coalesce keeps an empty-text doc in the aggregate with
    * mean_byte 0.0, matching decodeStub.
    */
  val q30Sql: String =
    """WITH ch AS (
      |  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
      |mb AS (
      |  SELECT doc_id, CAST(sum(ascii(c)) AS DOUBLE) / count(*) AS mean_byte
      |  FROM ch GROUP BY doc_id),
      |feats AS (
      |  SELECT d.doc_id,
      |    CASE WHEN d.doc_id % 3 = 0 THEN 'image'
      |         WHEN d.doc_id % 3 = 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    CAST(strlen(d.text) AS BIGINT) AS n_bytes,
      |    coalesce(mb.mean_byte, 0.0) AS mean_byte
      |  FROM documents d LEFT JOIN mb USING (doc_id))
      |SELECT kind, count(*) AS n_media,
      |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |  round(avg(mean_byte), 4) AS avg_mean_byte
      |FROM feats
      |GROUP BY kind
      |ORDER BY kind""".stripMargin

  /** Perceptual-hash bits: 64 block-mean bits over the payload bytes.
    * Bit b is set iff the mean byte value of block b (positions p with
    * p·64/n = b) strictly exceeds a FIXED threshold (96) — the
    * block-mean ("average hash") construction real image pHashes use
    * over downsampled pixels, applied to the opaque payload as the
    * deterministic stand-in this container's codec-free environment
    * allows. The threshold is absolute, not the payload mean: a
    * relative threshold makes every bit hostage to the global mean
    * (one local edit can flip distant borderline bits), while an
    * absolute one keeps each bit a function of its own block — a
    * localized edit can only touch the blocks it overlaps, which is
    * the locality property near-dup detection needs (measured on this
    * corpus: in-place edits land at Hamming ≤ 3, unrelated pairs at
    * ≥ 10). Comparisons are exact longs (sum_b > 96·n_b), never
    * floating means, so the bit pattern is bit-identical cross-engine.
    */
  def phashBytes(payload: Array[Byte]): Long = {
    val n = payload.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var p = 0
    while (p < n) {
      val b = ((p.toLong * 64) / n).toInt
      sums(b) += (payload(p) & 0xff).toLong
      counts(b) += 1
      p += 1
    }
    var hash = 0L
    var blk = 0
    while (blk < 64) {
      if (sums(blk) > 96L * counts(blk)) hash |= (1L << blk)
      blk += 1
    }
    hash
  }

  /** The q144 input frame: the media table plus deterministic canary
    * twins — for every 50th document (long enough to edit), a second
    * payload with bytes 10..19 overwritten by 'Z'. The canaries are the
    * planted ground truth that proves the near-dup path end-to-end
    * (the same planted-drift pattern as q146's reconciliation); the
    * untouched corpus is the negative control (no background pair
    * within the radius). Twin ids are NEGATIVE (−(id+1)) — doc_ids are
    * nonnegative, so the twin id space can never collide with a real
    * document at any corpus size (an additive offset would silently
    * collide once the corpus outgrows it, corrupting the planted truth
    * identically in both engines).
    */
  def mediaWithCanaries(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    val base = mediaFromDocuments(spark, dir)
    val twins = base
      .filter(m => m.media_id % 50 == 0 && m.payload.length >= 30)
      .map { m =>
        val p = m.payload.clone()
        var i = 10
        while (i < 20) { p(i) = 'Z'.toByte; i += 1 }
        m.copy(media_id = -(m.media_id + 1), payload = p)
      }
    base.union(twins)
  }

  /** Pigeonhole-exact radius for 4 bands of 16 bits: any pair within
    * Hamming distance 3 shares at least one clean band (3 differing
    * bits cannot touch all 4 bands), so band-equality candidate
    * generation is LOSSLESS at this radius — the multi-index-hashing
    * guarantee (bands > radius). Raising the radius past bands−1
    * requires more/narrower bands, not a bigger threshold.
    */
  val PhashHammingMax = 3

  /** Near-duplicate media pairs by perceptual hash.
    *
    * Scale shape: one narrow pass computes the 64-bit pHash per payload
    * (mapPartitions, batched like decodeStub); candidates come from a
    * self-equi-join on (band_idx, 16-bit band value) — ONE shuffle of
    * (8-byte hash, band key) rows, never payload bytes — and the final
    * Hamming check is a codegen'd bit_count(a XOR b) on the joined
    * longs. Payload bytes never enter a shuffle; pair volume is bounded
    * by band-bucket collisions (65,536 buckets per band), the standard
    * MIH layout. The DuckDB oracle states the SEMANTICS (all pairs with
    * Hamming ≤ 3); the banded plan is provably equivalent at this
    * radius, which is exactly what the hash-match asserts.
    */
  def phashPairs(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    val hashes = media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap(_.map(m => (m.media_id, phashBytes(m.payload))))
    }.toDF("media_id", "phash")
    val bands = hashes.select($"media_id", $"phash",
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band_idx"),
          shiftright($"phash", 16 * j).bitwiseAND(lit(0xffffL)).as("band_val"))): _*)).as("b"))
      .select($"media_id", $"phash", $"b.band_idx", $"b.band_val")
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        $"a.band_idx" === $"b.band_idx" && $"a.band_val" === $"b.band_val" &&
          $"a.media_id" < $"b.media_id")
      .select($"a.media_id".as("media_a"), $"b.media_id".as("media_b"),
        expr("bit_count(a.phash ^ b.phash)").cast("long").as("hamming"))
      .distinct()
      .filter($"hamming" <= PhashHammingMax)
      .orderBy($"media_a", $"media_b")
  }

  def q144PhashDedup(spark: SparkSession, dir: String): DataFrame =
    phashPairs(mediaWithCanaries(spark, dir))

  /** DuckDB twin: reconstruct the block-mean bits from the ASCII
    * codepoints (same corpus contract as q30) over the same
    * canary-extended media set, then state the semantic
    * all-pairs-within-radius answer the banded Spark plan is provably
    * equal to.
    */
  val q144Sql: String =
    s"""WITH media AS (
      |  SELECT doc_id AS media_id, text,
      |         CAST(strlen(text) AS BIGINT) AS n
      |  FROM documents
      |  UNION ALL
      |  SELECT -(doc_id + 1),
      |         substr(text, 1, 10) || 'ZZZZZZZZZZ' || substr(text, 21),
      |         CAST(strlen(text) AS BIGINT)
      |  FROM documents WHERE doc_id % 50 = 0 AND strlen(text) >= 30),
      |pos AS (
      |  SELECT media_id, text, n, unnest(range(0, n)) AS i FROM media),
      |ch AS (
      |  SELECT media_id, i,
      |         CAST(ascii(substr(text, CAST(i + 1 AS INT), 1)) AS BIGINT) AS v,
      |         CAST(i * 64 // n AS BIGINT) AS blk
      |  FROM pos),
      |blocks AS (
      |  SELECT media_id, blk, sum(v) AS sb, count(*) AS nb
      |  FROM ch GROUP BY media_id, blk),
      |hashes AS (
      |  SELECT m.media_id,
      |         coalesce(bit_or(CASE WHEN b.sb <= 96 * b.nb THEN 0::BIGINT
      |                              WHEN b.blk = 63
      |                              THEN (-9223372036854775807 - 1)::BIGINT
      |                              ELSE 1::BIGINT << CAST(b.blk AS INT)
      |                              END), 0::BIGINT) AS phash
      |  FROM media m LEFT JOIN blocks b USING (media_id)
      |  GROUP BY m.media_id)
      |SELECT a.media_id AS media_a, b.media_id AS media_b,
      |       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
      |FROM hashes a JOIN hashes b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHammingMax
      |ORDER BY media_a, media_b""".stripMargin

  /** q164: hash-level near-dup ledger — the PRODUCTION representation
    * of q144's answer. q144's all-pairs contract materializes one row
    * per near-dup pair, which is quadratic in clone multiplicity: at
    * the sf10 spot-check the fixture's payloads collapse into an
    * 89,171-member identical-phash family, making the ground truth
    * 4.0e9 pairs — infeasible to EMIT (any engine), though trivial to
    * describe. This query keeps the description: collapse identical
    * hashes first (group-by phash), then pair only DISTINCT hash
    * values — within-family volume reports as n·(n−1)/2 on one row
    * (hamming 0), cross-family near-dups as n_a·n_b per distinct-hash
    * pair (hamming 1..radius). Σ n_pairs equals q144's row count
    * exactly, so the ledger also serves as the pre-flight volume check
    * a pipeline runs BEFORE deciding to materialize pairs.
    *
    * Scale shape: one payload pass for hashes, one phash-keyed count
    * (map-side combined), then the banded join runs over |distinct
    * hashes| rows — 21k at sf10 vs 550k medias — so candidate volume is
    * bounded by distinct-hash collisions, immune to clone multiplicity.
    * The oracle twin states the same semantics with an all-distinct-
    * pairs join (fine at oracle SFs).
    */
  def q164PhashFamilies(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaWithCanaries(spark, dir)
    val hashes = media.mapPartitions { it =>
      it.grouped(BatchSize).flatMap(_.map(m => (m.media_id, phashBytes(m.payload))))
    }.toDF("media_id", "phash")
    val fam = hashes.groupBy($"phash").agg(count(lit(1)).as("n")).ckpt()
    val within = fam.filter($"n" >= 2)
      .select($"phash".as("ph_a"), $"phash".as("ph_b"), lit(0L).as("hamming"),
        expr("n * (n - 1) div 2").as("n_pairs"))
    val bands = fam.select($"phash", $"n",
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band_idx"),
          shiftright($"phash", 16 * j).bitwiseAND(lit(0xffffL)).as("band_val"))): _*)).as("b"))
      .select($"phash", $"n", $"b.band_idx", $"b.band_val")
    val cross = bands.as("a").join(bands.as("b"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_val" === $"b.band_val" &&
          $"a.phash" < $"b.phash")
      .select($"a.phash".as("ph_a"), $"b.phash".as("ph_b"),
        expr("bit_count(a.phash ^ b.phash)").cast("long").as("hamming"),
        ($"a.n" * $"b.n").as("n_pairs"))
      .distinct()
      .filter($"hamming" <= PhashHammingMax)
    within.unionByName(cross).orderBy($"ph_a", $"ph_b")
  }

  /** Same hash construction as q144's twin, then the distinct-hash
    * family/pair ledger (all-pairs between distinct hashes — the twin
    * states semantics, the Spark plan adds the lossless bands).
    */
  val q164Sql: String =
    s"""WITH media AS (
      |  SELECT doc_id AS media_id, text,
      |         CAST(strlen(text) AS BIGINT) AS n
      |  FROM documents
      |  UNION ALL
      |  SELECT -(doc_id + 1),
      |         substr(text, 1, 10) || 'ZZZZZZZZZZ' || substr(text, 21),
      |         CAST(strlen(text) AS BIGINT)
      |  FROM documents WHERE doc_id % 50 = 0 AND strlen(text) >= 30),
      |pos AS (
      |  SELECT media_id, text, n, unnest(range(0, n)) AS i FROM media),
      |ch AS (
      |  SELECT media_id, i,
      |         CAST(ascii(substr(text, CAST(i + 1 AS INT), 1)) AS BIGINT) AS v,
      |         CAST(i * 64 // n AS BIGINT) AS blk
      |  FROM pos),
      |blocks AS (
      |  SELECT media_id, blk, sum(v) AS sb, count(*) AS nb
      |  FROM ch GROUP BY media_id, blk),
      |hashes AS (
      |  SELECT m.media_id,
      |         coalesce(bit_or(CASE WHEN b.sb <= 96 * b.nb THEN 0::BIGINT
      |                              WHEN b.blk = 63
      |                              THEN (-9223372036854775807 - 1)::BIGINT
      |                              ELSE 1::BIGINT << CAST(b.blk AS INT)
      |                              END), 0::BIGINT) AS phash
      |  FROM media m LEFT JOIN blocks b USING (media_id)
      |  GROUP BY m.media_id),
      |fam AS (SELECT phash, CAST(count(*) AS BIGINT) AS cnt FROM hashes GROUP BY phash),
      |within AS (
      |  SELECT phash AS ph_a, phash AS ph_b, CAST(0 AS BIGINT) AS hamming,
      |         cnt * (cnt - 1) // 2 AS n_pairs
      |  FROM fam WHERE cnt >= 2),
      |xf AS (
      |  SELECT a.phash AS ph_a, b.phash AS ph_b,
      |         CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming,
      |         a.cnt * b.cnt AS n_pairs
      |  FROM fam a JOIN fam b ON a.phash < b.phash
      |  WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHammingMax)
      |SELECT ph_a, ph_b, hamming, n_pairs FROM within
      |UNION ALL SELECT ph_a, ph_b, hamming, n_pairs FROM xf
      |ORDER BY ph_a, ph_b""".stripMargin

  final case class AudioSummary(media_id: Long, n_frames: Long,
      total_energy: Long, silent_frames: Long,
      peak_frame: Option[Long], peak_energy: Option[Long])

  val FrameLen = 256
  val HopLen = 128

  /** q153: overlapping-window audio framing — the STFT-shaped windowing
    * every audio feature extractor starts with (frame, hop, per-frame
    * energy), over the opaque payload bytes this codec-free container
    * allows. Distinct plumbing from q57's disjoint slices: 50%-overlap
    * windows (each byte counted in ≤ 2 frames), per-frame energy as the
    * EXACT integer Σv² (no floating RMS — portable), fixed-threshold
    * silence detection, and argmax peak-frame selection (ties → lowest
    * frame index).
    *
    * Scale shape: the whole computation is row-local — one batched
    * mapPartitions pass emits the per-media summary directly; NO
    * shuffle anywhere (the ORDER BY on media_id is the only exchange,
    * and only because the driver gate wants a stable dump). A real
    * pipeline feeds the per-frame energies straight into the next
    * narrow stage, exactly like decodeStub's batch contract.
    */
  def audioEnergy(media: Dataset[MediaRow]): Dataset[AudioSummary] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio").mapPartitions { it =>
      it.grouped(BatchSize).flatMap(_.map { m =>
        val n = m.payload.length
        var fi = 0
        var off = 0
        var totalEnergy = 0L
        var silent = 0L
        var peakFrame = -1L
        var peakEnergy = -1L
        while (off + FrameLen <= n) {
          var e = 0L
          var s = 0L
          var p = 0
          while (p < FrameLen) {
            val v = (m.payload(off + p) & 0xff).toLong
            e += v * v
            s += v
            p += 1
          }
          totalEnergy += e
          if (s < 64L * FrameLen) silent += 1
          if (e > peakEnergy) { peakEnergy = e; peakFrame = fi.toLong }
          fi += 1
          off += HopLen
        }
        AudioSummary(m.media_id, fi.toLong, totalEnergy, silent,
          if (fi > 0) Some(peakFrame) else None,
          if (fi > 0) Some(peakEnergy) else None)
      })
    }
  }

  def q153AudioEnergy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioEnergy(mediaFromDocuments(spark, dir)).toDF().orderBy($"media_id")
  }

  /** DuckDB twin: reconstruct the same windows from the ASCII
    * codepoints (q30 corpus contract); peak selection mirrors the
    * first-maximum rule via (energy DESC, frame ASC) ranking.
    */
  val q153Sql: String =
    s"""WITH media AS (
      |  SELECT doc_id AS media_id, text, CAST(strlen(text) AS BIGINT) AS n
      |  FROM documents WHERE doc_id % 3 = 1),
      |f AS (
      |  SELECT media_id, text, unnest(range(0, (n - $FrameLen) // $HopLen + 1)) AS fi
      |  FROM media WHERE n >= $FrameLen),
      |pos AS (
      |  SELECT media_id, fi, text, unnest(range(0, $FrameLen)) AS p FROM f),
      |ch AS (
      |  SELECT media_id, fi,
      |         CAST(ascii(substr(text, CAST(fi * $HopLen + p + 1 AS INT), 1)) AS BIGINT) AS v
      |  FROM pos),
      |frames AS (
      |  SELECT media_id, fi, CAST(sum(v * v) AS BIGINT) AS energy,
      |         CAST(sum(v) AS BIGINT) AS sv
      |  FROM ch GROUP BY 1, 2),
      |summary AS (
      |  SELECT media_id, count(*) AS n_frames,
      |         CAST(sum(energy) AS BIGINT) AS total_energy,
      |         CAST(sum(CASE WHEN sv < ${64 * FrameLen} THEN 1 ELSE 0 END) AS BIGINT)
      |           AS silent_frames
      |  FROM frames GROUP BY 1),
      |peak AS (
      |  SELECT media_id, fi AS peak_frame, energy AS peak_energy FROM (
      |    SELECT media_id, fi, energy,
      |           row_number() OVER (PARTITION BY media_id
      |             ORDER BY energy DESC, fi) AS rn
      |    FROM frames) WHERE rn = 1)
      |SELECT m.media_id,
      |  coalesce(s.n_frames, 0) AS n_frames,
      |  coalesce(s.total_energy, 0) AS total_energy,
      |  coalesce(s.silent_frames, 0) AS silent_frames,
      |  p.peak_frame, p.peak_energy
      |FROM media m
      |LEFT JOIN summary s USING (media_id)
      |LEFT JOIN peak p USING (media_id)
      |ORDER BY m.media_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q153_audio_energy", q153AudioEnergy, Some(q153Sql), Seq("X-multimodal"),
      "overlapping-window audio framing: exact integer energy, silence and peak frames"),
    Q("q30_multimodal", q30Multimodal, Some(q30Sql), Seq("X-multimodal"),
      "binary media columns: batched stub decode + feature aggregate"),
    Q("q57_frame_sample", q57FrameSample, Some(q57Sql), Seq("X-multimodal"),
      "video frame sampling: every k-th fixed-size payload slice"),
    Q("q144_phash_dedup", q144PhashDedup, Some(q144Sql), Seq("X-multimodal"),
      "perceptual-hash near-dup pairs: block-mean bits, banded Hamming LSH"),
    Q("q164_phash_families", q164PhashFamilies, Some(q164Sql),
      Seq("X-multimodal", "X-dedup", "X-scale"),
      "hash-level near-dup ledger: identical-hash families + distinct-hash banded pairs"))
}
