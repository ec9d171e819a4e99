package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.MultimodalOps

/** Specs for the multimodal plumbing: the stub decoder is deterministic,
  * the batch path preserves every row, and derived features reconcile
  * with known payload facts (byte length of ASCII text == n_chars).
  */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf

  test("batched decode preserves cardinality and is deterministic") {
    val a = MultimodalOps.decodeFeatures(MultimodalOps.mediaFromDocuments(spark, sf))
      .orderBy($"media_id").collect()
    val b = MultimodalOps.decodeFeatures(MultimodalOps.mediaFromDocuments(spark, sf))
      .orderBy($"media_id").collect()
    assert(a.length == 500)
    assert(a.toSeq == b.toSeq)
  }

  test("decoded n_bytes reconciles with documents.n_chars (ASCII corpus)") {
    val feats = MultimodalOps.decodeFeatures(MultimodalOps.mediaFromDocuments(spark, sf))
      .select($"media_id".as("doc_id"), $"n_bytes")
    val docs = Tables(spark, sf).documents.select($"doc_id", $"n_chars")
    val mismatch = feats.join(docs, "doc_id")
      .filter($"n_bytes" =!= $"n_chars").count()
    assert(mismatch == 0)
  }

  test("q30 aggregates one row per media kind") {
    val rows = MultimodalOps.q30Multimodal(spark, sf).collect()
    assert(rows.map(_.getAs[String]("kind")).toSeq == Seq("audio", "image", "video"))
    assert(rows.map(_.getAs[Long]("n_media")).sum == 500)
  }

  test("frame sampling emits only video rows at the configured stride") {
    val frames = MultimodalOps.sampleFrames(MultimodalOps.mediaFromDocuments(spark, sf))
    val kinds = frames.select($"media_id" % 3).distinct().as[Long].collect().toSet
    assert(kinds == Set(2L)) // only doc_id % 3 == 2 are video
    val idx = frames.select($"frame_idx").distinct().as[Int].collect().toSet
    assert(idx.forall(_ % 4 == 0))
  }

  test("phash bits are local: an in-place edit flips only overlapped blocks") {
    // 640 'a' bytes (97 > the 96 threshold) → all 64 bits set; blocks are
    // exactly 10 bytes, so overwriting positions 10..19 with 'Z' (90)
    // rewrites block 1 alone → Hamming distance exactly 1.
    val base = Array.fill(640)('a'.toByte)
    val edited = base.clone()
    (10 until 20).foreach(i => edited(i) = 'Z'.toByte)
    val h0 = MultimodalOps.phashBytes(base)
    val h1 = MultimodalOps.phashBytes(edited)
    assert(h0 == -1L) // all 64 bits set
    assert(java.lang.Long.bitCount(h0 ^ h1) == 1)
    assert((h1 & (1L << 1)) == 0L) // the flipped bit is block 1's
    assert(MultimodalOps.phashBytes(Array.empty[Byte]) == 0L)
  }

  test("q144 banded candidate generation is lossless at radius 3 (pigeonhole)") {
    // brute-force every pair's Hamming distance from the same hashes and
    // compare with the banded plan's output — must be identical sets.
    val media = MultimodalOps.mediaWithCanaries(spark, sf)
    val hashes = media.collect().map(m => m.media_id -> MultimodalOps.phashBytes(m.payload))
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= MultimodalOps.PhashHammingMax
    } yield (ia, ib)).toSet
    val banded = MultimodalOps.q144PhashDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_a"), r.getAs[Long]("media_b"))).toSet
    assert(banded == brute)
    assert(brute.nonEmpty) // the canaries guarantee planted positives
    // every canary twin whose hash landed within the radius is found
    // (short documents spread the 10-byte edit over more blocks, so a
    // canary pair can legitimately exceed the radius — the lossless
    // claim is about candidate generation, not about edit distance)
    val hs = hashes.toMap
    val within = hashes.collect {
      case (id, h) if id < 0 &&
        java.lang.Long.bitCount(h ^ hs(-id - 1)) <= MultimodalOps.PhashHammingMax =>
        -id - 1
    }
    assert(within.nonEmpty)
    // twin ids are negative, so in an ordered pair the twin is media_a
    within.foreach(c => assert(banded.contains((-(c + 1), c))))
  }

  test("q164 ledger: sum of n_pairs equals q144's materialized pair count") {
    // the ledger's whole contract: it describes EXACTLY the volume q144
    // would emit (within-family C(n,2) + cross-family n_a*n_b), without
    // materializing it
    val ledger = MultimodalOps.q164PhashFamilies(spark, sf).collect()
    val pairTotal = ledger.map(_.getAs[Long]("n_pairs")).sum
    val q144Rows = MultimodalOps.q144PhashDedup(spark, sf).count()
    assert(pairTotal == q144Rows && pairTotal > 0)
    // hamming-0 rows are same-hash families; cross rows are distinct
    ledger.foreach { r =>
      val (a, b, h) = (r.getAs[Long]("ph_a"), r.getAs[Long]("ph_b"),
        r.getAs[Long]("hamming"))
      assert(if (h == 0) a == b else a < b && h <= MultimodalOps.PhashHammingMax)
    }
  }

  test("q153 audio framing: hand-computed energies, silence, peak tie-break") {
    import MultimodalOps.{AudioSummary, MediaRow}
    val quietLoud = Array.fill(256)(10.toByte) ++ Array.fill(128)(200.toByte)
    val flat = Array.fill(512)(80.toByte) // mean 80 ≥ the 64 silence threshold
    val short = Array.fill(100)(99.toByte)
    val media = Seq(
      MediaRow(1L, "audio", quietLoud, 0, 0),
      MediaRow(2L, "audio", flat, 0, 0),
      MediaRow(3L, "audio", short, 0, 0),
      MediaRow(4L, "video", flat, 0, 0)) // non-audio: excluded entirely
      .toDS()
    val out = MultimodalOps.audioEnergy(media).collect().map(s => s.media_id -> s).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // media 1: frame0 = 256×10 (energy 25600, silent), frame1 = 128×10+128×200
    val e1 = 128L * 100 + 128L * 40000
    assert(out(1L) == AudioSummary(1L, 2L, 25600L + e1, 1L, Some(1L), Some(e1)))
    // media 2: three identical frames — peak tie breaks to frame 0
    assert(out(2L).n_frames == 3L && out(2L).peak_frame == Some(0L))
    assert(out(2L).silent_frames == 0L)
    // media 3: shorter than one frame — zero frames, NULL peaks
    assert(out(3L) == AudioSummary(3L, 0L, 0L, 0L, None, None))
  }
}
