package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expression for word-trigram extraction — the shared shingling
  * primitive of the dedup/contamination/repetition family (q20/q21/q42/
  * q49/q50).
  *
  * The regexp_extract_all formulation runs a regex engine with a
  * lookahead + capture per overlapping match and materializes each
  * trigram through the matcher. But over single-space-separated text a
  * word trigram is exactly the SUBSTRING from token i's first byte to
  * token i+2's last byte — so one pass over the UTF-8 bytes collecting
  * space positions (0x20 never occurs inside a multi-byte sequence)
  * yields every trigram as a byte-range slice: no regex, no
  * concatenation, O(text + output) and zero per-match machinery.
  *
  * Semantics contract (same as DedupOps.TrigramRegex and the DuckDB
  * `string_split` twin): tokens are split on EVERY single space; fewer
  * than 3 tokens → empty array. Pinned against the regex and the naive
  * split+transform constructions by DedupSimilaritySpec.
  */
object TextExpressions {

  /** Static entry point for both eval and generated code. */
  def trigrams(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // token start offsets (token k starts after the k-th space)
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val nTok = spaces + 1
    if (nTok < 3) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nTok)
    starts(0) = 0
    var k = 1
    i = 0
    while (i < n) {
      if (bytes(i) == 0x20) { starts(k) = i + 1; k += 1 }
      i += 1
    }
    val out = new Array[Any](nTok - 2)
    var t = 0
    while (t < nTok - 2) {
      val start = starts(t)
      // end = byte before the space that precedes token t+3 (or EOS)
      val end = if (t + 3 < nTok) starts(t + 3) - 1 else n
      out(t) = UTF8String.fromBytes(bytes, start, end - start)
      t += 1
    }
    new GenericArrayData(out)
  }

  case class WordTrigrams(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_trigrams"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${other.sql}")
    }

    override def nullSafeEval(v: Any): Any =
      trigrams(v.asInstanceOf[UTF8String])

    // one static call into the byte-scan above: the expression itself
    // participates in whole-stage codegen (no interpreted fallback for
    // the surrounding projection), and the helper does the work without
    // regex/matcher allocation
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextExpressions.trigrams($c);")

    override protected def withNewChildInternal(c: Expression): WordTrigrams =
      copy(child = c)
  }

  def wordTrigrams(c: Column): Column =
    ColumnBridge.column(WordTrigrams(ColumnBridge.expression(c)))

  /** n-token windows of a token ARRAY, each joined with single spaces —
    * the span family's window derivation (q172/q175/q180…q189 at
    * SpanN/DecontamN). Drop-in for the interpreted
    * `transform(sequence(1, size(t) − n + 1), i → concat_ws(' ',
    * slice(t, i, n)))` construction: higher-order functions do not
    * participate in whole-stage codegen and pay a slice + concat_ws
    * allocation chain per window; this emits each window as ONE exact-
    * size byte copy from the already-materialized token array. null
    * tokens are skipped without a separator (concat_ws semantics);
    * fewer than n tokens → empty array.
    */
  def wordNgramsOfArray(arr: ArrayData, n: Int): ArrayData = {
    val nTok = arr.numElements()
    val windows = nTok - n + 1
    if (windows <= 0) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](nTok)
    var i = 0
    while (i < nTok) {
      toks(i) = if (arr.isNullAt(i)) null
        else arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](windows)
    var w = 0
    while (w < windows) {
      // exact output size: non-null token bytes + one space between
      // consecutive NON-NULL tokens (concat_ws skips nulls seamlessly)
      var sz = 0
      var parts = 0
      var j = w
      while (j < w + n) {
        val t = toks(j)
        if (t != null) { sz += t.numBytes(); parts += 1 }
        j += 1
      }
      val buf = new Array[Byte](sz + math.max(parts - 1, 0))
      var off = 0
      var emitted = 0
      j = w
      while (j < w + n) {
        val t = toks(j)
        if (t != null) {
          if (emitted > 0) { buf(off) = 0x20; off += 1 }
          t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
          off += t.numBytes()
          emitted += 1
        }
        j += 1
      }
      out(w) = UTF8String.fromBytes(buf)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Count of elements in a SORTED string array that differ from both
    * neighbors — the singleton count of the repetition family
    * (q190/q193/q194: dup_grams = n_grams − singletons). Replaces the
    * interpreted `size(filter(sequence(0, size(gs) − 1), i -> …))`
    * neighborhood lambda (plus its index array materialization) with
    * one codegen'd pass of byte-equality comparisons; an empty array is
    * simply 0, no ANSI empty-index guard needed.
    */
  def sortedSingletons(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    var count = 0L
    var prev: UTF8String = null
    var cur: UTF8String = arr.getUTF8String(0)
    var i = 0
    while (i < n) {
      val next: UTF8String = if (i + 1 < n) arr.getUTF8String(i + 1) else null
      val neDn = prev == null || !prev.equals(cur)
      val neUp = next == null || !next.equals(cur)
      if (neDn && neUp) count += 1
      prev = cur
      cur = next
      i += 1
    }
    count
  }

  case class SortedSingletonCount(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "sorted_singleton_count"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, false) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a non-null array<string> input, got ${other.sql}")
    }

    override def nullSafeEval(v: Any): Any =
      sortedSingletons(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextExpressions.sortedSingletons($c);")

    override protected def withNewChildInternal(c: Expression): SortedSingletonCount =
      copy(child = c)
  }

  def sortedSingletonCount(c: Column): Column =
    ColumnBridge.column(SortedSingletonCount(ColumnBridge.expression(c)))

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** All K portable MinHash lane minima in ONE pass over the shingle
    * array — the row-local signature construction of
    * DedupOps.bandedDocs (q64/q148).
    * The HOF formulation paid one interpreted `transform` materializing
    * a base-hash array (an md5 + conv + substring lambda per shingle)
    * plus K more interpreted `array_min(transform(...))` passes per
    * row; this folds the same arithmetic — base h = first 8 md5 hex
    * digits as an unsigned int mod p, lane v = (aᵢ·h + bᵢ) mod p, min
    * per lane — into one codegen'd scan with no intermediate arrays.
    * Empty input yields all-null lanes (array_min-of-empty semantics);
    * null elements are skipped (array_min ignores nulls); a null input
    * array is null. Pinned against the HOF construction by
    * DedupSimilaritySpec.
    */
  def minHashLanes(arr: ArrayData, a: Array[Long], b: Array[Long],
      p: Long): ArrayData = {
    val n = arr.numElements()
    val k = a.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    val md = md5Local.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        md.reset()
        val dg = md.digest(arr.getUTF8String(i).getBytes)
        // conv(substring(hex, 1, 8), 16, 10) = first 4 digest bytes as an
        // unsigned 32-bit value
        val h = (((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
          ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)) % p
        var j = 0
        while (j < k) {
          val v = (a(j) * h + b(j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(Array.fill[Any](k)(null))
    else new GenericArrayData(mins.map(Long.box(_): Any))
  }

  case class PortableMinHashLanes(child: Expression, a: Seq[Long],
      b: Seq[Long], p: Long) extends UnaryExpression {
    require(a.length == b.length, "lane coefficient arity mismatch")
    private lazy val aArr = a.toArray
    private lazy val bArr = b.toArray
    override def dataType: DataType = ArrayType(LongType, containsNull = true)
    override def prettyName: String = "portable_minhash_lanes"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> input, got ${other.sql}")
    }

    override def nullSafeEval(v: Any): Any =
      minHashLanes(v.asInstanceOf[ArrayData], aArr, bArr, p)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val aRef = ctx.addReferenceObj("mhLaneA", aArr, "long[]")
      val bRef = ctx.addReferenceObj("mhLaneB", bArr, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextExpressions.minHashLanes($c, $aRef, $bRef, ${p}L);")
    }

    override protected def withNewChildInternal(c: Expression): PortableMinHashLanes =
      copy(child = c)
  }

  def portableMinHashLanes(c: Column, a: Seq[Long], b: Seq[Long],
      p: Long): Column =
    ColumnBridge.column(PortableMinHashLanes(ColumnBridge.expression(c), a, b, p))

  case class ArrayWordNgrams(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "array_word_ngrams"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) =>
        if (n >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"$prettyName requires n >= 1")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<string> input, got ${other.sql}")
    }

    override def nullSafeEval(v: Any): Any =
      wordNgramsOfArray(v.asInstanceOf[ArrayData], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextExpressions.wordNgramsOfArray($c, $n);")

    override protected def withNewChildInternal(c: Expression): ArrayWordNgrams =
      copy(child = c)
  }

  def arrayWordNgrams(c: Column, n: Int): Column =
    ColumnBridge.column(ArrayWordNgrams(ColumnBridge.expression(c), n))

  /** Character n-grams per word, in one byte scan — the TextCat /
    * BPE-statistics primitive (q16/q162's padded trigrams, q161's raw
    * bigrams). The HOF formulation
    * `explode(split) → transform(sequence(...), i -> substring(...))`
    * pays an interpreted lambda per word (higher-order functions do not
    * participate in whole-stage codegen) plus a word-array explode and a
    * per-window substring allocation through the generic path. Here one
    * pass over the text's UTF-8 bytes finds token boundaries (0x20 never
    * occurs inside a multi-byte sequence) and emits every window as a
    * direct byte slice; `pad` wraps each token in '_' sentinels first
    * (the Cavnar–Trenkle word-boundary marking).
    *
    * Semantics contract (pinned by ProfilingTextSpec against the HOF
    * construction): tokens split on EVERY single space; a token of c
    * codepoints emits max(0, c + (pad ? 2 : 0) − n + 1) windows in
    * order; windows count CODEPOINTS (same as substring), so the slice
    * boundaries walk UTF-8 char starts, not bytes.
    */
  def charNgrams(s: UTF8String, n: Int, pad: Boolean): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    val out = new java.util.ArrayList[Any]
    var ts = 0 // current token start
    var i = 0
    while (i <= len) {
      if (i == len || bytes(i) == 0x20) {
        val tokLen = i - ts
        if (tokLen > 0 || pad) {
          // token bytes, padded if requested
          val tb =
            if (!pad) java.util.Arrays.copyOfRange(bytes, ts, i)
            else {
              val b = new Array[Byte](tokLen + 2)
              b(0) = '_'
              System.arraycopy(bytes, ts, b, 1, tokLen)
              b(tokLen + 1) = '_'
              b
            }
          // codepoint start offsets (+ end sentinel)
          var nChars = 0
          var j = 0
          while (j < tb.length) {
            if ((tb(j) & 0xc0) != 0x80) nChars += 1
            j += 1
          }
          val windows = nChars - n + 1
          if (windows > 0) {
            val starts = new Array[Int](nChars + 1)
            var k = 0
            j = 0
            while (j < tb.length) {
              if ((tb(j) & 0xc0) != 0x80) { starts(k) = j; k += 1 }
              j += 1
            }
            starts(nChars) = tb.length
            var w = 0
            while (w < windows) {
              out.add(UTF8String.fromBytes(tb, starts(w), starts(w + n) - starts(w)))
              w += 1
            }
          }
        }
        ts = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  case class CharNgrams(child: Expression, n: Int, pad: Boolean)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "char_ngrams"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType =>
        if (n >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"$prettyName requires n >= 1")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${other.sql}")
    }

    override def nullSafeEval(v: Any): Any =
      charNgrams(v.asInstanceOf[UTF8String], n, pad)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextExpressions.charNgrams($c, $n, $pad);")

    override protected def withNewChildInternal(c: Expression): CharNgrams =
      copy(child = c)
  }

  /** All padded character trigrams of every word — TextCat's document
    * trigram stream: each word w contributes the length(w) 3-char windows
    * of '_' + w + '_'.
    */
  def paddedCharTrigrams(c: Column): Column =
    ColumnBridge.column(CharNgrams(ColumnBridge.expression(c), 3, pad = true))

  /** All raw character bigrams of every word (words shorter than 2 chars
    * contribute nothing) — the BPE adjacent-pair stream.
    */
  def charBigrams(c: Column): Column =
    ColumnBridge.column(CharNgrams(ColumnBridge.expression(c), 2, pad = false))

  /** Row-local TextCat prediction — the whole document leg of the
    * Cavnar–Trenkle classifier (q16/q162) in ONE pass over the text.
    *
    * The distributed formulation computed a pure per-row function with
    * corpus machinery: explode every padded trigram, shuffle the
    * (doc, trigram) counts by doc_id, rank top-[[graft.operators.TextOps.DocTopN]]
    * with a window, broadcast-join the language profiles, fold
    * per-(doc, lang), crossJoin the language list back, and argmin with
    * one more doc-keyed aggregate. But a document's ranked top-N
    * trigrams depend ONLY on its own text, and the trained profile is a
    * bounded literal (|langs| · ProfTopN rows) — so the entire chain is
    * a row-local kernel: count trigrams in a hash map, sort the distinct
    * entries by (count desc, trigram asc — UTF8String's byte order, the
    * same ordering the window used), take the top N, score each
    * language's rank map, argmin with ties to the binary-smallest
    * language. Zero shuffles carry doc-keyed state.
    *
    * Exact-equivalence contract (pinned by ProfilingTextSpec against
    * the planted fixture and by the oracle at 3 SFs): matched trigrams
    * contribute |r_doc − r_lang|, unmatched cost ProfTopN each; an
    * empty trigram set predicts 'und' with dist 0 (the d_doc = 0 row of
    * the old crossJoin form); tie on dist breaks to the smallest
    * language in binary string order — exactly
    * `min(struct(dist, lang))`.
    */
  def textcatPredict(s: UTF8String, langs: Array[UTF8String],
      prof: java.util.HashMap[UTF8String, Array[Int]], profTopN: Int,
      docTopN: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val arr = charNgrams(s, 3, pad = true)
    val n = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < n) {
      val tg = arr.getUTF8String(i)
      val c = counts.get(tg)
      if (c == null) counts.put(tg, Array(1L)) else c(0) += 1L
      i += 1
    }
    val k = langs.length
    if (counts.isEmpty || k == 0)
      return new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString("und"), 0L))
    val entries = new Array[(UTF8String, Long)](counts.size)
    val it = counts.entrySet().iterator()
    var m = 0
    while (it.hasNext) {
      val e = it.next(); entries(m) = (e.getKey, e.getValue()(0)); m += 1
    }
    java.util.Arrays.sort(entries,
      new java.util.Comparator[(UTF8String, Long)] {
        override def compare(a: (UTF8String, Long), b: (UTF8String, Long)): Int = {
          val byC = java.lang.Long.compare(b._2, a._2)
          if (byC != 0) byC else a._1.compareTo(b._1)
        }
      })
    val d = math.min(docTopN, entries.length)
    val dists = new Array[Long](k)
    i = 0
    while (i < d) {
      val ranks = prof.get(entries(i)._1)
      var j = 0
      while (j < k) {
        val r = if (ranks == null) 0 else ranks(j)
        dists(j) += (if (r > 0) math.abs((i + 1).toLong - r) else profTopN.toLong)
        j += 1
      }
      i += 1
    }
    var best = 0
    var j = 1
    while (j < k) { if (dists(j) < dists(best)) best = j; j += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](langs(best), dists(best)))
  }

  case class TextCatPredict(child: Expression, langs: Seq[String],
      profile: Seq[(String, Int, Int)], profTopN: Int, docTopN: Int)
      extends UnaryExpression {
    // langs MUST arrive sorted in binary (UTF8String) order — the argmin
    // tie-break; the factory below enforces it
    @transient private lazy val langsArr: Array[UTF8String] =
      langs.map(UTF8String.fromString).toArray
    @transient private lazy val profMap: java.util.HashMap[UTF8String, Array[Int]] = {
      val mp = new java.util.HashMap[UTF8String, Array[Int]]()
      profile.foreach { case (tg, langIdx, rank) =>
        val key = UTF8String.fromString(tg)
        var ranks = mp.get(key)
        if (ranks == null) { ranks = new Array[Int](langs.length); mp.put(key, ranks) }
        ranks(langIdx) = rank
      }
      mp
    }
    override def dataType: DataType = StructType(Seq(
      StructField("lang_pred", StringType, nullable = false),
      StructField("dist", LongType, nullable = false)))
    override def prettyName: String = "textcat_predict"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${other.sql}")
    }

    override def nullSafeEval(v: Any): Any =
      textcatPredict(v.asInstanceOf[UTF8String], langsArr, profMap,
        profTopN, docTopN)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val langsRef = ctx.addReferenceObj("tcLangs", langsArr,
        "org.apache.spark.unsafe.types.UTF8String[]")
      val profRef = ctx.addReferenceObj("tcProf", profMap,
        "java.util.HashMap")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextExpressions.textcatPredict(" +
          s"$c, $langsRef, $profRef, $profTopN, $docTopN);")
    }

    override protected def withNewChildInternal(c: Expression): TextCatPredict =
      copy(child = c)
  }

  /** Factory: sorts the languages into binary order (the tie-break
    * contract) and re-indexes the profile accordingly. `profile` rows
    * are (lang, trigram, rank).
    */
  def textcatPredict(c: Column, profile: Seq[(String, String, Int)],
      profTopN: Int, docTopN: Int): Column = {
    val langs = profile.map(_._1).distinct
      .sortWith((a, b) =>
        UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0)
    val idx = langs.zipWithIndex.toMap
    val prof = profile.map { case (l, tg, r) => (tg, idx(l), r) }
    ColumnBridge.column(TextCatPredict(ColumnBridge.expression(c), langs,
      prof, profTopN, docTopN))
  }

  /** Rabin–Karp polynomial rolling hash over the UTF-8 bytes:
    * h = fold(0)((acc, b) => (acc·257 + b) mod (2³¹−1)). Static entry
    * point shared by eval and generated code. The per-step product stays
    * under 2³⁹, so the arithmetic never overflows a long.
    */
  def rollingHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 257 + (bytes(i) & 0xff)) % 2147483647L
      i += 1
    }
    acc
  }

  /** The production content-hash of a dedup pass: one multiply-add-mod
    * per byte (no block cipher), incrementally extendable — the hash a
    * content-defined-chunking or shift-tolerant dedup builds on, where
    * md5 (q17/q19) is the content-ADDRESS. Portable contract: the
    * DuckDB twin folds ascii() codepoints, which equals the byte fold
    * on an ASCII corpus (the q30 contract); non-ASCII text hashes by
    * BYTE here and by CODEPOINT there, so oracles must stay on ASCII
    * fixtures.
    */
  case class RollingHash32(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "rolling_hash32"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${other.sql}")
    }

    override def nullSafeEval(v: Any): Any =
      rollingHash(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextExpressions.rollingHash($c);")

    override protected def withNewChildInternal(c: Expression): RollingHash32 =
      copy(child = c)
  }

  def rollingHash32(c: Column): Column =
    ColumnBridge.column(RollingHash32(ColumnBridge.expression(c)))

  /** Unicode NFC normalization with an ASCII fast path.
    *
    * Visually identical strings with different codepoint sequences
    * ("é" as U+00E9 vs e + U+0301) defeat hash-based dedup (q19/q21)
    * and fingerprinting (q17) — canonical composition first makes
    * content hashing mean content, not byte accident. Spark has no
    * built-in for this (the usual fallback is a Scala UDF, which blocks
    * whole-stage codegen); DuckDB ships `nfc_normalize`.
    *
    * Fast path: NFC can only alter strings containing codepoints with
    * nonzero canonical combining class or composition mappings, all of
    * which are non-ASCII — so a pure-ASCII input (the overwhelming hot
    * path of a web corpus) is returned UNCHANGED with zero allocation
    * after one byte scan. Only strings with a high bit set pay the
    * String round-trip through java.text.Normalizer (isNormalized
    * short-circuits the already-composed majority of those).
    */
  def nfc(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) {
      if ((bytes(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "nfc_normalize"
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${other.sql}")
    }

    override def nullSafeEval(v: Any): Any =
      nfc(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.plans.TextExpressions.nfc($c);")

    override protected def withNewChildInternal(c: Expression): NfcNormalize =
      copy(child = c)
  }

  def nfcNormalize(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
}
