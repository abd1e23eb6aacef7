package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftshim.ExprShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text-analysis expressions for the [EXT] §2.10 path.
  *
  * The column formulation of the text stats (7 regex passes + 6
  * interpreted higher-order-function lambdas per row, with the token
  * array recomputed per stat) measured ~1.3 ms/doc — HOF lambdas are
  * CodegenFallback, so every per-token step is an interpreted
  * expression eval. These expressions make ONE pass over the text per
  * row in plain Java loops (interpreted-expression overhead is paid
  * once per row, not once per token — the HyperplaneSketch argument).
  * Semantics are BIT-IDENTICAL to the HOF formulations (same \w / \s
  * ASCII classes as Java+RE2 regex, same lowercase, same operation
  * order) so the DuckDB oracle matches are unchanged.
  */
object TextExprs {

  private def isWordCp(cp: Int): Boolean =
    (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
      (cp >= '0' && cp <= '9') || cp == '_'
  // Java regex \s (default flags) = [ \t\n\x0B\f\r]; RE2 adds \v which
  // is the same 0x0B. Identical ASCII set.
  private def isSpaceCp(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'

  /** All raw counts the text-stats surface needs, one pass:
    * struct(ws_tokens, bpe_tokens, n_nonspace, n_punct, tok_count,
    * tok_len_sum, stop_hits, s_en, s_de, s_fr, s_es, cjk, n_cp).
    * Ratios/rounding/lang-pick happen OUTSIDE in codegen'd built-ins so
    * float semantics match the old column formulas exactly.
    */
  case class TextStatsRaw(child: Expression,
                          stopwords: Seq[String],
                          markers: Seq[(String, Seq[String])])
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    // marker-count fields follow the `markers` parameter (one `s_<lang>`
    // per entry, in order), so adding/reordering languages cannot
    // silently bind counts to the wrong field
    override def dataType: DataType = StructType(
      Seq(
        StructField("ws_tokens", IntegerType, nullable = false),
        StructField("bpe_tokens", IntegerType, nullable = false),
        StructField("n_nonspace", IntegerType, nullable = false),
        StructField("n_punct", IntegerType, nullable = false),
        StructField("tok_count", IntegerType, nullable = false),
        StructField("tok_len_sum", LongType, nullable = false),
        StructField("stop_hits", IntegerType, nullable = false)) ++
      markers.map { case (lang, _) =>
        StructField(s"s_$lang", IntegerType, nullable = false) } ++
      Seq(
        StructField("cjk", IntegerType, nullable = false),
        StructField("n_cp", IntegerType, nullable = false)))
    override def prettyName: String = "text_stats_raw"

    @transient private lazy val stopSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      stopwords.foreach(s.add); s
    }
    @transient private lazy val markerSets: Array[java.util.HashSet[String]] =
      markers.map { case (_, ws) =>
        val s = new java.util.HashSet[String]()
        ws.foreach(s.add); s
      }.toArray

    override def nullSafeEval(input: Any): Any = {
      val raw = input.asInstanceOf[UTF8String].toString
      val n = raw.length
      // pass 1: original text — ws/bpe/punct/cjk/codepoint counts
      var ws = 0; var bpe = 0; var nonSpace = 0; var punct = 0
      var cjk = 0; var nCp = 0
      var inWs = false; var inW = false
      var i = 0
      while (i < n) {
        val cp = raw.codePointAt(i)
        nCp += 1
        val sp = cp < 128 && isSpaceCp(cp)
        val w = cp < 128 && isWordCp(cp)
        if (!sp) {
          nonSpace += 1
          if (!inWs) ws += 1            // run of non-\s chars
          if (!w) { punct += 1; bpe += 1 }  // [^\w\s] is its own token
          else if (!inW) bpe += 1       // start of a \w+ run
        }
        inWs = !sp; inW = w && !sp
        if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
        i += Character.charCount(cp)
      }
      // pass 2: lowercased text — \w-run tokens, lengths, list hits
      val low = input.asInstanceOf[UTF8String].toLowerCase.toString
      val m = low.length
      var tokCount = 0; var tokLenSum = 0L; var stopHits = 0
      val mh = new Array[Int](markerSets.length)
      val sb = new java.lang.StringBuilder(32)
      def closeTok(): Unit = if (sb.length > 0) {
        tokCount += 1
        // token length in code points (Spark length() semantics)
        tokLenSum += sb.codePointCount(0, sb.length)
        val t = sb.toString
        if (stopSet.contains(t)) stopHits += 1
        var k = 0
        while (k < markerSets.length) {
          if (markerSets(k).contains(t)) mh(k) += 1
          k += 1
        }
        sb.setLength(0)
      }
      i = 0
      while (i < m) {
        val cp = low.codePointAt(i)
        if (cp < 128 && isWordCp(cp)) sb.appendCodePoint(cp) else closeTok()
        i += Character.charCount(cp)
      }
      closeTok()
      val fields = Array.newBuilder[Any]
      fields += ws += bpe += nonSpace += punct += tokCount += tokLenSum += stopHits
      mh.foreach(fields += _)
      fields += cjk += nCp
      InternalRow.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(fields.result()))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** XXH64(seed 42) of the space-joined lowercased `\w+` token stream —
    * bit-identical to xxhash64(array_join(tokens(text), " ")) with the
    * tokens(text) HOF, in one pass with no regex or per-token lambda.
    */
  case class NormalizedTokenHash(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def prettyName: String = "normalized_token_hash"

    override def nullSafeEval(input: Any): Any = {
      val low = input.asInstanceOf[UTF8String].toLowerCase.toString
      val n = low.length
      val sb = new java.lang.StringBuilder(low.length)
      var pendingSep = false; var inTok = false
      var i = 0
      while (i < n) {
        val cp = low.codePointAt(i)
        if (cp < 128 && isWordCp(cp)) {
          if (!inTok && pendingSep) sb.append(' ')
          sb.appendCodePoint(cp); inTok = true
        } else if (inTok) { pendingSep = true; inTok = false }
        i += Character.charCount(cp)
      }
      val joined = UTF8String.fromString(sb.toString)
      XXH64.hashUnsafeBytes(joined.getBaseObject, joined.getBaseOffset,
        joined.numBytes, 42L)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Unicode NFC normalization (canonical composition) — the standard
    * first step of LLM text preprocessing: composes decomposed accents
    * (e.g. `e` + U+0301 → `é`) so visually-identical strings hash/dedup
    * identically. Backed by the JDK's `java.text.Normalizer` (public
    * Unicode algorithm; DuckDB's `nfc_normalize` is the oracle twin).
    * Already-normalized ASCII short-circuits via the quick-check — the
    * overwhelmingly common case at corpus scale costs one scan, no
    * allocation.
    */
  case class NfcNormalize(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "nfc_normalize"

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) input
      else UTF8String.fromString(
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Lowercased `\w+` tokens as an array — bit-identical to
    * `filter(split(lower(trim(text)), "\\W+"), t => t =!= "")` (the HOF
    * chain evaluates its filter lambda interpreted per token; this is
    * one pass per row). Backs [[graft.ext.TextDedup.tokens]], so every
    * shingle/vocab/simhash pipeline tokenizes at scan speed.
    */
  case class Tokens(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_tokens"

    override def nullSafeEval(input: Any): Any = {
      val low = input.asInstanceOf[UTF8String].toLowerCase.toString
      val len = low.length
      val out = new java.util.ArrayList[UTF8String]()
      var i = 0; var start = -1
      while (i < len) {
        val cp = low.codePointAt(i)
        if (cp < 128 && isWordCp(cp)) {
          if (start < 0) start = i
        } else if (start >= 0) {
          out.add(UTF8String.fromString(low.substring(start, i))); start = -1
        }
        i += Character.charCount(cp)
      }
      if (start >= 0) out.add(UTF8String.fromString(low.substring(start)))
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The lexicographically smallest word n-gram of the lowercased
    * `\w+` token stream, space-joined — bit-identical to
    * `array_min(shingles(text, n))` with the tokens/transform HOF
    * chain, in ONE pass over the string (no per-token or per-shingle
    * interpreted lambda; the HOF formulation measured ~8 s on 5k docs,
    * this ~0.3 s). NULL when the doc has fewer than n tokens.
    * UTF8String binary comparison == Spark's array_min string order ==
    * DuckDB's min over VARCHAR, so the md5-digest oracle reproduces it.
    */
  case class MinShingle(child: Expression, n: Int)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    require(n >= 1, "shingle width must be >= 1")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "min_shingle"

    override def nullSafeEval(input: Any): Any = {
      val low = input.asInstanceOf[UTF8String].toLowerCase.toString
      val len = low.length
      // token boundaries in one pass
      val starts = new java.util.ArrayList[Integer]()
      val ends = new java.util.ArrayList[Integer]()
      var i = 0; var inTok = false
      while (i < len) {
        val cp = low.codePointAt(i)
        if (cp < 128 && isWordCp(cp)) {
          if (!inTok) { starts.add(i); inTok = true }
        } else if (inTok) { ends.add(i); inTok = false }
        i += Character.charCount(cp)
      }
      if (inTok) ends.add(len)
      val cnt = starts.size()
      if (cnt < n) return null
      var best: String = null
      val sb = new java.lang.StringBuilder(64)
      var w = 0
      while (w <= cnt - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(low, starts.get(w + j), ends.get(w + j))
          j += 1
        }
        val cur = sb.toString
        if (best == null || cur.compareTo(best) < 0) best = cur
        w += 1
      }
      UTF8String.fromString(best)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Count of non-overlapping matches of each pattern, one row pass:
    * array<long> aligned with `patterns`. Bit-identical to
    * `size(regexp_extract_all(text, p, 0))` per pattern (same Java
    * regex engine, same left-to-right find loop) without materializing
    * an array of matched substrings per pattern per row — the PII scan
    * needs only the counts, and on scan-speed paths the allocation of
    * match arrays (plus one UTF8String→String conversion per pattern)
    * is the dominant cost.
    */
  case class RegexCounts(child: Expression, patterns: Seq[String])
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    require(patterns.nonEmpty, "regex_counts: need at least one pattern")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "regex_counts"

    @transient private lazy val compiled: Array[java.util.regex.Pattern] =
      patterns.map(java.util.regex.Pattern.compile).toArray

    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val out = new Array[Any](compiled.length)
      var i = 0
      while (i < compiled.length) {
        val m = compiled(i).matcher(s)
        var c = 0L
        while (m.find()) c += 1
        out(i) = c
        i += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Per-script codepoint counts, one walk: struct(n_cp, latin, han,
    * cyrillic, arabic, thai, digit) over the ASCII-whitespace-stripped
    * text. Bit-identical to the regex formulation
    * `length(t) - length(regexp_replace(t, "[\p{IsX}]", ""))` with
    * `t = regexp_replace(text, "\s+", "")` — Java `\p{IsX}` is the
    * script property (`Character.UnicodeScript.of`), Java `\s` is the
    * ASCII set ([[isSpaceCp]]), and both engines' `length()` counts
    * codepoints — but a single pass instead of eight full regex
    * traversals each allocating a replaced copy of the document.
    */
  case class ScriptCountsRaw(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("n_cp", LongType, nullable = false),
      StructField("latin", LongType, nullable = false),
      StructField("han", LongType, nullable = false),
      StructField("cyrillic", LongType, nullable = false),
      StructField("arabic", LongType, nullable = false),
      StructField("thai", LongType, nullable = false),
      StructField("digit", LongType, nullable = false)))
    override def prettyName: String = "script_counts_raw"

    override def nullSafeEval(input: Any): Any = {
      val raw = input.asInstanceOf[UTF8String].toString
      val n = raw.length
      var tot = 0L; var lat = 0L; var han = 0L; var cyr = 0L
      var ara = 0L; var tha = 0L; var dig = 0L
      var i = 0
      while (i < n) {
        val cp = raw.codePointAt(i)
        if (!(cp < 128 && isSpaceCp(cp))) {
          tot += 1
          if (cp >= '0' && cp <= '9') dig += 1
          else Character.UnicodeScript.of(cp) match {
            case Character.UnicodeScript.LATIN    => lat += 1
            case Character.UnicodeScript.HAN      => han += 1
            case Character.UnicodeScript.CYRILLIC => cyr += 1
            case Character.UnicodeScript.ARABIC   => ara += 1
            case Character.UnicodeScript.THAI     => tha += 1
            case _                                =>
          }
        }
        i += Character.charCount(cp)
      }
      InternalRow(tot, lat, han, cyr, ara, tha, dig)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** First `hexDigits` hex digits of md5 as an unsigned Long —
    * bit-identical to `conv(substring(md5(x), 1, hexDigits), 16, 10)`
    * (≤ 15 digits < 2⁶⁰ always fits signed 64-bit, and the identical
    * DuckDB expression replays it), but computed straight from the
    * digest bytes: no 32-char hex string, no substring copy, no
    * base-16 string parse per value. The winnowing gram hash calls
    * this once per character position of the corpus, so the
    * allocation-free path is worth a custom expression.
    */
  case class Md5Prefix64(child: Expression, hexDigits: Int)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    require(hexDigits > 0 && hexDigits <= 15,
      s"hexDigits must be in [1,15], got $hexDigits")
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = LongType
    override def prettyName: String = "md5_prefix64"

    @transient private lazy val digest =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    override def nullSafeEval(input: Any): Any = {
      val d = digest.get(); d.reset()
      val out = d.digest(input.asInstanceOf[Array[Byte]])
      var v = 0L; var i = 0
      while (i < 8) { v = (v << 8) | (out(i) & 0xffL); i += 1 }
      java.lang.Long.valueOf(v >>> (64 - 4 * hexDigits))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Whole-document winnowing fingerprints in ONE per-row pass:
    * sorted distinct min-hashes selected by the SIGMOD'03 winnowing
    * scheme (each length-`w` window of consecutive k-gram hashes
    * contributes its minimum). Bit-identical to the exploded
    * formulation this replaces ([[graft.ext.TextDedup.winnowFingerprints]]
    * builds on it; the equivalence is law-checked in ExtSpec):
    *
    *  - normalization `lower(regexp_replace(text, "\\W+", ""))`: Java
    *    regex `\W` without UNICODE_CHARACTER_CLASS is exactly
    *    [^a-zA-Z0-9_], so the normalized text is pure ASCII — done
    *    here as a byte filter over the UTF-8 encoding (continuation
    *    and lead bytes of non-ASCII code points are all ≥ 0x80 and
    *    are stripped like any other non-word char) + ASCII lowercase.
    *  - gram hash = first `hexDigits` hex digits of md5 as a long
    *    (same value as [[Md5Prefix64]] over the gram bytes), so the
    *    DuckDB oracle replicates it with conv(substring(md5(..)..)).
    *  - per-window min via a monotonic deque: O(length) per document
    *    total, vs the exploded plan's billions of window-frame rows.
    *
    * Why an expression and not the explode+window plan: at 6M docs
    * the exploded formulation pays ~1.8B interpreted Md5Prefix64
    * calls, a per-gram UTF8String substring+binary-cast allocation,
    * and a 1.8B-row per-partition sort for the window — measured 327 s
    * end-to-end (r8, SCALEBENCH3_r08.json). Here the per-row
    * interpreted-call overhead is paid once per DOCUMENT, grams hash
    * straight out of one reused byte buffer into one reused
    * MessageDigest, and no shuffle or sort exists at all.
    *
    * Documents with fewer than k + w − 1 normalized chars have no
    * complete window and return an EMPTY array (callers explode, so
    * they drop out exactly as the old length filter dropped them).
    */
  case class WinnowFps(child: Expression, k: Int, w: Int, hexDigits: Int)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    require(k > 0 && w > 0, "k and w must be positive")
    require(hexDigits > 0 && hexDigits <= 15,
      s"hexDigits must be in [1,15], got $hexDigits")
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "winnow_fingerprints"

    @transient private lazy val digest =
      new ThreadLocal[java.security.MessageDigest] {
        override def initialValue(): java.security.MessageDigest =
          java.security.MessageDigest.getInstance("MD5")
      }

    override def nullSafeEval(input: Any): Any = {
      val raw = input.asInstanceOf[UTF8String].getBytes
      // normalize: keep [a-zA-Z0-9_], ASCII-lowercase, in place
      val buf = new Array[Byte](raw.length)
      var n = 0
      var i = 0
      while (i < raw.length) {
        val b = raw(i)
        if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9') || b == '_') {
          buf(n) = b; n += 1
        } else if (b >= 'A' && b <= 'Z') {
          buf(n) = (b + 32).toByte; n += 1
        }
        i += 1
      }
      val nGrams = n - k + 1
      val nWins = nGrams - w + 1
      if (nWins <= 0) return new GenericArrayData(Array.emptyLongArray)
      val d = digest.get()
      val out16 = new Array[Byte](16)
      val hs = new Array[Long](nGrams)
      var g = 0
      while (g < nGrams) {
        d.reset()
        d.update(buf, g, k)
        d.digest(out16, 0, 16)
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (out16(j) & 0xffL); j += 1 }
        hs(g) = v >>> (64 - 4 * hexDigits)
        g += 1
      }
      // sliding-window min, monotonic deque of gram indices; the
      // window ending at gram p (p ≥ w−1) is the window STARTING at
      // p−w+1, so every complete window contributes exactly once
      val dq = new Array[Int](nGrams)
      var head = 0
      var tail = 0
      // collect per-window minima into a primitive buffer (no boxing),
      // then sort + dedupe in place — hash values are < 2^60 so the
      // unsigned selection order and signed sort order coincide
      val sel = new Array[Long](nWins)
      var nSel = 0
      var p = 0
      while (p < nGrams) {
        while (tail > head && hs(dq(tail - 1)) >= hs(p)) tail -= 1
        dq(tail) = p; tail += 1
        if (dq(head) <= p - w) head += 1
        if (p >= w - 1) { sel(nSel) = hs(dq(head)); nSel += 1 }
        p += 1
      }
      java.util.Arrays.sort(sel, 0, nSel)
      var uniq = 0
      var q = 0
      while (q < nSel) {
        if (uniq == 0 || sel(q) != sel(uniq - 1)) { sel(uniq) = sel(q); uniq += 1 }
        q += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(sel, uniq))
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Whole-document BPE segmentation in ONE per-row pass: tokenize
    * exactly like [[Tokens]] (Unicode lowercase, ASCII `\w` runs),
    * then apply the learned merge list to each word and emit the
    * concatenated token stream. Bit-identical to
    * `flatten(transform(tokens(text), w => segmentWord(w, merges)))`
    * ([[graft.ext.Bpe.segmentWord]] — law-checked in ExtSpec), which
    * builds a merge-count-deep `replace` expression tree evaluated
    * interpreted per WORD with a fresh padded UTF8String per merge
    * step (~64 string allocations × word length per word at a
    * realistic vocab — ⅔ of the 77 s r8 encode phase,
    * SCALEBENCH3_r08.json).
    *
    * Key invariant making the fused pass cheap: merging ADJACENT
    * symbols always yields a contiguous substring of the word, so a
    * word's segmentation is just a span list (start, len) over its
    * char array — a merge pass rewrites the span list in place with
    * zero string building. Per merge, the pass is the same
    * non-overlapping left-to-right greedy pairing as one
    * `replace(" a  b ", " ab ")` over the double-space form: a match
    * consumes both spans and scanning resumes at the next ORIGINAL
    * span, so output of the current pass never re-matches as lhs —
    * exactly the string semantics (matches live on the pass's input).
    */
  case class BpeEncodeTokens(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "bpe_encode_tokens"

    // merge patterns as primitive char arrays; maxLen gates the
    // cheap "pattern can't fit this word" skip
    @transient private lazy val mA: Array[Array[Char]] =
      merges.map(_._1.toCharArray).toArray
    @transient private lazy val mB: Array[Array[Char]] =
      merges.map(_._2.toCharArray).toArray

    override def nullSafeEval(input: Any): Any = {
      val low = input.asInstanceOf[UTF8String].toLowerCase.toString
      val len = low.length
      val out = new java.util.ArrayList[UTF8String]()
      // reusable span buffers sized to the longest word seen so far
      var starts = new Array[Int](16)
      var lens = new Array[Int](16)

      def spanEq(s: Int, l: Int, pat: Array[Char]): Boolean = {
        if (l != pat.length) return false
        var i = 0
        while (i < l) { if (low.charAt(s + i) != pat(i)) return false; i += 1 }
        true
      }

      def emitWord(wStart: Int, wEnd: Int): Unit = {
        val wl = wEnd - wStart
        if (wl > starts.length) {
          starts = new Array[Int](wl); lens = new Array[Int](wl)
        }
        var m = 0
        while (m < wl) { starts(m) = wStart + m; lens(m) = 1; m += 1 }
        var k = 0
        while (k < mA.length && m > 1) {
          val a = mA(k); val b = mB(k)
          if (a.length + b.length <= wl) {
            var w = 0; var r = 0
            while (r < m) {
              if (r + 1 < m && spanEq(starts(r), lens(r), a) &&
                  spanEq(starts(r + 1), lens(r + 1), b)) {
                starts(w) = starts(r); lens(w) = lens(r) + lens(r + 1)
                w += 1; r += 2
              } else {
                starts(w) = starts(r); lens(w) = lens(r); w += 1; r += 1
              }
            }
            m = w
          }
          k += 1
        }
        var t = 0
        while (t < m) {
          out.add(UTF8String.fromString(
            low.substring(starts(t), starts(t) + lens(t))))
          t += 1
        }
      }

      var i = 0; var start = -1
      while (i < len) {
        val cp = low.codePointAt(i)
        if (cp < 128 && isWordCp(cp)) {
          if (start < 0) start = i
        } else if (start >= 0) { emitWord(start, i); start = -1 }
        i += Character.charCount(cp)
      }
      if (start >= 0) emitWord(start, len)
      new GenericArrayData(out.toArray)
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ── byte-level BPE (GPT-2 family, r13) ─────────────────────────────

  /** The GPT-2 byte↔unicode alphabet (Radford et al. 2019; the
    * `bytes_to_unicode` table every byte-level BPE family uses):
    * printable latin-1 bytes map to themselves, the rest to 256+n in
    * byte order — a bijection byte ↔ BMP char, so ANY UTF-8 input
    * round-trips through tokens with no OOV by construction.
    */
  object ByteAlphabet {
    val byteToChar: Array[Char] = {
      val self = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ')).map(_.toInt).toSet
      val out = new Array[Char](256)
      var n = 0
      var b = 0
      while (b < 256) {
        if (self.contains(b)) out(b) = b.toChar
        else { out(b) = (256 + n).toChar; n += 1 }
        b += 1
      }
      out
    }
    /** char → byte inverse (−1 = not in the alphabet). */
    val charToByte: Array[Int] = {
      val out = Array.fill(1024)(-1)
      var b = 0
      while (b < 256) { out(byteToChar(b).toInt) = b; b += 1 }
      out
    }
    /** UTF-8 bytes of `s`, each mapped to its alphabet char. */
    def mapString(s: String): String = {
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val cs = new Array[Char](bytes.length)
      var i = 0
      while (i < bytes.length) { cs(i) = byteToChar(bytes(i) & 0xFF); i += 1 }
      new String(cs)
    }
    /** Inverse of [[mapString]] — alphabet chars → bytes → UTF-8. A
      * char outside the alphabet is a caller bug; fail loudly.
      */
    def unmapString(s: String): String = {
      val bytes = new Array[Byte](s.length)
      var i = 0
      while (i < s.length) {
        val b = if (s.charAt(i) < 1024) charToByte(s.charAt(i).toInt) else -1
        require(b >= 0, s"byte_bpe_decode: char U+${s.charAt(i).toInt}%04X " +
          "is not in the byte-level alphabet")
        bytes(i) = b.toByte
        i += 1
      }
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    }
    /** GPT-2-FAMILY pretokenizer, RE2-compatible subset: the original
      * pattern's contraction cases and the `\s+(?!\S)` lookahead are
      * dropped (RE2 — the DuckDB oracle engine — has no lookahead);
      * space-prefixed letter/number/punct runs and whitespace runs
      * are kept. Merges never cross pretoken boundaries, the property
      * that bounds token length and keeps word identity.
      */
    val Pretokenizer = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
  }

  /** Greedy in-order merge application over one word's char spans —
    * the same cache-local span loop as [[BpeEncodeTokens]], shared by
    * the byte-level family (which must NOT lowercase or re-tokenize).
    */
  private def spanMergeInto(word: String, mA: Array[Array[Char]],
                            mB: Array[Array[Char]],
                            out: java.util.ArrayList[UTF8String]): Unit = {
    val wl = word.length
    if (wl == 0) return
    val starts = new Array[Int](wl)
    val lens = new Array[Int](wl)
    def spanEq(s: Int, l: Int, pat: Array[Char]): Boolean = {
      if (l != pat.length) return false
      var i = 0
      while (i < l) { if (word.charAt(s + i) != pat(i)) return false; i += 1 }
      true
    }
    var m = 0
    while (m < wl) { starts(m) = m; lens(m) = 1; m += 1 }
    var k = 0
    while (k < mA.length && m > 1) {
      val a = mA(k); val b = mB(k)
      if (a.length + b.length <= wl) {
        var w = 0; var r = 0
        while (r < m) {
          if (r + 1 < m && spanEq(starts(r), lens(r), a) &&
              spanEq(starts(r + 1), lens(r + 1), b)) {
            starts(w) = starts(r); lens(w) = lens(r) + lens(r + 1)
            w += 1; r += 2
          } else {
            starts(w) = starts(r); lens(w) = lens(r); w += 1; r += 1
          }
        }
        m = w
      }
      k += 1
    }
    var t = 0
    while (t < m) {
      out.add(UTF8String.fromString(
        word.substring(starts(t), starts(t) + lens(t))))
      t += 1
    }
  }

  /** Byte-mapped pretokens of raw text (NO lowercasing — byte-level
    * vocabularies are case-bearing): regex pretokenize, then map each
    * pretoken's UTF-8 bytes through [[ByteAlphabet]]. The train-side
    * "word" unit.
    */
  case class ByteBpePretokens(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "byte_bpe_pretokens"
    @transient private lazy val pat =
      java.util.regex.Pattern.compile(ByteAlphabet.Pretokenizer)
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val out = new java.util.ArrayList[UTF8String]()
      val m = pat.matcher(s)
      while (m.find())
        out.add(UTF8String.fromString(ByteAlphabet.mapString(m.group())))
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Fused byte-level BPE encode: pretokenize + byte-map + apply the
    * whole merge list per pretoken in one span loop. Token strings
    * live in the mapped alphabet (decode via [[ByteBpeUnmap]]).
    */
  case class ByteBpeTokens(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "byte_bpe_tokens"
    @transient private lazy val pat =
      java.util.regex.Pattern.compile(ByteAlphabet.Pretokenizer)
    @transient private lazy val mA: Array[Array[Char]] =
      merges.map(_._1.toCharArray).toArray
    @transient private lazy val mB: Array[Array[Char]] =
      merges.map(_._2.toCharArray).toArray
    override def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].toString
      val out = new java.util.ArrayList[UTF8String]()
      val m = pat.matcher(s)
      while (m.find())
        spanMergeInto(ByteAlphabet.mapString(m.group()), mA, mB, out)
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Span-merge an ALREADY byte-mapped word — the train loop's
    * re-segmenter (iterates on the frozen pretoken-type table).
    */
  case class SpanMergeWord(child: Expression, merges: Seq[(String, String)])
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "span_merge_word"
    @transient private lazy val mA: Array[Array[Char]] =
      merges.map(_._1.toCharArray).toArray
    @transient private lazy val mB: Array[Array[Char]] =
      merges.map(_._2.toCharArray).toArray
    override def nullSafeEval(input: Any): Any = {
      val out = new java.util.ArrayList[UTF8String]()
      spanMergeInto(input.asInstanceOf[UTF8String].toString, mA, mB, out)
      new GenericArrayData(out.toArray)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Inverse byte map: a (concatenation of) byte-level token(s) back
    * to the original UTF-8 string — `unmap(concat(encode(x))) == x`
    * for ANY input, the no-OOV law.
    */
  case class ByteBpeUnmap(child: Expression)
      extends UnaryExpression with ExpectsInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "byte_bpe_unmap"
    override def nullSafeEval(input: Any): Any =
      UTF8String.fromString(
        ByteAlphabet.unmapString(input.asInstanceOf[UTF8String].toString))
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  // ── Column wrappers ────────────────────────────────────────────────
  def textStatsRaw(text: Column, stopwords: Seq[String],
                   markers: Seq[(String, Seq[String])]): Column =
    ExprShim.column(TextStatsRaw(ExprShim.expression(text), stopwords, markers))
  def normalizedTokenHash(text: Column): Column =
    ExprShim.column(NormalizedTokenHash(ExprShim.expression(text)))
  def minShingle(text: Column, n: Int): Column =
    ExprShim.column(MinShingle(ExprShim.expression(text), n))
  def wordTokens(text: Column): Column =
    ExprShim.column(Tokens(ExprShim.expression(text)))
  def regexCounts(text: Column, patterns: Seq[String]): Column =
    ExprShim.column(RegexCounts(ExprShim.expression(text), patterns))
  def nfcNormalize(text: Column): Column =
    ExprShim.column(NfcNormalize(ExprShim.expression(text)))
  def scriptCounts(text: Column): Column =
    ExprShim.column(ScriptCountsRaw(ExprShim.expression(text)))
  def md5Prefix64(bytes: Column, hexDigits: Int): Column =
    ExprShim.column(Md5Prefix64(ExprShim.expression(bytes), hexDigits))
  def winnowFps(text: Column, k: Int, w: Int, hexDigits: Int = 15): Column =
    ExprShim.column(WinnowFps(ExprShim.expression(text), k, w, hexDigits))
  def bpeEncodeTokens(text: Column, merges: Seq[(String, String)]): Column =
    ExprShim.column(BpeEncodeTokens(ExprShim.expression(text), merges))
  def byteBpePretokens(text: Column): Column =
    ExprShim.column(ByteBpePretokens(ExprShim.expression(text)))
  def byteBpeTokens(text: Column, merges: Seq[(String, String)]): Column =
    ExprShim.column(ByteBpeTokens(ExprShim.expression(text), merges))
  def spanMergeWord(word: Column, merges: Seq[(String, String)]): Column =
    ExprShim.column(SpanMergeWord(ExprShim.expression(word), merges))
  def byteBpeUnmap(tokens: Column): Column =
    ExprShim.column(ByteBpeUnmap(ExprShim.expression(tokens)))
}
