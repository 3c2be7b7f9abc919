package graft.lid

import java.util.regex.Pattern

/** Pure-Scala per-row text statistics mirroring the reference's scalar
  * surface (alphabetical ratio `lib/language_identification.py:89-94`,
  * digit strip `:183-184`, whitespace strip `:518`) plus the graft's
  * quality-scoring features (token counts, punctuation/stopword ratios,
  * rolling-hash fingerprint). Everything here is deterministic, allocation-
  * light, and safe to call per row inside `mapPartitions` hot loops.
  */
object TextStats {

  // Mirrors Python `re.sub(r"[\W_\d]+", "", text)` — Python \W is
  // Unicode-aware, so we enable UNICODE_CHARACTER_CLASS for parity.
  private val NonAlpha: Pattern =
    Pattern.compile("[\\W_\\d]+", Pattern.UNICODE_CHARACTER_CLASS)
  private val WsRun: Pattern = Pattern.compile("\\s+")
  // BPE-ish token regex: word runs or single non-space symbols.
  private val TokenRe: Pattern =
    Pattern.compile("[\\p{L}\\p{N}_]+|[^\\p{L}\\p{N}_\\s]",
      Pattern.UNICODE_CHARACTER_CLASS)

  /** `len(re.sub(r"[\W_\d]+","",text)) / len(text)`; 0.0 for null/empty.
    * Reference: lib/language_identification.py:89-94. All-ASCII text
    * (the common case) is counted without the regex: there the Unicode
    * classes leave exactly the letters a-z and A-Z. */
  def alphabeticalRatio(text: String): Double = {
    if (text == null || text.isEmpty) return 0.0
    var letters = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= 0x80)
        return NonAlpha.matcher(text).replaceAll("").length.toDouble / text.length
      val lc = c | 0x20
      if (lc >= 'a' && lc <= 'z') letters += 1
      i += 1
    }
    letters.toDouble / text.length
  }

  // 10^0 .. 10^22, every one exact in a double
  private val Pow10: Array[Double] = Array.iterate(1.0, 23)(_ * 10)

  /** Round half-up to n digits (matches Python round-for-positive +
    * Spark/DuckDB round on the value ranges we use). The semantics are
    * `BigDecimal(x).setScale(n, HALF_UP).toDouble`, and `BigDecimal(x)`
    * is the shortest decimal that reads back as x. That decimal times
    * 10^n lies within two ulps of the double `|x| * 10^n`, so unless
    * the double's fraction is within 1e-6 of one half (and below 1e8,
    * where two ulps are under 3e-8) both round to the same integer q.
    * The result is then `q / 10^n`, which is how `BigDecimal` converts a
    * small scaled integer to a double; ties and large values take the
    * `BigDecimal` form itself. */
  def roundTo(x: Double, n: Int): Double = {
    if (x.isNaN || x.isInfinite) return x
    if (n >= 0 && n < Pow10.length) {
      val y = math.abs(x) * Pow10(n)
      if (y < 1e8) {
        val fl = math.floor(y)
        val f = y - fl
        if (math.abs(f - 0.5) > 1e-6) {
          val r = (if (f > 0.5) fl + 1 else fl) / Pow10(n)
          return if (x < 0 && r != 0.0) -r else r
        }
      }
    }
    BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** fastText pre-normalization: strip ASCII digit runs (LI:183-184).
    * Returns `text` itself when it has no digit. */
  def stripDigits(text: String): String = {
    if (text == null) return ""
    var i = 0
    while (i < text.length && !isAsciiDigit(text.charAt(i))) i += 1
    if (i == text.length) return text
    val sb = new java.lang.StringBuilder(text.length)
    sb.append(text, 0, i)
    while (i < text.length) {
      val c = text.charAt(i)
      if (!isAsciiDigit(c)) sb.append(c)
      i += 1
    }
    sb.toString
  }

  private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'

  def whitespaceTokens(text: String): Array[String] = {
    if (text == null) return Array.empty
    val t = text.trim
    if (t.isEmpty) Array.empty else WsRun.split(t)
  }

  def regexTokenCount(text: String): Int = {
    if (text == null) return 0
    val m = TokenRe.matcher(text)
    var n = 0
    while (m.find()) n += 1
    n
  }

  final case class Quality(
      nChars: Int,
      nTokens: Int,
      meanTokenLen: Double,
      punctRatio: Double,
      digitRatio: Double,
      upperRatio: Double,
      stopwordRatio: Double)

  private val StopwordsEn: Set[String] =
    Set("the", "and", "of", "to", "in", "a", "is", "was", "for", "with",
      "on", "that", "it", "as", "at", "by", "an", "be", "this", "are")

  /** Quality features used by the keep/drop gates and the `documents`
    * quality-score query. Stopword ratio uses a small English set by
    * default; the pipeline passes per-language sets. */
  def quality(text: String, stopwords: Set[String] = StopwordsEn): Quality = {
    if (text == null || text.isEmpty)
      return Quality(0, 0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val n = text.length
    var punct = 0; var digit = 0; var upper = 0
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (Character.isDigit(c)) digit += 1
      else if (Character.isUpperCase(c)) upper += 1
      else if (!Character.isLetterOrDigit(c) && !Character.isWhitespace(c))
        punct += 1
      i += 1
    }
    val toks = whitespaceTokens(text)
    val meanLen =
      if (toks.isEmpty) 0.0 else toks.map(_.length).sum.toDouble / toks.length
    val stopHits =
      if (toks.isEmpty) 0.0
      else toks.count(t => stopwords.contains(t.toLowerCase)).toDouble / toks.length
    Quality(n, toks.length, meanLen, punct.toDouble / n, digit.toDouble / n,
      upper.toDouble / n, stopHits)
  }

  // ------------------------------------------------- Gopher quality rules
  // Public heuristics from Rae et al. 2021 ("Scaling Language Models:
  // Methods, Analysis & Insights from Training Gopher", appendix A1):
  // the de-facto standard quality filter for LLM training corpora.

  /** The 8 "required word" stopwords from the Gopher filter: a document
    * must contain ≥ 2 distinct ones. */
  val GopherStopwords: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  final case class Gopher(
      nWords: Int,
      meanWordLen: Double,
      symbolWordRatio: Double,   // (#'#' + #'...' + #'…') / words
      alphaWordFrac: Double,     // words containing ≥1 alphabetic char
      stopwordHits: Int,         // distinct GopherStopwords present
      dupLineFrac: Double,       // duplicate lines / lines
      dupLineCharFrac: Double,   // chars in duplicate lines / chars
      keep: Boolean)

  /** Count non-overlapping occurrences of `sub` in `s`. */
  private def countOcc(s: String, sub: String): Int = {
    var n = 0; var i = s.indexOf(sub)
    while (i >= 0) { n += 1; i = s.indexOf(sub, i + sub.length) }
    n
  }

  /** Gopher scalar + line-repetition rules. Thresholds follow the paper
    * except the word-count floor (the paper's 50 assumes web pages; the
    * gate parameterizes it for clip transcripts). A word is alphabetic
    * if it contains ≥ 1 Unicode letter. Line rules treat '\n' as the
    * separator; a single-line document trivially passes them.
    */
  def gopher(text: String, minWords: Int = 50, maxWords: Int = 100000,
             minStopHits: Int = 2): Gopher = {
    if (text == null || text.trim.isEmpty)
      return Gopher(0, 0.0, 0.0, 0.0, 0, 0.0, 0.0, keep = false)
    val ws = whitespaceTokens(text)
    val nWords = ws.length
    var lenSum = 0L; var alphaWords = 0
    var i = 0
    while (i < nWords) {
      val w = ws(i)
      lenSum += w.length
      var j = 0; var hasAlpha = false
      while (j < w.length && !hasAlpha) {
        if (Character.isLetter(w.charAt(j))) hasAlpha = true
        j += 1
      }
      if (hasAlpha) alphaWords += 1
      i += 1
    }
    val meanLen = lenSum.toDouble / nWords
    val symbols = countOcc(text, "#") + countOcc(text, "...") + countOcc(text, "…")
    val symRatio = symbols.toDouble / nWords
    val lower = new java.util.HashSet[String]()
    i = 0
    while (i < nWords) { lower.add(ws(i).toLowerCase); i += 1 }
    var stopHits = 0
    i = 0
    while (i < GopherStopwords.length) {
      if (lower.contains(GopherStopwords(i))) stopHits += 1
      i += 1
    }
    // line repetition (dup line fraction / dup line char fraction)
    val lines = text.split("\n", -1).map(_.trim).filter(_.nonEmpty)
    var dupLines = 0; var dupChars = 0L; var totChars = 0L
    if (lines.length > 1) {
      val seen = new java.util.HashMap[String, Int]()
      lines.foreach { l =>
        totChars += l.length
        val c = seen.getOrDefault(l, 0)
        if (c >= 1) { dupLines += 1; dupChars += l.length }
        seen.put(l, c + 1)
      }
    } else totChars = if (lines.isEmpty) 0 else lines(0).length
    val dlf = if (lines.length > 1) dupLines.toDouble / lines.length else 0.0
    val dlcf = if (totChars > 0 && lines.length > 1) dupChars.toDouble / totChars else 0.0
    val alphaFrac = alphaWords.toDouble / nWords
    val keep =
      nWords >= minWords && nWords <= maxWords &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        symRatio <= 0.1 &&
        alphaFrac >= 0.8 &&
        stopHits >= minStopHits &&
        dlf <= 0.30 && dlcf <= 0.20
    Gopher(nWords, meanLen, symRatio, alphaFrac, stopHits, dlf, dlcf, keep)
  }

  /** Fixed-width character windows over the whitespace-normalized text —
    * the segmentation unit for window-level language ID (code-switching
    * detection). A trailing fragment shorter than window/3 merges into
    * the previous window so no segment is too short to classify. */
  def charWindows(text: String, window: Int = 120): Array[String] = {
    if (text == null) return Array.empty
    val norm = WsRun.matcher(text.trim).replaceAll(" ")
    if (norm.isEmpty) return Array.empty
    if (norm.length <= window) return Array(norm)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < norm.length) {
      val end = math.min(norm.length, i + window)
      out += norm.substring(i, end)
      i = end
    }
    if (out.length > 1 && out.last.length < window / 3) {
      val tail = out.remove(out.length - 1)
      out(out.length - 1) = out.last + tail
    }
    out.toArray
  }

  /** Deflate compression ratio (compressed/raw bytes) — the standard
    * cheap entropy proxy for repetition/boilerplate detection: highly
    * templated or repeated text compresses far below natural prose.
    * 0.0 for null/empty. */
  def compressionRatio(text: String): Double = {
    if (text == null || text.isEmpty) return 0.0
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    try {
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    } finally d.end()
  }

  /** The text normalization of every dedup tier: lower-cased
    * (`String.toLowerCase`), each run of `[ \t\n\x0B\f\r]` replaced by
    * one space, then one leading and one trailing space dropped. Null
    * stays null. `Dedup.normText` is the same as a Spark column and
    * `catalog.Sql.normText` as DuckDB SQL; the three are pinned equal by
    * a test. */
  def normText(text: String): String = {
    if (text == null) return null
    val lower = text.toLowerCase
    val sb = new java.lang.StringBuilder(lower.length)
    var gap = false
    var i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      if (c == ' ' || (c >= '\t' && c <= '\r')) gap = true
      else {
        if (gap && sb.length > 0) sb.append(' ')
        gap = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** 64-bit polynomial rolling-hash document fingerprint over the
    * [[normText]]-normalized text (graft text-analysis surface). */
  def fingerprint(text: String): Long = {
    if (text == null) return 0L
    val norm = normText(text)
    var h = 1125899906842597L // prime
    var i = 0
    while (i < norm.length) { h = 31 * h + norm.charAt(i); i += 1 }
    h
  }

  /** Most frequent word 2-gram of the text, ties broken
    * lexicographically — the Gopher repetition-rule numerator. Null for
    * < 2 whitespace tokens. Row-LOCAL: a doc's top bigram needs only
    * that doc, so the operator runs as a narrow typed map with zero
    * shuffle (the explode → groupBy(doc, bigram) → window formulation
    * exchanged every bigram occurrence for the same answer). Token
    * split matches `split(trim(text), "\\s+")` exactly. */
  def topBigram(text: String): (String, Int) = {
    if (text == null) return null
    val ws = text.trim.split("\\s+")
    if (ws.length < 2 || ws(0).isEmpty) return null
    val counts = new java.util.HashMap[String, Int]
    var i = 0
    while (i < ws.length - 1) {
      val bg = ws(i) + " " + ws(i + 1)
      counts.merge(bg, 1, Integer.sum)
      i += 1
    }
    var best: String = null
    var bestC = 0
    counts.forEach { (bg, c) =>
      if (c > bestC || (c == bestC && (best == null || bg < best))) {
        best = bg; bestC = c
      }
    }
    (best, bestC)
  }

  /** Code-point shingles (n-grams) of the [[normText]]-normalized text,
    * distinct — the unit for Jaccard / MinHash dedup. A text shorter
    * than n is one shingle, the whole text. */
  def shingles(text: String, n: Int): Set[String] = {
    val cps = normCodePoints(text)
    if (cps.length <= n)
      return if (cps.isEmpty) Set.empty else Set(new String(cps, 0, cps.length))
    val out = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i + n <= cps.length) { out += new String(cps, i, n); i += 1 }
    out.toSet
  }

  /** The code points of [[normText]] of `text`; empty for null. Spark's
    * `length`/`substr` and DuckDB's count the same units. */
  private def normCodePoints(text: String): Array[Int] = {
    if (text == null) return Array.emptyIntArray
    val s = normText(text)
    val cps = new Array[Int](s.length)
    var k = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      cps(k) = cp; k += 1
      i += Character.charCount(cp)
    }
    if (k == cps.length) cps else java.util.Arrays.copyOf(cps, k)
  }

  private final val FnvBasis = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** FNV-1a 64 over the code points of `s` — the exact hash every dedup
    * tier (MinHash base hash, shingle join keys) uses; kept here so the
    * string and windowed forms can never drift apart. */
  def fnv64(s: String): Long = {
    var h = FnvBasis
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h ^= cp; h *= FnvPrime
      i += Character.charCount(cp)
    }
    h
  }

  /** Slots of `shingleHashes`' open-addressed set for m windows: the
    * next power of two >= 2m, at least 16. Sized in Long, so it throws
    * instead of overflowing Int (a 16-slot table that never finds an
    * empty slot, and so an endless probe loop) when 2m passes the
    * largest array. */
  private[graft] def hashSetCapacity(m: Int): Int = {
    var cap = 16L
    while (cap < 2L * m) cap <<= 1
    if (cap > MaxArrayPow2)
      throw new IllegalArgumentException(s"$m shingles exceed the largest hash set")
    cap.toInt
  }

  // largest power of two a JVM array can hold
  private val MaxArrayPow2 = 1L << 30

  /** Distinct FNV-1a 64 hashes of the code-point n-shingles of the
    * normalized text — value-wise EXACTLY `shingles(text, n).map(fnv64)`
    * as a set (up to in-document 64-bit collisions, which collapse two
    * distinct shingles onto one hash; ~1e-15 per doc), computed without
    * materializing any substring: each window hashes code points in
    * place and dedups through an open-addressed long table. This is the
    * hot-path form: the MinHash signature depends only on each shingle's
    * fnv64 (min over per-hash permutations — duplicates and collisions
    * both leave every min unchanged, so for signatures the equivalence
    * is exact, not probabilistic), and the Jaccard inverted index joins
    * on the hash anyway at scale. Output order is insertion order; all
    * consumers are order-independent (set semantics). */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    val cps = normCodePoints(text)
    if (cps.isEmpty) return Array.emptyLongArray
    // a text shorter than n is one window, the whole text
    val w = math.min(n, cps.length)
    val m = cps.length - w + 1
    // open-addressed set, load <= 0.5; 0L is the empty sentinel — a real
    // zero hash (vanishingly rare but legal) is tracked by the flag
    // instead of a slot
    val cap = hashSetCapacity(m)
    val mask = cap - 1
    val table = new Array[Long](cap)
    val out = new Array[Long](m)
    var nOut = 0
    var zeroSeen = false
    var i = 0
    while (i < m) {
      var h = FnvBasis
      var j = i
      val end = i + w
      while (j < end) { h ^= cps(j); h *= FnvPrime; j += 1 }
      if (h == 0L) {
        if (!zeroSeen) { zeroSeen = true; out(nOut) = 0L; nOut += 1 }
      } else {
        // splitmix-style scramble for the probe start so sequential FNV
        // values don't cluster
        var slot = (((h ^ (h >>> 33)) * 0xff51afd7ed558ccdL) >>> 40).toInt & mask
        var v = table(slot)
        while (v != 0L && v != h) { slot = (slot + 1) & mask; v = table(slot) }
        if (v == 0L) { table(slot) = h; out(nOut) = h; nOut += 1 }
      }
      i += 1
    }
    if (nOut == m) out else java.util.Arrays.copyOf(out, nOut)
  }
}
