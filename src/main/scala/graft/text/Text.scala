package graft.text

import graft.sketch.{MinHasher, Murmur3x64}
import java.nio.charset.StandardCharsets

/** Text primitives for the dedup + training-data pipeline.
  *
  * Shingling follows the reference's data model of exact-bytes records
  * (/root/reference/src/wrapper/cpc.rs:42-44): k-grams are hashed over
  * UTF-8 bytes with the pinned Murmur3/seed-9001 function so shingle hashes
  * are deterministic and partition/machine-invariant.
  */
object Text {

  /** Distinct character k-gram hashes of a string (the MinHash input set).
    * Single pass over the UTF-8 bytes; a text shorter than k yields one
    * whole-text shingle so no document has an empty set. */
  def shingleHashes(text: String, k: Int): Array[Long] =
    shingleHashesBytes(text.getBytes(StandardCharsets.UTF_8), k)

  /** Byte-level entry point (shared with the codegen Expression, which
    * hands us UTF8String bytes without materializing a String). */
  def shingleHashesBytes(bytes: Array[Byte], k: Int): Array[Long] = {
    if (bytes.length <= k) return Array(Murmur3x64.hash64(bytes, Murmur3x64.DefaultSeed))
    val hs = new Array[Long](bytes.length - k + 1)
    var i = 0
    while (i < hs.length) {
      hs(i) = Murmur3x64.hash64(bytes, i, k, Murmur3x64.DefaultSeed)
      i += 1
    }
    // sorted output: downstream set-intersection (verify's hot loop) runs
    // as a zero-allocation merge walk (SortedIntersectCountExpr) instead
    // of a per-row hash set; sorting once per DOC amortizes over every
    // candidate PAIR the doc appears in
    MinHasher.sortedDistinct(hs)
  }

  /** Exact Jaccard over distinct char-k-gram shingles (verification + oracle). */
  def exactJaccard(a: String, b: String, k: Int): Double = {
    val sa = shingleHashes(a, k)
    val sb = shingleHashes(b, k)
    val setA = new java.util.HashSet[java.lang.Long](sa.length * 2)
    sa.foreach(setA.add(_))
    var inter = 0
    val seenB = new java.util.HashSet[java.lang.Long](sb.length * 2)
    sb.foreach { h => if (seenB.add(h) && setA.contains(h)) inter += 1 }
    val union = sa.length + sb.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Containment of the smaller shingle set in the larger: catches
    * substring/prefix duplicates that Jaccard misses (north-star
    * suffix-array pass semantics, approximated; SURVEY §7.6 risk 1). */
  def exactContainment(a: String, b: String, k: Int): Double = {
    val sa = shingleHashes(a, k)
    val sb = shingleHashes(b, k)
    val (small, large) = if (sa.length <= sb.length) (sa, sb) else (sb, sa)
    if (small.isEmpty) return 0.0
    val setL = new java.util.HashSet[java.lang.Long](large.length * 2)
    large.foreach(setL.add(_))
    var inter = 0
    small.foreach(h => if (setL.contains(h)) inter += 1)
    inter.toDouble / small.length
  }

  /** Winnowed fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash
    * every k-gram, keep the minimum of each sliding window of `window`
    * consecutive k-gram hashes (rightmost minimum on ties). GUARANTEE: two
    * texts sharing any substring of length >= window + k - 1 share at
    * least one fingerprint — this is the scalable stand-in for the
    * north-star's distributed suffix-array substring pass: candidates
    * from an equi-join on fingerprints, verification by exact contains().
    */
  def winnowHashes(text: String, k: Int, window: Int): Array[Long] = {
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    if (bytes.length <= k) return Array(Murmur3x64.hash64(bytes, Murmur3x64.DefaultSeed))
    val n = bytes.length - k + 1
    val grams = new Array[Long](n)
    var i = 0
    while (i < n) {
      grams(i) = Murmur3x64.hash64(bytes, i, k, Murmur3x64.DefaultSeed)
      i += 1
    }
    if (n <= window) {
      var m = grams(0)
      i = 1
      while (i < n) { if (grams(i) <= m) m = grams(i); i += 1 }
      return Array(m)
    }
    val set = new java.util.HashSet[java.lang.Long]()
    // rightmost-minimum sliding window (deque algorithm)
    val idx = new Array[Int](n)
    var head = 0
    var tail = 0 // deque of candidate indices, values increasing
    i = 0
    while (i < n) {
      while (tail > head && grams(idx(tail - 1)) >= grams(i)) tail -= 1
      idx(tail) = i; tail += 1
      if (idx(head) <= i - window) head += 1
      if (i >= window - 1) set.add(grams(idx(head)))
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** Exact substring containment of the shorter in the longer. */
  def isSubstring(a: String, b: String): Boolean =
    if (a.length <= b.length) b.contains(a) else a.contains(b)

  /** Whitespace tokens (split on single spaces, empties removed). */
  def tokens(text: String): Array[String] = text.split(" ").filter(_.nonEmpty)

  /** Word n-gram hashes (SimHash input; n=2 gives order sensitivity). */
  def wordNgramHashes(text: String, n: Int): Array[Long] = {
    val ts = tokens(text)
    if (ts.isEmpty) return Array.emptyLongArray
    if (ts.length < n) return Array(Murmur3x64.hash64(ts.mkString(" ")))
    val out = new Array[Long](ts.length - n + 1)
    var i = 0
    while (i <= ts.length - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) { if (j > 0) sb.append(' '); sb.append(ts(i + j)); j += 1 }
      out(i) = Murmur3x64.hash64(sb.toString)
      i += 1
    }
    out
  }

  /** BPE-ish token count: words plus punctuation runs, the cheap proxy for
    * subword token budgeting in a training-data pipeline. */
  private val BpeIsh = """[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]""".r
  def bpeIshTokenCount(text: String): Int = BpeIsh.findAllIn(text).length

  /** Rolling polynomial fingerprint (Rabin-Karp style, base 257 mod 2^61-1)
    * of the whole document — order-sensitive content fingerprint. */
  def rollingFingerprint(text: String): Long = {
    val M = (1L << 61) - 1
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      // h = (h*257 + b) mod M, with 128-bit intermediate via Math.multiplyHigh
      val lo = h * 257
      val hi = Math.multiplyHigh(h, 257L)
      // fold 2^64 = 8 mod M (since 2^61 = 1 mod M -> 2^64 = 2^3)
      var v = (lo & M) + ((lo >>> 61) | (hi << 3)) + (bytes(i) & 0xffL)
      while (v >= M) v -= M
      h = v
      i += 1
    }
    h
  }

  // --- Quality scoring -----------------------------------------------------
  final case class Quality(
      nChars: Int, nTokens: Int, meanTokenLen: Double,
      alphaRatio: Double, punctRatio: Double, stopwordRatio: Double,
      score: Double)

  private val Stopwords: Set[String] = Set(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "was", "at", "by", "be", "this")

  def quality(text: String): Quality = {
    val ts = tokens(text)
    val nChars = text.length
    val nTok = ts.length
    val meanLen = if (nTok == 0) 0.0 else ts.map(_.length).sum.toDouble / nTok
    var alpha = 0; var punct = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isLetter(c)) alpha += 1
      else if (!Character.isWhitespace(c) && !Character.isDigit(c)) punct += 1
      i += 1
    }
    val alphaR = if (nChars == 0) 0.0 else alpha.toDouble / nChars
    val punctR = if (nChars == 0) 0.0 else punct.toDouble / nChars
    val stopR = if (nTok == 0) 0.0 else ts.count(t => Stopwords.contains(t.toLowerCase)).toDouble / nTok
    // Gopher-style composite: favor mid-length alphabetic text with some
    // stopwords, penalize punctuation soup.
    val lenOk = if (nTok >= 5 && nTok <= 10000) 1.0 else 0.0
    val score = lenOk * (0.5 * alphaR + 0.3 * math.min(stopR * 4, 1.0) + 0.2 * (1.0 - math.min(punctR * 5, 1.0)))
    Quality(nChars, nTok, meanLen, alphaR, punctR, stopR, score)
  }

  // --- Language identification --------------------------------------------
  // Tiny stopword/character-class profile model (public langid heuristics).
  private val LangMarkers: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "is", "that", "for", "with", "was", "it"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr" -> Set("le", "la", "les", "et", "est", "une", "des", "que", "pour", "dans"),
    "es" -> Set("el", "la", "los", "las", "es", "una", "que", "por", "para", "con"))

  /** Returns (lang, confidence in [0,1]). CJK detection by codepoint
    * script, split by dominant script — Hangul means Korean, any
    * meaningful kana share means Japanese (Japanese prose interleaves
    * kanji with kana; Chinese has none), Han alone means Chinese.
    * Otherwise argmax marker-word hit rate with deterministic tie-break
    * (alphabetical), defaulting to "en" when nothing matches. */
  def langId(text: String): (String, Double) = {
    var han = 0; var kana = 0; var hangul = 0; var total = 0
    var i = 0
    while (i < text.length) {
      val c = text.codePointAt(i)
      if (!Character.isWhitespace(c)) {
        total += 1
        val block = Character.UnicodeScript.of(c)
        if (block == Character.UnicodeScript.HAN) han += 1
        else if (block == Character.UnicodeScript.HIRAGANA ||
          block == Character.UnicodeScript.KATAKANA) kana += 1
        else if (block == Character.UnicodeScript.HANGUL) hangul += 1
      }
      i += Character.charCount(c)
    }
    val cjk = han + kana + hangul
    if (total > 0 && cjk.toDouble / total > 0.25) {
      val conf = cjk.toDouble / total
      if (hangul * 2 >= cjk) return ("ko", conf)
      if (kana * 10 >= cjk) return ("ja", conf) // >=10% kana among CJK chars
      return ("zh", conf)
    }
    val ts = tokens(text.toLowerCase)
    if (ts.isEmpty) return ("en", 0.0)
    val scores = LangMarkers.map { case (lang, set) => (lang, ts.count(set.contains).toDouble / ts.length) }
    val best = scores.minBy { case (lang, s) => (-s, lang) }
    if (best._2 == 0.0) ("en", 0.0) else best
  }
}
