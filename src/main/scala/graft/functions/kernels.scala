package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import graft.core.{Hashing, MinHash, SimHash}

/** Row-level kernels behind the native expressions (expressions.scala).
  *
  * These are plain methods on a companion-less object, so Scala emits
  * static forwarders and whole-stage-generated Java can call them as
  * `graft.functions.kernels.m(...)` — the same pattern the round-1 probe
  * expressions use with graft.core.Hashing. Each kernel reads Spark's
  * ArrayData directly (toIntArray/toFloatArray are array copies, not
  * per-element boxing) so the per-row ExpressionEncoder tax of a Scala
  * udf, ~6x the kernel itself (BASELINE.md finding 1), never appears.
  */
object kernels {

  /** MinHash permutation seeds, precomputed once per JVM (kernel inner
    * loops index this instead of re-deriving splitmix chains per row).
    */
  private val maxCachedPerms = 512
  private val permSeeds: Array[Long] =
    Array.tabulate(maxCachedPerms)(MinHash.permSeed)

  def tokenizeArray(text: UTF8String): ArrayData =
    new GenericArrayData(graft.sources.TokenDocs.tokenize(text.toString))

  /** Null-tolerant form: null text -> empty token array (the
    * TokenDocs.tokenize(null) contract).
    */
  def tokenizeArrayOrEmpty(text: UTF8String): ArrayData =
    if (text == null) new GenericArrayData(Array.emptyIntArray)
    else tokenizeArray(text)

  /** Distinct word n-grams of a text (space-joined windows of n
    * consecutive non-empty whitespace-split tokens), first-occurrence
    * order — the row-local twin of Decontaminate.ngramsOf. One split
    * and one rolling StringBuilder per ROW: the higher-order-function
    * formulation re-evaluates the split subtree per WINDOW (O(len^2)
    * per doc — measured 42 s just to explode 36M n-grams at 32 cores),
    * which is why this is a native kernel.
    */
  def wordNgrams(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val toks = text.toString.split(" ").filter(_.nonEmpty)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** ALL word n-grams of a text in position order — one entry per start
    * position, duplicates KEPT. The occurrence stream for n-gram
    * language-model counts ([[graft.operators.LmScore]]), where
    * multiplicity is the point; the distinct [[wordNgrams]] form serves
    * membership. Same tokenization (non-empty whitespace-split tokens,
    * space-joined windows), same O(len) single pass.
    */
  def wordNgramsAll(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val toks = text.toString.split(" ").filter(_.nonEmpty)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** POSITION-ORDERED rolling hashes of the word n-grams of a text:
    * element i is a 64-bit hash of words[i..i+n) (words = non-empty
    * runs between single spaces, the [[wordNgrams]] tokenization).
    * Unlike [[wordNgrams]] (distinct, for membership) this keeps one
    * entry PER START POSITION — the seed stream for duplicate-span
    * detection, where positions are the point. O(len) per row at ANY n:
    * per-word FNV hashes feed a true rolling polynomial (update =
    * subtract w[i]*B^(n-1), multiply by B, add w[i+n]), finalized with
    * splitmix64. 64-bit seeds can collide — span operators verify
    * matched grams by STRING ([[gramAt]]) before reporting, so a
    * collision costs a wasted verify row, never a wrong span.
    * Null / short texts yield an empty array.
    */
  def gramHashes(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.emptyLongArray)
    val toks = text.toString.split(" ").filter(_.nonEmpty)
    val m = toks.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val w = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { w(i) = Hashing.fnv1a64(toks(i)); i += 1 }
    val B = 0x100000001B3L
    var bPow = 1L // B^(n-1)
    i = 1
    while (i < n) { bPow *= B; i += 1 }
    val out = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < n) { h = h * B + w(i); i += 1 }
    out(0) = Hashing.splitmix64(h)
    i = 1
    while (i < m) {
      h = (h - w(i - 1) * bPow) * B + w(i + n - 1)
      out(i) = Hashing.splitmix64(h)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The word n-gram of `text` starting at word index `pos` (0-based
    * over the [[gramHashes]] word stream), space-joined — the exact
    * verifier for hash-seeded span candidates. Null on out-of-range
    * pos (a candidate row carrying one is a bug upstream, but a null
    * group key drops it from the verify groupBy instead of crashing
    * the stage).
    */
  def gramAt(text: UTF8String, pos: Int, n: Int): UTF8String = {
    if (text == null || pos < 0) return null
    val toks = text.toString.split(" ").filter(_.nonEmpty)
    if (pos + n > toks.length) return null
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(toks(pos + j))
      j += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** BPE-style pre-tokenizer token count: each maximal ASCII
    * alphanumeric run is one token and every other non-space character
    * is its own token — the word/number/punctuation segmentation a
    * byte-pair tokenizer starts from, as a cheap count for token-budget
    * estimation over raw text. Deliberately regex-free and exactly
    * equal to `len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9 ]'))`
    * (leftmost-first alternation), so a SQL engine can recompute it.
    * Null text counts 0.
    */
  def segTokenCount(text: UTF8String): Long = {
    if (text == null) return 0L
    val s = text.toString
    val L = s.length
    var n = 0L
    var i = 0
    var inRun = false
    while (i < L) {
      // advance by CODE POINT: a regex engine sees one astral char as
      // one [^...] match, not two UTF-16 units
      val cp = s.codePointAt(i)
      val alnum = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9')
      if (alnum) {
        if (!inRun) { n += 1; inRun = true }
      } else {
        inRun = false
        if (cp != ' ') n += 1
      }
      i += Character.charCount(cp)
    }
    n
  }

  private val gopherStopwords: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  /** All Gopher quality-rule raw signals in ONE pass over the text —
    * the native kernel behind TextAnalysis.gopherQualityFlags. Returns
    * nine longs:
    * [n_words, sum_word_codepoints, n_alpha_words, n_distinct_stopwords,
    *  n_lines, n_bullet_lines, n_ellipsis_lines, n_hash_chars,
    *  n_ellipsis_occurrences].
    * Semantics are EXACTLY those of the column formulation the q44
    * oracle replicates: words = non-empty runs between single spaces
    * (a newline inside a word stays in the word), lines = '\n' splits
    * with trailing empties kept (Spark split limit=-1 semantics),
    * word lengths in code points, stopwords matched ASCII-case-
    * insensitively (the targets are ASCII; a non-ASCII char can never
    * lowercase-match them in either engine), '...' counted
    * non-overlapping left-to-right like regexp_replace. Null text ==
    * empty text (0 words, 1 line).
    */
  def gopherSignals(text: UTF8String): ArrayData = {
    val s = if (text == null) "" else text.toString
    val L = s.length
    var nWords = 0L; var sumLen = 0L; var nAlpha = 0L
    val stopSeen = new Array[Boolean](gopherStopwords.length)
    var i = 0
    var wStart = 0
    while (i <= L) {
      if (i == L || s.charAt(i) == ' ') {
        if (i > wStart) {
          nWords += 1
          sumLen += s.codePointCount(wStart, i)
          var j = wStart
          var alpha = false
          while (j < i && !alpha) {
            val c = s.charAt(j)
            if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))
              alpha = true
            j += 1
          }
          if (alpha) nAlpha += 1
          val wl = i - wStart
          var k = 0
          while (k < gopherStopwords.length) {
            val sw = gopherStopwords(k)
            if (!stopSeen(k) && sw.length == wl) {
              var m = 0
              var ok = true
              while (m < wl && ok) {
                var c = s.charAt(wStart + m)
                if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
                if (c != sw.charAt(m)) ok = false
                m += 1
              }
              if (ok) stopSeen(k) = true
            }
            k += 1
          }
        }
        wStart = i + 1
      }
      i += 1
    }
    var nStop = 0L
    i = 0
    while (i < stopSeen.length) { if (stopSeen(i)) nStop += 1; i += 1 }
    var nLines = 1L; var nBullet = 0L; var nEllLines = 0L
    var lStart = 0
    i = 0
    while (i <= L) {
      if (i == L || s.charAt(i) == '\n') {
        val len = i - lStart
        if (len >= 2 &&
            (s.charAt(lStart) == '-' || s.charAt(lStart) == '*') &&
            s.charAt(lStart + 1) == ' ')
          nBullet += 1
        if (len >= 3 && s.charAt(i - 1) == '.' && s.charAt(i - 2) == '.' &&
            s.charAt(i - 3) == '.')
          nEllLines += 1
        if (i < L) nLines += 1
        lStart = i + 1
      }
      i += 1
    }
    var nHash = 0L
    i = 0
    while (i < L) { if (s.charAt(i) == '#') nHash += 1; i += 1 }
    var nEll = 0L
    i = 0
    while (i + 3 <= L) {
      if (s.charAt(i) == '.' && s.charAt(i + 1) == '.' &&
          s.charAt(i + 2) == '.') { nEll += 1; i += 3 }
      else i += 1
    }
    new GenericArrayData(Array[Any](nWords, sumLen, nAlpha, nStop,
      nLines, nBullet, nEllLines, nHash, nEll))
  }

  /** Blocklisted word/phrase occurrences of a text: one entry per
    * START POSITION (the [[wordNgrams]] tokenization — non-empty runs
    * between single spaces) whose ASCII-lowercased n-word window is in
    * the entry set for that n, position order, lowercased. `byLen`
    * groups the normalized entries by word count — real wordlist
    * screens (C4's) mix single words and multi-word phrases, and a
    * phrase must match CONSECUTIVE words, not a bag. One text pass per
    * row: O(words x sum of entry lengths) with no token explode (the
    * join formulation ships 100 TB of n-gram streams to meet a
    * few-hundred-row wordlist). ASCII-only case folding on purpose:
    * the match targets are ASCII wordlists, and full-Unicode
    * lowercasing differs between engines (the gopher-stopword rule).
    * Overlapping matches all count (each start position is judged
    * independently at every entry length). Null text -> empty array.
    */
  def blocklistMatches(text: UTF8String,
                       byLen: Array[(Int, java.util.HashSet[String])]):
      ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val s = text.toString
    val L = s.length
    // one pass: lowered words
    val words = new java.util.ArrayList[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    var wStart = 0
    while (i <= L) {
      if (i == L || s.charAt(i) == ' ') {
        if (i > wStart) {
          sb.setLength(0)
          var j = wStart
          while (j < i) {
            var c = s.charAt(j)
            if (c >= 'A' && c <= 'Z') c = (c + 32).toChar
            sb.append(c)
            j += 1
          }
          words.add(sb.toString): Unit
        }
        wStart = i + 1
      }
      i += 1
    }
    val n = words.size
    val out = new java.util.ArrayList[Any]()
    var p = 0
    while (p < n) {
      var k = 0
      while (k < byLen.length) {
        val (len, set) = byLen(k)
        if (p + len <= n) {
          val gram =
            if (len == 1) words.get(p)
            else {
              sb.setLength(0)
              var j = 0
              while (j < len) {
                if (j > 0) sb.append(' ')
                sb.append(words.get(p + j))
                j += 1
              }
              sb.toString
            }
          if (set.contains(gram))
            out.add(UTF8String.fromString(gram)): Unit
        }
        k += 1
      }
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  def minhashSignature(tokens: ArrayData, numPerms: Int): ArrayData = {
    require(numPerms <= maxCachedPerms, s"numPerms > $maxCachedPerms")
    val sig = Array.fill(numPerms)(Long.MaxValue)
    val n = tokens.numElements()
    var j = 0
    while (j < n) {
      val h = Hashing.tokenHash(tokens.getInt(j))
      var i = 0
      while (i < numPerms) {
        val v = Hashing.splitmix64(h ^ permSeeds(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** LSH band keys of a MinHash signature: (band << 56) ^ (bandHash >>> 8)
    * — identical values to the round-1 udf form.
    */
  def minhashBands(sig: ArrayData, numBands: Int,
                   rowsPerBand: Int): ArrayData = {
    val s = sig.toLongArray()
    // bands past the signature's end would hash an EMPTY window — one
    // constant key shared by every document, an O(n^2) candidate
    // explosion in the LSH self-join with no error
    require(numBands.toLong * rowsPerBand <= s.length,
      s"numBands*rowsPerBand = ${numBands * rowsPerBand} exceeds " +
        s"signature length ${s.length}")
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      out(b) = (b.toLong << 56) ^ (MinHash.bandHash(s, b, rowsPerBand) >>> 8)
      b += 1
    }
    new GenericArrayData(out)
  }

  def simhash64(tokens: ArrayData): Long =
    SimHash.fingerprintOfTokens(tokens.toIntArray())

  /** Rolling n-gram shingle hashes over a token sequence: element i is a
    * 64-bit hash of tokens[i..i+n) (order-sensitive — shingling is what
    * makes MinHash dedup see word order, unlike the unigram token set).
    * Output length max(0, len-n+1). NOTE: n=1 yields SEEDED per-token
    * shingle hashes (splitmix64(seed(1) ^ tokenHash(t))), NOT plain
    * tokenHash — unigram-shingle MinHash signatures are not comparable
    * with minhashSignature(tokens) signatures.
    */
  def tokenShingles(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    val m = math.max(0, len - n + 1)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = Hashing.splitmix64(0x5A17E11EL ^ n)
      var j = 0
      while (j < n) {
        h = Hashing.splitmix64(h ^ Hashing.tokenHash(tokens.getInt(i + j)))
        j += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature over PRE-HASHED 64-bit set elements (shingles) —
    * the elements feed the permutations directly, no tokenHash step.
    */
  def minhashSignatureHashes(hashes: ArrayData, numPerms: Int): ArrayData = {
    require(numPerms <= maxCachedPerms, s"numPerms > $maxCachedPerms")
    val sig = Array.fill(numPerms)(Long.MaxValue)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      var i = 0
      while (i < numPerms) {
        val v = Hashing.splitmix64(h ^ permSeeds(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** SimHash over pre-hashed 64-bit elements (shingles), weighted by
    * multiplicity — the n-gram form of simhash64.
    */
  def simhash64Hashes(hashes: ArrayData): Long = {
    val counts = new java.util.HashMap[Long, Int]()
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      counts.put(h, counts.getOrDefault(h, 0) + 1)
      i += 1
    }
    val it = counts.entrySet().iterator()
    SimHash.fingerprint(new Iterator[(Long, Double)] {
      def hasNext = it.hasNext
      def next() = { val e = it.next(); (e.getKey, e.getValue.toDouble) }
    })
  }

  /** |A ∩ B| of two SORTED-ascending distinct int arrays by one merge
    * walk — the exact-Jaccard verify kernel. `size(array_intersect)`
    * builds a hash set PER CALL; on the LSH verify path that call runs
    * once per candidate pair (millions per corpus), so the
    * allocation-free walk is the per-task-work fix the optimization
    * guide's §1.2 step 2 prescribes. Callers must pass arrays produced
    * by `array_sort(array_distinct(...))` (Dedup.tokenSets) — the walk
    * silently undercounts on unsorted input, which is why the only
    * producers are the operators that also sort.
    */
  def sortedIntersectSizeInt(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getInt(i)
      val y = b.getInt(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Long-array twin of [[sortedIntersectSizeInt]] (shingle toksets). */
  def sortedIntersectSizeLong(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  def langId(text: UTF8String): UTF8String =
    UTF8String.fromString(
      graft.operators.TextAnalysis.detectLang(text.toString))

  def rollingFp(text: UTF8String): Long =
    graft.operators.TextAnalysis.rollingFingerprint(text.toString)

  /** Canonical form of a URL — the key for URL-level dedup (the first
    * screen a web-crawl pipeline runs: the same page re-crawled under
    * tracking params / host-case / default-port / trailing-slash
    * variants is the dominant exact-duplicate mode BEFORE content
    * dedup ever sees the bytes).
    *
    * Rules, applied in order (each independently SQL-replicable, so an
    * engine-independent oracle can recompute the whole chain — see the
    * q70 DuckDB oracle; the equivalence contract is for URLs of these
    * shapes, i.e. scheme://host[:port][/path][?query][#frag] with
    * ASCII scheme/authority):
    *  1. trim surrounding whitespace; cut at the first '#' (fragment);
    *  2. lowercase scheme and authority (never path/query);
    *  3. drop a leading "www." from the host;
    *  4. drop the scheme's default port (":80" for http, ":443" https);
    *  5. drop ALL trailing '/' from the path (rtrim semantics);
    *  6. drop tracking query params (name starting "utm_", or exactly
    *     gclid / fbclid / ref / msclkid), drop empty params, and sort
    *     the survivors lexicographically (byte order on "k=v"); drop
    *     the '?' when nothing survives.
    * Percent-decoding is deliberately NOT applied: %-unescaping can
    * change which URL a string denotes (encoded '/' or '?'), the wrong
    * trade for a dedup key. Null -> empty string (the engine's
    * null-as-empty text convention). Inputs without "://" skip rules
    * 2-4 (nothing is an authority) but still get 1, 5, 6.
    */
  def canonicalUrl(u: UTF8String): UTF8String = {
    if (u == null) return UTF8String.EMPTY_UTF8
    var s = u.toString.trim
    val hash = s.indexOf('#')
    if (hash >= 0) s = s.substring(0, hash)
    // authority = the ^[^/?#]*://[^/?#]* prefix, if present
    var authEnd = -1
    val sep = s.indexOf("://")
    if (sep >= 0) {
      var pre = 0
      var preOk = true
      while (pre < sep) {
        val c = s.charAt(pre)
        if (c == '/' || c == '?') preOk = false
        pre += 1
      }
      if (preOk) {
        var i = sep + 3
        while (i < s.length && s.charAt(i) != '/' && s.charAt(i) != '?') i += 1
        authEnd = i
      }
    }
    var auth = if (authEnd >= 0) s.substring(0, authEnd) else ""
    val rest = if (authEnd >= 0) s.substring(authEnd) else s
    if (auth.nonEmpty) {
      auth = auth.toLowerCase(java.util.Locale.ROOT)
      // "://" cannot recur inside an authority (no '/' allowed), so a
      // replace-first is a plain replace
      auth = auth.replace("://www.", "://")
      if (auth.startsWith("http://") && auth.endsWith(":80")) {
        auth = auth.substring(0, auth.length - 3)
      } else if (auth.startsWith("https://") && auth.endsWith(":443")) {
        auth = auth.substring(0, auth.length - 4)
      }
    }
    val qpos = rest.indexOf('?')
    var path = if (qpos >= 0) rest.substring(0, qpos) else rest
    val qry = if (qpos >= 0) rest.substring(qpos + 1) else ""
    while (path.nonEmpty && path.charAt(path.length - 1) == '/') {
      path = path.substring(0, path.length - 1)
    }
    val params = qry.split("&", -1).filter { p =>
      p.nonEmpty && !(p.startsWith("utm_") || p.startsWith("gclid=") ||
        p.startsWith("fbclid=") || p.startsWith("ref=") ||
        p.startsWith("msclkid="))
    }.sorted
    val q = if (params.isEmpty) "" else "?" + params.mkString("&")
    UTF8String.fromString(auth + path + q)
  }

  /** Cosine similarity of two float vectors (0.0 when either is zero). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray()
    val y = b.toFloatArray()
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  // ---- random-hyperplane (sign-random-projection) signatures ----

  /** Fixed hyperplanes for (nbits, dim), deterministic from the
    * engine-wide seed; cached per JVM so every task shares one array.
    * Gaussian-ish components via sum of 4 uniforms (same family the
    * round-1 Ann used, so signatures are reproducible).
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  def hyperplanes(nbits: Int, dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((nbits, dim), { key =>
      val (bits, d0) = key
      Array.tabulate(bits) { b =>
        Array.tabulate(d0) { d =>
          var s = 0.0
          var j = 0
          while (j < 4) {
            s += Hashing.toUnitDouble(
              Hashing.at(0xA22B55EE77L, (b * d0 + d) * 4 + j))
            j += 1
          }
          (s - 2.0) * math.sqrt(3.0)
        }
      }
    })

  /** Banded hyperplane keys: numBands keys per vector, each packing
    * (band index << 56) | that band's bitsPerBand sign bits. Two vectors
    * are LSH candidates iff they share a key. Unlike [[lshSignature]]
    * (single 64-bit signature), total bits = numBands * bitsPerBand is
    * unbounded — low-threshold regimes need many narrow bands.
    */
  def lshBandKeys(emb: ArrayData, numBands: Int, bitsPerBand: Int,
                  dim: Int): ArrayData = {
    require(bitsPerBand <= 56, "bitsPerBand must fit under the band tag")
    val planes = hyperplanes(numBands * bitsPerBand, dim)
    val v = emb.toFloatArray()
    val out = new Array[Long](numBands)
    var b = 0
    while (b < numBands) {
      var bits = 0L
      var j = 0
      while (j < bitsPerBand) {
        val p = planes(b * bitsPerBand + j)
        val n = math.min(p.length, v.length)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += p(i) * v(i); i += 1 }
        if (dot >= 0) bits |= (1L << j)
        j += 1
      }
      out(b) = (b.toLong << 56) | bits
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Two-level pigeonhole bucket keys for SimHash near-dup search,
    * (maxHamming+1)^2 keys per fingerprint.
    *
    * Level 1 splits the 64 bits into h+1 chunks: within Hamming distance
    * h, some chunk is error-free (pigeonhole). Level 2 splits each
    * chunk's 64-wc complement bits into h+1 sub-chunks: the remaining
    * <= h errors leave some sub-chunk of the clean chunk's complement
    * error-free too. So every pair within h shares at least one
    * (chunk, sub-chunk) key — the single-level scheme's 2^(64/(h+1))
    * bucket-value space (256 at h=7, VERDICT r01 "what's wrong" #2)
    * becomes 2^(wc+ws) (~32k at h=7) without losing the exact-recall
    * guarantee. Keys are hash-combined, which can only MERGE buckets
    * (extra candidates, caught by the exact Hamming verify), never
    * split them — no false negatives.
    */
  def simhashBucketKeys(fp: Long, maxHamming: Int): ArrayData = {
    val b = maxHamming + 1
    require(b >= 1 && b <= 32, "maxHamming out of range [0,31]")
    val w1 = 64 / b
    val out = new Array[Long](b * b)
    var ci = 0
    while (ci < b) {
      val start = ci * w1
      val wc = if (ci == b - 1) 64 - start else w1
      val chunkVal =
        if (wc == 64) fp
        else (fp >>> start) & ((1L << wc) - 1)
      // complement bits packed into the low 64-wc bits
      val comp =
        if (wc == 64) 0L
        else (if (start == 0) 0L else fp & ((1L << start) - 1)) |
          (if (start + wc == 64) 0L else (fp >>> (start + wc)) << start)
      val compWidth = 64 - wc
      val w2 = math.max(1, compWidth / b)
      val base = Hashing.splitmix64((ci.toLong << 32) ^ chunkVal)
      var si = 0
      while (si < b) {
        val s2 = si * w2
        val subVal =
          if (compWidth == 0) 0L
          else if (s2 >= compWidth) 0L
          else {
            val ws = if (si == b - 1 || s2 + w2 > compWidth) compWidth - s2
                     else w2
            (comp >>> s2) & (if (ws >= 64) -1L else (1L << ws) - 1)
          }
        out(ci * b + si) =
          Hashing.splitmix64(base ^ Hashing.splitmix64((si.toLong << 48) ^ subVal))
        si += 1
      }
      ci += 1
    }
    new GenericArrayData(out)
  }

  /** nbits-bit sign signature of an embedding against the fixed planes. */
  def lshSignature(emb: ArrayData, nbits: Int, dim: Int): Long = {
    val planes = hyperplanes(nbits, dim)
    val v = emb.toFloatArray()
    var sig = 0L
    var b = 0
    while (b < nbits) {
      val p = planes(b)
      val n = math.min(p.length, v.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += p(i) * v(i); i += 1 }
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
