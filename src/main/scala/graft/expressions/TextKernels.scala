package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextFunctions.{coefA, coefB, P}

/**
 * JVM kernels behind the dedup-family Catalyst expressions
 * ([[TextHashExpressions]]). Each is a tight primitive loop invoked once per
 * row from generated code — replacing interpreted higher-order-function
 * evaluation (HOFs are CodegenFallback in Spark), which costs a boxed
 * closure call per array element.
 *
 * Semantics contract: every kernel is bit-equivalent to its Column-level
 * reference implementation in [[graft.functions.TextFunctions]] (asserted by
 * FastKernelSpec), which in turn mirrors the DuckDB oracle SQL.
 *
 * Character k-grams ([[sortedShingles]], [[coverageCounts]],
 * [[hashedShingles]], [[winnowDigest]]) come from ONE linear walk of the
 * UTF-8 bytes ([[Grams]]): `numBytesForFirstByte` steps from character to
 * character and records where each one starts, so gram `i` is the byte
 * range `[st(i), st(min(i + k, n)))` of the input's own buffer. Taking
 * each gram with `substringSQL(i, k)` instead re-counts characters from
 * the start of the string and copies the gram, O(n²) per document.
 * Grams are hashed in place or wrapped as zero-copy `UTF8String.fromAddress`
 * views. A view aliases the caller's row buffer, which Spark reuses for
 * the next row, so no view may escape the call: a kernel that returns
 * strings copies them first.
 */
object TextKernels {

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Cross-engine 32-bit hash: unsigned value of the first 8 hex chars of
    * md5 == first 4 digest bytes, big-endian. Mirrors TextFunctions.xhash32. */
  def xhash32(s: UTF8String): Long = {
    val d = md5Local.get()
    d.reset()
    val h = d.digest(s.getBytes)
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }

  /** Distinct character k-grams, sorted ascending (binary UTF8 order).
    * Same SET as TextFunctions.charShingles (which keeps first-seen order);
    * every consumer — MinHash, SimHash, Jaccard, frequency ordering — is
    * order-insensitive, and sorted output lets jaccardSorted merge. */
  def sortedShingles(s: UTF8String, k: Int): ArrayData = {
    val g = new Grams(s, k)
    val set = new java.util.TreeSet[UTF8String]()
    var i = 0
    while (i < g.count) { set.add(g.view(i)); i += 1 }
    val out = new Array[AnyRef](set.size)
    var j = 0
    val it = set.iterator()
    while (it.hasNext) { out(j) = it.next().copy(); j += 1 }
    new GenericArrayData(out)
  }

  /** The character k-grams of `s` as byte ranges of its buffer, from one
    * walk of its UTF-8 bytes. `st(c)` is the byte offset where character
    * `c` starts, and `st(n)` is `numBytes`, so a truncated trailing
    * character (malformed input) cannot reach past the string. Gram `i`
    * is the range `substringSQL(i + 1, k)` copies, for the same
    * `max(n - k + 1, 1)` positions: with `n < k` the one gram is the whole
    * string (empty for the empty string), and `k <= 0` gives empty grams. */
  private final class Grams(s: UTF8String, k: Int) {
    val base: AnyRef = s.getBaseObject
    val offset: Long = s.getBaseOffset
    private val n = s.numChars()
    private val st = {
      val a = new Array[Int](n + 1)
      var b = 0
      var c = 0
      while (c < n) {
        a(c) = b
        b += UTF8String.numBytesForFirstByte(Platform.getByte(base, offset + b))
        c += 1
      }
      a(n) = s.numBytes()
      a
    }
    private val span = math.max(k, 0)
    val count: Int = math.max(n - k + 1, 1)
    def start(i: Int): Int = st(math.min(i, n))
    def length(i: Int): Int = st(math.min(i + span, n)) - start(i)
    def view(i: Int): UTF8String = UTF8String.fromAddress(base, offset + start(i), length(i))
  }

  /** xhash32 of every element, deduplicated (mirrors
    * `array_distinct(transform(sh, xhash32))`: distinct applied AFTER
    * hashing, so an md5-level collision collapses like the reference).
    * Output sorted ascending — all consumers are order-insensitive. */
  def xhash32Array(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = xhash32(a.getUTF8String(i)); i += 1 }
    java.util.Arrays.sort(hs)
    var uniq = 0
    var j = 0
    while (j < n) {
      if (j == 0 || hs(j) != hs(j - 1)) { hs(uniq) = hs(j); uniq += 1 }
      j += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(hs, uniq))
  }

  /** One-pass distinct-k-gram count + reference-set hit count:
    * out = [n_distinct_grams, n_distinct_grams_in_ref]. Bit-equivalent to
    * `(size(sortedShingles(s, k)), size(array_intersect(sortedShingles(s,
    * k), ref)))` — membership is exact string equality (UTF8String.equals),
    * no hashing shortcut — but runs without the TreeSet sort, the output
    * array materialization, or the second intersect pass. */
  def coverageCounts(s: UTF8String, k: Int, ref: java.util.HashSet[UTF8String]): ArrayData = {
    val g = new Grams(s, k)
    // Clamp BEFORE doubling: m * 2 overflows int for ~1 GiB documents.
    val seen = new java.util.HashSet[UTF8String](math.min(g.count, 1 << 15) * 2)
    var hits = 0L
    var i = 0
    while (i < g.count) {
      val v = g.view(i)
      if (seen.add(v) && ref.contains(v)) hits += 1
      i += 1
    }
    ArrayData.toArrayData(Array(seen.size.toLong, hits))
  }

  /** Intra-document span strip in ONE pass: split on single spaces (limit
    * -1 — trailing empties kept, exactly Spark's `split(text, " ")`), cut
    * into k-word spans, keep each span's first occurrence (hash set —
    * O(spans), where the positional `array_position` HOF form is
    * O(spans²) and stalls a task on a pathological multi-megabyte
    * document), and fingerprint the space-joined survivors.
    * Output: [n_spans, n_kept, xhash32(clean_text)]. Bit-equivalent to
    * the HOF composition (FastKernelSpec). */
  def intraDocStrip(s: UTF8String, k: Int): ArrayData = {
    val words = s.toString.split(" ", -1)
    val nSpans = (words.length + k - 1) / k
    // Clamp BEFORE doubling: nSpans * 2 overflows int for ~1 GiB documents.
    val seen = new java.util.HashSet[String](math.min(nSpans, 1 << 15) * 2)
    val kept = new java.lang.StringBuilder
    var nKept = 0L
    var i = 0
    while (i < nSpans) {
      val from = i * k
      val until = math.min(from + k, words.length)
      val sb = new java.lang.StringBuilder
      var w = from
      while (w < until) {
        if (w > from) sb.append(' ')
        sb.append(words(w))
        w += 1
      }
      val span = sb.toString
      if (seen.add(span)) {
        if (nKept > 0) kept.append(' ')
        kept.append(span)
        nKept += 1
      }
      i += 1
    }
    ArrayData.toArrayData(Array(
      nSpans.toLong, nKept, xhash32(UTF8String.fromString(kept.toString))))
  }

  /** Per-k coefficient cache for the MinHash permutation family. */
  private val coefCache = new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def coefs(k: Int): (Array[Long], Array[Long]) =
    coefCache.computeIfAbsent(k, k => ((0 until k).map(coefA).toArray, (0 until k).map(coefB).toArray))

  /** MinHash signature — mirrors TextFunctions.minhashSignature for 32-bit
    * inputs (the sign-bit mask is an identity there); 64-bit inputs are
    * folded to a positive value first so the mod-P permutation stays in
    * range. */
  def minhashSig(hashes: ArrayData, k: Int): ArrayData = {
    val (as, bs) = coefs(k)
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, P)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val x = (hashes.getLong(i) & 0x7fffffffffffffffL) % P
      var j = 0
      while (j < k) {
        val v = (x * as(j) + bs(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }

  /** LSH band keys — mirrors TextFunctions.bandKeys (rolling mod-P hash). */
  def bandKeys(sig: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 17L
      var r = 0
      while (r < rowsPerBand) {
        acc = (acc * 1000003L + sig.getLong(b * rowsPerBand + r)) % P
        r += 1
      }
      keys(b) = acc
      b += 1
    }
    ArrayData.toArrayData(keys)
  }

  /** 32-bit SimHash — mirrors TextFunctions.simhash32. */
  def simhash32(hashes: ArrayData): Long = {
    val sums = new Array[Int](32)
    val n = hashes.numElements()
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 32) {
        sums(b) += (((h >> b) & 1L).toInt * 2 - 1)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (sums(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Distinct char k-grams hashed to 64 bits (XXH64 over the UTF8 bytes),
    * sorted ascending. The hashed-set representation used INSIDE dedup
    * pipelines: inverted-index keys, candidate joins, and Jaccard
    * verification all run on 8-byte longs instead of string arrays —
    * halving shuffle width. Values never leave the engine; the only
    * externally visible effect is via set cardinalities, which equal the
    * string-set cardinalities absent an XXH64 collision inside one doc
    * (probability ~|sh|²/2^64 ≈ 1e-14, and FastKernelSpec asserts the
    * corpus-wide equality with string-set Jaccard). */
  def hashedShingles(s: UTF8String, k: Int): ArrayData = {
    val g = new Grams(s, k)
    // Hashing every gram and deduplicating the hashes gives the same set
    // as hashing the distinct grams.
    val hs = new Array[Long](g.count)
    var i = 0
    while (i < g.count) {
      hs(i) = XXH64.hashUnsafeBytes(g.base, g.offset + g.start(i), g.length(i), 42L)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var uniq = 0
    var t = 0
    while (t < hs.length) {
      if (t == 0 || hs(t) != hs(t - 1)) { hs(uniq) = hs(t); uniq += 1 }
      t += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(hs, uniq))
  }

  /** Binary-search membership in a sorted long array — O(log n) where
    * `array_contains` is O(n). The win that matters: an O(n)-per-probe
    * membership inside a per-row filter over the same row's n-element
    * array is O(n^2) per row — quadratic in document size for the span
    * reassembly filter. */
  def sortedLongContains(a: ArrayData, v: Long): Boolean = {
    var lo = 0
    var hi = a.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val x = a.getLong(mid)
      if (x == v) return true
      else if (x < v) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  /** Bloom-survivor slice of a long array in ONE primitive loop: keeps the
    * elements whose kHashes seeded-XXH64 positions are all set in `bits`.
    * Value-equal to exploding the array and filtering each row with
    * [[graft.functions.Bloom.mightContain]] (BloomSpec pins the parity):
    * `seedHashes(s)` IS the running hash of `xxhash64(lit(s), key)` after
    * its first (integer literal) child, so the per-element position
    * `hashLong(v, seedHashes(s)) & (mBits-1)` reproduces the build-side
    * expression bit-for-bit. Replacing the exploded-row filter with an
    * in-array slice keeps the ~99% rejected shingles from ever becoming
    * rows (guide §5: the Generate fan-out was the allocation-rate driver
    * that made the probe stage's aggregate CPU quadruple at 32 concurrent
    * tasks). */
  def bloomThin(arr: ArrayData, bits: Array[Long], seedHashes: Array[Long]): ArrayData = {
    val mask = bits.length * 64L - 1
    val n = arr.numElements()
    val out = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      var ok = true
      var s = 0
      while (ok && s < seedHashes.length) {
        val p = XXH64.hashLong(v, seedHashes(s)) & mask
        ok = ((bits((p >>> 6).toInt) >>> (p & 63L).toInt) & 1L) == 1L
        s += 1
      }
      if (ok) { out(m) = v; m += 1 }
      i += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** Jaccard of two SORTED distinct long arrays by linear merge. */
  def jaccardSortedLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** [[jaccardSortedLong]] with threshold-aware early exits — the PPJoin
    * suffix-filter role, applied where the token arrays are in hand:
    * (a) length filter up front (J <= min/max), (b) during the merge, bail
    * once the best-still-achievable intersection `inter + min(remaining)`
    * cannot reach `t·(na+nb)/(1+t)` (J >= t ⇔ inter >= that). Returns
    * -1.0 on bail; since every bailed pair provably has J < t and callers
    * filter `>= t`, the output pair set is EXACTLY that of the unbounded
    * kernel. Survivors return the identical double. */
  def jaccardSortedLongBounded(a: ArrayData, b: ArrayData, t: Double): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (math.min(na, nb) < t * math.max(na, nb)) return -1.0
    // inter >= minNeeded ⇔ J >= t (J is increasing in inter). Strict-<
    // bail keeps exactness at the boundary.
    val minNeeded = t * (na + nb) / (1.0 + t)
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      if (inter + math.min(na - i, nb - j) < minNeeded) return -1.0
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Forward-window skip-gram pairs of a token array, each pair encoded as
    * ONE UTF8 string `w1 + NUL + w2`: for i in 0..n-2, pairs with
    * tokens j in (i, i+window]. The NUL separator makes binary string
    * order on the encoded pair identical to lexicographic (w1, w2) tuple
    * order (0x00 sorts below every code point), so a downstream
    * ORDER BY (count, pair) reproduces ORDER BY (count, w1, w2) exactly —
    * callers split the winner rows back into (w1, w2) AFTER the top-k.
    * Tokens containing a literal NUL would alias across the separator;
    * acceptable for the whitespace/BPE tokenizers, which never emit one. */
  def skipgramConcat(toks: ArrayData, window: Int): ArrayData = {
    val n = toks.numElements()
    if (n < 2) return new GenericArrayData(new Array[AnyRef](0))
    val sep = UTF8String.fromBytes(Array[Byte](0))
    var count = 0
    var i = 0
    while (i < n - 1) { count += math.min(window, n - 1 - i); i += 1 }
    val out = new Array[AnyRef](count)
    var p = 0
    i = 0
    while (i < n - 1) {
      val hi = math.min(i + window, n - 1)
      var j = i + 1
      while (j <= hi) {
        out(p) = UTF8String.concat(toks.getUTF8String(i), sep, toks.getUTF8String(j))
        p += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Containment |A∩B|/|A| of two sorted distinct long arrays, with a
    * threshold-aware early exit: bail (-1.0) once the best-still-achievable
    * intersection `inter + remaining(A)` cannot reach `t·na` (containment
    * >= t ⇔ inter >= ceil(t·na); strict-< bail keeps the boundary exact).
    * Callers filter `>= t`, so the surviving pair set and values equal the
    * unbounded form. na == 0 returns -1.0 (empty sets are contained in
    * nothing by convention — mirrors the SQL oracle's minShingles guard). */
  def containmentSortedLongBounded(a: ArrayData, b: ArrayData, t: Double): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb < t * na) return -1.0
    val minNeeded = t * na
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      if (inter + (na - i) < minNeeded) return -1.0
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / na
  }

  /** Sequential left-fold dot product in double — the same fold order as
    * `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, _+_)` and DuckDB's
    * `list_sum(list_transform(list_zip(...)))`, so results stay bitwise
    * cross-engine. Float elements widen to double exactly. Length
    * mismatches fail loud (the HOF form silently yields null via zip_with
    * padding — silent truncation here would corrupt cosines instead). */
  def dotSeq(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dotSeq: dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Winnowing fingerprint digest in ONE pass (mirrors the HOF composition
    * positionalShingleHashes(k) → winnowMinima(w) → [size, xor-fold]):
    * positional k-gram xhash32 stream → sliding-window minima via a
    * monotonic deque (O(n) total, vs O(n·w) slice+array_min — and vs the
    * O(n²) md5 re-evaluation the inlined HOF form pays) → distinct set →
    * `[n_fp, fp_xor]`. XOR is order-independent, so the digest is
    * identical whichever window first surfaces a minimum. Short inputs
    * (fewer than w gram positions) collapse to the single truncated
    * window, exactly like `slice` past the array end. */
  def winnowDigest(s: UTF8String, k: Int, w: Int): ArrayData = {
    val g = new Grams(s, k)
    val m = g.count
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) { hs(i) = xhash32(g.view(i)); i += 1 }
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0
    val seen = new java.util.HashSet[java.lang.Long]()
    var xor = 0L
    var j = 0
    while (j < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(j)) tail -= 1
      deque(tail) = j
      tail += 1
      while (deque(head) <= j - w) head += 1
      if (j >= w - 1 || (j == m - 1 && m < w)) {
        val mn = hs(deque(head))
        if (seen.add(mn)) xor ^= mn
      }
      j += 1
    }
    ArrayData.toArrayData(Array(seen.size.toLong, xor))
  }

  /** Lowercase hex of the md5 digest of `bytes` — table-driven, reusing the
    * thread-local digest (no per-call Formatter/MessageDigest churn). */
  def md5Hex(bytes: Array[Byte]): String = {
    val d = md5Local.get()
    d.reset()
    val h = d.digest(bytes)
    val hex = "0123456789abcdef"
    val out = new Array[Char](h.length * 2)
    var i = 0
    while (i < h.length) {
      out(2 * i) = hex((h(i) >> 4) & 0xf)
      out(2 * i + 1) = hex(h(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Jaccard of two SORTED distinct string arrays by linear merge —
    * value-identical to size(array_intersect)/size(array_union) on the same
    * sets. */
  def jaccardSorted(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Greedy BPE merge-table application: for each merge (a, b) in priority
    * order, ONE left-to-right pass replacing non-overlapping adjacent
    * (a, b) token pairs with their concatenation — the classical tokenizer
    * apply step (merge #1's output is visible to merge #2). Equivalent to
    * the oracle's run-parity selection: inside a run of consecutive
    * matches (only possible when a == b), every other pair merges,
    * starting at the run head. O(n_tokens × n_merges), no allocation
    * beyond the two ping-pong arrays. */
  def bpeApplyMerges(toks: ArrayData, merges: Array[Array[UTF8String]]): ArrayData = {
    var n = toks.numElements()
    var cur = new Array[UTF8String](n)
    var i = 0
    while (i < n) { cur(i) = toks.getUTF8String(i); i += 1 }
    var mi = 0
    while (mi < merges.length) {
      val a = merges(mi)(0)
      val b = merges(mi)(1)
      val out = new Array[UTF8String](n)
      var r = 0
      var w = 0
      while (r < n) {
        if (r + 1 < n && a.equals(cur(r)) && b.equals(cur(r + 1))) {
          out(w) = UTF8String.concat(a, b); w += 1; r += 2
        } else { out(w) = cur(r); w += 1; r += 1 }
      }
      cur = out
      n = w
      mi += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(cur.asInstanceOf[Array[AnyRef]], n))
  }

  /** hashedWordGrams(text, n): xhash32 of every word n-gram (space-joined
    * window of the `split(text, ' ')` frame), deduplicated, sorted — the
    * word-level sibling of [[hashedShingles]], hash-equal to
    * `transform(sequence(...), i -> xhash32(concat_ws(' ', slice(tk, i,
    * n))))` + distinct (the interpreted-HOF form it replaces on the
    * overlap-matrix hot path). */
  def hashedWordGrams(s: UTF8String, n: Int): ArrayData = {
    val words = s.toString.split(" ", -1)
    val m = words.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder
      var w = i
      while (w < i + n) {
        if (w > i) sb.append(' ')
        sb.append(words(w))
        w += 1
      }
      set.add(xhash32(UTF8String.fromString(sb.toString)))
      i += 1
    }
    val out = new Array[Long](set.size)
    var j = 0
    val it = set.iterator()
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** tokenEntropyBits(text): [n_tokens, bits] in one pass — the whole-bit
    * empirical token entropy of a document. Tokens are the `split(text,
    * ' ')` frame (empties kept, n >= 1 always); each occurrence of a token
    * with in-doc count c contributes flog2(n) − flog2(c) whole bits
    * (flog2 = floor(log2), the LangModel quantization — exact integer
    * arithmetic both engines replay bit-identically, no transcendental).
    * Low bits/token = repetitive/templated text; high = token soup. The
    * kernel is the shuffle-free face: counts live in a per-document hash
    * map inside one codegen'd projection, so the 100 TB plan is a bare
    * scan — no (doc, token)-keyed exchange. */
  def tokenEntropyBits(s: UTF8String): ArrayData = {
    val words = s.toString.split(" ", -1)
    val counts = new java.util.HashMap[String, Long](
      math.min(words.length, 1 << 15) * 2)
    var i = 0
    while (i < words.length) {
      counts.merge(words(i), java.lang.Long.valueOf(1L), (a, b) => a + b)
      i += 1
    }
    val n = words.length.toLong
    val fn = 63 - java.lang.Long.numberOfLeadingZeros(n)
    var bits = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      bits += c * (fn - (63 - java.lang.Long.numberOfLeadingZeros(c)))
    }
    ArrayData.toArrayData(Array(n, bits))
  }

  /** Executor-wide decoded vocabulary tables for [[bpeEncodeBcast]]: the
    * Broadcast ships the (token, id) pairs once per executor (torrent
    * blocks); the UTF8String-keyed lookup table is built on FIRST USE per
    * executor and shared by every task referencing that broadcast — a
    * per-task rebuild of a 1M-entry table would dominate short tasks.
    *
    * Keying: broadcast ids restart from 0 per SparkContext, so a bare
    * `bc.id` key collides across context restarts in one JVM (test
    * suites, driver recreation) and would silently encode with a DEAD
    * context's vocabulary. The cache therefore tracks the owning
    * application (SparkEnv's app id — stable per context, available on
    * driver and executors alike) and clears itself when it changes;
    * within one app, `bc.id` is unique and entries stay bounded by the
    * number of distinct vocab broadcasts (index definitions, not data —
    * and [[graft.functions.TextFunctions.bpeEncodeIdsBcast]] reuses one
    * broadcast per (app, vocab), so repeated queries don't grow it). */
  object BcastVocab {
    @volatile private var appId: String = null
    private val tables = new java.util.concurrent.ConcurrentHashMap[
      Long, java.util.HashMap[UTF8String, Integer]]()
    def table(bc: org.apache.spark.broadcast.Broadcast[Map[String, Int]])
        : java.util.HashMap[UTF8String, Integer] = {
      val env = org.apache.spark.SparkEnv.get
      val app = if (env == null) "<no-env>" else env.conf.get("spark.app.id", "<unset>")
      if (appId != app) synchronized {
        if (appId != app) { tables.clear(); appId = app }
      }
      tables.computeIfAbsent(bc.id, _ => {
        val m = new java.util.HashMap[UTF8String, Integer](bc.value.size * 2)
        bc.value.foreach { case (k, v) =>
          m.put(UTF8String.fromString(k), Integer.valueOf(v))
        }
        m
      })
    }
  }

  /** bpeEncodeBcast(tokens, vocabBroadcast, unkId): vocab-id encode whose
    * table arrives via Spark broadcast (see [[graft.expressions.BpeEncodeBcast]]).
    * Null token entries encode to unkId, matching the literal-map face's
    * coalesce semantics. */
  def bpeEncodeBcast(
      toks: ArrayData,
      bc: org.apache.spark.broadcast.Broadcast[Map[String, Int]],
      unkId: Int): ArrayData = {
    val table = BcastVocab.table(bc)
    val n = toks.numElements()
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      val t = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      val v = if (t == null) null else table.get(t)
      out(i) = if (v == null) unkId else v.intValue()
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}
