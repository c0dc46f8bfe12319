package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Static similarity kernels referenced by the generated code — keeping the
  * math in ordinary static methods lets `doGenCode` emit a plain call and
  * stay inside whole-stage codegen (no CodegenFallback in the hot pair-
  * scoring path).
  */
object SimKernels {

  /** Jaro-Winkler similarity in [0,1]; standard p=0.1, prefix<=4, boost
    * threshold 0.7. Replaces the reference's LLM scoring black box
    * (/root/reference/lion_linker/core.py:133-222) with a deterministic
    * kernel; [[levenshtein]] covers the edit-distance leg.
    */
  def jaroWinkler(aStr: UTF8String, bStr: UTF8String): Double = {
    val a = aStr.toString
    val b = bStr.toString
    val la = a.length
    val lb = b.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; matches += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    val jaro = (m / la + m / lb + (m - transpositions / 2.0) / m) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val maxPrefix = math.min(4, math.min(la, lb))
    while (prefix < maxPrefix && a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    jaro + prefix * 0.1 * (1.0 - jaro)
  }

  /** Levenshtein distance over chars with Spark's contract
    * (`UTF8String.levenshteinDistance(other, maxDist)`): −1 when the
    * distance exceeds `maxDist`; `Int.MaxValue` is the unthresholded form.
    * Myers' bit-vector algorithm (JACM 1999) with Hyyrö's multi-word
    * blocking: the shorter string is the pattern, held as one 64-bit word
    * per 64 chars, and each text char advances every word with a fixed
    * handful of word operations, so a pair costs O(⌈m/64⌉·n) instead of
    * the built-in's O(m·n) — two words per column for the 120-char
    * `text_cap`. Chars are the UTF-8 sequences Spark counts
    * (`numBytesForFirstByte`), equal when their bytes are. Nothing is
    * allocated per row once `s` has grown to the inputs.
    */
  def levenshtein(aStr: UTF8String, bStr: UTF8String, maxDist: Int, s: LevScratch): Int = {
    val la = s.decodeA(aStr)
    val lb = s.decodeB(bStr)
    val m = math.min(la, lb)
    val n = math.max(la, lb)
    if (n - m > maxDist) return -1
    if (m == 0) return n
    val p = if (la <= lb) s.a else s.b
    val t = if (la <= lb) s.b else s.a
    val blocks = (m + 63) >>> 6
    s.buildPeq(p, m, blocks)
    val peq = s.peq
    val vp = s.vp
    val vn = s.vn
    java.util.Arrays.fill(vp, 0, blocks, -1L)
    java.util.Arrays.fill(vn, 0, blocks, 0L)
    val lastBit = 1L << ((m - 1) & 63)
    var score = m
    var j = 0
    while (j < n) {
      val row = s.rowOf(t(j), blocks)
      // horizontal delta entering the block's top row: D[0][j] = j
      var hin = 1
      var k = 0
      while (k < blocks) {
        var eq = if (row < 0) 0L else peq(row + k)
        val pv = vp(k)
        val mv = vn(k)
        val xv = eq | mv
        if (hin < 0) eq |= 1L
        val xh = (((eq & pv) + pv) ^ pv) | eq
        val ph = mv | ~(xh | pv)
        val mh = pv & xh
        val high = if (k == blocks - 1) lastBit else Long.MinValue
        val hout = if ((ph & high) != 0) 1 else if ((mh & high) != 0) -1 else 0
        val phs = (ph << 1) | (if (hin > 0) 1L else 0L)
        val mhs = (mh << 1) | (if (hin < 0) 1L else 0L)
        vp(k) = mhs | ~(xv | phs)
        vn(k) = phs & xv
        hin = hout
        k += 1
      }
      score += hin
      j += 1
      // each remaining column lowers the distance by at most one (the
      // last column checks the distance itself)
      if (score - (n - j) > maxDist) {
        s.clearPeq(m, blocks)
        return -1
      }
    }
    s.clearPeq(m, blocks)
    score
  }

  /** TRUE Damerau–Levenshtein distance (Lowrance–Wagner 1975): minimum
    * insertions, deletions, substitutions, and transpositions of ADJACENT
    * characters — unlike the restricted OSA variant, a transposed block may
    * be edited again ("CA"→"ABC" is 2, OSA says 3). Matches DuckDB's
    * `damerau_levenshtein` (probed: CA/ABC=2), which makes the oracle a
    * builtin. Operates on code points (UTF-16 surrogate pairs count once,
    * like DuckDB). O(|a|·|b|) time AND memory (the transposition recurrence
    * reads arbitrary earlier rows) — meant for short key fields (names,
    * titles, URL slugs), not document bodies; [[levenshtein]] remains the
    * long-text edit distance.
    */
  def damerauLevenshtein(aStr: UTF8String, bStr: UTF8String): Int = {
    val a = aStr.toString.codePoints().toArray
    val b = bStr.toString.codePoints().toArray
    val la = a.length
    val lb = b.length
    if (la == 0) return lb
    if (lb == 0) return la
    val inf = la + lb
    // d(i+1)(j+1) = distance between a-prefix of length i and b-prefix of
    // length j; row/col 0 hold the `inf` sentinel the transposition branch
    // falls back to when a character was never seen
    val d = Array.ofDim[Int](la + 2, lb + 2)
    val da = new java.util.HashMap[Integer, Integer]()
    d(0)(0) = inf
    var i = 0
    while (i <= la) { d(i + 1)(1) = i; d(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= lb) { d(1)(j + 1) = j; d(0)(j + 1) = inf; j += 1 }
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val k: Int = { val v = da.get(Integer.valueOf(b(j - 1))); if (v == null) 0 else v.intValue() }
        val l = db
        val cost = if (a(i - 1) == b(j - 1)) { db = j; 0 } else 1
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val trans = d(k)(l) + (i - k - 1) + 1 + (j - l - 1)
        d(i + 1)(j + 1) = math.min(math.min(sub, ins), math.min(del, trans))
        j += 1
      }
      da.put(Integer.valueOf(a(i - 1)), Integer.valueOf(i))
      i += 1
    }
    d(la + 1)(lb + 1)
  }

  /** Dot product of two sparse vectors encoded as struct(ts: array<long>,
    * ws: array<double>) with ts SORTED ASCENDING. O(n+m) merge — the TF-IDF
    * cosine when both sides are pre-L2-normalized. Parallel PRIMITIVE
    * arrays, not array<struct>: Tungsten serializes them as raw bytes,
    * which matters in the pair-join shuffle.
    */
  def sortedDot(a: org.apache.spark.sql.catalyst.InternalRow, b: org.apache.spark.sql.catalyst.InternalRow): Double = {
    val ta = a.getArray(0)
    val wa = a.getArray(1)
    val tb = b.getArray(0)
    val wb = b.getArray(1)
    val na = ta.numElements()
    val nb = tb.numElements()
    var i = 0
    var j = 0
    var acc = 0.0
    while (i < na && j < nb) {
      val x = ta.getLong(i)
      val y = tb.getLong(j)
      if (x == y) { acc += wa.getDouble(i) * wb.getDouble(j); i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    acc
  }

  /** In-row term frequencies over hashed buckets: tokens ->
    * array<struct<t:long,w:double>> sorted ascending by t, where t =
    * fnv64(token) bucketed into [0, numBuckets) and w = occurrence count.
    * One pass, no shuffle — replaces a groupBy(doc, term) exchange; the
    * bounded bucket space keeps the corpus IDF table broadcastable at any
    * scale (feature-hashing trick).
    */
  def termFreqs(tokens: ArrayData, numBuckets: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val counts = new java.util.TreeMap[Long, Double]()
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val b = (fnv64(tokens.getUTF8String(i)) >>> 1) % numBuckets
        // getOrDefault, not get-then-null-check: counts.get returns an
        // UNBOXED scala.Double here, so a null check would always be false
        // and only worked by unboxToDouble(null) == 0.0 accident
        counts.put(b, counts.getOrDefault(b, 0.0) + 1.0)
      }
      i += 1
    }
    val ts = new Array[Long](counts.size)
    val ws = new Array[Double](counts.size)
    var j = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      ts(j) = e.getKey.longValue()
      ws(j) = e.getValue.doubleValue()
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(ts), new GenericArrayData(ws))
  }

  /** Gopher-style n-gram repetition stats over a token array in ONE
    * row-local pass: (total n-gram count, count of the most frequent
    * n-gram, total occurrences of n-grams appearing more than once).
    * These back the repetition quality filters of Rae et al., "Scaling
    * Language Models: ... Gopher" (2021), Table A1 (top n-gram fraction,
    * duplicate n-gram fraction). N-grams are identified by a rolling
    * FNV-1a fold of the per-token hashes — order-sensitive, no gram
    * strings materialized; a collision (~L^2/2^64 per row) is negligible
    * and deterministic.
    */
  def ngramRepetition(tokens: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val L = tokens.numElements()
    val total = L - n + 1
    if (total <= 0)
      return org.apache.spark.sql.catalyst.InternalRow(0L, 0L, 0L)
    val th = new Array[Long](L)
    var i = 0
    while (i < L) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv64(tokens.getUTF8String(i))
      i += 1
    }
    val counts = new java.util.HashMap[java.lang.Long, Array[Int]](total * 2)
    i = 0
    while (i < total) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) { h ^= th(i + j); h *= 0x100000001b3L; j += 1 }
      val cell = counts.get(h)
      if (cell == null) counts.put(h, Array(1)) else cell(0) += 1
      i += 1
    }
    var top = 0L
    var dup = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      if (c > top) top = c.toLong
      if (c > 1) dup += c
    }
    org.apache.spark.sql.catalyst.InternalRow(total.toLong, top, dup)
  }

  /** Weight a sorted tf vector by broadcast IDF, keep the top `maxTerms`
    * weights (vector sparsification: shrinks the pair-join shuffle), and
    * L2-normalize — all in-row.
    */
  /** See [[graft.functions.UnigramScore]]: count-weighted mean of the
    * broadcast per-bucket log-probabilities over a term_freqs struct.
    */
  def unigramScore(
      vec: org.apache.spark.sql.catalyst.InternalRow,
      lp: org.apache.spark.broadcast.Broadcast[java.util.HashMap[java.lang.Long, java.lang.Double]],
      defaultLp: Double
  ): Double = {
    val m = lp.value
    val ts = vec.getArray(0)
    val ws = vec.getArray(1)
    val n = ts.numElements()
    var sum = 0.0
    var cnt = 0.0
    var i = 0
    while (i < n) {
      val v = m.get(ts.getLong(i))
      val w = ws.getDouble(i)
      sum += w * (if (v == null) defaultLp else v.doubleValue())
      cnt += w
      i += 1
    }
    if (cnt == 0.0) 0.0 else sum / cnt
  }

  def tfidfWeight(
      vec: org.apache.spark.sql.catalyst.InternalRow,
      idf: org.apache.spark.broadcast.Broadcast[java.util.HashMap[java.lang.Long, java.lang.Double]],
      maxTerms: Int
  ): org.apache.spark.sql.catalyst.InternalRow = {
    val m = idf.value
    val tsIn = vec.getArray(0)
    val wsIn = vec.getArray(1)
    val n = tsIn.numElements()
    val ts = new Array[Long](n)
    val ws = new Array[Double](n)
    var i = 0
    while (i < n) {
      val t = tsIn.getLong(i)
      val w0 = m.get(t)
      ts(i) = t
      ws(i) = wsIn.getDouble(i) * (if (w0 == null) 1.0 else w0.doubleValue())
      i += 1
    }
    val keep: Array[Int] =
      if (n > maxTerms) (0 until n).toArray.sortBy(j => -ws(j)).take(maxTerms).sorted
      else (0 until n).toArray
    var norm2 = 0.0
    keep.foreach(j => norm2 += ws(j) * ws(j))
    val norm = math.sqrt(norm2)
    val tsOut = new Array[Long](keep.length)
    val wsOut = new Array[Double](keep.length)
    i = 0
    while (i < keep.length) {
      val j = keep(i)
      tsOut(i) = ts(j)
      wsOut(i) = if (norm > 0) ws(j) / norm else 0.0
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(tsOut), new GenericArrayData(wsOut))
  }

  /** Dense cosine over two array<double> columns, index order (sequential
    * summation — bit-identical to a scalar loop). Replaces zip_with +
    * aggregate lambda chains, which pay per-element closure dispatch.
    */
  def denseCosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0) 0.0 else dot / d
  }

  /** Hyperplane matrices for sign-LSH, built once per (dim, bits, seed) per
    * JVM and cached — the executor-local equivalent of broadcasting
    * precomputed planes (the matrix is tiny: bits*dim doubles), replacing
    * the per-row transform/zip_with/aggregate lambda chains that recomputed
    * the constant planes per element. Plane components are deterministic
    * (splitmix64 of (seed, p, i)) scaled to [-1, 1).
    */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def planes(dim: Int, bits: Int, seed: Int): Array[Double] =
    planeCache.computeIfAbsent(
      (dim, bits, seed),
      { case (d, b, s) =>
        val arr = new Array[Double](b * d)
        var p = 0
        while (p < b) {
          var i = 0
          while (i < d) {
            val h = splitmix64(s.toLong * 0x100000001L + p.toLong * 0x9e3779b9L + i)
            // top 53 bits -> [0,1) -> [-1,1)
            arr(p * d + i) = (h >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0
            i += 1
          }
          p += 1
        }
        arr
      }
    )

  /** Sign-LSH bucket id of a dense vector: bit p = sign of dot(v, plane_p).
    * One tight loop over cached planes; `bits` <= 62.
    */
  def signLsh(v: ArrayData, bits: Int, seed: Int): Long = {
    val dim = v.numElements()
    if (dim == 0) return 0L
    val pl = planes(dim, bits, seed)
    var out = 0L
    var p = 0
    while (p < bits) {
      var dot = 0.0
      var i = 0
      val off = p * dim
      while (i < dim) {
        dot += v.getDouble(i) * pl(off + i)
        i += 1
      }
      if (dot >= 0) out |= 1L << p
      p += 1
    }
    out
  }

  /** The `nProbe` nearest centroids (by cosine) of a vector, as an int
    * array of centroid indices — the IVF assign/probe kernel. Centroids
    * travel as ONE broadcast 2D array; the per-row cost is nList dot
    * products in a tight loop (no per-element lambdas, no MLlib model).
    */
  def nearestCentroids(
      v: ArrayData,
      centroidsBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      nProbe: Int
  ): ArrayData = {
    val cents = centroidsBc.value
    val dim = v.numElements()
    val n = cents.length
    val take = math.min(nProbe, n)
    val bestIdx = new Array[Int](take)
    val bestCos = Array.fill(take)(Double.MinValue)
    var ci = 0
    while (ci < n) {
      val c = cents(ci)
      val m = math.min(dim, c.length)
      var dot = 0.0
      var nv = 0.0
      var nc = 0.0
      var i = 0
      while (i < m) {
        val x = v.getDouble(i)
        dot += x * c(i); nv += x * x; nc += c(i) * c(i)
        i += 1
      }
      val den = math.sqrt(nv) * math.sqrt(nc)
      val cos = if (den == 0) 0.0 else dot / den
      // insertion into the running top-nProbe (nProbe is tiny)
      var j = 0
      var placed = false
      while (j < take && !placed) {
        if (cos > bestCos(j)) {
          var s = take - 1
          while (s > j) { bestCos(s) = bestCos(s - 1); bestIdx(s) = bestIdx(s - 1); s -= 1 }
          bestCos(j) = cos
          bestIdx(j) = ci
          placed = true
        }
        j += 1
      }
      ci += 1
    }
    new GenericArrayData(bestIdx.map(Int.box).asInstanceOf[Array[Any]])
  }

  /** FNV-1a 64-bit over UTF-8 bytes — self-contained deterministic token
    * hash (stable across Spark versions / partitionings).
    */
  def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash over an array of string tokens (unit weights): bit k of
    * the result is 1 iff the sum of signs of bit k over all token hashes is
    * positive. Near-duplicate texts land within small Hamming distance.
    */
  def simHash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv64(tokens.getUTF8String(i))
        var k = 0
        while (k < 64) {
          if (((h >>> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
          k += 1
        }
      }
      i += 1
    }
    var out = 0L
    var k = 0
    while (k < 64) {
      if (counts(k) > 0) out |= (1L << k)
      k += 1
    }
    out
  }

  /** Fused shingle+MinHash: n-token shingles are never materialized as
    * strings — each token is FNV-hashed once, consecutive n hashes are
    * mixed order-sensitively into a shingle hash, and the k family minima
    * are tracked in one pass. Identical shingle-set semantics to hashing
    * the joined strings (a shingle's identity is its token n-tuple), at a
    * fraction of the allocation cost.
    */
  def minHashShingles(tokens: ArrayData, n: Int, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val cnt = tokens.numElements()
    if (cnt >= n) {
      val th = new Array[Long](cnt)
      var i = 0
      while (i < cnt) {
        th(i) = if (tokens.isNullAt(i)) 0L else fnv64(tokens.getUTF8String(i))
        i += 1
      }
      var w = 0
      while (w <= cnt - n) {
        var h = 0xcbf29ce484222325L
        var j = 0
        while (j < n) {
          h = (h ^ th(w + j)) * 0x100000001b3L
          j += 1
        }
        var s = 0
        while (s < k) {
          val hv = (h ^ (0x9E3779B97F4A7C15L * (s + 1))) * 0xff51afd7ed558ccdL
          if (hv < sig(s)) sig(s) = hv
          s += 1
        }
        w += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** Sorted distinct shingle hashes of a token array: each n-token window
    * is folded order-sensitively over per-token FNV hashes (identical
    * shingle identity to hashing the joined strings, zero string
    * materialization — the same fusion as minHashShingles).
    */
  private def shingleHashes(tokens: ArrayData, n: Int): Array[Long] = {
    val cnt = tokens.numElements()
    if (cnt < n) return Array.emptyLongArray
    val th = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv64(tokens.getUTF8String(i))
      i += 1
    }
    val out = new Array[Long](cnt - n + 1)
    var w = 0
    while (w <= cnt - n) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        h = (h ^ th(w + j)) * 0x100000001b3L
        j += 1
      }
      out(w) = h
      w += 1
    }
    java.util.Arrays.sort(out)
    // in-place dedupe
    var r = 1
    var wr = 1
    while (r < out.length) {
      if (out(r) != out(wr - 1)) { out(wr) = out(r); wr += 1 }
      r += 1
    }
    if (wr == out.length) out else java.util.Arrays.copyOf(out, wr)
  }

  /** Exact n-gram Jaccard of two token arrays over hashed shingle sets
    * (|A∩B| / |A∪B|; 0.0 when both sides are empty — the verify leg of
    * near-dup dedup without ever allocating shingle strings).
    */
  def ngramJaccard(a: ArrayData, b: ArrayData, n: Int): Double = {
    val ha = shingleHashes(a, n)
    val hb = shingleHashes(b, n)
    var i = 0
    var j = 0
    var inter = 0
    while (i < ha.length && j < hb.length) {
      val x = ha(i)
      val y = hb(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = ha.length + hb.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Token-SET similarity of two token arrays over hashed distinct sets
    * (single-token "shingles" — same FNV fold and 2^-64 collision odds as
    * [[ngramJaccard]]). `mode`: 0 = Jaccard |A∩B|/|A∪B|, 1 = Dice
    * 2|A∩B|/(|A|+|B|), 2 = overlap |A∩B|/min(|A|,|B|), 3 = set-cosine
    * |A∩B|/√(|A||B|). Degenerate denominators return 0.0 (empty sides
    * carry no evidence — the [[ngramJaccard]] convention).
    */
  def tokenSetSim(a: ArrayData, b: ArrayData, mode: Int): Double = {
    val ha = shingleHashes(a, 1)
    val hb = shingleHashes(b, 1)
    var i = 0
    var j = 0
    var inter = 0
    while (i < ha.length && j < hb.length) {
      val x = ha(i)
      val y = hb(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val na = ha.length
    val nb = hb.length
    mode match {
      case 0 => val u = na + nb - inter; if (u == 0) 0.0 else inter.toDouble / u
      case 1 => if (na + nb == 0) 0.0 else 2.0 * inter / (na + nb)
      case 2 => val m = math.min(na, nb); if (m == 0) 0.0 else inter.toDouble / m
      case _ => if (na == 0 || nb == 0) 0.0 else inter.toDouble / math.sqrt(na.toDouble * nb)
    }
  }

  /** Monge–Elkan similarity with a Jaro–Winkler inner kernel: the mean,
    * over the FIRST array's tokens in order, of each token's best JW match
    * in the second array (Monge & Elkan, 1996 — the standard multi-token
    * name comparator; asymmetric by definition, symmetrize with
    * max(me(a,b), me(b,a)) if needed). Empty or all-null `a` returns 0.0.
    * The outer accumulation is left-to-right over a's token order, so a
    * replay that sums in list order reproduces the exact double.
    */
  def mongeElkanJw(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var sum = 0.0
    var cnt = 0
    var i = 0
    while (i < na) {
      if (!a.isNullAt(i)) {
        val ta = a.getUTF8String(i)
        var best = 0.0
        var j = 0
        while (j < nb) {
          if (!b.isNullAt(j)) {
            val s = jaroWinkler(ta, b.getUTF8String(j))
            if (s > best) best = s
          }
          j += 1
        }
        sum += best
        cnt += 1
      }
      i += 1
    }
    if (cnt == 0) 0.0 else sum / cnt
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
    * MOSS algorithm): the distinct minima of every `w`-window over the
    * in-order `k`-gram hash stream, sorted. Guarantees: two documents
    * sharing a token run of at least w + k - 1 tokens share at least one
    * fingerprint, and no shared fingerprint reflects a match shorter than
    * k tokens (modulo a 2^-64 collision). Fingerprints are VALUES
    * (position-free), so a match survives the shared span moving within
    * either document. Same FNV-1a fold as the MinHash kernel, so the
    * DuckDB oracle replays it with the identical list_reduce chain.
    * Window minima are the naive O(m·w) scan — documents are row-local
    * and w is small; swap in a monotonic deque if profiles ever say so.
    */
  def winnow(tokens: ArrayData, k: Int, w: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < k) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv64(tokens.getUTF8String(i))
      i += 1
    }
    val m = cnt - k + 1
    val hs = new Array[Long](m)
    var p = 0
    while (p < m) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) {
        h = (h ^ th(p + j)) * 0x100000001b3L
        j += 1
      }
      hs(p) = h
      p += 1
    }
    // a doc shorter than one full window still emits one fingerprint
    val nw = if (m <= w) 1 else m - w + 1
    val sel = new Array[Long](nw)
    var q = 0
    while (q < nw) {
      val end = math.min(q + w, m)
      var mn = hs(q)
      var r = q + 1
      while (r < end) {
        if (hs(r) < mn) mn = hs(r)
        r += 1
      }
      sel(q) = mn
      q += 1
    }
    java.util.Arrays.sort(sel)
    var rd = 1
    var wr = 1
    while (rd < sel.length) {
      if (sel(rd) != sel(wr - 1)) { sel(wr) = sel(rd); wr += 1 }
      rd += 1
    }
    new GenericArrayData(if (wr == sel.length) sel else java.util.Arrays.copyOf(sel, wr))
  }

  /** MinHash signature: for each of k hash families, the minimum of
    * (fnv64(shingle) XOR seed_k) * PRIME over all shingles. Empty input
    * yields Long.MaxValue per slot.
    */
  def minHashSignature(shingles: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val h = fnv64(shingles.getUTF8String(i))
        var s = 0
        while (s < k) {
          val hv = (h ^ (0x9E3779B97F4A7C15L * (s + 1))) * 0xff51afd7ed558ccdL
          if (hv < sig(s)) sig(s) = hv
          s += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

/** Reused state of [[SimKernels.levenshtein]]: both strings' chars and the
  * pattern's match vectors, grown on demand. One per generated-code
  * instance (a task) or per interpreted expression, never shared across
  * threads.
  */
final class LevScratch {
  private[functions] var a = new Array[Int](128)
  private[functions] var b = new Array[Int](128)
  private[functions] var vp = new Array[Long](2)
  private[functions] var vn = new Array[Long](2)
  /** Match vectors, `blocks` words per row: bit i of word k is set when
    * pattern char 64k+i is the row's char. Rows 0-127 are the ASCII
    * chars; the pattern's other chars get rows from 128 on through the
    * open-addressing map below. All zero between calls.
    */
  private[functions] var peq = new Array[Long](256 * 2)
  private var rowAt = new Array[Int](128)
  private var slotKey = new Array[Int](256)
  private var slotRow = new Array[Int](256) // 0 = empty slot
  private var shift = 24
  private var used = new Array[Int](128)
  private var nUsed = 0

  private[functions] def decodeA(u: UTF8String): Int = {
    if (a.length < u.numBytes) a = new Array[Int](u.numBytes * 2)
    decode(u, a)
  }

  private[functions] def decodeB(u: UTF8String): Int = {
    if (b.length < u.numBytes) b = new Array[Int](u.numBytes * 2)
    decode(u, b)
  }

  /** Writes `u`'s chars to `out`; returns their count. A char is the run
    * of bytes `numBytesForFirstByte` gives its first byte, packed
    * big-endian into one int (the lead byte fixes the run length, so
    * distinct runs get distinct ints and ASCII keeps its code point).
    */
  private def decode(u: UTF8String, out: Array[Int]): Int = {
    val nb = u.numBytes
    val base = u.getBaseObject
    val off = u.getBaseOffset
    var i = 0
    var n = 0
    while (i < nb) {
      val b0 = Platform.getByte(base, off + i)
      if (b0 >= 0) {
        out(n) = b0
        i += 1
      } else {
        val len = math.min(UTF8String.numBytesForFirstByte(b0), nb - i)
        var key = b0 & 0xff
        var k = 1
        while (k < len) {
          key = (key << 8) | (Platform.getByte(base, off + i + k) & 0xff)
          k += 1
        }
        out(n) = key
        i += len
      }
      n += 1
    }
    n
  }

  private def slot(c: Int): Int = {
    var h = (c * 0x9e3779b9) >>> shift
    while (slotRow(h) != 0 && slotKey(h) != c) h = (h + 1) & (slotRow.length - 1)
    h
  }

  /** Sets the match vectors of pattern `p(0 until m)`. */
  private[functions] def buildPeq(p: Array[Int], m: Int, blocks: Int): Unit = {
    if (peq.length < (128 + m) * blocks) peq = new Array[Long]((128 + m) * blocks * 2)
    if (vp.length < blocks) { vp = new Array[Long](blocks * 2); vn = new Array[Long](blocks * 2) }
    if (rowAt.length < m) { rowAt = new Array[Int](m * 2); used = new Array[Int](m * 2) }
    if (slotRow.length < 2 * m) {
      val bits = 32 - Integer.numberOfLeadingZeros(2 * m - 1)
      slotKey = new Array[Int](1 << bits)
      slotRow = new Array[Int](1 << bits)
      shift = 32 - bits
    }
    var next = 128 * blocks
    var i = 0
    while (i < m) {
      val c = p(i)
      val row =
        if ((c & ~0x7f) == 0) c * blocks
        else {
          val h = slot(c)
          if (slotRow(h) == 0) {
            slotKey(h) = c
            slotRow(h) = next
            used(nUsed) = h
            nUsed += 1
            next += blocks
          }
          slotRow(h)
        }
      rowAt(i) = row
      peq(row + (i >>> 6)) |= 1L << (i & 63)
      i += 1
    }
  }

  /** Row offset of text char `c` in `peq`, or −1 when the pattern lacks it. */
  private[functions] def rowOf(c: Int, blocks: Int): Int =
    if ((c & ~0x7f) == 0) c * blocks
    else {
      val r = slotRow(slot(c))
      if (r == 0) -1 else r
    }

  /** Restores the all-zero state after [[buildPeq]]. */
  private[functions] def clearPeq(m: Int, blocks: Int): Unit = {
    var i = 0
    while (i < m) {
      peq(rowAt(i) + (i >>> 6)) = 0L
      i += 1
    }
    while (nUsed > 0) {
      nUsed -= 1
      slotRow(used(nUsed)) = 0
    }
  }
}

/** Jaro-Winkler similarity as a native binary expression (codegen'd). */
case class JaroWinkler(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaro_winkler"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimKernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimKernels.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** [[SimKernels.levenshtein]] as a native binary expression (codegen'd):
  * Spark's `levenshtein(a, b, maxDist)` contract, −1 past `maxDist`.
  */
case class LevDistance(left: Expression, right: Expression, maxDist: Int) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lev_distance"
  @transient private lazy val scratch = new LevScratch
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimKernels.levenshtein(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], maxDist, scratch)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[LevScratch].getName
    val s = ctx.addMutableState(cls, "levScratch", v => s"$v = new $cls();")
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimKernels.levenshtein($a, $b, $maxDist, $s)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** True Damerau–Levenshtein distance as a native binary expression
  * (codegen'd); see [[SimKernels.damerauLevenshtein]] for semantics.
  */
case class DamerauLevenshtein(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "damerau_levenshtein"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimKernels.damerauLevenshtein(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimKernels.damerauLevenshtein($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Sparse-vector type shared by the TF-IDF expressions: parallel primitive
  * arrays (cheap Tungsten shuffle encoding vs array<struct>).
  */
object SparseVec {
  val dataType: DataType = StructType(
    Seq(
      StructField("ts", ArrayType(LongType, containsNull = false)),
      StructField("ws", ArrayType(DoubleType, containsNull = false))
    )
  )
}

/** Dot product over sorted sparse term vectors (struct<ts,ws>). */
case class SortedVecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_vec_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimKernels.sortedDot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow],
      b.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    )
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimKernels.sortedDot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 64-bit SimHash of an array<string> token column. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(v: Any): Any =
    SimKernels.simHash64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimKernels.simHash64($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Dense cosine similarity over two array<double> embedding columns. */
case class DenseCosine(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "dense_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimKernels.denseCosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimKernels.denseCosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fused n-token-shingle MinHash signature of an array<string> column. */
case class MinHashShingles(child: Expression, n: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_shingles"
  override protected def nullSafeEval(v: Any): Any =
    SimKernels.minHashShingles(v.asInstanceOf[ArrayData], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimKernels.minHashShingles($a, $n, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Winnowing fingerprint set of an array<string> token column. */
case class Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow"
  override protected def nullSafeEval(v: Any): Any =
    SimKernels.winnow(v.asInstanceOf[ArrayData], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimKernels.winnow($a, $k, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Row-local n-gram repetition stats (Gopher repetition-filter signals). */
case class NgramRepetition(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = NgramRepetition.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ngram_repetition"
  override protected def nullSafeEval(v: Any): Any =
    SimKernels.ngramRepetition(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimKernels.ngramRepetition($a, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NgramRepetition {
  val dataType: DataType = StructType(
    Seq(
      StructField("total", LongType, nullable = false),
      StructField("top", LongType, nullable = false),
      StructField("dup", LongType, nullable = false)
    )
  )
}

/** In-row hashed-bucket term frequencies (sorted sparse vector). */
case class TermFreqs(child: Expression, numBuckets: Int) extends UnaryExpression {
  override def dataType: DataType = SparseVec.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "term_freqs"
  override protected def nullSafeEval(v: Any): Any =
    SimKernels.termFreqs(v.asInstanceOf[ArrayData], numBuckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimKernels.termFreqs($a, $numBuckets)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** In-row TF-IDF weighting + L2 normalization against a broadcast IDF map
  * (bounded by the hash-bucket count, so broadcastable at any corpus size).
  */
case class TfIdfWeight(
    child: Expression,
    idfBc: org.apache.spark.broadcast.Broadcast[java.util.HashMap[java.lang.Long, java.lang.Double]],
    maxTerms: Int = 64
) extends UnaryExpression {
  override def dataType: DataType = SparseVec.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "tfidf_weight"
  override protected def nullSafeEval(v: Any): Any =
    SimKernels.tfidfWeight(v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], idfBc, maxTerms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("idfBc", idfBc, classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, a => s"graft.functions.SimKernels.tfidfWeight($a, $ref, $maxTerms)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Mean log-probability per token under a broadcast hashed-unigram model:
  * sum(ws_i * logp(ts_i)) / sum(ws_i) over a `term_freqs` struct, with
  * `defaultLp` for buckets absent from the model (scoring docs the model
  * never saw). Row-local, codegen'd — the model map is bounded by the
  * bucket count, so it broadcasts at any corpus size. Empty docs score
  * 0.0 by convention (no tokens to average; gate those on token count).
  */
case class UnigramScore(
    child: Expression,
    lpBc: org.apache.spark.broadcast.Broadcast[java.util.HashMap[java.lang.Long, java.lang.Double]],
    defaultLp: Double
) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "unigram_score"
  override protected def nullSafeEval(v: Any): Any =
    SimKernels.unigramScore(v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], lpBc, defaultLp)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lpBc", lpBc, classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, a => s"graft.functions.SimKernels.unigramScore($a, $ref, ${defaultLp}d)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sign-LSH (random-hyperplane) bucket id of an array<double> column. */
case class SignLsh(child: Expression, bits: Int, seed: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sign_lsh"
  override protected def nullSafeEval(v: Any): Any =
    SimKernels.signLsh(v.asInstanceOf[ArrayData], bits, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimKernels.signLsh($a, $bits, $seed)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Exact hashed n-gram Jaccard of two array<string> token columns. */
case class NgramJaccard(left: Expression, right: Expression, n: Int) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ngram_jaccard"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimKernels.ngramJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimKernels.ngramJaccard($a, $b, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** IVF assign/probe: indices of the nProbe nearest broadcast centroids. */
case class NearestCentroids(
    child: Expression,
    centroidsBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
    nProbe: Int
) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_centroids"
  override protected def nullSafeEval(v: Any): Any =
    SimKernels.nearestCentroids(v.asInstanceOf[ArrayData], centroidsBc, nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidsBc", centroidsBc, classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    defineCodeGen(ctx, ev, a => s"graft.functions.SimKernels.nearestCentroids($a, $ref, $nProbe)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Token-set similarity (jaccard/dice/overlap/cosine by mode) of two
  * array<string> columns over hashed distinct sets.
  */
case class TokenSetSim(left: Expression, right: Expression, mode: Int) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_set_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimKernels.tokenSetSim(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], mode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimKernels.tokenSetSim($a, $b, $mode)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Monge–Elkan (JW inner kernel) of two array<string> token columns. */
case class MongeElkanJw(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "monge_elkan_jw"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    SimKernels.mongeElkanJw(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SimKernels.mongeElkanJw($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** k-slot MinHash signature of an array<string> shingle column. */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(v: Any): Any =
    SimKernels.minHashSignature(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.SimKernels.minHashSignature($a, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-API entry points for the custom expressions. */
object SimilarityFunctions {
  private def e(c: Column): Expression = GraftShim.expression(c)
  def jaro_winkler(a: Column, b: Column): Column = GraftShim.column(JaroWinkler(e(a), e(b)))
  /** Levenshtein distance over chars, −1 past `maxDist` (default: none). */
  def lev_distance(a: Column, b: Column, maxDist: Int = Int.MaxValue): Column =
    GraftShim.column(LevDistance(e(a), e(b), maxDist))
  def damerau_levenshtein(a: Column, b: Column): Column =
    GraftShim.column(DamerauLevenshtein(e(a), e(b)))
  def sorted_vec_dot(a: Column, b: Column): Column = GraftShim.column(SortedVecDot(e(a), e(b)))
  def simhash64(tokens: Column): Column = GraftShim.column(SimHash64(e(tokens)))
  def minhash_sig(shingles: Column, k: Int): Column = GraftShim.column(MinHashSig(e(shingles), k))
  def term_freqs(tokens: Column, numBuckets: Int): Column =
    GraftShim.column(TermFreqs(e(tokens), numBuckets))
  def dense_cosine(a: Column, b: Column): Column = GraftShim.column(DenseCosine(e(a), e(b)))
  def sign_lsh(v: Column, bits: Int, seed: Int = 0): Column =
    GraftShim.column(SignLsh(e(v), bits, seed))
  def ngram_jaccard(a: Column, b: Column, n: Int): Column =
    GraftShim.column(NgramJaccard(e(a), e(b), n))
  def token_jaccard(a: Column, b: Column): Column = GraftShim.column(TokenSetSim(e(a), e(b), 0))
  def token_dice(a: Column, b: Column): Column = GraftShim.column(TokenSetSim(e(a), e(b), 1))
  def token_overlap(a: Column, b: Column): Column = GraftShim.column(TokenSetSim(e(a), e(b), 2))
  def token_set_cosine(a: Column, b: Column): Column = GraftShim.column(TokenSetSim(e(a), e(b), 3))
  def monge_elkan_jw(a: Column, b: Column): Column = GraftShim.column(MongeElkanJw(e(a), e(b)))
  def nearest_centroids(
      v: Column,
      centroidsBc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]],
      nProbe: Int
  ): Column = GraftShim.column(NearestCentroids(e(v), centroidsBc, nProbe))
  def ngram_repetition(tokens: Column, n: Int): Column =
    GraftShim.column(NgramRepetition(e(tokens), n))

  def minhash_shingles(tokens: Column, n: Int, k: Int): Column =
    GraftShim.column(MinHashShingles(e(tokens), n, k))
  def winnow(tokens: Column, k: Int, w: Int): Column =
    GraftShim.column(Winnow(e(tokens), k, w))
  def tfidf_weight(
      tf: Column,
      idfBc: org.apache.spark.broadcast.Broadcast[java.util.HashMap[java.lang.Long, java.lang.Double]]
  ): Column = GraftShim.column(TfIdfWeight(e(tf), idfBc))

  def unigram_score(
      tf: Column,
      lpBc: org.apache.spark.broadcast.Broadcast[java.util.HashMap[java.lang.Long, java.lang.Double]],
      defaultLp: Double
  ): Column = GraftShim.column(UnigramScore(e(tf), lpBc, defaultLp))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b)).cast("int")
}
