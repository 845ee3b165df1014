package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Compiled text-hash kernels behind graft's native Catalyst
  * expressions (ShingleHashes / MinHashSig / SimHash64).
  *
  * Why these exist: the first implementation expressed shingling,
  * MinHash folds and SimHash bit votes as Catalyst higher-order
  * functions (aggregate/zip_with/transform). HOFs evaluate outside
  * whole-stage codegen — every array element walks an interpreted
  * expression tree with boxing — and dominated the dedup bench (~38 s
  * of the sf0.1 run). These kernels run the same algorithms as tight
  * JVM loops; the expressions' doGenCode emits a single static call, so
  * the surrounding projection stays inside whole-stage codegen.
  *
  * Tokenization reproduces the column-expression pipeline exactly
  * (lower → btrim → split("\\s+", -1)), which is what the DuckDB
  * oracle for q_dedup_ngram uses — do not "fix" the trailing-empty
  * or empty-string behavior.
  */
object TextHash {

  /** 64-bit avalanche (splitmix64/murmur3 finalizer). */
  @inline private def mix64(v: Long): Long = {
    var x = v
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  /** FNV-1a over chars, finalized — the token/content hash. */
  def hashString(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    mix64(h)
  }

  /** Order-sensitive combine (shingle chains, seeded rehash). */
  @inline def combine(a: Long, b: Long): Long =
    mix64(a ^ (b * 0x9e3779b97f4a7c15L))

  /** lower → trim spaces (btrim semantics: 0x20 only) →
    * split("\\s+", -1): byte-compatible with the column pipeline
    * `split(btrim(lower(text)), "\\s+")`. */
  def tokenize(u: UTF8String): Array[String] = {
    val lowered = u.toString.toLowerCase(java.util.Locale.ROOT)
    var b = 0
    var e = lowered.length
    while (b < e && lowered.charAt(b) == ' ') b += 1
    while (e > b && lowered.charAt(e - 1) == ' ') e -= 1
    lowered.substring(b, e).split("\\s+", -1)
  }

  private def tokenHashes(toks: Array[String]): Array[Long] = {
    val h = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { h(i) = hashString(toks(i)); i += 1 }
    h
  }

  /** Hashes of the k-token rolling shingles; documents with fewer than
    * k tokens yield one whole-document shingle (matches the oracle's
    * CASE WHEN len(t) < k branch). */
  def shingles(u: UTF8String, k: Int): ArrayData = {
    val toks = tokenize(u)
    val th = tokenHashes(toks)
    if (toks.length < k) {
      var h = th(0)
      var j = 1
      while (j < th.length) { h = combine(h, th(j)); j += 1 }
      new GenericArrayData(Array(h))
    } else {
      val out = new Array[Long](toks.length - k + 1)
      var i = 0
      while (i <= toks.length - k) {
        var h = th(i)
        var j = i + 1
        while (j < i + k) { h = combine(h, th(j)); j += 1 }
        out(i) = h
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** MinHash signature: n minima of seeded rehashes over the shingle
    * set — one pass over the shingles. */
  def minhash(u: UTF8String, k: Int, n: Int): ArrayData = {
    val sh = shingles(u, k)
    val sig = new Array[Long](n)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    val len = sh.numElements()
    while (i < len) {
      val s = sh.getLong(i)
      var seed = 0
      while (seed < n) {
        val h = combine(s, seed.toLong)
        if (h < sig(seed)) sig(seed) = h
        seed += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** SimHash: 64-bit majority vote over token hashes. */
  def simhash(u: UTF8String): Long = {
    val th = tokenHashes(tokenize(u))
    val counts = new Array[Int](64)
    var i = 0
    while (i < th.length) {
      val h = th(i)
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > th.length) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Hashed bag-of-words feature bucket of one token:
    * floorMod(hashString, dims) — the feature map of the linear
    * classifier (hashing trick). Shared verbatim by the distributed
    * scoring kernel and the driver-side reference fit so the two
    * training paths are INTEGER-IDENTICAL. */
  @inline def bucket(tok: String, dims: Int): Int =
    java.lang.Math.floorMod(hashString(tok), dims.toLong).toInt

  /** Feature buckets of a document (empty tokens dropped). */
  def bucketArray(u: UTF8String, dims: Int): ArrayData = {
    val toks = tokenize(u)
    val out = new scala.collection.mutable.ArrayBuffer[Any](toks.length)
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) out += bucket(toks(i), dims)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Linear score of a document under hashed-BoW weights:
    * bias + Σ_token w[bucket(token)]. All-integer — deterministic
    * under any partitioning or evaluation order. */
  def bowScore(u: UTF8String, dims: Int, w: Array[Long], bias: Long): Long = {
    val toks = tokenize(u)
    var s = bias
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) s += w(bucket(toks(i), dims))
      i += 1
    }
    s
  }

  /** Linear score from a PRECOMPUTED bucket array (the values of
    * [[bucketArray]]): bias + Σ w[b_i]. Identical result to
    * [[bowScore]] over the source text (both drop empty tokens) —
    * lets the perceptron's epochs sum cached ints instead of
    * re-tokenizing and re-hashing every document every epoch. */
  def bowScoreBuckets(b: Array[Int], w: Array[Long], bias: Long): Long = {
    var s = bias
    var i = 0
    while (i < b.length) { s += w(b(i)); i += 1 }
    s
  }

  /** One 64-bit LSH bucket key per band of a MinHash signature:
    * band b's key = the signature slice [b·rows, (b+1)·rows) folded
    * through [[combine]], then salted with the band index. Replaces
    * the interpreted transform that BUILT A STRING per band per row
    * (concat_ws of the slice, then xxhash64) — pure long arithmetic,
    * one pass, no allocation beyond the output. Bucket VALUES differ
    * from the string formulation, so the incremental-dedup params pin
    * carries a band-format version — a pre-existing index reopens
    * against the pin and fails loudly instead of silently
    * mis-bucketing. */
  def bandHashes(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var h = sig.getLong(b * rows)
      var j = 1
      while (j < rows) { h = combine(h, sig.getLong(b * rows + j)); j += 1 }
      out(b) = combine(h, b.toLong)
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Count of agreeing positions between two long-array MinHash
    * signatures (the estimated-Jaccard numerator). The zip_with→
    * filter→size HOF chain this replaces walked an interpreted lambda
    * per array element on EVERY candidate pair per colliding band —
    * the hot inner loop of LSH pair scoring. Lengths are equal for
    * same-config signatures; min() keeps the kernel total. */
  def sigAgreement(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** All character-k-shingles of a string, optionally per-document
    * DISTINCT: byte-identical to
    * `transform(sequence(1, length(s)-k+1), i -> substring(s, i, k))`
    * (char semantics — slicing happens on precomputed code-point
    * boundaries, one pass) but compiled. The HOF spelling walks an
    * interpreted substring expression per character position of every
    * document; with distinct=true the kernel also dedups map-side, so
    * downstream explodes shuffle each shingle once per document
    * instead of once per occurrence. */
  def charShingles(u: UTF8String, k: Int, distinct: Boolean): ArrayData = {
    val n = u.numChars()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val bytes = u.getBytes
    val offs = new Array[Int](n + 1)
    var i = 0
    var p = 0
    while (i < n) {
      offs(i) = p
      p += UTF8String.numBytesForFirstByte(bytes(p))
      i += 1
    }
    offs(n) = p
    val count = n - k + 1
    if (distinct) {
      val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
      i = 0
      while (i < count) {
        seen.add(UTF8String.fromBytes(bytes, offs(i), offs(i + k) - offs(i)))
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator(); var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](count)
      i = 0
      while (i < count) {
        out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + k) - offs(i))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** 64-bit hashes of the k-CHAR shingles (FNV-1a over each shingle's
    * UTF-8 bytes, avalanche-finalized), optionally DISTINCT within the
    * document. The hashed sibling of [[charShingles]] for pipelines
    * that only compare shingles for EQUALITY (overlap counting,
    * blocking): downstream shuffles carry fixed 8-byte longs instead
    * of raw k-char strings — the count is exact unless two distinct
    * shingles collide in 64 bits (≈2⁻⁶⁴ per pair; a corpus would need
    * ~10⁹ unique shingles for even a 3% chance of ONE collision). */
  def charShingleHashes(u: UTF8String, k: Int, distinct: Boolean): ArrayData = {
    val n = u.numChars()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val bytes = u.getBytes
    val offs = new Array[Int](n + 1)
    var i = 0
    var p = 0
    while (i < n) {
      offs(i) = p
      p += UTF8String.numBytesForFirstByte(bytes(p))
      i += 1
    }
    offs(n) = p
    val count = n - k + 1
    val out = new Array[Long](count)
    i = 0
    while (i < count) {
      var h = 0xcbf29ce484222325L
      var b = offs(i)
      val end = offs(i + k)
      while (b < end) { h ^= (bytes(b) & 0xffL); h *= 0x100000001b3L; b += 1 }
      out(i) = mix64(h)
      i += 1
    }
    if (!distinct) return new GenericArrayData(out)
    java.util.Arrays.sort(out) // sort+dedup: no boxing, no hash set
    var m = 0
    i = 0
    while (i < count) {
      if (m == 0 || out(i) != out(m - 1)) { out(m) = out(i); m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** Symmetric-delete neighborhood (SymSpell blocking keys) of a
    * string: the string itself plus every variant with up to `k`
    * (1..2) characters deleted, DISTINCT. Byte-identical to the
    * substr/concat HOF spelling (char semantics — deletion happens on
    * code-point boundaries) but one compiled pass per string instead
    * of ~L²/2 interpreted lambda evaluations. */
  def deletionNeighborhood(u: UTF8String, k: Int): ArrayData = {
    val n = u.numChars()
    val bytes = u.getBytes
    val offs = new Array[Int](n + 1)
    var i = 0
    var p = 0
    while (i < n) {
      offs(i) = p
      p += UTF8String.numBytesForFirstByte(bytes(p))
      i += 1
    }
    offs(n) = p
    val total = p
    val seen = new java.util.LinkedHashSet[UTF8String]()
    seen.add(UTF8String.fromBytes(bytes, 0, total))
    @inline def drop1(ci: Int): UTF8String = {
      val len = total - (offs(ci + 1) - offs(ci))
      val out = new Array[Byte](len)
      System.arraycopy(bytes, 0, out, 0, offs(ci))
      System.arraycopy(bytes, offs(ci + 1), out, offs(ci), total - offs(ci + 1))
      UTF8String.fromBytes(out)
    }
    @inline def drop2(ci: Int, cj: Int): UTF8String = {
      // ci < cj
      val li = offs(ci + 1) - offs(ci)
      val lj = offs(cj + 1) - offs(cj)
      val out = new Array[Byte](total - li - lj)
      System.arraycopy(bytes, 0, out, 0, offs(ci))
      System.arraycopy(bytes, offs(ci + 1), out, offs(ci), offs(cj) - offs(ci + 1))
      System.arraycopy(bytes, offs(cj + 1), out, offs(cj) - li, total - offs(cj + 1))
      UTF8String.fromBytes(out)
    }
    if (k >= 1 && n >= 1) {
      i = 0
      while (i < n) { seen.add(drop1(i)); i += 1 }
    }
    if (k >= 2 && n >= 2) {
      i = 0
      while (i < n - 1) {
        var j = i + 1
        while (j < n) { seen.add(drop2(i, j)); j += 1 }
        i += 1
      }
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator(); var m = 0
    while (it.hasNext) { out(m) = it.next(); m += 1 }
    new GenericArrayData(out)
  }

  /** All unordered id pairs within a bucket, canonicalized
    * (min, max) — the blocking bucket's pair expansion as one pass
    * instead of a nested interpreted transform. Output elements are
    * (long, long) rows consumed via explode. */
  def longPairCombos(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n * (n - 1) / 2)
    var m = 0
    var i = 0
    while (i < n - 1) {
      val a = ids.getLong(i)
      var j = i + 1
      while (j < n) {
        val b = ids.getLong(j)
        out(m) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](math.min(a, b), math.max(a, b)))
        m += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Fixed-width token-window lines: line i = tokens
    * [i·width, (i+1)·width) joined with " ", last line may be short;
    * blank text (after the 0x20 trim) → zero lines. Tokenization is
    * [[tokenize]] (byte-compatible with the column pipeline); the
    * whole split-window-join runs as one pass instead of an
    * interpreted per-line transform over slice/array_join. */
  def tokenWindowLines(u: UTF8String, width: Int): ArrayData = {
    val toks = tokenize(u)
    if (toks.length == 1 && toks(0).isEmpty)
      return new GenericArrayData(Array.empty[Any])
    val nLines = (toks.length + width - 1) / width
    val out = new Array[Any](nLines)
    var i = 0
    while (i < nLines) {
      val from = i * width
      val until = math.min(from + width, toks.length)
      val sb = new java.lang.StringBuilder()
      var j = from
      while (j < until) {
        if (j > from) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Jaccard similarity of two DISTINCT long-hash sets in one pass:
    * |A∩B| via an open-addressing probe of the smaller side, |A∪B| =
    * |A|+|B|−|A∩B|. Replaces array_intersect + array_union at pair
    * verification, which materialize three intermediate arrays (and
    * two hash sets) per candidate pair. Inputs MUST be distinct
    * (callers apply array_distinct at shingle time) — duplicates
    * would overcount the union term. */
  def jaccardDistinct(a: ArrayData, b: ArrayData): Double = {
    var small = a; var big = b
    if (small.numElements() > big.numElements()) { small = b; big = a }
    val ns = small.numElements(); val nb = big.numElements()
    if (ns == 0) return if (nb == 0) 1.0 else 0.0
    // open-addressing table of the smaller side, power-of-two sized
    var cap = 4
    while (cap < ns * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    var i = 0
    while (i < ns) {
      val v = small.getLong(i)
      var slot = (mix64(v) & 0x7fffffffffffffffL).toInt & mask
      while (used(slot) && table(slot) != v) slot = (slot + 1) & mask
      table(slot) = v; used(slot) = true
      i += 1
    }
    var inter = 0
    i = 0
    while (i < nb) {
      val v = big.getLong(i)
      var slot = (mix64(v) & 0x7fffffffffffffffL).toInt & mask
      while (used(slot) && table(slot) != v) slot = (slot + 1) & mask
      if (used(slot)) inter += 1
      i += 1
    }
    inter.toDouble / (ns + nb - inter)
  }
}
