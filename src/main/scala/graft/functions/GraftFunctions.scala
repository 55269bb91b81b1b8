package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, Literal, XXH64, XxHash64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Codegen'd integer dot product over two `array<bigint>` columns.
  *
  * The built-in spelling `aggregate(zip_with(a, b, (x,y) -> x*y), 0L,
  * (acc,v) -> acc+v)` materialises an intermediate array per row pair
  * and evaluates two lambda chains; this expression emits a single
  * fused loop into whole-stage codegen — the hot inner kernel of the
  * ANN / embedding-dedup operators, where it runs once per candidate
  * pair. Null inputs and null ELEMENTS both yield null (matching the
  * built-in spelling); arrays of unequal length use the common prefix
  * (the built-in pads with null and yields null — the one documented
  * divergence, asserted in FunctionsSpec).
  *
  * This is deliberately the (c)-tier extension point of the build
  * doctrine: compose built-ins where they express the semantics, drop
  * to a native `Expression` with `doGenCode` only where the built-in
  * form leaves real performance on the table.
  */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotLong =
    copy(left = newLeft, right = newRight)
}

/** Single-pass winnowing fingerprints over a string column: md5 each
  * k-char gram (value = first 60 bits, ≙ `conv(substr(md5(g),1,15),
  * 16,10)`), sliding min over `w` consecutive hashes, distinct mins.
  *
  * The built-in spelling (`transform(sequence…md5…)` +
  * `transform(sequence…array_min(slice(…)))`) materialises the hash
  * array AND a w-element slice per window, with a string hex-parse
  * per gram; this computes the identical values in one pass with a
  * reused digest and no intermediate allocation. Values match the
  * DuckDB oracle exactly (same md5-prefix semantics). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.StringType

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override protected def nullSafeEval(input: Any): Any =
    WinnowFingerprints.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WinnowFingerprints.compute($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {
  /** Called from generated code — stays inside whole-stage codegen.
    * Hashes each k-char gram directly as a byte range of the row's
    * UTF-8 bytes (char→byte offsets computed once per row), so the
    * loop allocates no per-gram substring/array — identical values to
    * the md5-of-substring spelling the DuckDB oracle replays. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String, k: Int, w: Int): ArrayData = {
    val n = s.numChars()
    if (n < k + w - 1) return ArrayData.toArrayData(Array.empty[Long])
    val (md, out16) = Sig.md5()
    val bytes = s.getBytes
    val nb = bytes.length
    // byte offset of each codepoint start; offs(n) = nb. Step with
    // UTF8String's OWN byte-length table so char indexing agrees with
    // numChars() even on malformed UTF-8 (a home-grown step table
    // would drift on stray continuation/0xF8+ bytes → negative gram
    // lengths or silent md5("") divergence)
    val offs = new Array[Int](n + 1)
    var ci = 0
    var bi = 0
    while (bi < nb && ci < n) {
      offs(ci) = bi
      ci += 1
      bi += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(bi))
    }
    while (ci <= n) { offs(ci) = nb; ci += 1 }
    val nGrams = n - k + 1
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      md.update(bytes, offs(i), offs(i + k) - offs(i))
      md.digest(out16, 0, 16) // finalises AND resets the digest
      // first 15 hex chars = top 60 bits of the first 8 digest bytes
      hashes(i) = Sig.be(out16, 0, 8) >>> 4
      i += 1
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j <= nGrams - w) {
      var m = hashes(j)
      var t = 1
      while (t < w) { if (hashes(j + t) < m) m = hashes(j + t); t += 1 }
      out.add(m)
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = it.next(); p += 1 }
    ArrayData.toArrayData(arr)
  }
}

/** Per-row character-distribution entropy stats over a string column:
  * `struct(n_chars, n_charset, wbits)` where `n_chars` is the
  * code-point count, `n_charset` the distinct-code-point count, and
  * `wbits = Σ_classes (bitlen(n_chars) − bitlen(n_c)) · n_c` — the
  * exact integer numerator of the ⌊log₂⌋-scale Shannon entropy that
  * [[graft.text.TextAnalysis]]'s `text_entropy` reports.
  *
  * The built-in spelling explodes every character into a row and
  * aggregates (doc_id, char) pairs — at corpus scale that shuffles
  * every character of every document twice. Entropy is a per-document
  * quantity with no cross-document state, so this computes it in one
  * sorted-run pass per row inside whole-stage codegen: a map-only
  * scan, zero shuffle, zero row amplification. Values are identical
  * to the explode spelling (asserted in FunctionsSpec) up to one
  * documented divergence: characters are compared as decoded code
  * points, so malformed UTF-8 byte sequences collapse to U+FFFD
  * where the byte-wise built-ins would keep them distinct. */
case class CharEntropyStats(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_charset", LongType, nullable = false),
    StructField("wbits", LongType, nullable = false)))
  override def prettyName: String = "char_entropy"

  override protected def nullSafeEval(input: Any): Any =
    CharEntropyStats.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharEntropyStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropyStats =
    copy(child = newChild)
}

object CharEntropyStats {
  /** Called from generated code. Sort-and-run-count instead of a hash
    * map: the code-point array is small (one int per char), sorting is
    * cache-friendly, and run counting is branch-predictable — no per-
    * class allocation. bitlen(x) = 64 − nlz(x), matching the
    * `length(conv(x, 10, 2))` spelling the DuckDB oracle uses. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val len = str.length
    var n = 0
    val cps = new Array[Int](len) // ≥ codepoint count; surrogate pairs shrink it
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(n) = cp
      n += 1
      i += Character.charCount(cp)
    }
    java.util.Arrays.sort(cps, 0, n)
    val ntBits = if (n == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n.toLong)
    var wbits = 0L
    var charset = 0L
    var j = 0
    while (j < n) {
      var e = j + 1
      while (e < n && cps(e) == cps(j)) e += 1
      val nc = e - j
      val bits = ntBits - (32 - Integer.numberOfLeadingZeros(nc))
      wbits += bits.toLong * nc
      charset += 1
      j = e
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, charset, wbits))
  }
}

/** Byte-level helpers shared by the per-row md5 kernels. */
private[functions] object Sig {
  /** Per-thread (digest, 16-byte output) pair: MD5 provider lookup is
    * expensive per row, and `digest(buf, off, len)` writes into the
    * reused buffer instead of allocating one per hash. */
  private val tl = new ThreadLocal[(java.security.MessageDigest, Array[Byte])] {
    override def initialValue(): (java.security.MessageDigest, Array[Byte]) =
      (java.security.MessageDigest.getInstance("MD5"), new Array[Byte](16))
  }

  def md5(): (java.security.MessageDigest, Array[Byte]) = {
    val p = tl.get()
    p._1.reset() // clear any state a prior row's failure left buffered
    p
  }

  /** Start offsets of the pieces of `b` split at every space byte, with
    * one trailing sentinel (`b.length + 1`), so piece i is
    * `[starts(i), starts(i + 1) - 1)` — Java's `split(" ", -1)`: empty
    * pieces kept, one more piece than spaces. A space is one byte in
    * UTF-8 and never part of a multi-byte sequence, so splitting bytes
    * equals splitting the decoded string on valid UTF-8. */
  def pieceStarts(b: Array[Byte]): Array[Int] = {
    var spaces = 0
    var i = 0
    while (i < b.length) { if (b(i) == ' ') spaces += 1; i += 1 }
    val starts = new Array[Int](spaces + 2)
    var p = 1
    i = 0
    while (i < b.length) { if (b(i) == ' ') { starts(p) = i + 1; p += 1 }; i += 1 }
    starts(p) = b.length + 1
    starts
  }

  /** Unsigned big-endian value of `len` bytes of `b` from `off`. */
  def be(b: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  private val HEX = "0123456789abcdef".getBytes("US-ASCII")

  /** Lowercase hex of the low `nHex` nibbles of `v` into `out` at `off`. */
  def hex(v: Long, nHex: Int, out: Array[Byte], off: Int): Unit = {
    var i = 0
    while (i < nHex) {
      out(off + i) = HEX(((v >>> (4 * (nHex - 1 - i))) & 0xf).toInt)
      i += 1
    }
  }
}

/** 48-bit SimHash of one document: `simhash48(text)` → bigint.
  *
  * Tokens are the distinct non-empty pieces of `split(text, ' ')`;
  * each token hashes to the first 6 bytes of md5(token) read as a
  * 48-bit unsigned value `h`; bit i of the result is set iff more
  * tokens have bit i of `h` set than clear. A text with no token (or
  * a null text) yields null. Identical, row for row, to the explode →
  * groupBy(doc_id) → 48 conditional-sum spelling the DuckDB oracle
  * replays (FunctionsSpec keeps that spelling as the reference) —
  * provided `doc_id` is a key: the groupBy merged rows sharing an id,
  * this kernel works per row.
  *
  * One map-only projection: no ×tokens row amplification, no shuffle.
  * Malformed UTF-8 bytes are hashed as they are, where the built-in
  * `split` re-encodes them to U+FFFD first — the one divergence, as
  * for [[CharEntropyStats]]. */
case class SimHash48(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.StringType

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash48"

  override protected def nullSafeEval(input: Any): Any = {
    val v = SimHash48.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    if (v < 0) null else v
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.SimHash48.compute($c);
         |${ev.isNull} = ${ev.value} < 0L;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SimHash48 =
    copy(child = newChild)
}

object SimHash48 {
  /** Called from generated code. Returns the signature, or -1 (never a
    * 48-bit value) when the text has no token. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val b = s.getBytes
    val starts = Sig.pieceStarts(b)
    val seen = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    val (md, out16) = Sig.md5()
    val votes = new Array[Int](48)
    var nTok = 0
    var p = 0
    while (p < starts.length - 1) {
      val off = starts(p)
      val len = starts(p + 1) - 1 - off
      if (len > 0 && seen.add(org.apache.spark.unsafe.types.UTF8String.fromBytes(b, off, len))) {
        md.update(b, off, len)
        md.digest(out16, 0, 16)
        val h = Sig.be(out16, 0, 6)
        var i = 0
        while (i < 48) { votes(i) += ((h >>> i) & 1L).toInt; i += 1 }
        nTok += 1
      }
      p += 1
    }
    if (nTok == 0) return -1L
    var sig = 0L
    var i = 0
    // set iff set-count > clear-count, i.e. 2·set > nTok
    while (i < 48) { if (2 * votes(i) > nTok) sig |= 1L << i; i += 1 }
    sig
  }
}

/** MinHash band keys of one document: `minhash_bands(text)` →
  * `struct(n_sh bigint, bkeys array<string>)`.
  *
  * Shingles are those of `graft.dedup.Dedup.shingles`: the pieces of
  * `split(text, ' ')` (empty pieces kept), at least 3 of them, and the
  * distinct `w[i] ⧺ ' ' ⧺ w[i+1] ⧺ ' ' ⧺ w[i+2]`. The 8 MinHash values
  * are h_{4j+k} = hex chars [8k, 8k+8) of md5(j ⧺ '|' ⧺ shingle),
  * minimised over the shingles; band b's key is md5hex(h_{2b} ⧺
  * h_{2b+1}), 4 bands. `n_sh` is the distinct shingle count (the set
  * size the Jaccard verify divides by). A text with fewer than 3
  * pieces (or a null text) yields null.
  *
  * Identical, row for row, to the explode-shingles → groupBy(doc_id)
  * → 8 md5-min aggregates spelling the DuckDB oracle replays — given
  * `doc_id` is a key (the groupBy merged rows sharing an id; this
  * kernel works per row). A shingle is the byte range from the start
  * of w[i] to the end of w[i+2], hashed in place; 32-bit hex minima
  * compare as unsigned integers. Same malformed-UTF-8 caveat as
  * [[SimHash48]]. */
case class MinHashBands(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{StringType, StructField, StructType}

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_sh", LongType, nullable = false),
    StructField("bkeys", ArrayType(StringType, containsNull = false), nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_bands"

  override protected def nullSafeEval(input: Any): Any =
    MinHashBands.compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashBands.compute($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {
  private val N_BANDS = 4
  private val PREFIX = Array("0|".getBytes("US-ASCII"), "1|".getBytes("US-ASCII"))

  /** Called from generated code; null when the text has < 3 pieces. */
  def compute(s: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val b = s.getBytes
    val starts = Sig.pieceStarts(b)
    val nPieces = starts.length - 1
    if (nPieces < 3) return null
    val seen = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
    val (md, out16) = Sig.md5()
    val mins = Array.fill(2 * N_BANDS)(0xffffffffL)
    var i = 0
    while (i + 2 < nPieces) {
      val off = starts(i)
      val len = starts(i + 3) - 1 - off
      if (seen.add(org.apache.spark.unsafe.types.UTF8String.fromBytes(b, off, len))) {
        var j = 0
        while (j < 2) {
          md.update(PREFIX(j))
          md.update(b, off, len)
          md.digest(out16, 0, 16)
          var k = 0
          while (k < 4) {
            val h = Sig.be(out16, 4 * k, 4)
            if (h < mins(4 * j + k)) mins(4 * j + k) = h
            k += 1
          }
          j += 1
        }
      }
      i += 1
    }
    val pair = new Array[Byte](16)
    val keyHex = new Array[Byte](32)
    val bkeys = new Array[Any](N_BANDS)
    var band = 0
    while (band < N_BANDS) {
      Sig.hex(mins(2 * band), 8, pair, 0)
      Sig.hex(mins(2 * band + 1), 8, pair, 8)
      md.update(pair)
      md.digest(out16, 0, 16)
      Sig.hex(Sig.be(out16, 0, 8), 16, keyHex, 0)
      Sig.hex(Sig.be(out16, 8, 8), 16, keyHex, 16)
      bkeys(band) = org.apache.spark.unsafe.types.UTF8String.fromBytes(keyHex.clone())
      band += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](seen.size.toLong, new org.apache.spark.sql.catalyst.util.GenericArrayData(bkeys)))
  }
}

/** Random-hyperplane sign-LSH band keys of one vector:
  * `sign_band_keys(e, nBands, bitsPerBand)` → `array<bigint>`.
  *
  * Hyperplane j < nBands·bitsPerBand has weight w(j, d) = +1 iff the
  * first hex char of md5("j_d") is < '8' (else −1) over dimensions
  * d < 64. Bit j is set iff Σ e[d]·w(j, d) ≥ 0 over the non-null
  * e[d], d < min(len, 64) — and is 0 when no such term exists. Band
  * b's key packs its bits low-first: Σ_k bit(b·bitsPerBand + k) << k.
  * A null or empty array yields null (no band rows).
  *
  * Identical, row for row, to the posexplode ×64 → hyperplane
  * broadcast join → groupBy(vec_id, j) → groupBy(vec_id, band)
  * spelling the DuckDB oracle replays — given `vec_id` is a key (the
  * groupBy merged rows sharing an id; this kernel works per row). The
  * weights are md5-derived once per JVM per plane count and held as
  * one 64-bit sign mask per plane. */
case class SignBandKeys(child: Expression, nBands: Int, bitsPerBand: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {

  require(nBands > 0 && bitsPerBand > 0 && bitsPerBand <= 62,
    s"sign_band_keys: need nBands > 0 and a band key that fits a long, got $nBands × $bitsPerBand")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "sign_band_keys"

  override protected def nullSafeEval(input: Any): Any =
    SignBandKeys.compute(input.asInstanceOf[ArrayData], nBands, bitsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.SignBandKeys.compute($c, $nBands, $bitsPerBand);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SignBandKeys =
    copy(child = newChild)
}

object SignBandKeys {
  private val DIMS = 64
  private val masks = new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()

  /** Bit d of `planeMasks(nHp)(j)` is set iff w(j, d) = +1. */
  private def planeMasks(nHp: Int): Array[Long] =
    masks.computeIfAbsent(nHp, _ => {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nHp) { j =>
        var m = 0L
        var d = 0
        while (d < DIMS) {
          // first hex char < '8' ⇔ the first digest byte's top bit is clear
          if (md.digest(s"${j}_$d".getBytes("US-ASCII"))(0) >= 0) m |= 1L << d
          d += 1
        }
        m
      }
    })

  /** Called from generated code; null for an empty array. */
  def compute(e: ArrayData, nBands: Int, bitsPerBand: Int): ArrayData = {
    if (e.numElements() == 0) return null
    val n = math.min(e.numElements(), DIMS)
    val planes = planeMasks(nBands * bitsPerBand)
    // a null element contributes no term: 0 on either sign
    val v = new Array[Long](n)
    var anyTerm = false
    var d = 0
    while (d < n) {
      if (!e.isNullAt(d)) { v(d) = e.getLong(d); anyTerm = true }
      d += 1
    }
    val keys = new Array[Long](nBands)
    var j = 0
    while (anyTerm && j < planes.length) {
      val m = planes(j)
      var acc = 0L
      d = 0
      while (d < n) {
        if (((m >>> d) & 1L) != 0L) acc += v(d) else acc -= v(d)
        d += 1
      }
      if (acc >= 0) keys(j / bitsPerBand) |= 1L << (j % bitsPerBand)
      j += 1
    }
    ArrayData.toArrayData(keys)
  }
}

/** `xxhash64(lit(tag), c)` for a bigint `c`, with the tag pre-hashed:
  * `tag_hash(c, tag)` → bigint.
  *
  * Spark's `xxhash64` folds its children left to right from seed 42,
  * so the two-child spelling re-hashes the tag's bytes on every row
  * before hashing `c` with that result as the seed. Here the tag's
  * hash is computed once per JVM and the row runs one
  * `XXH64.hashLong(c, seed)` — the same value bit for bit. A null `c`
  * is skipped, as `xxhash64` skips null children, leaving the seed.
  * Only a bigint `c` is accepted (no implicit cast): an int hashes
  * through `hashInt` and would give different values. */
case class TagHash(child: Expression, tag: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "tag_hash"

  private def seed: Long = TagHash.seed(tag)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = child.eval(input)
    if (c == null) seed else XXH64.hashLong(c.asInstanceOf[Long], seed)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |final long ${ev.value} = ${c.isNull} ? ${seed}L
      |  : org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(${c.value}, ${seed}L);
      """.stripMargin, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TagHash =
    copy(child = newChild)
}

object TagHash {
  private val seeds = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** `xxhash64(tag)`: Spark's own expression evaluated once per tag. */
  def seed(tag: String): Long =
    seeds.computeIfAbsent(tag, t =>
      new XxHash64(Seq(Literal(t))).eval().asInstanceOf[Long])
}

/** One TPC-H order's fold over its lineitems: `tpch_order_fold(okey,
  * p)` → `struct(tp bigint, nf int)`, for the `p` parts of the scale.
  *
  * Order `okey` has lines ln = 1 .. okey mod 7 + 1, each with row id
  * `okey·8 + ln` and the draws `graft.tpch.TpchGen.lineitem` makes
  * from it: quantity, partkey (and so its retail price in cents),
  * discount, tax and shipdate. `tp` is Σ qty·rpc·(100−d)·(100+t), the
  * order's total price in exact integer 10⁻⁶ units, and `nf` counts
  * the lines shipped before 1995-06-17 (linestatus 'F'). The draws are
  * `pmod(xxhash64(tag, rowId), m)` through [[TagHash]] seeds, so the
  * values are those of the lambda spelling `aggregate(sequence(1, okey
  * mod 7 + 1), …)` this replaces (TpchGenSpec keeps it as the
  * reference) — in one plain loop inside whole-stage codegen, where
  * Spark evaluates the lambda interpreted. A null `okey` yields null. */
case class OrderFold(child: Expression, p: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  require(p > 0, s"tpch_order_fold: need p > 0 parts, got $p")

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = StructType(Seq(
    StructField("tp", LongType, nullable = false),
    StructField("nf", IntegerType, nullable = false)))
  override def prettyName: String = "tpch_order_fold"

  override protected def nullSafeEval(okey: Any): Any = OrderFold.compute(okey.asInstanceOf[Long], p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.OrderFold.compute($c, ${p}L)")

  override protected def withNewChildInternal(newChild: Expression): OrderFold =
    copy(child = newChild)
}

object OrderFold {
  private val Seq(od, lq, lp, ld, lt, lsd) = Seq("od", "lq", "lp", "ld", "lt", "lsd").map(TagHash.seed)
  private val StartDay = java.time.LocalDate.parse("1992-01-01").toEpochDay
  private val ShipCutoffDay = java.time.LocalDate.parse("1995-06-17").toEpochDay

  private def u(seed: Long, id: Long, m: Long): Long = Math.floorMod(XXH64.hashLong(id, seed), m)

  /** Called from generated code. */
  def compute(okey: Long, p: Long): org.apache.spark.sql.catalyst.InternalRow = {
    val orderDay = StartDay + u(od, okey, 2406)
    val n = Math.floorMod(okey, 7L) + 1
    var tp = 0L
    var nf = 0
    var ln = 1L
    while (ln <= n) {
      val rowId = okey * 8 + ln
      val pk = u(lp, rowId, p) + 1
      val rpc = 90000 + Math.floorMod(pk / 10, 20001L) + 100 * Math.floorMod(pk, 1000L)
      tp += (u(lq, rowId, 50) + 1) * rpc * (100 - u(ld, rowId, 11)) * (100 + u(lt, rowId, 9))
      if (orderDay + u(lsd, rowId, 121) + 1 < ShipCutoffDay) nf += 1
      ln += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](tp, nf))
  }
}

/** Bounded TOP-K as a TYPED AGGREGATE — the (b)-tier extension point:
  * a heap-based `TypedImperativeAggregate` whose partial state is at
  * most k (score, payload) pairs per group per partition. The window
  * spelling (`row_number() OVER (... ORDER BY score) <= k`) must
  * shuffle and SORT every row of every group; this aggregate's
  * map-side combine ships ≤ k·partitions rows per group across the
  * wire and never sorts the data — the standard distributed top-k
  * plan, and the reason result pages don't cost a terasort at 100 TB.
  *
  * Semantics: keep the k largest by (score DESC, payload ASC) —
  * ties keep the SMALLER payload, so results are total-order
  * deterministic. Nulls in either argument are skipped. `eval` emits
  * the kept pairs best-first as `array<struct<score,payload>>`.
  * State serializes as 8-byte pairs (heap order — rebuild is
  * order-insensitive). k is a literal bounded to [1, 1024]: the
  * buffer bound IS the contract (a huge k belongs to a window, not a
  * heap).
  */
case class TopKLong(
    score: Expression, payload: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[java.util.PriorityQueue[Array[Long]]]
  with ExpectsInputTypes {

  require(k >= 1 && k <= 1024, s"top_k_long: k must be in [1, 1024], got $k")

  // worst-first heap order: head = element to evict — the SMALLEST
  // score, ties broken toward the LARGEST payload (which we least
  // want to keep under the payload-ASC output order)
  private val cmp: java.util.Comparator[Array[Long]] =
    new java.util.Comparator[Array[Long]] with Serializable {
      override def compare(a: Array[Long], b: Array[Long]): Int = {
        val c = java.lang.Long.compare(a(0), b(0))
        if (c != 0) c else java.lang.Long.compare(b(1), a(1))
      }
    }

  override def children: Seq[Expression] = Seq(score, payload)
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    new org.apache.spark.sql.types.StructType()
      .add("score", LongType, nullable = false)
      .add("payload", LongType, nullable = false),
    containsNull = false)

  override def createAggregationBuffer(): java.util.PriorityQueue[Array[Long]] =
    new java.util.PriorityQueue[Array[Long]](k + 1, cmp)

  private def insert(buf: java.util.PriorityQueue[Array[Long]], s: Long, p: Long): Unit = {
    if (buf.size < k) { buf.add(Array(s, p)); () }
    else {
      val e = Array(s, p)
      if (cmp.compare(e, buf.peek()) > 0) { buf.poll(); buf.add(e); () }
    }
  }

  override def update(
      buf: java.util.PriorityQueue[Array[Long]],
      input: org.apache.spark.sql.catalyst.InternalRow): java.util.PriorityQueue[Array[Long]] = {
    val s = score.eval(input)
    val p = payload.eval(input)
    if (s != null && p != null) insert(buf, s.asInstanceOf[Long], p.asInstanceOf[Long])
    buf
  }

  override def merge(
      b1: java.util.PriorityQueue[Array[Long]],
      b2: java.util.PriorityQueue[Array[Long]]): java.util.PriorityQueue[Array[Long]] = {
    val it = b2.iterator()
    while (it.hasNext) { val e = it.next(); insert(b1, e(0), e(1)) }
    b1
  }

  override def eval(buf: java.util.PriorityQueue[Array[Long]]): Any = {
    val arr = buf.toArray(new Array[Array[Long]](buf.size))
    // best-first output: score DESC, payload ASC
    java.util.Arrays.sort(arr, cmp.reversed())
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      arr.map(e => new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](e(0), e(1))): Any))
  }

  override def serialize(buf: java.util.PriorityQueue[Array[Long]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val e = it.next(); bb.putLong(e(0)); bb.putLong(e(1)) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[Array[Long]] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { insert(buf, bb.getLong, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), payload = newChildren(1))
  override def prettyName: String = "top_k_long"
}

/** Registration surfaces for graft's native functions. */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private val registry: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("dot_long", new ExpressionInfo(classOf[DotLong].getName, "dot_long"), { args =>
      require(args.length == 2, s"dot_long expects 2 arguments, got ${args.length}")
      DotLong(args.head, args(1))
    }),
    ("winnow_fps", new ExpressionInfo(classOf[WinnowFingerprints].getName, "winnow_fps"), { args =>
      require(args.length == 3, s"winnow_fps expects (text, k, w), got ${args.length} args")
      WinnowFingerprints(args.head, intLit(args(1), "k"), intLit(args(2), "w"))
    }),
    ("char_entropy", new ExpressionInfo(classOf[CharEntropyStats].getName, "char_entropy"), { args =>
      require(args.length == 1, s"char_entropy expects 1 argument, got ${args.length}")
      CharEntropyStats(args.head)
    }),
    ("simhash48", new ExpressionInfo(classOf[SimHash48].getName, "simhash48"), { args =>
      require(args.length == 1, s"simhash48 expects 1 argument, got ${args.length}")
      SimHash48(args.head)
    }),
    ("minhash_bands", new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"), { args =>
      require(args.length == 1, s"minhash_bands expects 1 argument, got ${args.length}")
      MinHashBands(args.head)
    }),
    ("sign_band_keys", new ExpressionInfo(classOf[SignBandKeys].getName, "sign_band_keys"), { args =>
      require(args.length == 3, s"sign_band_keys expects (e, nBands, bitsPerBand), got ${args.length} args")
      SignBandKeys(args.head, intLit(args(1), "nBands"), intLit(args(2), "bitsPerBand"))
    }),
    ("top_k_long", new ExpressionInfo(classOf[TopKLong].getName, "top_k_long"), { args =>
      require(args.length == 3, s"top_k_long expects (score, payload, k), got ${args.length} args")
      TopKLong(args.head, args(1), intLit(args(2), "k"))
    }))

  /** Idempotent in-session registration; afterwards
    * `expr("dot_long(a, b)")` / SQL `dot_long(a, b)` resolve. */
  def register(spark: SparkSession): Unit =
    registry.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info, builder)
    }

  /** For `spark.sql.extensions=graft.functions.GraftExtensions`. */
  private[functions] def inject(ext: SparkSessionExtensions): Unit = {
    registry.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}

/** Session-extensions entry point (config-time injection, the way a
  * deployment ships these functions to every session on a cluster). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftFunctions.inject(ext)
}
