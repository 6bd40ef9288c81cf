package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native signature expressions for the near-dup dedup family.
  *
  * The composed-builtin versions (64 × `transform`/`aggregate` higher-order
  * passes per row) are interpreted per element; at 10^12 documents that
  * dominates the plan. These expressions make one pass over the token array
  * per row inside whole-stage codegen (static call), computing all hash
  * slots simultaneously. Signature hash choice is internal — candidate
  * pairs are always re-verified with exact Jaccard, so output semantics are
  * unchanged (precision 1.0, recall set by the band shape).
  *
  * Two kernels are bit-exact replacements of builtin compositions, so state
  * written by either form stays valid under the other:
  *  - [[bandKeysCol]]: every LSH band key of a signature, each equal to
  *    `xxhash64(concat_ws("_", b, slice(sig, b*rows+1, rows)))` — XXH64
  *    (seed 42) over the UTF-8 of `"b_v1_v2"`, null slots skipped as
  *    `concat_ws` skips them (a null signature keys every band on `"b"`).
  *  - [[setJaccardCol]]: `round(size(array_intersect(a, b)) /
  *    size(array_union(a, b)), 6)` in one pass over both arrays with one
  *    hash table and no intermediate arrays — duplicates, null elements,
  *    empty and null arrays included (the session's `size(null)` and
  *    division-by-zero behaviour are captured like the builtins do).
  */
object Signatures {

  val NumHashes = 64
  private val P31 = 2147483647L // 2^31 - 1

  // per-slot universal-hash coefficients from the deterministic stream
  private val As: Array[Long] =
    Array.tabulate(NumHashes)(i => (graft.sources.Synth.mix(i.toLong, 101L) & P31) | 1L)
  private val Bs: Array[Long] =
    Array.tabulate(NumHashes)(i => graft.sources.Synth.mix(i.toLong, 103L) & P31)

  /** FNV-1a 64-bit over UTF-8 bytes — cheap, stable, allocation-free. */
  def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** One-pass MinHash signature: array<long> of NumHashes minima. */
  def minhash(arr: ArrayData): ArrayData = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h31 = fnv64(arr.getUTF8String(i)) & P31
      var j = 0
      while (j < NumHashes) {
        val v = (As(j) * h31 + Bs(j)) % P31
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** 63-bit SimHash over md5-derived feature hashes, one pass.
    *
    * The feature hash is the first 8 bytes of md5(feature), big-endian —
    * a function DuckDB evaluates identically (`('0x' || substr(md5(s),1,16))
    * ::UBIGINT`), so the whole signature is independently recomputable by
    * the SQL oracle; bits 0..62 keep the signature inside a signed int64 on
    * both engines. */
  def simhashMd5(arr: ArrayData): Long = {
    val md = md5Digest.get()
    val counts = new Array[Int](63)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      var j = 0
      while (j < 63) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 63) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Distinct k-word shingles in one pass (first-occurrence order) —
    * replaces the interpreted transform/sequence/slice/concat_ws pipeline
    * (5 lambda evaluations per shingle per row). Split semantics mirror
    * `split(text, " ")` with limit -1 (empty tokens kept). */
  def shingles(s: UTF8String, k: Int): ArrayData = {
    val all = buildWindows(s, k)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < all.length) { seen.add(all(i)); i += 1 }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = UTF8String.fromString(it.next()); n += 1 }
    new GenericArrayData(out)
  }

  /** Every k-word rolling window, in order, duplicates kept. Split
    * semantics mirror `split(text, " ")` with limit -1 (empty tokens
    * kept) — the single definition both shingle variants share. */
  private def buildWindows(s: UTF8String, k: Int): Array[String] = {
    val words = s.toString.split(" ", -1)
    if (words.length < k) return Array.empty[String]
    val out = new Array[String](words.length - k + 1)
    var i = 0
    val sb = new java.lang.StringBuilder()
    while (i <= words.length - k) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  /** ALL k-word shingles, duplicates kept in order — the counting variant
    * (LM statistics need every occurrence; [[shingles]] dedups for set
    * semantics). */
  def shinglesAll(s: UTF8String, k: Int): ArrayData = {
    val all = buildWindows(s, k)
    val out = new Array[Any](all.length)
    var i = 0
    while (i < all.length) { out(i) = UTF8String.fromString(all(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** `|set(a) ∩ set(b)| / |set(a) ∪ set(b)|` rounded HALF_UP to 6 places
    * (Spark's `round` on a double), or NaN when both sets are empty. A null
    * element counts as one more value, as in `array_intersect` /
    * `array_union`. One open-addressing table: a's distinct elements go in
    * with state 1; each b element then either joins the union (absent →
    * state 2) or the intersection (state 1 → 3). */
  def setJaccard(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var cap = 16
    while (cap < 2 * (na + nb)) cap <<= 1
    val mask = cap - 1
    val keys = new Array[UTF8String](cap)
    val state = new Array[Byte](cap)
    var union = 0
    var inter = 0
    var nullA = false
    var nullB = false
    var i = 0
    while (i < na) {
      if (a.isNullAt(i)) nullA = true
      else {
        val s = a.getUTF8String(i)
        var p = slot(s, mask)
        while (keys(p) != null && !keys(p).equals(s)) p = (p + 1) & mask
        if (keys(p) == null) { keys(p) = s; state(p) = 1; union += 1 }
      }
      i += 1
    }
    i = 0
    while (i < nb) {
      if (b.isNullAt(i)) nullB = true
      else {
        val s = b.getUTF8String(i)
        var p = slot(s, mask)
        while (keys(p) != null && !keys(p).equals(s)) p = (p + 1) & mask
        if (keys(p) == null) { keys(p) = s; state(p) = 2; union += 1 }
        else if (state(p) == 1) { state(p) = 3; inter += 1 }
      }
      i += 1
    }
    if (nullA || nullB) union += 1
    if (nullA && nullB) inter += 1
    if (union == 0) Double.NaN
    else java.math.BigDecimal.valueOf(inter.toDouble / union.toDouble)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  private def slot(s: UTF8String, mask: Int): Int = {
    val h = s.hashCode()
    (h ^ (h >>> 16)) & mask
  }

  /** Every LSH band key of a MinHash signature: key b is XXH64 (seed 42)
    * of the UTF-8 string `"b_v1_.._vrows"` over signature slots
    * `b*rows until (b+1)*rows` — bit-identical to
    * `xxhash64(concat_ws("_", b, slice(sig, b*rows+1, rows)))`. Null or
    * missing slots are skipped as `concat_ws` skips them, so a null
    * signature (null input) keys band b on `"b"` alone. */
  def bandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val buf = new Array[Byte](11 + 21 * rows) // int + rows × ("_" + long)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var len = writeDecimal(buf, 0, b)
      var r = 0
      while (r < rows) {
        val i = b * rows + r
        if (i < n && !sig.isNullAt(i)) {
          buf(len) = '_'
          len = writeDecimal(buf, len + 1, sig.getLong(i))
        }
        r += 1
      }
      out(b) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ASCII decimal of `v` (what a long→string cast prints) at `pos`;
    * returns the end offset. Digits are taken from the negated value, so
    * Long.MinValue needs no special case. */
  private def writeDecimal(buf: Array[Byte], pos: Int, v: Long): Int = {
    var p = pos
    var neg = v
    if (v < 0) { buf(p) = '-'; p += 1 } else neg = -v
    var digits = 1
    var t = neg / 10
    while (t != 0) { digits += 1; t /= 10 }
    var q = p + digits - 1
    while (q >= p) { buf(q) = ('0' - neg % 10).toByte; neg /= 10; q -= 1 }
    p + digits
  }

  def minhashSig(shingles: Column): Column =
    ExpressionUtils.column(MinHashSigExpr(ExpressionUtils.expression(shingles)))

  /** All `bands` LSH keys of a signature column as `array<bigint>` (see
    * [[bandKeys]]); never null. */
  def bandKeysCol(sig: Column, bands: Int, rows: Int): Column =
    ExpressionUtils.column(BandKeysExpr(ExpressionUtils.expression(sig), bands, rows))

  /** Rounded set Jaccard of two `array<string>` columns — the value of
    * `round(size(array_intersect(a, b)) / size(array_union(a, b)), 6)`. */
  def setJaccardCol(a: Column, b: Column): Column =
    ExpressionUtils.column(
      SetJaccardExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def simhashMd5Sig(features: Column): Column =
    ExpressionUtils.column(SimHashMd5Expr(ExpressionUtils.expression(features)))

  def shinglesCol(text: Column, k: Int): Column =
    ExpressionUtils.column(ShinglesExpr(ExpressionUtils.expression(text), k))

  def shinglesAllCol(text: Column, k: Int): Column =
    ExpressionUtils.column(ShinglesAllExpr(ExpressionUtils.expression(text), k))

  /** Signed feature-hash ("hashing trick") embedding of a token array into
    * `dim` integer counts, one md5 per token, one pass. The bucket is the
    * first 4 md5 bytes big-endian mod `dim` and the sign is the parity of
    * the 9th hex digit (high nibble of byte 4) — both recomputable by the
    * SQL oracle as `('0x'||substr(md5(w),1,8))::UINTEGER % dim` and
    * `('0x'||substr(md5(w),9,1))::UINTEGER % 2`, so the embedding is
    * engine-exact integer data, not float soup. */
  def hashEmbed(arr: ArrayData, dim: Int): ArrayData = {
    val md = md5Digest.get()
    val counts = new Array[Long](dim)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      var h = 0L
      var b = 0
      while (b < 4) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
      val idx = (h % dim).toInt
      val sgn = if (((d(4) >> 4) & 1) == 0) 1L else -1L
      counts(idx) += sgn
      i += 1
    }
    new GenericArrayData(counts)
  }

  /** Sparse L2-normalized view of an integer count vector: one
    * `(dim, v)` struct per NONZERO count, v = round(count / norm, 6) with
    * norm = sqrt of the exact integer sum of squares. Selecting on the
    * integer count (not the rounded double) matters: a nonzero count whose
    * normalized value rounds to 0.000000 must still produce a row, exactly
    * like the oracle's `HAVING sum(sgn) <> 0`. Zero vector → empty array. */
  def l2NormSparse(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var ss = 0L
    var nz = 0
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      ss += v * v
      if (v != 0L) nz += 1
      i += 1
    }
    if (ss == 0L) return new GenericArrayData(Array.empty[Any])
    val nrm = math.sqrt(ss.toDouble)
    val out = new Array[Any](nz)
    var k = 0
    i = 0
    while (i < n) {
      val v = arr.getLong(i)
      if (v != 0L) {
        val nv = BigDecimal(v.toDouble / nrm)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](i, nv))
        k += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Cosine of two integer count vectors: exact long dot / (sqrt(ssa) *
    * sqrt(ssb)) — every intermediate is either an exact integer or a single
    * correctly-rounded IEEE op, so the value is reproducible bit-for-bit by
    * any engine that evaluates the same formula. 0.0 when either norm is 0
    * (the [[CosineSim]] convention). */
  def intCosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L
    var ssa = 0L
    var ssb = 0L
    var i = 0
    while (i < n) {
      val x = a.getLong(i)
      val y = b.getLong(i)
      dot += x * y; ssa += x * x; ssb += y * y
      i += 1
    }
    if (ssa == 0L || ssb == 0L) 0.0
    else dot.toDouble / (math.sqrt(ssa.toDouble) * math.sqrt(ssb.toDouble))
  }

  def hashEmbedCol(tokens: Column, dim: Int): Column =
    ExpressionUtils.column(HashEmbedExpr(ExpressionUtils.expression(tokens), dim))

  def l2NormSparseCol(counts: Column): Column =
    ExpressionUtils.column(L2NormSparseExpr(ExpressionUtils.expression(counts)))

  def intCosineCol(a: Column, b: Column): Column =
    ExpressionUtils.column(
      IntCosineExpr(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}

case class MinHashSigExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(v: Any): Any =
    Signatures.minhash(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.minhash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class ShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingles"
  override protected def nullSafeEval(v: Any): Any =
    Signatures.shingles(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.shingles($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class ShinglesAllExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingles_all"
  override protected def nullSafeEval(v: Any): Any =
    Signatures.shinglesAll(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.shinglesAll($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHashMd5Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_md5"
  override protected def nullSafeEval(v: Any): Any =
    Signatures.simhashMd5(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.simhashMd5($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class HashEmbedExpr(child: Expression, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hash_embed"
  override protected def nullSafeEval(v: Any): Any =
    Signatures.hashEmbed(v.asInstanceOf[ArrayData], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.hashEmbed($c, $dim)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class L2NormSparseExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("dim", IntegerType, nullable = false),
      StructField("v", DoubleType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "l2_norm_sparse"
  override protected def nullSafeEval(v: Any): Any =
    Signatures.l2NormSparse(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Signatures.l2NormSparse($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class IntCosineExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "int_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    Signatures.intCosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Signatures.intCosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class BandKeysExpr(child: Expression, bands: Int, rows: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "band_keys"
  override def eval(input: InternalRow): Any =
    Signatures.bandKeys(child.eval(input).asInstanceOf[ArrayData], bands, rows)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = graft.functions.Signatures.bandKeys(
        ${c.isNull} ? null : ${c.value}, $bands, $rows);""", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `round(size(array_intersect(l, r)) / size(array_union(l, r)), 6)` as
  * one kernel. The two session behaviours that shape the builtin's edge
  * values are captured at construction, like `Size` and `Divide` capture
  * them: under `legacySizeOfNull` a null array makes both sizes -1 (value
  * 1.0), otherwise null; two empty arrays divide by zero — null, or the
  * ANSI error when `failOnError`. */
case class SetJaccardExpr(left: Expression, right: Expression,
                          legacySizeOfNull: Boolean = SQLConf.get.legacySizeOfNull,
                          failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "set_jaccard"
  override def eval(input: InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) { if (legacySizeOfNull) 1.0 else null }
    else {
      val j = Signatures.setJaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
      if (!j.isNaN) j
      else if (failOnError) throw ExpressionUtils.divideByZeroError()
      else null
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val onNullInput =
      if (legacySizeOfNull) s"${ev.value} = 1.0;" else s"${ev.isNull} = true;"
    val onEmpty =
      if (failOnError) "throw org.apache.spark.sql.graftbridge.Bridge.divideByZeroError();"
      else s"${ev.isNull} = true;"
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      boolean ${ev.isNull} = false;
      double ${ev.value} = -1.0;
      if (${l.isNull} || ${r.isNull}) {
        $onNullInput
      } else {
        ${ev.value} = graft.functions.Signatures.setJaccard(${l.value}, ${r.value});
        if (Double.isNaN(${ev.value})) {
          $onEmpty
        }
      }""")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
