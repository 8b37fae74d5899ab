package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Dedup

/** Shared 60-bit portable hash: md5 of the UTF-8 bytes, first 15 hex chars
  * as a long — bit-identical to [[graft.ops.Dedup.portableHash]]'s Column
  * form (`conv(substring(md5(x), 1, 15), 16, 10)`), which is what DuckDB
  * replays as `('0x' || substr(md5(x), 1, 15))::BIGINT`. The first 15 hex
  * chars are the first 60 bits of the digest big-endian: bytes 0-6 in full
  * plus the high nibble of byte 7. */
private[functions] object PortableHash60 {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def hash(s: UTF8String): Long = {
    val d = md.get().digest(s.getBytes)
    ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) | ((d(2) & 0xffL) << 36) |
      ((d(3) & 0xffL) << 28) | ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
      ((d(6) & 0xffL) << 4) | ((d(7) & 0xf0L) >>> 4)
  }
}

/** Native Catalyst expression: TRUE winnowing selections (Schleimer et al.
  * §4) over a shingle array, in ONE O(n) pass — per element the portable
  * 60-bit hash folded to 30 bits and packed with its position
  * (`h30·2^20 + (2^20-1-pos)`, the rightmost-tie pack of
  * [[graft.ops.TextOps.winnowSelections]]), then each w-window's minimum via
  * a monotonic deque, adjacent-duplicate-collapsed. Docs with fewer than `w`
  * shingles fall back to their single global minimum.
  *
  * Adjacent dedup IS the full `array_distinct` here: the pack is bijective
  * (positions bounded by 2^20 shingles/doc, same documented bound as the
  * window twin), so a given packed key is selected only by the consecutive
  * windows covering its position — duplicates are always adjacent, and
  * first-occurrence order is preserved.
  *
  * Exists because the per-document HOF composition this replaces
  * (`transform(sequence(...), p -> array_min(slice(ks, ...)))`) is
  * `CodegenFallback` AND allocates a w-element slice per shingle position —
  * measured 65 s isolated at sf10 once the bench stopped column-pruning it
  * (vs ~1 s for the rest of the text tier after [[Shingles]]). Same story,
  * same fix: one generated-code-callable static pass, bit-identity to the
  * HOF twin property-pinned in Round10Spec.
  */
case class WinnowKeys(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"winnow window must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_keys requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "winnow_keys"

  override protected def nullSafeEval(input: Any): Any =
    WinnowKeys.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowKeys.compute($c, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowKeys =
    copy(child = newChild)
}

object WinnowKeys {
  /** Called from both interpreted eval and generated code. Null array
    * elements (only possible for a null document, whose shingle fallback is
    * `[null]`) hash to a null key, and a window whose keys are all null
    * selects null — mirroring `array_min`'s null handling in the HOF twin. */
  def compute(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    val keys = new Array[Long](n)
    val isNull = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) isNull(i) = true
      else {
        val h30 = PortableHash60.hash(arr.getUTF8String(i)) % 1073741824L
        keys(i) = h30 * 1048576L + (1048575L - i)
      }
      i += 1
    }
    if (n < w) {
      // Global-min fallback (the paper's construction assumes n >= w).
      var best = Long.MaxValue
      var any = false
      i = 0
      while (i < n) {
        if (!isNull(i) && keys(i) < best) { best = keys(i); any = true }
        i += 1
      }
      return new GenericArrayData(Array[Any](if (any) best else null))
    }
    // Monotonic deque of positions with increasing key; head = window min.
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    val out = new Array[Any](n - w + 1)
    var outLen = 0
    i = 0
    while (i < n) {
      if (!isNull(i)) {
        while (tail > head && keys(deque(tail - 1)) >= keys(i)) tail -= 1
        deque(tail) = i
        tail += 1
      }
      if (i >= w - 1) {
        while (tail > head && deque(head) <= i - w) head += 1
        val sel: Any = if (tail > head) keys(deque(head)) else null
        // Adjacent dedup = array_distinct (bijective pack, see Scaladoc).
        if (outLen == 0 || out(outLen - 1) != sel) { out(outLen) = sel; outLen += 1 }
      }
      i += 1
    }
    new GenericArrayData(if (outLen == out.length) out else java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], outLen).asInstanceOf[Array[Any]])
  }
}

/** Native Catalyst expression: the 0-mod-p sampled portable hashes of a
  * shingle array — `[h for h in portableHash(arr) if h % mod == 0]` in one
  * pass. The per-element HOF twin (`filter(transform(arr, portableHash),
  * h -> pmod(h, p) = 0)`) interprets a full md5 Column tree per shingle;
  * this is the [[Shingles]]/[[WinnowKeys]] treatment for the mod-p
  * winnowing variant ([[graft.ops.TextOps.winnowFingerprints]]). Null
  * elements hash to null and are dropped, exactly as the HOF `filter`
  * drops them (`null % p = null` is not true). */
case class HashSampleMod(child: Expression, mod: Int) extends UnaryExpression {
  require(mod >= 1, s"sample modulus must be >= 1, got $mod")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hash_sample_mod requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hash_sample_mod"

  override protected def nullSafeEval(input: Any): Any =
    HashSampleMod.compute(input.asInstanceOf[ArrayData], mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashSampleMod.compute($c, $mod);")

  override protected def withNewChildInternal(newChild: Expression): HashSampleMod =
    copy(child = newChild)
}

object HashSampleMod {
  def compute(arr: ArrayData, mod: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var outLen = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = PortableHash60.hash(arr.getUTF8String(i))
        if (h % mod == 0) { out(outLen) = h; outLen += 1 }
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, outLen))
  }
}

/** Native Catalyst expression: the MinHash signature of a shingle array —
  * for k in [0, numHashes) the minimum over non-null shingles of
  * `(h30·a_k + b_k) mod P`, where h30 is the portable 60-bit hash folded to
  * 30 bits and (a_k, b_k) is the affine family of [[graft.ops.Dedup.permA]]
  * / [[graft.ops.Dedup.permB]] over P = 2^31 − 1. One pass per document:
  * each shingle is hashed once and folded into all `numHashes` running
  * minima.
  *
  * Exists because the composed form (`explode` the shingles, hash each row
  * through the md5 → hex → substring → `conv` string chain, then a
  * `numHashes`-column `min` aggregate keyed by doc_id) turns bounded
  * per-document metadata into a row per shingle plus a hash aggregate and
  * a doc_id shuffle — the [[WinnowKeys]] story again, same fix.
  *
  * Bit-identical to that composition (pinned in Round10Spec): an array
  * with no non-null element (a null document shingles to `[null]`) yields
  * `numHashes` nulls, as `min` over null rows does; a null array yields
  * null. Rows map one to one: merging duplicate keys is the caller's
  * concern ([[graft.ops.Dedup.minhashSignatures]]).
  */
case class MinhashSignature(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1 && numHashes <= Dedup.NumHashes,
    s"minhash signature width must be in [1, ${Dedup.NumHashes}], got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_signature"

  override protected def nullSafeEval(input: Any): Any =
    MinhashSignature.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashSignature.compute($c, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

object MinhashSignature {
  private val A: Array[Long] = Array.tabulate(Dedup.NumHashes)(Dedup.permA)
  private val B: Array[Long] = Array.tabulate(Dedup.NumHashes)(Dedup.permB)

  /** Called from both interpreted eval and generated code. h30 < 2^30 and
    * a_k, b_k < 2^31, so `h30·a_k + b_k` < 2^62 never overflows. */
  def compute(arr: ArrayData, numHashes: Int): ArrayData = {
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var any = false
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val h30 = PortableHash60.hash(arr.getUTF8String(i)) % 1073741824L
        var k = 0
        while (k < numHashes) {
          val v = (h30 * A(k) + B(k)) % Dedup.P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](numHashes))
  }
}
