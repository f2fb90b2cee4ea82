package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic 64-bit string hashing used by the MinHash / SimHash
  * expressions. FNV-1a over chars followed by a murmur3-style finalizer —
  * fast, allocation-free, and stable across JVMs (no `String.hashCode`
  * reliance, no randomness: north_rule requires end-to-end determinism).
  */
object HashUtil {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** Hash chars s[from, from+len). */
  def hashChars(s: String, from: Int, len: Int, seed: Long): Long = {
    var h = FnvOffset ^ mix(seed)
    var i = from
    val end = from + len
    while (i < end) {
      h = (h ^ s.charAt(i)) * FnvPrime
      i += 1
    }
    mix(h)
  }
}

/** MinHash signature over character k-shingles.
  *
  * Blocking analogue of the reference's candidate generation: the reference
  * blocks mentions through a SemEHR/ORDO dictionary lookup
  * (`main_scripts/step0_mimic3_data_processing.py:112,195`); for web-entity
  * resolution we add MinHash-LSH over character shingles so near-identical
  * surfaces (typos) land in shared buckets (SURVEY.md §2.8).
  *
  * Signature element i = min over shingles x of h_i(x), with
  * h_i(x) = mix(base(x) ^ perHashSalt(i)); base = FNV-1a+mix of the shingle's
  * chars. Strings shorter than k get a single whole-string shingle so every
  * non-empty input has a full, well-defined signature. Deterministic in
  * (text, k, numHashes, seed) only.
  *
  * Banding for LSH is done with built-ins on top of this array
  * (posexplode of fixed slices — see graft.functions.lshBandKeys).
  */
object MinHash {
  /** Codegen entry point. Returns Array[Long] signature as ArrayData. */
  def signature(text: UTF8String, k: Int, numHashes: Int, seed: Long): ArrayData =
    new GenericArrayData(signatureArray(text.toString, k, numHashes, seed))

  def signatureArray(s: String, k: Int, numHashes: Int, seed: Long): Array[Long] = {
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = s.length
    val shingleLen = if (n < k) n else k
    val count = if (n == 0) 0 else n - shingleLen + 1
    // per-hash salts derived once from seed
    var i = 0
    while (i < count) {
      val base = HashUtil.hashChars(s, i, shingleLen, seed)
      var j = 0
      while (j < numHashes) {
        val h = HashUtil.mix(base ^ (0x9e3779b97f4a7c15L * (j + 1)))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }
}

case class MinHashSigExpr(child: Expression, k: Int, numHashes: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(v: Any): Any =
    MinHash.signature(v.asInstanceOf[UTF8String], k, numHashes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.MinHash.signature($c, $k, $numHashes, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over whitespace tokens (near-duplicate fingerprint).
  *
  * Majority vote per bit over the token hash set — the classic Charikar
  * construction. Used by the near-dup detection path over `documents`
  * (training-data pipeline ops; no direct reference analogue — the
  * reference's dedup is exact union-dedup, `main_scripts/
  * step9_processing_all_documents.py:241-252`).
  */
object SimHash {
  def simhash64(text: UTF8String, seed: Long): Long = compute(text.toString, seed)

  def compute(s: String, seed: Long): Long = {
    val counts = new Array[Int](64)
    var start = 0
    val n = s.length
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n') {
        if (i > start) {
          val h = HashUtil.hashChars(s, start, i - start, seed)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

case class SimHash64Expr(child: Expression, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(v: Any): Any =
    SimHash.simhash64(v.asInstanceOf[UTF8String], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.SimHash.simhash64($c, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
