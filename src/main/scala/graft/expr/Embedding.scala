package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic hash embedding of a token string (random-projection style).
  *
  * Spark-native analogue of the reference's contextual-embedding scorer: the
  * reference mean-pools BERT token vectors over a ±w token context window and
  * feeds them to a logistic regression
  * (`main_scripts/sent_bert_emb_viz_util.py:205-262,560-572,809-812`), served
  * from a separate BERT process. With zero egress we replace the model with a
  * deterministic per-token signed random projection: each token hashes to a
  * ±1 vector in `dim` dimensions; the text embedding is the L2-normalized sum.
  * Same token multiset => same vector; disjoint token sets => near-orthogonal,
  * which is exactly the property the pairwise cosine feature needs.
  *
  * This is also the "broadcast-embedding cosine" scale pattern: at 100 TB the
  * embedding is computed per-row inside codegen — no shuffle, no service call,
  * no driver-side state (vs the reference's ZeroMQ BertClient hop,
  * `main_scripts/sent_bert_emb_viz_util.py:495-513`).
  */
object HashEmbed {
  def embed(text: UTF8String, dim: Int, seed: Long): ArrayData =
    new GenericArrayData(embedArray(text.toString, dim, seed))

  def embedArray(s: String, dim: Int, seed: Long): Array[Float] = {
    val acc = new Array[Float](dim)
    var start = 0
    val n = s.length
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n') {
        if (i > start) {
          val h0 = HashUtil.hashChars(s, start, i - start, seed)
          // one mixed hash word per 64 dims; each bit is a sign
          var block = 0
          var d = 0
          while (d < dim) {
            val word = HashUtil.mix(h0 ^ (0xda942042e4dd58b5L * (block + 1)))
            val end = math.min(d + 64, dim)
            var bit = 0
            while (d < end) {
              acc(d) += (if (((word >>> bit) & 1L) == 1L) 1.0f else -1.0f)
              d += 1
              bit += 1
            }
            block += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var norm = 0.0
    var d = 0
    while (d < dim) { norm += acc(d).toDouble * acc(d); d += 1 }
    if (norm > 0) {
      val inv = (1.0 / math.sqrt(norm)).toFloat
      d = 0
      while (d < dim) { acc(d) *= inv; d += 1 }
    }
    acc
  }
}

case class HashEmbedExpr(child: Expression, dim: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hash_embed"

  override protected def nullSafeEval(v: Any): Any =
    HashEmbed.embed(v.asInstanceOf[UTF8String], dim, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.HashEmbed.embed($c, $dim, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Cosine similarity between two float vectors (ArrayType(FloatType)).
  *
  * Implemented as a custom Expression rather than the
  * `aggregate(zip_with(...))` built-in composition because higher-order
  * functions are not whole-stage-codegen'd; this tight loop is, via a static
  * call (SURVEY.md §2.8 "custom expression for speed"). Returns 0.0 when
  * either vector has zero norm; errors on length mismatch (schema bug, not
  * data noise).
  */
object CosineSim {
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(n == b.numElements(), s"cosine: length mismatch ${n} vs ${b.numElements()}")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }
}

case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.CosineSim.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused context cosine: embeds both strings with HashEmbed's projection and
  * returns the cosine directly — one static call per row, primitive float
  * arrays only (no ArrayData round-trip), fully inside whole-stage codegen.
  * Semantically identical to
  * cosine_sim(hash_embed(a, dim, seed), hash_embed(b, dim, seed)); the fusion
  * exists because the scoring stage evaluates this on every candidate pair
  * (the hot loop of the whole pipeline — SURVEY.md §4.3 "scoring").
  */
object ContextCosine {
  def cosine(a: UTF8String, b: UTF8String, dim: Int, seed: Long): Double = {
    val va = HashEmbed.embedArray(a.toString, dim, seed)
    val vb = HashEmbed.embedArray(b.toString, dim, seed)
    var dot = 0.0
    var i = 0
    while (i < dim) { dot += va(i).toDouble * vb(i); i += 1 }
    dot // both vectors are L2-normalized (or zero)
  }
}

case class ContextCosineExpr(left: Expression, right: Expression, dim: Int,
    seed: Long) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "context_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ContextCosine.cosine(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String],
      dim, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.expr.ContextCosine.cosine($a, $b, $dim, ${seed}L)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane sign bucket of a float vector as one codegen'd
  * expression: per plane p, dot(vec, ±1-pattern from xxhash64(seed, p, i)
  * parity) > 0 sets bit p, folding Spark's XxHash64Function over
  * (seed: long, plane: int, index: int) from Spark's default 42L seed —
  * bit-identical to the built-in aggregate/zip_with composition it
  * replaces. The one definition of the xxhash sign kernel: the column
  * expression (`Ann.signBucket`) and the driver-side bucket of a literal
  * query (`Ann.bucketOf`) both call `bucket`, and the bucketed dataflows
  * take it as their kernel column. Exists because the composition is
  * interpreted per element (nPlanes x dim hash+multiply evaluations per
  * row — measured 2.3s for 5000 docs at 12 planes x 256 dims, the dominant
  * term of the embedding near-dup bucketing pass).
  */
object SignBucket {
  /** The ±1 pattern depends only on (nPlanes, seed, dim), so it is hashed
    * once per key (plane-major, dim entries per plane), not per row. */
  private val signTables =
    new java.util.concurrent.ConcurrentHashMap[(Int, Long, Int), Array[Double]]()

  private def signs(nPlanes: Int, seed: Long, dim: Int): Array[Double] =
    signTables.computeIfAbsent((nPlanes, seed, dim), _ => {
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val t = new Array[Double](nPlanes * dim)
      val h0 = XxHash64Function.hash(seed, LongType, 42L)
      for (p <- 0 until nPlanes; i <- 0 until dim) {
        val h = XxHash64Function.hash(i, IntegerType,
          XxHash64Function.hash(p, IntegerType, h0))
        t(p * dim + i) = if (((h % 2) + 2) % 2 == 0) 1.0 else -1.0
      }
      t
    })

  def bucket(vec: ArrayData, nPlanes: Int, seed: Long): Int = {
    val n = vec.numElements()
    val t = signs(nPlanes, seed, n)
    var out = 0
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var i = 0
      val off = p * n
      while (i < n) {
        dot += vec.getFloat(i).toDouble * t(off + i)
        i += 1
      }
      if (dot > 0) out |= (1 << p)
      p += 1
    }
    out
  }
}

case class SignBucketExpr(child: Expression, nPlanes: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sign_bucket"

  override protected def nullSafeEval(v: Any): Any =
    SignBucket.bucket(v.asInstanceOf[ArrayData], nPlanes, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.SignBucket.bucket($c, $nPlanes, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Token-set Jaccard as a single codegen'd expression. Semantically equal to
  * the built-in composition in graft.functions.token_jaccard (distinct
  * lowercase whitespace tokens), but ~20x cheaper: higher-order functions
  * (filter/transform lambdas) are interpreted row-by-row in Spark, and the
  * composition allocates five intermediate arrays per row.
  */
object TokenJaccard {
  def jaccard(a: UTF8String, b: UTF8String): Double = {
    val sa = tokenSet(a.toString)
    val sb = tokenSet(b.toString)
    if (sa.isEmpty && sb.isEmpty) return 1.0
    var inter = 0
    val it = sa.iterator
    while (it.hasNext) { if (sb.contains(it.next())) inter += 1 }
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  private def tokenSet(s: String): java.util.HashSet[String] = {
    val set = new java.util.HashSet[String](8)
    var start = 0
    val n = s.length
    var i = 0
    while (i <= n) {
      val ws = i == n || Character.isWhitespace(s.charAt(i))
      if (ws) {
        if (i > start) set.add(s.substring(start, i).toLowerCase)
        start = i + 1
      }
      i += 1
    }
    set
  }
}

case class TokenJaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TokenJaccard.jaccard(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.TokenJaccard.jaccard($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
