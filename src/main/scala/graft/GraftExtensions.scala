package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.expr._

/** SparkSessionExtensions entry point: registers graft's custom expressions
  * for SQL use, so `spark.sql("SELECT jaro_winkler(a, b) ...")` works on any
  * session built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * No custom optimizer Rule or SparkStrategy is registered — every plan shape
  * this engine needs is standard Catalyst (SURVEY.md §4.2.3); the extension
  * surface is functions only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be a long literal, got $other")
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  private def arity(name: String, args: Seq[Expression], min: Int, max: Int): Unit =
    if (args.length < min || args.length > max)
      throw new IllegalArgumentException(
        s"$name expects $min..$max arguments, got ${args.length}")

  /** Single source of truth for name -> builder; used by BOTH the
    * injectFunction path and the imperative register() path so arg parsing
    * never diverges. Every builder rejects excess arguments (silently
    * ignoring a user-supplied seed would produce wrong results). */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "jaro_winkler" -> { args: Seq[Expression] =>
      arity("jaro_winkler", args, 2, 2)
      JaroWinklerExpr(args(0), args(1))
    },
    "minhash_sig" -> { args: Seq[Expression] =>
      arity("minhash_sig", args, 1, 4)
      MinHashSigExpr(args.head,
        if (args.length > 1) intArg(args(1), "k") else 3,
        if (args.length > 2) intArg(args(2), "numHashes") else 64,
        if (args.length > 3) longArg(args(3), "seed") else 42L)
    },
    "simhash64" -> { args: Seq[Expression] =>
      arity("simhash64", args, 1, 2)
      SimHash64Expr(args.head,
        if (args.length > 1) longArg(args(1), "seed") else 42L)
    },
    "hash_embed" -> { args: Seq[Expression] =>
      arity("hash_embed", args, 1, 3)
      HashEmbedExpr(args.head,
        if (args.length > 1) intArg(args(1), "dim") else 256,
        if (args.length > 2) longArg(args(2), "seed") else 42L)
    },
    "cosine_sim" -> { args: Seq[Expression] =>
      arity("cosine_sim", args, 2, 2)
      CosineSimExpr(args(0), args(1))
    })

  private val usages = Map(
    "jaro_winkler" -> "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1].",
    "minhash_sig" -> "minhash_sig(text[, k, numHashes, seed]) - MinHash signature.",
    "simhash64" -> "simhash64(text[, seed]) - 64-bit SimHash over tokens.",
    "hash_embed" -> "hash_embed(text[, dim, seed]) - deterministic hash embedding.",
    "cosine_sim" -> "cosine_sim(a, b) - cosine similarity of float arrays.")

  def apply(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        info(name, usages(name)), builder))
    }
}

/** Imperative registration for sessions that already exist (tests, REPL).
  * Delegates to the SAME builders as the injectFunction path, so optional
  * k/numHashes/seed literals are parsed (not silently ignored) and excess
  * arguments fail loudly instead of producing wrong results. */
object GraftExtensions {
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val ext = new GraftExtensions
    ext.builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
