package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.expr._

/** Column-level API over the custom Catalyst expressions plus composed
  * built-in helpers (SURVEY.md §2.8, §2.9). Design rule: built-in expression
  * composition > custom Expression > Scala UDF; there are no Scala UDFs in
  * this package.
  */
package object functions {

  private def col2e(c: Column) = ColumnBridge.expression(c)
  private def e2col(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    ColumnBridge.column(e)

  /** Jaro-Winkler similarity in [0,1]. Custom codegen'd Expression. */
  def jaro_winkler(a: Column, b: Column): Column =
    e2col(JaroWinklerExpr(col2e(a.cast("string")), col2e(b.cast("string"))))

  /** MinHash signature (Array[Long]) over character k-shingles. */
  def minhash_sig(text: Column, k: Int = 3, numHashes: Int = 64,
      seed: Long = 42L): Column =
    e2col(MinHashSigExpr(col2e(text.cast("string")), k, numHashes, seed))

  /** 64-bit SimHash over whitespace tokens. */
  def simhash64(text: Column, seed: Long = 42L): Column =
    e2col(SimHash64Expr(col2e(text.cast("string")), seed))

  /** Deterministic signed-random-projection embedding, L2-normalized. */
  def hash_embed(text: Column, dim: Int = 256, seed: Long = 42L): Column =
    e2col(HashEmbedExpr(col2e(text.cast("string")), dim, seed))

  /** Cosine similarity between two Array[Float] columns. */
  def cosine_sim(a: Column, b: Column): Column =
    e2col(CosineSimExpr(
      col2e(a.cast(ArrayType(FloatType))), col2e(b.cast(ArrayType(FloatType)))))

  /** Levenshtein ratio in [0,1]: 1 - dist/max(len). Built-ins only. */
  def lev_ratio(a: Column, b: Column): Column =
    when(length(a) === 0 && length(b) === 0, lit(1.0)).otherwise(
      lit(1.0) - levenshtein(a, b).cast("double") /
        greatest(length(a), length(b)).cast("double"))

  /** Lowercased alphanumeric normalization (reference's token normalization,
    * `main_scripts/sent_bert_emb_viz_util.py:224`). */
  def norm_alnum(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9]+", "")

  /** Distinct lowercase whitespace tokens. */
  def token_set(c: Column): Column =
    array_distinct(filter(split(lower(c), "\\s+"), t => length(t) > 0))

  /** Token-set Jaccard similarity (SURVEY.md §2.7 T6). Custom codegen'd
    * Expression; see TokenJaccard for why not built-in composition. */
  def token_jaccard(a: Column, b: Column): Column =
    e2col(TokenJaccardExpr(col2e(a.cast("string")), col2e(b.cast("string"))))

  /** Random-hyperplane sign bucket (codegen'd; bit-identical to the
    * aggregate/zip_with composition it replaces). The production bucket
    * kernel of the ANN and embedding near-dup dataflows, which take the
    * bucket as a column (the oracle twins pass Portable.axisSignBucket);
    * Ann.bucketOf runs the same SignBucket.bucket on the driver. */
  def sign_bucket(vec: Column, nPlanes: Int, seed: Long = 42L): Column =
    e2col(SignBucketExpr(col2e(vec.cast(ArrayType(FloatType))), nPlanes, seed))

  /** Fused cosine(hash_embed(a), hash_embed(b)) — the pairwise-scoring hot
    * path. */
  def context_cosine(a: Column, b: Column, dim: Int = 256,
      seed: Long = 42L): Column =
    e2col(ContextCosineExpr(col2e(a.cast("string")), col2e(b.cast("string")),
      dim, seed))

  /** LSH band keys from a minhash signature: one string key per band,
    * `l:<band>:<hash of the band's row slice>`. Built-in generator-free
    * composition; pair with posexplode/explode at the call site.
    * bands * rowsPerBand must equal the signature length.
    */
  def lsh_band_keys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      concat_ws(":", lit("l"), b.cast("string"),
        xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).cast("string")))

  /** All non-overlapping matches of a constant regex with their character
    * offsets: array<struct<m string, pos int>> — the position-aware
    * counterpart of regexp_extract_all (pair with explode). */
  def regexp_match_pos(text: Column, pattern: String): Column =
    e2col(RegexpMatchPosExpr(col2e(text.cast("string")), pattern))

  /** ±w-token context window around the occurrence of `surface` that STARTS
    * at character offset `begin` (0-based) — per-occurrence-correct: the
    * token index is derived from the offset (token count of the trimmed
    * prefix), so two occurrences of the same surface get their own windows.
    */
  def context_window_at(text: Column, surface: Column, begin: Column,
      w: Int): Column = {
    val tokens = split(text, "\\s+")
    val sTokens = split(surface, "\\s+")
    val prefix = trim(text.substr(lit(1), begin.cast("int")))
    // when the occurrence is glued to preceding non-whitespace (e.g.
    // "(Gadget"), the prefix's trailing fragment "(" and the mention's first
    // token are the SAME whitespace-token — counting the fragment as a full
    // token would shift the window one token right of the true occurrence
    val glued = begin > 0 &&
      text.substr(begin.cast("int"), lit(1)).rlike("\\S")
    val nBeforeRaw = when(length(prefix) === 0, lit(0))
      .otherwise(size(split(prefix, "\\s+")))
    val nBefore = when(glued, greatest(nBeforeRaw - 1, lit(0)))
      .otherwise(nBeforeRaw)
    val idx = nBefore + 1 // 1-based token index of the mention's first token
    val start = greatest(lit(1), (idx - w).cast("int"))
    // end stays anchored at mention_end + w even when start clamps to 1
    val len = (idx + size(sTokens) + w - start).cast("int")
    array_join(slice(tokens, start, len), " ")
  }

  /** Exact char-k-shingle Jaccard (hashed shingles, codegen'd kernel). */
  def shingle_jaccard(a: Column, b: Column, k: Int = 5): Column =
    e2col(ShingleJaccardExpr(col2e(a.cast("string")), col2e(b.cast("string")), k))

  /** Per-document sorted k-shingle hash set (ARRAY<LONG>) — precompute once
    * per doc, verify candidate pairs with sorted_jaccard (a doc in p pairs
    * is shingled once, not p times). */
  def shingle_hashes(text: Column, k: Int = 5): Column =
    e2col(ShingleHashesExpr(col2e(text.cast("string")), k))

  /** Per-document sorted word n-gram hash set (ARRAY<LONG>). */
  def ngram_hashes(text: Column, n: Int = 3): Column =
    e2col(NgramHashesExpr(col2e(text.cast("string")), n))

  /** Jaccard of two precomputed sorted hash-set columns (merge-count). */
  def sorted_jaccard(a: Column, b: Column): Column =
    e2col(SortedJaccardExpr(col2e(a), col2e(b)))

  /** Exact word n-gram Jaccard (hashed grams, codegen'd kernel). */
  def word_ngram_jaccard(a: Column, b: Column, n: Int = 3): Column =
    e2col(WordNgramJaccardExpr(col2e(a.cast("string")), col2e(b.cast("string")), n))
}
