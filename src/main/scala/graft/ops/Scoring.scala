package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** Pairwise scoring stage: payload hydration, the batched similarity
  * ensemble, the linear scorer, and best-pair dedup.
  *
  * Reference analogue: the mention↔concept confirmation scorer — two weak
  * rules plus a logistic regression over mean-pooled contextual BERT
  * embeddings (`main_scripts/step1_tr_data_creat_ment_disamb.py:104,69-72`;
  * `main_scripts/sent_bert_emb_viz_util.py:560-572,809-812`), ensembled with
  * rule gates (`main_scripts/evaluation_util.py:17-38`). Here the features are
  * Jaro-Winkler, Levenshtein ratio, token-set Jaccard (surface features — the
  * analogue of the reference's string-level rules) and the context
  * hash-embedding cosine (the analogue of its BERT scorer); the LR decision
  * `clf.predict(X)` collapses to `w·x + b > 0` — pure column arithmetic
  * (SURVEY.md §2.8 "linear scorer").
  *
  * Scale design: blocking emits narrow id-only pair rows; this stage joins
  * the (much smaller) mentions table back twice to hydrate surface/ctx
  * (late materialization), computes every feature as a codegen'd expression
  * (no shuffle), and dedups to one row per (url_a, url_b) with a single
  * hash aggregation (max_by) instead of a sort window.
  */
object Scoring {

  /** Ensemble weights + decision threshold. The defaults are fixture-scale
    * constants; `Training.fit` reproduces this structure IN-ENGINE from weak
    * labels alone (IRLS over DataFrame aggregations + threshold sweep on the
    * validation split) and passes the same F1 >= 0.99 gate — TrainingSpec —
    * so nothing here depends on offline hand-fitting. The negative lev/jac
    * weights are the learned trap rule: "surfaces match exactly but contexts
    * disagree" marks the shared-abbreviation ambiguity class as non-match —
    * the same job the reference's context model does against its ambiguous
    * frequent mentions (`main_scripts/sent_bert_emb_viz_util.py:926`). */
  case class Weights(
      wJw: Double = 4.0,
      wLev: Double = -2.0,
      wJac: Double = -4.0,
      wCos: Double = 22.0,
      bias: Double = -4.0,
      threshold: Double = 1.55)

  /** Hydrate surface/ctx payloads onto id-only pairs (two equi-joins against
    * the mentions table on mention_id).
    *
    * broadcastMentions=true (default) hints both joins broadcast: the
    * mentions projection is orders of magnitude smaller than the pair set
    * (one row per mention vs O(block²) pairs), and without the hint Spark's
    * 10MB threshold silently downgrades to sort-merge, double-sorting the
    * pair set. At cluster scale where even the projection exceeds executor
    * memory, pass false: the joins become shuffle joins over NARROW pair rows
    * — still far cheaper than shuffling hydrated rows through blocking. */
  def hydrate(pairs: DataFrame, mentions: DataFrame,
      broadcastMentions: Boolean = true): DataFrame = {
    val proj = mentions.select(col("mention_id"), col("url"),
      col("surface"), col("ctx"))
    val m = if (broadcastMentions) broadcast(proj) else proj
    pairs
      .join(m.select(col("mention_id").as("mid_a"), col("url").as("url_a"),
        col("surface").as("surface_a"), col("ctx").as("ctx_a")), Seq("mid_a"))
      .join(m.select(col("mention_id").as("mid_b"), col("url").as("url_b"),
        col("surface").as("surface_b"), col("ctx").as("ctx_b")), Seq("mid_b"))
  }

  /** Estimated in-memory bytes of a mentions table's hydration projection,
    * as an aggregate Column (for `agg` or an `observe`): Σ UTF-8 bytes of
    * surface + ctx + url, plus a 24 B per-row envelope. octet_length counts
    * multi-byte text in bytes, not chars; each column is coalesced to 0 so
    * a null never erases the row's other columns or its fixed overhead.
    * The input of the broadcast-hydration gate
    * (PipelineConfig.broadcastHydration). */
  def mentionsBytes: Column = {
    def oct(c: String) = coalesce(octet_length(col(c)).cast("long"), lit(0L))
    coalesce(sum(oct("surface") + oct("ctx") + oct("url") + lit(24L)), lit(0L))
  }

  /** Attach feature + score columns to hydrated pairs. Expects columns
    * surface_a, surface_b, ctx_a, ctx_b. */
  def withFeatures(pairs: DataFrame, embedDim: Int = 256,
      seed: Long = 42L): DataFrame =
    pairs
      .withColumn("jw", jaro_winkler(col("surface_a"), col("surface_b")))
      .withColumn("lev", lev_ratio(col("surface_a"), col("surface_b")))
      .withColumn("jac", token_jaccard(col("surface_a"), col("surface_b")))
      .withColumn("cos", context_cosine(col("ctx_a"), col("ctx_b"),
        embedDim, seed))

  /** Affirmative-signal floors for the match decision (the rule-gate half of
    * the reference's ensemble, `main_scripts/evaluation_util.py:17-38`: rule
    * gates AND the model, so the model alone can never assert a match the
    * rules see no evidence for). A pair whose every feature sits at its
    * noise level — token Jaccard 0, Jaro-Winkler at the ~0.45 random-string
    * baseline, context cosine inside the ±0.25 hash-embedding noise band —
    * can still sum past the linear threshold when the noise terms align
    * (measured on the flagship fixture: ONE such pair, jw .427/jac 0/cos
    * .191, merged the two shared-abbreviation trap entities). The gate
    * requires at least one feature to show genuine signal: surface token
    * overlap (jac), acronym/edit agreement (jw above the random baseline —
    * an abbreviation matching its long form's initials scores ≥ .56), or
    * context agreement (cos above the noise band). True pairs always carry
    * one of the three by construction of the ensemble; ProdFlagshipSpec pins
    * the resulting clusters to the planted truth. */
  val MinSurfaceJaccard = 0.3
  val MinAcronymJw = 0.5
  val MinContextCos = 0.25

  def withScore(featured: DataFrame, w: Weights = Weights()): DataFrame =
    featured
      .withColumn("score",
        lit(w.wJw) * col("jw") + lit(w.wLev) * col("lev") +
          lit(w.wJac) * col("jac") + lit(w.wCos) * col("cos") + lit(w.bias))
      .withColumn("is_match", col("score") > lit(w.threshold) &&
        (col("jac") >= lit(MinSurfaceJaccard) ||
          col("jw") >= lit(MinAcronymJw) ||
          col("cos") >= lit(MinContextCos)))

  /** One row per (url_a, url_b): keep the best-scoring mention pair across
    * shared blocks. row_number window, NOT max_by: max_by's struct buffer
    * forces SortAggregate, while rank<=1 windows get the WindowGroupLimit
    * rewrite (partial per-key top-1 BEFORE the shuffle — the map-side-combine
    * equivalent for top-k). */
  def dedupBest(scored: DataFrame): DataFrame = {
    // tiebreak on the numeric mention ids when present (cheaper sort keys
    // than surface strings; deterministic either way)
    val tiebreak =
      if (scored.columns.contains("mid_a"))
        Seq(col("block_id").asc, col("mid_a").asc, col("mid_b").asc)
      else Seq(col("block_id").asc, col("surface_a").asc, col("surface_b").asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url_a"), col("url_b"))
      .orderBy(col("score").desc +: tiebreak: _*)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full scoring stage over id-only pairs + the mentions table.
    *
    * ctx_a/ctx_b are dropped as soon as the features are computed: the
    * context strings are pure feature inputs (nothing downstream reads
    * them), they are the WIDEST columns in the row, and they would
    * otherwise ride through the best-pair window shuffle AND the stage's
    * parquet write — measured at 2.4M pages, they are most of a 9.5GB
    * stage output. Keep rows narrow the moment a column's job is done. */
  def score(pairs: DataFrame, mentions: DataFrame, w: Weights = Weights(),
      embedDim: Int = 256, seed: Long = 42L,
      broadcastMentions: Boolean = true): DataFrame =
    dedupBest(withScore(
      withFeatures(hydrate(pairs, mentions, broadcastMentions), embedDim, seed), w)
      .drop("ctx_a", "ctx_b"))

  /** Diverse per-key cap (SURVEY.md O7; reference caps data per mention at
    * 25 for diverse sampling, `main_scripts/sent_bert_emb_viz_util.py:454-469`):
    * keep the top-k rows per key by the given ordering. With a content-hash
    * ordering this is a deterministic unbiased per-key sample (diversity
    * cap); with a score ordering it is per-key top-k. rank<=k windows get the
    * WindowGroupLimit rewrite — partial top-k BEFORE the shuffle, so a key
    * with 10^6 rows ships only k per map partition. */
  def topKPerKey(df: DataFrame, keyCols: Seq[String],
      order: Seq[org.apache.spark.sql.Column], k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(order: _*)
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** Rule-gated ensemble decision (reference `evaluation_util.py:17-38`):
    * when both weak rules fire the pair is a match, when neither fires it is
    * a non-match, and only the disagreement region defers to the model score.
    * Rules (graft analogues of the reference's mention-length / prevalence
    * rules): both surfaces longer than `minSurfaceLen`, and the pair's block
    * no larger than `maxPrevalence` (needs a `block_size` column; fall back
    * to the model when absent). Pure CASE WHEN column math — codegen'd. */
  def gatedMatch(scored: DataFrame, w: Weights = Weights(),
      minSurfaceLen: Int = 8, maxPrevalence: Int = 64): DataFrame = {
    val ruleLen = length(col("surface_a")) > minSurfaceLen &&
      length(col("surface_b")) > minSurfaceLen
    val rulePrev =
      if (scored.columns.contains("block_size")) col("block_size") <= maxPrevalence
      else lit(true)
    scored.withColumn("is_match",
      when(ruleLen && rulePrev, lit(true))
        .when(!ruleLen && !rulePrev, lit(false))
        .otherwise(col("score") > lit(w.threshold)))
  }
}
