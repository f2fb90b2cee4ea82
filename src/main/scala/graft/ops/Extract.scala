package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{context_window_at, norm_alnum, regexp_match_pos}

/** Extraction stage: latest-snapshot dedup, deterministic text extraction
  * from html with the byte-identical invariant (input_hint / SURVEY.md §2.2
  * P14), and mention extraction.
  *
  * Reference analogue: `main_scripts/step0_mimic3_data_processing.py` —
  * category filter (:65 → our lang filter), per-document annotation parsing
  * (:139-253 → our regex mention extraction; the reference outsources NER to
  * SemEHR, we extract Capitalized token runs deterministically).
  *
  * Scale notes: every operator here is a narrow projection/filter except the
  * snapshot-dedup window (one shuffle on url — unavoidable for latest-wins
  * semantics, and the same partitioning CC wants later). All expressions are
  * whole-stage-codegen'd built-ins.
  */
object Extract {

  /** URL canonicalization (SURVEY.md P13 — the reference's ICD9 code
    * normalization, `main_scripts/rare_disease_id_util.py:370-394`, mapped to
    * urls): lowercase scheme+host, https/http collapsed, `www.` stripped,
    * fragment dropped, utm_* tracking params dropped (empty query removed),
    * trailing slash trimmed. Without this, `http://www.a.com/x/` and
    * `https://a.com/x` dedup as different pages. Pure regexp column math. */
  def canonicalUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // scheme+host lowercased (path/query case is significant, host is not)
    val hostLower = concat(
      lower(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
      regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$", 1))
    val scheme = regexp_replace(hostLower, "^http://", "https://")
    val noWww = regexp_replace(scheme, "^(https://)www\\.", "$1")
    val noFrag = regexp_replace(noWww, "#.*$", "")
    // drop utm_* params, then repair the query string: a mid-query utm leaves
    // "&&" ("?q=1&utm_x=2&r=3" -> "?q=1&&r=3"), a leading utm leaves "?&",
    // and a trailing utm leaves a dangling "?"/"&"
    val noUtm = regexp_replace(noFrag, "([?&])utm_[^&#]*", "$1")
    val ampRuns = regexp_replace(noUtm, "&{2,}", "&")
    val cleanQ = regexp_replace(
      regexp_replace(ampRuns, "\\?&", "?"), "[?&]+$", "")
    val canonical = regexp_replace(cleanQ, "(://[^/?#]+.+?)/+$", "$1")
    // scheme-less/relative urls pass through UNCHANGED: both anchored
    // extracts above miss, which would collapse every such url to "" and make
    // latestSnapshot keep one arbitrary page for ALL of them
    when(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://", 0) === "", url)
      .otherwise(canonical)
  }

  /** Rewrite `url` to its canonical form (snapshot dedup then collapses
    * scheme/www/tracking variants of the same page into one node). */
  def canonicalized(pages: DataFrame): DataFrame =
    pages.withColumn("url", canonicalUrl(col("url")))

  /** `html_hash` = xxhash64(html): the snapshot tiebreak, and the identity
    * attach's dirty check compares (extraction, mentions and blocking are
    * deterministic in the html). Added once; rows that already carry it
    * (committed s0 rows, which no longer hold the html) keep theirs. */
  private def withHtmlHash(pages: DataFrame): DataFrame =
    if (pages.columns.contains("html_hash")) pages
    else pages.withColumn("html_hash", xxhash64(col("html")))

  /** Keep the latest snapshot per url (warc_ts desc, html_hash as a
    * deterministic tiebreak). SURVEY.md §2.10: warc_ts is a plain timestamp,
    * not a watermark. */
  def latestSnapshot(pages: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("url"))
      .orderBy(col("warc_ts").desc, col("html_hash").asc)
    withHtmlHash(pages).withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Deterministic extraction: the text is the <p>…</p> body payload. */
  def extractedText(html: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(html.cast("string"), "<p>(.*)</p>", 1)

  /** Per-row invariant (P14): extracted text must be byte-identical to the
    * `text` column. Returns pages + boolean `invariant_ok` + `html_hash`,
    * with the raw `html` dropped: on an invariant_ok row `text` IS the
    * extraction, so nothing downstream reads the html again, and the s0
    * table it becomes stores an 8-byte hash instead. Violations are counted
    * into the metrics table by the pipeline, never thrown per-row
    * (reference tolerates and records bad rows rather than failing,
    * `main_scripts/step0_mimic3_data_processing.py:249-253`). */
  def withInvariant(pages: DataFrame): DataFrame =
    withHtmlHash(pages).withColumn("invariant_ok",
      sha2(extractedText(col("html")).cast("binary"), 256) ===
        sha2(col("text").cast("binary"), 256))
      .drop("html")

  /** Mention extraction: maximal runs of Capitalized tokens in the text of
    * English pages that pass the invariant — there `text` equals the
    * html's extraction byte for byte, so it is read as is.
    * Output: (url, surface, begin, end, ctx).
    * ctx = ±`ctxWindow` tokens around the mention (reference context window,
    * `main_scripts/sent_bert_emb_viz_util.py:205-262`).
    *
    * Per-occurrence-correct: offsets come from the position-aware
    * regexp_match_pos expression, and the context window is derived from the
    * occurrence's own offset — a surface repeated later in a page gets its
    * real begin/end and its own context (round-1 bug: instr/array_position
    * bound every occurrence to the FIRST one).
    */
  def mentions(pages: DataFrame, ctxWindow: Int = 4): DataFrame = {
    val mentionRe = "[A-Z][A-Za-z0-9]*(?: [A-Z][A-Za-z0-9]*)*"
    pages
      .filter(col("lang") === "en" && col("invariant_ok"))
      .select(col("url"), col("text"),
        explode(regexp_match_pos(col("text"), mentionRe)).as("m"))
      .select(col("url"), col("text"),
        col("m.m").as("surface"), col("m.pos").as("begin"))
      .filter(length(col("surface")) >= 2)
      .withColumn("end", col("begin") + length(col("surface")))
      .withColumn("ctx",
        context_window_at(col("text"), col("surface"), col("begin"), ctxWindow))
      .withColumn("norm_key", norm_alnum(col("surface")))
      // stable mention id: blocking/pair-gen carry ONLY this id + url through
      // their shuffles; surface/ctx payloads are hydrated back after pair
      // dedup (late materialization — at 100 TB the band-duplicate pair rows
      // would otherwise shuffle ~10x more bytes). begin is part of the id so
      // repeated occurrences stay distinct rows.
      .withColumn("mention_id", xxhash64(col("url"), col("surface"), col("begin")))
      .drop("text")
  }
}
