package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nested annotation-document JSON source (SURVEY.md S4).
  *
  * The reference's central input is one JSON file per document mapping each
  * document-structure name to `{text, start, anns[...]}` where every
  * annotation carries `startNode.offset` / `endNode.offset` (absolute) and a
  * `features` struct (Negation/STY/Experiencer gates, surface string, concept
  * code, preferred label) — parsed with per-annotation filters and offsets
  * made part-relative at `main_scripts/step0_mimic3_data_processing.py:151-181`
  * (mini variant without doc structure at `:209-246`), with corrupt/missing
  * files tolerated and logged rather than failing the run (`:249-253`).
  *
  * Spark-first re-expression: ONE `from_json` with the full nested
  * MapType(doc_part -> struct(text, start, anns: array(struct(...)))) schema,
  * corrupt rows -> null + a `parse_ok` flag (counted into the metrics table by
  * callers, never thrown per-row), then map/array explodes and column filters
  * — all codegen'd, no UDFs, no driver-side JSON handling.
  */
object AnnJson {

  val FeaturesSchema: StructType = StructType(Seq(
    StructField("Negation", StringType),
    StructField("STY", StringType),
    StructField("Experiencer", StringType),
    StructField("string_orig", StringType),
    StructField("inst", StringType),
    StructField("PREF", StringType)))

  val AnnSchema: StructType = StructType(Seq(
    StructField("startNode", StructType(Seq(StructField("offset", IntegerType)))),
    StructField("endNode", StructType(Seq(StructField("offset", IntegerType)))),
    StructField("features", FeaturesSchema)))

  val DocPartSchema: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("start", IntegerType),
    StructField("anns", ArrayType(AnnSchema))))

  /** Top-level document: doc-structure name -> part payload. */
  val DocSchema: MapType = MapType(StringType, DocPartSchema)

  /** Parse the nested annotation JSON: adds `doc` (typed nested value; null
    * when the JSON is malformed) and `parse_ok`. Corrupt rows are TOLERATED
    * — kept with parse_ok=false so the caller can count them into metrics
    * (the reference logs JSONDecodeError and moves on). */
  def parsed(df: DataFrame, jsonCol: String = "json"): DataFrame =
    df.withColumn("doc", from_json(col(jsonCol), DocSchema))
      .withColumn("parse_ok", col("doc").isNotNull)

  /** One row per accepted annotation: the reference's per-ann gates
    * (Negation == Affirmed, STY, Experiencer == Patient, surface length above
    * the abbreviation threshold) as column filters, offsets part-relative
    * (`startNode.offset - part.start`). Keeps `idCols`, adds
    * (doc_part, code, label, mention, begin, end). */
  def annotations(parsedDf: DataFrame, idCols: Seq[String] = Seq("doc_id"),
      minMentionLen: Int = 3, negation: String = "Affirmed",
      sty: String = "Disease or Syndrome",
      experiencer: String = "Patient"): DataFrame = {
    val ids = idCols.map(col)
    val f = col("ann.features")
    parsedDf.filter(col("parse_ok"))
      .select(ids :+ explode(col("doc")): _*) // map explode -> (key, value)
      .select(ids ++ Seq(col("key").as("doc_part"),
        col("value.start").as("part_start"),
        explode(col("value.anns")).as("ann")): _*)
      .filter(f.getField("Negation") === negation &&
        f.getField("STY") === sty &&
        f.getField("Experiencer") === experiencer &&
        length(f.getField("string_orig")) > minMentionLen)
      .select(ids ++ Seq(col("doc_part"),
        f.getField("inst").as("code"),
        f.getField("PREF").as("label"),
        f.getField("string_orig").as("mention"),
        (col("ann.startNode.offset") - col("part_start")).as("begin"),
        (col("ann.endNode.offset") - col("part_start")).as("end")): _*)
  }
}
