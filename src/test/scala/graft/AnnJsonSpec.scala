package graft

import org.apache.spark.sql.functions._

import graft.sources.AnnJson

/** Nested annotation-document JSON source (SURVEY.md S4): full nested schema
  * parse, per-ann gates, part-relative offsets, and corrupt-row tolerance
  * (null + counted, never thrown). */
class AnnJsonSpec extends SparkSpec {
  import spark.implicits._

  private val goodJson =
    """{"intro":{"text":"alpha beta gamma","start":100,"anns":[
      |{"startNode":{"offset":100},"endNode":{"offset":105},
      | "features":{"Negation":"Affirmed","STY":"Disease or Syndrome",
      |   "Experiencer":"Patient","string_orig":"alpha","inst":"C1","PREF":"Alpha"}},
      |{"startNode":{"offset":106},"endNode":{"offset":110},
      | "features":{"Negation":"Negated","STY":"Disease or Syndrome",
      |   "Experiencer":"Patient","string_orig":"beta","inst":"C2","PREF":"Beta"}}]},
      |"body":{"text":"delta x","start":200,"anns":[
      |{"startNode":{"offset":200},"endNode":{"offset":205},
      | "features":{"Negation":"Affirmed","STY":"Disease or Syndrome",
      |   "Experiencer":"Patient","string_orig":"delta","inst":"C3","PREF":"Delta"}},
      |{"startNode":{"offset":206},"endNode":{"offset":207},
      | "features":{"Negation":"Affirmed","STY":"Disease or Syndrome",
      |   "Experiencer":"Patient","string_orig":"x","inst":"C4","PREF":"X"}}]}}"""
      .stripMargin.replace("\n", "")

  test("nested parse: per-part anns, gates, part-relative offsets") {
    val df = Seq((1L, goodJson)).toDF("doc_id", "json")
    val out = AnnJson.annotations(AnnJson.parsed(df))
      .orderBy("code")
      .select("doc_id", "doc_part", "code", "mention", "begin", "end")
      .collect()
    // C2 dropped by the Negation gate, C4 by the abbreviation-length gate
    out.map(_.getString(2)).toSeq shouldBe Seq("C1", "C3")
    val c1 = out(0)
    c1.getString(1) shouldBe "intro"
    c1.getString(3) shouldBe "alpha"
    c1.getInt(4) shouldBe 0 // 100 - part start 100
    c1.getInt(5) shouldBe 5
    val c3 = out(1)
    c3.getString(1) shouldBe "body"
    c3.getInt(4) shouldBe 0 // 200 - part start 200
  }

  test("corrupt rows are tolerated: null + parse_ok=false + counted, no rows emitted") {
    val corrupt = goodJson.dropRight(1)
    val df = Seq((1L, goodJson), (2L, corrupt), (3L, "not json at all"))
      .toDF("doc_id", "json")
    val parsed = AnnJson.parsed(df)
    parsed.count() shouldBe 3 // nothing thrown, nothing dropped at parse time
    parsed.filter(col("parse_ok")).select("doc_id").as[Long].collect().toSet shouldBe Set(1L)
    AnnJson.annotations(parsed).select("doc_id").distinct()
      .as[Long].collect().toSet shouldBe Set(1L)
  }
}
