package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline integration: the operator families compose as one
  * lazy DataFrame plan — XML ingestion -> text analysis -> quality filter ->
  * exact + near-dup dedup -> fingerprinting — the shape of a real
  * training-data preparation job.
  */
class PipelineSpec extends AnyFunSuite with SharedSpark {

  test("xml ingest -> text analysis -> dedup composes in one plan") {
    import spark.implicits._
    // 1. corpus arrives as XML documents (with a duplicate and a junk row)
    val raw = Seq(
      (1L, "<doc lang='en'><title>alpha</title><body>the quick brown fox jumps over the dog</body></doc>"),
      (2L, "<doc lang='en'><title>beta</title><body>the quick brown fox jumps over the dog</body></doc>"),
      (3L, "<doc lang='fr'><title>gamma</title><body>le chat et le chien</body></doc>"),
      (4L, "<doc lang='en'><title>short</title><body>x</body></doc>"))
      .toDF("id", "xml")

    // 2. parse with the DSL
    val parser = xml.XmlParser.struct("doc") { a =>
      struct(
        a.attribute("lang").as("lang"),
        a.obj("title")(t => t.tag).as("title_tag"),
        a.str("body").as("body"))
    }
    val docs = raw.select(col("id"), parser.parse(col("xml")).as("d"))
      .select(col("id"), col("d.lang").as("lang"), col("d.body").as("body"))

    // 3. text analysis + quality filter
    val scored = docs
      .withColumn("n_tokens", functions.Text.tokenCount(col("body")))
      .withColumn("lang_pred", functions.Text.langId(col("body")))
      .withColumn("fp", functions.Text.docFingerprint(col("body")))
      .filter(col("n_tokens") >= 3)

    // 4. exact dedup on the fingerprint, keep the earliest id
    val deduped = operators.Dedup.exact(scored, Seq(col("fp")), col("id"))

    val out = deduped.orderBy("keeper_id")
      .select("keeper_id", "group_size").as[(Long, Long)].collect().toSeq
    // doc 4 filtered (1 token); docs 1+2 collapse (same body); doc 3 kept
    assert(out == Seq((1L, 2L), (3L, 1L)))

    // language-ID agreed with the XML attribute for the survivors
    val langs = scored.filter(col("id").isin(1L, 3L))
      .select("lang", "lang_pred").as[(String, String)].collect().toSet
    assert(langs == Set(("en", "en"), ("fr", "fr")))
  }
}
