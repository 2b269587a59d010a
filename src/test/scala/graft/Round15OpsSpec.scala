package graft

import graft.operators.BigQueryLoad
import org.apache.spark.sql.functions._

class Round15OpsSpec extends SparkSpec {
  import spark.implicits._

  // Two sentence windows of text (SentWindow = 10 tokens): title sentence
  // (window 0, ords 1-10, span [0,55)) + one abstract sentence (window 1,
  // ords 11-14, span [56,75)). Two concept tokens.
  private val docs = Seq(
    (1L, "part alpha beta gamma delta epsilon zeta part two three four five six seven",
      "s1", "en", 75L))
    .toDF("doc_id", "text", "source", "lang", "n_chars")

  private def annots = {
    // two concept annotations on the two "part" tokens (spans from the
    // token stream: "part" at [0,4) and [41,45))
    Seq((1L, 1L, "part", 0L, 4L, "OP:part"), (1L, 8L, "part", 41L, 45L, "OP:part"))
      .toDF("doc_id", "ord", "tok", "char_start", "char_end", "concept_id")
  }

  test("bigquery annotation ids follow the reference digest recipe") {
    // BigQueryUtil.getAnnotationIdentifier: sha256(docId + spanStart +
    // coveredText + layerName + [lowercased type])
    val u = BigQueryLoad.annotationUniverse(docs, annots)
    val got = u.where(col("layer") === "CONCEPT" && col("char_start") === 0)
      .select("annotation_id").as[String].collect().head
    val expect = java.security.MessageDigest.getInstance("SHA-256")
      .digest("10partCONCEPT[op:part]".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got == expect)
  }

  test("zone containment honors the layer ordering including the equal-span tie") {
    val u = BigQueryLoad.annotationUniverse(docs, annots).collect()
    val byLayer = u.groupBy(_.getAs[String]("layer")).view.mapValues(_.length).toMap
    // title + abstract sections, one paragraph (= abstract span), 2
    // sentences, 2 concepts, 14 tokens
    assert(byLayer == Map("SECTION" -> 2, "PARAGRAPH" -> 1, "SENTENCE" -> 2,
      "CONCEPT" -> 2, "TOKEN" -> 14))
    val z = BigQueryLoad.zoneTablesFrom(BigQueryLoad.annotationUniverse(docs, annots))
      .as[(String, String, String)].collect().toSet
    val id = u.map(r => (r.getAs[String]("layer"), r.getAs[Long]("char_start")) ->
      r.getAs[String]("annotation_id")).toMap
    val titleSec = id(("SECTION", 0L))
    val absSec = id(("SECTION", 56L))
    val par = id(("PARAGRAPH", 56L))
    val titleSent = id(("SENTENCE", 0L))
    // equal-span tie: the paragraph IS inside the ABSTRACT section
    // (paragraph is later in the layer ordering)...
    assert(z.contains(("in_section", par, absSec)))
    // ...but the section is NOT inside the equal-span paragraph, and the
    // equal-span title sentence never contains its section
    assert(!z.exists(r => r._1 == "in_paragraph" && r._2 == absSec))
    assert(z.contains(("in_section", titleSent, titleSec)))
    assert(!z.exists(r => r._2 == titleSec && r._3 == titleSent))
    // nothing contains itself
    assert(!z.exists(r => r._2 == r._3))
    // a token inside a concept span lands in in_concept; the concept annot
    // itself is inside its sentence and section
    val concept0 = id(("CONCEPT", 0L))
    val token0 = id(("TOKEN", 0L))
    assert(z.contains(("in_concept", token0, concept0)))
    assert(z.contains(("in_sentence", concept0, titleSent)))
    assert(z.contains(("in_section", concept0, titleSec)))
    // abstract-window annotations are inside the paragraph
    val token11 = id(("TOKEN", 56L))
    assert(z.contains(("in_paragraph", token11, par)))
  }

  test("relation rows link each non-initial token to its predecessor with the deterministic label") {
    val r = BigQueryLoad.relationTable(docs)
      .as[(String, String, String, String)].collect()
    // 14 tokens: 9 dependents in the full window 0 + 3 in window 1
    assert(r.length == 12)
    assert(r.forall(_._2 == "turku"))
    assert(r.map(_._3).toSet.subsetOf(BigQueryLoad.DepRelations.toSet))
    // ord=2 token ("alpha") depends on ord=1 ("part"): label index
    // pmod(2,4)+1 = 3 → "nsubj"
    val u = BigQueryLoad.annotationUniverse(docs, annots).collect()
    val id = u.filter(_.getAs[String]("layer") == "TOKEN")
      .map(r0 => r0.getAs[Long]("char_start") -> r0.getAs[String]("annotation_id")).toMap
    assert(r.contains((id(5L), "turku", "nsubj", id(0L))))
  }

  test("annotation table drops zero-width spans and matches the load schema columns") {
    val t = BigQueryLoad.annotationTableFrom(BigQueryLoad.annotationUniverse(docs, annots))
    assert(t.columns.toSeq == Seq("annotation_id", "annotator_name", "document_id",
      "annotation_layer", "annotation_type", "span_start", "span_end", "covered_text"))
    assert(t.where(col("span_start") === col("span_end")).count() == 0)
  }
}
