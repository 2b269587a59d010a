package graft

import graft.operators.{Concepts, Exports}
import graft.streaming.DocStreams

/** streamTokens / bratImport invariants (SURVEY H6, E1e). */
class DocStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the customer table joins the orders table"),
    (2L, "spark shuffles partition data"),
    (3L, "x")
  ).toDF("doc_id", "text")

  test("streamTokens equals the window-based batch tokenizer") {
    // the running-sum window reference, not TextOps.tokens (which
    // streamTokens now is)
    val a = SpanReference.tokensBySum(docs).collect().map(_.toSeq).toSet
    val b = DocStreams.streamTokens(docs).collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a == b)
  }

  test("brat import is the exact inverse of brat export") {
    val pp = Concepts.postProcess(Concepts.recognize(docs))
    val expected = pp.select("doc_id", "concept_id", "char_start", "char_end", "tok")
      .collect().map(_.toSeq).toSet
    val back = Exports.bratImport(Exports.brat(pp)).collect().map(_.toSeq).toSet
    assert(expected.nonEmpty && back == expected)
  }
}
