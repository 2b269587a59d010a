package graft

import graft.operators.TextOps
import org.apache.spark.sql.Row

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("token char spans index into the document text (SpanValidator discipline)") {
    val d = docs("alpha beta gamma", "x yz")
    val rows = TextOps.tokens(d).collect()
    val textOf = Map(0L -> "alpha beta gamma", 1L -> "x yz")
    assert(rows.nonEmpty)
    rows.foreach { case Row(id: Long, _, tok: String, cs: Long, ce: Long) =>
      assert(textOf(id).substring(cs.toInt, ce.toInt) == tok)
    }
  }

  test("tokens are 1-ordinal and contiguous") {
    val r = TextOps.tokens(docs("a b c")).orderBy("ord").select("ord").as[Long].collect()
    assert(r.toSeq == Seq(1L, 2L, 3L))
  }

  test("fixed-window sentences cover all tokens and rebuild the text") {
    val text = (1 to 25).map(i => s"w$i").mkString(" ")
    val s = TextOps.sentences(docs(text)).orderBy("sent_id").collect()
    assert(s.length == 3) // 10 + 10 + 5
    val rebuilt = s.map(_.getAs[String]("sent_text")).mkString(" ")
    assert(rebuilt == text)
    assert(s.map(_.getAs[Long]("n_tokens")).toSeq == Seq(10L, 10L, 5L))
  }

  test("sentencesKernel: kernel-returned spans rebuild the direct segmentation") {
    val d = docs((1 to 25).map(i => s"w$i").mkString(" "), "alpha beta gamma")
    val direct = TextOps.sentences(d).orderBy("doc_id", "sent_id").collect().toSeq
    val viaKernel = TextOps.sentencesKernel(d).orderBy("doc_id", "sent_id").collect().toSeq
    assert(viaKernel == direct)
    assert(viaKernel.nonEmpty)
  }

  test("sentencesKernel launches one segmenter child per non-empty partition") {
    val pidFile = java.nio.file.Files.createTempFile("graft-sentseg-pids", ".txt")
    val cmd = Seq("/bin/sh", "-c", s"echo $$$$ >> $pidFile; exec /bin/cat")
    val many = (0 until 40).map(i => (i.toLong, "alpha beta gamma", "en", "s", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").repartition(4)
    assert(TextOps.sentencesKernel(many, cmd).count() > 0)
    val pids = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(pidFile)).asScala.filter(_.nonEmpty)
    assert(pids.distinct.size == pids.size)
    assert(pids.size <= 4, s"expected at most one child per partition, saw: $pids")
    assert(pids.nonEmpty)
  }

  test("punctuation segmentation splits on sentence enders and line breaks") {
    val d = docs("One sentence. Two here! Three?\nFour after break")
    val s = TextOps.sentencesByPunct(d).orderBy("sent_id").select("sent_text").as[String].collect()
    assert(s.toSeq == Seq("One sentence.", "Two here!", "Three?", "Four after break"))
  }

  test("filterUnactionable strips the trailing marker and keeps allowed langs") {
    val d = Seq(
      (0L, "keep this text here plus " + ("x " * 20).trim, "en", "s", 60L),
      (1L, ("y " * 30).trim + " dup", "en", "s", 63L),
      (2L, ("z " * 30).trim, "zh", "s", 59L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = TextOps.filterUnactionable(d).orderBy("doc_id").collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L, 1L))
    assert(r(1).getAs[Boolean]("had_unactionable"))
    assert(!r(1).getAs[String]("actionable_text").endsWith("dup"))
  }

  test("chunkContent chunks reassemble to the original text") {
    val text = ("lorem ipsum " * 30).trim
    val r = TextOps.chunkContent(docs(text), chunkChars = 50).orderBy("chunk_id")
      .select("chunk").as[String].collect()
    assert(r.mkString("") == text)
    assert(r.init.forall(_.length == 50))
  }

  /** The staged compression-quality operator over `df`, staged under a
    * fresh directory so every call computes its own ratios. */
  private def compressionQuality(df: org.apache.spark.sql.DataFrame) =
    graft.operators.TextStats.compressionQualityStaged(df,
      graft.infra.Staging.tempDir("graft-compression").toString)

  test("compression ratio separates repetitive text, prose, and noise") {
    import spark.implicits._
    val rep = "the same thing " * 200
    val prose = "Partition pruning keeps the scan from reading row groups whose " +
      "footer statistics exclude the predicate, which is the cheapest IO there is. " * 5
    val noise = new scala.util.Random(42).alphanumeric.take(4000).mkString
    val df = Seq((1L, rep), (2L, prose), (3L, noise)).toDF("doc_id", "text")
    val r = compressionQuality(df).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getBoolean(2), x.getBoolean(3))).toMap
    assert(r(1L)._1 < r(2L)._1 && r(2L)._1 < r(3L)._1)
    assert(r(1L)._2, s"repetitive text should flag is_repetitive: ${r(1L)}")
    assert(!r(2L)._2 && !r(2L)._3, s"prose should pass both gates: ${r(2L)}")
  }

  test("compression ratio is deterministic and 1.0 on empty text") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "abc")).toDF("doc_id", "text")
    val a = compressionQuality(df).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val b = compressionQuality(df).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(a == b)
    assert(a(1L) == 1.0)
  }
}
