package graft

import graft.operators.TextOps
import graft.streaming.DocStreams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The one-pass span kernel behind TextOps.tokens / sentences and
  * DocStreams.streamTokens: row parity with the two prefix-based derivations
  * it replaced, on adversarial texts, and a cost that grows linearly with
  * document length (ROADMAP item 4). */
class SpanKernelSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic single-space-separated words, `chars` code points long. */
  private def longText(chars: Int, seed: Int): String = {
    val words = Array("lorem", "ipsum", "customer", "x", "ab", "spark", "shuffle", "tbl",
      "partitioned", "q", "join")
    val sb = new StringBuilder
    var i = seed
    while (sb.length < chars) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(words(i % words.length))
      i = i * 31 + 7 & 0x7fffffff
    }
    sb.setLength(chars)
    sb.toString
  }

  private val gothic = new String(Character.toChars(0x1D518)) + new String(Character.toChars(0x1D52B))
  private val emoji = new String(Character.toChars(0x1F600))

  /** null, empty, whitespace-only, leading/trailing/double spaces, tabs and
    * newlines inside tokens, non-BMP code points, window-boundary token
    * counts, one 50k-char document, and duplicate doc_ids. */
  private def adversarial: DataFrame = Seq[(Long, String)](
    (1L, null),
    (2L, ""),
    (3L, " "),
    (4L, "   "),
    (5L, " leading space"),
    (6L, "trailing space "),
    (7L, "double  space  inside"),
    (8L, "tab\tinside a token and new\nline inside\r\nanother"),
    (9L, s"$gothic non BMP $emoji points ${emoji}x y$gothic"),
    (10L, (1 to 10).map(i => s"w$i").mkString(" ")),
    (11L, (1 to 11).map(i => s"w$i").mkString(" ")),
    (12L, (1 to 20).map(i => s"w$i").mkString(" ")),
    (13L, longText(50000, 3) + s" $emoji  tail"),
    (14L, "first copy of a duplicated id"),
    (14L, "second copy with a different text under the same id"),
    (15L, "exact duplicate row"),
    (15L, "exact duplicate row")
  ).toDF("doc_id", "text")

  /** The prefix-length sentence formula (TextOps.sentences before the
    * kernel): window bounds from substring_index prefixes of the text. */
  private def sentencesByPrefix(docs: DataFrame): DataFrame = {
    val w = TextOps.SentWindow
    docs
      .select(col("doc_id"), col("text"), size(split(col("text"), " ")).as("n"))
      .select(col("doc_id"), col("text"), col("n"),
        explode(sequence(lit(0L), expr(s"CAST((n - 1) DIV $w AS BIGINT)"))).as("sent_id"))
      .withColumn("m_end", least(col("n").cast("long"), (col("sent_id") + 1) * w))
      .withColumn("char_end",
        expr("CAST(length(substring_index(text, ' ', CAST(m_end AS INT))) AS BIGINT)"))
      .withColumn("char_start", when(col("sent_id") === 0, lit(0L))
        .otherwise(expr(
          s"CAST(length(substring_index(text, ' ', CAST(sent_id * $w AS INT))) AS BIGINT) + 1")))
      .select(col("doc_id"), col("sent_id"),
        expr("substring(text, char_start + 1, char_end - char_start)").as("sent_text"),
        (col("m_end") - col("sent_id") * w).cast("long").as("n_tokens"),
        col("char_start"), col("char_end"))
  }

  /** Rows as a sorted multiset, so duplicate rows must match in number. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0001"))

  private def firstDiff(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): String =
    a.zipAll(b, Nil, Nil).find { case (x, y) => x != y }
      .map { case (x, y) => s"first difference: ${x.mkString("|").take(200)} vs ${y.mkString("|").take(200)}" }
      .getOrElse("")

  test("tokens, streamTokens and sentences equal the prefix-based derivations on adversarial texts") {
    val docs = adversarial
    val tokRef = rows(SpanReference.tokensBySum(docs))
    assert(tokRef.size > 8000, s"the 50k-char document must be tokenized: ${tokRef.size} rows")
    for ((name, got) <- Seq("tokens" -> TextOps.tokens(docs),
                            "streamTokens" -> DocStreams.streamTokens(docs))) {
      assert(got.columns.toSeq == Seq("doc_id", "ord", "tok", "char_start", "char_end"), name)
      val g = rows(got)
      assert(g == tokRef, s"$name: ${g.size} vs ${tokRef.size} rows; ${firstDiff(g, tokRef)}")
    }
    val sentRef = rows(sentencesByPrefix(docs))
    val sents = TextOps.sentences(docs)
    assert(sents.columns.toSeq ==
      Seq("doc_id", "sent_id", "sent_text", "n_tokens", "char_start", "char_end"))
    val s = rows(sents)
    assert(s == sentRef, s"sentences: ${s.size} vs ${sentRef.size} rows; ${firstDiff(s, sentRef)}")
    // null text yields no rows; every span indexes into its own document
    assert(!s.exists(_.head == 1L) && !tokRef.exists(_.head == 1L))
    val texts = docs.collect().collect { case Row(id: Long, t: String) => (id, t) }
    for (r <- rows(TextOps.tokens(docs)); (id, t) <- texts.find(_._1 == r.head)
         if texts.count(_._1 == id) == 1) {
      val cps = t.codePoints().toArray
      val (cs, ce) = (r(3).asInstanceOf[Long].toInt, r(4).asInstanceOf[Long].toInt)
      assert(new String(cps.slice(cs, ce), 0, ce - cs) == r(2), s"span of $r")
    }
  }

  test("tokens + sentences cost grows linearly with document length") {
    // The same number of 5k-char and 50k-char documents: a per-document
    // cost linear in length reads ~10x (less while fixed per-job costs
    // dominate the 5k side), a per-token prefix scan ~100x. Noop writes
    // after one warm-up, best of three.
    val copies = 32
    def timed(chars: Int): Double = {
      val dir = graft.infra.Staging.tempDir("graft-span-cost").resolve("docs").toString
      (0 until copies).map(i => (i.toLong, longText(chars, i + 1))).toDF("doc_id", "text")
        .write.parquet(dir)
      val docs = spark.read.parquet(dir)
      def once(): Double = {
        val t0 = System.nanoTime()
        TextOps.tokens(docs).write.format("noop").mode("overwrite").save()
        TextOps.sentences(docs).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      Seq.fill(3)(once()).min
    }
    val t5k = timed(5000)
    val t50k = timed(50000)
    val ratio = t50k / t5k
    info(f"tokens+sentences: 5k chars $t5k%.3f s, 50k chars $t50k%.3f s, ratio $ratio%.1fx")
    assert(ratio < 25.0, f"50k/5k cost ratio $ratio%.1fx (5k: $t5k%.3f s, 50k: $t50k%.3f s)")
  }
}
