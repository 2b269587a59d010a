package graft.operators

import graft.functions.Agg
import graft.functions.TokenWindows.tokenWindows
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document preparation + token/sentence structure.
  *
  * Re-expresses, Spark-first:
  *  - tokenization with validated char spans (implicit in every reference
  *    `Fn`; span discipline per reference's SpanValidator usage in
  *    etl/fn/OpenNLPSentenceSegmentFn.java:110-121)
  *  - sentence segmentation (reference: etl/fn/OpenNLPSentenceSegmentFn.java)
  *    — model-free deterministic variant: sentence boundaries on punctuation /
  *    line breaks, plus a fixed token-window split for overlong spans. The
  *    corpus here has no punctuation, so the window mode is the active one and
  *    the one under oracle test; punctuation mode is unit-tested.
  *  - unactionable-text filtering (reference: etl/fn/FilterUnactionableTextFn.java)
  *  - collection assignment (reference: etl/CollectionAssignmentPipeline.java)
  *  - doc text augmentation (reference: etl/fn/DocumentTextAugmentationFn.java)
  *  - content chunking (reference: etl/PipelineMain.chunkContent)
  *
  * All plans are narrow until the one unavoidable per-doc window (partitioned
  * by doc_id — embarrassingly parallel at any scale).
  */
object TextOps {

  /** tokens per sentence-window; the corpus' analog of a segmented sentence */
  val SentWindow = 10
  /** chunk size (chars) for chunkContent — reference chunks by Datastore limit */
  val ChunkChars = 100

  /** Token count of a single-space-separated text column WITHOUT allocating
    * the split array: size(split(t, " ")) == chars − non-space chars + 1 for
    * every string (split on a 1-char separator yields separators+1 elements,
    * empty elements included). The cheap form for pushdown-safe guards —
    * a pushed scan predicate pays one string replace, not an array of
    * token copies (guide §6: predicates reaching the scan should be cheap). */
  def nTokens(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (length(text) - length(replace(text, lit(" "), lit(""))) + lit(1))

  /** doc_id, ord (1-based), tok, char_start, char_end — spans index into text
    * with single-space separators, validated in tests à la SpanValidator.
    *
    * Fully row-local (scan → Generate → project): the [[TokenWindows]]
    * kernel walks each document once and emits every token with its span,
    * so cost is linear in document length and no running-sum Window
    * (Exchange + Sort of the full token stream; guide §2.4) is needed. The
    * spans are Generate outputs, i.e. attributes: filter pushdown and
    * null-filter inference read them, they never re-derive them. A null
    * text yields no tokens. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokenWindows(col("text"), 1))
      .select(col("doc_id"), (col("idx") + 1L).as("ord"), col("span").as("tok"),
        col("char_start"), col("char_end"))

  /** [[tokens]] with the DOCUMENT stream explicitly co-partitioned by
    * doc_id before the explode. The pre-r18 tokens() ran a running-sum
    * Window whose Exchange accidentally co-partitioned the token stream for
    * every downstream doc-keyed window/aggregation/join; the row-local
    * rewrite removed that Exchange, which is right for single-pass
    * consumers but made multi-stage doc-keyed consumers (dpSentences,
    * dpInput, bertImport) pay one Exchange of the EXPLODED stream per
    * stage. This variant restores the shared partitioning deliberately and
    * cheaper: the one Exchange carries compact doc rows (one row per doc),
    * not |tokens| exploded rows, and Generate preserves the partitioning
    * (guide §2.3 shuffle fewer bytes / §2.4 share one exchange). */
  def tokensByDoc(docs: DataFrame): DataFrame =
    tokens(docs.repartition(col("doc_id")))

  /** Row-local consecutive-token n-grams over the ordered array that
    * split(text) already provides: element i (0-based window start) is
    * toks[i..i+n-1] joined by ' ' — the exact strings of a lead()-window
    * derivation, without the Exchange + Sort of the full token stream the
    * window costs (guide §2.4: remove shuffles outright; the in-row array
    * position already encodes token order). `toks` MUST be a bound column
    * projected by the caller (e.g. `.select(split(col("text"), " ")
    * .as("toks"))` then `col("toks")`), never an inline expression: lambda
    * bodies re-evaluate outer EXPRESSIONS once per element (the
    * DocStreams.letBound trap), while a bound attribute is a per-row field
    * read. Docs with fewer than n tokens yield an empty array (the
    * lead-window form's `tN IS NOT NULL` filter). */
  def ngramArr(toks: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    require(n >= 1, s"ngramArr needs n >= 1, got $n")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j + 1))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  // 1-based n-gram start indices of a token array, as a plain (lambda-free)
  // expression: empty when the doc is shorter than n — the `when` guard,
  // never a `.where` on the derived array, so filter pushdown cannot
  // substitute the split into a duplicated scan predicate (guide §4.4's
  // duplication mechanism, measured 6× on training_pipeline in r17).
  private def ngramStarts(toks: org.apache.spark.sql.Column, n: Int) =
    when(size(toks) >= n, sequence(lit(1), size(toks) - lit(n - 1)))
      .otherwise(array().cast("array<int>"))

  /** Exploded n-grams in whole-stage-codegen form: explode the start-index
    * `sequence`, then assemble each gram from `element_at` reads — every
    * expression a code-generating built-in. Row-for-row identical to
    * `explode(ngramArr(toks, n))`, but [[ngramArr]]'s higher-order
    * `transform` lambda evaluates INTERPRETED, outside WholeStageCodegen
    * (VERDICT r17 item 3); an isolated sf0.1 probe measured this form
    * 1.8–2.6× faster on the n=3 and n=8 shapes. Emits `keep` columns plus
    * `out` (and optionally `pos`, posexplode's 0-based position). `toksCol`
    * must name a bound array column of `df`. */
  def ngramExplodeArr(df: DataFrame, toksCol: String, n: Int, out: String,
                      keep: Seq[String], pos: Option[String] = None): DataFrame = {
    require(n >= 1, s"ngramExplodeArr needs n >= 1, got $n")
    val toks = col(toksCol)
    val gram = concat_ws(" ",
      (0 until n).map(j => element_at(toks, col("__i") + lit(j))): _*).as(out)
    val base = df.select(keep.map(col) :+ toks :+
      explode(ngramStarts(toks, n)).as("__i"): _*)
    pos match {
      case Some(p) => base.select(keep.map(col) ++ Seq((col("__i") - 1).as(p), gram): _*)
      case None    => base.select(keep.map(col) :+ gram: _*)
    }
  }

  /** [[ngramExplodeArr]] straight from a text column: split once, explode
    * the start indices, assemble grams — scan-shaped and fully codegen. */
  def ngramExplode(docs: DataFrame, n: Int, out: String, keep: Seq[String],
                   textCol: String = "text", pos: Option[String] = None): DataFrame =
    ngramExplodeArr(
      docs.select(keep.map(col) :+ split(col(textCol), " ").as("__toks"): _*),
      "__toks", n, out, keep, pos)

  /** Exploded bigram PAIRS (w1, w2 as separate columns) in the same
    * codegen form. */
  def bigramExplodeArr(df: DataFrame, toksCol: String, w1: String, w2: String,
                       keep: Seq[String]): DataFrame = {
    val toks = col(toksCol)
    df.select(keep.map(col) :+ toks :+ explode(ngramStarts(toks, 2)).as("__i"): _*)
      .select(keep.map(col) ++ Seq(
        element_at(toks, col("__i")).as(w1),
        element_at(toks, col("__i") + lit(1)).as(w2)): _*)
  }

  /** Fixed-window segmentation: sentence = SentWindow consecutive tokens.
    * doc_id, sent_id (0-based), sent_text, n_tokens, char_start, char_end.
    *
    * The same one-pass [[TokenWindows]] kernel as [[tokens]], with windows
    * of SentWindow tokens: each window's covered text and span come out of
    * the document's own row (scan → Generate → project), linear in document
    * length and with no Exchange over the token stream. The last window of
    * a document holds the remaining 1..SentWindow tokens. */
  def sentences(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokenWindows(col("text"), SentWindow))
      .select(col("doc_id"), col("idx").as("sent_id"), col("span").as("sent_text"),
        col("n_tokens"), col("char_start"), col("char_end"))

  /** Derive a deterministic punctuated text column (doc_id, punct_text):
    * sentence windows joined with cycling terminators ('. ', '! ', '? ',
    * line break). The corpus has no punctuation of its own; this provides
    * real boundaries for the punctuation segmenter and its oracle. */
  def punctuated(docs: DataFrame): DataFrame =
    sentences(docs)
      .withColumn("piece", concat(col("sent_text"),
        element_at(array(lit(". "), lit("! "), lit("? "), lit("\n")),
          pmod(col("sent_id"), lit(4)).cast("int") + 1)))
      .groupBy("doc_id")
      .agg(Agg.orderedStringAgg(col("sent_id"), col("piece"), "").as("punct_text"))

  /** Punctuation-aware segmentation (reference:
    * fn/OpenNLPSentenceSegmentFn.java:64-130 — segment, then split on line
    * breaks): a sentence ends at [.!?] or a line break, terminator kept.
    * Implemented as regexp_extract_all with an RE2-compatible pattern (no
    * lookbehind) so the DuckDB oracle segments byte-identically. */
  def sentencesByPunct(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        posexplode(regexp_extract_all(col(textCol), lit("[^.!?\\n]+[.!?]?"), lit(0)))
          .as(Seq("pos", "raw")))
      .withColumn("sent_text", trim(col("raw")))
      .where(length(col("sent_text")) > 0)
      .select(col("doc_id"), col("pos").cast("long").as("sent_id"), col("sent_text"))

  /** Model-backed sentence-segmentation slot (reference:
    * fn/OpenNLPSentenceSegmentFn.java:64-130 — each document's text goes to
    * an OpenNLP maxent SentenceDetector, sentence Spans come back). The
    * segmenter runs as a per-partition subprocess kernel (infra/SubProcess —
    * ONE warm child per partition, framed stdin/stdout, same lifecycle as
    * Conllu.depParseKernel): the child answers one `start\tend` line per
    * sentence, the span list a real segmenter emits. The sandbox has no
    * model artifacts, so the deterministic stand-in serializes the engine's
    * own segmentation ([[sentences]]) and echoes it through /bin/cat — byte
    * identity, real framing, real child reuse; a cluster swaps `cmd` for an
    * OpenNLP wrapper and the payload column for the raw text bytes.
    * Sentence rows are rebuilt from the RETURNED spans alone (substring
    * against the doc text, token count re-derived), so a real child's
    * differing spans flow through unchanged. Output schema = [[sentences]]. */
  def sentencesKernel(docs: DataFrame,
                      cmd: Seq[String] = Seq("/bin/cat")): DataFrame = {
    import docs.sparkSession.implicits._
    val payloads = sentences(docs)
      .groupBy("doc_id")
      .agg(Agg.orderedStringAgg(col("sent_id"),
        concat(col("char_start").cast("string"), lit("\t"),
          col("char_end").cast("string")), "\n").as("spans"))
      .select(col("doc_id"), col("spans")).as[(Long, String)]
      .map { case (id, s) => (id, s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) }
    val returned = graft.infra.SubProcess.pipeFramed(payloads, cmd)
      .map { case (id, b) => (id, new String(b, java.nio.charset.StandardCharsets.UTF_8)) }
      .toDF("doc_id", "spans")
    returned
      .select(col("doc_id"), posexplode(split(col("spans"), "\n")).as(Seq("pos", "line")))
      // tolerate a line-printing child that terminates its output with a
      // trailing newline: split keeps the trailing empty string, which would
      // otherwise become a phantom null-span row
      .where(col("line") =!= "")
      .select(col("doc_id"), col("pos").cast("long").as("sent_id"),
        split(col("line"), "\t").getItem(0).cast("long").as("char_start"),
        split(col("line"), "\t").getItem(1).cast("long").as("char_end"))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .withColumn("sent_text",
        expr("substring(text, char_start + 1, char_end - char_start)"))
      .withColumn("n_tokens", size(split(col("sent_text"), " ")).cast("long"))
      .select(col("doc_id"), col("sent_id"), col("sent_text"), col("n_tokens"),
        col("char_start"), col("char_end"))
  }

  /** Filter unactionable documents and strip the trailing unactionable marker
    * section ('dup' marker plays the role of the reference's REF/SUPPL/ACK
    * trailing sections). */
  def filterUnactionable(docs: DataFrame): DataFrame =
    docs
      .where(col("lang").isin("en", "es", "de", "fr") && col("n_chars") >= 50)
      .withColumn("had_unactionable", col("text").endsWith(" dup"))
      .withColumn("actionable_text",
        when(col("had_unactionable"), expr(s"substring(text, 1, length(text) - 4)")).otherwise(col("text")))
      .select(col("doc_id"), col("actionable_text"), length(col("actionable_text")).cast("long").as("n_chars_actionable"),
        col("had_unactionable"))

  /** Deterministic collection assignment: source + id bucket; redo-collection
    * flag for the reference's rrun-*-assign-redo-collection stages. */
  def collectionAssign(docs: DataFrame, buckets: Int = 10): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(col("source"), lit("-"), pmod(col("doc_id"), lit(buckets)).cast("long")).as("collection"),
      (pmod(col("doc_id"), lit(97)) === 0).as("redo"))

  /** Augmented document text: appended augmentation block + offset of the
    * original/augmented boundary (reference keeps both texts aligned). */
  def augment(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(col("text"), lit("\n\n@@AUG@@")).as("aug_text"),
      (length(col("text")) + 2).cast("long").as("aug_offset"))

  /** Split serialized content into fixed-size chunks (order-preserving);
    * single scan, no join. */
  def chunkContent(docs: DataFrame, chunkChars: Int = ChunkChars): DataFrame =
    docs
      .withColumn("n_chunks", ceil(length(col("text")) / lit(chunkChars.toDouble)).cast("long"))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        expr(s"substring(text, CAST(chunk_id * $chunkChars + 1 AS INT), $chunkChars)").as("chunk"))

  /** chunkStride window/stride (tokens): chunk c covers ordinals
    * [c·s + 1, c·s + w], so consecutive chunks overlap by w − s tokens. */
  val StrideWindow = 8
  val StrideStep = 4

  /** doc_id, chunk_id, chunk_text, n_tokens, char_start, char_end —
    * overlapping token windows (window w, stride s), the RAG / pretraining
    * chunker that preserves context across chunk boundaries (the
    * fixed-char [[chunkContent]] severs it; cf. reference
    * `PipelineMain.chunkContent` which chunks for a storage limit, not for
    * retrieval). Each token fans out in-row to the ≤⌈w/s⌉ chunks containing
    * it (a bounded `sequence`+`explode`, never a self-join), then one
    * (doc, chunk) aggregation — the same single-shuffle shape as
    * [[sentences]], so the 100 TB cost is the w/s duplication factor and
    * nothing else. The lo-bound CASE keeps the integer division strictly
    * positive-operand, where Spark `div` and DuckDB `//` agree. */
  def chunkStride(docs: DataFrame, window: Int = StrideWindow, stride: Int = StrideStep): DataFrame =
    tokens(docs)
      .withColumn("chunk_id", explode(sequence(
        when(col("ord") <= window, lit(0L))
          .otherwise(expr(s"(ord - $window + $stride - 1) div $stride")),
        expr(s"(ord - 1) div $stride"))))
      .groupBy("doc_id", "chunk_id")
      .agg(
        Agg.orderedStringAgg(col("ord"), col("tok"), " ").as("chunk_text"),
        count(lit(1)).as("n_tokens"),
        min("char_start").as("char_start"),
        max("char_end").as("char_end"))

  /** Span-corruption geometry (T5/UL2 denoising prep): 3-token spans over
    * ~1/7 ≈ 15% of each doc's tokens. */
  val CorruptSpanLen = 3L
  val CorruptDenom = 7L

  /** doc_id, span_ord, start_ord, end_ord — the span-corruption PLAN for a
    * T5-style denoising objective (Raffel et al. 2020: mask ~15% of tokens
    * in mean-length-3 spans, one sentinel per span): which token ranges of
    * each document become sentinel targets. Deterministic evenly-spaced
    * geometry instead of RNG draws — the repo's reproducible-sampling
    * discipline (cf. doc_sample's hash permutation): span i starts at
    * i·(n div n_spans)+1, so the plan is a pure per-row arithmetic explode
    * (no shuffle at all) and both engines derive identical spans. Docs too
    * short to fund one full span emit nothing. The gap n div n_spans ≥ 21
    * whenever spans exist, so spans never overlap by construction. */
  def spanCorruption(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .withColumn("n_spans",
        expr(s"((n div $CorruptDenom) + ${CorruptSpanLen - 1}) div $CorruptSpanLen"))
      .where(col("n_spans") > 0)
      .withColumn("gap", expr("n div n_spans"))
      .select(col("doc_id"), col("n"), col("gap"),
        explode(sequence(lit(0L), col("n_spans") - 1)).as("span_ord"))
      .select(col("doc_id"), col("span_ord"),
        (col("span_ord") * col("gap") + lit(1L)).as("start_ord"),
        least(col("span_ord") * col("gap") + lit(CorruptSpanLen), col("n")).as("end_ord"))
}
