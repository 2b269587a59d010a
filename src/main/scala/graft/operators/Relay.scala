package graft.operators

import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SemMedDB relay-session results compilation.
  *
  * The reference compiles the February-2023 relay annotation session's
  * results CSV — rows of (feedback_id, predication_id, answer_id, answer,
  * response) — into accuracy rollups
  * (reference: corpora/semmed/SemmedDbFebRelayResultsCompiler.java):
  * overall accuracy (:63-131), the incorrect-reason distribution
  * (:133-212), the improvement distribution (:214-340), and accuracy split
  * by subject semantic type (:342-447) and by sentence complexity
  * (:449-556) against the sample-metadata CSV (:558-586). Its resolution
  * rule: a predication any reviewer marked "Assertion Incorrect" is
  * incorrect; otherwise one "Assertion Correct" makes it correct.
  *
  * The reference streams each file 2-4 times through driver-side HashMaps;
  * Spark-first each rollup is one or two aggregations over the parsed
  * results table, and the per-predication resolution is a single groupBy.
  * Where the reference's HashMap bookkeeping is insertion-order-dependent
  * (the LAST file row wins when one predication has several qualifying
  * feedback sessions), the order is determinized as the MAXIMUM feedback
  * id — identical on any input where a predication carries at most one
  * incorrect-marking session, and well-defined everywhere.
  *
  * The synthetic relay universe derives from `orders` (one predication per
  * order, deterministic o_orderkey channels), the same stand-in device the
  * OgerDict family uses over `part`.
  */
object Relay {

  val AssertionCorrect = "Assertion Correct"
  val AssertionIncorrect = "Assertion Incorrect"

  /** UMLS semantic types bucketed as CHEMICAL
    * (SemmedDbFebRelayResultsCompiler.java:27-29). */
  val ChemicalTypes: Seq[String] = Seq("aapp", "antb", "bacs", "bodm", "chem",
    "chvf", "chvs", "clnd", "elii", "enzy", "hops", "horm", "imft", "irda",
    "inch", "nnon", "orch", "phsu", "rcpt", "vita")

  /** UMLS semantic types bucketed as TREATMENT (:30-31). */
  val TreatmentTypes: Seq[String] = Seq("diap", "edac", "hlca", "lbpr", "mbrt",
    "resa", "topp", "drdd", "medd", "resd")

  /** The two hard-coded test predication ids the compiler skips (:89). */
  val TestPredicationIds: Seq[String] = Seq("10595361", "10612762")

  val Reasons: Seq[String] = Seq("Subject entity incorrect",
    "Object entity incorrect", "Predicate incorrect", "Assertion out of context")

  val Improvements: Seq[String] = Seq("Could be more specific", "Negation missed")

  /** The feedback-UI base the relay evaluation sheets link to (reference:
    * corpora/semmed/SemmedDbFebRelay2023GoogleSheetsCreator.java:79). */
  val BaseTmuiUrl = "https://tmui.text-mining-kp.org/semmed/predication"

  /** predication_id, ui_url, reviewed — the 2-column google-sheet row
    * contract of the Feb-2023 relay evaluation sheets (reference: corpora/
    * semmed/SemmedDbFebRelay2023GoogleSheetsCreator.java:55-58: per sampled
    * predication, (1) a link to the feedback UI — :396 uri =
    * BASE_TMUI_URL/predicationId — and (2) a reviewed checkbox, initially
    * unchecked). The Sheets OAuth/API plumbing is out of scope; this is the
    * row-content kernel, one distinct projection over the sampled ids. */
  def sheetRows(metadata: DataFrame): DataFrame =
    metadata.select(col("predication_id")).distinct()
      .select(col("predication_id"),
        concat(lit(BaseTmuiUrl + "/"), col("predication_id")).as("ui_url"),
        lit(false).as("reviewed"))

  private val k = col("o_orderkey")

  // ------------------------------------------------------------- serialize

  /** line — the results CSV: header-less rows
    * `feedback_id,predication_id,answer_id,answer,response`. Deterministic
    * channels per order key k: feedback session 1 marks k%5==0 incorrect
    * (with a reason row) and the rest correct (k%3==0 adding an improvement
    * row); a second session on k%7==0 always marks correct — so k%35==0
    * exercises the any-incorrect-wins rule and k%7==0 gives the IAA pairs;
    * k%50∈{0,1} plants the test-record predication ids the compiler must
    * skip. No field contains a comma, so the CSV needs no quoting. */
  def serializeResults(orders: DataFrame): DataFrame = {
    val f1 = concat(lit("FB"), k * 10 + 1)
    val f2 = concat(lit("FB"), k * 10 + 2)
    val pid = k.cast("string")
    def row(fb: Column, aid: Int, answer: Column): Column =
      concat_ws(",", fb, pid, concat(lit("A"), k * 10 + aid), answer, lit("resp"))
    val incorrect = k % 5 === 0
    val rows = array(
      when(incorrect, row(f1, 1, lit(AssertionIncorrect)))
        .otherwise(row(f1, 1, lit(AssertionCorrect))),
      when(incorrect, row(f1, 2, element_at(lit(Reasons.toArray), (k % 4 + 1).cast("int")))),
      when(!incorrect && k % 3 === 0,
        row(f1, 3, element_at(lit(Improvements.toArray), (k % 2 + 1).cast("int")))),
      when(k % 7 === 0, row(f2, 4, lit(AssertionCorrect))),
      when(k % 50 === 0, concat_ws(",",
        concat(lit("FBTEST"), k), lit(TestPredicationIds.head),
        concat(lit("AT"), k), lit(AssertionCorrect), lit("resp"))),
      when(k % 50 === 1, concat_ws(",",
        concat(lit("FBTEST"), k), lit(TestPredicationIds(1)),
        concat(lit("AT"), k), lit(AssertionIncorrect), lit("resp"))))
    orders.select(explode(filter(rows, r => r.isNotNull)).as("line"))
  }

  /** line — the sample-metadata CSV (semmed_treats_sample_5000.csv shape,
    * getPredicationIdToMetadataMap:558-586): header line 0, then
    * `predication_id,intervening,sentence_tokens,pmid_count,subj_obj`. */
  def serializeMetadata(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val header = Seq((0L, "predication_id,intervening_token_count,sentence_token_count,pmid_count,semtypes"))
      .toDF("line_no", "line")
    val subjType = when(k % 2 === 0,
      element_at(lit(ChemicalTypes.toArray), (k % 20 + 1).cast("int")))
      .otherwise(element_at(lit(TreatmentTypes.toArray), (k % 10 + 1).cast("int")))
    val data = orders.select(lit(1L).as("line_no"), concat_ws(",",
      k.cast("string"), (k % 23).cast("string"), (k % 30 + 12).cast("string"),
      (k % 7 + 1).cast("string"), concat(subjType, lit("_dsyn"))).as("line"))
    header.unionByName(data)
  }

  // ------------------------------------- metadata retriever (enrichment)

  val SubjectPlaceholder = "@CHEMICAL$"
  val ObjectPlaceholder = "@DISEASE$"

  /** line — the relay sample-sentences CSV (SemmedDbMetadataRetriever
    * .compileMetadata:491-539 consumes indices {2,4,5,10,14,18,26,29-31,
    * 35,38-40} of the 44-column SemMedDB dump; modeled here as the consumed
    * projection in a documented order: predication_id, zone, subject_score,
    * object_score, subject_cui, object_cui, sent_start, sentence,
    * subject_text, subj_start, subj_end, object_text, obj_start, obj_end).
    *
    * Channels: CUIs are SHARED across predications (subject C{k%50},
    * object C{k%30+50}) so the cui-keyed map joins are genuinely
    * many-to-one; the sentence carries exact entity spans in DOCUMENT
    * coordinates with sent_start as the offset; the subject precedes the
    * object for even k and follows it for odd k (both placeholder-
    * replacement orderings exercised); the `%41` channel shifts the
    * subject span by one so the covered-text check has a negative class. */
  def serializeSampleSentences(orders: DataFrame): DataFrame = {
    val subjText = concat(lit("drug"), k % 50)
    val objText = concat(lit("cond"), k % 30 + 50)
    val sentStart = k % 17
    val subjFirst = k % 2 === 0
    val sentence = when(subjFirst, concat(subjText, lit(" treats "), objText))
      .otherwise(concat(objText, lit(" occurs with "), subjText))
    val subjOff = when(subjFirst, lit(0L)).otherwise(length(objText) + 13)
    val objOff = when(subjFirst, length(subjText) + 8).otherwise(lit(0L))
    val subjStart = sentStart + subjOff + when(k % 41 === 0, 1L).otherwise(0L)
    val zone = element_at(lit(Array("title", "abstract", "body")), (k % 3 + 1).cast("int"))
    orders.select(concat_ws(",",
      k.cast("string"), zone,
      Num.r6((k % 100).cast("double") / 100.0), Num.r6((k % 90).cast("double") / 90.0),
      concat(lit("C"), k % 50), concat(lit("C"), k % 30 + 50),
      sentStart, sentence, subjText,
      subjStart, subjStart + length(subjText),
      objText, sentStart + objOff, sentStart + objOff + length(objText)).as("line"))
  }

  /** The parsed sample-sentences rows (compileMetadata's Metadata). */
  def parseSampleSentences(lines: DataFrame): DataFrame = {
    val c = split(col("line"), ",")
    lines.select(
      c.getItem(0).as("predication_id"), c.getItem(1).as("zone"),
      c.getItem(2).cast("double").as("subject_score"),
      c.getItem(3).cast("double").as("object_score"),
      c.getItem(4).as("subject_cui"), c.getItem(5).as("object_cui"),
      c.getItem(6).cast("long").as("sent_start"), c.getItem(7).as("sentence"),
      c.getItem(8).as("subject_text"),
      c.getItem(9).cast("long").as("subj_start"), c.getItem(10).cast("long").as("subj_end"),
      c.getItem(11).as("object_text"),
      c.getItem(12).cast("long").as("obj_start"), c.getItem(13).cast("long").as("obj_end"))
  }

  /** predication_id, is_treats — the parsed BERT classifier output
    * (parseBertOutputFile:347-365), a deterministic channel per
    * predication. */
  def bertOutput(orders: DataFrame): DataFrame =
    orders.select(k.cast("string").as("predication_id"),
      (k % 2 === 0).as("is_treats"))

  /** cui, nn_ic — the node-norm information-content map
    * (getCuiToNodeNormInformationContentMap; PARTIAL: some CUIs have no
    * IC, the `%5` channel) keyed by the SHARED cui universe. */
  def nodeNormIc(orders: DataFrame): DataFrame =
    orders.select(explode(array(k % 50, k % 30 + 50)).as("i")).distinct()
      .where(col("i") % 5 =!= 1)
      .select(concat(lit("C"), col("i")).as("cui"),
        Num.r6(col("i").cast("double") / 97.0).as("nn_ic"))

  /** cui, idf — the cui2idf map (loadCuiToIdfMap:60-100; PARTIAL via the
    * `%4` channel). */
  def cuiIdf(orders: DataFrame): DataFrame =
    orders.select(explode(array(k % 50, k % 30 + 50)).as("i")).distinct()
      .where(col("i") % 4 =!= 3)
      .select(concat(lit("C"), col("i")).as("cui"),
        Num.r6(log(lit(1.0) + (col("i") % 13).cast("double"))).as("idf"))

  /** The updated-metadata file (writeUpdatedMetadataFile:553-600): the
    * existing metadata rows LEFT-enriched with the sentence metadata's
    * zone/scores, the classifier's treats flag, and the PARTIAL cui-keyed
    * node-norm-IC and IDF maps for both entities (absent keys → null,
    * exactly the reference's null-printing format columns). */
  def enrichedMetadata(metadata: DataFrame, sampleSentences: DataFrame,
                       bert: DataFrame, nnIc: DataFrame, idf: DataFrame): DataFrame = {
    val sm = sampleSentences.select("predication_id", "zone", "subject_score",
      "object_score", "subject_cui", "object_cui")
    metadata
      .join(sm, Seq("predication_id"))
      .join(bert, Seq("predication_id"))
      .join(broadcast(nnIc.select(col("cui").as("subject_cui"), col("nn_ic").as("subj_nn_ic"))),
        Seq("subject_cui"), "left_outer")
      .join(broadcast(nnIc.select(col("cui").as("object_cui"), col("nn_ic").as("obj_nn_ic"))),
        Seq("object_cui"), "left_outer")
      .join(broadcast(idf.select(col("cui").as("subject_cui"), col("idf").as("subj_idf"))),
        Seq("subject_cui"), "left_outer")
      .join(broadcast(idf.select(col("cui").as("object_cui"), col("idf").as("obj_idf"))),
        Seq("object_cui"), "left_outer")
      .select(col("predication_id"), col("intervening_token_count"),
        col("sentence_token_count"), col("pmid_count"), col("subject_type"),
        col("object_type"), col("zone"), col("subject_score"), col("object_score"),
        col("is_treats").as("tmkp_treats"), col("subj_nn_ic"), col("obj_nn_ic"),
        col("subj_idf"), col("obj_idf"))
  }

  /** predication_id, sentence_with_placeholders, valid — the BERT input
    * file (writeBertInputFile:370-381 + getSentenceWithPlaceholders:
    * 385-398): span-anchored placeholder replacement performed LATER
    * ENTITY FIRST so the earlier span stays valid, with the reference's
    * covered-text equality check (:425-437 — it throws; here the failing
    * `%41` channel rows surface as valid=false with a null sentence,
    * the repo's spanValidate convention). All column arithmetic; spans
    * are document-relative minus sent_start. */
  def relayBertInput(sampleSentences: DataFrame): DataFrame = {
    val s = col("sentence")
    def rel(c: Column): Column = c - col("sent_start") + 1 // 1-based substr
    val subjOk = substring(s, rel(col("subj_start")).cast("int"),
      (col("subj_end") - col("subj_start")).cast("int")) === col("subject_text")
    val objOk = substring(s, rel(col("obj_start")).cast("int"),
      (col("obj_end") - col("obj_start")).cast("int")) === col("object_text")
    // cut the sentence at both spans directly (they never overlap) — the
    // reference's replace-later-entity-first ordering realized as one
    // 5-piece concat per branch
    val ss = rel(col("subj_start")).cast("int")
    val os = rel(col("obj_start")).cast("int")
    val subjFirst = col("subj_start") < col("obj_start")
    val masked = when(subjFirst,
      concat(substring(s, lit(1), ss - 1), lit(SubjectPlaceholder),
        expr("substr(sentence, cast(subj_end - sent_start + 1 as int), cast(obj_start - subj_end as int))"),
        lit(ObjectPlaceholder),
        expr("substr(sentence, cast(obj_end - sent_start + 1 as int))")))
      .otherwise(
        concat(substring(s, lit(1), os - 1), lit(ObjectPlaceholder),
          expr("substr(sentence, cast(obj_end - sent_start + 1 as int), cast(subj_start - obj_end as int))"),
          lit(SubjectPlaceholder),
          expr("substr(sentence, cast(subj_end - sent_start + 1 as int))")))
    sampleSentences.select(col("predication_id"),
      when(subjOk && objOk, masked).as("sentence_with_placeholders"),
      (subjOk && objOk).as("valid"))
  }

  /** [[serializeResults]] staged ONCE per (process, corpus): the reference
    * compiles a results FILE, and every rollup here references the parsed
    * rows several times (resolution + winners + counts) — without the
    * staged artifact each reference re-derives the serialize chain
    * (measured 5.1 s isolated for relay_improvements; file-backed, the
    * re-references are cheap parquet scans). */
  def stagedResults(orders: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnce("relay_results", sfDir, serializeResults(orders), orders.sparkSession)

  /** [[serializeMetadata]] staged ONCE per (process, corpus). */
  def stagedMetadata(orders: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnce("relay_metadata", sfDir, serializeMetadata(orders), orders.sparkSession)

  /** The PARSED results table staged once per (process, corpus), BUCKETED
    * by predication_id: the reference's compiler reads the CSV once into
    * memory and every rollup works off the parsed rows — here the rollups'
    * resolve/winner/count aggregations and self-joins all key on
    * predication_id, so the bucketed layout runs them exchange-free on the
    * scan sides (the line parse itself is a one-time projection, not
    * per-query work). */
  def stagedParsedResults(orders: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnceBucketed("relay_results_parsed", sfDir,
      parseResults(stagedResults(orders, sfDir)), orders.sparkSession,
      "predication_id")

  /** The parsed metadata table, same contract as [[stagedParsedResults]]. */
  def stagedParsedMetadata(orders: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnceBucketed("relay_metadata_parsed", sfDir,
      parseMetadata(stagedMetadata(orders, sfDir)), orders.sparkSession,
      "predication_id")

  /** The parsed sample-sentences table, same contract. */
  def stagedParsedSampleSentences(orders: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnceBucketed("relay_samples_parsed", sfDir,
      parseSampleSentences(stagedSampleSentences(orders, sfDir)),
      orders.sparkSession, "predication_id")

  /** [[serializeSampleSentences]] staged ONCE per (process, corpus). */
  def stagedSampleSentences(orders: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnce("relay_sample_sentences", sfDir, serializeSampleSentences(orders),
      orders.sparkSession)

  // ----------------------------------------------------------------- parse
  //
  // INVARIANT shared by parseResults / parseMetadata / parseSampleSentences:
  // lines split on BARE commas with no quote handling. This is correct only
  // because the serialize* builders above guarantee comma-free fields (the
  // documented contract on serializeResults); the reference reads real
  // SemMedDB exports through a quote-aware CSVReader, and a free-text
  // sentence or response field containing a comma would silently mis-split
  // here. If these parsers are ever pointed at real exports, parse with
  // from_csv (quote-aware) instead of split.

  /** feedback_id, predication_id, answer_id, answer, response — the parsed
    * results rows (the compiler's per-line CSVReader, test records NOT yet
    * removed: each rollup applies the :89 skip itself, as the reference
    * does per method). */
  def parseResults(lines: DataFrame): DataFrame = {
    val c = split(col("line"), ",")
    lines.select(c.getItem(0).as("feedback_id"), c.getItem(1).as("predication_id"),
      c.getItem(2).as("answer_id"), c.getItem(3).as("answer"), c.getItem(4).as("response"))
  }

  /** predication_id, intervening_token_count, sentence_token_count,
    * pmid_count, subject_type, object_type (:558-586; header skipped,
    * semtypes split on '_'). */
  def parseMetadata(lines: DataFrame): DataFrame = {
    val c = split(col("line"), ",")
    lines.where(col("line_no") > 0)
      .select(c.getItem(0).as("predication_id"),
        c.getItem(1).cast("int").as("intervening_token_count"),
        c.getItem(2).cast("int").as("sentence_token_count"),
        c.getItem(3).cast("int").as("pmid_count"),
        split(c.getItem(4), "_").getItem(0).as("subject_type"),
        split(c.getItem(4), "_").getItem(1).as("object_type"))
  }

  private def nonTest(results: DataFrame): DataFrame =
    results.where(!col("predication_id").isin(TestPredicationIds: _*))

  /** predication_id, answer — the any-incorrect-wins resolution
    * (:100-106): one groupBy in place of the reference's two-branch
    * HashMap put. Predications whose rows carry neither verdict answer
    * (reason/improvement-only, impossible in practice) resolve to no row,
    * matching the map never being populated. */
  def resolve(results: DataFrame): DataFrame =
    nonTest(results)
      .where(col("answer").isin(AssertionCorrect, AssertionIncorrect))
      .groupBy("predication_id")
      .agg(max((col("answer") === AssertionIncorrect).cast("int")).as("inc"))
      .select(col("predication_id"),
        when(col("inc") === 1, AssertionIncorrect).otherwise(AssertionCorrect).as("answer"))

  // --------------------------------------------------------------- rollups

  /** One card row (computeOverallSemmedAccuracy:63-131): n_reviewed =
    * distinct feedback ids, n_unique = resolved predications, correct /
    * incorrect counts, accuracy as a 6dp-rounded exact-integer ratio. */
  def overallAccuracy(results: DataFrame): DataFrame = {
    val res = resolve(results)
    val fb = nonTest(results).select(countDistinct(col("feedback_id")).as("n_reviewed"))
    res.agg(
        count(lit(1)).as("n_unique"),
        sum((col("answer") === AssertionCorrect).cast("long")).as("correct_count"),
        sum((col("answer") === AssertionIncorrect).cast("long")).as("incorrect_count"))
      .crossJoin(broadcast(fb))
      .select(col("n_reviewed"), col("n_unique"), col("correct_count"), col("incorrect_count"),
        Num.r6(col("correct_count").cast("double") /
          (col("correct_count") + col("incorrect_count")).cast("double")).as("accuracy"))
  }

  /** answer, n, fraction (computeIncorrectReasonDistribution:133-212):
    * every answer given by a feedback session that marked a predication
    * incorrect (the winning session per incorrect predication — max
    * feedback id stands in for the reference's last-file-row HashMap put),
    * fraction over the incorrect-predication count. The reference does NOT
    * apply the test-record skip in its counting pass (:181-205) — kept:
    * only the winning-session membership gates the count. */
  def incorrectReasonDistribution(results: DataFrame): DataFrame = {
    val winners = nonTest(results)
      .where(col("answer") === AssertionIncorrect)
      .groupBy("predication_id").agg(max(col("feedback_id")).as("feedback_id"))
    val nIncorrect = winners.select(count(lit(1)).as("n_incorrect"))
    results
      .join(broadcast(winners.select("feedback_id").distinct()), Seq("feedback_id"))
      .groupBy("answer").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(nIncorrect))
      .select(col("answer"), col("n"),
        Num.r6(col("n").cast("double") / col("n_incorrect").cast("double")).as("fraction"))
  }

  /** answer, n, fraction (computeImprovementDistribution:214-340):
    * answers of the winning feedback session of each correct-resolved
    * predication (max feedback id for the reference's last-row-wins),
    * fraction over the "Assertion Correct" row count. */
  def improvementDistribution(results: DataFrame): DataFrame = {
    val correct = resolve(results).where(col("answer") === AssertionCorrect)
      .select("predication_id")
    val winners = nonTest(results)
      .join(correct, Seq("predication_id"), "left_semi")
      .groupBy("predication_id").agg(max(col("feedback_id")).as("feedback_id"))
    // counts and their denominator (the "Assertion Correct" row count) come
    // out of ONE derivation: grouped counts collect into a single row and
    // the denominator is an in-row fold over that (answer-cardinality-sized)
    // array — no second pass over the winner join
    nonTest(results)
      .join(winners, Seq("predication_id", "feedback_id"))
      .groupBy("answer").agg(count(lit(1)).as("n"))
      .agg(collect_list(struct(col("answer"), col("n"))).as("cs"))
      .select(explode(col("cs")).as("e"),
        expr(s"aggregate(filter(cs, x -> x.answer = '$AssertionCorrect'), 0L, (a, x) -> a + x.n)")
          .as("n_correct"))
      .select(col("e.answer").as("answer"), col("e.n").as("n"),
        Num.r6(col("e.n").cast("double") / col("n_correct").cast("double")).as("fraction"))
  }

  /** subject_group, correct_count, incorrect_count, total, accuracy
    * (computeSemmedAccuracyBySubjectType:342-447): resolved predications
    * joined to the metadata, bucketed CHEMICAL vs TREATMENT; predications
    * missing from the metadata are skipped (:404-407). */
  def accuracyBySubjectType(results: DataFrame, metadata: DataFrame): DataFrame =
    resolve(results)
      .join(metadata.select("predication_id", "subject_type"), Seq("predication_id"))
      .withColumn("subject_group",
        when(col("subject_type").isin(ChemicalTypes: _*), "CHEMICAL")
          .when(col("subject_type").isin(TreatmentTypes: _*), "TREATMENT"))
      .where(col("subject_group").isNotNull)
      .groupBy("subject_group")
      .agg(sum((col("answer") === AssertionCorrect).cast("long")).as("correct_count"),
        sum((col("answer") === AssertionIncorrect).cast("long")).as("incorrect_count"))
      .select(col("subject_group"), col("correct_count"), col("incorrect_count"),
        (col("correct_count") + col("incorrect_count")).as("total"),
        Num.r6(col("correct_count").cast("double") /
          (col("correct_count") + col("incorrect_count")).cast("double")).as("accuracy"))

  /** complexity (LOW/HIGH), correct_count, incorrect_count, total,
    * accuracy (computeSemmedAccuracyBySentenceComplexity:449-556):
    * LOW ⇔ intervening_token_count ≤ 10. */
  def accuracyByComplexity(results: DataFrame, metadata: DataFrame): DataFrame =
    resolve(results)
      .join(metadata.select("predication_id", "intervening_token_count"), Seq("predication_id"))
      .withColumn("complexity",
        when(col("intervening_token_count") <= 10, "LOW").otherwise("HIGH"))
      .groupBy("complexity")
      .agg(sum((col("answer") === AssertionCorrect).cast("long")).as("correct_count"),
        sum((col("answer") === AssertionIncorrect).cast("long")).as("incorrect_count"))
      .select(col("complexity"), col("correct_count"), col("incorrect_count"),
        (col("correct_count") + col("incorrect_count")).as("total"),
        Num.r6(col("correct_count").cast("double") /
          (col("correct_count") + col("incorrect_count")).cast("double")).as("accuracy"))

  /** One card row: n_pairs, agree_count, po, pe, kappa —
    * inter-annotator agreement over predications reviewed by exactly two
    * feedback sessions. The reference declares this computation
    * (computeIaa:598) but ships an EMPTY body; the semantics here are the
    * repo's chance-corrected agreement (Eval.tokenKappa's po/pe recipe)
    * applied to the relay verdicts: per (predication, session) any-
    * incorrect-wins verdict, sessions ordered by feedback id, po = observed
    * agreement, pe from the two sides' correct-rate marginals. Exact
    * integer counts; 6dp rounding only at the output. */
  def relayIaa(results: DataFrame): DataFrame = {
    val verdicts = nonTest(results)
      .where(col("answer").isin(AssertionCorrect, AssertionIncorrect))
      .groupBy("predication_id", "feedback_id")
      .agg(max((col("answer") === AssertionIncorrect).cast("int")).as("inc"))
    val paired = verdicts
      .groupBy("predication_id")
      .agg(count(lit(1)).as("n_sessions"),
        min(struct(col("feedback_id"), col("inc"))).as("a"),
        max(struct(col("feedback_id"), col("inc"))).as("b"))
      .where(col("n_sessions") === 2)
      .select(col("a.inc").as("a"), col("b.inc").as("b"))
    paired.agg(
        count(lit(1)).as("n_pairs"),
        sum((col("a") === col("b")).cast("long")).as("agree_count"),
        sum((col("a") === 0).cast("long")).as("a_correct"),
        sum((col("b") === 0).cast("long")).as("b_correct"))
      .withColumn("po", col("agree_count").cast("double") / col("n_pairs").cast("double"))
      .withColumn("pe",
        (col("a_correct") * col("b_correct") +
          (col("n_pairs") - col("a_correct")) * (col("n_pairs") - col("b_correct")))
          .cast("double") / (col("n_pairs") * col("n_pairs")).cast("double"))
      .select(col("n_pairs"), col("agree_count"),
        Num.r6(col("po")).as("po"), Num.r6(col("pe")).as("pe"),
        Num.r6(when(col("pe") === 1.0, 0.0)
          .otherwise((col("po") - col("pe")) / (lit(1.0) - col("pe")))).as("kappa"))
  }
}
