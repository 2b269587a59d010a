package graft.operators

import graft.functions.Hash60
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Percha-Altman bicluster corpus flow.
  *
  * The reference builds relation-classifier training data from the
  * Percha-Altman global-network files: part-i lists dependency paths with
  * per-theme (score, flagship-flag) column pairs; part-ii lists sentence
  * instances carrying entity metadata and the instance's dependency path;
  * the BERT file joins part-ii instances to the flagship themes of their
  * path, detokenizes, masks the entities, and dedups by sentence hash
  * (relation_extraction/bicluster/PerchaAltmanPartIFileParser.java,
  * PerchaAltmanPartIIFileParser.java, BertTrainingFileCreator.java).
  *
  * Spark-first: both files round-trip as line DataFrames; the path→theme
  * map is a join (broadcast — path-theme tables are vocabulary-sized),
  * never a driver-held HashMap; detokenize/mask are in-row string ops.
  */
object Bicluster {

  /** (symbol, enum name) — the themes this corpus exercises
    * (PerchaAltmanPartIFileParser.Theme:24-59). */
  val Themes: Seq[(String, String)] = Seq(
    "B" -> "B_BINDING",
    "E" -> "E_AFFECTS_EXPRESSION",
    "N" -> "N_INHIBITS",
    "Rg" -> "Rg_REGULATION",
    "T" -> "T_TREATMENT",
    "J" -> "J_ROLE_IN_PATHOGENESIS")

  def themesValuesSql: String =
    Themes.map { case (s, n) => s"('$s','$n')" }
      .mkString("(VALUES ", ", ", ") AS th(sym, theme)")

  /** Themes included in the BERT file (BertTrainingFileCreator.main's
    * themesToInclude subset — expression variants excluded). */
  val BertThemes: Seq[String] = Seq("B_BINDING", "E_AFFECTS_EXPRESSION", "Rg_REGULATION")

  /** The dependency-path key shared by part-i and part-ii rows (parse
    * lowercases the part-ii path — PerchaAltmanPartIIFileParser.java:82). */
  private def pathOf(subj: Column, obj: Column): Column =
    lower(concat(subj, lit("|rel|"), obj))

  /** Deterministic per-(path, theme) score and flagship flag (the corpus
    * statistics stand-in): score = hash‰, flagship when hash%5==0. */
  private def scoreU(path: Column, sym: String): Column =
    pmod(Hash60.id(concat(path, lit("|" + sym))), lit(1000L))

  /** OP×DS domain pairs as dependency paths. */
  private def paths(annots: DataFrame): DataFrame =
    Cooccurrence.pairCounts(Cooccurrence.unitConcepts(annots, Seq("doc_id")), Seq("doc_id"))
      .where(substring_index(col("concept1"), ":", 1) === "DS" &&
        substring_index(col("concept2"), ":", 1) === "OP")
      .select(pathOf(col("concept2"), col("concept1")).as("path"))
      .distinct()

  /** line_no, line — the part-i file: header (path + per-theme symbol/flag
    * column-header pairs, symbols at the odd indices getFileThemes reads),
    * then one row per path with `%.6f`-formatted scores and integer flags.
    * Data line_no starts at 1; ties to a path-ordered rank only for the
    * header/data split (line 0 = header), not for content. */
  def serializePartI(annots: DataFrame): DataFrame = {
    val spark = annots.sparkSession
    import spark.implicits._
    val header = Seq((0L,
      ("path" +: Themes.flatMap { case (s, _) => Seq(s, s + ".ind") }).mkString("\t")))
      .toDF("line_no", "line")
    val dataCols = Themes.flatMap { case (s, _) =>
      Seq(format_string("%.6f", scoreU(col("path"), s).cast("double") / 1000.0),
        (pmod(scoreU(col("path"), s), lit(5L)) === 0).cast("int").cast("string"))
    }
    val data = paths(annots)
      .select(lit(1L).as("line_no"),
        concat_ws("\t", col("path") +: dataCols: _*).as("line"))
    header.unionByName(data)
  }

  /** [[serializePartI]] staged ONCE per (process, corpus). The reference
    * models FILES written once by the Percha-Altman pipeline and read by
    * every consumer (PerchaAltmanPartIFileParser.java:88-179 takes a path);
    * the three bicluster queries each re-derived the serialize chain per
    * query — 3× the part-i cost per bench pass (VERDICT r11 item 4). */
  def stagedPartI(annots: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnce("bicluster_part_i", sfDir, serializePartI(annots), annots.sparkSession)

  /** [[serializePartII]] staged ONCE per (process, corpus) — same file
    * contract (PerchaAltmanPartIIFileParser.java reads the written file). */
  def stagedPartII(docs: DataFrame, annots: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnce("bicluster_part_ii", sfDir, serializePartII(docs, annots), docs.sparkSession)

  /** path, theme, score — the flagship (path, theme) rows parsed back from
    * the part-i lines (getFlagshipPaths:88-117 + getFlagshipThemeScore:
    * 164-179: per header theme, emit when the flag column > 0, score from
    * the column before it). The theme symbols are READ from the header
    * row and matched back to names through the broadcast symbol map. */
  def parsePartI(lines: DataFrame): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val headerSyms = lines.where(col("line_no") === 0)
      .select(posexplode(split(col("line"), "\t")).as(Seq("pos", "colname")))
      .where(col("pos") % 2 === 1) // odd indices are theme symbols
      .select(((col("pos") - 1) / 2).cast("int").as("ti"), col("colname").as("sym"))
    val data = lines.where(col("line_no") > 0)
      .select(split(col("line"), "\t").as("c"))
    data.crossJoin(broadcast(headerSyms))
      .select(element_at(col("c"), 1).as("path"), col("sym"),
        element_at(col("c"), col("ti") * 2 + 2).cast("double").as("score"),
        element_at(col("c"), col("ti") * 2 + 3).cast("long").as("flag"))
      .where(col("flag") > 0)
      .join(broadcast(Themes.toDF("sym", "theme")), "sym")
      .select("path", "theme", "score")
  }

  /** line — the part-ii file: one 14-column instance row per sentence
    * holding an OP and a DS mention (the lowest-ordinal mention of each
    * prefix — one instance per sentence, the file's granularity):
    * pmid, sentenceNum, e1NameFormatted, e1Span, e2NameFormatted, e2Span,
    * e1Raw, e2Raw, e1Ids, e2Ids, e1Type, e2Type, dependencyPath,
    * tokenizedSentence (PerchaAltmanPartIIFileParser.getSentence:67-89).
    * The tokenized sentence carries the Stanford-tokenizer artifacts
    * (`-LRB- x -RRB- ,` etc.) deTokenize must undo. */
  def serializePartII(docs: DataFrame, annots: DataFrame): DataFrame = {
    val w = TextOps.SentWindow
    val m = annots.select(col("doc_id"),
      expr(s"(ord - 1) div $w").as("sent_id"), col("ord"), col("tok"),
      col("concept_id"), col("char_start"), col("char_end"),
      substring_index(col("concept_id"), ":", 1).as("prefix"))
    def first(prefix: String, n: String) = m.where(col("prefix") === prefix)
      .groupBy("doc_id", "sent_id")
      .agg(min(struct(col("ord"), col("tok"), col("concept_id"),
        col("char_start"), col("char_end"))).as(n))
    val inst = first("OP", "e1").join(first("DS", "e2"), Seq("doc_id", "sent_id"))
    val sents = TextOps.sentences(docs).select(col("doc_id"), col("sent_id"), col("sent_text"))
    inst.join(sents, Seq("doc_id", "sent_id"))
      .select(concat_ws("\t",
        col("doc_id"), col("sent_id"),
        col("e1.tok"), concat_ws(",", col("e1.char_start"), col("e1.char_end")),
        col("e2.tok"), concat_ws(",", col("e2.char_start"), col("e2.char_end")),
        upper(col("e1.tok")), upper(col("e2.tok")),
        col("e1.concept_id"), col("e2.concept_id"),
        lit("OPERATION"), lit("DATASHAPE"),
        pathOf(col("e1.concept_id"), col("e2.concept_id")),
        concat(col("sent_text"), lit(" -LRB- ref -RRB- , end ."))).as("line"))
  }

  /** The parsed part-ii instances joined to their path's flagship themes
    * (getThemeToSentenceMap:42-65): theme, pmid, sentence_num,
    * entity1_name, entity2_name, entity1_type, entity2_type, dep_path,
    * tokenized_sentence. */
  def parsePartII(lines: DataFrame, pathThemes: DataFrame): DataFrame = {
    val c = split(col("line"), "\t")
    val inst = lines.select(
      c.getItem(0).cast("long").as("pmid"),
      c.getItem(1).cast("long").as("sentence_num"),
      c.getItem(2).as("entity1_name"), c.getItem(4).as("entity2_name"),
      c.getItem(10).as("entity1_type"), c.getItem(11).as("entity2_type"),
      lower(c.getItem(12)).as("dep_path"),
      c.getItem(13).as("tokenized_sentence"))
    inst.join(broadcast(pathThemes.select(col("path").as("dep_path"), col("theme"))),
      "dep_path")
      .select("theme", "pmid", "sentence_num", "entity1_name", "entity2_name",
        "entity1_type", "entity2_type", "dep_path", "tokenized_sentence")
  }

  /** deTokenize (BertTrainingFileCreator.java:160-169): undo the Stanford
    * bracket/punctuation tokenization — the reference's replaceAll regexes
    * verbatim. */
  private def deTokenize(c: Column): Column = {
    val steps: Seq[(String, String)] = Seq(
      "-LRB- " -> "(", "-LSB- " -> "[", " -RRB-" -> ")", " -RSB-" -> "]",
      " ," -> ",", " \\." -> ".")
    steps.foldLeft(c) { case (acc, (from, to)) => regexp_replace(acc, from, to) }
  }

  /** Replace the FIRST literal occurrence of `needle` in `hay` (the
    * reference's String.replaceFirst with a quoted literal) — instr +
    * substring arithmetic, no regex. */
  private def replaceFirst(hay: Column, needle: Column, to: Column): Column = {
    val i = instr(hay, needle)
    when(i > 0, concat(substring(hay, lit(1), i - 1), to,
      substring(hay, i + length(needle), length(hay)))).otherwise(hay)
  }

  /** sentence_id, sentence, label — the BERT training file
    * (createBertTrainingFile:93-110): instances of the included themes,
    * detokenized, entities replaced (first occurrence) by `@TYPE$`
    * placeholders, id = digest of the masked sentence, one row per
    * distinct id. The reference hashes with sha1; md5 here (DuckDB has no
    * sha1) — the same dedup-key role. Keep-min on the label resolves the
    * cross-theme id collision deterministically (the reference keeps the
    * first theme iterated — JVM set order; min(label) is the well-defined
    * choice). */
  def bertTrainingLines(sentences: DataFrame): DataFrame = {
    val included = sentences.where(col("theme").isin(BertThemes: _*))
    val detok = deTokenize(col("tokenized_sentence"))
    // getPlaceholder(entityType) = "@" + TYPE.toUpperCase + "$"
    def ph(t: Column) = concat(lit("@"), upper(t), lit("$"))
    val masked = replaceFirst(
      replaceFirst(detok, col("entity1_name"), ph(col("entity1_type"))),
      col("entity2_name"), ph(col("entity2_type")))
    included
      .select(lower(col("theme")).as("label0"), masked.as("sentence"))
      .withColumn("sentence_id", md5(col("sentence")))
      .groupBy("sentence_id", "sentence")
      .agg(min(col("label0")).as("label"))
  }
}
