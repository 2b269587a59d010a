package graft.oracle

import graft.functions.{ConceptDict, Hash60}
import graft.operators.{Cooccurrence, Dedup, Embeddings, LabelQa, SentencePairs, TextOps, TextStats, XmlIngest}

/** DuckDB oracle SQL for every oracle-checked query in SparkEntry.queries.
  *
  * Each statement mirrors the corresponding Spark plan's semantics — and,
  * for float outputs, its expression STRUCTURE (same operation order), so
  * IEEE math agrees to well below the 6dp rounding applied on both sides.
  * Dictionary/ancestor/hash-parameter literals are generated from the same
  * Scala constants the engine uses (single source of truth).
  */
object OracleSql {

  private val W = TextOps.SentWindow

  // ---------- shared CTE fragments ----------

  /** token stream with 1-based ordinals and char spans */
  private val tokCte =
    s"""tok0 AS (
       |  SELECT doc_id,
       |         unnest(string_split(text, ' ')) AS tok,
       |         CAST(unnest(range(1, len(string_split(text, ' ')) + 1)) AS BIGINT) AS ord
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, ord, tok,
       |    CAST(sum(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY ord) - 1 - length(tok) AS BIGINT) AS char_start,
       |    CAST(sum(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS BIGINT) AS char_end
       |  FROM tok0)""".stripMargin

  /** dictionary-recognized concepts (post OGER-style filters) */
  private val conCte =
    s"""con AS (
       |  SELECT t.doc_id, dict.concept_id, t.ord, t.tok, t.char_start, t.char_end
       |  FROM tok t JOIN ${ConceptDict.dictValuesSql} ON t.tok = dict.tok
       |  WHERE length(t.tok) > 1 AND NOT regexp_matches(t.tok, '^[0-9[:punct:]]+$$'))""".stripMargin

  /** post-processed concepts: span dedup + nested-annotation removal */
  private val ppCte =
    s"""ppd AS (SELECT DISTINCT doc_id, concept_id, ord, tok, char_start, char_end FROM con),
       |pp AS (
       |  SELECT a.* FROM ppd a WHERE NOT EXISTS (
       |    SELECT 1 FROM ppd b WHERE b.doc_id = a.doc_id AND b.char_start <= a.char_start
       |      AND a.char_end <= b.char_end
       |      AND (b.char_end - b.char_start) > (a.char_end - a.char_start)))""".stripMargin

  /** document-level distinct concept sets, ancestor-expanded */
  private val unitsDocCte =
    s"""base_doc AS (SELECT DISTINCT doc_id, concept_id FROM pp),
       |units_doc AS (
       |  SELECT doc_id, concept_id FROM base_doc
       |  UNION
       |  SELECT b.doc_id, anc.ancestor_id AS concept_id
       |  FROM base_doc b JOIN ${ConceptDict.ancestorsValuesSql} ON b.concept_id = anc.concept_id)""".stripMargin

  private val unitsSentCte =
    s"""base_sent AS (SELECT DISTINCT doc_id, (ord - 1) // $W AS sent_id, concept_id FROM pp),
       |units_sent AS (
       |  SELECT doc_id, sent_id, concept_id FROM base_sent
       |  UNION
       |  SELECT b.doc_id, b.sent_id, anc.ancestor_id AS concept_id
       |  FROM base_sent b JOIN ${ConceptDict.ancestorsValuesSql} ON b.concept_id = anc.concept_id)""".stripMargin

  private def docPipeline(extra: String*): String =
    (Seq(tokCte, conCte, ppCte) ++ extra).mkString("WITH ", ",\n", "\n")

  // ---------- A. ingest & prep ----------

  val tokens: String =
    s"WITH $tokCte\nSELECT doc_id, ord, tok, char_start, char_end FROM tok"

  val sentences: String =
    s"""WITH $tokCte
       |SELECT doc_id, (ord - 1) // $W AS sent_id,
       |  string_agg(tok, ' ' ORDER BY ord) AS sent_text,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  min(char_start) AS char_start, max(char_end) AS char_end
       |FROM tok GROUP BY doc_id, (ord - 1) // $W""".stripMargin

  val docFilter: String =
    s"""SELECT doc_id,
       |  CASE WHEN text LIKE '% dup' THEN substr(text, 1, length(text) - 4) ELSE text END AS actionable_text,
       |  CAST(length(CASE WHEN text LIKE '% dup' THEN substr(text, 1, length(text) - 4) ELSE text END) AS BIGINT) AS n_chars_actionable,
       |  (text LIKE '% dup') AS had_unactionable
       |FROM documents WHERE lang IN ('en', 'es', 'de', 'fr') AND n_chars >= 50""".stripMargin

  val collectionAssign: String =
    s"""SELECT doc_id, source,
       |  source || '-' || CAST(doc_id % 10 AS BIGINT) AS collection,
       |  (doc_id % 97 = 0) AS redo
       |FROM documents""".stripMargin

  val docAugment: String =
    s"""SELECT doc_id, text || chr(10) || chr(10) || '@@AUG@@' AS aug_text,
       |  CAST(length(text) + 2 AS BIGINT) AS aug_offset
       |FROM documents""".stripMargin

  val chunkContent: String =
    s"""WITH base AS (
       |  SELECT doc_id, text, CAST(ceil(length(text) / ${TextOps.ChunkChars}.0) AS BIGINT) AS n_chunks
       |  FROM documents)
       |SELECT doc_id, CAST(u.chunk_id AS BIGINT) AS chunk_id,
       |  substr(text, CAST(u.chunk_id * ${TextOps.ChunkChars} + 1 AS INT), ${TextOps.ChunkChars}) AS chunk
       |FROM base, unnest(generate_series(0, n_chunks - 1)) AS u(chunk_id)""".stripMargin

  // ---------- B. NLP core ----------

  val concepts: String =
    s"WITH $tokCte,\n$conCte\nSELECT doc_id, concept_id, ord, tok, char_start, char_end FROM con"

  val conceptsPp: String =
    docPipeline() + "SELECT doc_id, concept_id, ord, tok, char_start, char_end FROM pp"

  /** Brat round-trip import lands back on the post-processed annotation set
    * (minus ord, which standoff lines don't carry). */
  val bratImport: String =
    docPipeline() + "SELECT doc_id, concept_id, char_start, char_end, tok FROM pp"

  /** PubAnnotation round-trip import lands back on the same set: the JSON
    * denotations carry (span, obj) and the covered text is recovered by
    * substring over the document text — which equals pp's tok because token
    * spans index into the space-joined text exactly. */
  val pubannotationImport: String =
    docPipeline() + "SELECT doc_id, concept_id, char_start, char_end, tok FROM pp"

  val crfOverlap: String =
    docPipeline(
      """crf AS (SELECT doc_id, char_start, char_end FROM tok
        |  WHERE regexp_matches(tok, '^(customer|part|order|line|spark)'))""".stripMargin) +
      s"""SELECT a.doc_id, a.concept_id, a.ord, a.tok, a.char_start, a.char_end FROM pp a
         |WHERE EXISTS (SELECT 1 FROM crf k WHERE k.doc_id = a.doc_id
         |  AND a.char_start < k.char_end AND k.char_start < a.char_end)""".stripMargin

  val conlluTokens: String =
    s"""WITH $tokCte
       |SELECT doc_id, (ord - 1) // $W AS sent_id,
       |  CAST((ord - 1) % $W + 1 AS BIGINT) AS tok_id,
       |  tok AS form, lower(tok) AS lemma,
       |  ${uposCaseSql("tok")} AS upos
       |FROM tok""".stripMargin

  /** Conllu.dpSentences twin: sentence spans and covered text per CoNLL-U
    * sentence block, serialized as BioNLP `T{n}\tsentence {s} {e}\t{text}`
    * lines (the engine derives the blocks through a real build→parse cycle;
    * block boundaries equal the fixed token windows, so the oracle
    * aggregates the token stream directly). */
  val dpSentences: String =
    s"""WITH $tokCte
       |SELECT doc_id,
       |  'T' || CAST((ord - 1) // $W + 1 AS VARCHAR) || chr(9) || 'sentence ' ||
       |  CAST(min(char_start) AS VARCHAR) || ' ' || CAST(max(char_end) AS VARCHAR) ||
       |  chr(9) || string_agg(tok, ' ' ORDER BY ord) AS line
       |FROM tok GROUP BY doc_id, (ord - 1) // $W""".stripMargin

  /** conlluTokens restricted to the 1-in-20 staged-file sample — the
    * file-based ingest (conllu_files) parses real `<doc_id>.conllu` files
    * back to the same token rows. */
  val conlluFilesSql: String =
    s"""WITH $tokCte
       |SELECT doc_id, (ord - 1) // $W AS sent_id,
       |  CAST((ord - 1) % $W + 1 AS BIGINT) AS tok_id,
       |  tok AS form, lower(tok) AS lemma,
       |  ${uposCaseSql("tok")} AS upos
       |FROM tok WHERE doc_id % 20 = 0""".stripMargin

  val xmlRoundtrip: String =
    s"""WITH $tokCte,
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id, string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok GROUP BY 1, 2),
       |t AS (SELECT doc_id, sent_text AS title FROM sent WHERE sent_id = 0),
       |b AS (SELECT doc_id, string_agg(sent_text, ' ' ORDER BY sent_id) AS body FROM sent WHERE sent_id > 0 GROUP BY 1)
       |SELECT t.doc_id, t.title, coalesce(b.body, '') AS body,
       |  CAST(len(string_split(t.title, ' ')) AS BIGINT) AS title_n_tokens
       |FROM t LEFT JOIN b USING (doc_id)""".stripMargin

  /** sentence windows CTE (depends on tokCte) */
  private val sentCte =
    s"""sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
       |  string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok GROUP BY 1, 2)""".stripMargin

  val medlineIngest: String =
    s"""WITH $tokCte,
       |$sentCte,
       |t AS (SELECT doc_id, sent_text AS title FROM sent WHERE sent_id = 0),
       |a AS (SELECT doc_id, string_agg(sent_text, chr(10) ORDER BY sent_id) AS abstract
       |  FROM sent WHERE sent_id IN (1, 2) GROUP BY 1)
       |SELECT t.doc_id,
       |  'PMID:' || t.doc_id AS pmid,
       |  CASE WHEN t.doc_id % 7 = 0 THEN '${XmlIngest.DefaultPubYear}'
       |       ELSE CAST(t.doc_id % 30 + 1990 AS VARCHAR) END AS year,
       |  t.title,
       |  coalesce(a.abstract, '') AS abstract,
       |  CASE WHEN a.abstract IS NULL OR a.abstract = '' THEN t.title
       |       ELSE t.title || chr(10) || chr(10) || a.abstract END AS doc_text
       |FROM t LEFT JOIN a USING (doc_id)""".stripMargin

  /** medlineIngest with every title carrying the DECODED entity probe —
    * the DuckDB twin of parse-time ISO-8879/numeric entity resolution. */
  val medlineEntities: String =
    s"""WITH $tokCte,
       |$sentCte,
       |t AS (SELECT doc_id, sent_text || '${XmlIngest.EntityProbeDecoded}' AS title
       |  FROM sent WHERE sent_id = 0),
       |a AS (SELECT doc_id, string_agg(sent_text, chr(10) ORDER BY sent_id) AS abstract
       |  FROM sent WHERE sent_id IN (1, 2) GROUP BY 1)
       |SELECT t.doc_id,
       |  'PMID:' || t.doc_id AS pmid,
       |  CASE WHEN t.doc_id % 7 = 0 THEN '${XmlIngest.DefaultPubYear}'
       |       ELSE CAST(t.doc_id % 30 + 1990 AS VARCHAR) END AS year,
       |  t.title,
       |  coalesce(a.abstract, '') AS abstract,
       |  CASE WHEN a.abstract IS NULL OR a.abstract = '' THEN t.title
       |       ELSE t.title || chr(10) || chr(10) || a.abstract END AS doc_text
       |FROM t LEFT JOIN a USING (doc_id)""".stripMargin

  /** Twin of XmlIngest.medlineMetadata over serializeMedline's
    * deterministic journal-issue fields. NOTE: missing year is '-' here
    * (MedlineUiMetadataExtractor.replaceWithHyphenIfNull), not the text
    * path's 2155 default. */
  val medlineMetadata: String = {
    val months = XmlIngest.MonthAbbrevs.map("'" + _ + "'").mkString("[", ", ", "]")
    s"""WITH $tokCte,
       |$sentCte,
       |t AS (SELECT doc_id, sent_text AS title FROM sent WHERE sent_id = 0),
       |a AS (SELECT doc_id, string_agg(sent_text, chr(10) ORDER BY sent_id) AS abstract
       |  FROM sent WHERE sent_id IN (1, 2) GROUP BY 1)
       |SELECT t.doc_id,
       |  'PMID:' || t.doc_id AS pmid,
       |  CASE WHEN t.doc_id % 7 = 0 THEN '-' ELSE CAST(t.doc_id % 30 + 1990 AS VARCHAR) END AS year,
       |  CASE WHEN t.doc_id % 3 = 0 THEN '-' ELSE list_extract($months, CAST(t.doc_id % 12 AS INT) + 1) END AS month,
       |  CASE WHEN t.doc_id % 9 = 0 THEN '-' ELSE CAST(t.doc_id % 28 + 1 AS VARCHAR) END AS day,
       |  CASE WHEN t.doc_id % 13 = 0 THEN '-' ELSE 'Journal of Spark Topic ' || CAST(t.doc_id % 20 AS VARCHAR) END AS journal,
       |  CASE WHEN t.doc_id % 11 = 0 THEN '-' ELSE 'J Spark ' || CAST(t.doc_id % 20 AS VARCHAR) END AS journal_abbrev,
       |  CASE WHEN t.doc_id % 4 = 0 THEN '-' ELSE CAST(t.doc_id % 50 + 1 AS VARCHAR) END AS volume,
       |  CASE WHEN t.doc_id % 5 = 0 THEN '-' ELSE CAST(t.doc_id % 6 + 1 AS VARCHAR) END AS issue,
       |  t.title AS article_title,
       |  coalesce(replace(a.abstract, chr(10), ' '), '-') AS article_abstract
       |FROM t LEFT JOIN a USING (doc_id)""".stripMargin
  }

  /** Twin of the update-file DeleteCitation parse: the retracted slice is
    * hash >= 900, file = doc_id mod UpdateFileMod. */
  val medlineDeletes: String =
    s"""SELECT doc_id % ${XmlIngest.UpdateFileMod} AS file_id, doc_id, 'PMID:' || doc_id AS pmid
       |FROM documents WHERE ${mulModSql("doc_id", 1000)} >= 900""".stripMargin

  /** Twin of parseUpdateFilePmids: both PmidToFileExtractor streams. */
  val medlinePmidFiles: String =
    s"""SELECT doc_id % ${XmlIngest.UpdateFileMod} AS file_id, doc_id,
       |  'PMID:' || doc_id AS pmid, 'article' AS channel
       |FROM documents WHERE ${mulModSql("doc_id", 1000)} < 100
       |UNION ALL
       |SELECT doc_id % ${XmlIngest.UpdateFileMod} AS file_id, doc_id,
       |  'PMID:' || doc_id AS pmid, 'delete' AS channel
       |FROM documents WHERE ${mulModSql("doc_id", 1000)} >= 900""".stripMargin

  /** Twin of medlineUpsertWithDeletes / the streaming dual: the served
    * medline corpus after one update cycle — revised rows (hash < 100)
    * carry the +1 year (unless the no-PubYear 2155 rule applies),
    * retracted rows (hash >= 900) are gone. */
  val docUpsertDelete: String =
    s"""WITH $tokCte,
       |$sentCte,
       |t AS (SELECT doc_id, sent_text AS title FROM sent WHERE sent_id = 0),
       |a AS (SELECT doc_id, string_agg(sent_text, chr(10) ORDER BY sent_id) AS abstract
       |  FROM sent WHERE sent_id IN (1, 2) GROUP BY 1)
       |SELECT t.doc_id,
       |  'PMID:' || t.doc_id AS pmid,
       |  CASE WHEN t.doc_id % 7 = 0 THEN '${XmlIngest.DefaultPubYear}'
       |       WHEN ${mulModSql("t.doc_id", 1000)} < 100 THEN CAST(t.doc_id % 30 + 1991 AS VARCHAR)
       |       ELSE CAST(t.doc_id % 30 + 1990 AS VARCHAR) END AS year,
       |  t.title,
       |  coalesce(a.abstract, '') AS abstract,
       |  CASE WHEN a.abstract IS NULL OR a.abstract = '' THEN t.title
       |       ELSE t.title || chr(10) || chr(10) || a.abstract END AS doc_text
       |FROM t LEFT JOIN a USING (doc_id)
       |WHERE ${mulModSql("t.doc_id", 1000)} < 900""".stripMargin

  /** Twin of medlineSubSupRoundTrip: formatting annotations in document
    * coordinates — title's token 2 in sup (even doc_id) / sub (odd), first
    * abstract section's token 1 in the opposite tag, abstract spans shifted
    * by len(title)+2 (MedlineXmlToTextFn.java:166-180). */
  val medlineSubSup: String =
    s"""WITH $tokCte,
       |$sentCte,
       |t AS (SELECT doc_id, sent_text FROM sent WHERE sent_id = 0),
       |ta AS (SELECT doc_id,
       |    CASE WHEN doc_id % 2 = 0 THEN 'sup' ELSE 'sub' END AS ann_type,
       |    CAST(length(split_part(sent_text, ' ', 1)) + 1 AS BIGINT) AS char_start,
       |    CAST(length(split_part(sent_text, ' ', 1)) + 1 + length(split_part(sent_text, ' ', 2)) AS BIGINT) AS char_end,
       |    split_part(sent_text, ' ', 2) AS covered_text
       |  FROM t WHERE len(string_split(sent_text, ' ')) >= 2),
       |s1 AS (SELECT doc_id, sent_text FROM sent WHERE sent_id = 1),
       |aa AS (SELECT s1.doc_id,
       |    CASE WHEN s1.doc_id % 2 = 0 THEN 'sub' ELSE 'sup' END AS ann_type,
       |    CAST(length(t.sent_text) + 2 AS BIGINT) AS char_start,
       |    CAST(length(t.sent_text) + 2 + length(split_part(s1.sent_text, ' ', 1)) AS BIGINT) AS char_end,
       |    split_part(s1.sent_text, ' ', 1) AS covered_text
       |  FROM s1 JOIN t USING (doc_id))
       |SELECT * FROM ta UNION ALL SELECT * FROM aa""".stripMargin

  val jatsIngest: String =
    s"""WITH $tokCte,
       |$sentCte,
       |t AS (SELECT doc_id, sent_text AS title FROM sent WHERE sent_id = 0),
       |a AS (SELECT doc_id, string_agg(sent_text, chr(10) ORDER BY sent_id) AS abstract
       |  FROM sent WHERE sent_id IN (1, 2) GROUP BY 1),
       |b AS (SELECT doc_id, string_agg(sent_text, chr(10) ORDER BY sent_id) AS body
       |  FROM sent WHERE sent_id >= 3 GROUP BY 1)
       |SELECT t.doc_id,
       |  '10.1101/' || t.doc_id AS doi,
       |  t.title,
       |  coalesce(a.abstract, '') AS abstract,
       |  coalesce(b.body, '') AS body,
       |  concat_ws(chr(10) || chr(10), t.title, a.abstract, b.body) AS doc_text
       |FROM t LEFT JOIN a USING (doc_id) LEFT JOIN b USING (doc_id)""".stripMargin

  val biocIngest: String =
    s"""WITH $tokCte,
       |$sentCte,
       |t AS (SELECT doc_id, sent_text AS title FROM sent WHERE sent_id = 0),
       |a AS (SELECT doc_id, string_agg(sent_text, ' ' ORDER BY sent_id) AS abstract
       |  FROM sent WHERE sent_id >= 1 GROUP BY 1)
       |SELECT t.doc_id, t.title,
       |  coalesce(a.abstract, '') AS abstract,
       |  concat_ws(' ', t.title, a.abstract) AS doc_text,
       |  CAST(CASE WHEN a.abstract IS NULL THEN 1 ELSE 2 END AS BIGINT) AS n_passages,
       |  CAST(CASE WHEN a.abstract IS NULL THEN -1 ELSE length(t.title) + 1 END AS BIGINT) AS abstract_offset
       |FROM t LEFT JOIN a USING (doc_id)""".stripMargin

  /** '[^.!?\n]+[.!?]?' — RE2/Java-identical extraction pattern, terminator
    * kept with the sentence; \n acts as a bare terminator. */
  private val punctPattern = """[^.!?\n]+[.!?]?"""

  val sentencesPunct: String =
    s"""WITH $tokCte,
       |$sentCte,
       |pt AS (SELECT doc_id, string_agg(
       |    sent_text || CASE CAST(sent_id % 4 AS INT)
       |      WHEN 0 THEN '. ' WHEN 1 THEN '! ' WHEN 2 THEN '? ' ELSE chr(10) END,
       |    '' ORDER BY sent_id) AS punct_text
       |  FROM sent GROUP BY 1),
       |ex AS (SELECT doc_id,
       |    unnest(regexp_extract_all(punct_text, '$punctPattern')) AS raw,
       |    CAST(unnest(range(1, len(regexp_extract_all(punct_text, '$punctPattern')) + 1)) AS BIGINT) AS pos
       |  FROM pt)
       |SELECT doc_id, pos - 1 AS sent_id, trim(raw) AS sent_text
       |FROM ex WHERE length(trim(raw)) > 0""".stripMargin

  private def uposCaseSql(c: String): String = {
    val whens = ConceptDict.groups.map { case (p, ts) =>
      s"WHEN $c IN ${ts.map(t => s"'$t'").mkString("(", ", ", ")")} THEN '$p'"
    }.mkString(" ")
    s"(CASE $whens ELSE 'X' END)"
  }

  /** The engine's overflow-free multiplicative hash (Num.mulMod) as SQL:
    * ((c % m) * (k % m)) % m with the residue DERIVED from the same
    * multiplier constant, so a change to the multiplier or a modulus can
    * never silently diverge the twins (ADVICE r14 — the residues used to
    * be hard-coded per-modulus literals). */
  private def mulModSql(c: String, m: Long, k: Long = 2654435761L): String =
    s"(($c % $m) * ${k % m}) % $m"

  private def bioCaseSql(c: String): String = {
    val whens = ConceptDict.groups.map { case (p, ts) =>
      s"WHEN $c IN ${ts.map(t => s"'$t'").mkString("(", ", ", ")")} THEN 'B-$p'"
    }.mkString(" ")
    s"(CASE $whens ELSE 'O' END)"
  }

  val conll03Export: String =
    s"""WITH $tokCte
       |SELECT doc_id, (ord - 1) // $W AS sent_id,
       |  CAST((ord - 1) % $W + 1 AS BIGINT) AS tok_id,
       |  tok || ' ' || ${uposCaseSql("tok")} || ' ' || 'O' || ' ' || ${bioCaseSql("tok")} AS line
       |FROM tok""".stripMargin

  val dictExport: String =
    s"""SELECT dict.concept_id, dict.tok AS label, lower(dict.tok) AS label_norm,
       |  split_part(dict.concept_id, ':', 1) AS "group"
       |FROM ${ConceptDict.dictValuesSql}""".stripMargin

  /** ConceptDict.labelMapDF twin: same class universe, same one-trailing-
    * quote strip applied in SQL. */
  val ontologyLabels: String =
    s"""SELECT concept_id, regexp_replace(raw_label, '"$$', '') AS label
       |FROM ${ConceptDict.labelValuesSql}""".stripMargin

  // ---------- OGER dictionary builds (OgerDict twins) ----------

  /** isCaseSensitive scalar core twin (OgerDictFileFactory.java:185-214):
    * single-digit full match, >40% uppercase-or-digit of the trimmed string
    * (as the exact integer test), lowercase-then-uppercase. */
  private def ogerCsScalarSql(x: String): String =
    s"(regexp_full_match($x, '[0-9]') OR " +
      s"(length(trim($x)) > 0 AND 10 * (length(trim($x)) - length(regexp_replace(trim($x), '[A-Z0-9]', '', 'g'))) > 4 * length(trim($x))) OR " +
      s"regexp_matches($x, '[a-z][A-Z]'))"

  /** Full isCaseSensitive twin including the per-token pass (216-223). */
  private def ogerCsSql(x: String): String =
    s"(${ogerCsScalarSql(x)} OR (len(string_split($x, ' ')) > 1 AND " +
      s"len(list_filter(string_split($x, ' '), t -> ${ogerCsScalarSql("t")})) > 0))"

  /** fixLabel twin (OgerDictFileFactory.java:640-662) over a CTE `raw`
    * carrying (concept_id, label, pk, s); yields `fixed` with a trimmed
    * `syn` column. The Java `split("\"").length % 2 == 1` parity check is
    * re-expressed as in OgerDict.fixLabel: after stripping trailing
    * quotes the remainder is non-empty with an even quote count. */
  private val ogerFixCte =
    """fx1 AS (SELECT concept_id, label, pk, regexp_replace(s, '\\"', '"', 'g') AS u FROM raw),
      |fx2 AS (SELECT concept_id, label, pk, u, regexp_replace(u, '"+$', '') AS rt FROM fx1),
      |fixed AS (SELECT DISTINCT concept_id, label, pk,
      |  trim(regexp_replace(
      |    CASE WHEN u LIKE '%"' AND length(rt) > 0
      |              AND (length(rt) - length(replace(rt, '"', ''))) % 2 = 0
      |         THEN substr(u, 1, length(u) - 1) ELSE u END,
      |    ' \([^)]+\)$', '')) AS syn FROM fx2)""".stripMargin

  /** Case split + gene-symbol alternates + final dict lines
    * (OgerDictFileFactory.java:90-105, 145-170) over a CTE `syns`
    * carrying DISTINCT trimmed (concept_id, label, syn). */
  private def ogerCaseSplitSql(ontKey: String, mainType: String): String =
    s"""cls AS (SELECT concept_id, label, syn, ${ogerCsSql("syn")} AS cs FROM syns),
       |alts AS (SELECT DISTINCT concept_id, label,
       |    upper(substr(syn, 1, 1)) || lower(substr(syn, 2)) AS syn
       |  FROM cls WHERE cs AND regexp_full_match(syn, '[A-Z]+[0-9]+')),
       |cs_all AS (SELECT DISTINCT concept_id, label, syn FROM
       |  (SELECT concept_id, label, syn FROM cls WHERE cs
       |   UNION ALL SELECT concept_id, label, syn FROM alts)),
       |ci AS (SELECT c.concept_id, c.label, c.syn FROM cls c WHERE NOT c.cs AND NOT EXISTS
       |  (SELECT 1 FROM cs_all a WHERE a.concept_id = c.concept_id AND a.syn = c.syn))
       |SELECT '$ontKey' AS ont_key, concept_id, syn, trim(label) AS label,
       |  '$mainType' AS main_type, true AS case_sensitive FROM cs_all
       |UNION ALL
       |SELECT '$ontKey', concept_id, syn, trim(label), '$mainType', false FROM ci""".stripMargin

  private val ogerStopSql: String =
    ConceptDict.stopwords.map(s => s"'${s.toLowerCase}'").mkString(", ")

  /** OgerDict.build twin (the base factory flow, identity augment). */
  val ogerDictBuild: String =
    s"""WITH raw0 AS (
       |  SELECT 'P:' || p_partkey AS concept_id, p_name AS label, p_partkey AS pk,
       |    unnest([
       |      p_name,
       |      p_name || ' (' || p_type || ')',
       |      CASE WHEN p_partkey % 7 = 0 THEN p_name || '"' END,
       |      upper(split_part(p_name, ' ', 2)) || CAST(p_size AS VARCHAR),
       |      p_type]) AS s
       |  FROM part),
       |raw AS (SELECT * FROM raw0 WHERE s IS NOT NULL),
       |$ogerFixCte,
       |syns AS (SELECT DISTINCT concept_id, label, syn FROM fixed),
       |${ogerCaseSplitSql("P", "part")}""".stripMargin

  /** OgerDict.chebi twin (stopwords, length, hyphen/comma shape, specific
    * removals, then the formula add, then excluded individuals). */
  val ogerDictChebi: String =
    s"""WITH raw0 AS (
       |  SELECT 'CHEBI:' || p_partkey AS concept_id, p_name AS label, p_partkey AS pk,
       |    unnest([
       |      p_name,
       |      replace(p_name, ' ', '-') || '-' || lower(p_type),
       |      CASE WHEN p_partkey % 13 = 0 THEN replace(p_name, ' ', '-') || '-' || lower(p_type) || '-alpha-beta' END,
       |      CASE WHEN p_partkey % 9 = 0 THEN p_name || ', ' || lower(p_type) || ', grade, pure' END,
       |      CASE WHEN p_partkey % 11 = 0 THEN 'the' END,
       |      CASE WHEN p_partkey % 13 = 5 THEN substr(p_name, 1, 2) END]) AS s
       |  FROM part),
       |raw AS (SELECT * FROM raw0 WHERE s IS NOT NULL),
       |$ogerFixCte,
       |aug AS (SELECT * FROM fixed
       |  WHERE lower(syn) NOT IN ($ogerStopSql) AND length(syn) >= 3
       |    AND length(syn) - length(replace(syn, '-', '')) < 4
       |    AND length(syn) - length(replace(syn, ',', '')) < 3
       |    AND NOT (pk % 19 = 0 AND syn = label)),
       |formula AS (SELECT 'CHEBI:' || p_partkey AS concept_id, p_name AS label, p_partkey AS pk,
       |    'C' || CAST(p_size AS VARCHAR) || 'H' || CAST(p_size * 2 AS VARCHAR) AS syn FROM part),
       |syns AS (SELECT DISTINCT concept_id, label, syn FROM
       |  (SELECT * FROM aug UNION ALL SELECT * FROM formula) WHERE pk % 23 <> 0),
       |${ogerCaseSplitSql("CHEBI", "chemical")}""".stripMargin

  /** OgerDict.drugbank twin (description skip, class-level body-part regex
    * drop tested on the ORIGINAL synonyms, stopwords, length, exclusions;
    * no fixLabels in the DrugBank flow). */
  val ogerDictDrugbank: String =
    s"""WITH raw0 AS (
       |  SELECT p_partkey AS pk, p_name,
       |    unnest([
       |      p_name,
       |      p_brand,
       |      CASE WHEN p_partkey % 31 = 0 THEN p_name || ' liver extract' END]) AS s
       |  FROM part WHERE p_partkey % 29 <> 0),
       |raw AS (SELECT * FROM raw0 WHERE s IS NOT NULL),
       |dropc AS (SELECT DISTINCT pk FROM raw
       |  WHERE regexp_matches(s, '\\b([Ee]xtracts?|[Vv]enom|[Dd]ander|[Aa]llergenic|[Ss]tomach|[Ll]iver)\\b')),
       |syns AS (SELECT DISTINCT 'DRUGBANK:DB' || pk AS concept_id, p_name AS label, s AS syn
       |  FROM raw WHERE lower(s) NOT IN ($ogerStopSql) AND length(s) >= 3
       |    AND pk % 23 <> 0 AND pk NOT IN (SELECT pk FROM dropc)),
       |${ogerCaseSplitSql("DrugBank", "drug")}""".stripMargin

  /** OgerDict.mondo twin: the sequential variant-add chain applied on the
    * evolving set in the reference's order, then length/specific/excluded. */
  val ogerDictMondo: String =
    s"""WITH raw0 AS (
       |  SELECT 'MONDO:' || p_partkey AS concept_id, p_name AS label, p_partkey AS pk,
       |    unnest([
       |      p_name,
       |      CASE WHEN p_partkey % 4 = 0 THEN p_name || ' virus infection' END,
       |      CASE WHEN p_partkey % 4 = 1 THEN p_name || ' virus infections' END,
       |      CASE WHEN p_partkey % 6 = 0 THEN p_name || ', formerly' END,
       |      CASE WHEN p_partkey % 6 = 3 THEN 'acute (formerly) ' || p_name END,
       |      CASE WHEN p_partkey % 5 = 0 THEN 'hemo' || replace(p_name, ' ', '') END,
       |      CASE WHEN p_partkey % 7 = 0 THEN p_name || ' heart' END]) AS s
       |  FROM part),
       |raw AS (SELECT * FROM raw0 WHERE s IS NOT NULL),
       |$ogerFixCte,
       |m0 AS (SELECT * FROM fixed WHERE lower(syn) NOT IN ($ogerStopSql)),
       |m1 AS (SELECT DISTINCT concept_id, label, pk, syn FROM (
       |  SELECT * FROM m0
       |  UNION ALL
       |  SELECT concept_id, label, pk,
       |    CASE WHEN syn LIKE '%virus infections' THEN regexp_replace(syn, ' infections$$', '')
       |         ELSE regexp_replace(syn, ' infection$$', '') END
       |  FROM m0 WHERE syn LIKE '%virus infection' OR syn LIKE '%virus infections')),
       |m2 AS (SELECT DISTINCT concept_id, label, pk, syn FROM (
       |  SELECT * FROM m1
       |  UNION ALL
       |  SELECT concept_id, label, pk,
       |    CASE WHEN contains(syn, ', formerly') THEN replace(syn, ', formerly', '')
       |         ELSE replace(syn, '(formerly)', '') END
       |  FROM m1 WHERE contains(syn, ', formerly') OR contains(syn, '(formerly)'))),
       |m3 AS (SELECT DISTINCT concept_id, label, pk, syn FROM (
       |  SELECT * FROM m2
       |  UNION ALL
       |  SELECT concept_id, label, pk, replace(syn, 'hemo', 'haemo') FROM m2 WHERE syn LIKE 'hemo%')),
       |m4 AS (SELECT DISTINCT concept_id, label, pk, syn FROM (
       |  SELECT * FROM m3
       |  UNION ALL
       |  SELECT concept_id, label, pk, replace(syn, 'heart', 'cardiac') FROM m3 WHERE contains(syn, 'heart'))),
       |syns AS (SELECT DISTINCT concept_id, label, syn FROM m4
       |  WHERE length(syn) >= 4 AND NOT (pk % 19 = 0 AND syn = label) AND pk % 23 <> 0),
       |${ogerCaseSplitSql("MONDO", "disease")}""".stripMargin

  /** OgerDict.chemLabelNorm twin (processChemicalLabel's early-return
    * cascade as a CASE). */
  /** One residual-factory arm (OgerDict.residual): the shared channel
    * array + fixLabels + the arm's augment CTEs (which must yield `syns`)
    * + the case split, wrapped as a UNION-able subquery. */
  private def residualArmSql(idPrefix: String, ontKey: String, mainType: String,
                             extraChannels: Seq[String], augmentCtes: String): String =
    s"""SELECT * FROM (WITH raw0 AS (
       |  SELECT '$idPrefix' || p_partkey AS concept_id, p_name AS label, p_partkey AS pk,
       |    unnest([
       |      p_name,
       |      upper(split_part(p_name, ' ', 2)) || CAST(p_size AS VARCHAR),
       |      CASE WHEN p_partkey % 11 = 0 THEN 'the' END,
       |      CASE WHEN p_partkey % 13 = 5 THEN substr(p_name, 1, 2) END${extraChannels.map(",\n      " + _).mkString}]) AS s
       |  FROM part),
       |raw AS (SELECT * FROM raw0 WHERE s IS NOT NULL),
       |$ogerFixCte,
       |$augmentCtes,
       |${ogerCaseSplitSql(ontKey, mainType)})""".stripMargin

  private def residualStdWhere(specific: Boolean, excluded: Boolean): String =
    s"lower(syn) NOT IN ($ogerStopSql) AND length(syn) >= 3" +
      (if (specific) " AND NOT (pk % 19 = 0 AND syn = label)" else "") +
      (if (excluded) " AND pk % 23 <> 0" else "")

  /** OgerDict.residual twin — the nine residual factories + the Utility
    * constant line, unioned. Per-arm augment chains mirror the reference
    * orders documented on OgerDict.residual. */
  val ogerDictRest: String = {
    val cl = residualArmSql("CL:", "CL", "cell", Nil,
      s"""flt AS (SELECT * FROM fixed WHERE ${residualStdWhere(specific = false, excluded = false)}),
         |syns AS (SELECT DISTINCT concept_id, label, syn FROM (
         |  SELECT concept_id, label, pk, syn FROM flt
         |  UNION ALL
         |  SELECT DISTINCT concept_id, label, pk, 'outer hair cell' FROM raw0 WHERE pk % 17 = 0
         |) WHERE pk % 23 <> 0)""".stripMargin)
    val goCc = residualArmSql("GO_CC:", "GO_CC", "cellular_component", Nil,
      s"""syns AS (SELECT DISTINCT concept_id, label, syn FROM fixed
         |  WHERE ${residualStdWhere(specific = false, excluded = false)})""".stripMargin)
    val goBp = residualArmSql("GO_BP:", "GO_BP", "biological_process", Nil,
      s"""flt AS (SELECT * FROM fixed WHERE ${residualStdWhere(specific = true, excluded = false)}),
         |syns AS (SELECT DISTINCT concept_id, label, syn FROM (
         |  SELECT concept_id, label, pk, syn FROM flt
         |  UNION ALL
         |  SELECT DISTINCT concept_id, label, pk, 'alternative splicing' FROM raw0 WHERE pk % 17 = 0
         |) WHERE pk % 23 <> 0)""".stripMargin)
    val goMf = residualArmSql("GO_MF:", "GO_MF", "molecular_function",
      Seq("CASE WHEN p_partkey % 3 = 0 THEN lower(p_type) || ' transporter activity' END"),
      s"""flt AS (SELECT concept_id, label, pk, syn FROM fixed
         |  WHERE ${residualStdWhere(specific = true, excluded = false)}),
         |act AS (SELECT concept_id, label, pk, regexp_replace(syn, ' activity$$', '') AS syn
         |  FROM flt WHERE syn LIKE '% activity'),
         |syns AS (SELECT DISTINCT concept_id, label, syn FROM (
         |  SELECT * FROM flt UNION ALL SELECT * FROM act) WHERE pk % 23 <> 0)""".stripMargin)
    val hp = residualArmSql("HP:", "HP", "phenotype", Nil,
      s"""syns AS (SELECT DISTINCT concept_id, label, syn FROM fixed
         |  WHERE ${residualStdWhere(specific = true, excluded = true)})""".stripMargin)
    val uberon = residualArmSql("UBERON:", "UBERON", "anatomy", Nil,
      s"""flt AS (SELECT * FROM fixed WHERE ${residualStdWhere(specific = true, excluded = true)}),
         |syns AS (SELECT DISTINCT concept_id, label, syn FROM (
         |  SELECT concept_id, label, syn FROM flt
         |  UNION ALL
         |  SELECT DISTINCT concept_id, label, split_part(label, ' ', 2) || 's'
         |  FROM raw0 WHERE pk % 17 = 0))""".stripMargin)
    val so = residualArmSql("SO:", "SO", "sequence_feature", Nil,
      s"""syns AS (SELECT DISTINCT concept_id, label, syn FROM fixed
         |  WHERE ${residualStdWhere(specific = true, excluded = true)})""".stripMargin)
    val procedure =
      s"""SELECT * FROM (WITH raw0 AS (
         |  SELECT 'SNOMEDCT:' || p_partkey AS concept_id, p_partkey AS pk,
         |    unnest([
         |      p_name,
         |      upper(split_part(p_name, ' ', 2)) || CAST(p_size AS VARCHAR),
         |      CASE WHEN p_partkey % 11 = 0 THEN 'the' END,
         |      CASE WHEN p_partkey % 13 = 5 THEN substr(p_name, 1, 2) END]) AS s
         |  FROM part),
         |praw AS (SELECT DISTINCT concept_id, pk, trim(s) AS syn FROM raw0 WHERE s IS NOT NULL),
         |plabel AS (SELECT concept_id, min(syn) AS label FROM praw GROUP BY 1),
         |pf AS (SELECT p.concept_id, l.label, p.pk, p.syn
         |  FROM praw p JOIN plabel l ON p.concept_id = l.concept_id
         |  WHERE lower(p.syn) NOT IN ($ogerStopSql) AND length(p.syn) >= 3
         |    AND p.pk % 23 <> 0
         |    AND p.concept_id IN (SELECT 'SNOMEDCT:' || p_partkey FROM part WHERE p_size % 3 = 0)),
         |syns AS (SELECT DISTINCT concept_id, label, syn FROM pf),
         |${ogerCaseSplitSql("SNOMEDCT", "procedure")})""".stripMargin
    val utility =
      """SELECT 'Utility' AS ont_key, 'TMKPUTIL:1' AS concept_id,
        |  'zzzDOCUMENTzENDzzz' AS syn, 'zzzDOCUMENTzENDzzz' AS label,
        |  'util' AS main_type, true AS case_sensitive""".stripMargin
    Seq(cl, goCc, goBp, goMf, hp, uberon, so, procedure, utility)
      .mkString("\nUNION ALL\n")
  }

  /** OgerDict.idToEntryMap twin over build ∪ residual. */
  val ogerDictEntryMap: String =
    s"""WITH u AS (
       |  SELECT DISTINCT concept_id, syn FROM (
       |    SELECT concept_id, syn FROM ($ogerDictBuild)
       |    UNION ALL
       |    SELECT concept_id, syn FROM ($ogerDictRest)))
       |SELECT concept_id, string_agg(syn, '|' ORDER BY syn) AS entries
       |FROM u GROUP BY concept_id""".stripMargin

  /** KnowledgeGraph.biolinkCategoryMap twin over the synthetic universe. */
  val biolinkCategoryMap: String = {
    val pfxValues = graft.operators.KnowledgeGraph.biolinkPrefixMap.toSeq.sorted
      .map { case (p, c) => s"('$p','$c')" }
      .mkString("(VALUES ", ", ", ") AS m(prefix, mapped)")
    s"""WITH cls AS (
       |  SELECT 'GO:' || p_partkey AS concept_id,
       |    CASE WHEN p_partkey % 17 = 0 THEN NULL ELSE
       |      (CASE WHEN p_partkey % 3 = 0 THEN 'biological_process'
       |            WHEN p_partkey % 3 = 1 THEN 'cellular_component'
       |            ELSE 'molecular_function' END)
       |      || (CASE WHEN p_partkey % 5 = 0 THEN '"' ELSE '' END)
       |    END AS namespace,
       |    NULL AS default_category FROM part
       |  UNION ALL SELECT 'CHEBI:' || p_partkey, NULL, NULL FROM part
       |  UNION ALL SELECT 'MONDO:' || p_partkey, NULL, NULL FROM part
       |  UNION ALL SELECT 'EXT:' || p_partkey, NULL, 'biolink:GeneOrGeneProduct' FROM part
       |  UNION ALL SELECT 'ZZ:' || p_partkey, NULL, NULL FROM part)
       |SELECT concept_id,
       |  CASE WHEN split_part(concept_id, ':', 1) = 'GO' THEN
       |    CASE WHEN namespace IS NULL THEN ''
       |         WHEN regexp_replace(namespace, '"$$', '') = 'biological_process' THEN 'biolink:BiologicalProcess'
       |         WHEN regexp_replace(namespace, '"$$', '') = 'cellular_component' THEN 'biolink:CellularComponent'
       |         WHEN regexp_replace(namespace, '"$$', '') = 'molecular_function' THEN 'biolink:MolecularActivity' END
       |  ELSE coalesce(m.mapped, default_category, 'biolink:Thing') END AS category
       |FROM cls LEFT JOIN $pfxValues
       |  ON split_part(cls.concept_id, ':', 1) = m.prefix""".stripMargin
  }

  val chemLabelNorm: String =
    """WITH rows0 AS (
      |  SELECT 'PC:' || p_partkey AS concept_id,
      |    unnest([
      |      p_name,
      |      CASE WHEN p_partkey % 3 = 0 THEN split_part(p_name, ' ', 2) || ', ' || split_part(p_name, ' ', 1) END,
      |      CASE WHEN p_partkey % 5 = 0 THEN '[' || p_name || ']' END,
      |      CASE WHEN p_partkey % 7 = 0 THEN p_name || ' ' || CAST(p_partkey AS VARCHAR) END,
      |      CASE WHEN p_partkey % 11 = 0 THEN '!!' || substr(p_name, 1, 1) END,
      |      CASE WHEN p_partkey % 13 = 0 THEN p_name || ', a, b' END]) AS raw_label
      |  FROM part),
      |rows_ AS (SELECT * FROM rows0 WHERE raw_label IS NOT NULL),
      |norm AS (SELECT concept_id, raw_label,
      |  CASE WHEN length(regexp_replace(raw_label, '[[:punct:]]', '', 'g')) < 4 THEN NULL
      |       WHEN length(raw_label) - length(replace(raw_label, ',', '')) = 1 THEN
      |         substr(raw_label, instr(raw_label, ',') + 1) ||
      |         CASE WHEN substr(raw_label, instr(raw_label, ',') + 1) LIKE '%-' THEN '' ELSE ' ' END ||
      |         substr(raw_label, 1, instr(raw_label, ',') - 1)
      |       WHEN length(raw_label) - length(replace(raw_label, ',', '')) >= 2 THEN NULL
      |       WHEN 10 * (length(raw_label) - length(regexp_replace(raw_label, '[0-9\s]', '', 'g'))) > 3 * length(raw_label) THEN NULL
      |       WHEN raw_label LIKE '[%' AND raw_label LIKE '%]' THEN substr(raw_label, 2, length(raw_label) - 2)
      |       ELSE raw_label END AS label
      |  FROM rows_)
      |SELECT concept_id, raw_label, label FROM norm WHERE label IS NOT NULL""".stripMargin

  /** OgerDict.taxonPromotion twin: per-label groups, >20 short-circuit to
    * the minimum id, pairwise ancestor removals otherwise. PRECONDITION
    * (shared with the engine side, ADVICE r13): p_name must be multi-word.
    * On a single-word name the engines diverge three ways — Spark's
    * element_at(split, 2) yields null (row dropped by the null-label
    * filter), DuckDB's split_part yields '' (row kept with an empty
    * label), and the reference's per-channel formulation kept the null
    * row. TPC-H p_name is always five words, so all three agree on every
    * real input; the twin is defined only under that precondition. */
  val taxonPromotionSql: String =
    """WITH names AS (SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS noun FROM part),
      |sized AS (SELECT DISTINCT p_name, split_part(p_name, ' ', 2) AS noun, p_size FROM part WHERE p_size % 5 = 0),
      |dict AS (
      |  SELECT noun AS label, 'W:' || noun AS id FROM names
      |  UNION SELECT noun, 'X:' || noun FROM names
      |  UNION SELECT p_name, 'N:' || p_name FROM names
      |  UNION SELECT noun, 'N:' || p_name FROM names
      |  UNION SELECT p_name, 'B:' || p_name || '#' || p_size FROM sized
      |  UNION SELECT 'universal', 'B:' || p_name || '#' || p_size FROM sized),
      |anc AS (
      |  SELECT 'N:' || p_name AS child, 'W:' || noun AS anc FROM names
      |  UNION SELECT 'B:' || p_name || '#' || p_size, 'N:' || p_name FROM sized
      |  UNION SELECT 'B:' || p_name || '#' || p_size, 'W:' || noun FROM sized),
      |grp AS (SELECT label, count(DISTINCT id) AS n, min(id) AS min_id FROM dict GROUP BY label),
      |big AS (SELECT label, min_id AS concept_id FROM grp WHERE n > 20),
      |small AS (SELECT DISTINCT d.label, d.id FROM dict d JOIN grp g ON d.label = g.label AND g.n <= 20),
      |removals AS (SELECT DISTINCT a.label, a.id
      |  FROM small a JOIN small b ON a.label = b.label AND a.id <> b.id
      |  JOIN anc ON anc.child = a.id AND anc.anc = b.id)
      |SELECT label, concept_id FROM (
      |  SELECT s.label, s.id AS concept_id FROM small s WHERE NOT EXISTS
      |    (SELECT 1 FROM removals r WHERE r.label = s.label AND r.id = s.id)
      |  UNION ALL SELECT label, concept_id FROM big)""".stripMargin

  /** OgerDict.mondoHpEquiv twin: direct hasDbXref pairs union curie-shared
    * indirect pairs, rolled up per HP id with sorted pipe-joins and the
    * three-state indicator ('**' / '####' / empty). Same synthetic
    * universe derivation. */
  val mondoHpEquivSql: String =
    """WITH mondo AS (SELECT 'MONDO:' || p_partkey AS mondo_id, p_name AS mondo_label, p_partkey AS k FROM part),
      |hp AS (SELECT 'HP:' || p_partkey AS hp_id,
      |    CASE WHEN p_partkey % 4 = 0 THEN upper(p_name) ELSE p_name || ' variant' END AS hp_label
      |  FROM part WHERE p_partkey % 2 = 0),
      |direct AS (SELECT 'HP:' || p_partkey AS hp_id, 'MONDO:' || p_partkey AS mondo_id, true AS direct
      |  FROM part WHERE p_partkey % 6 = 0),
      |mx AS (SELECT DISTINCT
      |    CASE WHEN p_partkey % 3 = 0 THEN 'MSH:' WHEN p_partkey % 3 = 1 THEN 'UMLS:' ELSE 'SNOMEDCT_US:' END
      |      || p_brand || '#' || (p_partkey // 64) AS curie,
      |    'MONDO:' || p_partkey AS mondo_id
      |  FROM part WHERE p_partkey % 5 = 0),
      |hx AS (SELECT DISTINCT
      |    CASE WHEN p_partkey % 3 = 0 THEN 'MSH:' WHEN p_partkey % 3 = 1 THEN 'UMLS:' ELSE 'SNOMEDCT_US:' END
      |      || p_brand || '#' || (p_partkey // 64) AS curie,
      |    'HP:' || p_partkey AS hp_id
      |  FROM part WHERE p_partkey % 10 = 0),
      |pairs AS (SELECT hp_id, mondo_id, max(direct) AS direct FROM (
      |    SELECT hp_id, mondo_id, direct FROM direct
      |    UNION ALL SELECT hx.hp_id, mx.mondo_id, false FROM hx JOIN mx USING (curie))
      |  GROUP BY hp_id, mondo_id),
      |lab AS (SELECT p.hp_id, p.mondo_id, p.direct, h.hp_label, m.mondo_label,
      |    lower(h.hp_label) = lower(m.mondo_label) AS exact
      |  FROM pairs p JOIN hp h USING (hp_id) JOIN mondo m USING (mondo_id))
      |SELECT CASE WHEN bool_or(direct) THEN '**' WHEN bool_or(exact) THEN '####' ELSE '' END AS indicator,
      |  hp_id,
      |  string_agg(mondo_id, '|' ORDER BY mondo_id) AS mondo_ids,
      |  min(hp_label) AS hp_label,
      |  string_agg(mondo_label, '|' ORDER BY mondo_id) AS mondo_labels
      |FROM lab GROUP BY hp_id""".stripMargin

  /** OgerDict.geneRollup twin: descendant synonym roll-up to the gene
    * level with pipe-joined sorted sources; family level keeps its own;
    * CS alternates surface as CS_addition. */
  val prGeneRollup: String = {
    val english = LabelQa.wordsAlpha.map(w => s"'${w.toLowerCase}'").mkString(", ")
    s"""WITH drows0 AS (
       |  SELECT 'G:' || p_name || '#' || p_brand AS concept_id,
       |    unnest([
       |      p_name,
       |      lower(p_type) || ' ' || p_name,
       |      CASE WHEN p_partkey % 5 = 0 THEN split_part(p_name, ' ', 1) END,
       |      upper(split_part(p_name, ' ', 2)) || CAST(p_size AS VARCHAR)]) AS s,
       |    'PR:' || p_partkey AS source
       |  FROM part),
       |orows AS (SELECT DISTINCT 'G:' || p_name || '#' || p_brand AS concept_id,
       |    p_name || ' (' || p_brand || ')' AS s,
       |    'G:' || p_name || '#' || p_brand AS source FROM part),
       |raw0 AS (SELECT * FROM drows0 WHERE s IS NOT NULL UNION ALL SELECT * FROM orows),
       |fx1 AS (SELECT concept_id, source, regexp_replace(s, '\\\\"', '"', 'g') AS u FROM raw0),
       |fx2 AS (SELECT concept_id, source, u, regexp_replace(u, '"+$$', '') AS rt FROM fx1),
       |frows AS (SELECT concept_id, source,
       |  trim(regexp_replace(
       |    CASE WHEN u LIKE '%"' AND length(rt) > 0
       |              AND (length(rt) - length(replace(rt, '"', ''))) % 2 = 0
       |         THEN substr(u, 1, length(u) - 1) ELSE u END,
       |    ' \\([^)]+\\)$$', '')) AS syn FROM fx2),
       |minr AS (SELECT 'min' AS norm, concept_id, syn,
       |    array_to_string(list_sort(list(DISTINCT source)), '|') AS sources
       |  FROM frows WHERE lower(syn) NOT IN ($english) GROUP BY concept_id, syn),
       |maxr AS (SELECT DISTINCT 'max' AS norm,
       |    'F:' || split_part(p_name, ' ', 2) AS concept_id,
       |    split_part(p_name, ' ', 2) AS syn,
       |    'F:' || split_part(p_name, ' ', 2) AS sources FROM part),
       |base AS (SELECT norm, concept_id, syn, sources, ${ogerCsSql("syn")} AS case_sensitive
       |  FROM (SELECT * FROM minr UNION ALL SELECT * FROM maxr)),
       |alts AS (SELECT norm, concept_id,
       |    upper(substr(syn, 1, 1)) || lower(substr(syn, 2)) AS syn,
       |    'CS_addition' AS sources, true AS case_sensitive
       |  FROM base WHERE case_sensitive AND regexp_full_match(syn, '[A-Z]+[0-9]+')),
       |fresh AS (SELECT a.* FROM alts a WHERE NOT EXISTS
       |  (SELECT 1 FROM base b WHERE b.concept_id = a.concept_id AND b.syn = a.syn))
       |SELECT norm, concept_id, syn, sources, case_sensitive FROM base
       |UNION ALL SELECT norm, concept_id, syn, sources, case_sensitive FROM fresh""".stripMargin
  }

  /** Concepts.spanValidate twin (SpanValidator.java:17-43): newline→space
    * then force-ASCII ('?' for unmappable) on both sides before comparing
    * the document substring with the annotation text; the `%97` ordinal
    * channel shifts spans to give the validator a negative class. */
  val spanValidateSql: String =
    docPipeline() +
      """SELECT p.doc_id, p.concept_id, p.ord,
        |  (regexp_replace(regexp_replace(substr(d.text,
        |      CAST((CASE WHEN p.ord % 97 = 0 THEN p.char_start + 1 ELSE p.char_start END) + 1 AS INT),
        |      CAST(p.char_end - (CASE WHEN p.ord % 97 = 0 THEN p.char_start + 1 ELSE p.char_start END) AS INT)),
        |      '\n', ' ', 'g'), '[^\x00-\x7F]', '?', 'g')
        |   = regexp_replace(regexp_replace(p.tok, '\n', ' ', 'g'), '[^\x00-\x7F]', '?', 'g')) AS valid
        |FROM pp p JOIN documents d ON p.doc_id = d.doc_id""".stripMargin

  /** Concepts.semmedIdf twin (SemmedDbIdf.computeIdf): distinct
    * (entity, doc) counts, log(count/total) in milli-units, label join. */
  val semmedIdfSql: String =
    docPipeline(
      s"""cnt AS (SELECT concept_id, CAST(count(DISTINCT doc_id) AS BIGINT) AS pmid_count
         |  FROM pp GROUP BY concept_id),
         |tot AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS total FROM documents),
         |lbl AS (SELECT concept_id, regexp_replace(raw_label, '"$$', '') AS label
         |  FROM ${ConceptDict.labelValuesSql})""".stripMargin) +
      """SELECT c.concept_id AS cui, l.label AS name,
        |  CAST(round(ln(CAST(c.pmid_count AS DOUBLE) / CAST(t.total AS DOUBLE)) * 1000) AS BIGINT) AS idf_milli
        |FROM cnt c JOIN lbl l ON l.concept_id = c.concept_id CROSS JOIN tot t""".stripMargin

  // ---------- SemMedDB relay results compilation (Relay twins) ----------

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** Relay.serializeResults→parseResults twin: the oracle derives the final
    * (feedback_id, predication_id, answer) row set straight from orders;
    * the Spark side additionally proves the CSV round trip. `resolved` is
    * the any-incorrect-wins resolution over non-test verdict rows
    * (SemmedDbFebRelayResultsCompiler.java:100-106). */
  private val relayCte: String = {
    val reasons = sqlList(graft.operators.Relay.Reasons)
    val improvements = sqlList(graft.operators.Relay.Improvements)
    s"""relay AS (
       |  SELECT 'FB' || CAST(o_orderkey*10+1 AS VARCHAR) AS feedback_id,
       |         CAST(o_orderkey AS VARCHAR) AS predication_id,
       |         CASE WHEN o_orderkey % 5 = 0 THEN 'Assertion Incorrect'
       |              ELSE 'Assertion Correct' END AS answer
       |  FROM orders
       |  UNION ALL
       |  SELECT 'FB' || CAST(o_orderkey*10+1 AS VARCHAR), CAST(o_orderkey AS VARCHAR),
       |         ($reasons)[CAST(o_orderkey % 4 AS INT) + 1]
       |  FROM orders WHERE o_orderkey % 5 = 0
       |  UNION ALL
       |  SELECT 'FB' || CAST(o_orderkey*10+1 AS VARCHAR), CAST(o_orderkey AS VARCHAR),
       |         ($improvements)[CAST(o_orderkey % 2 AS INT) + 1]
       |  FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 3 = 0
       |  UNION ALL
       |  SELECT 'FB' || CAST(o_orderkey*10+2 AS VARCHAR), CAST(o_orderkey AS VARCHAR),
       |         'Assertion Correct'
       |  FROM orders WHERE o_orderkey % 7 = 0
       |  UNION ALL
       |  SELECT 'FBTEST' || CAST(o_orderkey AS VARCHAR), '10595361', 'Assertion Correct'
       |  FROM orders WHERE o_orderkey % 50 = 0
       |  UNION ALL
       |  SELECT 'FBTEST' || CAST(o_orderkey AS VARCHAR), '10612762', 'Assertion Incorrect'
       |  FROM orders WHERE o_orderkey % 50 = 1),
       |relay_nt AS (SELECT * FROM relay
       |  WHERE predication_id NOT IN ('10595361', '10612762')),
       |resolved AS (
       |  SELECT predication_id,
       |    CASE WHEN max(CASE WHEN answer = 'Assertion Incorrect' THEN 1 ELSE 0 END) = 1
       |         THEN 'Assertion Incorrect' ELSE 'Assertion Correct' END AS answer
       |  FROM relay_nt
       |  WHERE answer IN ('Assertion Correct', 'Assertion Incorrect')
       |  GROUP BY predication_id)""".stripMargin
  }

  /** Relay.serializeMetadata→parseMetadata twin. */
  private val relayMetaCte: String = {
    val chem = sqlList(graft.operators.Relay.ChemicalTypes)
    val treat = sqlList(graft.operators.Relay.TreatmentTypes)
    s"""relay_meta AS (
       |  SELECT CAST(o_orderkey AS VARCHAR) AS predication_id,
       |         CAST(o_orderkey % 23 AS INT) AS intervening_token_count,
       |         CAST(o_orderkey % 30 + 12 AS INT) AS sentence_token_count,
       |         CAST(o_orderkey % 7 + 1 AS INT) AS pmid_count,
       |         CASE WHEN o_orderkey % 2 = 0
       |              THEN ($chem)[CAST(o_orderkey % 20 AS INT) + 1]
       |              ELSE ($treat)[CAST(o_orderkey % 10 AS INT) + 1] END AS subject_type,
       |         'dsyn' AS object_type
       |  FROM orders)""".stripMargin
  }

  private def r6Sql(x: String): String = s"floor(($x) * 1000000 + 0.5) / 1000000"

  val relayAccuracy: String =
    s"""WITH $relayCte
       |SELECT (SELECT CAST(count(DISTINCT feedback_id) AS BIGINT) FROM relay_nt) AS n_reviewed,
       |  CAST(count(*) AS BIGINT) AS n_unique,
       |  CAST(sum(CASE WHEN answer = 'Assertion Correct' THEN 1 ELSE 0 END) AS BIGINT) AS correct_count,
       |  CAST(sum(CASE WHEN answer = 'Assertion Incorrect' THEN 1 ELSE 0 END) AS BIGINT) AS incorrect_count,
       |  ${r6Sql("CAST(sum(CASE WHEN answer = 'Assertion Correct' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS accuracy
       |FROM resolved""".stripMargin

  val relayReasons: String =
    s"""WITH $relayCte,
       |winners AS (SELECT predication_id, max(feedback_id) AS feedback_id
       |  FROM relay_nt WHERE answer = 'Assertion Incorrect' GROUP BY predication_id),
       |n_inc AS (SELECT CAST(count(*) AS BIGINT) AS n_incorrect FROM winners)
       |SELECT r.answer, CAST(count(*) AS BIGINT) AS n,
       |  ${r6Sql("CAST(count(*) AS DOUBLE) / CAST(any_value(i.n_incorrect) AS DOUBLE)")} AS fraction
       |FROM relay r
       |JOIN (SELECT DISTINCT feedback_id FROM winners) w ON r.feedback_id = w.feedback_id
       |CROSS JOIN n_inc i
       |GROUP BY r.answer""".stripMargin

  val relayImprovements: String =
    s"""WITH $relayCte,
       |correct AS (SELECT predication_id FROM resolved WHERE answer = 'Assertion Correct'),
       |winners AS (SELECT r.predication_id, max(r.feedback_id) AS feedback_id
       |  FROM relay_nt r JOIN correct c ON r.predication_id = c.predication_id
       |  GROUP BY r.predication_id),
       |counts AS (SELECT r.answer, CAST(count(*) AS BIGINT) AS n
       |  FROM relay_nt r JOIN winners w
       |    ON r.predication_id = w.predication_id AND r.feedback_id = w.feedback_id
       |  GROUP BY r.answer),
       |total AS (SELECT n AS n_correct FROM counts WHERE answer = 'Assertion Correct')
       |SELECT c.answer, c.n,
       |  ${r6Sql("CAST(c.n AS DOUBLE) / CAST(t.n_correct AS DOUBLE)")} AS fraction
       |FROM counts c CROSS JOIN total t""".stripMargin

  val relayAccuracyByType: String = {
    val chem = sqlList(graft.operators.Relay.ChemicalTypes)
    val treat = sqlList(graft.operators.Relay.TreatmentTypes)
    s"""WITH $relayCte, $relayMetaCte,
       |bucketed AS (
       |  SELECT CASE WHEN list_contains($chem, m.subject_type) THEN 'CHEMICAL'
       |              WHEN list_contains($treat, m.subject_type) THEN 'TREATMENT' END AS subject_group,
       |         r.answer
       |  FROM resolved r JOIN relay_meta m ON r.predication_id = m.predication_id)
       |SELECT subject_group,
       |  CAST(sum(CASE WHEN answer = 'Assertion Correct' THEN 1 ELSE 0 END) AS BIGINT) AS correct_count,
       |  CAST(sum(CASE WHEN answer = 'Assertion Incorrect' THEN 1 ELSE 0 END) AS BIGINT) AS incorrect_count,
       |  CAST(count(*) AS BIGINT) AS total,
       |  ${r6Sql("CAST(sum(CASE WHEN answer = 'Assertion Correct' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS accuracy
       |FROM bucketed WHERE subject_group IS NOT NULL
       |GROUP BY subject_group""".stripMargin
  }

  /** Relay.sheetRows twin — the metadata CTE's predication universe is
    * CAST(o_orderkey AS VARCHAR) over orders. */
  val relaySheetRows: String =
    """SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS predication_id,
      |  'https://tmui.text-mining-kp.org/semmed/predication/' || CAST(o_orderkey AS VARCHAR) AS ui_url,
      |  false AS reviewed
      |FROM orders""".stripMargin

  val relayAccuracyByComplexity: String =
    s"""WITH $relayCte, $relayMetaCte
       |SELECT CASE WHEN m.intervening_token_count <= 10 THEN 'LOW' ELSE 'HIGH' END AS complexity,
       |  CAST(sum(CASE WHEN r.answer = 'Assertion Correct' THEN 1 ELSE 0 END) AS BIGINT) AS correct_count,
       |  CAST(sum(CASE WHEN r.answer = 'Assertion Incorrect' THEN 1 ELSE 0 END) AS BIGINT) AS incorrect_count,
       |  CAST(count(*) AS BIGINT) AS total,
       |  ${r6Sql("CAST(sum(CASE WHEN r.answer = 'Assertion Correct' THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS accuracy
       |FROM resolved r JOIN relay_meta m ON r.predication_id = m.predication_id
       |GROUP BY 1""".stripMargin

  val relayIaa: String =
    s"""WITH $relayCte,
       |verdicts AS (
       |  SELECT predication_id, feedback_id,
       |    max(CASE WHEN answer = 'Assertion Incorrect' THEN 1 ELSE 0 END) AS inc
       |  FROM relay_nt
       |  WHERE answer IN ('Assertion Correct', 'Assertion Incorrect')
       |  GROUP BY predication_id, feedback_id),
       |paired AS (
       |  SELECT min(struct_pack(feedback_id := feedback_id, inc := inc)).inc AS a,
       |         max(struct_pack(feedback_id := feedback_id, inc := inc)).inc AS b
       |  FROM verdicts GROUP BY predication_id HAVING count(*) = 2),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree_count,
       |    CAST(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a_correct,
       |    CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b_correct
       |  FROM paired),
       |pp0 AS (
       |  SELECT n_pairs, agree_count,
       |    CAST(agree_count AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS po,
       |    CAST(a_correct * b_correct + (n_pairs - a_correct) * (n_pairs - b_correct) AS DOUBLE)
       |      / CAST(n_pairs * n_pairs AS DOUBLE) AS pe
       |  FROM agg)
       |SELECT n_pairs, agree_count,
       |  ${r6Sql("po")} AS po, ${r6Sql("pe")} AS pe,
       |  ${r6Sql("CASE WHEN pe = 1.0 THEN 0.0 ELSE (po - pe) / (1.0 - pe) END")} AS kappa
       |FROM pp0""".stripMargin

  // ---------- C. cooccurrence & corpus stats ----------

  private def pairCountsSql(units: String, unitKeys: Seq[String]): String = {
    val joinKeys = unitKeys.map(k => s"a.$k = b.$k").mkString(" AND ")
    s"""pairs AS (
       |  SELECT a.concept_id AS concept1, b.concept_id AS concept2, CAST(count(*) AS BIGINT) AS pair_count
       |  FROM $units a JOIN $units b ON $joinKeys AND a.concept_id < b.concept_id
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Pair counts over RAW recognition (no post-processing) with ancestor
    * expansion — the batch twin of the streaming cooccurrence aggregation
    * (DocStreams.cooccurViaStream derives per-doc pair sets row-locally). */
  val streamingCooccur: String =
    s"""WITH $tokCte,
       |$conCte,
       |base AS (SELECT DISTINCT doc_id, concept_id FROM con),
       |units AS (
       |  SELECT doc_id, concept_id FROM base
       |  UNION
       |  SELECT b.doc_id, anc.ancestor_id AS concept_id
       |  FROM base b JOIN ${ConceptDict.ancestorsValuesSql} ON b.concept_id = anc.concept_id)
       |SELECT l.concept_id AS concept1, r.concept_id AS concept2,
       |  CAST(count(*) AS BIGINT) AS pair_count
       |FROM units l JOIN units r ON l.doc_id = r.doc_id AND l.concept_id < r.concept_id
       |GROUP BY 1, 2""".stripMargin

  val cooccurCountsDoc: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id"))) +
      "SELECT concept1, concept2, pair_count FROM pairs"

  val cooccurCountsSent: String =
    docPipeline(unitsSentCte, pairCountsSql("units_sent", Seq("doc_id", "sent_id"))) +
      "SELECT concept1, concept2, pair_count FROM pairs"

  /** TITLE level = first sentence window; ABSTRACT = windows 1-2. */
  private def unitsLevelCte(name: String, cond: String): String =
    s"""base_$name AS (SELECT DISTINCT doc_id, concept_id FROM pp WHERE $cond),
       |units_$name AS (
       |  SELECT doc_id, concept_id FROM base_$name
       |  UNION
       |  SELECT b.doc_id, anc.ancestor_id AS concept_id
       |  FROM base_$name b JOIN ${ConceptDict.ancestorsValuesSql} ON b.concept_id = anc.concept_id)""".stripMargin

  val cooccurCountsTitle: String =
    docPipeline(unitsLevelCte("title", s"(ord - 1) // $W = 0"),
      pairCountsSql("units_title", Seq("doc_id"))) +
      "SELECT concept1, concept2, pair_count FROM pairs"

  val cooccurCountsAbstract: String =
    docPipeline(unitsLevelCte("abstr", s"(ord - 1) // $W IN (1, 2)"),
      pairCountsSql("units_abstr", Seq("doc_id"))) +
      "SELECT concept1, concept2, pair_count FROM pairs"

  /** title units by span containment against derived section annotations —
    * the annotation-driven variant of the TITLE level. */
  val cooccurCountsTitleAnnot: String =
    docPipeline(
      s"""sec AS (SELECT doc_id,
         |    CASE WHEN (ord - 1) // $W = 0 THEN 'title' ELSE 'abstract' END AS section,
         |    min(char_start) AS sec_start, max(char_end) AS sec_end
         |  FROM tok WHERE (ord - 1) // $W <= 2 GROUP BY 1, 2)""".stripMargin,
      s"""base_ta AS (SELECT DISTINCT p.doc_id, p.concept_id
         |  FROM pp p JOIN sec s ON s.doc_id = p.doc_id AND s.section = 'title'
         |    AND p.char_start >= s.sec_start AND p.char_end <= s.sec_end),
         |units_ta AS (
         |  SELECT doc_id, concept_id FROM base_ta
         |  UNION
         |  SELECT b.doc_id, anc.ancestor_id AS concept_id
         |  FROM base_ta b JOIN ${ConceptDict.ancestorsValuesSql} ON b.concept_id = anc.concept_id)""".stripMargin,
      pairCountsSql("units_ta", Seq("doc_id"))) +
      "SELECT concept1, concept2, pair_count FROM pairs"

  /** The metrics tail shared by every CooccurLevel (the reference computes
    * the same ConceptCooccurrenceMetrics for each level, parameterized only
    * by the unit key — ConceptCooccurrenceMetricsPipeline.java:772-860):
    * singles/total/measures CTEs over the level's unit table. */
  private def metricsTailCtes(units: String, totSql: String): String =
    s"""singles AS (SELECT concept_id, CAST(count(*) AS BIGINT) AS unit_count FROM $units GROUP BY 1),
       |tot AS ($totSql),
       |m AS (
       |  SELECT p.concept1, p.concept2, p.pair_count,
       |    s1.unit_count AS concept1_count, s2.unit_count AS concept2_count,
       |    CAST(s1.unit_count AS DOUBLE) AS fx, CAST(s2.unit_count AS DOUBLE) AS fy,
       |    CAST(p.pair_count AS DOUBLE) AS fxy, t.n AS n
       |  FROM pairs p
       |  JOIN singles s1 ON p.concept1 = s1.concept_id
       |  JOIN singles s2 ON p.concept2 = s2.concept_id
       |  CROSS JOIN tot t)""".stripMargin

  private val metricsSelect: String =
    """SELECT concept1, concept2, pair_count, concept1_count, concept2_count,
      |  floor(((greatest(log10(fx), log10(fy)) - log10(fxy)) / (log10(n) - least(log10(fx), log10(fy)))) * 1000000 + 0.5) / 1000000 AS ngd,
      |  floor((ln((fxy / n) / ((fx / n) * (fy / n)))) * 1000000 + 0.5) / 1000000 AS pmi,
      |  floor((ln((fxy / n) / ((fx / n) * (fy / n))) / (-1.0 * ln((fxy / n) + 0.000000001))) * 1000000 + 0.5) / 1000000 AS npmi,
      |  floor((ln((fxy / n) / ((fx / n) * (fy / n))) / (-1.0 * ln(greatest(fx / n, fy / n) + 0.000000001))) * 1000000 + 0.5) / 1000000 AS npmim,
      |  floor((ln(pow(fxy / n, 2.0) / ((fx / n) * (fy / n)))) * 1000000 + 0.5) / 1000000 AS md,
      |  floor((ln(pow(fxy / n, 2.0) / ((fx / n) * (fy / n))) + ln(fxy / n)) * 1000000 + 0.5) / 1000000 AS lfmd
      |FROM m
      |WHERE log10(n) - least(log10(fx), log10(fy)) <> 0""".stripMargin

  val cooccurMetricsDoc: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      metricsTailCtes("units_doc",
        "SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM units_doc")) +
      metricsSelect

  /** Metrics at the TITLE / ABSTRACT levels: the level-restricted unit
    * tables of cooccurCountsTitle/Abstract under the same metrics tail. */
  val cooccurMetricsTitle: String =
    docPipeline(unitsLevelCte("title", s"(ord - 1) // $W = 0"),
      pairCountsSql("units_title", Seq("doc_id")),
      metricsTailCtes("units_title",
        "SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM units_title")) +
      metricsSelect

  val cooccurMetricsAbstract: String =
    docPipeline(unitsLevelCte("abstr", s"(ord - 1) // $W IN (1, 2)"),
      pairCountsSql("units_abstr", Seq("doc_id")),
      metricsTailCtes("units_abstr",
        "SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM units_abstr")) +
      metricsSelect

  /** Cooccurrence.chi2FromUnits twin (doc level): identical operation order
    * in every float expression. */
  val cooccurChi2: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      """singles AS (SELECT concept_id, CAST(count(*) AS BIGINT) AS unit_count FROM units_doc GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM units_doc),
        |m AS (
        |  SELECT p.concept1, p.concept2, p.pair_count,
        |    CAST(s1.unit_count AS DOUBLE) AS fx, CAST(s2.unit_count AS DOUBLE) AS fy,
        |    CAST(p.pair_count AS DOUBLE) AS fxy, t.n AS n
        |  FROM pairs p
        |  JOIN singles s1 ON p.concept1 = s1.concept_id
        |  JOIN singles s2 ON p.concept2 = s2.concept_id
        |  CROSS JOIN tot t)""".stripMargin) +
      """SELECT concept1, concept2, pair_count,
        |  floor((n * fxy / (fx * fy)) * 1000000 + 0.5) / 1000000 AS lift,
        |  floor((n * pow(fxy * (n - fx - fy + fxy) - (fx - fxy) * (fy - fxy), 2.0) / (fx * fy * (n - fx) * (n - fy))) * 1000000 + 0.5) / 1000000 AS chi2
        |FROM m WHERE fx < n AND fy < n""".stripMargin

  val cooccurMetricsSent: String =
    docPipeline(unitsSentCte, pairCountsSql("units_sent", Seq("doc_id", "sent_id")),
      metricsTailCtes("units_sent",
        """SELECT CAST(count(*) AS DOUBLE) AS n
          |  FROM (SELECT DISTINCT doc_id, sent_id FROM units_sent)""".stripMargin)) +
      metricsSelect

  val conceptIdf: String =
    docPipeline(unitsDocCte,
      "tot AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM units_doc)") +
      """SELECT concept_id, CAST(count(*) AS BIGINT) AS df,
        |  floor((ln(t.n / CAST(count(*) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS idf
        |FROM units_doc CROSS JOIN tot t GROUP BY concept_id, t.n""".stripMargin

  val conceptCountDist: String =
    docPipeline() +
      """SELECT concept_count, CAST(count(*) AS BIGINT) AS num_docs FROM (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS concept_count
        |  FROM (SELECT DISTINCT doc_id, concept_id FROM pp) GROUP BY doc_id)
        |GROUP BY concept_count""".stripMargin

  val tfidf: String =
    docPipeline(unitsDocCte,
      """tot AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM units_doc),
        |idf AS (
        |  SELECT concept_id, floor((ln(t.n / CAST(count(*) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS idf
        |  FROM units_doc CROSS JOIN tot t GROUP BY concept_id, t.n),
        |tf AS (SELECT doc_id, concept_id, CAST(count(*) AS BIGINT) AS tf FROM pp GROUP BY 1, 2)""".stripMargin) +
      """SELECT tf.doc_id, tf.concept_id, tf.tf, idf.idf,
        |  floor((CAST(tf.tf AS DOUBLE) * idf.idf) * 1000000 + 0.5) / 1000000 AS tfidf
        |FROM tf JOIN idf ON tf.concept_id = idf.concept_id""".stripMargin

  /** TextStats.sourceLmMatrix twin: per-source add-one LMs, micro-unit
    * floored log terms, one rounded division per matrix cell. */
  val sourceLmMatrix: String =
    s"""WITH $tokCte,
       |occ AS (SELECT d.source AS doc_source, t.tok
       |  FROM tok t JOIN documents d USING (doc_id)),
       |c AS (SELECT doc_source AS lm_source, tok, CAST(count(*) AS BIGINT) AS cnt
       |  FROM occ GROUP BY 1, 2),
       |tt AS (SELECT lm_source, CAST(sum(cnt) AS BIGINT) AS tot FROM c GROUP BY 1),
       |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz FROM occ),
       |x AS (SELECT o.doc_source, tt.lm_source,
       |    CAST(floor(ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE) / CAST(tt.tot + v.vsz AS DOUBLE)) * 1000000) AS BIGINT) AS term_u
       |  FROM occ o CROSS JOIN tt CROSS JOIN v
       |  LEFT JOIN c ON c.lm_source = tt.lm_source AND c.tok = o.tok)
       |SELECT lm_source, doc_source, CAST(count(*) AS BIGINT) AS n_tokens,
       |  floor((CAST(sum(term_u) AS DOUBLE) / 1000000.0 / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS avg_logprob
       |FROM x GROUP BY 1, 2""".stripMargin

  /** TextOps.spanCorruption twin: the same evenly-spaced integer span
    * geometry via unnest(range). */
  val spanCorruption: String =
    s"""WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
       |p AS (SELECT doc_id, n,
       |    ((n // ${TextOps.CorruptDenom}) + ${TextOps.CorruptSpanLen - 1}) // ${TextOps.CorruptSpanLen} AS n_spans
       |  FROM d),
       |q AS (SELECT doc_id, n, n // n_spans AS gap, n_spans FROM p WHERE n_spans > 0),
       |e AS (SELECT doc_id, n, gap,
       |    CAST(unnest(range(0, n_spans)) AS BIGINT) AS span_ord FROM q)
       |SELECT doc_id, span_ord,
       |  CAST(span_ord * gap + 1 AS BIGINT) AS start_ord,
       |  CAST(least(span_ord * gap + ${TextOps.CorruptSpanLen}, n) AS BIGINT) AS end_ord
       |FROM e""".stripMargin

  /** Okapi BM25 with k1 = 1.2, b = 0.75; every input integer except the
    * 6dp-rounded avgdl, and the literal arithmetic (2.2 = k1+1, 0.25 = 1-b)
    * resolves to the identical doubles in both engines. */
  private val bm25Cte =
    """btf AS (SELECT doc_id, concept_id, CAST(count(*) AS BIGINT) AS tf FROM pp GROUP BY 1, 2),
      |bdl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM pp GROUP BY 1),
      |bdf AS (SELECT concept_id, CAST(count(*) AS BIGINT) AS df
      |  FROM (SELECT DISTINCT doc_id, concept_id FROM pp) GROUP BY 1),
      |btot AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
      |  floor(avg(dl) * 1000000 + 0.5) / 1000000 AS avgdl FROM bdl),
      |bmw AS (
      |  SELECT btf.doc_id, btf.concept_id, btf.tf, bdf.df,
      |    floor((ln((t.n_docs - bdf.df + 0.5) / (bdf.df + 0.5) + 1.0) *
      |      ((btf.tf * 2.2) / (btf.tf + 1.2 * (0.25 + 0.75 * bdl.dl / t.avgdl)))) * 1000000 + 0.5) / 1000000 AS bm25
      |  FROM btf
      |  JOIN bdl ON btf.doc_id = bdl.doc_id
      |  JOIN bdf ON btf.concept_id = bdf.concept_id
      |  CROSS JOIN btot t)""".stripMargin

  val bm25Scores: String =
    docPipeline(bm25Cte) +
      "SELECT doc_id, concept_id, tf, df, bm25 FROM bmw"

  /** Rank over the ROUNDED score with the doc_id tie-break. */
  val bm25TopK: String =
    docPipeline(bm25Cte,
      """bmr AS (
        |  SELECT concept_id,
        |    CAST(row_number() OVER (PARTITION BY concept_id ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk,
        |    doc_id, bm25
        |  FROM bmw)""".stripMargin) +
      "SELECT concept_id, rk, doc_id, bm25 FROM bmr WHERE rk <= 10"

  /** Cooccurrence.hybridRrfFromPool twin: BM25 pool via the window formulation,
    * quality-prior rank WITHIN the pool, identical 1/(60+r) double chain. */
  val hybridRrf: String =
    docPipeline(bm25Cte,
      s"""bmr AS (SELECT concept_id,
        |    CAST(row_number() OVER (PARTITION BY concept_id ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk,
        |    doc_id FROM bmw),
        |pool AS (SELECT * FROM bmr WHERE rk <= 10),
        |fq AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |    CAST($stopCountSql AS BIGINT) AS n_stop
        |  FROM documents),
        |kq AS (SELECT doc_id,
        |    floor((least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
        |      * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |      * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS quality
        |  FROM fq),
        |qr AS (SELECT p.concept_id, p.rk, p.doc_id,
        |    CAST(row_number() OVER (PARTITION BY p.concept_id ORDER BY kq.quality DESC, p.doc_id) AS BIGINT) AS q_rk
        |  FROM pool p JOIN kq USING (doc_id)),
        |fr AS (SELECT concept_id, doc_id, rk, q_rk,
        |    floor((1.0 / (60.0 + CAST(rk AS DOUBLE)) + 1.0 / (60.0 + CAST(q_rk AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS rrf
        |  FROM qr)""".stripMargin) +
      """SELECT concept_id,
        |  CAST(row_number() OVER (PARTITION BY concept_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank,
        |  doc_id, rrf, rk AS bm25_rank, q_rk AS quality_rank
        |FROM fr""".stripMargin

  /** Cooccurrence.bm25MrrFromPool twin: relevance = tf >= 2, reciprocal rank of
    * the first relevant hit in the window-formulated top-10 pool. */
  val bm25Mrr: String =
    docPipeline(bm25Cte,
      """bmr AS (SELECT concept_id,
        |    CAST(row_number() OVER (PARTITION BY concept_id ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rk,
        |    doc_id FROM bmw),
        |pool AS (SELECT * FROM bmr WHERE rk <= 10),
        |brel AS (SELECT concept_id, doc_id FROM btf WHERE tf >= 2),
        |pq AS (SELECT p.concept_id,
        |    min(CASE WHEN r.doc_id IS NOT NULL THEN p.rk END) AS frr,
        |    CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_in_topk
        |  FROM pool p LEFT JOIN brel r ON p.concept_id = r.concept_id AND p.doc_id = r.doc_id
        |  GROUP BY 1),
        |nrel AS (SELECT concept_id, CAST(count(*) AS BIGINT) AS n_relevant FROM brel GROUP BY 1)""".stripMargin) +
      """SELECT pq.concept_id,
        |  coalesce(nrel.n_relevant, 0) AS n_relevant,
        |  pq.n_rel_in_topk,
        |  CAST(coalesce(pq.frr, 0) AS BIGINT) AS first_rel_rank,
        |  floor((CASE WHEN pq.frr IS NOT NULL THEN 1.0 / pq.frr ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS rr
        |FROM pq LEFT JOIN nrel USING (concept_id)""".stripMargin

  /** TextStats.shardManifest twin: deterministic shard hash, integer
    * micro-unit quality average, quality-descending curriculum rank. */
  val shardManifest: String =
    s"""WITH f AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |    CAST($stopCountSql AS BIGINT) AS n_stop
       |  FROM documents),
       |q AS (SELECT doc_id, n_chars, n_toks,
       |    CAST(floor(floor((least(1.0, CAST(n_toks AS DOUBLE) / 100.0)
       |      * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_toks AS DOUBLE))
       |      * (CAST(n_distinct AS DOUBLE) / CAST(n_toks AS DOUBLE))) * 1000000 + 0.5) / 1000000
       |      * 1000000 + 0.5) AS BIGINT) AS quality_u
       |  FROM f),
       |m AS (SELECT ${mulModSql("doc_id", TextStats.ShardCount)} AS shard_id,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       |    CAST(sum(n_chars) AS BIGINT) AS n_bytes,
       |    CAST(sum(quality_u) // count(*) AS BIGINT) AS avg_quality_u
       |  FROM q GROUP BY 1)
       |SELECT shard_id, n_docs, n_tokens, n_bytes, avg_quality_u,
       |  CAST(row_number() OVER (ORDER BY avg_quality_u DESC, shard_id) AS BIGINT) AS curriculum_rank
       |FROM m""".stripMargin

  /** Concepts.excludeSubtrees twin (ExcludeCraftConceptsByOntologyId):
    * excluded = listed individuals + the listed roots' full descendant
    * closure; annotations of excluded classes are removed. */
  val conceptsExcludeSubtree: String =
    s"""WITH RECURSIVE $tokCte,
       |$conCte,
       |$ppCte,
       |closure(child, parent) AS (
       |  SELECT child, parent FROM ${ConceptDict.directEdgesValuesSql()}
       |  UNION
       |  SELECT c.child, e.parent
       |  FROM closure c JOIN ${ConceptDict.directEdgesValuesSql("e")} ON c.parent = e.child),
       |excl AS (
       |  SELECT child AS concept_id FROM closure WHERE parent IN ('OP:JOINLIKE')
       |  UNION SELECT 'OP:JOINLIKE' AS concept_id
       |  UNION SELECT 'DS:line' AS concept_id)
       |SELECT doc_id, concept_id, ord, tok, char_start, char_end FROM pp
       |WHERE NOT EXISTS (SELECT 1 FROM excl WHERE excl.concept_id = pp.concept_id)""".stripMargin

  /** Concepts.revertExtMerge twin (CraftGoMfExtReverter): _EXT ids revert,
    * survive only when the reverted id is a known class, and merge into
    * the original set. */
  val conceptsExtRevert: String =
    docPipeline(
      """o AS (SELECT doc_id, concept_id, ord, tok, char_start, char_end
        |  FROM pp WHERE ord % 3 = 0),
        |e AS (SELECT doc_id,
        |    CASE WHEN ord % 2 = 0 THEN replace(concept_id, ':', '_EXT:')
        |         ELSE 'ZZ_EXT:' || tok END AS concept_id,
        |    ord, tok, char_start, char_end
        |  FROM pp WHERE ord % 3 <> 0),
        |rvt AS (SELECT doc_id, replace(concept_id, '_EXT', '') AS concept_id,
        |    ord, tok, char_start, char_end FROM e),
        |known AS (SELECT DISTINCT concept_id FROM pp)""".stripMargin) +
      """SELECT doc_id, concept_id, ord, tok, char_start, char_end FROM o
        |UNION ALL
        |SELECT r.doc_id, r.concept_id, r.ord, r.tok, r.char_start, r.char_end
        |FROM rvt r WHERE EXISTS (SELECT 1 FROM known k WHERE k.concept_id = r.concept_id)""".stripMargin

  // ---------- D. sentence pairs ----------

  private val pairsCte =
    s"""xs AS (SELECT doc_id, (ord - 1) // $W AS sent_id, concept_id AS concept_x, min(ord) AS x_ord
       |  FROM pp WHERE concept_id LIKE 'OP:%' GROUP BY 1, 2, 3),
       |ys AS (SELECT doc_id, (ord - 1) // $W AS sent_id, concept_id AS concept_y, min(ord) AS y_ord
       |  FROM pp WHERE concept_id LIKE 'DS:%' GROUP BY 1, 2, 3),
       |prs AS (
       |  SELECT xs.doc_id, xs.sent_id, xs.concept_x, ys.concept_y, xs.x_ord, ys.y_ord
       |  FROM xs JOIN ys ON xs.doc_id = ys.doc_id AND xs.sent_id = ys.sent_id)""".stripMargin

  val sentencePairs: String =
    docPipeline(pairsCte) +
      s"""SELECT p.doc_id, p.sent_id, p.concept_x, p.concept_y, p.x_ord, p.y_ord,
         |  string_agg(CASE WHEN t.ord = p.x_ord THEN '@CONCEPT_X$$'
         |                  WHEN t.ord = p.y_ord THEN '@CONCEPT_Y$$'
         |                  ELSE t.tok END, ' ' ORDER BY t.ord) AS blinded_sentence
         |FROM prs p JOIN tok t ON t.doc_id = p.doc_id AND (t.ord - 1) // $W = p.sent_id
         |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin

  val sentencePairsKw: String = {
    val kws = SentencePairs.DefaultKeywords.map(k => s"'${k.toLowerCase}'").mkString(", ")
    docPipeline(pairsCte,
      s"""kw AS (SELECT doc_id, (ord - 1) // $W AS sent_id, min(lower(tok)) AS keyword
         |  FROM tok WHERE lower(tok) IN ($kws) GROUP BY 1, 2)""".stripMargin) +
      """SELECT p.doc_id, p.sent_id, p.concept_x, p.concept_y, p.x_ord, p.y_ord, kw.keyword
        |FROM prs p JOIN kw ON p.doc_id = kw.doc_id AND p.sent_id = kw.sent_id""".stripMargin
  }

  val classifiedSentences: String =
    docPipeline(pairsCte) +
      """SELECT * FROM (
        |  SELECT doc_id, sent_id, concept_x, concept_y, x_ord, y_ord,
        |    floor((CAST((doc_id * 31 + sent_id * 17 + x_ord * 7 + y_ord) % 1000 AS DOUBLE) / 1000.0) * 1000000 + 0.5) / 1000000 AS score
        |  FROM prs)
        |WHERE score >= 0.5""".stripMargin

  /** Twin of SentencePairs.semmedEvalRows (SemmedDbFileParser.java eval-row
    * construction: intervening/sentence token counts + edge pmid support +
    * the reference's exact bucket thresholds). */
  val semmedEvalRows: String =
    docPipeline(pairsCte,
      s"""slen AS (SELECT doc_id, (ord - 1) // $W AS sent_id, CAST(count(*) AS BIGINT) AS sentence_tokens
         |  FROM tok GROUP BY 1, 2)""".stripMargin,
      """supp AS (SELECT subj_concept, obj_concept, CAST(count(*) AS BIGINT) AS pmid_count
        |  FROM (SELECT DISTINCT doc_id, concept_x AS subj_concept, concept_y AS obj_concept FROM prs)
        |  GROUP BY 1, 2)""".stripMargin) +
      s"""SELECT p.doc_id, p.sent_id, p.concept_x AS subj_concept, p.concept_y AS obj_concept,
         |  p.x_ord AS subj_ord, p.y_ord AS obj_ord,
         |  CAST(abs(p.y_ord - p.x_ord) - 1 AS BIGINT) AS intervening_tokens,
         |  s.sentence_tokens, su.pmid_count,
         |  'OP_DS' AS sem_types,
         |  CASE WHEN su.pmid_count = 1 THEN 'PMID_1'
         |       WHEN su.pmid_count < 5 THEN 'PMID_2_4'
         |       WHEN su.pmid_count < 10 THEN 'PMID_5_9'
         |       WHEN su.pmid_count < 20 THEN 'PMID_10_19'
         |       ELSE 'PMID_20' END AS pmid_bucket,
         |  CASE WHEN abs(p.y_ord - p.x_ord) - 1 = 0 THEN 'TOKEN_0'
         |       WHEN abs(p.y_ord - p.x_ord) - 1 = 1 THEN 'TOKEN_1'
         |       WHEN abs(p.y_ord - p.x_ord) - 1 < 5 THEN 'TOKEN_2_4'
         |       WHEN abs(p.y_ord - p.x_ord) - 1 < 10 THEN 'TOKEN_5_9'
         |       WHEN abs(p.y_ord - p.x_ord) - 1 < 15 THEN 'TOKEN_10_14'
         |       ELSE 'TOKEN_15' END AS token_bucket
         |FROM prs p
         |JOIN slen s ON s.doc_id = p.doc_id AND s.sent_id = p.sent_id
         |JOIN supp su ON su.subj_concept = p.concept_x AND su.obj_concept = p.concept_y""".stripMargin

  val relationPaths: String =
    docPipeline(pairsCte) +
      """SELECT path, CAST(count(*) AS BIGINT) AS support,
        |  CAST(count(DISTINCT concept_x || '|' || concept_y) AS BIGINT) AS n_distinct_pairs
        |FROM (
        |  SELECT p.doc_id, p.sent_id, p.concept_x, p.concept_y,
        |    least(p.x_ord, p.y_ord) AS lo, greatest(p.x_ord, p.y_ord) AS hi,
        |    string_agg(t.tok, ' ' ORDER BY t.ord) AS path
        |  FROM prs p JOIN tok t ON t.doc_id = p.doc_id
        |    AND t.ord > least(p.x_ord, p.y_ord) AND t.ord < greatest(p.x_ord, p.y_ord)
        |  GROUP BY 1, 2, 3, 4, 5, 6)
        |GROUP BY path HAVING count(*) >= 2""".stripMargin

  /** SentencePairs.dpInput twin: the dependency-parser comment-block
    * serialization, assembled with the same tab/newline joins and the same
    * underscore rule at the mention ordinals. */
  val dpInputExport: String =
    docPipeline(pairsCte) +
      s"""SELECT p.doc_id, p.sent_id, p.concept_x, p.concept_y,
         |  '###C: SENTENCE' || chr(9) || CAST(p.doc_id AS VARCHAR) || chr(9) ||
         |    CAST(p.sent_id AS VARCHAR) || chr(9) || CAST(min(t.char_start) AS VARCHAR) || chr(10) ||
         |  '###C: ENTITY' || chr(9) || p.concept_x || chr(9) ||
         |    CAST(xm.char_start AS VARCHAR) || '|' || CAST(xm.char_end AS VARCHAR) || chr(9) || xm.tok || chr(10) ||
         |  '###C: ENTITY' || chr(9) || p.concept_y || chr(9) ||
         |    CAST(ym.char_start AS VARCHAR) || '|' || CAST(ym.char_end AS VARCHAR) || chr(9) || ym.tok || chr(10) ||
         |  string_agg(CASE WHEN t.ord = p.x_ord OR t.ord = p.y_ord
         |                  THEN replace(t.tok, ' ', '_') ELSE t.tok END, ' ' ORDER BY t.ord)
         |  AS dp_input
         |FROM prs p
         |JOIN pp xm ON xm.doc_id = p.doc_id AND xm.concept_id = p.concept_x AND xm.ord = p.x_ord
         |JOIN pp ym ON ym.doc_id = p.doc_id AND ym.concept_id = p.concept_y AND ym.ord = p.y_ord
         |JOIN tok t ON t.doc_id = p.doc_id AND (t.ord - 1) // $W = p.sent_id
         |GROUP BY p.doc_id, p.sent_id, p.concept_x, p.concept_y,
         |  xm.char_start, xm.char_end, xm.tok, ym.char_start, ym.char_end, ym.tok""".stripMargin

  val distantSupervision: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      """singles AS (SELECT concept_id, CAST(count(*) AS BIGINT) AS unit_count FROM units_doc GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM units_doc),
        |m AS (
        |  SELECT p.concept1, p.concept2,
        |    CAST(s1.unit_count AS DOUBLE) AS fx, CAST(s2.unit_count AS DOUBLE) AS fy,
        |    CAST(p.pair_count AS DOUBLE) AS fxy, t.n AS n
        |  FROM pairs p
        |  JOIN singles s1 ON p.concept1 = s1.concept_id
        |  JOIN singles s2 ON p.concept2 = s2.concept_id
        |  CROSS JOIN tot t),
        |kb AS (
        |  SELECT concept1, concept2, npmi AS kb_npmi FROM (
        |    SELECT concept1, concept2,
        |      floor((ln((fxy / n) / ((fx / n) * (fy / n))) / (-1.0 * ln((fxy / n) + 0.000000001))) * 1000000 + 0.5) / 1000000 AS npmi
        |    FROM m WHERE log10(n) - least(log10(fx), log10(fy)) <> 0)
        |  WHERE npmi >= 0.1)""".stripMargin + ",\n" + pairsCte) +
      """SELECT p.doc_id, p.sent_id, p.concept_x, p.concept_y,
        |  kb.kb_npmi IS NOT NULL AS silver_positive,
        |  coalesce(kb.kb_npmi, 0.0) AS kb_npmi
        |FROM prs p
        |LEFT JOIN kb ON least(p.concept_x, p.concept_y) = kb.concept1
        |  AND greatest(p.concept_x, p.concept_y) = kb.concept2""".stripMargin

  /** SentencePairs.dsTrainSplitFromMetrics twin: the distant-supervision oracle
    * filtered to positives plus the deterministic 1-in-4 negative hash
    * subsample, labels as 0/1. */
  val dsTrainSplit: String =
    s"""SELECT doc_id, sent_id, concept_x, concept_y,
       |  CAST(silver_positive AS BIGINT) AS y
       |FROM ($distantSupervision)
       |WHERE silver_positive OR (doc_id * 31 + sent_id) % 4 = 0""".stripMargin

  /** TextStats.gopherRules twin: token aggregates via unnest, rule bits as
    * the same exact-integer comparisons. */
  val gopherRules: String =
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |agg AS (SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(CASE WHEN regexp_matches(w, '[A-Za-z]') THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_words,
       |    CAST(sum(CASE WHEN regexp_matches(w, '[#…]') THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol_words,
       |    CAST(count(DISTINCT CASE WHEN w IN ${ConceptDict.stopwordsInSql} THEN w END) AS BIGINT) AS n_stop_distinct
       |  FROM w GROUP BY 1)
       |SELECT d.doc_id, a.n_words,
       |  CAST(d.n_chars - a.n_words + 1 AS BIGINT) AS word_chars,
       |  a.n_alpha_words, a.n_symbol_words, a.n_stop_distinct,
       |  (a.n_words >= 50 AND a.n_words <= 100000) AS rule_word_count,
       |  (3 * a.n_words <= d.n_chars - a.n_words + 1
       |    AND d.n_chars - a.n_words + 1 <= 10 * a.n_words) AS rule_mean_word_len,
       |  (10 * a.n_symbol_words <= a.n_words) AS rule_symbol_ratio,
       |  (5 * a.n_alpha_words >= 4 * a.n_words) AS rule_alpha_words,
       |  (a.n_stop_distinct >= 2) AS rule_stopwords,
       |  ((a.n_words >= 50 AND a.n_words <= 100000)
       |    AND (3 * a.n_words <= d.n_chars - a.n_words + 1
       |      AND d.n_chars - a.n_words + 1 <= 10 * a.n_words)
       |    AND (10 * a.n_symbol_words <= a.n_words)
       |    AND (5 * a.n_alpha_words >= 4 * a.n_words)
       |    AND (a.n_stop_distinct >= 2)) AS pass_gopher
       |FROM documents d JOIN agg a USING (doc_id)""".stripMargin

  /** Etl.scd2 twin over the docUpsert update batch: versions by batch
    * order, valid_to from lead(). */
  val docHistory: String =
    s"""WITH upd AS (
      |  SELECT doc_id, 'xx' AS lang, 'updated' AS source
      |  FROM documents WHERE ${mulModSql("doc_id", 1000)} < 100),
      |hist AS (
      |  SELECT doc_id, lang, source, CAST(0 AS BIGINT) AS valid_from FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang, source, CAST(1 AS BIGINT) AS valid_from FROM upd),
      |v AS (SELECT doc_id, lang, source, valid_from,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY valid_from) AS BIGINT) AS version,
      |    lead(valid_from) OVER (PARTITION BY doc_id ORDER BY valid_from) AS valid_to
      |  FROM hist)
      |SELECT doc_id, lang, source, version, valid_from, valid_to,
      |  valid_to IS NULL AS is_current FROM v""".stripMargin

  /** TextStats.labelSourceMatrix twin: modality join on the doc key,
    * two-key aggregate, source totals from the matrix. */
  val labelSourceMatrix: String =
    """WITH j AS (SELECT d.source, CAST(e.label AS BIGINT) AS label,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS nt
      |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
      |m AS (SELECT label, source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(nt) AS BIGINT) AS n_tokens
      |  FROM j GROUP BY 1, 2),
      |st AS (SELECT source, CAST(sum(n_docs) AS BIGINT) AS tot FROM m GROUP BY 1)
      |SELECT m.label, m.source, m.n_docs, m.n_tokens,
      |  floor((CAST(m.n_docs AS DOUBLE) / CAST(st.tot AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS share_of_source
      |FROM m JOIN st USING (source)""".stripMargin

  /** Etl.snapshotDiff twin over a derived new snapshot: hash-banded
    * changed/removed/added populations, full-outer join, null-safe
    * compares. */
  val snapshotDiff: String =
    s"""WITH h AS (SELECT *, ${mulModSql("doc_id", 1000)} AS hb FROM documents),
      |neu AS (
      |  SELECT doc_id, text, 'xx' AS lang, 'updated' AS source, n_chars FROM h WHERE hb < 100
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars FROM h
      |  WHERE hb >= 100 AND NOT (hb >= 150 AND hb < 200)
      |  UNION ALL
      |  SELECT doc_id + 1000000000, text, lang, source, n_chars FROM h
      |  WHERE hb >= 100 AND hb < 150),
      |d AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |    CASE WHEN o.doc_id IS NULL THEN 'added'
      |         WHEN n.doc_id IS NULL THEN 'removed'
      |         WHEN o.text IS DISTINCT FROM n.text OR o.lang IS DISTINCT FROM n.lang
      |           OR o.source IS DISTINCT FROM n.source OR o.n_chars IS DISTINCT FROM n.n_chars
      |           THEN 'changed' END AS change_type
      |  FROM documents o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id)
      |SELECT doc_id, change_type FROM d WHERE change_type IS NOT NULL""".stripMargin

  /** TextStats.epochPlan twin: the sourceTemperature weight chain floored
    * to micro-units, then exact-integer target sizing and epoch ceilings. */
  val epochPlan: String =
    """WITH per AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per),
      |raw AS (SELECT source, n_tokens,
      |    floor((CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS p_raw
      |  FROM per, tot),
      |w AS (SELECT *, floor(power(p_raw, 0.3) * 1000000 + 0.5) / 1000000 AS w FROM raw),
      |wt AS (SELECT sum(w) AS w_tot FROM w),
      |u AS (SELECT source, n_tokens,
      |    CAST(floor((w / w_tot) * 1000000 + 0.5) AS BIGINT) AS w_u FROM w, wt),
      |t AS (SELECT *, CAST((50000 * w_u) // 1000000 AS BIGINT) AS target_tokens FROM u)
      |SELECT source, n_tokens, w_u, target_tokens,
      |  CAST((target_tokens + n_tokens - 1) // n_tokens AS BIGINT) AS epochs
      |FROM t""".stripMargin

  val docUpsert: String =
    s"""WITH upd AS (
      |  SELECT doc_id, text, 'xx' AS lang, 'updated' AS source, n_chars
      |  FROM documents WHERE ${mulModSql("doc_id", 1000)} < 100)
      |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars FROM documents d
      |WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = d.doc_id)
      |UNION ALL
      |SELECT doc_id, text, lang, source, n_chars FROM upd""".stripMargin

  // ---------- E. exports ----------

  val bionlpExport: String =
    docPipeline() +
      """SELECT doc_id,
        |  'T' || CAST(row_number() OVER (PARTITION BY doc_id ORDER BY char_start, concept_id) AS BIGINT)
        |    || chr(9) || split_part(concept_id, ':', 1) || ' ' || char_start || ' ' || char_end
        |    || chr(9) || tok AS line
        |FROM pp""".stripMargin

  /** The DSv2 standoff source reads back exactly the exported annotation
    * fields (t_num from the T tag, doc_id from the partition directory). */
  val bionlpSource: String =
    docPipeline() +
      """SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY char_start, concept_id) AS BIGINT) AS t_num,
        |  split_part(concept_id, ':', 1) AS concept_type,
        |  char_start, char_end, tok
        |FROM pp WHERE doc_id % 20 = 0""".stripMargin

  val bratExport: String =
    docPipeline(
      """tnum AS (SELECT doc_id, concept_id, char_start, char_end, tok,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY char_start, concept_id) AS BIGINT) AS t_num
        |  FROM pp)""".stripMargin) +
      """SELECT doc_id, doc_id || '.ann' AS ann_file,
        |  'T' || t_num || chr(9) || split_part(concept_id, ':', 1) || ' ' || char_start || ' ' || char_end || chr(9) || tok AS line
        |FROM tnum
        |UNION ALL
        |SELECT doc_id, doc_id || '.ann' AS ann_file,
        |  'N' || t_num || chr(9) || 'Reference T' || t_num || ' ' || concept_id || chr(9) || tok AS line
        |FROM tnum""".stripMargin

  val webannoExport: String =
    docPipeline(
      "lab AS (SELECT doc_id, ord, min(concept_id) AS label FROM pp GROUP BY 1, 2)") +
      s"""SELECT t.doc_id,
         |  CAST((t.ord - 1) // $W + 1 AS VARCHAR) || '-' || CAST((t.ord - 1) % $W + 1 AS VARCHAR)
         |    || chr(9) || t.char_start || '-' || t.char_end
         |    || chr(9) || t.tok || chr(9) || coalesce(lab.label, '_') AS line
         |FROM tok t LEFT JOIN lab ON t.doc_id = lab.doc_id AND t.ord = lab.ord""".stripMargin

  val bioTags: String =
    docPipeline(
      "lab AS (SELECT doc_id, ord, min(concept_id) AS cid FROM pp GROUP BY 1, 2)",
      """lt AS (SELECT t.doc_id, t.ord, t.tok, lab.cid
        |  FROM tok t LEFT JOIN lab ON t.doc_id = lab.doc_id AND t.ord = lab.ord)""".stripMargin) +
      """SELECT doc_id, ord, tok || chr(9) ||
        |  CASE WHEN cid IS NULL THEN 'O'
        |       WHEN lag(cid) OVER (PARTITION BY doc_id ORDER BY ord) = cid
        |         THEN 'I-' || split_part(cid, ':', 1)
        |       ELSE 'B-' || split_part(cid, ':', 1) END AS line
        |FROM lt""".stripMargin

  /** BIO tags → entity spans (Conllu.bertImport twin): a new entity begins
    * exactly when the label changes or the previous token is untagged —
    * the reference fixTag's net effect (NerBertToBionlpConverter.java). */
  val nerBertImport: String =
    docPipeline(
      "lab AS (SELECT doc_id, ord, min(concept_id) AS cid FROM pp GROUP BY 1, 2)",
      """tagd AS (SELECT t.doc_id, t.ord, t.tok, t.char_start, t.char_end,
        |    CASE WHEN lab.cid IS NULL THEN NULL
        |         ELSE split_part(lab.cid, ':', 1) END AS label
        |  FROM tok t LEFT JOIN lab ON t.doc_id = lab.doc_id AND t.ord = lab.ord)""".stripMargin,
      """seg0 AS (SELECT *, lag(label) OVER (PARTITION BY doc_id ORDER BY ord) AS prev_label
        |  FROM tagd)""".stripMargin,
      """seg AS (SELECT *, sum(CASE WHEN label IS NOT NULL
        |      AND (prev_label IS NULL OR prev_label <> label) THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY ord) AS seg_id
        |  FROM seg0)""".stripMargin,
      """ent AS (SELECT doc_id, seg_id, min(label) AS label,
        |    min(char_start) AS char_start, max(char_end) AS char_end,
        |    string_agg(tok, ' ' ORDER BY ord) AS covered_text
        |  FROM seg WHERE label IS NOT NULL GROUP BY 1, 2)""".stripMargin) +
      """SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY char_start) AS BIGINT) AS t_num,
        |  label, char_start, char_end, covered_text
        |FROM ent""".stripMargin

  /** Exports.sentenceCooccur twin: SENT_COUNT headers + per-sentence
    * concept runs under the same sha256 annotation-id recipe. */
  val sentenceCooccurExport: String =
    docPipeline(
      s"""sents AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
         |    string_agg(tok, ' ' ORDER BY ord) AS sent_text,
         |    min(char_start) AS s_start
         |  FROM tok GROUP BY 1, 2)""".stripMargin,
      s"""keep AS (SELECT doc_id, (ord - 1) // $W AS sent_id, concept_id, char_start, char_end
         |  FROM pp WHERE lower(tok) NOT IN ${ConceptDict.stopwordsInSql})""".stripMargin,
      """runs AS (SELECT k.doc_id, k.sent_id,
        |    string_agg(CAST(k.char_start - s.s_start AS VARCHAR) || '|' ||
        |      CAST(k.char_end - s.s_start AS VARCHAR) || '|' || k.concept_id || ';', ''
        |      ORDER BY k.char_start, k.concept_id) AS concepts,
        |    min(s.sent_text) AS sent_text, min(s.s_start) AS s_start
        |  FROM keep k JOIN sents s ON k.doc_id = s.doc_id AND k.sent_id = s.sent_id
        |  GROUP BY 1, 2)""".stripMargin) +
      """SELECT doc_id, 'SENT_COUNT' || chr(9) || CAST(count(*) AS VARCHAR)
        |    || chr(9) || CAST(doc_id AS VARCHAR) AS line
        |FROM sents GROUP BY doc_id
        |UNION ALL
        |SELECT doc_id, sha256(CAST(doc_id AS VARCHAR) || CAST(s_start AS VARCHAR)
        |    || sent_text || 'SENTENCE' || '[sentence]')
        |    || chr(9) || concepts || chr(9) || sent_text AS line
        |FROM runs""".stripMargin

  /** Exports.annotationBatch twin: hash-dedup canonical, already-annotated
    * anti-join, deterministic hash-order batch cut, per-page assignment. */
  val annotationBatch: String =
    s"""WITH $tokCte,
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
       |    string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok GROUP BY 1, 2),
       |h AS (SELECT sha256(sent_text) AS sent_hash, doc_id, sent_id, sent_text FROM sent),
       |canon AS (SELECT sent_hash, min({'d': doc_id, 's': sent_id}) AS mn,
       |    min(sent_text) AS sent_text
       |  FROM h GROUP BY 1),
       |prev AS (SELECT DISTINCT sha256(sent_text) AS sent_hash FROM sent WHERE doc_id % 7 = 0),
       |batch AS (SELECT c.sent_hash, CAST(c.mn.d AS BIGINT) AS doc_id,
       |    CAST(c.mn.s AS BIGINT) AS sent_id, c.sent_text
       |  FROM canon c LEFT JOIN prev p ON c.sent_hash = p.sent_hash
       |  WHERE p.sent_hash IS NULL
       |  ORDER BY c.sent_hash LIMIT 100),
       |pos AS (SELECT *, CAST(row_number() OVER (ORDER BY sent_hash) AS BIGINT) AS pos FROM batch)
       |SELECT pos, (pos - 1) // 20 AS page,
       |  'batch_' || CAST((pos - 1) // 20 AS VARCHAR) || '.ann' AS ann_file,
       |  sent_hash, doc_id, sent_id, sent_text
       |FROM pos""".stripMargin

  /** Shared CTE set for the annotation-repo statistics: the per-annotator
    * batches (annotationBatch's canonical/anti-join/limit shape, one prev
    * set per annotator) flattened to (annotator, page, sent_hash). */
  private val repoBatchCtes: String = {
    val head =
      s"""sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
         |    string_agg(tok, ' ' ORDER BY ord) AS sent_text
         |  FROM tok GROUP BY 1, 2),
         |h AS (SELECT sha256(sent_text) AS sent_hash, doc_id, sent_id, sent_text FROM sent),
         |canon AS (SELECT sent_hash, min(sent_text) AS sent_text FROM h GROUP BY 1)""".stripMargin
    val per = (0 until graft.operators.Exports.RepoAnnotators).map { a =>
      s"""prev$a AS (SELECT DISTINCT sha256(sent_text) AS sent_hash FROM sent WHERE doc_id % 7 = $a),
         |batch$a AS (SELECT c.sent_hash FROM canon c LEFT JOIN prev$a p ON c.sent_hash = p.sent_hash
         |  WHERE p.sent_hash IS NULL ORDER BY c.sent_hash LIMIT 100),
         |pos$a AS (SELECT sent_hash,
         |  CAST(row_number() OVER (ORDER BY sent_hash) AS BIGINT) AS pos FROM batch$a)""".stripMargin
    }
    val union = (0 until graft.operators.Exports.RepoAnnotators)
      .map(a => s"SELECT 'ann$a' AS annotator, (pos - 1) // 20 AS page, sent_hash FROM pos$a")
      .mkString("bb AS (", "\n  UNION ALL ", ")")
    (Seq(head) ++ per :+ union).mkString(",\n")
  }

  val batchStats: String =
    s"""WITH $tokCte,
       |$repoBatchCtes
       |SELECT annotator, 'batch_' || CAST(page AS VARCHAR) || '.txt' AS file,
       |  CAST(count(*) AS BIGINT) AS n_sentences
       |FROM bb GROUP BY 1, 2""".stripMargin

  val batchOverlap: String =
    s"""WITH $tokCte,
       |$repoBatchCtes,
       |bk AS (SELECT annotator || '/batch_' || CAST(page AS VARCHAR) AS batch_key, sent_hash FROM bb)
       |SELECT x.batch_key AS batch_a, y.batch_key AS batch_b,
       |  CAST(count(*) AS BIGINT) AS n_shared
       |FROM bk x JOIN bk y ON x.sent_hash = y.sent_hash AND x.batch_key < y.batch_key
       |GROUP BY 1, 2""".stripMargin

  /** Exports.inception twin: header block + hash-ordered bounded batch,
    * sentences renumbered 1..n, char offsets re-based to run consecutively
    * through the file, blank separator after every sentence but the last. */
  val inceptionExport: String =
    s"""WITH $tokCte,
       |$conCte,
       |$ppCte,
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
       |    string_agg(tok, ' ' ORDER BY ord) AS sent_text,
       |    min(char_start) AS sent_start
       |  FROM tok GROUP BY 1, 2),
       |h AS (SELECT sha256(sent_text) AS sent_hash, doc_id, sent_id, sent_text, sent_start FROM sent),
       |canon AS (SELECT sent_hash, min({'d': doc_id, 's': sent_id, 'cs': sent_start}) AS mn,
       |    min(sent_text) AS sent_text
       |  FROM h GROUP BY 1),
       |batch AS (SELECT sent_hash, CAST(mn.d AS BIGINT) AS doc_id,
       |    CAST(mn.s AS BIGINT) AS sent_id, sent_text, CAST(mn.cs AS BIGINT) AS sent_start
       |  FROM canon ORDER BY sent_hash LIMIT 50),
       |b AS (SELECT *, CAST(row_number() OVER (ORDER BY sent_hash) AS BIGINT) AS pos,
       |    CAST(coalesce(sum(length(sent_text) + 1) OVER (ORDER BY sent_hash
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off,
       |    CAST(count(*) OVER () AS BIGINT) AS n_batch
       |  FROM batch),
       |lab AS (SELECT doc_id, ord, min(concept_id) AS label FROM pp GROUP BY 1, 2),
       |hdr AS (SELECT * FROM (VALUES
       |  (CAST(0 AS BIGINT), CAST(1 AS BIGINT), '#FORMAT=WebAnno TSV 3.3'),
       |  (CAST(0 AS BIGINT), CAST(2 AS BIGINT), '#T_SP=custom.Span|label'),
       |  (CAST(0 AS BIGINT), CAST(3 AS BIGINT), ''),
       |  (CAST(0 AS BIGINT), CAST(4 AS BIGINT), '')) AS v(pos, block_line, line))
       |SELECT pos, block_line, line FROM hdr
       |UNION ALL SELECT pos, CAST(1 AS BIGINT), '#Text=' || sent_text FROM b
       |UNION ALL SELECT b.pos, CAST((t.ord - 1) % $W + 1 + 1 AS BIGINT),
       |  CAST(b.pos AS VARCHAR) || '-' || CAST((t.ord - 1) % $W + 1 AS VARCHAR)
       |    || chr(9) || CAST(t.char_start - b.sent_start + b.off AS VARCHAR)
       |    || '-' || CAST(t.char_end - b.sent_start + b.off AS VARCHAR)
       |    || chr(9) || t.tok || chr(9) || coalesce(lab.label, '_')
       |  FROM b JOIN tok t ON t.doc_id = b.doc_id AND (t.ord - 1) // $W = b.sent_id
       |  LEFT JOIN lab ON t.doc_id = lab.doc_id AND t.ord = lab.ord
       |UNION ALL SELECT pos, CAST($W + 2 AS BIGINT), '' FROM b WHERE pos < n_batch""".stripMargin

  /** Exports.annotationBatchFiles twin: replays the batch/page assignment,
    * then the page-continuous span offsets (running sum of sentence
    * length + 1), the page-scoped T numbering over span-sorted deduped
    * annotation lines, and the DONE-terminated txt bodies. */
  val annotationBatchFiles: String =
    s"""WITH $tokCte,
       |$conCte,
       |$ppCte,
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
       |    string_agg(tok, ' ' ORDER BY ord) AS sent_text,
       |    min(char_start) AS sent_start
       |  FROM tok GROUP BY 1, 2),
       |h AS (SELECT sha256(sent_text) AS sent_hash, doc_id, sent_id, sent_text FROM sent),
       |canon AS (SELECT sent_hash, min({'d': doc_id, 's': sent_id}) AS mn,
       |    min(sent_text) AS sent_text
       |  FROM h GROUP BY 1),
       |prev AS (SELECT DISTINCT sha256(sent_text) AS sent_hash FROM sent WHERE doc_id % 7 = 0),
       |batch AS (SELECT c.sent_hash, CAST(c.mn.d AS BIGINT) AS doc_id,
       |    CAST(c.mn.s AS BIGINT) AS sent_id, c.sent_text
       |  FROM canon c LEFT JOIN prev p ON c.sent_hash = p.sent_hash
       |  WHERE p.sent_hash IS NULL
       |  ORDER BY c.sent_hash LIMIT 100),
       |pos0 AS (SELECT *, CAST(row_number() OVER (ORDER BY sent_hash) AS BIGINT) AS pos FROM batch),
       |b AS (SELECT pos, (pos - 1) // 20 AS page, doc_id, sent_id, sent_text,
       |    coalesce(sum(length(sent_text) + 1) OVER (PARTITION BY (pos - 1) // 20
       |      ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
       |  FROM pos0),
       |txt AS (SELECT page, 'batch_' || CAST(page AS VARCHAR) || '.txt' AS file,
       |    CAST(row_number() OVER (PARTITION BY page ORDER BY pos) AS BIGINT) AS line_no,
       |    sent_text AS line FROM b),
       |done AS (SELECT page, 'batch_' || CAST(page AS VARCHAR) || '.txt' AS file,
       |    CAST(count(*) + 1 AS BIGINT) AS line_no, 'DONE' AS line FROM b GROUP BY page),
       |cand AS (SELECT DISTINCT b.page, b.pos,
       |    lower(string_split(p.concept_id, ':')[1]) AS typ,
       |    p.char_start - s.sent_start + b.off AS a_start,
       |    p.char_end - s.sent_start + b.off AS a_end, p.tok
       |  FROM b JOIN sent s ON b.doc_id = s.doc_id AND b.sent_id = s.sent_id
       |    JOIN pp p ON b.doc_id = p.doc_id AND (p.ord - 1) // $W = b.sent_id),
       |ann AS (SELECT page, CAST(row_number() OVER (PARTITION BY page
       |      ORDER BY pos, a_start, a_end, typ, tok) AS BIGINT) AS t_num,
       |    typ, a_start, a_end, tok
       |  FROM cand)
       |SELECT page, 'batch_' || CAST(page AS VARCHAR) || '.ann' AS file,
       |  t_num AS line_no,
       |  'T' || CAST(t_num AS VARCHAR) || chr(9) || typ || ' ' ||
       |    CAST(a_start AS VARCHAR) || ' ' || CAST(a_end AS VARCHAR) ||
       |    chr(9) || tok AS line
       |FROM ann
       |UNION ALL SELECT page, file, line_no, line FROM txt
       |UNION ALL SELECT page, file, line_no, line FROM done""".stripMargin

  val conceptsPpStrict: String =
    docPipeline(
      s"""noisy AS (
         |  SELECT doc_id, 'FAKE:' || tok AS concept_id, ord,
         |    CASE WHEN ord % 97 = 0 THEN '(' || tok ELSE tok END AS tok,
         |    char_start, char_end
         |  FROM tok WHERE lower(tok) IN ${ConceptDict.stopwordsInSql} OR ord % 97 = 0)""".stripMargin,
      "un AS (SELECT * FROM pp UNION ALL SELECT * FROM noisy)") +
      s"""SELECT un.doc_id, un.concept_id, un.ord, un.tok, un.char_start, un.char_end
         |FROM un
         |LEFT JOIN ${ConceptDict.exclusionValuesSql}
         |  ON split_part(un.concept_id, ':', 1) = excl.x_group AND lower(un.tok) = excl.x_text
         |WHERE length(un.tok) - length(replace(un.tok, '(', '')) = length(un.tok) - length(replace(un.tok, ')', ''))
         |  AND length(un.tok) - length(replace(un.tok, '[', '')) = length(un.tok) - length(replace(un.tok, ']', ''))
         |  AND length(un.tok) - length(replace(un.tok, '{', '')) = length(un.tok) - length(replace(un.tok, '}', ''))
         |  AND length(un.tok) > 2 AND lower(un.tok) NOT IN ${ConceptDict.stopwordsInSql}
         |  AND excl.x_group IS NULL""".stripMargin

  val conceptsAugFilter: String =
    s"""WITH adoc AS (
       |  SELECT doc_id,
       |    text || chr(10) || chr(10) || '@@AUG@@ ' ||
       |      array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS text
       |  FROM documents),
       |atok0 AS (
       |  SELECT doc_id, text,
       |    unnest(string_split(text, ' ')) AS tok,
       |    CAST(unnest(range(1, len(string_split(text, ' ')) + 1)) AS BIGINT) AS ord
       |  FROM adoc),
       |atok AS (
       |  SELECT doc_id, text, ord, tok,
       |    CAST(sum(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY ord) - 1 - length(tok) AS BIGINT) AS char_start,
       |    CAST(sum(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS BIGINT) AS char_end
       |  FROM atok0)
       |SELECT t.doc_id, dict.concept_id, t.ord, t.tok, t.char_start, t.char_end
       |FROM atok t JOIN ${ConceptDict.dictValuesSql} ON t.tok = dict.tok
       |WHERE length(t.tok) > 1 AND NOT regexp_matches(t.tok, '^[0-9[:punct:]]+$$')
       |  AND t.char_start < strpos(t.text, '@@AUG@@') - 1""".stripMargin

  val conceptsSpanGenerality: String =
    docPipeline(
      s"""ex AS (
         |  SELECT doc_id, concept_id, ord, tok, char_start, char_end FROM pp
         |  UNION
         |  SELECT p.doc_id, anc.ancestor_id AS concept_id, p.ord, p.tok, p.char_start, p.char_end
         |  FROM pp p JOIN ${ConceptDict.ancestorsValuesSql} ON p.concept_id = anc.concept_id)""".stripMargin) +
      s"""SELECT a.doc_id, a.concept_id, a.ord, a.tok, a.char_start, a.char_end
         |FROM ex a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM ex b JOIN ${ConceptDict.ancestorsValuesSql}
         |    ON anc.concept_id = a.concept_id AND anc.ancestor_id = b.concept_id
         |  WHERE b.doc_id = a.doc_id AND b.char_start = a.char_start AND b.char_end = a.char_end)""".stripMargin

  val processingLedger: String =
    docPipeline(
      "tk AS (SELECT DISTINCT doc_id FROM tok)",
      "cd AS (SELECT DISTINCT doc_id FROM pp)",
      "ac AS (SELECT doc_id FROM documents WHERE lang IN ('en', 'es', 'de', 'fr') AND n_chars >= 50)") +
      """SELECT d.doc_id,
        |  (tk.doc_id IS NOT NULL) AS tokenized,
        |  (cd.doc_id IS NOT NULL) AS concepts_done,
        |  (ac.doc_id IS NOT NULL) AS actionable
        |FROM documents d
        |LEFT JOIN tk USING (doc_id) LEFT JOIN cd USING (doc_id) LEFT JOIN ac USING (doc_id)""".stripMargin

  val etlFailures: String =
    """SELECT doc_id AS id, 'parse' AS stage, 'bad doc ' || doc_id AS message
      |FROM documents WHERE doc_id % 13 = 0""".stripMargin

  /** Schwartz–Hearst over the constructed `p_name (XY)` inputs of the
    * `abbrev` query: sf is the 2-letter initialism, candidate = last
    * min(|sf|+5, 2|sf|) = 4 words of p_name, and the right-to-left
    * two-pointer match is expanded per character — m2 = rightmost char
    * matching sf[2], m1 = rightmost word-start char before it matching
    * sf[1]; long form = candidate from m1 on. */
  val abbrev: String =
    """WITH base AS (
      |  SELECT p_partkey AS part_id, trim(p_name) AS bf,
      |    upper(left(split_part(p_name, ' ', 1), 1) || left(split_part(p_name, ' ', -1), 1)) AS sf
      |  FROM part),
      |c AS (SELECT part_id, sf,
      |    array_to_string(list_slice(string_split(bf, ' '),
      |      greatest(1, len(string_split(bf, ' ')) - 3), len(string_split(bf, ' '))), ' ') AS cand
      |  FROM base),
      |pos AS (SELECT part_id, sf, cand, CAST(unnest(range(1, length(cand) + 1)) AS INT) AS i FROM c),
      |chars AS (SELECT part_id, sf, cand, i, lower(substring(cand, i, 1)) AS ch,
      |    substring(cand, i - 1, 1) AS prev FROM pos),
      |m2 AS (SELECT part_id, max(i) AS i2 FROM chars
      |  WHERE ch = lower(substring(sf, 2, 1)) GROUP BY part_id),
      |m1 AS (SELECT chars.part_id, max(i) AS i1 FROM chars JOIN m2 USING (part_id)
      |  WHERE i < i2 AND ch = lower(substring(sf, 1, 1))
      |    AND (i = 1 OR NOT regexp_matches(prev, '[a-zA-Z0-9]'))
      |  GROUP BY chars.part_id)
      |SELECT c.part_id, c.sf AS short_form, trim(substring(c.cand, m1.i1)) AS long_form
      |FROM c JOIN m1 USING (part_id)
      |WHERE length(trim(substring(c.cand, m1.i1))) > 0""".stripMargin

  val pubannotationExport: String =
    docPipeline() +
      """SELECT doc_id, '{"target":"doc:' || doc_id || '","denotations":[' ||
        |  string_agg('{"id":"T' || t_num || '","span":{"begin":' || char_start || ',"end":' || char_end
        |    || '},"obj":"' || concept_id || '"}', ',' ORDER BY t_num) || ']}' AS pubannotation
        |FROM (
        |  SELECT doc_id, concept_id, char_start, char_end,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY char_start, concept_id) AS BIGINT) AS t_num
        |  FROM pp)
        |GROUP BY doc_id""".stripMargin

  val q6Forecast: String =
    """SELECT floor((sum(l_extendedprice * l_discount)) * 100 + 0.5) / 100 AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.02 AND l_discount <= 0.04
      |  AND l_quantity < 24""".stripMargin

  val textExport: String =
    s"""WITH $tokCte,
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id, string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok GROUP BY 1, 2),
       |r AS (SELECT doc_id, string_agg(sent_text, ' ' ORDER BY sent_id) AS rebuilt_text FROM sent GROUP BY 1)
       |SELECT r.doc_id, r.rebuilt_text, r.rebuilt_text = d.text AS matches
       |FROM r JOIN documents d USING (doc_id)""".stripMargin

  val esDocs: String =
    docPipeline(
      s"""sc AS (SELECT doc_id, CAST(count(DISTINCT (ord - 1) // $W) AS BIGINT) AS n_sentences FROM tok GROUP BY 1),
         |ca AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_concepts,
         |    string_agg(concept_id, '|' ORDER BY concept_id) AS concept_ids
         |  FROM (SELECT DISTINCT doc_id, concept_id FROM pp) GROUP BY 1)""".stripMargin) +
      """SELECT d.doc_id, d.lang, d.source,
        |  coalesce(sc.n_sentences, 0) AS n_sentences,
        |  coalesce(ca.n_concepts, 0) AS n_concepts,
        |  coalesce(ca.concept_ids, '') AS concept_ids
        |FROM documents d LEFT JOIN sc USING (doc_id) LEFT JOIN ca USING (doc_id)""".stripMargin

  /** The _bulk action/source line pairing over the esDocs shape — same JSON
    * grammar as Spark's to_json over the source struct (compact, key order =
    * struct order; all field values here are JSON-safe by construction). */
  val esBulk: String =
    s"""WITH d AS ($esDocs),
       |u AS (SELECT doc_id,
       |  '{"index":{"_index":"graft_docs","_id":"' || doc_id || '"}}' AS action,
       |  '{"doc_id":' || doc_id || ',"lang":"' || lang || '","source":"' || source ||
       |    '","n_sentences":' || n_sentences || ',"n_concepts":' || n_concepts ||
       |    ',"concept_ids":"' || concept_ids || '"}' AS src
       |FROM d)
       |SELECT doc_id, CAST(t.ord AS BIGINT) AS line_ord,
       |  CASE t.ord WHEN 1 THEN action ELSE src END AS line
       |FROM u CROSS JOIN (SELECT unnest(range(1, 3)) AS ord) t""".stripMargin

  val exportFlat: String =
    docPipeline() +
      """SELECT p.doc_id, d.lang, d.source, p.concept_id, p.char_start, p.char_end
        |FROM pp p JOIN documents d USING (doc_id)""".stripMargin

  // ---------- F. relational / events ----------

  val q1Pricing: String =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  floor((sum(l_extendedprice)) * 100 + 0.5) / 100 AS sum_base_price,
      |  floor((sum(l_extendedprice * (1.0 - l_discount))) * 100 + 0.5) / 100 AS sum_disc_price,
      |  floor((avg(l_quantity)) * 1000000 + 0.5) / 1000000 AS avg_qty,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  val q3TopOrders: String =
    """SELECT o_orderkey, floor((sum(l_extendedprice * (1.0 - l_discount))) * 100 + 0.5) / 100 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  val q5RegionRevenue: String =
    """SELECT r_name, n_name,
      |  floor((sum(l_extendedprice * (1.0 - l_discount))) * 100 + 0.5) / 100 AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** volume is summed in integer cents (per-item cent rounding, exact BIGINT
    * sum) so the aggregate is accumulation-order independent — the
    * float-sum-then-round form flips 2dp boundaries between engines. */
  val q7Volume: String =
    """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS volume,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |WHERE n1.n_name <> n2.n_name
      |GROUP BY 1, 2, 3""".stripMargin

  val q16PartSuppliers: String =
    """SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3""".stripMargin

  val q18LargeOrders: String =
    """WITH big AS (
      |  SELECT l_orderkey, sum(l_quantity) AS total_qty
      |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
      |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
      |  floor(o_totalprice * 100 + 0.5) / 100 AS o_totalprice, total_qty
      |FROM big
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey""".stripMargin

  val q10Returns: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      |  floor((sum(l_extendedprice * (1.0 - l_discount))) * 100 + 0.5) / 100 AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |GROUP BY 1, 2, 3, 4
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin

  val q14Promo: String =
    """SELECT floor((sum(CASE WHEN p_type LIKE 'PROMO%'
      |      THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) * 100.0
      |    / sum(l_extendedprice * (1.0 - l_discount))) * 1000000 + 0.5) / 1000000 AS promo_revenue
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'""".stripMargin

  val q4Priority: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY 1""".stripMargin

  val q12PriorityClass: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY 1""".stripMargin

  val q13OrderDist: String =
    """WITH c_orders AS (
      |  SELECT c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      |  FROM customer LEFT JOIN (
      |    SELECT o_custkey, o_orderkey FROM orders WHERE o_orderstatus <> 'F') o
      |    ON c_custkey = o.o_custkey
      |  GROUP BY 1)
      |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
      |FROM c_orders GROUP BY 1""".stripMargin

  /** Revenue accumulates in integer cents (q7 discipline), so the
    * max-equality filter is exact and tie rows match across engines. */
  val q15TopSupplier: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY 1)
      |SELECT s_suppkey, s_name, revenue_cents / 100.0 AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE revenue_cents = (SELECT max(revenue_cents) FROM rev)""".stripMargin

  /** The per-part average is 6dp-rounded before the threshold compare and
    * the final sum runs in integer cents — both cuts exact cross-engine. */
  val q17SmallQty: String =
    """WITH li AS (
      |  SELECT p_partkey, l_quantity, l_extendedprice
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_brand = 'Brand#23'),
      |avgq AS (
      |  SELECT p_partkey, floor(avg(l_quantity) * 1000000 + 0.5) / 1000000 AS avg_qty
      |  FROM li GROUP BY 1)
      |SELECT floor((CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 / 7.0) * 100 + 0.5) / 100 AS avg_yearly
      |FROM li JOIN avgq USING (p_partkey)
      |WHERE l_quantity < 0.2 * avg_qty""".stripMargin

  /** Balances threshold and total in integer cents; the average is an
    * exact-integer sum over cents divided once, so the scalar cut is
    * accumulation-order independent. */
  val q22Inactive: String =
    """WITH wc AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_cents
      |  FROM customer),
      |ab AS (
      |  SELECT CAST(sum(bal_cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_cents
      |  FROM wc WHERE bal_cents > 0)
      |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
      |  CAST(sum(bal_cents) AS BIGINT) / 100.0 AS totacctbal
      |FROM wc CROSS JOIN ab
      |WHERE CAST(bal_cents AS DOUBLE) > avg_cents
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |    WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
      |GROUP BY 1""".stripMargin

  /** Numerator and denominator both in integer cents; the share is one
    * double division per group. */
  val q8MarketShare: String =
    """WITH f AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, n2.n_name AS supp_nation,
      |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE p_type = 'STANDARD' AND r_name = 'AMERICA'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00')
      |SELECT o_year,
      |  floor((CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN cents ELSE 0 END) AS DOUBLE)
      |    / CAST(sum(cents) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS mkt_share
      |FROM f GROUP BY 1""".stripMargin

  /** Cheapest supplier per part: correlated min over per-supplier best
    * offers; unit prices r6-rounded per line BEFORE the min on both sides. */
  val q2MinCostSupplier: String =
    """WITH offers AS (
      |  SELECT p_partkey, p_name, l_suppkey,
      |    min(floor((l_extendedprice / l_quantity) * 1000000 + 0.5) / 1000000) AS unit_price
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_type = 'STANDARD'
      |  GROUP BY 1, 2, 3)
      |SELECT o.p_partkey, o.p_name, s_suppkey, s_name,
      |  floor(s_acctbal * 100 + 0.5) / 100 AS s_acctbal,
      |  n_name AS supp_nation, o.unit_price
      |FROM offers o
      |JOIN supplier ON o.l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o.unit_price = (SELECT min(o2.unit_price) FROM offers o2
      |                      WHERE o2.p_partkey = o.p_partkey)""".stripMargin

  /** Profit by nation × order year; cost modeled as 10% of retail per
    * unit; revenue and cost each floor to cents before the subtraction. */
  val q9ProfitByNation: String =
    """SELECT n_name AS supp_nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)
      |         - CAST(floor(p_retailprice * l_quantity * 10.0 + 0.5) AS BIGINT)) AS BIGINT)
      |    / 100.0 AS sum_profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_name LIKE '%red%'
      |GROUP BY 1, 2""".stripMargin

  /** Same aggregate at two granularities; the total is the threshold. */
  val q11ImportantParts: String =
    """WITH v AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_7'
      |  GROUP BY 1)
      |SELECT l_partkey, value_cents / 100.0 AS part_value FROM v
      |WHERE CAST(value_cents AS DOUBLE) >
      |  0.001 * (SELECT CAST(sum(value_cents) AS DOUBLE) FROM v)""".stripMargin

  /** Nested semi-join chain: dominant suppliers of red-prefixed parts. */
  val q20ExcessSuppliers: String =
    """WITH li AS (
      |  SELECT l_partkey, l_suppkey, l_quantity
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'red %' AND year(l_shipdate) = 1997),
      |ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty FROM li GROUP BY 1, 2),
      |pt AS (SELECT l_partkey, sum(supp_qty) AS part_qty FROM ps GROUP BY 1)
      |SELECT s_suppkey, s_name, n_name AS supp_nation
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM ps JOIN pt USING (l_partkey)
      |  WHERE supp_qty > 0.3 * part_qty)""".stripMargin

  /** EXISTS + NOT EXISTS double correlation; returnflag 'R' as the fault
    * marker (schema has no commit/receipt dates). */
  val q21WaitingSuppliers: String =
    """WITH base AS (
      |  SELECT l_orderkey, l_suppkey, s_name, n_name AS supp_nation
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE l_returnflag = 'R' AND o_orderstatus = 'F')
      |SELECT supp_nation, s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM base b
      |WHERE EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = b.l_orderkey AND l2.l_suppkey <> b.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = b.l_orderkey AND l3.l_suppkey <> b.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY 1, 2""".stripMargin

  val q19Discounted: String =
    """SELECT
      |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#12' AND l_quantity >= 1 AND l_quantity <= 11)
      |   OR (p_brand = 'Brand#23' AND l_quantity >= 10 AND l_quantity <= 20)
      |   OR (p_brand = 'Brand#34' AND l_quantity >= 20 AND l_quantity <= 30)""".stripMargin

  /** The salted join must aggregate identically to the plain join. */
  val skewJoin: String =
    """SELECT o_orderpriority, sum(l_quantity) AS sum_qty, CAST(count(*) AS BIGINT) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  /** Relational.eventsFunnel twin: the engine's sorted-array fold is
    * equivalent to the first-view / first-later-click / first-later-purchase
    * min chain (the fold only ever compares µs times, and "first eligible in
    * sorted order" = "min over eligible"). */
  val eventsFunnel: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
      |  WHERE ts < TIMESTAMP '2024-01-04 00:00:00'),
      |u AS (SELECT DISTINCT user_id FROM e),
      |v AS (SELECT user_id, min(tus) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(tus) AS t2
      |  FROM e JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND tus > v.t1 GROUP BY 1),
      |p AS (SELECT e.user_id, min(tus) AS t3
      |  FROM e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND tus > c.t2 GROUP BY 1)
      |SELECT step, CAST(count(*) AS BIGINT) AS n_users FROM (
      |  SELECT u.user_id,
      |    CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
      |         WHEN c.user_id IS NOT NULL THEN 2
      |         WHEN v.user_id IS NOT NULL THEN 1
      |         ELSE 0 END AS BIGINT) AS step
      |  FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
      |    LEFT JOIN p USING (user_id))
      |GROUP BY step""".stripMargin

  /** Same tie rule as the engine: candidate refs are those strictly before
    * the left row in (tus, event_id) order; pick the last one. */
  val eventsAsof: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events
      |  WHERE event_type IN ('click', 'purchase')),
      |t AS (SELECT *,
      |    CASE WHEN event_type = 'click' THEN tus END AS ref_tus,
      |    CASE WHEN event_type = 'click' THEN event_id END AS ref_id
      |  FROM e),
      |w AS (SELECT *,
      |    last_value(ref_tus IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY tus, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_tus,
      |    last_value(ref_id IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY tus, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_id
      |  FROM t)
      |SELECT user_id, event_id AS purchase_id, tus AS purchase_us,
      |  asof_id AS click_id, asof_tus AS click_us, tus - asof_tus AS lag_us
      |FROM w WHERE event_type = 'purchase'""".stripMargin

  val rangeJoinBinned: String =
    """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS tus FROM events)
      |SELECT a.event_id AS err_id, b.event_id AS nbr_id, b.tus - a.tus AS delta_us
      |FROM e a JOIN e b
      |  ON a.event_type = 'error' AND b.event_type <> 'error'
      | AND b.tus BETWEEN a.tus - 60000000 AND a.tus + 60000000""".stripMargin

  val eventsOutliers: String =
    """WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
      |  FROM events GROUP BY 1)
      |SELECT * FROM (
      |  SELECT e.event_id, e.event_type,
      |    floor(e.value * 1000000 + 0.5) / 1000000 AS value,
      |    floor(((e.value - s.mu) / s.sigma) * 1000000 + 0.5) / 1000000 AS z
      |  FROM events e JOIN s USING (event_type) WHERE s.sigma > 0)
      |WHERE abs(z) > 3.0""".stripMargin

  val skewReportSql: String =
    """SELECT l_orderkey AS okey, CAST(count(*) AS BIGINT) AS n
      |FROM lineitem GROUP BY 1 ORDER BY n DESC, okey LIMIT 20""".stripMargin

  val eventsHourly: String =
    """SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS hour_bucket, event_type,
      |  CAST(count(*) AS BIGINT) AS n_events, floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Relational.eventsStickiness twin: integer epoch day/week buckets. */
  val eventsStickiness: String =
    """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |    (epoch_us(ts) // 86400000000) // 7 AS week, user_id FROM events),
      |dau AS (SELECT day, week, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM d GROUP BY 1, 2),
      |wau AS (SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      |  FROM d GROUP BY 1)
      |SELECT CAST(dau.day AS BIGINT) AS day, CAST(dau.week AS BIGINT) AS week,
      |  dau.dau, wau.wau,
      |  floor((CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS stickiness
      |FROM dau JOIN wau USING (week)""".stripMargin

  val eventsSessions: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
      |l AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev FROM e),
      |s AS (SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
      |c AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS BIGINT) AS session_id FROM s)
      |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
      |  min(tus) AS start_us, max(tus) AS end_us, floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
      |FROM c GROUP BY user_id, session_id""".stripMargin

  /** Relational.sessionMetrics twin: the session rollup bucketed to
    * floored minutes. */
  val sessionMetrics: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
      |l AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev FROM e),
      |s AS (SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
      |c AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS BIGINT) AS session_id FROM s),
      |g AS (SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
      |    min(tus) AS start_us, max(tus) AS end_us
      |  FROM c GROUP BY 1, 2)
      |SELECT (end_us - start_us) // 60000000 AS duration_min,
      |  CAST(count(*) AS BIGINT) AS n_sessions,
      |  floor(avg(n_events) * 1000000 + 0.5) / 1000000 AS mean_events
      |FROM g GROUP BY 1""".stripMargin

  /** eventsSessions with session_window's boundary rule (exclusive window
    * end: a gap of exactly 30 min SPLITS) and no session_id column. */
  val eventsSessionsNative: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
      |l AS (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev FROM e),
      |s AS (SELECT *, CASE WHEN prev IS NULL OR tus - prev >= 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
      |c AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS BIGINT) AS session_id FROM s)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  min(tus) AS start_us, max(tus) AS end_us, floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
      |FROM c GROUP BY user_id, session_id""".stripMargin

  val streamingDedup: String =
    "SELECT DISTINCT user_id FROM events"

  /** Streaming sessionization emits only CLOSED sessions (a later same-user
    * event past the gap closes one); ms precision because the state machine
    * keys on epoch millis. Oracle = batch sessions at ms precision minus
    * each user's final session. */
  val streamingSessions: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) // 1000 AS tms, value FROM events),
      |l AS (SELECT *, lag(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS prev FROM e),
      |s AS (SELECT *, CASE WHEN prev IS NULL OR tms - prev > 1800000 THEN 1 ELSE 0 END AS is_new FROM l),
      |c AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS BIGINT) AS sid FROM s),
      |agg AS (SELECT user_id, sid,
      |    CAST(min(tms) AS BIGINT) AS session_start_ms, CAST(max(tms) AS BIGINT) AS session_end_ms,
      |    CAST(count(*) AS BIGINT) AS n_events,
      |    floor((sum(value)) * 100 + 0.5) / 100 AS sum_value
      |  FROM c GROUP BY user_id, sid)
      |SELECT user_id, session_start_ms, session_end_ms, n_events, sum_value
      |FROM agg
      |WHERE sid < (SELECT max(a2.sid) FROM agg a2 WHERE a2.user_id = agg.user_id)""".stripMargin

  /** Inner interval joins emit the same set regardless of arrival order, so
    * the streaming view→click join equals this batch interval join. */
  val streamingJoin: String =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events)
      |SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
      |  c.tus - v.tus AS lag_us
      |FROM e v JOIN e c
      |  ON v.user_id = c.user_id
      | AND v.event_type = 'view' AND c.event_type = 'click'
      | AND c.tus >= v.tus AND c.tus <= v.tus + 1800000000""".stripMargin

  // ---------- G. LLM-data ops ----------

  val dedupExact: String =
    """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
      |c AS (SELECT h, min(doc_id) AS canonical_id FROM h GROUP BY h)
      |SELECT h.doc_id, c.canonical_id, h.doc_id <> c.canonical_id AS is_dup
      |FROM h JOIN c USING (h)""".stripMargin

  val dedupNorm: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    array_to_string(list_sort(list_filter(string_split(text, ' '), t -> t <> 'dup')), ' ') AS norm_key
      |  FROM documents),
      |g AS (SELECT norm_key, min(doc_id) AS canonical_id, CAST(count(*) AS BIGINT) AS group_size
      |  FROM k GROUP BY 1 HAVING count(*) > 1)
      |SELECT k.doc_id, g.canonical_id, g.group_size FROM k JOIN g USING (norm_key)""".stripMargin

  private val minhashParamsSql: String =
    Dedup.minhashParams.map { case (j, a, b) => s"($j, $a, $b)" }
      .mkString("(VALUES ", ", ", ") AS par(j, a, b)")

  /** shingle sets + minhash bands, shared by minhash + jaccard oracles */
  // signature → band → candidate CTEs from any `ss(doc_id, sid)` relation —
  // shared between the md5-id path (ss derived from tok below) and the
  // staged xxhash64-id path (ss read from the staged parquet)
  private val minhashFromSsCtes =
    s"""mh AS (SELECT doc_id, par.j, min((par.a * sid + par.b) % ${Dedup.MinhashP}) AS mh
       |  FROM ss CROSS JOIN $minhashParamsSql GROUP BY 1, 2),
       |bands AS (SELECT doc_id, CAST(j // ${Dedup.RowsPerBand} AS BIGINT) AS band,
       |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS band_key
       |  FROM mh GROUP BY 1, 2),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS shared_bands
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  private val minhashCtes =
    s"""sh0 AS (SELECT doc_id, ord, tok,
       |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS t2,
       |    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS t3
       |  FROM tok),
       |sh AS (SELECT doc_id, tok || ' ' || t2 || ' ' || t3 AS shingle FROM sh0 WHERE t3 IS NOT NULL),
       |ss AS (SELECT DISTINCT doc_id, ${Hash60.sql("shingle")} % ${Dedup.MinhashP} AS sid FROM sh),
       |$minhashFromSsCtes""".stripMargin

  /** Dedup.minhashCandidatesHashedStaged twin: DuckDB has no xxhash64, so
    * both engines read the staged id sets and the banding arithmetic
    * downstream is what gets verified. Built per dump (the staged path is
    * recorded when the query runs; Verify runs queries before dumping SQL). */
  def dedupMinhashHashed: String =
    s"""WITH ss AS (SELECT doc_id, sid FROM read_parquet('${graft.infra.Staging.lastPath("hashed_shingle_sets")}/*.parquet')),
       |$minhashFromSsCtes
       |SELECT doc_a, doc_b, shared_bands FROM cand""".stripMargin

  val dedupMinhash: String =
    s"WITH $tokCte,\n$minhashCtes\nSELECT doc_a, doc_b, shared_bands FROM cand"

  /** Cooccurrence.tfidfDocSimFrom twin: micro-unit tf-idf vectors scored over
    * the MinHash band candidates (minhashCtes provides `cand`), exact long
    * dot products, full-vector norms. */
  val tfidfDocSim: String =
    docPipeline(unitsDocCte,
      """tot AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM units_doc),
        |idf AS (
        |  SELECT concept_id, floor((ln(t.n / CAST(count(*) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS idf
        |  FROM units_doc CROSS JOIN tot t GROUP BY concept_id, t.n),
        |tf AS (SELECT doc_id, concept_id, CAST(count(*) AS BIGINT) AS tf FROM pp GROUP BY 1, 2)""".stripMargin,
      minhashCtes,
      """vec AS (SELECT tf.doc_id, tf.concept_id,
        |    CAST(floor((floor((CAST(tf.tf AS DOUBLE) * idf.idf) * 1000000 + 0.5) / 1000000) * 1000000 + 0.5) AS BIGINT) AS u
        |  FROM tf JOIN idf ON tf.concept_id = idf.concept_id
        |  WHERE floor((floor((CAST(tf.tf AS DOUBLE) * idf.idf) * 1000000 + 0.5) / 1000000) * 1000000 + 0.5) > 0),
        |norms AS (SELECT doc_id, CAST(sum(u * u) AS BIGINT) AS n2 FROM vec GROUP BY 1),
        |dots AS (SELECT c.doc_a, c.doc_b, CAST(sum(a.u * b.u) AS BIGINT) AS dot_u
        |  FROM cand c
        |  JOIN vec a ON a.doc_id = c.doc_a
        |  JOIN vec b ON b.doc_id = c.doc_b AND b.concept_id = a.concept_id
        |  GROUP BY 1, 2),
        |scored AS (SELECT d.doc_a, d.doc_b, d.dot_u,
        |    floor((CAST(d.dot_u AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))) * 1000000 + 0.5) / 1000000 AS cosine
        |  FROM dots d
        |  JOIN norms na ON na.doc_id = d.doc_a
        |  JOIN norms nb ON nb.doc_id = d.doc_b)""".stripMargin) +
      s"""SELECT doc_a, doc_b, dot_u, cosine FROM scored
         |WHERE cosine >= ${Cooccurrence.DocSimTau}""".stripMargin


  /** Dedup.minhashPrecision twin: candidates outer-joined to their exact
    * shingle intersections (no-overlap candidates score J = 0). */
  val minhashPrecision: String =
    s"""WITH $tokCte,
       |$minhashCtes,
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ss GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
       |  FROM cand c
       |  JOIN ss a ON a.doc_id = c.doc_a
       |  JOIN ss b ON b.doc_id = c.doc_b AND b.sid = a.sid
       |  GROUP BY 1, 2),
       |scored AS (SELECT c.doc_a, c.doc_b,
       |    floor((CAST(coalesce(i.i, 0) AS DOUBLE) / CAST(sa.n + sb.n - coalesce(i.i, 0) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS jaccard
       |  FROM cand c
       |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       |    CAST(coalesce(sum(CASE WHEN jaccard >= 0.6 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_confirmed
       |  FROM scored)
       |SELECT n_candidates, n_confirmed,
       |  CASE WHEN n_candidates > 0
       |    THEN floor((CAST(n_confirmed AS DOUBLE) / CAST(n_candidates AS DOUBLE)) * 1000000 + 0.5) / 1000000
       |    ELSE 0.0 END AS precision
       |FROM agg""".stripMargin

  /** TextStats.heavyHittersCms twin: salted Hash60 cell addressing, exact
    * integer sketch cells, min over depth rows. */
  val heavyHittersCms: String = {
    val (d, w) = (TextStats.CmsDepth, TextStats.CmsWidth)
    s"""WITH $tokCte,
       |t AS (SELECT tok FROM tok),
       |exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM t GROUP BY 1),
       |cand AS (SELECT tok, exact_cnt FROM exact ORDER BY exact_cnt DESC, tok LIMIT 20),
       |rr AS (SELECT CAST(unnest(range(0, $d)) AS BIGINT) AS r),
       |fan AS (SELECT rr.r,
       |    (${Hash60.sql("CAST(rr.r AS VARCHAR) || '|' || t.tok")} % $w) AS bucket
       |  FROM t CROSS JOIN rr),
       |sk AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS c FROM fan GROUP BY 1, 2),
       |cb AS (SELECT cand.tok, cand.exact_cnt, rr.r,
       |    (${Hash60.sql("CAST(rr.r AS VARCHAR) || '|' || cand.tok")} % $w) AS bucket
       |  FROM cand CROSS JOIN rr)
       |SELECT cb.tok, cb.exact_cnt, CAST(min(sk.c) AS BIGINT) AS est_cnt
       |FROM cb JOIN sk ON sk.r = cb.r AND sk.bucket = cb.bucket
       |GROUP BY 1, 2""".stripMargin
  }

  /** DocStreams.cmsViaStream twin: the raw sketch cells. */
  val streamingCms: String = {
    val (d, w) = (TextStats.CmsDepth, TextStats.CmsWidth)
    s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
       |rr AS (SELECT CAST(unnest(range(0, $d)) AS BIGINT) AS r),
       |fan AS (SELECT rr.r,
       |    (${Hash60.sql("CAST(rr.r AS VARCHAR) || '|' || t.tok")} % $w) AS bucket
       |  FROM t CROSS JOIN rr)
       |SELECT r, CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS c
       |FROM fan GROUP BY 1, 2""".stripMargin
  }

  /** Dedup.lshBandTuningFrom twin: the shared mh CTE re-banded per shape, one
    * UNION ALL branch per rows-per-band; thresholds are the same
    * Scala-computed literals the engine emits. */
  val lshBandTuning: String = {
    // mh comes from minhashCtes; per-shape CTEs + one aggregate branch each
    val shapes = Dedup.BandTuningConfigs
    val ctes = shapes.map { r =>
      s"""band$r AS (SELECT doc_id, CAST(j // $r AS BIGINT) AS band,
         |    string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS band_key
         |  FROM mh GROUP BY 1, 2),
         |cand$r AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band$r a JOIN band$r b
         |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |est$r AS (SELECT c.doc_a, c.doc_b,
         |    CAST(sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT) AS nm
         |  FROM cand$r c
         |  JOIN mh x ON x.doc_id = c.doc_a
         |  JOIN mh y ON y.doc_id = c.doc_b AND y.j = x.j
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    val branches = shapes.map { r =>
      val b = Dedup.NumHashes / r
      s"""SELECT CAST($r AS BIGINT) AS rows_per_band, CAST($b AS BIGINT) AS n_bands,
         |  CAST(count(*) AS BIGINT) AS n_candidates,
         |  CAST(coalesce(sum(CASE WHEN nm >= ${Dedup.NumHashes / 2} THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_est_dup,
         |  CAST(coalesce(sum(nm), 0) AS BIGINT) AS sum_match_hashes,
         |  ${Dedup.sCurveThreshold(b, r)} AS s_curve_threshold
         |FROM est$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $tokCte,\n$minhashCtes,\n$ctes\n$branches"
  }

  /** Dedup.minhashIncremental twin: the same band table, asymmetric
    * new-batch (doc_id % 10 = 0) vs stored-index (rest) candidate join. */
  val minhashIncremental: String =
    s"""WITH $tokCte,
       |$minhashCtes
       |SELECT n.doc_id AS new_id, o.doc_id AS old_id,
       |  CAST(count(*) AS BIGINT) AS shared_bands
       |FROM bands n JOIN bands o ON n.band = o.band AND n.band_key = o.band_key
       |WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
       |GROUP BY 1, 2""".stripMargin

  /** Dedup.minhashEstimateFrom twin: matching-signature-component fraction. */
  val minhashEstimate: String =
    s"""WITH $tokCte,
       |$minhashCtes,
       |est AS (SELECT c.doc_a, c.doc_b,
       |    CAST(sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_matching_hashes
       |  FROM cand c
       |  JOIN mh ma ON ma.doc_id = c.doc_a
       |  JOIN mh mb ON mb.doc_id = c.doc_b AND ma.j = mb.j
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_matching_hashes,
       |  floor((CAST(n_matching_hashes AS DOUBLE) / ${Dedup.NumHashes}.0) * 1000000 + 0.5) / 1000000 AS est_jaccard
       |FROM est""".stripMargin

  val ngramJaccard: String =
    s"""WITH $tokCte,
       |$minhashCtes,
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ss GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
       |  FROM cand c
       |  JOIN ss sa ON sa.doc_id = c.doc_a
       |  JOIN ss sb ON sb.doc_id = c.doc_b AND sa.sid = sb.sid
       |  GROUP BY 1, 2)
       |SELECT * FROM (
       |  SELECT i.doc_a, i.doc_b,
       |    floor((CAST(i.i AS DOUBLE) / CAST(na.n + nb.n - i.i AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS jaccard
       |  FROM inter i
       |  JOIN sizes na ON na.doc_id = i.doc_a
       |  JOIN sizes nb ON nb.doc_id = i.doc_b)
       |WHERE jaccard >= 0.6""".stripMargin

  /** Connected components in SQL: transitive reachability over the
    * confirmed-Jaccard pair graph (recursive CTE with set-union semantics
    * terminates on the cyclic graph), cluster = min reachable id.
    * Shared by dedup_clusters and dedup_keep_best. */
  private val clusterCtes: String =
    s"""$tokCte,
       |$minhashCtes,
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ss GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
       |  FROM cand c
       |  JOIN ss sa ON sa.doc_id = c.doc_a
       |  JOIN ss sb ON sb.doc_id = c.doc_b AND sa.sid = sb.sid
       |  GROUP BY 1, 2),
       |jac AS (SELECT * FROM (
       |  SELECT i.doc_a, i.doc_b,
       |    floor((CAST(i.i AS DOUBLE) / CAST(na.n + nb.n - i.i AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS jaccard
       |  FROM inter i
       |  JOIN sizes na ON na.doc_id = i.doc_a
       |  JOIN sizes nb ON nb.doc_id = i.doc_b)
       |  WHERE jaccard >= 0.6),
       |e AS (SELECT doc_a AS s, doc_b AS d FROM jac UNION SELECT doc_b, doc_a FROM jac),
       |reach AS (
       |  SELECT s AS id, d AS r FROM e
       |  UNION
       |  SELECT reach.id, e2.d FROM reach JOIN e e2 ON reach.r = e2.s),
       |clus AS (SELECT id, least(id, min(r)) AS cid FROM reach GROUP BY id),
       |cl AS (SELECT d.doc_id, CAST(coalesce(c.cid, d.doc_id) AS BIGINT) AS cluster_id
       |  FROM documents d LEFT JOIN clus c ON d.doc_id = c.id)""".stripMargin

  val dedupClusters: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT doc_id, cluster_id FROM cl""".stripMargin

  /** Dedup.softDedupWeights twin: member weight = 1/cluster_size. */
  val softDedupWeights: String =
    s"""WITH RECURSIVE $clusterCtes,
       |szs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM cl GROUP BY 1)
       |SELECT cl.doc_id, cl.cluster_id, szs.cluster_size,
       |  floor((1.0 / CAST(szs.cluster_size AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS weight
       |FROM cl JOIN szs USING (cluster_id)""".stripMargin

  /** Dedup.clusterKeepBest twin: per-cluster argmax over (rounded quality,
    * lowest doc_id) marks the surviving member. */
  /** Dedup.clusterStats twin: cluster sizes over the recursive-CC labels,
    * then the size-cardinality rollup. */
  val dedupClusterStats: String =
    s"""WITH RECURSIVE $clusterCtes,
       |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM cl GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM sz GROUP BY 1""".stripMargin

  val dedupKeepBest: String =
    s"""WITH RECURSIVE $clusterCtes,
       |fq AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |    CAST($stopCountSql AS BIGINT) AS n_stop
       |  FROM documents),
       |kq AS (SELECT doc_id,
       |    floor((least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
       |      * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |      * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS quality
       |  FROM fq),
       |rk AS (SELECT cl.cluster_id, cl.doc_id, kq.quality,
       |    row_number() OVER (PARTITION BY cl.cluster_id ORDER BY kq.quality DESC, cl.doc_id) AS rn
       |  FROM cl JOIN kq USING (doc_id)),
       |canon AS (SELECT cluster_id, doc_id AS keep_doc FROM rk WHERE rn = 1)
       |SELECT r.doc_id, r.cluster_id, r.quality, r.doc_id = c2.keep_doc AS keep
       |FROM rk r JOIN canon c2 USING (cluster_id)""".stripMargin

  /** Shared fingerprint CTE chain for the SimHash queries (`f` = doc_id,
    * simhash). */
  private val simhashCtes: String = {
    val bitSums = (0 until Dedup.SimhashBits)
      .map(k => s"sum(CASE WHEN ((hh >> $k) & 1) = 1 THEN 1 ELSE -1 END) AS b$k").mkString(",\n    ")
    val fp = (0 until Dedup.SimhashBits)
      .map(k => s"(CASE WHEN b$k > 0 THEN ${1L << k} ELSE 0 END)").mkString(" + ")
    s"""$tokCte,
       |h AS (SELECT doc_id, ${Hash60.sql("tok")} AS hh FROM tok),
       |b AS (SELECT doc_id,
       |    $bitSums
       |  FROM h GROUP BY doc_id),
       |f AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM b)""".stripMargin
  }

  val dedupSimhash: String =
    s"WITH $simhashCtes\nSELECT doc_id, simhash FROM f"

  /** Banded SimHash pairing: agree-on-one-band candidates, exact Hamming
    * refine — mirrors Dedup.simhashPairs. */
  val simhashPairs: String =
    s"""WITH $simhashCtes,
       |bands AS (SELECT unnest(range(0, 4)) AS band),
       |bd AS (SELECT doc_id, simhash, band, (simhash >> (15 * band)) & 32767 AS band_val
       |  FROM f CROSS JOIN bands),
       |p AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.simhash, b2.simhash)) AS BIGINT) AS hamming
       |  FROM bd a JOIN bd b2
       |    ON a.band = b2.band AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id)
       |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 3""".stripMargin

  val docFingerprint: String =
    s"""WITH $tokCte,
       |ti AS (SELECT doc_id, ord, ${Hash60.sql("tok")} % ${Dedup.RollP} AS tid FROM tok),
       |g AS (SELECT doc_id, tid,
       |    lead(tid, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS t2,
       |    lead(tid, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS t3,
       |    lead(tid, 3) OVER (PARTITION BY doc_id ORDER BY ord) AS t4,
       |    lead(tid, 4) OVER (PARTITION BY doc_id ORDER BY ord) AS t5
       |  FROM ti)
       |SELECT doc_id,
       |  min(((((tid * ${Dedup.RollB} + t2) * ${Dedup.RollB} + t3) * ${Dedup.RollB} + t4) * ${Dedup.RollB} + t5) % ${Dedup.RollP}) AS fingerprint
       |FROM g WHERE t5 IS NOT NULL GROUP BY doc_id""".stripMargin

  val embTopK: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 8),
      |nb AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
      |s AS (
      |  SELECT query_id, neighbor_id,
      |    floor((list_dot_product(qe, ne) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne)))) * 1000000 + 0.5) / 1000000 AS cosine
      |  FROM q CROSS JOIN nb WHERE neighbor_id <> query_id),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
      |  FROM s)
      |SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 5""".stripMargin

  /** Embeddings.mmrRerank twin: the greedy MMR selection unrolled into k
    * CTE stages (k is a fixed constant, so the "loop" is mechanical SQL —
    * generated here by a Scala loop). Every score is the same ×10⁷
    * integer-micro-unit arithmetic as the engine (7·rel_u − 3·max_sim_u,
    * ties to the smaller id), so step argmaxes agree exactly. */
  val embMmr: String = {
    val (m, k) = (Embeddings.MmrPool, Embeddings.MmrK)
    val head =
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 8),
         |nb AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
         |s AS (
         |  SELECT query_id, neighbor_id,
         |    floor((list_dot_product(qe, ne) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne)))) * 1000000 + 0.5) / 1000000 AS cosine
         |  FROM q CROSS JOIN nb WHERE neighbor_id <> query_id),
         |r AS (SELECT query_id, neighbor_id, cosine,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM s),
         |pool AS (SELECT query_id, neighbor_id, cosine,
         |    CAST(floor(cosine * 1000000 + 0.5) AS BIGINT) AS rel_u
         |  FROM r WHERE rank <= $m),
         |vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |ps AS (SELECT p1.query_id, p1.neighbor_id AS a, p2.neighbor_id AS b,
         |    CAST(floor((list_dot_product(x.ve, y.ve) / (sqrt(list_dot_product(x.ve, x.ve)) * sqrt(list_dot_product(y.ve, y.ve)))) * 1000000 + 0.5) AS BIGINT) AS sim_u
         |  FROM pool p1 JOIN pool p2
         |    ON p1.query_id = p2.query_id AND p1.neighbor_id <> p2.neighbor_id
         |  JOIN vv x ON p1.neighbor_id = x.vec_id
         |  JOIN vv y ON p2.neighbor_id = y.vec_id),
         |sel1 AS (SELECT query_id, neighbor_id AS id, CAST(1 AS BIGINT) AS ord FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY 7 * rel_u DESC, neighbor_id) AS rn
         |    FROM pool) WHERE rn = 1)""".stripMargin
    val steps = (2 to k).map { n =>
      s"""c$n AS (SELECT p.query_id, p.neighbor_id AS cand, p.rel_u, max(ps.sim_u) AS ms
         |  FROM pool p
         |  JOIN sel${n - 1} s ON s.query_id = p.query_id
         |  JOIN ps ON ps.query_id = p.query_id AND ps.a = p.neighbor_id AND ps.b = s.id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${n - 1} x
         |    WHERE x.query_id = p.query_id AND x.id = p.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |p$n AS (SELECT query_id, cand,
         |    row_number() OVER (PARTITION BY query_id ORDER BY 7 * rel_u - 3 * ms DESC, cand) AS rn
         |  FROM c$n),
         |sel$n AS (SELECT * FROM sel${n - 1}
         |  UNION ALL SELECT query_id, cand AS id, CAST($n AS BIGINT) AS ord FROM p$n WHERE rn = 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    head + steps +
      s"""
         |SELECT f.query_id, f.ord AS rank, f.id AS neighbor_id, pool.cosine
         |FROM sel$k f JOIN pool
         |  ON pool.query_id = f.query_id AND pool.neighbor_id = f.id""".stripMargin
  }

  /** Shared SQ8 quantizer CTEs (per-vector min/scale + per-dim codes). */
  private val sqCtes: String =
    """ex AS (SELECT vec_id,
      |    CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
      |    unnest(CAST(embedding AS DOUBLE[])) AS e
      |  FROM embeddings),
      |st AS (SELECT vec_id, min(e) AS mn, (max(e) - min(e)) / 255.0 AS scale
      |  FROM ex GROUP BY 1),
      |sqc AS (SELECT ex.vec_id, ex.dim,
      |    CASE WHEN st.scale = 0 THEN 0
      |         ELSE CAST(floor((ex.e - st.mn) / st.scale + 0.5) AS BIGINT) END AS code
      |  FROM ex JOIN st USING (vec_id))""".stripMargin

  val sqCodesSql: String =
    s"""WITH $sqCtes
       |SELECT c.vec_id,
       |  floor(st.mn * 1000000 + 0.5) / 1000000 AS mn,
       |  floor(st.scale * 1000000 + 0.5) / 1000000 AS scale,
       |  string_agg(CAST(c.code AS VARCHAR), '|' ORDER BY c.dim) AS code_key
       |FROM sqc c JOIN st USING (vec_id)
       |GROUP BY 1, 2, 3""".stripMargin

  val sqTopKSql: String =
    s"""WITH $sqCtes,
       |rv AS (SELECT c.vec_id AS neighbor_id,
       |    list(st.mn + c.code * st.scale ORDER BY c.dim) AS ne
       |  FROM sqc c JOIN st USING (vec_id) GROUP BY 1),
       |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
       |  FROM embeddings WHERE vec_id < 8),
       |s AS (
       |  SELECT query_id, neighbor_id,
       |    floor((list_dot_product(qe, ne) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne)))) * 1000000 + 0.5) / 1000000 AS cosine
       |  FROM q CROSS JOIN rv WHERE neighbor_id <> query_id),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM s)
       |SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 5""".stripMargin

  private val hyperplanesSql: String =
    Embeddings.hyperplanes.map { case (p, d, w) => s"($p, $d, $w)" }
      .mkString("(VALUES ", ", ", ") AS hp(plane, dim, w)")

  // Corpus-adaptive plane count, integer-identical to Embeddings.planesFor:
  // the smallest p in [NumPlanes, MaxPlanes] with 8·2^p >= count — a
  // shift-compare minimum, no floating log in either engine.
  // COALESCE clamps like planesFor does: past 8·2^MaxPlanes vectors no p
  // satisfies the predicate and MIN(p) is NULL — the engine clamps to
  // MaxPlanes, so the oracle must too (ADVICE r15)
  private val nPlanesCte =
    s"""np AS (SELECT COALESCE(MIN(p), ${Embeddings.MaxPlanes}) AS n_planes
       |  FROM range(${Embeddings.NumPlanes}, ${Embeddings.MaxPlanes + 1}) t(p)
       |  WHERE (8::BIGINT << p) >= (SELECT count(*) FROM embeddings))""".stripMargin

  private val bucketsCte =
    s"""$nPlanesCte,
       |ex AS (SELECT vec_id,
       |    CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
       |    unnest(CAST(embedding AS DOUBLE[])) AS e
       |  FROM embeddings),
       |d AS (SELECT vec_id, hp.plane, sum(e * hp.w) AS dotp
       |  FROM ex JOIN $hyperplanesSql ON ex.dim = hp.dim
       |  CROSS JOIN np WHERE hp.plane < np.n_planes GROUP BY 1, 2),
       |bk AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN dotp > 0 THEN (1::BIGINT << plane) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM d GROUP BY 1)""".stripMargin

  val embLsh: String =
    s"WITH $bucketsCte\nSELECT vec_id, bucket FROM bk"

  /** Embeddings.knnGraph twin: same LSH-bucket candidate bound, window
    * top-k over the ROUNDED cosine with dst tie-break (the TopKAgg
    * ordering), mutual = reverse edge also survived its node's top-k. */
  val knnGraph: String =
    s"""WITH $bucketsCte,
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
       |    floor((list_dot_product(x.ve, y.ve) / (sqrt(list_dot_product(x.ve, x.ve)) * sqrt(list_dot_product(y.ve, y.ve)))) * 1000000 + 0.5) / 1000000 AS cosine
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  JOIN v x ON a.vec_id = x.vec_id JOIN v y ON b.vec_id = y.vec_id),
       |e AS (SELECT src, dst, cosine,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS BIGINT) AS rnk
       |  FROM p),
       |t AS (SELECT * FROM e WHERE rnk <= ${Embeddings.KnnGraphK})
       |SELECT t.src AS vec_id, t.rnk AS rank, t.dst AS neighbor_id, t.cosine,
       |  (r.src IS NOT NULL) AS mutual
       |FROM t LEFT JOIN t r ON r.src = t.dst AND r.dst = t.src""".stripMargin

  val embDupPairs: String =
    s"""WITH $bucketsCte,
       |prs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)
       |SELECT * FROM (
       |  SELECT p.vec_a, p.vec_b,
       |    floor((list_dot_product(x.ve, y.ve) / (sqrt(list_dot_product(x.ve, x.ve)) * sqrt(list_dot_product(y.ve, y.ve)))) * 1000000 + 0.5) / 1000000 AS cosine
       |  FROM prs p JOIN v x ON p.vec_a = x.vec_id JOIN v y ON p.vec_b = y.vec_id)
       |WHERE cosine >= 0.35""".stripMargin

  /** PQ codebook as a VALUES table (sub, k, d, w) — the DuckDB twin of
    * Embeddings.pqCodebook. */
  /** Star-CC clusters over the LSH-candidate cosine pairs — recursive
    * reachability closure in DuckDB (cluster label = component minimum,
    * singletons label themselves). */
  val semanticClustersSql: String =
    s"""WITH RECURSIVE $bucketsCte,
       |prs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |dp AS (SELECT * FROM (
       |  SELECT p.vec_a, p.vec_b,
       |    floor((list_dot_product(x.ve, y.ve) / (sqrt(list_dot_product(x.ve, x.ve)) * sqrt(list_dot_product(y.ve, y.ve)))) * 1000000 + 0.5) / 1000000 AS cosine
       |  FROM prs p JOIN v x ON p.vec_a = x.vec_id JOIN v y ON p.vec_b = y.vec_id)
       |  WHERE cosine >= 0.35),
       |e AS (SELECT vec_a AS s, vec_b AS d FROM dp UNION SELECT vec_b, vec_a FROM dp),
       |reach AS (
       |  SELECT s AS id, d AS r FROM e
       |  UNION
       |  SELECT reach.id, e2.d FROM reach JOIN e e2 ON reach.r = e2.s),
       |clus AS (SELECT id, least(id, min(r)) AS cid FROM reach GROUP BY id)
       |SELECT emb.vec_id, CAST(coalesce(c.cid, emb.vec_id) AS BIGINT) AS cluster_id
       |FROM embeddings emb LEFT JOIN clus c ON emb.vec_id = c.id""".stripMargin

  private val pqCodebookSql: String =
    Embeddings.pqCodebook.map { case (s, k, d, w) => s"($s, $k, $d, $w)" }
      .mkString("(VALUES ", ", ", ") AS cb(sub, k, d, w)")

  private val pqSubDim = Embeddings.EmbDim / Embeddings.PqM

  /** Per-vector PQ codes: subvector L2-argmin per subspace, distances
    * compared at 6dp, ties to the lower centroid id. */
  private val pqCodesCte: String =
    s"""ex AS (SELECT vec_id,
       |    CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
       |    unnest(CAST(embedding AS DOUBLE[])) AS e
       |  FROM embeddings),
       |sd AS (SELECT vec_id, dim // $pqSubDim AS sub, dim % $pqSubDim AS d, e FROM ex),
       |dist AS (SELECT vec_id, sd.sub, cb.k,
       |    floor(sum((e - cb.w) * (e - cb.w)) * 1000000 + 0.5) / 1000000 AS d2
       |  FROM sd JOIN $pqCodebookSql ON sd.sub = cb.sub AND sd.d = cb.d
       |  GROUP BY 1, 2, 3),
       |code AS (SELECT vec_id, sub, k AS code FROM (
       |    SELECT vec_id, sub, k,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, k) AS rn
       |    FROM dist) WHERE rn = 1)""".stripMargin

  val pqCodesSql: String =
    s"""WITH $pqCodesCte
       |SELECT vec_id, string_agg(CAST(code AS VARCHAR), '|' ORDER BY sub) AS code_key
       |FROM code GROUP BY vec_id""".stripMargin

  /** Embeddings.pqDistortion twin: the pq_codes CTE already carries every
    * (vec, sub, k) distance at 6dp, so the selected-centroid residual is
    * just the argmin row joined back — averaged per subspace. */
  val pqDistortion: String =
    s"""WITH $pqCodesCte
       |SELECT CAST(sub AS BIGINT) AS sub, CAST(count(*) AS BIGINT) AS n_vecs,
       |  floor(avg(d2) * 1000000 + 0.5) / 1000000 AS mse
       |FROM dist JOIN code USING (vec_id, sub)
       |WHERE dist.k = code.code
       |GROUP BY 1""".stripMargin

  val pqTopK: String =
    s"""WITH $pqCodesCte,
       |qex AS (SELECT vec_id AS query_id, dim // $pqSubDim AS sub, dim % $pqSubDim AS d, e
       |  FROM ex WHERE vec_id < 8),
       |qd AS (SELECT query_id, qex.sub, cb.k,
       |    sum((e - cb.w) * (e - cb.w)) AS d2
       |  FROM qex JOIN $pqCodebookSql ON qex.sub = cb.sub AND qex.d = cb.d
       |  GROUP BY 1, 2, 3),
       |pairs AS (SELECT q.query_id, c.vec_id AS neighbor_id,
       |    floor(sum(qd.d2) * 1000000 + 0.5) / 1000000 AS adc_dist
       |  FROM (SELECT DISTINCT query_id FROM qd) q
       |  JOIN code c ON c.vec_id <> q.query_id
       |  JOIN qd ON qd.query_id = q.query_id AND qd.sub = c.sub AND qd.k = c.code
       |  GROUP BY 1, 2),
       |rk AS (SELECT query_id, neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, adc_dist FROM rk WHERE rank <= 5""".stripMargin

  /** Two deterministic Lloyd rounds + final assignment — the DuckDB twin of
    * Embeddings.kmeansCells (6dp-rounded distances and centroids, low-id
    * ties, empty cells keep the previous centroid). */
  val kmeansCellsSql: String = {
    val init = Embeddings.centroids.map { case (k, d, w) => s"($k, $d, $w)" }
      .mkString("(VALUES ", ", ", ")")
    def assign(r: Int, cents: String): String =
      s"""d$r AS (SELECT v.vec_id, c.cell,
         |    floor(sum((v.e - c.w) * (v.e - c.w)) * 1000000 + 0.5) / 1000000 AS d2
         |  FROM ex v JOIN $cents c ON v.dim = c.dim GROUP BY 1, 2),
         |a$r AS (SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM d$r) WHERE rn = 1)""".stripMargin
    def refit(r: Int, cents: String): String =
      s"""m$r AS (SELECT a.cell, v.dim,
         |    floor(avg(v.e) * 1000000 + 0.5) / 1000000 AS w
         |  FROM a$r a JOIN ex v USING (vec_id) GROUP BY 1, 2),
         |c${r + 1} AS (SELECT p.cell, p.dim, coalesce(m.w, p.w) AS w
         |  FROM $cents p LEFT JOIN m$r m ON p.cell = m.cell AND p.dim = m.dim)""".stripMargin
    s"""WITH ex AS (SELECT vec_id,
       |    CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
       |    unnest(CAST(embedding AS DOUBLE[])) AS e
       |  FROM embeddings),
       |c0 AS (SELECT * FROM $init t(cell, dim, w)),
       |${assign(0, "c0")},
       |${refit(0, "c0")},
       |${assign(1, "c1")},
       |${refit(1, "c1")},
       |${assign(2, "c2")}
       |SELECT vec_id, CAST(cell AS INT) AS cell FROM a2""".stripMargin
  }

  /** Embeddings.kmeansPurity twin: the k-means assignment replay composed
    * with the label column — contingency counts, per-cell majority by
    * (count desc, label asc), 6dp purity. */
  val kmeansPurity: String =
    s"""WITH asg AS (SELECT vec_id, cell FROM ($kmeansCellsSql)),
       |c AS (SELECT a.cell, CAST(e.label AS BIGINT) AS label, CAST(count(*) AS BIGINT) AS n
       |  FROM asg a JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
       |t AS (SELECT cell, CAST(sum(n) AS BIGINT) AS n_vecs FROM c GROUP BY 1),
       |m AS (SELECT cell, label, n FROM (
       |    SELECT cell, label, n,
       |      row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rk
       |    FROM c) WHERE rk = 1)
       |SELECT CAST(m.cell AS BIGINT) AS cell, t.n_vecs,
       |  m.label AS majority_label, m.n AS n_majority,
       |  floor((CAST(m.n AS DOUBLE) / CAST(t.n_vecs AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS purity
       |FROM m JOIN t USING (cell)""".stripMargin

  private val centroidsSql: String =
    Embeddings.centroids.map { case (k, d, w) => s"($k, $d, $w)" }
      .mkString("(VALUES ", ", ", ") AS cen(cell, dim, w)")

  /** Shared IVF cell-rank CTE chain (`r` = vec_id, cell, rnk) — the DuckDB
    * twin of Embeddings.cellRanks, used by ivf_topk, ivf_balance and (via
    * composition) ann_recall. */
  private val ivfRankCtes: String =
    s"""ex AS (SELECT vec_id,
       |    CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
       |    unnest(CAST(embedding AS DOUBLE[])) AS e
       |  FROM embeddings),
       |s AS (SELECT vec_id, cen.cell, sum(e * cen.w) AS dot, sum(e * e) AS n2,
       |    sum(CAST(cen.w AS DOUBLE) * CAST(cen.w AS DOUBLE)) AS c2
       |  FROM ex JOIN $centroidsSql ON ex.dim = cen.dim GROUP BY 1, 2),
       |r AS (SELECT vec_id, cell,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |      ORDER BY floor((dot / (sqrt(n2) * sqrt(c2))) * 1000000 + 0.5) / 1000000 DESC, cell) AS BIGINT) AS rnk
       |  FROM s)""".stripMargin

  /** Embeddings.ivfBalance twin: both engines divide the same exact
    * integers (K·Σn², N²), so the 6dp rounding agrees bit-for-bit. */
  val ivfBalance: String =
    s"""WITH $ivfRankCtes,
       |cnt AS (SELECT CAST(cell AS BIGINT) AS cell, CAST(count(*) AS BIGINT) AS n_vecs
       |  FROM r WHERE rnk = 1 GROUP BY 1),
       |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
       |    CAST(${Embeddings.NumCells} * sum(n_vecs * n_vecs) AS BIGINT) AS wsum FROM cnt)
       |SELECT cell, n_vecs,
       |  floor((CAST(n_vecs AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS frac,
       |  floor((CAST(wsum AS DOUBLE) / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS imbalance
       |FROM cnt CROSS JOIN t""".stripMargin

  /** ivf_topk at an explicit probe width (the NumProbes instance is the
    * driver query; ivfProbeSweep composes one per width). */
  private def ivfTopKAt(probes: Int): String =
    s"""WITH $ivfRankCtes,
       |cells AS (SELECT vec_id AS neighbor_id, cell FROM r WHERE rnk = 1),
       |qp AS (SELECT vec_id AS query_id, cell FROM r WHERE vec_id < 8 AND rnk <= $probes),
       |cand AS (SELECT DISTINCT qp.query_id, c.neighbor_id
       |  FROM qp JOIN cells c USING (cell) WHERE c.neighbor_id <> qp.query_id),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |sc AS (SELECT cand.query_id, cand.neighbor_id,
       |    floor((list_dot_product(q.ve, n.ve) / (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(n.ve, n.ve)))) * 1000000 + 0.5) / 1000000 AS cosine
       |  FROM cand JOIN v q ON cand.query_id = q.vec_id JOIN v n ON cand.neighbor_id = n.vec_id),
       |rk AS (SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT query_id, rank, neighbor_id, cosine FROM rk WHERE rank <= 5""".stripMargin

  val ivfTopK: String = ivfTopKAt(Embeddings.NumProbes)

  /** Embeddings.hardNegatives twin: same scored cross join as embTopK with
    * the sub-τ band filter, window-ranked (the engine uses the bounded-heap
    * aggregate; ordering and ties are identical). */
  val hardNegatives: String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 8),
       |nb AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ne FROM embeddings),
       |s AS (
       |  SELECT query_id, neighbor_id,
       |    floor((list_dot_product(qe, ne) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ne, ne)))) * 1000000 + 0.5) / 1000000 AS cosine
       |  FROM q CROSS JOIN nb WHERE neighbor_id <> query_id),
       |f AS (SELECT * FROM s WHERE cosine < ${Embeddings.HardNegTau}),
       |r AS (SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM f)
       |SELECT query_id, rank, neighbor_id, cosine FROM r WHERE rank <= 5""".stripMargin

  /** Embeddings.ivfProbeSweepFromTruth twin: one ivfTopKAt subquery per probe
    * width, each hit-joined against the shared brute-force truth. */
  val ivfProbeSweep: String = {
    val branches = (1 to Embeddings.NumProbes).map { p =>
      s"""SELECT CAST($p AS BIGINT) AS nprobe,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM truth t JOIN (${ivfTopKAt(p)}) a
         |     ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hit""".stripMargin
    }
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($embTopK))
       |SELECT nprobe, n_hit,
       |  floor((CAST(n_hit AS DOUBLE) / 40.0) * 1000000 + 0.5) / 1000000 AS recall_at_k
       |FROM (${branches.mkString("\nUNION ALL\n")})""".stripMargin
  }

  /** Embeddings.ivfPqTopK twin: residual-encoded IVF-PQ. Residuals are
    * (e − own-cell centroid) for the stored side and (e − probed-cell
    * centroid) per (query, cell) for the query side; codes replay the
    * pq-codes argmin (6dp distances, low-k ties) over the residuals; ADC
    * sums the per-subspace query-residual table entries at the candidate's
    * codes, rounded at the pair like pq_topk. */
  val ivfPqTopK: String =
    s"""WITH $ivfRankCtes,
       |cells AS (SELECT vec_id, cell FROM r WHERE rnk = 1),
       |res AS (SELECT ex.vec_id, ex.dim, ex.e - cen.w AS e
       |  FROM ex JOIN cells cl ON ex.vec_id = cl.vec_id
       |  JOIN $centroidsSql ON cen.cell = cl.cell AND cen.dim = ex.dim),
       |rsd AS (SELECT vec_id, dim // $pqSubDim AS sub, dim % $pqSubDim AS d, e FROM res),
       |rdist AS (SELECT vec_id, rsd.sub, cb.k,
       |    floor(sum((e - cb.w) * (e - cb.w)) * 1000000 + 0.5) / 1000000 AS d2
       |  FROM rsd JOIN $pqCodebookSql ON rsd.sub = cb.sub AND rsd.d = cb.d
       |  GROUP BY 1, 2, 3),
       |rcode AS (SELECT vec_id, sub, k AS code FROM (
       |    SELECT vec_id, sub, k,
       |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, k) AS rn
       |    FROM rdist) WHERE rn = 1),
       |qp AS (SELECT vec_id AS query_id, cell FROM r
       |  WHERE vec_id < 8 AND rnk <= ${Embeddings.NumProbes}),
       |qres AS (SELECT qp.query_id, qp.cell, ex.dim, ex.e - cen.w AS e
       |  FROM qp JOIN ex ON ex.vec_id = qp.query_id
       |  JOIN $centroidsSql ON cen.cell = qp.cell AND cen.dim = ex.dim),
       |qsd AS (SELECT query_id, cell, dim // $pqSubDim AS sub, dim % $pqSubDim AS d, e FROM qres),
       |qd AS (SELECT query_id, cell, qsd.sub, cb.k,
       |    sum((e - cb.w) * (e - cb.w)) AS d2
       |  FROM qsd JOIN $pqCodebookSql ON qsd.sub = cb.sub AND qsd.d = cb.d
       |  GROUP BY 1, 2, 3, 4),
       |pairs AS (SELECT qd.query_id, cl.vec_id AS neighbor_id,
       |    floor(sum(qd.d2) * 1000000 + 0.5) / 1000000 AS adc_dist
       |  FROM cells cl
       |  JOIN rcode co ON co.vec_id = cl.vec_id
       |  JOIN qd ON qd.cell = cl.cell AND qd.sub = co.sub AND qd.k = co.code
       |  WHERE cl.vec_id <> qd.query_id
       |  GROUP BY 1, 2),
       |rk AS (SELECT query_id, neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       |  FROM pairs)
       |SELECT query_id, rank, neighbor_id, adc_dist FROM rk WHERE rank <= 5""".stripMargin

  /** Embeddings.indexRecallMatrixFromTruth twin: one branch per index, each that
    * index's composed top-k SQL hit-joined against the shared truth. */
  def indexRecallMatrixSql(branches: Seq[(String, String)]): String = {
    val parts = branches.map { case (name, sql) =>
      s"""SELECT '$name' AS index_type,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM truth t JOIN ($sql) a
         |     ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id) AS n_hit""".stripMargin
    }
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($embTopK))
       |SELECT index_type, n_hit,
       |  floor((CAST(n_hit AS DOUBLE) / 40.0) * 1000000 + 0.5) / 1000000 AS recall_at_k
       |FROM (${parts.mkString("\nUNION ALL\n")})""".stripMargin
  }

  /** Embeddings.annRecallFromTruth twin: the brute-force and IVF top-k oracles
    * composed as subqueries (each carries its own WITH), hit-joined per
    * query; zero-hit queries kept via the outer join. */
  val annRecall: String =
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($embTopK)),
       |approx AS (SELECT query_id, neighbor_id FROM ($ivfTopK)),
       |hits AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM truth t JOIN approx a
       |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |  GROUP BY 1)
       |SELECT q.query_id, coalesce(h.n_hit, 0) AS n_hit,
       |  floor((CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 5.0) * 1000000 + 0.5) / 1000000 AS recall_at_k
       |FROM (SELECT DISTINCT query_id FROM truth) q
       |LEFT JOIN hits h USING (query_id)""".stripMargin

  /** Embeddings.annNdcgFromTruth twin: brute/IVF oracles as subqueries, graded
    * relevance k+1−brute_rank, discount terms floored to integer
    * micro-units before summation (identical expression structure). */
  val annNdcg: String =
    s"""WITH truth AS (SELECT query_id, neighbor_id, rank AS t_rank FROM ($embTopK)),
       |approx AS (SELECT query_id, neighbor_id, rank AS a_rank FROM ($ivfTopK)),
       |d AS (SELECT a.query_id,
       |    CAST(sum(CAST(floor(CAST(coalesce(6 - t.t_rank, 0) AS DOUBLE)
       |      / (ln(CAST(a.a_rank AS DOUBLE) + 1.0) / ln(2.0))
       |      * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS dcg_u
       |  FROM approx a LEFT JOIN truth t USING (query_id, neighbor_id)
       |  GROUP BY 1),
       |i AS (SELECT query_id,
       |    CAST(sum(CAST(floor(CAST(6 - t_rank AS DOUBLE)
       |      / (ln(CAST(t_rank AS DOUBLE) + 1.0) / ln(2.0))
       |      * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS idcg_u
       |  FROM truth GROUP BY 1)
       |SELECT d.query_id, d.dcg_u, i.idcg_u,
       |  floor((CAST(d.dcg_u AS DOUBLE) / CAST(i.idcg_u AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS ndcg
       |FROM d JOIN i USING (query_id)""".stripMargin

  /** Embeddings.ivfSqTopK twin: the ivf_topk candidate CTEs composed with
    * the sq_topk reconstruction — raw queries, reconstructed neighbors. */
  val ivfSqTopK: String =
    s"""WITH $sqCtes,
       |s AS (SELECT vec_id, cen.cell, sum(e * cen.w) AS dot, sum(e * e) AS n2,
       |    sum(CAST(cen.w AS DOUBLE) * CAST(cen.w AS DOUBLE)) AS c2
       |  FROM ex JOIN $centroidsSql ON ex.dim = cen.dim GROUP BY 1, 2),
       |r AS (SELECT vec_id, cell,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |      ORDER BY floor((dot / (sqrt(n2) * sqrt(c2))) * 1000000 + 0.5) / 1000000 DESC, cell) AS BIGINT) AS rnk
       |  FROM s),
       |cells AS (SELECT vec_id AS neighbor_id, cell FROM r WHERE rnk = 1),
       |qp AS (SELECT vec_id AS query_id, cell FROM r WHERE vec_id < 8 AND rnk <= ${Embeddings.NumProbes}),
       |cand AS (SELECT DISTINCT qp.query_id, c.neighbor_id
       |  FROM qp JOIN cells c USING (cell) WHERE c.neighbor_id <> qp.query_id),
       |rv AS (SELECT c.vec_id AS neighbor_id,
       |    list(st.mn + c.code * st.scale ORDER BY c.dim) AS ne
       |  FROM sqc c JOIN st USING (vec_id) GROUP BY 1),
       |qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
       |  FROM embeddings WHERE vec_id < 8),
       |sc AS (SELECT cand.query_id, cand.neighbor_id,
       |    floor((list_dot_product(q.qe, n.ne) / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(n.ne, n.ne)))) * 1000000 + 0.5) / 1000000 AS cosine
       |  FROM cand JOIN qv q USING (query_id) JOIN rv n USING (neighbor_id)),
       |rk AS (SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT query_id, rank, neighbor_id, cosine FROM rk WHERE rank <= 5""".stripMargin

  private def stopCountSql: String =
    ConceptDict.stopwords.map(s => s"len(list_filter(string_split(text, ' '), t -> t = '$s'))").mkString(" + ")

  val langId: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST($stopCountSql AS BIGINT) AS n_stopwords
       |  FROM documents)
       |SELECT doc_id, n_tokens, n_stopwords,
       |  floor((CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS stop_ratio,
       |  CASE WHEN floor((CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) / 1000000 >= 0.05 THEN 'en' ELSE 'und' END AS predicted_lang
       |FROM f""".stripMargin

  val qualityScore: String =
    s"""WITH f AS (
       |  SELECT doc_id, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |    CAST($stopCountSql AS BIGINT) AS n_stop
       |  FROM documents)
       |SELECT doc_id, n_chars, n_tokens, n_distinct AS n_distinct_tokens,
       |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS approx_bpe_tokens,
       |  floor((CAST(n_chars - n_tokens + 1 AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS avg_token_len,
       |  floor((CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS stop_ratio,
       |  floor((CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS type_token_ratio,
       |  floor((least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
       |    * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |    * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS quality
       |FROM f""".stripMargin

  /** TextStats.corpusStats twin: avg over the per-doc ROUNDED quality. */
  val corpusStats: String =
    s"""WITH f AS (
       |  SELECT doc_id, source, n_chars,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |    CAST($stopCountSql AS BIGINT) AS n_stop
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  floor(avg(floor((least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
       |    * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |    * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))) * 1000000 + 0.5) / 1000000) * 1000000 + 0.5) / 1000000 AS mean_quality
       |FROM f GROUP BY 1""".stripMargin

  private val repCte =
    s"""g AS (SELECT doc_id, tok,
       |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS t2,
       |    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS t3
       |  FROM tok),
       |rep0 AS (SELECT doc_id,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(count(DISTINCT tok) AS BIGINT) AS nd,
       |    CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_trigrams,
       |    CAST(count(DISTINCT CASE WHEN t3 IS NOT NULL THEN tok || ' ' || t2 || ' ' || t3 END) AS BIGINT) AS ndt
       |  FROM g GROUP BY doc_id),
       |rep AS (SELECT doc_id, n_tokens, n_trigrams,
       |    floor((1.0 - CAST(nd AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS dup_token_ratio,
       |    floor((1.0 - CAST(ndt AS DOUBLE) / CAST(n_trigrams AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS dup_trigram_ratio
       |  FROM rep0 WHERE n_trigrams > 0)""".stripMargin

  val repetitionStats: String =
    s"""WITH $tokCte,
       |$repCte
       |SELECT doc_id, n_tokens, n_trigrams, dup_token_ratio, dup_trigram_ratio FROM rep""".stripMargin

  val qualityFilter: String =
    s"""WITH $tokCte,
       |$repCte,
       |q AS (SELECT doc_id,
       |    floor((CAST($stopCountSql AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS stop_ratio
       |  FROM documents)
       |SELECT rep.doc_id,
       |  rep.n_tokens < 20 AS too_short,
       |  rep.dup_trigram_ratio > 0.55 AS too_repetitive,
       |  q.stop_ratio > 0.12 AS too_stoppy,
       |  (NOT rep.n_tokens < 20 AND NOT rep.dup_trigram_ratio > 0.55 AND NOT q.stop_ratio > 0.12) AS keep
       |FROM rep JOIN q ON rep.doc_id = q.doc_id""".stripMargin

  /** The batched-decode stub emits (byte length, first byte) per payload;
    * payloads are the ASCII doc text, so both are SQL-replayable. */
  /** TextStats.decodeBatched + DecodeWorkerCmd twin: the python3 child
    * uppercases the payload bytes and strips vowels, so the oracle applies
    * the same transform to the source text before the byte stats. */
  val multimodalDecode: String =
    """WITH dec AS (SELECT doc_id,
      |    regexp_replace(upper(text), '[AEIOU]', '', 'g') AS decoded
      |  FROM documents)
      |SELECT doc_id, CAST(length(decoded) AS BIGINT) AS byte_len,
      |  CAST(CASE WHEN length(decoded) = 0 THEN 0 ELSE ascii(substr(decoded, 1, 1)) END AS BIGINT) AS first_byte
      |FROM dec""".stripMargin

  val multimodalMeta: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS byte_len,
      |  hex(substr(text, 1, 8)) AS head_hex,
      |  CAST(length(text) % 64 + 1 AS BIGINT) AS fake_width,
      |  CAST((length(text) // 64) % 64 + 1 AS BIGINT) AS fake_height,
      |  CAST(length(text) % 7 + 1 AS BIGINT) AS fake_n_frames
      |FROM documents""".stripMargin

  /** TextStats.frameSample twin: the same center-of-interval integer plan
    * over the multimodal metadata. */
  val frameSample: String =
    s"""WITH m AS (SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS duration_ms,
       |    CAST(length(text) % 7 + 1 AS BIGINT) AS n_frames
       |  FROM documents),
       |f AS (SELECT doc_id, n_frames, duration_ms,
       |    CAST(unnest(range(0, n_frames)) AS BIGINT) AS frame_idx
       |  FROM m)
       |SELECT doc_id, n_frames, frame_idx,
       |  ((2 * frame_idx + 1) * duration_ms) // (2 * n_frames) AS ts_ms
       |FROM f""".stripMargin

  /** TextStats.multimodalBatches twin: the flat per-source window over the
    * same seeded permutation order (engine computes it two-level). */
  val multimodalBatches: String =
    s"""WITH s AS (SELECT doc_id, source,
      |    CAST(length(text) AS BIGINT) AS byte_len,
      |    ${mulModSql("doc_id", 1000000)} AS perm
      |  FROM documents),
      |c AS (SELECT doc_id, source, byte_len,
      |    sum(byte_len) OVER (PARTITION BY source ORDER BY perm, doc_id) AS cum_bytes
      |  FROM s)
      |SELECT doc_id, source, byte_len,
      |  CAST((cum_bytes - byte_len) // 4096 AS BIGINT) AS batch_id
      |FROM c""".stripMargin

  import graft.operators.KnowledgeGraph

  val kgNodes: String =
    s"""SELECT dict.concept_id, dict.tok AS name,
       |  ${KnowledgeGraph.categoryCaseSql("dict.concept_id")} AS category
       |FROM ${ConceptDict.dictValuesSql}""".stripMargin

  /** TRAPI N-Triples twins: same line grammar as
    * KnowledgeGraph.trapiNodeTriples / trapiEdgeTriples. */
  val trapiNodes: String =
    s"""WITH n AS ($kgNodes),
       |u AS (SELECT concept_id, name, category,
       |  '<https://graft.example/id/' || replace(concept_id, ':', '_') || '>' AS uri,
       |  '<https://graft.example/vocab/' || split_part(category, ':', 2) || '>' AS cat_uri
       |FROM n)
       |SELECT concept_id, CAST(t.ord AS BIGINT) AS triple_ord,
       |  CASE t.ord
       |    WHEN 1 THEN uri || ' <https://w3id.org/biolink/vocab/id> "' || concept_id || '"@en .'
       |    WHEN 2 THEN uri || ' <http://www.w3.org/2000/01/rdf-schema#label> "' || name || '"@en .'
       |    ELSE uri || ' <http://www.w3.org/2000/01/rdf-schema#subClassOf> ' || cat_uri || ' .'
       |  END AS line
       |FROM u CROSS JOIN (SELECT unnest(range(1, 4)) AS ord) t""".stripMargin

  val trapiEdges: String =
    s"""WITH e AS (SELECT concept1 AS subject, concept2 AS object, npmi AS npmi0
       |  FROM ($cooccurMetricsDoc)),
       |u AS (SELECT subject, object,
       |  '<_:' || replace(subject, ':', '_') || '__' || replace(object, ':', '_') || '_assoc>' AS assoc,
       |  '<https://graft.example/id/' || replace(subject, ':', '_') || '>' AS subj_uri,
       |  '<https://graft.example/id/' || replace(object, ':', '_') || '>' AS obj_uri,
       |  printf('%.6f', npmi0) AS score
       |FROM e)
       |SELECT subject, object, CAST(t.ord AS BIGINT) AS triple_ord,
       |  CASE t.ord
       |    WHEN 1 THEN assoc || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <https://w3id.org/biolink/vocab/Association> .'
       |    WHEN 2 THEN assoc || ' <https://w3id.org/biolink/vocab/subject> ' || subj_uri || ' .'
       |    WHEN 3 THEN assoc || ' <https://w3id.org/biolink/vocab/predicate> <https://graft.example/vocab/related_to> .'
       |    WHEN 4 THEN assoc || ' <https://w3id.org/biolink/vocab/object> ' || obj_uri || ' .'
       |    ELSE assoc || ' <https://w3id.org/biolink/vocab/score> "' || score || '"^^<http://www.w3.org/2001/XMLSchema#decimal> .'
       |  END AS line
       |FROM u CROSS JOIN (SELECT unnest(range(1, 6)) AS ord) t""".stripMargin

  val kgEdges: String =
    s"""SELECT concept1 AS subject, concept2 AS object,
       |  'graft:related_to' AS predicate,
       |  ${KnowledgeGraph.categoryCaseSql("concept1")} AS subject_category,
       |  ${KnowledgeGraph.categoryCaseSql("concept2")} AS object_category,
       |  pair_count, ngd, npmi
       |FROM (
       |$cooccurMetricsDoc
       |)""".stripMargin

  /** KnowledgeGraph.pageRank twin: the fixed-round damped iteration
    * unrolled into CTE pairs (c_i = incoming micro-units, r_i = new
    * ranks), in the engine's exact integer arithmetic — `//` here is
    * `div` there, both floor on the all-positive values. */
  val kgPagerank: String = {
    val head = docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      """edges AS (
        |  SELECT concept1 AS src, concept2 AS dst FROM pairs
        |  UNION ALL SELECT concept2 AS src, concept1 AS dst FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
        |r0 AS (SELECT src AS concept_id, CAST(1000000 AS BIGINT) AS rank_u FROM deg)""".stripMargin)
    val steps = (1 to KnowledgeGraph.PageRankIters).map { i =>
      s"""c$i AS (SELECT e.dst AS concept_id, CAST(sum(r.rank_u // d.deg) AS BIGINT) AS in_u
         |  FROM edges e JOIN deg d ON d.src = e.src
         |  JOIN r${i - 1} r ON r.concept_id = e.src
         |  GROUP BY 1),
         |r$i AS (SELECT d.src AS concept_id,
         |    CAST(150000 + (85 * coalesce(c.in_u, 0)) // 100 AS BIGINT) AS rank_u
         |  FROM deg d LEFT JOIN c$i c ON c.concept_id = d.src)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    // docPipeline closes the WITH clause with a newline before the final
    // SELECT, so splice the iteration CTEs in via a trailing comma
    head.stripSuffix("\n") + steps +
      s"""SELECT r.concept_id, d.deg AS degree, r.rank_u / 1000000.0 AS pagerank
         |FROM r${KnowledgeGraph.PageRankIters} r JOIN deg d ON d.src = r.concept_id""".stripMargin
  }

  /** KnowledgeGraph.kHopFromPairs twin: BFS layers unrolled — each round min-folds
    * the previous distance table with its one-hop expansion. */
  val kgKhop: String = {
    val head = docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      """edges AS (
        |  SELECT concept1 AS src, concept2 AS dst FROM pairs
        |  UNION ALL SELECT concept2 AS src, concept1 AS dst FROM pairs),
        |d0 AS (SELECT DISTINCT src AS concept_id, CAST(0 AS BIGINT) AS dist
        |  FROM edges WHERE split_part(src, ':', 1) = 'OP')""".stripMargin)
    val steps = (1 to KnowledgeGraph.KHopRounds).map { i =>
      s"""d$i AS (SELECT concept_id, CAST(min(dist) AS BIGINT) AS dist FROM (
         |    SELECT concept_id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS concept_id, x.dist + 1 AS dist
         |    FROM edges e JOIN d${i - 1} x ON x.concept_id = e.src)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n", ",\n", "\n")
    head.stripSuffix("\n") + steps +
      s"SELECT concept_id, dist FROM d${KnowledgeGraph.KHopRounds}"
  }

  /** KnowledgeGraph.triangles twin: ordered-edge wedge join closed by an
    * EXISTS probe, per-node counts by 3-way node unnest. */
  val kgTriangles: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      """e AS (SELECT concept1 AS a, concept2 AS b FROM pairs),
        |w AS (SELECT x.a, x.b, y.b AS c FROM e x JOIN e y ON x.b = y.a),
        |t AS (SELECT w.a, w.b, w.c FROM w
        |  WHERE EXISTS (SELECT 1 FROM e z WHERE z.a = w.a AND z.b = w.c)),
        |pn AS (SELECT concept_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        |    SELECT a AS concept_id FROM t
        |    UNION ALL SELECT b FROM t
        |    UNION ALL SELECT c FROM t) GROUP BY 1),
        |deg AS (SELECT concept_id, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT a AS concept_id FROM e
        |    UNION ALL SELECT b FROM e) GROUP BY 1)""".stripMargin) +
      s"""SELECT d.concept_id, d.degree,
         |  coalesce(p.n_triangles, 0) AS n_triangles,
         |  CASE WHEN d.degree >= 2
         |    THEN floor((2.0 * coalesce(p.n_triangles, 0) / CAST(d.degree * (d.degree - 1) AS DOUBLE)) * 1000000 + 0.5) / 1000000
         |    ELSE 0.0 END AS clustering_coeff
         |FROM deg d LEFT JOIN pn p USING (concept_id)""".stripMargin

  /** KnowledgeGraph.neighborJaccardFromPairs twin: adjacency self-pivot with an
    * EXISTS probe, exact-integer union sizes. */
  val kgJaccard: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      """e AS (SELECT concept1 AS a, concept2 AS b FROM pairs),
        |und AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY 1),
        |cmn AS (SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS common
        |  FROM e JOIN und x ON x.src = e.a
        |  WHERE EXISTS (SELECT 1 FROM und y WHERE y.src = e.b AND y.dst = x.dst)
        |  GROUP BY 1, 2)""".stripMargin) +
      """SELECT e.a AS concept_a, e.b AS concept_b,
        |  coalesce(c.common, 0) AS common_neighbors,
        |  floor((CAST(coalesce(c.common, 0) AS DOUBLE) / CAST(da.deg + db.deg - coalesce(c.common, 0) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS jaccard
        |FROM e
        |LEFT JOIN cmn c ON c.a = e.a AND c.b = e.b
        |JOIN deg da ON da.src = e.a
        |JOIN deg db ON db.src = e.b""".stripMargin

  val ontologyClosure: String =
    s"""WITH RECURSIVE closure(child, parent) AS (
       |  SELECT child, parent FROM ${ConceptDict.directEdgesValuesSql()}
       |  UNION
       |  SELECT c.child, e.parent
       |  FROM closure c JOIN ${ConceptDict.directEdgesValuesSql("e")} ON c.parent = e.child)
       |SELECT child, parent FROM closure""".stripMargin

  // ---------- KGX serialization + ancestor table + label QA ----------

  private val kgxEdgeIdSql =
    s"md5(subject || '|${KnowledgeGraph.KgxEdgeLabel}|' || object || " +
      s"'|${KnowledgeGraph.KgxRelation}|${KnowledgeGraph.KgxAssociationType}')"

  val kgxNodes: String =
    s"""SELECT dict.concept_id AS id, dict.tok AS name,
       |  ${KnowledgeGraph.categoryCaseSql("dict.concept_id")} AS category
       |FROM ${ConceptDict.dictValuesSql}""".stripMargin

  val kgxEdges: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id"))) +
      s"""SELECT concept1 AS subject, '${KnowledgeGraph.KgxEdgeLabel}' AS edge_label,
         |  concept2 AS object, '${KnowledgeGraph.KgxRelation}' AS relation,
         |  md5(concept1 || '|${KnowledgeGraph.KgxEdgeLabel}|' || concept2 ||
         |      '|${KnowledgeGraph.KgxRelation}|${KnowledgeGraph.KgxAssociationType}') AS id,
         |  '${KnowledgeGraph.KgxAssociationType}' AS association_type
         |FROM pairs""".stripMargin

  /** KnowledgeGraph.kgxEdgesEvidence twin: per-doc pair rows from the same
    * ancestor-expanded unit sets, one evidence id per supporting document,
    * pipe-joined in sorted order. */
  val kgxEdgesEvidence: String =
    docPipeline(unitsDocCte,
      """pairs_doc AS (
        |  SELECT l.doc_id, l.concept_id AS subject, r.concept_id AS object
        |  FROM units_doc l JOIN units_doc r
        |    ON l.doc_id = r.doc_id AND l.concept_id < r.concept_id)""".stripMargin,
      s"""ev AS (
         |  SELECT subject, object, $kgxEdgeIdSql AS edge_id,
         |    md5('PMID:' || doc_id || '|' || $kgxEdgeIdSql) AS evidence_id
         |  FROM pairs_doc)""".stripMargin) +
      s"""SELECT subject, '${KnowledgeGraph.KgxEdgeLabel}' AS edge_label, object,
         |  '${KnowledgeGraph.KgxRelation}' AS relation, edge_id AS id,
         |  '${KnowledgeGraph.KgxAssociationType}' AS association_type,
         |  CAST(count(*) AS BIGINT) AS evidence_count,
         |  string_agg(evidence_id, '|' ORDER BY evidence_id) AS has_evidence
         |FROM ev GROUP BY subject, object, edge_id""".stripMargin

  val ancestorTable: String =
    s"""WITH RECURSIVE closure(child, parent) AS (
       |  SELECT child, parent FROM ${ConceptDict.directEdgesValuesSql()}
       |  UNION
       |  SELECT c.child, e.parent
       |  FROM closure c JOIN ${ConceptDict.directEdgesValuesSql("e")} ON c.parent = e.child),
       |cls AS (SELECT concept_id FROM ${ConceptDict.labelValuesSql}
       |  WHERE split_part(concept_id, ':', 1) = 'OP')
       |SELECT concept_id, concept_id AS ancestor_id FROM cls
       |UNION
       |SELECT c.concept_id, cl.parent AS ancestor_id
       |FROM cls c JOIN closure cl ON cl.child = c.concept_id""".stripMargin

  val sentenceIds: String =
    s"SELECT DISTINCT sha256(sent_text) AS sentence_id FROM ($sentences)"

  val labelOverlap: String =
    s"""SELECT label, CAST(count(DISTINCT concept_id) AS BIGINT) AS n_ids,
       |  string_agg(DISTINCT concept_id, '|' ORDER BY concept_id) AS ids
       |FROM ${graft.operators.LabelQa.labelsValuesSql}
       |GROUP BY label HAVING count(DISTINCT concept_id) >= 2""".stripMargin

  val labelEnglishWord: String =
    s"""WITH $tokCte,
       |w0 AS (SELECT DISTINCT doc_id, lower(tok) AS w FROM tok),
       |dfs AS (SELECT w, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM w0 GROUP BY w),
       |flagged AS (
       |  SELECT lbls.concept_id, lbls.label
       |  FROM ${graft.operators.LabelQa.labelsValuesSql}
       |  WHERE lower(lbls.label) IN (
       |    SELECT w FROM ${graft.operators.LabelQa.wordsAlphaValuesSql}))
       |SELECT f.concept_id, f.label, coalesce(d.df, 0) AS df
       |FROM flagged f LEFT JOIN dfs d ON lower(f.label) = d.w""".stripMargin

  // ---------- PMID corpus utilities ----------

  /** XmlIngest.pmidHtmlFlagRoundTrip twin: the mixed corpus puts the
    * sub/sup-marked docs (which always carry a `<b>` in the title) on
    * doc_id%3≠0; the parse-side HTML check resolves to that channel. */
  val pmidHtmlFlag: String =
    """SELECT doc_id, 'PMID:' || doc_id AS pmid,
      |  (doc_id % 3 <> 0) AS contains_html
      |FROM documents""".stripMargin

  /** XmlIngest.pmidToYearRoundTrip twin: each fallback channel carries a
    * channel-offset year, so the resolved value proves WHICH source the
    * chain read (Year +0, MedlineDate regex +1, ArticleDate +2). */
  /** XmlIngest.medlineDownloadManifest twin. */
  val medlineDownloadManifest: String =
    """WITH sets(file_set, min_idx, max_idx) AS
      |  (VALUES ('baseline', 1, 40), ('updatefiles', 41, 50)),
      |idx AS (SELECT file_set, CAST(unnest(range(min_idx, max_idx + 1)) AS BIGINT) AS file_ord
      |  FROM sets),
      |fn AS (
      |  SELECT file_set, file_ord, printf('pubmed25n%04d.xml.gz', file_ord) AS filename FROM idx
      |  UNION ALL
      |  SELECT file_set, file_ord, printf('pubmed25n%04d.xml.gz.md5', file_ord) AS filename FROM idx)
      |SELECT file_set, file_ord, filename,
      |  'ftp://ftp.ncbi.nlm.nih.gov/pubmed/' || file_set || '/' || filename AS url
      |FROM fn""".stripMargin

  val pmidToYear: String =
    """SELECT doc_id, 'PMID:' || doc_id AS pmid,
      |  CAST(1990 + doc_id % 30 + (doc_id % 3) AS VARCHAR) AS year
      |FROM documents""".stripMargin

  // ---------- distant-supervision concept-pair flow ----------

  private val ConceptPairsOps = graft.operators.ConceptPairs

  /** domain pairs + target-predicate positives (ConceptPairs.domainPairs +
    * parsePositivePairs — the URI round trip is curie-identity). */
  private val conceptPairsPosCte: String =
    s"""dp AS (
       |  SELECT concept2 AS subject_curie, concept1 AS object_curie
       |  FROM pairs
       |  WHERE split_part(concept1, ':', 1) = 'DS' AND split_part(concept2, ':', 1) = 'OP'
       |    AND ${Hash60.sql("concept2 || '|' || concept1")} % 2 = 0),
       |pos0 AS (SELECT DISTINCT subject_curie, object_curie,
       |    'biolink:located_in' AS predicate_biolink
       |  FROM dp)""".stripMargin

  val conceptPairsPos: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")), conceptPairsPosCte) +
      "SELECT subject_curie, object_curie, predicate_biolink FROM pos0"

  val conceptPairsNeg: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")), conceptPairsPosCte,
      """subs AS (SELECT DISTINCT subject_curie FROM pos0),
        |objs AS (SELECT DISTINCT object_curie FROM pos0),
        |neg AS (
        |  SELECT s.subject_curie, o.object_curie
        |  FROM subs s CROSS JOIN objs o
        |  WHERE NOT EXISTS (SELECT 1 FROM pos0 p
        |    WHERE p.subject_curie = s.subject_curie AND p.object_curie = o.object_curie)),
        |rnk AS (SELECT subject_curie, object_curie,
        |    row_number() OVER (PARTITION BY subject_curie ORDER BY object_curie) AS rn
        |  FROM neg)""".stripMargin) +
      s"""SELECT subject_curie, CAST((rn - 1) // ${ConceptPairsOps.NegChunkSize} AS BIGINT) AS chunk_id,
         |  CAST(count(*) AS BIGINT) AS n_objects,
         |  string_agg(object_curie, '|' ORDER BY object_curie) AS object_curies,
         |  'false' AS predicate_biolink
         |FROM rnk
         |GROUP BY subject_curie, (rn - 1) // ${ConceptPairsOps.NegChunkSize}""".stripMargin

  /** ConceptPairs.pairSentences twin: the typed-mention classification,
    * the three overlap removals (span identity = token ordinal), the
    * positive/negative pair enumeration, and the in-sentence masking, all
    * as joins over the same mention rows. */
  val conceptPairSentences: String = {
    val exclIn = ConceptPairsOps.IdentifiersToExclude.map(s => s"'$s'").mkString("(", ", ", ")")
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")), conceptPairsPosCte,
      s"""pm AS (
         |  SELECT DISTINCT doc_id, (ord - 1) // $W AS sent_id, ord, concept_id FROM pp
         |  UNION
         |  SELECT DISTINCT p.doc_id, (p.ord - 1) // $W, p.ord, promo.promoted_id
         |  FROM pp p JOIN ${ConceptDict.promotionsValuesSql} ON p.concept_id = promo.concept_id),
         |ment AS (
         |  SELECT doc_id, sent_id, ord, concept_id, split_part(concept_id, ':', 1) AS prefix
         |  FROM pm WHERE concept_id NOT IN $exclIn),
         |insent0 AS (
         |  SELECT DISTINCT p.subject_curie, p.object_curie, p.predicate_biolink,
         |    s.doc_id, s.sent_id
         |  FROM pos0 p
         |  JOIN ment s ON s.concept_id = p.subject_curie
         |  JOIN ment o ON o.doc_id = s.doc_id AND o.sent_id = s.sent_id
         |    AND o.concept_id = p.object_curie),
         |insent AS (
         |  SELECT subject_curie, object_curie, predicate_biolink, doc_id, sent_id
         |  FROM (SELECT *, row_number() OVER (
         |      PARTITION BY subject_curie, object_curie
         |      ORDER BY doc_id, sent_id) AS rn
         |    FROM insent0)
         |  WHERE rn <= ${ConceptPairsOps.MaxSentencesPerPair}),
         |m0 AS (
         |  SELECT i.subject_curie, i.object_curie, i.predicate_biolink,
         |    mm.doc_id, mm.sent_id, mm.ord,
         |    CASE WHEN mm.concept_id = i.subject_curie THEN 'S'
         |         WHEN mm.concept_id = i.object_curie THEN 'O'
         |         WHEN mm.prefix = split_part(i.subject_curie, ':', 1) THEN 'ST'
         |         WHEN mm.prefix = split_part(i.object_curie, ':', 1) THEN 'OT' END AS mtype
         |  FROM insent i JOIN ment mm
         |    ON mm.doc_id = i.doc_id AND mm.sent_id = i.sent_id),
         |m AS (SELECT * FROM m0 WHERE mtype IS NOT NULL),
         |so AS (SELECT * FROM m WHERE mtype IN ('S', 'O')),
         |st1 AS (SELECT * FROM m a WHERE mtype = 'ST' AND NOT EXISTS (
         |  SELECT 1 FROM so b WHERE b.subject_curie = a.subject_curie
         |    AND b.object_curie = a.object_curie AND b.doc_id = a.doc_id
         |    AND b.sent_id = a.sent_id AND b.ord = a.ord)),
         |ot1 AS (SELECT * FROM m a WHERE mtype = 'OT' AND NOT EXISTS (
         |  SELECT 1 FROM so b WHERE b.subject_curie = a.subject_curie
         |    AND b.object_curie = a.object_curie AND b.doc_id = a.doc_id
         |    AND b.sent_id = a.sent_id AND b.ord = a.ord)),
         |st2 AS (SELECT * FROM st1 a WHERE NOT EXISTS (
         |  SELECT 1 FROM ot1 b WHERE b.subject_curie = a.subject_curie
         |    AND b.object_curie = a.object_curie AND b.doc_id = a.doc_id
         |    AND b.sent_id = a.sent_id AND b.ord = a.ord)),
         |sfin AS (SELECT * FROM m a WHERE mtype = 'S' AND NOT EXISTS (
         |  SELECT 1 FROM m b WHERE b.mtype = 'O' AND b.subject_curie = a.subject_curie
         |    AND b.object_curie = a.object_curie AND b.doc_id = a.doc_id
         |    AND b.sent_id = a.sent_id AND b.ord = a.ord)),
         |ofin AS (SELECT * FROM m WHERE mtype = 'O'),
         |pospairs AS (
         |  SELECT s.subject_curie, s.object_curie, s.doc_id, s.sent_id,
         |    s.ord AS subj_ord, o.ord AS obj_ord, s.predicate_biolink AS label
         |  FROM sfin s JOIN ofin o ON o.subject_curie = s.subject_curie
         |    AND o.object_curie = s.object_curie AND o.doc_id = s.doc_id
         |    AND o.sent_id = s.sent_id),
         |negsub AS (
         |  SELECT DISTINCT subject_curie, object_curie, doc_id, sent_id, ord FROM sfin
         |  UNION SELECT DISTINCT subject_curie, object_curie, doc_id, sent_id, ord FROM st2),
         |negobj AS (
         |  SELECT DISTINCT subject_curie, object_curie, doc_id, sent_id, ord FROM ofin
         |  UNION SELECT DISTINCT subject_curie, object_curie, doc_id, sent_id, ord FROM ot1),
         |posset AS (
         |  SELECT DISTINCT subject_curie, object_curie, doc_id, sent_id, ord FROM sfin
         |  UNION SELECT DISTINCT subject_curie, object_curie, doc_id, sent_id, ord FROM ofin),
         |negpairs AS (
         |  SELECT s.subject_curie, s.object_curie, s.doc_id, s.sent_id,
         |    s.ord AS subj_ord, o.ord AS obj_ord, 'false' AS label
         |  FROM negsub s JOIN negobj o ON o.subject_curie = s.subject_curie
         |    AND o.object_curie = s.object_curie AND o.doc_id = s.doc_id
         |    AND o.sent_id = s.sent_id
         |  WHERE NOT (EXISTS (SELECT 1 FROM posset p WHERE p.subject_curie = s.subject_curie
         |      AND p.object_curie = s.object_curie AND p.doc_id = s.doc_id
         |      AND p.sent_id = s.sent_id AND p.ord = s.ord)
         |    AND EXISTS (SELECT 1 FROM posset p WHERE p.subject_curie = s.subject_curie
         |      AND p.object_curie = s.object_curie AND p.doc_id = s.doc_id
         |      AND p.sent_id = s.sent_id AND p.ord = o.ord))),
         |allpairs AS (SELECT * FROM pospairs UNION ALL SELECT * FROM negpairs)""".stripMargin) +
      s"""SELECT DISTINCT a.subject_curie, a.object_curie, a.doc_id, a.sent_id, a.label,
         |  string_agg(CASE WHEN t.ord = a.subj_ord THEN '${ConceptPairsOps.SubjectPlaceholder}'
         |      WHEN t.ord = a.obj_ord THEN '${ConceptPairsOps.ObjectPlaceholder}'
         |      ELSE t.tok END, ' ' ORDER BY t.ord) AS masked
         |FROM allpairs a JOIN tok t
         |  ON t.doc_id = a.doc_id AND (t.ord - 1) // $W = a.sent_id
         |GROUP BY a.subject_curie, a.object_curie, a.doc_id, a.sent_id,
         |  a.subj_ord, a.obj_ord, a.label""".stripMargin
  }

  // ---------- Percha-Altman bicluster flow ----------

  private val BiclusterOps = graft.operators.Bicluster

  /** OP×DS dependency-path universe + per-(path, theme) flagship rule —
    * Bicluster.paths / scoreU. */
  private val biclusterPathCtes: String =
    s"""bpaths AS (
       |  SELECT DISTINCT lower(concept2 || '|rel|' || concept1) AS path
       |  FROM pairs
       |  WHERE split_part(concept1, ':', 1) = 'DS' AND split_part(concept2, ':', 1) = 'OP'),
       |pth AS (
       |  SELECT b.path, th.sym, th.theme,
       |    ${Hash60.sql("b.path || '|' || th.sym")} % 1000 AS h
       |  FROM bpaths b CROSS JOIN ${BiclusterOps.themesValuesSql})""".stripMargin

  val biclusterPaths: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")), biclusterPathCtes) +
      """SELECT path, theme, CAST(h AS DOUBLE) / 1000.0 AS score
        |FROM pth WHERE h % 5 = 0""".stripMargin

  /** part-ii instance rows (lowest-ordinal OP/DS mention per sentence)
    * joined to their path's flagship themes. */
  private val biclusterInstCtes: String =
    s"""bm AS (
       |  SELECT doc_id, (ord - 1) // $W AS sent_id, ord, tok, concept_id,
       |    split_part(concept_id, ':', 1) AS prefix
       |  FROM pp),
       |e1 AS (SELECT doc_id, sent_id, tok, concept_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id, sent_id ORDER BY ord) AS rn
       |    FROM bm WHERE prefix = 'OP') WHERE rn = 1),
       |e2 AS (SELECT doc_id, sent_id, tok, concept_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY doc_id, sent_id ORDER BY ord) AS rn
       |    FROM bm WHERE prefix = 'DS') WHERE rn = 1),
       |sents AS (
       |  SELECT doc_id, (ord - 1) // $W AS sent_id,
       |    string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok GROUP BY 1, 2),
       |binst AS (
       |  SELECT p.theme, e1.doc_id AS pmid, e1.sent_id AS sentence_num,
       |    e1.tok AS entity1_name, e2.tok AS entity2_name,
       |    'OPERATION' AS entity1_type, 'DATASHAPE' AS entity2_type,
       |    lower(e1.concept_id || '|rel|' || e2.concept_id) AS dep_path,
       |    s.sent_text || ' -LRB- ref -RRB- , end .' AS tokenized_sentence
       |  FROM e1 JOIN e2 ON e1.doc_id = e2.doc_id AND e1.sent_id = e2.sent_id
       |  JOIN sents s ON s.doc_id = e1.doc_id AND s.sent_id = e1.sent_id
       |  JOIN (SELECT path, theme FROM pth WHERE h % 5 = 0) p
       |    ON p.path = lower(e1.concept_id || '|rel|' || e2.concept_id))""".stripMargin

  val biclusterSentences: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      biclusterPathCtes, biclusterInstCtes) +
      """SELECT theme, pmid, sentence_num, entity1_name, entity2_name,
        |  entity1_type, entity2_type, dep_path, tokenized_sentence
        |FROM binst""".stripMargin

  val biclusterBert: String = {
    val themesIn = BiclusterOps.BertThemes.map(t => s"'$t'").mkString("(", ", ", ")")
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      biclusterPathCtes, biclusterInstCtes,
      s"""b1 AS (
         |  SELECT theme, entity1_name, entity2_name, entity1_type, entity2_type,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      tokenized_sentence,
         |      '-LRB- ', '(', 'g'), '-LSB- ', '[', 'g'), ' -RRB-', ')', 'g'),
         |      ' -RSB-', ']', 'g'), ' ,', ',', 'g'), ' \\.', '.', 'g') AS detok
         |  FROM binst WHERE theme IN $themesIn),
         |b2 AS (
         |  SELECT theme, entity2_name, entity2_type,
         |    CASE WHEN strpos(detok, entity1_name) > 0 THEN
         |      substr(detok, 1, strpos(detok, entity1_name) - 1) ||
         |      '@' || upper(entity1_type) || '$$' ||
         |      substr(detok, strpos(detok, entity1_name) + length(entity1_name))
         |    ELSE detok END AS s1
         |  FROM b1),
         |b3 AS (
         |  SELECT lower(theme) AS label0,
         |    CASE WHEN strpos(s1, entity2_name) > 0 THEN
         |      substr(s1, 1, strpos(s1, entity2_name) - 1) ||
         |      '@' || upper(entity2_type) || '$$' ||
         |      substr(s1, strpos(s1, entity2_name) + length(entity2_name))
         |    ELSE s1 END AS sentence
         |  FROM b2)""".stripMargin) +
      """SELECT md5(sentence) AS sentence_id, sentence, min(label0) AS label
        |FROM b3 GROUP BY 1, 2""".stripMargin
  }

  /** LabelQa.labelFilterByEmbedding twin: md5-keyed label→vector pick,
    * micro-unit centroid (truncating integer division matches Spark's
    * `div`), exact integer dot/norm sums, one rounded division. */
  val labelFilterEmbedding: String =
    s"""WITH lbls0 AS (
       |  SELECT DISTINCT concept_id, label FROM ${graft.operators.LabelQa.labelsValuesSql}),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM embeddings),
       |keyed AS (SELECT concept_id, label, ${Hash60.sql("label")} % n_vecs AS vec_id
       |  FROM lbls0 CROSS JOIN n),
       |ex AS (SELECT k.concept_id, k.label,
       |    CAST(unnest(range(0, len(e.embedding))) AS BIGINT) AS dim,
       |    CAST(floor(unnest(CAST(e.embedding AS DOUBLE[])) * ${graft.operators.LabelQa.EmbedScale} + 0.5) AS BIGINT) AS e_u
       |  FROM keyed k JOIN embeddings e ON k.vec_id = e.vec_id),
       |cent AS (SELECT dim, sum(e_u) // CAST(count(*) AS BIGINT) AS c_u FROM ex
       |  WHERE split_part(concept_id, ':', 1) = 'OP' GROUP BY dim),
       |sc AS (SELECT concept_id, label,
       |    sum(e_u * c_u) AS dot_u, sum(e_u * e_u) AS n1_u, sum(c_u * c_u) AS n2_u
       |  FROM ex JOIN cent USING (dim) GROUP BY 1, 2),
       |res AS (SELECT concept_id, label,
       |    floor(CAST(dot_u AS DOUBLE) / (sqrt(CAST(n1_u AS DOUBLE)) * sqrt(CAST(n2_u AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS cosine
       |  FROM sc)
       |SELECT concept_id, label, cosine,
       |  cosine < ${graft.operators.LabelQa.BadLabelCosine} AS possible_bad
       |FROM res""".stripMargin

  val eventsQuantiles: String =
    """SELECT event_type,
      |  floor((quantile_cont(value, 0.5)) * 1000000 + 0.5) / 1000000 AS p50,
      |  floor((quantile_cont(value, 0.9)) * 1000000 + 0.5) / 1000000 AS p90,
      |  floor((quantile_cont(value, 0.99)) * 1000000 + 0.5) / 1000000 AS p99,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY event_type""".stripMargin

  val topPartsPerBrand: String =
    """SELECT p_brand, rk, p_partkey, p_name, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_name, p_retailprice,
      |    CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rk
      |  FROM part)
      |WHERE rk <= 3""".stripMargin

  val topPartsAgg: String =
    """SELECT p_brand, rk, p_partkey, p_retailprice FROM (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |    CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rk
      |  FROM part)
      |WHERE rk <= 3""".stripMargin

  val conceptsPromoted: String =
    docPipeline() +
      s"""SELECT p.doc_id, coalesce(promo.promoted_id, p.concept_id) AS concept_id,
         |  p.ord, p.tok, p.char_start, p.char_end
         |FROM pp p LEFT JOIN ${ConceptDict.promotionsValuesSql} ON p.concept_id = promo.concept_id""".stripMargin

  val textRedact: String =
    """SELECT event_id, props,
      |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS props_redacted
      |FROM events""".stripMargin

  val eventsProps: String =
    """SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_value
      |FROM events""".stripMargin

  val textNormalize: String =
    s"""SELECT doc_id,
       |  strip_accents(lower(nfc_normalize(text || '${TextStats.NormProbe}'))) AS norm_text
       |FROM documents""".stripMargin

  val hashingTfSql: String =
    s"""WITH $tokCte
       |SELECT doc_id, ${Hash60.sql("tok")} % 1024 AS bucket,
       |  CAST(count(*) AS BIGINT) AS tf
       |FROM tok GROUP BY 1, 2""".stripMargin

  val vocabStats: String =
    s"""WITH $tokCte
       |SELECT tok, CAST(count(*) AS BIGINT) AS n_occurrences,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
       |FROM tok GROUP BY tok""".stripMargin

  val unigramLogprob: String =
    s"""WITH $tokCte,
       |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
       |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  floor(avg(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS avg_logprob
       |FROM tok JOIN c USING (tok) CROSS JOIN t
       |GROUP BY doc_id""".stripMargin

  /** TextStats.bigramLogprob twin: λ and 1.0−λ written as the same in-plan
    * arithmetic (never a pre-rounded 0.3 literal — 1.0−0.7 ≠ 0.3 in
    * binary). */
  val bigramLogprob: String =
    s"""WITH $tokCte,
       |bg0 AS (SELECT doc_id, tok AS w1,
       |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS w2 FROM tok),
       |b AS (SELECT doc_id, w1, w2 FROM bg0 WHERE w2 IS NOT NULL),
       |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS bcnt FROM b GROUP BY 1, 2),
       |lc AS (SELECT w1, CAST(sum(bcnt) AS BIGINT) AS lcnt FROM bc GROUP BY 1),
       |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS ucnt FROM tok GROUP BY 1),
       |ut AS (SELECT CAST(sum(ucnt) AS BIGINT) AS utotal FROM uc)
       |SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  floor(avg(ln(0.7 * CAST(bcnt AS DOUBLE) / CAST(lcnt AS DOUBLE)
       |    + (1.0 - 0.7) * CAST(ucnt AS DOUBLE) / CAST(utotal AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS avg_logprob
       |FROM b
       |JOIN bc USING (w1, w2)
       |JOIN lc USING (w1)
       |JOIN uc ON uc.tok = b.w2
       |CROSS JOIN ut
       |GROUP BY 1""".stripMargin

  val ngramCounts: String =
    s"""WITH $tokCte,
       |bg AS (SELECT doc_id, tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS bigram FROM tok)
       |SELECT bigram, CAST(count(*) AS BIGINT) AS n
       |FROM bg WHERE bigram IS NOT NULL
       |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin

  val docSample: String =
    s"""SELECT doc_id, lang, source FROM documents
      |WHERE ${mulModSql("doc_id", 1000)} < 100""".stripMargin

  val decontaminate: String =
    s"""WITH $tokCte,
       |db0 AS (SELECT doc_id, tok, lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS t2 FROM tok),
       |db AS (SELECT DISTINCT doc_id, tok || ' ' || t2 AS bigram FROM db0 WHERE t2 IS NOT NULL),
       |ev AS (SELECT doc_id AS eval_id, string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok WHERE (ord - 1) // $W = 0 AND doc_id % 50 = 0 GROUP BY doc_id),
       |et AS (SELECT eval_id,
       |    unnest(string_split(sent_text, ' ')) AS tok,
       |    CAST(unnest(range(1, len(string_split(sent_text, ' ')) + 1)) AS BIGINT) AS pos
       |  FROM ev),
       |eb0 AS (SELECT eval_id, tok, lead(tok, 1) OVER (PARTITION BY eval_id ORDER BY pos) AS t2 FROM et),
       |eb AS (SELECT DISTINCT tok || ' ' || t2 AS bigram FROM eb0 WHERE t2 IS NOT NULL)
       |SELECT db.doc_id, CAST(count(*) AS BIGINT) AS n_overlapping_bigrams
       |FROM db JOIN eb USING (bigram) GROUP BY 1""".stripMargin

  /** TextStats.contaminationReportFromBigrams twin: decontaminate's CTEs plus the
    * per-doc denominator and a clean-docs-preserving left join. */
  val contaminationReport: String =
    s"""WITH $tokCte,
       |db0 AS (SELECT doc_id, tok, lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS t2 FROM tok),
       |db AS (SELECT DISTINCT doc_id, tok || ' ' || t2 AS bigram FROM db0 WHERE t2 IS NOT NULL),
       |ev AS (SELECT doc_id AS eval_id, string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok WHERE (ord - 1) // $W = 0 AND doc_id % 50 = 0 GROUP BY doc_id),
       |et AS (SELECT eval_id,
       |    unnest(string_split(sent_text, ' ')) AS tok,
       |    CAST(unnest(range(1, len(string_split(sent_text, ' ')) + 1)) AS BIGINT) AS pos
       |  FROM ev),
       |eb0 AS (SELECT eval_id, tok, lead(tok, 1) OVER (PARTITION BY eval_id ORDER BY pos) AS t2 FROM et),
       |eb AS (SELECT DISTINCT tok || ' ' || t2 AS bigram FROM eb0 WHERE t2 IS NOT NULL),
       |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams FROM db GROUP BY 1),
       |hit AS (SELECT db.doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM db JOIN eb USING (bigram) GROUP BY 1)
       |SELECT cnt.doc_id, cnt.n_bigrams,
       |  coalesce(hit.n_hits, 0) AS n_overlapping_bigrams,
       |  floor((CAST(coalesce(hit.n_hits, 0) AS DOUBLE) / CAST(cnt.n_bigrams AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS overlap_fraction
       |FROM cnt LEFT JOIN hit ON cnt.doc_id = hit.doc_id""".stripMargin

  val tokenPacking: String =
    s"""WITH $tokCte,
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id, CAST(count(*) AS BIGINT) AS n_tokens
       |  FROM tok GROUP BY 1, 2),
       |c AS (SELECT doc_id, sent_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY doc_id ORDER BY sent_id) AS BIGINT) AS cum
       |  FROM sent)
       |SELECT doc_id, sent_id, n_tokens, (cum - n_tokens) // 64 AS pack_id FROM c""".stripMargin

  val windowDup: String = {
    val leads = (1 to 7).map(i =>
      s"lead(tok, $i) OVER (PARTITION BY doc_id ORDER BY ord) AS t$i").mkString(", ")
    val cat = "tok" + (1 to 7).map(i => s" || ' ' || t$i").mkString
    s"""WITH $tokCte,
       |wl AS (SELECT doc_id, tok, $leads FROM tok),
       |wstr AS (SELECT doc_id, $cat AS wtext FROM wl WHERE t7 IS NOT NULL),
       |ws AS (SELECT DISTINCT doc_id, ${Hash60.sql("wtext")} % ${Dedup.MinhashP} AS wid FROM wstr),
       |keep AS (SELECT wid FROM ws GROUP BY wid HAVING count(*) BETWEEN 2 AND 20),
       |k AS (SELECT ws.doc_id, ws.wid FROM ws JOIN keep USING (wid))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
       |FROM k a JOIN k b ON a.wid = b.wid AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin
  }

  /** Dedup.windowDedupApply twin: positioned window occurrences, canonical
    * min-(doc,pos) per duplicated window, covered-ord deletion, ord-order
    * reassembly (fully-deleted docs survive as empty rows). */
  val windowDedupApply: String = {
    val leads = (1 to 7).map(i =>
      s"lead(tok, $i) OVER (PARTITION BY doc_id ORDER BY ord) AS t$i").mkString(", ")
    val cat = "tok" + (1 to 7).map(i => s" || ' ' || t$i").mkString
    s"""WITH $tokCte,
       |wl AS (SELECT doc_id, ord, tok, $leads FROM tok),
       |wstr AS (SELECT doc_id, ord AS start_ord, $cat AS wtext FROM wl WHERE t7 IS NOT NULL),
       |ws AS (SELECT doc_id, start_ord, ${Hash60.sql("wtext")} % ${Dedup.MinhashP} AS wid FROM wstr),
       |g AS (SELECT wid, min({'d': doc_id, 's': start_ord}) AS mn
       |  FROM ws GROUP BY wid HAVING count(*) >= 2 AND count(DISTINCT doc_id) <= 20),
       |del AS (SELECT DISTINCT w.doc_id, w.start_ord + u.i AS ord
       |  FROM ws w JOIN g USING (wid), unnest(generate_series(0, 7)) AS u(i)
       |  WHERE NOT (g.mn.d = w.doc_id AND g.mn.s = w.start_ord)),
       |kept AS (SELECT t.doc_id, t.ord, t.tok FROM tok t
       |  WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.doc_id = t.doc_id AND del.ord = t.ord)),
       |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY ord) AS clean_text,
       |    CAST(count(*) AS BIGINT) AS n_tokens_kept FROM kept GROUP BY 1),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1)
       |SELECT tot.doc_id, coalesce(ka.clean_text, '') AS clean_text,
       |  CAST(coalesce(ka.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
       |  CAST(tot.n_tokens - coalesce(ka.n_tokens_kept, 0) AS BIGINT) AS n_tokens_removed
       |FROM tot LEFT JOIN ka USING (doc_id)""".stripMargin
  }

  /** Dedup.splitLeakageFrom twin: same Hash60 window ids, EXISTS probe. */
  val splitLeakage: String = {
    val leads = (1 to 7).map(i =>
      s"lead(tok, $i) OVER (PARTITION BY doc_id ORDER BY ord) AS t$i").mkString(", ")
    val cat = "tok" + (1 to 7).map(i => s" || ' ' || t$i").mkString
    s"""WITH $tokCte,
       |wl AS (SELECT doc_id, tok, $leads FROM tok),
       |wstr AS (SELECT doc_id, $cat AS wtext FROM wl WHERE t7 IS NOT NULL),
       |ws AS (SELECT DISTINCT doc_id, ${Hash60.sql("wtext")} % ${Dedup.MinhashP} AS wid FROM wstr),
       |ev AS (SELECT doc_id, wid FROM ws WHERE doc_id % 10 = 0),
       |tr AS (SELECT DISTINCT wid FROM ws WHERE doc_id % 10 <> 0),
       |lk AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_leaked
       |  FROM ev e WHERE EXISTS (SELECT 1 FROM tr WHERE tr.wid = e.wid) GROUP BY 1),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM ev GROUP BY 1)
       |SELECT t.doc_id, t.n_shingles,
       |  CAST(coalesce(l.n_leaked, 0) AS BIGINT) AS n_leaked,
       |  floor((CAST(coalesce(l.n_leaked, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS leak_fraction,
       |  coalesce(l.n_leaked, 0) > 0 AS leaked
       |FROM tot t LEFT JOIN lk l USING (doc_id)""".stripMargin
  }

  val semanticDedup: String =
    s"""WITH ex AS (SELECT vec_id,
       |    CAST(unnest(range(0, len(embedding))) AS BIGINT) AS dim,
       |    unnest(CAST(embedding AS DOUBLE[])) AS e
       |  FROM embeddings),
       |s AS (SELECT vec_id, cen.cell, sum(e * cen.w) AS dot, sum(e * e) AS n2,
       |    sum(CAST(cen.w AS DOUBLE) * CAST(cen.w AS DOUBLE)) AS c2
       |  FROM ex JOIN $centroidsSql ON ex.dim = cen.dim GROUP BY 1, 2),
       |r AS (SELECT vec_id, cell,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |      ORDER BY floor((dot / (sqrt(n2) * sqrt(c2))) * 1000000 + 0.5) / 1000000 DESC, cell) AS BIGINT) AS rnk
       |  FROM s),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |m AS (SELECT r.vec_id, r.cell, v.ve FROM r JOIN v USING (vec_id) WHERE r.rnk = 1),
       |dropped AS (SELECT DISTINCT b.vec_id
       |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE floor((list_dot_product(a.ve, b.ve) / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve)))) * 1000000 + 0.5) / 1000000 >= 0.35)
       |SELECT m.vec_id, m.cell, COALESCE(d.vec_id IS NOT NULL, FALSE) AS is_dup
       |FROM m LEFT JOIN dropped d ON m.vec_id = d.vec_id""".stripMargin

  val corpusMix: String =
    s"""WITH wtd AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    1 + CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) % 4 AS w
       |  FROM documents),
       |tw AS (SELECT CAST(sum(sw) AS BIGINT) AS w_total
       |  FROM (SELECT source, min(w) AS sw FROM wtd GROUP BY source) t),
       |cum AS (SELECT doc_id, source, n_tokens, w,
       |    CAST(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY ${mulModSql("doc_id", 1000000)}, doc_id) AS BIGINT) AS cum_tokens
       |  FROM wtd)
       |SELECT doc_id, source, n_tokens, cum_tokens
       |FROM cum, tw WHERE cum_tokens <= (20000 * w) // w_total""".stripMargin

  val annotAgreement: String =
    docPipeline(
      """crf AS (SELECT doc_id, char_start, char_end FROM tok
        |  WHERE regexp_matches(tok, '^(customer|part|order|line|spark)')),
        |sy AS (SELECT DISTINCT doc_id, char_start, char_end FROM pp),
        |gd AS (SELECT DISTINCT doc_id, char_start, char_end FROM crf),
        |fj AS (SELECT COALESCE(sy.doc_id, gd.doc_id) AS doc_id,
        |    sy.doc_id IS NOT NULL AS in_s, gd.doc_id IS NOT NULL AS in_g
        |  FROM sy FULL OUTER JOIN gd ON sy.doc_id = gd.doc_id
        |    AND sy.char_start = gd.char_start AND sy.char_end = gd.char_end),
        |agg AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN in_s AND in_g THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN in_s AND NOT in_g THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN NOT in_s AND in_g THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM fj GROUP BY doc_id),
        |pr AS (SELECT doc_id, tp, fp, fn,
        |    CASE WHEN tp + fp = 0 THEN 0.0
        |      ELSE floor((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) * 1000000 + 0.5) / 1000000 END AS prec,
        |    CASE WHEN tp + fn = 0 THEN 0.0
        |      ELSE floor((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) * 1000000 + 0.5) / 1000000 END AS rec
        |  FROM agg)""".stripMargin) +
      s"""SELECT doc_id, tp, fp, fn, prec AS "precision", rec AS recall,
         |  CASE WHEN prec + rec = 0.0 THEN 0.0
         |    ELSE floor((2.0 * prec * rec / (prec + rec)) * 1000000 + 0.5) / 1000000 END AS f1
         |FROM pr""".stripMargin

  /** Token-level Cohen's kappa between pp (system) and the CRF stand-in
    * (gold). po/pe derive from exact integer tallies; kappa is computed
    * from the UNROUNDED po/pe (the displayed columns round separately),
    * mirroring the Spark expression structure. */
  val annotKappa: String =
    docPipeline(
      """crf AS (SELECT doc_id, char_start, char_end FROM tok
        |  WHERE regexp_matches(tok, '^(customer|part|order|line|spark)')),
        |ann AS (
        |  SELECT doc_id, char_start AS a_start, char_end AS a_end, 1 AS sf, 0 AS gf FROM pp
        |  UNION ALL
        |  SELECT doc_id, char_start, char_end, 0, 1 FROM crf),
        |ktk AS (
        |  SELECT t.doc_id, t.ord,
        |    CAST(max(CASE WHEN t.char_start >= a.a_start AND t.char_end <= a.a_end THEN a.sf ELSE 0 END) AS BIGINT) AS in_s,
        |    CAST(max(CASE WHEN t.char_start >= a.a_start AND t.char_end <= a.a_end THEN a.gf ELSE 0 END) AS BIGINT) AS in_g
        |  FROM tok t LEFT JOIN ann a ON t.doc_id = a.doc_id
        |  GROUP BY 1, 2),
        |kag AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN in_s = in_g THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
        |    CAST(sum(in_s) AS BIGINT) AS s_pos, CAST(sum(in_g) AS BIGINT) AS g_pos
        |  FROM ktk GROUP BY 1),
        |kpr AS (
        |  SELECT doc_id, n_tokens, n_agree, s_pos, g_pos,
        |    CAST(n_agree AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS po,
        |    CAST(s_pos * g_pos + (n_tokens - s_pos) * (n_tokens - g_pos) AS DOUBLE)
        |      / CAST(n_tokens * n_tokens AS DOUBLE) AS pe
        |  FROM kag)""".stripMargin) +
      """SELECT doc_id, n_tokens, n_agree, s_pos, g_pos,
        |  floor(po * 1000000 + 0.5) / 1000000 AS po,
        |  floor(pe * 1000000 + 0.5) / 1000000 AS pe,
        |  CASE WHEN pe = 1.0 THEN 0.0
        |    ELSE floor(((po - pe) / (1.0 - pe)) * 1000000 + 0.5) / 1000000 END AS kappa
        |FROM kpr""".stripMargin

  val decontaminateFuzzy: String =
    s"""WITH $tokCte,
       |sh0 AS (SELECT doc_id, ord, tok,
       |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS t2,
       |    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS t3
       |  FROM tok),
       |sh AS (SELECT doc_id, tok || ' ' || t2 || ' ' || t3 AS shingle FROM sh0 WHERE t3 IS NOT NULL),
       |ss AS (SELECT DISTINCT doc_id, ${Hash60.sql("shingle")} % ${Dedup.MinhashP} AS sid FROM sh),
       |etok AS (SELECT doc_id, ord, tok FROM tok
       |  WHERE doc_id % 50 = 0 AND ord <= $W),
       |esh0 AS (SELECT doc_id, ord, tok,
       |    lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS t2,
       |    lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS t3
       |  FROM etok),
       |esh AS (SELECT doc_id, tok || ' ' || t2 || ' ' || t3 AS shingle FROM esh0 WHERE t3 IS NOT NULL),
       |ess AS (SELECT DISTINCT doc_id AS eval_id, ${Hash60.sql("shingle")} % ${Dedup.MinhashP} AS sid FROM esh),
       |inter AS (SELECT d.doc_id, e.eval_id, CAST(count(*) AS BIGINT) AS i
       |  FROM ss d JOIN ess e ON d.sid = e.sid GROUP BY 1, 2),
       |esize AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS ne FROM ess GROUP BY 1)
       |SELECT doc_id, eval_id,
       |  floor((CAST(i AS DOUBLE) / CAST(ne AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS containment
       |FROM inter JOIN esize USING (eval_id)
       |WHERE floor((CAST(i AS DOUBLE) / CAST(ne AS DOUBLE)) * 1000000 + 0.5) / 1000000 >= 0.8""".stripMargin

  val dsirWeights: String =
    s"""WITH $tokCte,
       |st AS (SELECT t.doc_id, t.tok,
       |    d.source IN ('src0', 'src1', 'src2', 'src3', 'src4') AS in_target
       |  FROM tok t JOIN documents d ON t.doc_id = d.doc_id),
       |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS cb,
       |    CAST(sum(CASE WHEN in_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
       |  FROM st GROUP BY tok),
       |tot AS (SELECT CAST(sum(cb) AS BIGINT) AS nb, CAST(sum(ct) AS BIGINT) AS nt,
       |    CAST(count(*) AS BIGINT) AS v FROM lm)
       |SELECT st.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  floor(avg(ln(CAST(lm.ct + 1 AS DOUBLE) / CAST(tot.nt + tot.v AS DOUBLE)) -
       |            ln(CAST(lm.cb + 1 AS DOUBLE) / CAST(tot.nb + tot.v AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS avg_llr
       |FROM st JOIN lm USING (tok) CROSS JOIN tot
       |GROUP BY st.doc_id""".stripMargin

  val qualityCut: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |    CAST($stopCountSql AS BIGINT) AS n_stop
       |  FROM documents),
       |q AS (SELECT doc_id,
       |    floor((least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
       |      * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |      * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS quality
       |  FROM f),
       |thr AS (SELECT floor(quantile_cont(quality, 0.75) * 1000000 + 0.5) / 1000000 AS threshold FROM q)
       |SELECT doc_id, quality, threshold FROM q, thr WHERE quality >= threshold""".stripMargin

  /** Quality-ranked per-source cap: rank on (rounded quality desc, doc_id)
    * within source — deterministic because the compare is over the rounded
    * value, never raw float sums. */
  val sourceCaps: String =
    s"""WITH f AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
       |    CAST($stopCountSql AS BIGINT) AS n_stop
       |  FROM documents),
       |q AS (SELECT doc_id, source,
       |    floor((least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
       |      * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
       |      * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS quality
       |  FROM f)
       |SELECT doc_id, source, quality,
       |  CAST(row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS BIGINT) AS source_rank,
       |  row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) <= 100 AS keep
       |FROM q""".stripMargin

  /** Power-of-two length histogram; the bucket is bit length − 1 in BOTH
    * engines (integer ≡ floor(log2), no float log ratio at the boundary). */
  val lengthHistogram: String =
    """WITH t AS (
      |  SELECT CAST(ceil(n_chars / 4.0) AS BIGINT) AS approx_bpe_tokens
      |  FROM documents)
      |SELECT CAST(length(bin(approx_bpe_tokens)) - 1 AS BIGINT) AS len_bucket,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(approx_bpe_tokens) AS BIGINT) AS n_tokens,
      |  floor((CAST(sum(approx_bpe_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS mean_tokens
      |FROM t GROUP BY 1""".stripMargin

  /** CUBE ≡ the four grouping sets; grp = grouping(source)*2+grouping(lang). */
  val corpusCube: String =
    """SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
      |  CAST(GROUPING(source) * 2 + GROUPING(lang) AS BIGINT) AS grp,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars
      |FROM documents GROUP BY CUBE(source, lang)""".stripMargin

  /** One aggregate row unpivoted to a row per profiled column; min/max
    * compare typed, stringify after. */
  val tableProfile: String =
    """WITH a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS doc_id_nulls,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_id_distinct,
      |    CAST(min(doc_id) AS VARCHAR) AS doc_id_min, CAST(max(doc_id) AS VARCHAR) AS doc_id_max,
      |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS lang_nulls,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS lang_distinct,
      |    CAST(min(lang) AS VARCHAR) AS lang_min, CAST(max(lang) AS VARCHAR) AS lang_max,
      |    CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS source_nulls,
      |    CAST(count(DISTINCT source) AS BIGINT) AS source_distinct,
      |    CAST(min(source) AS VARCHAR) AS source_min, CAST(max(source) AS VARCHAR) AS source_max,
      |    CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_nulls,
      |    CAST(count(DISTINCT n_chars) AS BIGINT) AS n_chars_distinct,
      |    CAST(min(n_chars) AS VARCHAR) AS n_chars_min, CAST(max(n_chars) AS VARCHAR) AS n_chars_max
      |  FROM documents)
      |SELECT 'doc_id' AS column_name, n_rows, doc_id_nulls AS n_nulls, doc_id_distinct AS n_distinct, doc_id_min AS min_s, doc_id_max AS max_s FROM a
      |UNION ALL SELECT 'lang', n_rows, lang_nulls, lang_distinct, lang_min, lang_max FROM a
      |UNION ALL SELECT 'source', n_rows, source_nulls, source_distinct, source_min, source_max FROM a
      |UNION ALL SELECT 'n_chars', n_rows, n_chars_nulls, n_chars_distinct, n_chars_min, n_chars_max FROM a""".stripMargin

  /** ngramJaccard's confirmed pairs rolled up per unordered source pair;
    * mean Jaccard via exact integer micro-units. */
  val sourceOverlapMatrix: String =
    s"""WITH $tokCte,
       |$minhashCtes,
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ss GROUP BY 1),
       |inter AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
       |  FROM cand c
       |  JOIN ss sa ON sa.doc_id = c.doc_a
       |  JOIN ss sb ON sb.doc_id = c.doc_b AND sa.sid = sb.sid
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT * FROM (
       |    SELECT i.doc_a, i.doc_b,
       |      floor((CAST(i.i AS DOUBLE) / CAST(na.n + nb.n - i.i AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS jaccard
       |    FROM inter i
       |    JOIN sizes na ON na.doc_id = i.doc_a
       |    JOIN sizes nb ON nb.doc_id = i.doc_b)
       |  WHERE jaccard >= 0.6),
       |src AS (SELECT doc_id, source FROM documents)
       |SELECT least(sa.source, sb.source) AS source_lo,
       |  greatest(sa.source, sb.source) AS source_hi,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  floor(((CAST(sum(CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE)) / 1000000.0) * 1000000 + 0.5) / 1000000 AS mean_jaccard
       |FROM jac
       |JOIN src sa ON sa.doc_id = jac.doc_a
       |JOIN src sb ON sb.doc_id = jac.doc_b
       |GROUP BY 1, 2""".stripMargin

  val eventsRetention: String =
    """WITH a AS (SELECT DISTINCT user_id,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1),
      |s AS (SELECT cohort_day, CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
      |  FROM c GROUP BY 1),
      |r AS (SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
      |    CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
      |  FROM a JOIN c USING (user_id) GROUP BY 1, 2)
      |SELECT r.cohort_day, r.day_offset, r.n_active, s.cohort_size,
      |  floor((CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS retention
      |FROM r JOIN s USING (cohort_day)""".stripMargin

  val spanDedup: String =
    s"""WITH $tokCte,
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
       |    string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok GROUP BY 1, 2),
       |g AS (SELECT sent_text,
       |    min({'d': doc_id, 's': sent_id}) AS mn,
       |    CAST(count(*) AS BIGINT) AS group_size
       |  FROM sent GROUP BY sent_text HAVING count(*) > 1)
       |SELECT s.doc_id, s.sent_id,
       |  CAST(mn.d AS BIGINT) AS canonical_doc,
       |  CAST(mn.s AS BIGINT) AS canonical_sent, group_size
       |FROM sent s JOIN g USING (sent_text)""".stripMargin

  /** Dedup.spanDedupApply twin: same dup-group struct-min canonicalization
    * as [[spanDedup]], then survivors re-stitched in sent_id order; the
    * CASE inside string_agg drops removed windows (string_agg skips NULL),
    * and coalesce matches Spark's empty-array → '' for all-dup docs. */
  val spanDedupApply: String =
    s"""WITH $tokCte,
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
       |    string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok GROUP BY 1, 2),
       |g AS (SELECT sent_text, min({'d': doc_id, 's': sent_id}) AS mn
       |  FROM sent GROUP BY sent_text HAVING count(*) > 1),
       |k AS (SELECT s.doc_id, s.sent_id, s.sent_text,
       |    (g.sent_text IS NULL OR (mn.d = s.doc_id AND mn.s = s.sent_id)) AS keep
       |  FROM sent s LEFT JOIN g USING (sent_text))
       |SELECT doc_id,
       |  coalesce(string_agg(CASE WHEN keep THEN sent_text END, ' ' ORDER BY sent_id), '') AS clean_text,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
       |FROM k GROUP BY doc_id""".stripMargin

  /** Dedup.intraDocDedup twin: keep the FIRST occurrence of each window
    * text WITHIN its own document only. */
  val intraDocDedup: String =
    s"""WITH $tokCte,
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
       |    string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok GROUP BY 1, 2),
       |k AS (SELECT doc_id, sent_id, sent_text,
       |    sent_id = min(sent_id) OVER (PARTITION BY doc_id, sent_text) AS keep
       |  FROM sent)
       |SELECT doc_id,
       |  coalesce(string_agg(CASE WHEN keep THEN sent_text END, ' ' ORDER BY sent_id), '') AS clean_text,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
       |FROM k GROUP BY doc_id""".stripMargin

  /** Dedup.boilerplateStrip twin: windows in ≥ minDocs DISTINCT docs are
    * boilerplate; ALL occurrences removed (no canonical survivor — that is
    * [[spanDedupApply]]'s rule), survivors re-stitched in sent_id order. */
  val boilerplateStrip: String =
    s"""WITH $tokCte,
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
       |    string_agg(tok, ' ' ORDER BY ord) AS sent_text
       |  FROM tok GROUP BY 1, 2),
       |bp AS (SELECT sent_text FROM sent GROUP BY sent_text
       |  HAVING count(DISTINCT doc_id) >= 3),
       |k AS (SELECT s.doc_id, s.sent_id, s.sent_text,
       |    (bp.sent_text IS NULL) AS keep
       |  FROM sent s LEFT JOIN bp USING (sent_text))
       |SELECT doc_id,
       |  coalesce(string_agg(CASE WHEN keep THEN sent_text END, ' ' ORDER BY sent_id), '') AS clean_text,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed
       |FROM k GROUP BY doc_id""".stripMargin

  /** TextOps.chunkStride twin: identical per-token chunk-range fan-out
    * (positive-operand integer division only, where Spark `div` ≡ DuckDB
    * `//`), then the same (doc, chunk) aggregation. */
  val chunkStride: String = {
    val (w, s) = (TextOps.StrideWindow, TextOps.StrideStep)
    s"""WITH $tokCte,
       |x AS (SELECT doc_id, ord, tok, char_start, char_end,
       |    CAST(unnest(generate_series(
       |      CASE WHEN ord <= $w THEN 0 ELSE (ord - $w + $s - 1) // $s END,
       |      (ord - 1) // $s)) AS BIGINT) AS chunk_id
       |  FROM tok)
       |SELECT doc_id, chunk_id,
       |  string_agg(tok, ' ' ORDER BY ord) AS chunk_text,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  min(char_start) AS char_start, max(char_end) AS char_end
       |FROM x GROUP BY 1, 2""".stripMargin
  }

  /** TextStats.qualityClassifier twin: same unigram+bigram feature stream
    * (lead over the doc token order — a NULL next-token nulls the concat in
    * both engines and is filtered), same Hash60-mod bucketing and integer
    * weight derivation; the only float op is the final mean, with identical
    * expression structure. */
  val qualityClassifier: String = {
    val (b, m, sc) = (TextStats.ClfBuckets, TextStats.ClfWeightMod, TextStats.ClfWeightScale)
    s"""WITH $tokCte,
       |big AS (SELECT doc_id,
       |    tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS feat
       |  FROM tok),
       |feats AS (SELECT doc_id, tok AS feat FROM tok
       |  UNION ALL SELECT doc_id, feat FROM big WHERE feat IS NOT NULL),
       |sc AS (SELECT doc_id,
       |    (${Hash60.sql("feat")} % $b) * 2654435761 % $m - $sc AS wgt
       |  FROM feats)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       |  CAST(sum(wgt) AS BIGINT) AS score_raw,
       |  floor((CAST(sum(wgt) AS DOUBLE) / CAST(count(*) * $sc AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS score,
       |  (sum(wgt) > 0) AS keep
       |FROM sc GROUP BY doc_id""".stripMargin
  }

  /** TextStats.sourceTemperature twin: every float is rounded (6dp) at the
    * SAME points as the Spark plan — p_raw before pow, w before the
    * normalizing sum, p_temp before the boost divide. */
  val sourceTemperature: String =
    """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per),
      |raw AS (SELECT source, n_docs, n_tokens,
      |    floor((CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS p_raw
      |  FROM per, tot),
      |w AS (SELECT *, floor(power(p_raw, 0.3) * 1000000 + 0.5) / 1000000 AS w FROM raw),
      |wt AS (SELECT sum(w) AS w_tot FROM w),
      |pt AS (SELECT source, n_docs, n_tokens, p_raw,
      |    floor((w / w_tot) * 1000000 + 0.5) / 1000000 AS p_temp
      |  FROM w, wt)
      |SELECT source, n_docs, n_tokens, p_raw, p_temp,
      |  floor((p_temp / p_raw) * 1000000 + 0.5) / 1000000 AS boost
      |FROM pt""".stripMargin

  val stratifiedSample: String =
    s"""WITH r AS (SELECT doc_id, source,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY ${mulModSql("doc_id", 1000000)}, doc_id) AS BIGINT) AS draw_rank
      |  FROM documents)
      |SELECT doc_id, source, draw_rank FROM r WHERE draw_rank <= 5""".stripMargin

  /** Morton z-value twin of Layout.zorderKey: identical quantization and
    * the same 4-step mask-shift bit spread in DuckDB integer algebra. */
  val zorderKey: String =
    s"""WITH b AS (SELECT CAST(min(n_chars) AS DOUBLE) AS mn,
       |    CAST(max(n_chars) AS DOUBLE) AS mx FROM documents),
       |q AS (SELECT doc_id,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE CAST(floor((n_chars - mn) * 65535.0 / (mx - mn)) AS BIGINT) END AS qa,
       |    ${Hash60.sql("source")} % 65536 AS qb
       |  FROM documents CROSS JOIN b),
       |s1 AS (SELECT doc_id, (qa | (qa << 8)) & 16711935 AS a, (qb | (qb << 8)) & 16711935 AS bb FROM q),
       |s2 AS (SELECT doc_id, (a | (a << 4)) & 252645135 AS a, (bb | (bb << 4)) & 252645135 AS bb FROM s1),
       |s3 AS (SELECT doc_id, (a | (a << 2)) & 858993459 AS a, (bb | (bb << 2)) & 858993459 AS bb FROM s2),
       |s4 AS (SELECT doc_id, (a | (a << 1)) & 1431655765 AS a, (bb | (bb << 1)) & 1431655765 AS bb FROM s3)
       |SELECT doc_id, CAST(a | (bb << 1) AS BIGINT) AS zval FROM s4""".stripMargin

  /** Layout.corpusShuffle twin: same seeded Hash60 key, shard = key mod
    * nShards, rank within shard in (key, doc_id) order. */
  val corpusShuffle: String =
    s"""WITH k AS (SELECT doc_id,
       |    ${Hash60.sql("('42:' || CAST(doc_id AS VARCHAR))")} AS skey
       |  FROM documents)
       |SELECT doc_id, skey % 64 AS shard,
       |  CAST(row_number() OVER (PARTITION BY skey % 64 ORDER BY skey, doc_id) AS BIGINT) AS pos
       |FROM k""".stripMargin

  val orcRoundtrip: String =
    """SELECT doc_id, source, n_chars,
      |  CAST(length(text) AS BIGINT) AS text_len FROM documents""".stripMargin

  /** The composed training-data pipeline: quality gate ∩ exact-dedup
    * canonicals ∖ contaminated docs — each stage is the SAME SQL as its
    * standalone oracle, nested as subqueries. */
  val trainingPipeline: String =
    s"""SELECT d.doc_id, d.source, d.n_chars
       |FROM documents d
       |JOIN (SELECT doc_id FROM ($qualityFilter) WHERE keep) kq ON d.doc_id = kq.doc_id
       |JOIN (SELECT doc_id FROM ($dedupExact) WHERE NOT is_dup) cn ON d.doc_id = cn.doc_id
       |LEFT JOIN (SELECT doc_id FROM ($decontaminate)
       |  WHERE n_overlapping_bigrams >= 3) ct ON d.doc_id = ct.doc_id
       |WHERE ct.doc_id IS NULL""".stripMargin

  /** name → oracle SQL for the driver's DuckDB compare */
  /** K-round BPE merge replay — the DuckDB twin of Bpe.merges (k = 8).
    *
    * Each word's symbol sequence is encoded as a run of
    * chr(31)||sym||chr(30) brackets, so one left-to-right non-overlapping
    * `replace` of ⟨a⟩⟨b⟩ → ⟨ab⟩ IS the engine's greedy merge fold: the
    * merged symbol's brackets differ from its parts', so it can never
    * re-match inside the same round — the exact invariant the fold's
    * prev-reset encodes. Corpus mass collapses to the distinct-word table
    * before any per-round work (same trick as the engine), and the argmax
    * tie-break (count DESC, then lexicographic a, b) matches Bpe.learnMerges.
    * Bracket chars are the ASCII unit/record separators, absent from any
    * tokenizable text. */
  private val bpeS = "chr(31)"; private val bpeE = "chr(30)"
  private val bpeK = 8

  /** w0..w{k} round CTE chain shared by bpe_merges and bpe_encode. */
  private val bpeRoundCtes: String = {
    val S = bpeS; val E = bpeE
    val w0 =
      s"""w0 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n,
         |    array_to_string(list_transform(string_split(word, ''), c -> $S || c || $E), '')
         |      || $S || '${graft.operators.Bpe.EndMarker}' || $E AS enc
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY word)""".stripMargin
    val rounds = (0 until bpeK).map { r =>
      s"""p$r AS (
         |  SELECT syms[i] AS a, syms[i+1] AS b, sum(n) AS cnt FROM (
         |    SELECT n, syms, CAST(unnest(range(1, len(syms))) AS INT) AS i FROM (
         |      SELECT n, string_split(substr(enc, 2, length(enc) - 2), $E || $S) AS syms FROM w$r))
         |  GROUP BY 1, 2),
         |t$r AS (SELECT a, b FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |w${r + 1} AS (SELECT word, n,
         |  replace(enc, $S || t.a || $E || $S || t.b || $E, $S || t.a || t.b || $E) AS enc
         |  FROM w$r, t$r t)""".stripMargin
    }
    (w0 +: rounds).mkString(",\n")
  }

  val bpeMergesSql: String = {
    val sel = (0 until bpeK)
      .map(r => s"""SELECT CAST(${r + 1} AS BIGINT) AS merge_ord, a AS "left", b AS "right" FROM t$r""")
      .mkString(" UNION ALL ")
    s"WITH $bpeRoundCtes\n$sel"
  }

  /** Bpe.encodeCounts twin: the k-round trajectory's final per-word symbol
    * count, replayed once over the distinct-word table and joined back to
    * each document's word stream (the fold is deterministic per word, so
    * per-occurrence fold ≡ per-word fold × occurrences). */
  val bpeEncodeSql: String =
    // NB: no outer stripMargin over the interpolated CTE chain — it would
    // re-strip the chain's own `||` continuation lines
    s"WITH $bpeRoundCtes,\n" +
      s"""wf AS (SELECT word,
         |    CAST(len(string_split(substr(enc, 2, length(enc) - 2), $bpeE || $bpeS)) AS BIGINT) AS n_syms
         |  FROM w$bpeK),
         |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
         |FROM dw JOIN wf USING (word) GROUP BY doc_id""".stripMargin

  /** TextStats.bpeFertility twin: the bpe_encode oracle as a subquery,
    * rolled up per source with whitespace word counts. (No outer
    * stripMargin over the interpolated encode SQL — it would re-strip that
    * chain's own `||` continuation lines.) */
  val bpeFertility: String =
    s"WITH enc AS (SELECT doc_id, n_bpe_tokens FROM ($bpeEncodeSql)),\n" +
      """dn AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw FROM documents),
        |agg AS (SELECT source, CAST(sum(nw) AS BIGINT) AS n_words,
        |    CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens
        |  FROM dn JOIN enc USING (doc_id) GROUP BY 1)
        |SELECT source, n_words, n_bpe_tokens,
        |  floor((CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS fertility
        |FROM agg""".stripMargin

  /** TextStats.vocabCoverage twin: rank the type counts once, one branch
    * per cutoff. */
  val vocabCoverage: String = {
    val branches = graft.operators.TextStats.VocabCutoffs.map { n =>
      s"""SELECT CAST($n AS BIGINT) AS cutoff,
         |  CAST(count(*) AS BIGINT) AS vocab_size,
         |  CAST(sum(cnt) AS BIGINT) AS covered_tokens,
         |  (SELECT total_tokens FROM tot) AS total_tokens,
         |  floor((CAST(sum(cnt) AS DOUBLE) / (SELECT CAST(total_tokens AS DOUBLE) FROM tot)) * 1000000 + 0.5) / 1000000 AS coverage
         |FROM r WHERE rn <= $n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $tokCte,
       |counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM counts),
       |r AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rn FROM counts)
       |$branches""".stripMargin
  }

  val indexRecallMatrix: String = indexRecallMatrixSql(Seq(
    "ivf" -> ivfTopK, "ivf_pq" -> ivfPqTopK, "ivf_sq8" -> ivfSqTopK,
    "pq" -> pqTopK, "sq8" -> sqTopKSql))

  /** TextStats.packEfficiency twin: one rollup over the tokenPacking SQL. */
  val packEfficiency: String =
    s"""WITH tp AS ($tokenPacking),
       |a AS (SELECT doc_id, CAST(count(DISTINCT pack_id) AS BIGINT) AS n_packs,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |  FROM tp GROUP BY 1)
       |SELECT doc_id, n_packs, n_tokens,
       |  floor((CAST(n_tokens AS DOUBLE) / CAST(n_packs * 64 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS fill_rate
       |FROM a""".stripMargin

  /** TextStats.sourceKl twin: identical micro-unit term flooring and the
    * same marginal-from-matrix aggregation order. */
  val sourceKl: String =
    s"""WITH $tokCte,
       |occ AS (SELECT t.doc_id, t.tok, d.source FROM tok t JOIN documents d USING (doc_id)),
       |st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY 1, 2),
       |stot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS s_tot FROM st GROUP BY 1),
       |ct AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS c_cnt FROM st GROUP BY 1),
       |ctot AS (SELECT CAST(sum(c_cnt) AS BIGINT) AS c_tot FROM ct),
       |terms AS (SELECT st.source, s.s_tot,
       |    CAST(floor((CAST(st.cnt AS DOUBLE) / CAST(s.s_tot AS DOUBLE))
       |      * ln((CAST(st.cnt AS DOUBLE) / CAST(s.s_tot AS DOUBLE))
       |           / (CAST(ct.c_cnt AS DOUBLE) / CAST(x.c_tot AS DOUBLE)))
       |      * 1000000 + 0.5) AS BIGINT) AS term_micro
       |  FROM st JOIN stot s USING (source) JOIN ct USING (tok) CROSS JOIN ctot x)
       |SELECT source, max(s_tot) AS n_tokens,
       |  floor((CAST(sum(term_micro) AS DOUBLE) / 1000000) * 1000000 + 0.5) / 1000000 AS kl
       |FROM terms GROUP BY 1""".stripMargin

  /** KnowledgeGraph.degreeDistFromPairs twin over the same doc-level pair graph. */
  val kgDegreeDist: String =
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      """edges AS (
        |  SELECT concept1 AS src FROM pairs
        |  UNION ALL SELECT concept2 AS src FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM edges GROUP BY 1)""".stripMargin) +
      "SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1"

  /** Embeddings.normStats twin: micro-unit squared-norm fold, one sqrt. */
  val embNormStats: String =
    """WITH v AS (SELECT CAST(label AS BIGINT) AS label,
      |    CAST(floor(sqrt(CAST(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |        x -> CAST(floor(x * x * 1000000 + 0.5) AS BIGINT))) AS DOUBLE) / 1000000)
      |      * 1000000 + 0.5) AS BIGINT) AS norm_micro
      |  FROM embeddings)
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
      |  floor((CAST(min(norm_micro) AS DOUBLE) / 1000000) * 1000000 + 0.5) / 1000000 AS min_norm,
      |  floor((CAST(max(norm_micro) AS DOUBLE) / 1000000) * 1000000 + 0.5) / 1000000 AS max_norm,
      |  floor(((CAST(sum(norm_micro) AS DOUBLE) / 1000000) / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS avg_norm
      |FROM v GROUP BY 1""".stripMargin

  /** Relay.serializeSampleSentences→parseSampleSentences twin. */
  private val relaySampleCte: String =
    s"""rs0 AS (SELECT o_orderkey AS k,
       |    'drug' || CAST(o_orderkey % 50 AS VARCHAR) AS subj_text,
       |    'cond' || CAST(o_orderkey % 30 + 50 AS VARCHAR) AS obj_text
       |  FROM orders),
       |relay_sample AS (
       |  SELECT CAST(k AS VARCHAR) AS predication_id,
       |    (['title', 'abstract', 'body'])[CAST(k % 3 AS INT) + 1] AS zone,
       |    ${r6Sql("CAST(k % 100 AS DOUBLE) / 100.0")} AS subject_score,
       |    ${r6Sql("CAST(k % 90 AS DOUBLE) / 90.0")} AS object_score,
       |    'C' || CAST(k % 50 AS VARCHAR) AS subject_cui,
       |    'C' || CAST(k % 30 + 50 AS VARCHAR) AS object_cui,
       |    k % 17 AS sent_start,
       |    CASE WHEN k % 2 = 0 THEN subj_text || ' treats ' || obj_text
       |         ELSE obj_text || ' occurs with ' || subj_text END AS sentence,
       |    subj_text AS subject_text,
       |    (k % 17) + (CASE WHEN k % 2 = 0 THEN 0 ELSE length(obj_text) + 13 END)
       |      + (CASE WHEN k % 41 = 0 THEN 1 ELSE 0 END) AS subj_start,
       |    (k % 17) + (CASE WHEN k % 2 = 0 THEN 0 ELSE length(obj_text) + 13 END)
       |      + (CASE WHEN k % 41 = 0 THEN 1 ELSE 0 END) + length(subj_text) AS subj_end,
       |    obj_text AS object_text,
       |    (k % 17) + (CASE WHEN k % 2 = 0 THEN length(subj_text) + 8 ELSE 0 END) AS obj_start,
       |    (k % 17) + (CASE WHEN k % 2 = 0 THEN length(subj_text) + 8 ELSE 0 END)
       |      + length(obj_text) AS obj_end
       |  FROM rs0)""".stripMargin

  /** Relay.enrichedMetadata twin (writeUpdatedMetadataFile). */
  val relayMetadataEnriched: String =
    s"""WITH $relayMetaCte, $relaySampleCte,
       |cuis AS (SELECT DISTINCT i FROM
       |  (SELECT unnest([o_orderkey % 50, o_orderkey % 30 + 50]) AS i FROM orders)),
       |nn AS (SELECT 'C' || CAST(i AS VARCHAR) AS cui,
       |    ${r6Sql("CAST(i AS DOUBLE) / 97.0")} AS nn_ic
       |  FROM cuis WHERE i % 5 <> 1),
       |idfm AS (SELECT 'C' || CAST(i AS VARCHAR) AS cui,
       |    ${r6Sql("ln(1.0 + CAST(i % 13 AS DOUBLE))")} AS idf
       |  FROM cuis WHERE i % 4 <> 3)
       |SELECT m.predication_id, m.intervening_token_count, m.sentence_token_count,
       |  m.pmid_count, m.subject_type, m.object_type,
       |  s.zone, s.subject_score, s.object_score,
       |  (CAST(m.predication_id AS BIGINT) % 2 = 0) AS tmkp_treats,
       |  ns.nn_ic AS subj_nn_ic, no_.nn_ic AS obj_nn_ic,
       |  fs.idf AS subj_idf, fo.idf AS obj_idf
       |FROM relay_meta m
       |JOIN relay_sample s ON m.predication_id = s.predication_id
       |LEFT JOIN nn ns ON s.subject_cui = ns.cui
       |LEFT JOIN nn no_ ON s.object_cui = no_.cui
       |LEFT JOIN idfm fs ON s.subject_cui = fs.cui
       |LEFT JOIN idfm fo ON s.object_cui = fo.cui""".stripMargin

  /** Relay.relayBertInput twin (getSentenceWithPlaceholders + the
    * covered-text check). */
  val relayBertInput: String =
    s"""WITH $relaySampleCte,
       |checked AS (
       |  SELECT *,
       |    (substr(sentence, CAST(subj_start - sent_start + 1 AS INT),
       |       CAST(subj_end - subj_start AS INT)) = subject_text
       |     AND substr(sentence, CAST(obj_start - sent_start + 1 AS INT),
       |       CAST(obj_end - obj_start AS INT)) = object_text) AS valid,
       |    CASE WHEN subj_start < obj_start THEN
       |      substr(sentence, 1, CAST(subj_start - sent_start AS INT)) || '@CHEMICAL$$' ||
       |      substr(sentence, CAST(subj_end - sent_start + 1 AS INT),
       |        CAST(obj_start - subj_end AS INT)) || '@DISEASE$$' ||
       |      substr(sentence, CAST(obj_end - sent_start + 1 AS INT))
       |    ELSE
       |      substr(sentence, 1, CAST(obj_start - sent_start AS INT)) || '@DISEASE$$' ||
       |      substr(sentence, CAST(obj_end - sent_start + 1 AS INT),
       |        CAST(subj_start - obj_end AS INT)) || '@CHEMICAL$$' ||
       |      substr(sentence, CAST(subj_end - sent_start + 1 AS INT))
       |    END AS masked
       |  FROM relay_sample)
       |SELECT predication_id,
       |  CASE WHEN valid THEN masked END AS sentence_with_placeholders, valid
       |FROM checked""".stripMargin

  /** KnowledgeGraph.prToUniprotMap twin — the oracle computes the walk's
    * RESULT directly from the channel definitions (independent of the
    * engine's join formulation). */
  val prUniprotMap: String =
    """SELECT 'PR:' || p_partkey AS pr_id,
      |  'UniProtKB:P' || p_partkey AS uniprot_id,
      |  CASE WHEN p_partkey % 2 = 0 THEN 'NCBITaxon:9606'
      |       ELSE 'NCBITaxon:10090' END AS taxon_id
      |FROM part WHERE p_partkey % 3 = 0 AND p_partkey % 5 <> 0
      |UNION ALL
      |SELECT 'PR:' || p_partkey, 'UniProtKB:C' || p_partkey || 'A', 'NCBITaxon:9606'
      |FROM part WHERE p_partkey % 5 = 0 AND p_partkey % 4 = 0
      |UNION ALL
      |SELECT 'PR:' || p_partkey, 'UniProtKB:G' || p_partkey, 'NCBITaxon:9606'
      |FROM part WHERE p_partkey % 5 = 0 AND p_partkey % 4 = 1""".stripMargin

  // ---------- PrPromoter, Sheets batches, assertion-DB star ----------

  /** ConceptPairs.promotePairsFile twin over the derived pairs-file lines
    * (PrPromoter.java:25-46: col0 through the promotion map, unmapped pass
    * through). */
  val prPromotePairs: String = {
    val obo = ConceptPairsOps.OboNs
    docPipeline(unitsDocCte, pairCountsSql("units_doc", Seq("doc_id")),
      s"""lines0 AS (
         |  SELECT '$obo' || replace(concept2, ':', '_') AS subj,
         |         '$obo' || replace(concept1, ':', '_') AS obj,
         |         CASE WHEN ${Hash60.sql("concept2 || '|' || concept1")} % 2 = 0
         |              THEN '${ConceptPairsOps.RoLocatedIn}'
         |              ELSE '${ConceptPairsOps.RoHasPhenotype}' END AS pred
         |  FROM pairs
         |  WHERE split_part(concept1, ':', 1) = 'DS' AND split_part(concept2, ':', 1) = 'OP'),
         |promo2 AS (SELECT '$obo' || replace(concept_id, ':', '_') AS k,
         |    '$obo' || replace(promoted_id, ':', '_') AS v
         |  FROM ${ConceptDict.promotionsValuesSql})""".stripMargin) +
      """SELECT coalesce(p.v, l.subj) || chr(9) || l.obj || chr(9) || l.pred AS line
        |FROM lines0 l LEFT JOIN promo2 p ON l.subj = p.k""".stripMargin
  }

  /** Sheets.batch CTE chain: pair rows + blinded/raw sentence text +
    * mention texts + sha256 sentence ids, the exclusion sets applied
    * (`rows0`), and the hash-ordered batch cut of size n skipping the
    * first `skip` hashes (`cut` — skip=0 is the first batch; skip=n is the
    * carried-forward second batch, since the carried file holds exactly
    * the first batch's hashes). */
  private def sheetsRowsCte(n: Int, skip: Int, preCut: String = "",
                            src: String = "rows0", cutRel: String = "cut"): String = {
    val excl = (graft.operators.Sheets.IdsToExclude ++
      graft.operators.Sheets.ValidateExclude).map(s => s"'$s'").mkString("(", ", ", ")")
    Seq(
      s"""sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
         |  string_agg(tok, ' ' ORDER BY ord) AS sent_text FROM tok GROUP BY 1, 2)""".stripMargin,
      s"""blin AS (
         |  SELECT p.doc_id, p.sent_id, p.concept_x, p.concept_y, p.x_ord, p.y_ord,
         |    string_agg(CASE WHEN t.ord = p.x_ord THEN '@CONCEPT_X$$'
         |                    WHEN t.ord = p.y_ord THEN '@CONCEPT_Y$$'
         |                    ELSE t.tok END, ' ' ORDER BY t.ord) AS blinded
         |  FROM prs p JOIN tok t ON t.doc_id = p.doc_id AND (t.ord - 1) // $W = p.sent_id
         |  WHERE p.concept_x NOT IN $excl AND p.concept_y NOT IN $excl
         |  GROUP BY 1, 2, 3, 4, 5, 6)""".stripMargin,
      s"""rows0 AS (
         |  SELECT b.*, s.sent_text, sha256(s.sent_text) AS sentence_id,
         |    xt.tok AS subject_text, yt.tok AS object_text
         |  FROM blin b
         |  JOIN sent s ON s.doc_id = b.doc_id AND s.sent_id = b.sent_id
         |  JOIN (SELECT DISTINCT doc_id, ord, tok FROM pp) xt
         |    ON xt.doc_id = b.doc_id AND xt.ord = b.x_ord
         |  JOIN (SELECT DISTINCT doc_id, ord, tok FROM pp) yt
         |    ON yt.doc_id = b.doc_id AND yt.ord = b.y_ord)""".stripMargin,
      (if (preCut.isEmpty) "" else preCut + ",\n") +
      s"""cut AS (SELECT DISTINCT sentence_id FROM $src
         |  ORDER BY sentence_id LIMIT $n OFFSET $skip)""".stripMargin,
      s"""chosen AS (
         |  SELECT sentence_id,
         |    min(struct_pack(x_ord := x_ord, y_ord := y_ord, concept_x := concept_x,
         |      concept_y := concept_y, doc_id := doc_id, sent_id := sent_id,
         |      blinded := blinded, subject_text := subject_text,
         |      object_text := object_text, sent_text := sent_text)) AS r
         |  FROM $src WHERE sentence_id IN (SELECT sentence_id FROM $cutRel)
         |  GROUP BY 1)""".stripMargin).mkString(",\n")
  }

  private val sheetsPad = "'" + (" " * 18) + "'"

  private def sheetsBatchSelect: String =
    s"""SELECT sentence_id, r.blinded AS sentence_with_placeholders,
       |  'PMID:' || r.doc_id AS document_id,
       |  r.concept_x AS subject_id, r.subject_text AS subject_text,
       |  r.concept_y AS object_id, r.object_text AS object_text,
       |  r.sent_text || $sheetsPad AS sentence,
       |  true AS no_relation, false AS inverse
       |FROM chosen
       |UNION ALL
       |SELECT sentence_id, r.blinded, 'PMID:' || r.doc_id,
       |  r.concept_y, r.object_text, r.concept_x, r.subject_text,
       |  r.sent_text || $sheetsPad, true, true
       |FROM chosen""".stripMargin

  val sheetsBatch: String =
    docPipeline(pairsCte, sheetsRowsCte(graft.operators.Sheets.DefaultBatchSize, 0)) +
      sheetsBatchSelect

  val sheetsBatchCarryforward: String =
    docPipeline(pairsCte, sheetsRowsCte(graft.operators.Sheets.DefaultBatchSize,
      graft.operators.Sheets.DefaultBatchSize)) + sheetsBatchSelect

  /** Sheets.toBertInput twin over the first batch's rows. */
  val sheetsToBert: String = {
    val abbrevs = graft.operators.Sheets.PredicateAbbrevs
    docPipeline(pairsCte, sheetsRowsCte(graft.operators.Sheets.DefaultBatchSize, 0),
      s"batch AS ($sheetsBatchSelect)") +
      s"""SELECT sha256(sentence_with_placeholders) AS hash, sentence_with_placeholders,
         |  CASE WHEN c IN (2, 3) THEN '${abbrevs(2)}'
         |       WHEN c = 1 THEN '${abbrevs(1)}'
         |       ELSE '${abbrevs.head}' END AS label
         |FROM (SELECT *,
         |  ${Hash60.sql("sentence_id || '|' || CAST(inverse AS VARCHAR)")} % 4 AS c
         |  FROM batch)""".stripMargin
  }

  /** Sheets.iaaOverlapBatch twin: batch 1 is the first 8 hashes, the
    * overlap share is its hash-ordered head (ceil(8*0.25) = 2), the fresh
    * share is the next 6 unused hashes; forward rows only, is_overlap
    * flagged. */
  val sheetsBatchIaa: String = {
    val n = graft.operators.Sheets.DefaultBatchSize
    val nOv = math.ceil(n * 0.25).toInt
    val preCut =
      s"""cut1 AS (SELECT DISTINCT sentence_id FROM rows0
         |  ORDER BY sentence_id LIMIT $n),
         |cutov AS (SELECT sentence_id FROM cut1 ORDER BY sentence_id LIMIT $nOv),
         |cut2 AS (SELECT DISTINCT sentence_id FROM rows0
         |  WHERE sentence_id NOT IN (SELECT sentence_id FROM cut1)
         |  ORDER BY sentence_id LIMIT ${n - nOv}),
         |included AS (SELECT sentence_id, true AS is_overlap FROM cutov
         |  UNION ALL SELECT sentence_id, false FROM cut2)""".stripMargin
    // the outer cut is unused (cutRel = included); LIMIT large keeps it valid
    docPipeline(pairsCte,
      sheetsRowsCte(n, 0, preCut = preCut, cutRel = "included")) +
      s"""SELECT c.sentence_id, c.r.blinded AS sentence_with_placeholders,
         |  'PMID:' || c.r.doc_id AS document_id,
         |  c.r.concept_x AS subject_id, c.r.subject_text AS subject_text,
         |  c.r.concept_y AS object_id, c.r.object_text AS object_text,
         |  c.r.sent_text || $sheetsPad AS sentence,
         |  true AS no_relation, false AS inverse, i.is_overlap
         |FROM chosen c JOIN included i ON c.sentence_id = i.sentence_id""".stripMargin
  }

  /** Sheets.idfFilteredBatch twin: candidates restricted to pairs whose
    * BOTH concepts clear the IDF threshold (the allowable-id map of
    * BatchCreateCommand.addConceptIdsAboveIdfThreshold), then the standard
    * batch cut. The IDF formula is Cooccurrence.idf's (ancestor-expanded
    * doc units). */
  val sheetsBatchIdf: String = {
    val preCut =
      s"""allowable AS (
         |  SELECT concept_id FROM (
         |    SELECT concept_id,
         |      ${r6Sql("ln(CAST(nu AS DOUBLE) / CAST(unit_count AS DOUBLE))")} AS idf
         |    FROM (SELECT concept_id, CAST(count(*) AS BIGINT) AS unit_count
         |          FROM units_doc GROUP BY 1)
         |    CROSS JOIN (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nu FROM units_doc))
         |  WHERE idf >= 0.23),
         |rows1 AS (SELECT * FROM rows0
         |  WHERE concept_x IN (SELECT concept_id FROM allowable)
         |    AND concept_y IN (SELECT concept_id FROM allowable))""".stripMargin
    docPipeline(unitsDocCte, pairsCte,
      sheetsRowsCte(graft.operators.Sheets.DefaultBatchSize, 0,
        preCut = preCut, src = "rows1")) +
      sheetsBatchSelect
  }

  /** AssertionDb.evidenceBase CTE chain: the classified pairs with their
    * sentence text, mention spans/texts, association curie, digest ids,
    * and document provenance (text-mined-assertion-db.sql:26-79). */
  private val assertionBaseCte: String =
    s"""cls AS (SELECT * FROM (
       |    SELECT doc_id, sent_id, concept_x, concept_y, x_ord, y_ord,
       |      floor((CAST((doc_id * 31 + sent_id * 17 + x_ord * 7 + y_ord) % 1000 AS DOUBLE) / 1000.0) * 1000000 + 0.5) / 1000000 AS score
       |    FROM prs)
       |  WHERE score >= 0.5),
       |sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
       |  string_agg(tok, ' ' ORDER BY ord) AS sent_text FROM tok GROUP BY 1, 2),
       |m AS (SELECT DISTINCT doc_id, ord, tok, char_start, char_end FROM pp),
       |abase AS (
       |  SELECT c.*,
       |    CASE WHEN ${Hash60.sql("c.concept_x || '|' || c.concept_y")} % 2 = 0
       |         THEN 'biolink:located_in' ELSE 'biolink:has_phenotype' END AS assoc,
       |    s.sent_text,
       |    xt.tok AS x_tok, xt.char_start AS x_start, xt.char_end AS x_end,
       |    yt.tok AS y_tok, yt.char_start AS y_start, yt.char_end AS y_end
       |  FROM cls c
       |  JOIN sent s ON s.doc_id = c.doc_id AND s.sent_id = c.sent_id
       |  JOIN m xt ON xt.doc_id = c.doc_id AND xt.ord = c.x_ord
       |  JOIN m yt ON yt.doc_id = c.doc_id AND yt.ord = c.y_ord),
       |ev AS (
       |  SELECT *,
       |    sha256(concept_x || '|' || concept_y || '|' || assoc) AS assertion_id,
       |    sha256(doc_id || '|' || sent_id || '|' || concept_x || '|' || concept_y || '|' || assoc) AS evidence_id,
       |    sha256(doc_id || '|' || x_ord || '|' || concept_x) AS subject_entity_id,
       |    sha256(doc_id || '|' || y_ord || '|' || concept_y) AS object_entity_id,
       |    CASE WHEN sent_id = 0 THEN 'title' WHEN sent_id <= 2 THEN 'abstract'
       |         ELSE 'body' END AS document_zone,
       |    CASE WHEN doc_id % 10 = 0 THEN 'Review' ELSE 'Journal Article' END AS document_publication_type,
       |    CAST(CASE WHEN doc_id % 7 = 0 THEN 2155 ELSE doc_id % 30 + 1990 END AS BIGINT) AS document_year_published
       |  FROM abase)""".stripMargin

  val assertionDbAssertions: String =
    docPipeline(pairsCte, assertionBaseCte) +
      """SELECT DISTINCT assertion_id, concept_x AS subject_curie,
        |  concept_y AS object_curie, assoc AS association_curie FROM ev""".stripMargin

  val assertionDbEvidence: String =
    docPipeline(pairsCte, assertionBaseCte) +
      """SELECT DISTINCT evidence_id, assertion_id, 'PMID:' || doc_id AS document_id,
        |  sent_text AS sentence, subject_entity_id, object_entity_id,
        |  document_zone, document_publication_type, document_year_published
        |FROM ev""".stripMargin

  val assertionDbEntities: String =
    docPipeline(pairsCte, assertionBaseCte) +
      """SELECT DISTINCT entity_id, span, covered_text FROM (
        |  SELECT subject_entity_id AS entity_id,
        |    x_start || '|' || x_end AS span, x_tok AS covered_text FROM ev
        |  UNION ALL
        |  SELECT object_entity_id, y_start || '|' || y_end, y_tok FROM ev)""".stripMargin

  val assertionDbScores: String =
    docPipeline(pairsCte, assertionBaseCte) +
      """SELECT DISTINCT evidence_id, assoc AS predicate_curie, score FROM ev""".stripMargin

  val assertionDbIntegrity: String =
    docPipeline(pairsCte, assertionBaseCte,
      """a2 AS (SELECT DISTINCT assertion_id FROM ev),
        |e2 AS (SELECT DISTINCT evidence_id, assertion_id, subject_entity_id, object_entity_id FROM ev),
        |s2 AS (SELECT DISTINCT evidence_id FROM ev),
        |ent2 AS (SELECT DISTINCT entity_id FROM (
        |  SELECT subject_entity_id AS entity_id FROM ev
        |  UNION ALL SELECT object_entity_id FROM ev))""".stripMargin) +
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM e2
        |   WHERE assertion_id NOT IN (SELECT assertion_id FROM a2)) AS evidence_without_assertion,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s2
        |   WHERE evidence_id NOT IN (SELECT evidence_id FROM e2)) AS scores_without_evidence,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT subject_entity_id AS entity_id FROM e2
        |     UNION ALL SELECT object_entity_id FROM e2)
        |   WHERE entity_id NOT IN (SELECT entity_id FROM ent2)) AS evidence_without_entity,
        |  (SELECT CAST(count(*) AS BIGINT) FROM (
        |     SELECT evidence_id FROM e2 GROUP BY 1 HAVING count(*) > 1)) AS duplicate_evidence_ids""".stripMargin

  // ---------- BigQuery multi-table load (BigQueryLoadBuilder) ----------

  /** Shared CTE stack for the BigQuery load twins: the five-layer
    * annotation universe with the span-derived sha256 ids
    * (BigQueryUtil.getAnnotationIdentifier — same recipe as the
    * sentence-cooccurrence export twin). */
  private val bqUniverseCtes: Seq[String] = Seq(
    s"""sent AS (SELECT doc_id, (ord - 1) // $W AS sent_id,
       |    string_agg(tok, ' ' ORDER BY ord) AS sent_text,
       |    min(char_start) AS char_start, max(char_end) AS char_end
       |  FROM tok GROUP BY 1, 2)""".stripMargin,
    s"""secx AS (
       |  SELECT s.doc_id, s.section, s.char_start, s.char_end,
       |    substr(d.text, CAST(s.char_start + 1 AS INT),
       |      CAST(s.char_end - s.char_start AS INT)) AS covered_text
       |  FROM (
       |    SELECT doc_id,
       |      CASE WHEN sent_id = 0 THEN 'title' ELSE 'abstract' END AS section,
       |      min(char_start) AS char_start, max(char_end) AS char_end
       |    FROM sent WHERE sent_id <= 2 GROUP BY 1, 2) s
       |  JOIN documents d ON s.doc_id = d.doc_id)""".stripMargin,
    s"""universe AS (
       |  SELECT doc_id, 'SECTION' AS layer, 0 AS layer_idx, 'bioc' AS annotator_name,
       |    upper(section) AS annotation_type, char_start, char_end, covered_text
       |  FROM secx
       |  UNION ALL
       |  SELECT doc_id, 'PARAGRAPH', 1, 'bioc', 'paragraph', char_start, char_end, covered_text
       |  FROM secx WHERE section = 'abstract'
       |  UNION ALL
       |  SELECT doc_id, 'SENTENCE', 2, 'turku', 'sentence', char_start, char_end, sent_text
       |  FROM sent
       |  UNION ALL
       |  SELECT doc_id, 'CONCEPT', 3, 'oger', concept_id, char_start, char_end, tok
       |  FROM pp
       |  UNION ALL
       |  SELECT doc_id, 'TOKEN', 4, 'turku', ${uposCaseSql("tok")}, char_start, char_end, tok
       |  FROM tok)""".stripMargin,
    """bq AS (
      |  SELECT *, sha256(CAST(doc_id AS VARCHAR) || CAST(char_start AS VARCHAR) ||
      |      regexp_replace(covered_text, '[\n\t]', ' ', 'g') || layer ||
      |      '[' || lower(annotation_type) || ']') AS annotation_id
      |  FROM universe)""".stripMargin)

  val bigqueryLoadAnnotation: String =
    docPipeline(bqUniverseCtes: _*) +
      """SELECT DISTINCT annotation_id, annotator_name,
        |  CAST(doc_id AS VARCHAR) AS document_id,
        |  layer AS annotation_layer, annotation_type,
        |  char_start AS span_start, char_end AS span_end,
        |  regexp_replace(covered_text, '[\n\t]', ' ', 'g') AS covered_text
        |FROM bq WHERE char_start <> char_end""".stripMargin

  val bigqueryLoadZones: String =
    docPipeline(bqUniverseCtes: _*) +
      """SELECT DISTINCT 'in_' || lower(z.layer) AS table_key,
        |  i.annotation_id AS inner_annot_id, z.annotation_id AS outer_annot_id
        |FROM bq i JOIN bq z ON i.doc_id = z.doc_id
        |WHERE z.layer_idx <= 3
        |  AND z.char_start <= i.char_start AND i.char_end <= z.char_end
        |  AND i.layer_idx >= z.layer_idx
        |  AND i.annotation_id <> z.annotation_id""".stripMargin

  val bigqueryLoadRelation: String =
    s"""WITH $tokCte,
       |tokx AS (
       |  SELECT doc_id, ord, (ord - 1) % $W + 1 AS tok_id,
       |    sha256(CAST(doc_id AS VARCHAR) || CAST(char_start AS VARCHAR) ||
       |      tok || 'TOKEN' || '[' || lower(${uposCaseSql("tok")}) || ']') AS annotation_id
       |  FROM tok)
       |SELECT DISTINCT s.annotation_id AS source_annot_id,
       |  'turku' AS annotator_name,
       |  list_extract(['amod', 'nmod', 'nsubj', 'obj'], CAST(s.ord % 4 AS INT) + 1) AS type,
       |  h.annotation_id AS target_annot_id
       |FROM tokx s JOIN tokx h ON s.doc_id = h.doc_id AND h.ord = s.ord - 1
       |WHERE s.tok_id > 1""".stripMargin

  val all: Map[String, String] = Map(
    "bigquery_load_annotation" -> bigqueryLoadAnnotation,
    "bigquery_load_zones" -> bigqueryLoadZones,
    "bigquery_load_relation" -> bigqueryLoadRelation,
    "pack_efficiency" -> packEfficiency,
    "source_kl" -> sourceKl,
    "split_leakage" -> splitLeakage,
    "kg_degree_dist" -> kgDegreeDist,
    "emb_norm_stats" -> embNormStats,
    "bpe_merges" -> bpeMergesSql,
    "index_recall_matrix" -> indexRecallMatrix,
    "cooccur_chi2" -> cooccurChi2,
    "events_stickiness" -> eventsStickiness,
    "bpe_encode" -> bpeEncodeSql,
    "bpe_encode_artifact" -> bpeEncodeSql,
    "bpe_fertility" -> bpeFertility,
    "vocab_coverage" -> vocabCoverage,
    "ner_bert_import" -> nerBertImport,
    "sentence_cooccur_export" -> sentenceCooccurExport,
    // identity kernel child ⇒ same rows as the build→parse round trip
    "dep_parse_kernel" -> conlluTokens,
    "annotation_batch" -> annotationBatch,
    "annotation_batch_files" -> annotationBatchFiles,
    "dedup_keep_best" -> dedupKeepBest,
    "tokens" -> tokens,
    "sentences" -> sentences,
    // the kernel round trip must reproduce the direct segmentation exactly
    "sentences_kernel" -> sentences,
    "doc_filter" -> docFilter,
    "collection_assign" -> collectionAssign,
    "doc_augment" -> docAugment,
    "chunk_content" -> chunkContent,
    "concepts" -> concepts,
    "concepts_pp" -> conceptsPp,
    "crf_overlap" -> crfOverlap,
    "conllu_tokens" -> conlluTokens,
    "dp_sentences" -> dpSentences,
    "conllu_files" -> conlluFilesSql,
    "cooccur_counts_doc" -> cooccurCountsDoc,
    "cooccur_counts_bucketed" -> cooccurCountsDoc,
    "cooccur_counts_sent" -> cooccurCountsSent,
    "cooccur_counts_title" -> cooccurCountsTitle,
    "cooccur_counts_abstract" -> cooccurCountsAbstract,
    "xml_roundtrip" -> xmlRoundtrip,
    "medline_ingest" -> medlineIngest,
    "medline_entities" -> medlineEntities,
    "medline_metadata" -> medlineMetadata,
    "medline_deletes" -> medlineDeletes,
    "medline_pmid_files" -> medlinePmidFiles,
    "medline_subsup" -> medlineSubSup,
    "doc_upsert_delete" -> docUpsertDelete,
    "streaming_upsert_delete" -> docUpsertDelete,
    "jats_ingest" -> jatsIngest,
    "bioc_ingest" -> biocIngest,
    "webanno_export" -> webannoExport,
    "inception_export" -> inceptionExport,
    "bio_tags" -> bioTags,
    "streaming_hourly" -> eventsHourly,
    "streaming_dedup" -> streamingDedup,
    "streaming_sessions" -> streamingSessions,
    "streaming_join" -> streamingJoin,
    "streaming_concepts" -> concepts,
    "streaming_cooccur" -> streamingCooccur,
    "brat_import" -> bratImport,
    "pubannotation_import" -> pubannotationImport,
    "mondo_hp_equiv" -> mondoHpEquivSql,
    "bionlp_source" -> bionlpSource,
    "processing_ledger" -> processingLedger,
    "concepts_pp_strict" -> conceptsPpStrict,
    "concepts_aug_filter" -> conceptsAugFilter,
    "concepts_span_generality" -> conceptsSpanGenerality,
    "etl_failures" -> etlFailures,
    "abbrev" -> abbrev,
    "brat_to_bert" -> sentencePairs,
    "ivf_topk" -> ivfTopK,
    "ivf_probe_sweep" -> ivfProbeSweep,
    "hard_negatives" -> hardNegatives,
    "ann_recall" -> annRecall,
    "sentences_punct" -> sentencesPunct,
    "cooccur_counts_title_annot" -> cooccurCountsTitleAnnot,
    "sentence_pairs_kw" -> sentencePairsKw,
    "brat_export" -> bratExport,
    "conll03_export" -> conll03Export,
    "dict_export" -> dictExport,
    "ontology_labels" -> ontologyLabels,
    "oger_dict_build" -> ogerDictBuild,
    "oger_dict_chebi" -> ogerDictChebi,
    "oger_dict_drugbank" -> ogerDictDrugbank,
    "oger_dict_mondo" -> ogerDictMondo,
    "oger_dict_rest" -> ogerDictRest,
    "oger_dict_entry_map" -> ogerDictEntryMap,
    "biolink_category_map" -> biolinkCategoryMap,
    "pr_promote_pairs" -> prPromotePairs,
    "sheets_batch" -> sheetsBatch,
    "sheets_batch_carryforward" -> sheetsBatchCarryforward,
    "sheets_to_bert" -> sheetsToBert,
    "assertion_db_assertions" -> assertionDbAssertions,
    "assertion_db_evidence" -> assertionDbEvidence,
    "assertion_db_entities" -> assertionDbEntities,
    "assertion_db_scores" -> assertionDbScores,
    "assertion_db_integrity" -> assertionDbIntegrity,
    "chem_label_norm" -> chemLabelNorm,
    "taxon_promotion" -> taxonPromotionSql,
    "pr_gene_rollup" -> prGeneRollup,
    "span_validate" -> spanValidateSql,
    "semmed_idf" -> semmedIdfSql,
    "relay_accuracy" -> relayAccuracy,
    "relay_reasons" -> relayReasons,
    "relay_improvements" -> relayImprovements,
    "relay_accuracy_by_type" -> relayAccuracyByType,
    "relay_accuracy_by_complexity" -> relayAccuracyByComplexity,
    "relay_iaa" -> relayIaa,
    "relay_metadata_enriched" -> relayMetadataEnriched,
    "relay_sheet_rows" -> relaySheetRows,
    "relay_bert_input" -> relayBertInput,
    "sheets_batch_iaa" -> sheetsBatchIaa,
    "sheets_batch_idf" -> sheetsBatchIdf,
    "pr_uniprot_map" -> prUniprotMap,
    "kg_nodes" -> kgNodes,
    "kg_edges" -> kgEdges,
    "kg_pagerank" -> kgPagerank,
    "kg_khop" -> kgKhop,
    "kg_triangles" -> kgTriangles,
    "kg_jaccard" -> kgJaccard,
    "trapi_nodes" -> trapiNodes,
    "trapi_edges" -> trapiEdges,
    "ontology_closure" -> ontologyClosure,
    "batch_stats" -> batchStats,
    "batch_overlap" -> batchOverlap,
    "bicluster_paths" -> biclusterPaths,
    "bicluster_sentences" -> biclusterSentences,
    "bicluster_bert" -> biclusterBert,
    "pmid_html_flag" -> pmidHtmlFlag,
    "pmid_to_year" -> pmidToYear,
    "medline_download_manifest" -> medlineDownloadManifest,
    "concept_pairs_pos" -> conceptPairsPos,
    "concept_pairs_neg" -> conceptPairsNeg,
    "concept_pair_sentences" -> conceptPairSentences,
    "kgx_nodes" -> kgxNodes,
    "kgx_edges" -> kgxEdges,
    "kgx_edges_evidence" -> kgxEdgesEvidence,
    "ancestor_table" -> ancestorTable,
    "sentence_ids" -> sentenceIds,
    "label_overlap" -> labelOverlap,
    "label_english_word" -> labelEnglishWord,
    "label_filter_embedding" -> labelFilterEmbedding,
    "concepts_promoted" -> conceptsPromoted,
    "text_redact" -> textRedact,
    "events_props" -> eventsProps,
    "vocab_stats" -> vocabStats,
    "hashing_tf" -> hashingTfSql,
    "text_normalize" -> textNormalize,
    "ngram_counts" -> ngramCounts,
    "unigram_logprob" -> unigramLogprob,
    "bigram_logprob" -> bigramLogprob,
    "doc_sample" -> docSample,
    "decontaminate" -> decontaminate,
    "contamination_report" -> contaminationReport,
    "minhash_est" -> minhashEstimate,
    "corpus_stats" -> corpusStats,
    "decontaminate_bloom" -> decontaminate,
    "token_packing" -> tokenPacking,
    "events_quantiles" -> eventsQuantiles,
    "top_parts_per_brand" -> topPartsPerBrand,
    "top_parts_agg" -> topPartsAgg,
    "cooccur_metrics_doc" -> cooccurMetricsDoc,
    "cooccur_metrics_sent" -> cooccurMetricsSent,
    "cooccur_metrics_title" -> cooccurMetricsTitle,
    "cooccur_metrics_abstract" -> cooccurMetricsAbstract,
    "concept_idf" -> conceptIdf,
    "concept_count_dist" -> conceptCountDist,
    "tfidf" -> tfidf,
    "tfidf_doc_sim" -> tfidfDocSim,
    "span_corruption" -> spanCorruption,
    "source_lm_matrix" -> sourceLmMatrix,
    "bm25_scores" -> bm25Scores,
    "bm25_topk" -> bm25TopK,
    "bm25_mrr" -> bm25Mrr,
    "shard_manifest" -> shardManifest,
    "hybrid_rrf" -> hybridRrf,
    "knn_graph" -> knnGraph,
    "emb_mmr" -> embMmr,
    "ann_ndcg" -> annNdcg,
    "dedup_soft_weights" -> softDedupWeights,
    "sentence_pairs" -> sentencePairs,
    "classified_sentences" -> classifiedSentences,
    "relation_paths" -> relationPaths,
    "semmed_eval_rows" -> semmedEvalRows,
    "concepts_ext_revert" -> conceptsExtRevert,
    "concepts_exclude_subtree" -> conceptsExcludeSubtree,
    "dp_input_export" -> dpInputExport,
    "doc_upsert" -> docUpsert,
    "doc_history" -> docHistory,
    "snapshot_diff" -> snapshotDiff,
    "label_source_matrix" -> labelSourceMatrix,
    "epoch_plan" -> epochPlan,
    "gopher_rules" -> gopherRules,
    "distant_supervision" -> distantSupervision,
    "ds_train_split" -> dsTrainSplit,
    "bionlp_export" -> bionlpExport,
    "pubannotation_export" -> pubannotationExport,
    "q6_forecast" -> q6Forecast,
    "text_export" -> textExport,
    "es_docs" -> esDocs,
    "es_bulk" -> esBulk,
    "export_flat" -> exportFlat,
    "q1_pricing" -> q1Pricing,
    "q3_top_orders" -> q3TopOrders,
    "q10_returns" -> q10Returns,
    "q14_promo" -> q14Promo,
    "q4_priority" -> q4Priority,
    "q12_priority_class" -> q12PriorityClass,
    "q13_order_dist" -> q13OrderDist,
    "q15_top_supplier" -> q15TopSupplier,
    "q17_small_qty" -> q17SmallQty,
    "q22_inactive" -> q22Inactive,
    "q8_market_share" -> q8MarketShare,
    "q19_discounted" -> q19Discounted,
    "q2_min_cost_supplier" -> q2MinCostSupplier,
    "q9_profit" -> q9ProfitByNation,
    "q11_important_parts" -> q11ImportantParts,
    "q20_excess_suppliers" -> q20ExcessSuppliers,
    "q21_waiting_suppliers" -> q21WaitingSuppliers,
    "events_funnel" -> eventsFunnel,
    "session_metrics" -> sessionMetrics,
    // run-to-completion keyed-state fold ≡ the batch funnel
    "streaming_funnel" -> eventsFunnel,
    "q5_region_revenue" -> q5RegionRevenue,
    "q7_volume" -> q7Volume,
    "q16_part_suppliers" -> q16PartSuppliers,
    "q18_large_orders" -> q18LargeOrders,
    "skew_join" -> skewJoin,
    "events_asof" -> eventsAsof,
    "range_join_binned" -> rangeJoinBinned,
    "multimodal_decode" -> multimodalDecode,
    "dedup_clusters" -> dedupClusters,
    "simhash_pairs" -> simhashPairs,
    "events_hourly" -> eventsHourly,
    "events_outliers" -> eventsOutliers,
    "skew_report" -> skewReportSql,
    "events_sessions" -> eventsSessions,
    "events_sessions_native" -> eventsSessionsNative,
    "events_retention" -> eventsRetention,
    "dedup_exact" -> dedupExact,
    "dedup_norm" -> dedupNorm,
    "dedup_minhash" -> dedupMinhash,
    "lsh_band_tuning" -> lshBandTuning,
    "minhash_precision" -> minhashPrecision,
    "heavy_hitters_cms" -> heavyHittersCms,
    "streaming_cms" -> streamingCms,
    "dedup_incremental" -> minhashIncremental,
    "dedup_incremental_staged" -> minhashIncremental,
    "window_dup" -> windowDup,
    "window_dedup_apply" -> windowDedupApply,
    "span_dedup" -> spanDedup,
    "span_dedup_apply" -> spanDedupApply,
    "intra_doc_dedup" -> intraDocDedup,
    "boilerplate_strip" -> boilerplateStrip,
    "chunk_stride" -> chunkStride,
    "quality_classifier" -> qualityClassifier,
    "source_temperature" -> sourceTemperature,
    "decontaminate_fuzzy" -> decontaminateFuzzy,
    "dsir_weights" -> dsirWeights,
    "quality_cut" -> qualityCut,
    "semantic_dedup" -> semanticDedup,
    "semantic_clusters" -> semanticClustersSql,
    "corpus_mix" -> corpusMix,
    "stratified_sample" -> stratifiedSample,
    "streaming_upsert" -> docUpsert,
    "orc_roundtrip" -> orcRoundtrip,
    "tsv_roundtrip" -> orcRoundtrip,
    "jsonl_roundtrip" -> orcRoundtrip,
    "zorder_key" -> zorderKey,
    "corpus_shuffle" -> corpusShuffle,
    "annot_agreement" -> annotAgreement,
    "annot_kappa" -> annotKappa,
    "source_caps" -> sourceCaps,
    "length_histogram" -> lengthHistogram,
    "corpus_cube" -> corpusCube,
    "table_profile" -> tableProfile,
    "ngram_jaccard" -> ngramJaccard,
    "dedup_source_matrix" -> sourceOverlapMatrix,
    "dedup_simhash" -> dedupSimhash,
    "doc_fingerprint" -> docFingerprint,
    "emb_topk" -> embTopK,
    "emb_topk_native" -> embTopK,
    "emb_lsh" -> embLsh,
    "pq_codes" -> pqCodesSql,
    "sq_codes" -> sqCodesSql,
    "sq_topk" -> sqTopKSql,
    "ivfsq_topk" -> ivfSqTopK,
    "ivfpq_topk" -> ivfPqTopK,
    "kmeans_cells" -> kmeansCellsSql,
    "kmeans_purity" -> kmeansPurity,
    "pq_topk" -> pqTopK,
    "pq_distortion" -> pqDistortion,
    "ivf_balance" -> ivfBalance,
    "dedup_cluster_stats" -> dedupClusterStats,
    "emb_dup_pairs" -> embDupPairs,
    "lang_id" -> langId,
    "quality_score" -> qualityScore,
    "repetition_stats" -> repetitionStats,
    "quality_filter" -> qualityFilter,
    // streaming pass is stateless ⇒ identical to the batch gate
    "streaming_quality" -> qualityFilter,
    // run-to-completion stream-static band probe ≡ the batch incremental probe
    "streaming_neardup" -> minhashIncremental,
    "streaming_split_leakage" -> splitLeakage,
    "training_pipeline" -> trainingPipeline,
    "multimodal_meta" -> multimodalMeta,
    "frame_sample" -> frameSample,
    "multimodal_batches" -> multimodalBatches)
}
