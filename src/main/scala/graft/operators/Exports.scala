package graft.operators

import graft.functions.Agg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Serialization / export surfaces.
  *
  * Re-expresses, Spark-first:
  *  - BioNLP annotation export (reference: etl/ConceptAnnotationExportPipeline.java,
  *    file/conversion/bionlp): one `T{n}\t{TYPE} {start} {end}\t{text}` line
  *    per annotation, numbered per document in span order.
  *  - Document text export (reference: etl/TextExtractionPipeline.java,
  *    rrun-z-document-text-export-batch.sh): order-preserving reconstruction.
  *  - Elasticsearch document assembly (reference:
  *    etl/fn/ElasticsearchDocumentCreatorFn.java): doc + sentence count +
  *    sorted distinct concept ids.
  *  - BigQuery flatten (reference: etl/fn/BigQueryExportFileBuilderFn.java,
  *    doc/bigquery): annotations joined to document metadata, star-flattened.
  */
object Exports {

  /** doc_id, line — BioNLP serialization of concept annots. */
  def bionlp(annots: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("char_start"), col("concept_id"))
    annots
      .withColumn("t_num", row_number().over(w).cast("long"))
      .select(col("doc_id"),
        concat(lit("T"), col("t_num"), lit("\t"),
          substring_index(col("concept_id"), ":", 1), lit(" "),
          col("char_start"), lit(" "), col("char_end"),
          lit("\t"), col("tok")).as("line"))
  }

  /** doc_id, ann_file, line — Brat standoff export (reference:
    * relation_extraction/BratAssertionAnnotationFileCreator.java,
    * README_brat_to_bert.md): per document an `<doc_id>.ann` file with one
    * text-bound `T{n}\t{TYPE} {start} {end}\t{text}` line per annotation
    * plus a normalization `N{n}\tReference T{n} {id}\t{text}` line binding
    * it to its ontology id.
    *
    * Both line kinds come off ONE pass over the ranked annotation table —
    * each row explodes into its T and N line (guide §2.4: the pre-r17
    * `tLines.unionAll(nLines)` shape computed the row_number window, and
    * everything upstream of it, twice — once per union branch). */
  def brat(annots: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("char_start"), col("concept_id"))
    annots.withColumn("t_num", row_number().over(w).cast("long"))
      .select(col("doc_id"), explode(array(
        concat(lit("T"), col("t_num"), lit("\t"),
          substring_index(col("concept_id"), ":", 1), lit(" "),
          col("char_start"), lit(" "), col("char_end"),
          lit("\t"), col("tok")),
        concat(lit("N"), col("t_num"), lit("\tReference T"), col("t_num"),
          lit(" "), col("concept_id"), lit("\t"), col("tok")))).as("line"))
      .select(col("doc_id"), concat(col("doc_id"), lit(".ann")).as("ann_file"), col("line"))
  }

  /** Inverse of [[brat]] — parse Brat standoff lines back into concept
    * annotations (doc_id, concept_id, char_start, char_end, tok). The
    * reference ships one-off corpus converters that read gold-standard
    * standoff back into its document model (corpora/craft,
    * relation_extraction/BratToBertConverter.java readAnnotationFiles); this
    * is that import surface: T lines give the span + covered text, N lines
    * bind each T to its ontology id. A single-pass pivot — both line kinds
    * project a common (doc_id, tid) key and ONE aggregation folds each
    * T/N pair onto a row — rather than a T×N self-join, which would
    * compute the upstream line stream twice and shuffle both branches;
    * the pivot is one map-side-combinable shuffle. Requiring both halves
    * (the WHERE) is the inner join's semantics. */
  def bratImport(brat: DataFrame): DataFrame = {
    val parts = split(col("line"), "\t")
    val isT = col("tag").startsWith("T")
    val mid = split(col("mid"), " ")
    brat.select(col("doc_id"), parts.getItem(0).as("tag"),
        parts.getItem(1).as("mid"), parts.getItem(2).as("txt"))
      .withColumn("tid",
        when(isT, substring(col("tag"), 2, 18).cast("long"))
          .otherwise(substring(mid.getItem(1), 2, 18).cast("long")))
      .groupBy("doc_id", "tid")
      .agg(
        max(when(isT, mid.getItem(1).cast("long"))).as("char_start"),
        max(when(isT, mid.getItem(2).cast("long"))).as("char_end"),
        max(when(isT, col("txt"))).as("tok"),
        max(when(!isT, mid.getItem(2))).as("concept_id"))
      .where(col("concept_id").isNotNull && col("char_start").isNotNull)
      .select(col("doc_id"), col("concept_id"), col("char_start"), col("char_end"), col("tok"))
  }

  /** doc_id, line — WebAnno TSV-style token rows (reference:
    * fn/SentenceExtractionWebAnnoFn.java, WebAnnoSentenceExtractionPipeline):
    * `{sent}-{tok}\t{begin}-{end}\t{token}\t{label}` per token, label = the
    * concept id at that token or `_` (WebAnno's no-annotation marker);
    * min(concept_id) disambiguates the rare multi-annotated token. */
  def webanno(docs: DataFrame, annots: DataFrame): DataFrame = {
    val w = TextOps.SentWindow
    val toks = TextOps.tokens(docs)
      .withColumn("sent_id", expr(s"(ord - 1) div $w"))
      .withColumn("tok_id", expr(s"(ord - 1) % $w + 1"))
    val labels = annots.groupBy("doc_id", "ord").agg(min("concept_id").as("label"))
    toks.join(labels, Seq("doc_id", "ord"), "left")
      .select(col("doc_id"),
        concat(col("sent_id") + 1, lit("-"), col("tok_id"), lit("\t"),
          col("char_start"), lit("-"), col("char_end"), lit("\t"),
          col("tok"), lit("\t"), coalesce(col("label"), lit("_"))).as("line"))
  }

  /** Brat→BERT converter (reference:
    * relation_extraction/BratToBertConverter.java, README_brat_to_bert.md):
    * parses Brat standoff lines back into concept annotations (T lines give
    * spans, N lines give the ontology id), recovers token ordinals by span
    * join, and emits the blinded BERT training rows. Round-trips the
    * `brat` export: output ≡ SentencePairs.extractWithBlinded on the
    * original annotations. */
  def bratToBert(docs: DataFrame, bratLines: DataFrame): DataFrame = {
    val spanRe = "\\t[A-Za-z]+ ([0-9]+) ([0-9]+)\\t"
    // one scan over the line stream: T lines carry the span, their N line
    // carries the ontology id — pivot them onto one row per (doc, tid) with
    // a conditional agg (single shuffle) instead of a two-branch self-join
    val isT = col("line").startsWith("T")
    val spans = bratLines
      .withColumn("tid", when(isT, regexp_extract(col("line"), "^(T[0-9]+)\\t", 1))
        .otherwise(regexp_extract(col("line"), "Reference (T[0-9]+) ", 1)))
      .groupBy("doc_id", "tid")
      .agg(
        max(when(isT, regexp_extract(col("line"), spanRe, 1).cast("long"))).as("char_start"),
        max(when(isT, regexp_extract(col("line"), spanRe, 2).cast("long"))).as("char_end"),
        max(when(!isT, regexp_extract(col("line"), "Reference T[0-9]+ ([^\\t]+)\\t", 1))).as("concept_id"))
    // persist: extractWithBlinded references annots from both sides of its
    // pair self-join, and this parse subtree is not CacheManager-shared like
    // the concept pipeline is — without the persist the whole serialize →
    // regex → join subtree recomputes per branch (measured 5.4s → ~1.5s)
    val annots = graft.infra.Caches.managed(spans
      .join(TextOps.tokens(docs), Seq("doc_id", "char_start", "char_end"))
      .select("doc_id", "concept_id", "ord", "tok", "char_start", "char_end"))
    SentencePairs.extractWithBlinded(docs, annots)
  }

  /** doc_id, pubannotation — PubAnnotation JSON export (reference:
    * etl/deprecated/PubAnnotationExportPipeline.java,
    * file/conversion/pubannotation): one JSON document per doc with a
    * denotations array. JSON is assembled with deterministic concatenation
    * (not to_json) so field order is byte-stable for the oracle. */
  def pubannotation(annots: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("char_start"), col("concept_id"))
    annots
      .withColumn("t_num", row_number().over(w).cast("long"))
      .withColumn("denotation",
        concat(lit("{\"id\":\"T"), col("t_num"),
          lit("\",\"span\":{\"begin\":"), col("char_start"),
          lit(",\"end\":"), col("char_end"),
          lit("},\"obj\":\""), col("concept_id"), lit("\"}")))
      .groupBy("doc_id")
      .agg(concat(lit("{\"target\":\"doc:"), col("doc_id"), lit("\",\"denotations\":["),
        Agg.orderedStringAgg(col("t_num"), col("denotation"), ","),
        lit("]}")).as("pubannotation"))
  }

  /** Inverse of [[pubannotation]] — parse PubAnnotation JSON documents back
    * into concept annotations (reference: file/conversion/pubannotation/
    * PubAnnotationDocumentReader.java:66-124, the gold-set loading
    * direction brat already has via [[bratImport]]): one annotation per
    * denotation (span.begin/end + obj = the ontology id), covered text
    * recovered from the document text exactly as the reader's
    * `documentText.substring(begin, end)` (:92-95, under the
    * DocumentReaderUtil.validateSpans discipline), and
    * `_lexicallyChainedTo` relations merged — the subject annotation
    * absorbs the object fragment's span and the fragment row disappears
    * (:103-112 subjAnnot.addSpan + map.remove(obj)); the relational
    * single-span model represents the merged discontinuous annotation by
    * its aggregate span (min begin .. max end — the reader's
    * getAggregateSpan). Other relation predicates leave both endpoint
    * annotations in place (the reader attaches an annotation relation;
    * the flat model keeps the rows). The merge is wholly IN-ROW — the
    * denotation and relation arrays of one JSON document are one row, so
    * chain resolution is a HOF fold with no shuffle at any corpus size;
    * the only wide stage is the doc-keyed join to the text column. */
  def pubannotationImport(docs: DataFrame, pa: DataFrame): DataFrame = {
    val paSchema = "target STRING, denotations ARRAY<STRUCT<id: STRING, " +
      "span: STRUCT<begin: BIGINT, `end`: BIGINT>, obj: STRING>>, " +
      "relations ARRAY<STRUCT<pred: STRING, subj: STRING, obj: STRING>>"
    val base = pa.select(
      from_json(col("pubannotation"), paSchema, Map.empty[String, String]).as("j"))
    val dens = coalesce(col("j.denotations"),
      array().cast("array<struct<id:string,span:struct<begin:bigint,end:bigint>,obj:string>>"))
    val chains = filter(
      coalesce(col("j.relations"),
        array().cast("array<struct<pred:string,subj:string,obj:string>>")),
      r => r("pred") === lit("_lexicallyChainedTo"))
    // heads = denotations that are not a chained-to fragment; each head's
    // span folds in the spans of the fragments chained onto it
    val merged = transform(
      filter(dens, d => !exists(chains, c => c("obj") === d("id"))),
      d => {
        val fragSpans = transform(filter(chains, c => c("subj") === d("id")),
          c => element_at(filter(dens, x => x("id") === c("obj")), 1)("span"))
        struct(
          d("obj").as("concept_id"),
          aggregate(fragSpans, d("span")("begin"),
            (acc, s) => least(acc, s("begin"))).as("char_start"),
          aggregate(fragSpans, d("span")("end"),
            (acc, s) => greatest(acc, s("end"))).as("char_end"))
      })
    base.select(
        regexp_extract(col("j.target"), "doc:(-?[0-9]+)", 1).cast("long").as("doc_id"),
        explode(merged).as("m"))
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("m.concept_id").as("concept_id"),
        col("m.char_start").as("char_start"), col("m.char_end").as("char_end"),
        col("text").substr(col("m.char_start") + 1,
          col("m.char_end") - col("m.char_start")).as("tok"))
  }

  /** doc_id, line — the sentence-cooccurrence BigQuery load file (reference:
    * etl/fn/SentenceCooccurrenceFileBuilderFn.java:39-70 +
    * util/serialization/SentenceCooccurrenceBuilder.java:42-164): per
    * document one `SENT_COUNT\t{n}\t{doc_id}` header, then one row per
    * concept-bearing sentence carrying the sentence's sha256 annotation id
    * (BigQueryUtil.getAnnotationIdentifier — sha256 over doc_id + span
    * start + covered text + layer + [sentence]), the sentence's concepts
    * serialized as sentence-relative `start|end|concept;` runs, and the
    * sentence text. Stopword-covered concepts are excluded
    * (SentenceCooccurrenceBuilder.java:96). The reference assigns concepts
    * to sentences by span overlap over per-doc maps; with token-windowed
    * sentences assignment is the sentence key itself, so the plan is two
    * doc-keyed aggregations plus one co-keyed join — no per-doc loops, no
    * span-range join. Concept order inside a run is pinned to
    * (char_start, concept_id) — the reference iterates a HashSet, and a
    * 100 TB export must be deterministic to be diffable. */
  def sentenceCooccur(docs: DataFrame, annots: DataFrame): DataFrame = {
    val sents = TextOps.sentences(docs)
    val header = sents.groupBy("doc_id").agg(count(lit(1)).as("n_sents"))
      .select(col("doc_id"),
        concat_ws("\t", lit("SENT_COUNT"), col("n_sents"), col("doc_id")).as("line"))
    val con = annots
      .where(!lower(col("tok")).isin(graft.functions.ConceptDict.stopwords: _*))
      .withColumn("sent_id", expr(s"(ord - 1) div ${TextOps.SentWindow}"))
    val rows = con
      .join(sents.select(col("doc_id"), col("sent_id"), col("sent_text"),
        col("char_start").as("s_start")), Seq("doc_id", "sent_id"))
      .withColumn("rel", concat(
        col("char_start") - col("s_start"), lit("|"),
        col("char_end") - col("s_start"), lit("|"),
        col("concept_id"), lit(";")))
      .groupBy("doc_id", "sent_id", "sent_text", "s_start")
      .agg(Agg.orderedStringAgg(struct(col("char_start"), col("concept_id")), col("rel"), "")
        .as("concepts"))
      .select(col("doc_id"), concat_ws("\t",
        sha2(concat(col("doc_id").cast("string"), col("s_start").cast("string"),
          col("sent_text"), lit("SENTENCE"), lit("[sentence]")), 256),
        col("concepts"), col("sent_text")).as("line"))
    header.unionByName(rows)
  }

  /** Annotation-batch assembly for human annotators (reference:
    * relation_extraction/ElasticsearchToBratExporter.java:129-254 — sample
    * candidate sentences, skip any whose sha256 text hash was already
    * annotated (`alreadyAnnotatedSentenceIds`) or already emitted in this
    * batch, stop at batchSize, and page the output into
    * sentences-per-page brat files). The ES/Google-Sheets plumbing around
    * it is out of scope; this is the samplable core. Spark-first:
    *  - hash-dedup is a groupBy on the sha256 hash with a struct-min
    *    canonical (no per-batch HashSet);
    *  - "already annotated" is a left-anti join against the hash set;
    *  - the reference's Random sampling becomes a deterministic
    *    pseudo-random order — sorting by the hash itself — so batches are
    *    reproducible (and diffable) across runs;
    *  - batch cut = orderBy(hash).limit(batchSize): a top-k
    *    TakeOrderedAndProject, never a full global sort of the corpus.
    * The position window below runs AFTER the limit, over ≤ batchSize
    * rows by construction — bounded, so the single task is fine
    * (PlanAuditSpec exempts windows over GlobalLimit inputs). */
  def annotationBatch(sents: DataFrame, alreadyAnnotated: DataFrame,
                      batchSize: Int = 100, perPage: Int = 20): DataFrame = {
    val w = Window.orderBy("sent_hash")
    val canonical = sents
      .withColumn("sent_hash", sha2(col("sent_text"), 256))
      .groupBy("sent_hash")
      .agg(min(struct(col("doc_id"), col("sent_id"))).as("c"),
        min("sent_text").as("sent_text"))
      .select(col("sent_hash"), col("c.doc_id").as("doc_id"),
        col("c.sent_id").as("sent_id"), col("sent_text"))
    canonical
      .join(alreadyAnnotated.select("sent_hash").distinct(), Seq("sent_hash"), "left_anti")
      .orderBy("sent_hash").limit(batchSize)
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("page", expr(s"(pos - 1) div $perPage"))
      .withColumn("ann_file", concat_ws("", lit("batch_"), col("page"), lit(".ann")))
      .select("pos", "page", "ann_file", "sent_hash", "doc_id", "sent_id", "sent_text")
  }

  /** Per-page brat FILE BODIES for an annotation batch (reference:
    * relation_extraction/ElasticsearchToBratExporter.java:214-254 and
    * writeSentenceToBratFiles at 260-301) — each page of the batch gets an
    * `.ann`/`.txt` file pair: the `.txt` carries one sentence per line and
    * closes with the reference's `DONE` marker; the `.ann` carries
    * `T{n}\t{type} {start} {end}\t{text}` lines whose span offsets and
    * T-numbering run CONTINUOUSLY within the page (offset advances by
    * sentence length + 1 per sentence, annIndex restarts at 1 per page,
    * annotations sorted by span within a sentence) and whose duplicate
    * (type, span, text) lines within one sentence are skipped. The entity
    * type is the lowercased ontology prefix — the analog of the reference's
    * `biolinkClass.name().toLowerCase()`. Composes [[annotationBatch]]
    * (page assignment) with the sentence table and annotation stream.
    *
    * Output: page, file, line_no, line — a distributed file-content table a
    * partitioned text sink lays onto disk verbatim. A page whose sentences
    * carry zero annotations contributes no `.ann` rows here; the sink
    * materializes that page's empty `.ann` from the batch's `ann_file`
    * column (the reference's writer likewise opens the file before knowing
    * whether any annotation line will land in it). Scale shape: the batch
    * is ≤ batchSize rows by construction, so it broadcasts into the two
    * corpus-side joins and every window below partitions by page over that
    * bounded input — nothing here is corpus-global. */
  def annotationBatchFiles(batch: DataFrame, sents: DataFrame,
                           annots: DataFrame): DataFrame = {
    val w = TextOps.SentWindow
    val wOff = Window.partitionBy("page").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    // The three union branches below (ann/txt/DONE lines) would each
    // re-evaluate the batch subtree — two corpus-wide sentence passes per
    // branch — so materialize the <= batchSize rows once (managed: drained
    // after the query like every graft cache).
    val b = broadcast(graft.infra.Caches.managed(
      batch.withColumn("off",
        coalesce(sum(length(col("sent_text")) + 1).over(wOff), lit(0L)))))
    val txtFile = concat(lit("batch_"), col("page"), lit(".txt"))
    val txtLines = b.select(col("page"), txtFile.as("file"),
      row_number().over(Window.partitionBy("page").orderBy("pos"))
        .cast("long").as("line_no"),
      col("sent_text").as("line"))
    val doneLines = b.groupBy("page").agg((count(lit(1)) + 1).as("line_no"))
      .select(col("page"), txtFile.as("file"), col("line_no"),
        lit("DONE").as("line"))
    val annLines = b
      .join(sents.select(col("doc_id"), col("sent_id"),
        col("char_start").as("sent_start")), Seq("doc_id", "sent_id"))
      .join(annots.withColumn("sent_id", expr(s"(ord - 1) div $w")),
        Seq("doc_id", "sent_id"))
      .select(col("page"), col("ann_file"), col("pos"),
        lower(substring_index(col("concept_id"), ":", 1)).as("typ"),
        (col("char_start") - col("sent_start") + col("off")).as("a_start"),
        (col("char_end") - col("sent_start") + col("off")).as("a_end"),
        col("tok"))
      .distinct() // ann_file is functionally dependent on page — no widening
      .withColumn("t_num", row_number().over(
        Window.partitionBy("page")
          .orderBy("pos", "a_start", "a_end", "typ", "tok")).cast("long"))
      .select(col("page"),
        col("ann_file").as("file"), // the batch's own name — one naming site
        col("t_num").as("line_no"),
        concat(lit("T"), col("t_num"), lit("\t"), col("typ"), lit(" "),
          col("a_start"), lit(" "), col("a_end"), lit("\t"), col("tok"))
          .as("line"))
    annLines.unionByName(txtLines).unionByName(doneLines)
  }

  /** Inception annotation-tool input (reference:
    * relation_extraction/InceptionInputFileCreator.java:55-95 createNewSubset
    * + :184-229 updateSentenceData): the third annotation-tool format beside
    * brat and WebAnno. From the WebAnno-style sentence/token stream it
    * (1) prepends the TSV 3.3 header block, (2) selects a bounded,
    * hash-deduped sentence subset (the reference samples randomly and skips
    * already-annotated hashes; here hash-ordered selection keeps the query
    * deterministic for the oracle — same bounded-batch discipline as
    * [[annotationBatch]]), (3) renumbers the selected sentences 1..n, and
    * (4) re-bases character offsets so they run CONSECUTIVELY through the
    * whole file (each sentence shifted by the running sum of prior sentence
    * lengths + 1 — the reference's globalCharacterOffset := lastSpanEnd+1).
    * The reference's multi-token entity re-indexing (updateEntityStr,
    * :233-252) is identity here: annotations are single-token, so no `[n]`
    * suffixes occur. A blank separator line follows every sentence block
    * except the last (reference:85-88 avoids the final line break).
    *
    * Output: pos (0 = header block), block_line, line — a distributed
    * file-content table like [[annotationBatchFiles]]; the batch is ≤
    * batchSize rows, so every window below runs over that bounded set and
    * the corpus-side token join broadcasts the batch. */
  def inception(docs: DataFrame, annots: DataFrame, batchSize: Int = 50): DataFrame = {
    val w = TextOps.SentWindow
    val spark = docs.sparkSession
    import spark.implicits._
    // sent_start must come from the SAME canonical (doc_id, sent_id) instance
    // — an independent min(char_start) over all instances of the hash would
    // shift token offsets off the #Text line whenever the canonical instance
    // is not the one with the smallest offset, so char_start rides inside the
    // canonical struct
    val canonical = TextOps.sentences(docs)
      .withColumn("sent_hash", sha2(col("sent_text"), 256))
      .groupBy("sent_hash")
      .agg(min(struct(col("doc_id"), col("sent_id"), col("char_start"))).as("c"),
        min("sent_text").as("sent_text"))
      .select(col("sent_hash"), col("c.doc_id").as("doc_id"),
        col("c.sent_id").as("sent_id"), col("sent_text"),
        col("c.char_start").as("sent_start"))
    val wPos = Window.orderBy("sent_hash")
    val wOff = wPos.rowsBetween(Window.unboundedPreceding, -1)
    // ≤ batchSize rows from here down: the partition-less windows are over
    // the bounded batch, never the corpus (annotationBatch discipline)
    val batch = broadcast(graft.infra.Caches.managed(
      canonical.orderBy("sent_hash").limit(batchSize)
        .withColumn("pos", row_number().over(wPos).cast("long"))
        .withColumn("off", coalesce(sum(length(col("sent_text")) + 1).over(wOff), lit(0L)))
        .withColumn("n_batch", count(lit(1)).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))))
    val header = Seq(
      (0L, 1L, "#FORMAT=WebAnno TSV 3.3"),
      (0L, 2L, "#T_SP=custom.Span|label"),
      (0L, 3L, ""), (0L, 4L, "")).toDF("pos", "block_line", "line")
    val textLines = batch.select(col("pos"), lit(1L).as("block_line"),
      concat(lit("#Text="), col("sent_text")).as("line"))
    val sepLines = batch.where(col("pos") < col("n_batch"))
      .select(col("pos"), lit(2L + w).as("block_line"), lit("").as("line"))
    val labels = annots.groupBy("doc_id", "ord").agg(min("concept_id").as("label"))
    val tokLines = batch
      .join(TextOps.tokens(docs).withColumn("sent_id", expr(s"(ord - 1) div $w")),
        Seq("doc_id", "sent_id"))
      .join(labels, Seq("doc_id", "ord"), "left")
      .withColumn("tnum", expr(s"(ord - 1) % $w + 1"))
      .select(col("pos"), (col("tnum") + 1L).as("block_line"),
        concat(col("pos"), lit("-"), col("tnum"), lit("\t"),
          col("char_start") - col("sent_start") + col("off"), lit("-"),
          col("char_end") - col("sent_start") + col("off"), lit("\t"),
          col("tok"), lit("\t"), coalesce(col("label"), lit("_"))).as("line"))
    header.unionByName(textLines).unionByName(tokLines).unionByName(sepLines)
  }

  /** doc_id, rebuilt_text, matches — reconstruct doc text from sentences and
    * prove span discipline (the reference validates spans the same way). */
  def textExport(docs: DataFrame): DataFrame =
    TextOps.sentences(docs)
      .groupBy("doc_id")
      .agg(Agg.orderedStringAgg(col("sent_id"), col("sent_text"), " ")
        .as("rebuilt_text"))
      .join(docs.select("doc_id", "text"), "doc_id")
      .select(col("doc_id"), col("rebuilt_text"), (col("rebuilt_text") === col("text")).as("matches"))

  /** doc_id, lang, source, n_sentences, n_concepts, concept_ids ('|'-joined,
    * sorted distinct) — the Elasticsearch document shape. */
  def esDocs(docs: DataFrame, annots: DataFrame): DataFrame = {
    val sentCounts = TextOps.sentences(docs).groupBy("doc_id").agg(count(lit(1)).as("n_sentences"))
    val conceptAgg = annots.select("doc_id", "concept_id").distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_concepts"),
        array_join(array_sort(collect_list(col("concept_id"))), "|").as("concept_ids"))
    docs.select("doc_id", "lang", "source")
      .join(sentCounts, Seq("doc_id"), "left")
      .join(conceptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_sentences"), lit(0L)).as("n_sentences"),
        coalesce(col("n_concepts"), lit(0L)).as("n_concepts"),
        coalesce(col("concept_ids"), lit("")).as("concept_ids"))
  }

  /** doc_id, line_ord, line — the Elasticsearch `_bulk` payload: an action
    * line (`{"index":{"_index":…,"_id":…}}`) paired with the document source
    * JSON (reference: fn/ElasticsearchDocumentCreatorFn.java builds the
    * document JSON, ElasticsearchLoadPipeline posts the stream to the bulk
    * API). `Sinks.tsv`/text writes this line stream as a _bulk-ready file;
    * line_ord keeps the action/source pairing explicit and order-stable. */
  def esBulk(docs: DataFrame, annots: DataFrame,
             indexName: String = "graft_docs"): DataFrame = {
    val d = esDocs(docs, annots)
    val action = concat(
      lit("{\"index\":{\"_index\":\"" + indexName + "\",\"_id\":\""),
      col("doc_id"), lit("\"}}"))
    val source = to_json(struct(col("doc_id"), col("lang"), col("source"),
      col("n_sentences"), col("n_concepts"), col("concept_ids")))
    d.select(col("doc_id"), posexplode(array(action, source)).as(Seq("ord0", "line")))
      .select(col("doc_id"), (col("ord0") + 1).cast("long").as("line_ord"), col("line"))
  }

  /** Star flatten: annotation rows with document metadata attached. */
  def flat(docs: DataFrame, annots: DataFrame): DataFrame =
    annots.join(docs.select("doc_id", "lang", "source"), "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("concept_id"),
        col("char_start"), col("char_end"))

  /** Annotator count for the annotation-repo statistics (the reference's
    * repo lays batches out as `<annotator>/<batch>/` directories). */
  val RepoAnnotators = 3

  private def annotatorBatch(sents: DataFrame, a: Int): DataFrame = {
    val prev = sents.where(pmod(col("doc_id"), lit(7L)) === a)
      .select(sha2(col("sent_text"), 256).as("sent_hash"))
    annotationBatch(sents, prev)
  }

  /** annotator, page, sent_hash — the whole annotation repo: one batch per
    * annotator (each with its own already-annotated exclusion set, so the
    * batches genuinely differ AND overlap). */
  def batchRepo(docs: DataFrame): DataFrame = {
    val sents = TextOps.sentences(docs)
    (0 until RepoAnnotators).map(a =>
      annotatorBatch(sents, a).withColumn("annotator", lit(s"ann$a")))
      .reduce(_ unionByName _)
  }

  /** The whole annotation repo's FILE BODIES: every annotator's batch
    * written through [[annotationBatchFiles]], tagged with the annotator —
    * the file-level twin of [[batchRepo]]. */
  def repoFiles(docs: DataFrame, annots: DataFrame): DataFrame = {
    val sents = TextOps.sentences(docs)
    (0 until RepoAnnotators).map { a =>
      annotationBatchFiles(annotatorBatch(sents, a), sents, annots)
        .withColumn("annotator", lit(s"ann$a"))
    }.reduce(_ unionByName _)
  }

  /** [[repoFiles]] staged once per (process, corpus): the repo stats
    * commands WALK A CHECKED-OUT REPO of already-written batch files — they
    * never regenerate the batches — so the stats queries read the staged
    * bodies while the generator queries (`annotation_batch`,
    * `annotation_batch_files`) keep deriving honestly. */
  def stagedRepoFiles(docs: DataFrame, annots: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnce("annotation_repo_files", sfDir,
      repoFiles(docs, annots), docs.sparkSession)

  /** [[batchRepo]] staged once per (process, corpus) — same repo-walk
    * contract as [[stagedRepoFiles]], keyed shape (annotator, page,
    * sent_hash) for the overlap matrix. */
  def stagedBatchRepo(docs: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnce("annotation_batch_repo", sfDir,
      batchRepo(docs), docs.sparkSession)

  /** annotator, file, n_sentences — per-annotator per-batch sentence
    * counts (reference: relation_extraction/annot_batch_cli/
    * RepoStatsCommand.java:72-182 — walk the repo's `.txt` files, count
    * non-blank non-`DONE` lines per (annotator, batch)). Counted from the
    * REAL file bodies ([[annotationBatchFiles]]' txt channel), exactly as
    * the reference counts file lines. Over [[stagedRepoFiles]] this
    * is one scan + one aggregation, the repo-walk shape. */
  def batchStatsFromRepo(repoFiles: DataFrame): DataFrame =
    repoFiles
      .where(col("file").endsWith(".txt") && col("line") =!= "DONE" &&
        trim(col("line")) =!= "")
      .groupBy("annotator", "file")
      .agg(count(lit(1)).as("n_sentences"))

  /** batch_a, batch_b, n_shared — the batch overlap matrix (reference:
    * RepoStatsCommand.java:184-260 — shared sentence-identifier counts
    * between batch keys; here the sparse nonzero half-matrix, keys
    * `<annotator>/batch_<page>`). One hash equi-join, never per-batch set
    * intersection on the driver. Over [[stagedBatchRepo]] the repo
    * rows are a file artifact, so the self-join's two sides are two
    * cheap scans. */
  def batchOverlapFromRepo(repo: DataFrame): DataFrame = {
    val b = repo.select(
      concat(col("annotator"), lit("/batch_"), col("page")).as("batch_key"),
      col("sent_hash"))
    b.select(col("batch_key").as("batch_a"), col("sent_hash"))
      .join(b.select(col("batch_key").as("batch_b"), col("sent_hash")), "sent_hash")
      .where(col("batch_a") < col("batch_b"))
      .groupBy("batch_a", "batch_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** sentence_id — the distinct sentence-hash catalog (reference:
    * relation_extraction/SentenceIdFileGenerator.java:27-46 walks sentence
    * files and collects ElasticsearchDocumentCreatorFn
    * .computeSentenceIdentifier ids — sha256 hex of the sentence text,
    * ElasticsearchDocumentCreatorFn.java:205-207). One distinct over a
    * per-row hash — map-side combinable, no sort. */
  def sentenceIds(docs: DataFrame): DataFrame =
    TextOps.sentences(docs)
      .select(sha2(col("sent_text"), 256).as("sentence_id"))
      .distinct()
}
