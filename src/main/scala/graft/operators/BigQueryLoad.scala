package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BigQuery multi-table load serialization — the reference's final
  * document-warehouse export (reference:
  * etl/util/serialization/BigQueryLoadBuilder.java:48-107,
  * BigQueryAnnotationSerializer.java, BigQueryUtil.java:27-35, and the
  * published load schemas in doc/bigquery schema JSON files).
  *
  * The reference walks every annotation layer of a document (sections and
  * paragraphs from the BioC channel, sentences/tokens/dependencies from the
  * Turku CoNLL-U channel, concepts from OGER) and emits per-TABLE load rows:
  *
  *  - `annotation` — one row per (annotation, span, type) with the
  *    span-derived digest id: sha256(documentId + spanStart + coveredText +
  *    layerName + sortedTypes.toString.toLowerCase)
  *    (BigQueryUtil.getAnnotationIdentifier:27-35; newline/tab in the
  *    covered text normalized to spaces first). Zero-width spans are
  *    dropped (BigQueryAnnotationSerializer.serializeAnnotation:262).
  *  - `in_section` / `in_paragraph` / `in_sentence` / `in_concept` — zone
  *    containment (inner_annot_id, outer_annot_id): an annotation is inside
  *    every zone whose span contains its span, EXCEPT that containment only
  *    runs DOWN the layer ordering SECTION < PARAGRAPH < SENTENCE < CONCEPT
  *    < TOKEN (BigQueryAnnotationSerializer.getCoveringSpanIds:195-207 —
  *    "prevent a section from being 'inside' a sentence", the equal-span
  *    title/section tie), and an annotation never contains itself.
  *  - `relation` — one row per dependency edge between token annotations:
  *    (source token id, "turku", dependency relation, head token id)
  *    (BigQueryLoadBuilder.extractDocumentZoneAnnotations:243-258).
  *
  * Spark-first: the per-document HashMap walk becomes one annotation
  * UNIVERSE (a 5-branch union of layer projections over the existing
  * channels — sections/sentences from the token stream, concepts from the
  * post-processed annotation table) and the covering-span search becomes a
  * doc_id equi-join with span-containment and layer-order predicates. The
  * join is doc-local (both sides carry doc_id), so at 100 TB it shuffles
  * once on doc_id and the per-document pair work is bounded by document
  * length — the same per-doc cost model as the reference's in-memory scan.
  *
  * Channel conventions (the synthetic corpus's standing analogs): sections
  * are the C2c title/abstract spans (Cooccurrence.sectionAnnots), the one
  * paragraph is the abstract body (BioC "paragraph" type), sentences are
  * the fixed-window segmentation with the Turku annotator (the reference
  * prefers dependency-parse segmentation when present —
  * BigQueryLoadBuilder.java:128-131), concepts are the post-processed
  * OGER-style annotations, tokens carry their upos as the mention type and
  * head = previous token in sentence with a deterministic relation label. */
object BigQueryLoad {

  /** Layer names in covering-order; index = position in
    * BigQueryAnnotationSerializer.layerOrdering. */
  val LayerOrder: Seq[String] = Seq("SECTION", "PARAGRAPH", "SENTENCE", "CONCEPT", "TOKEN")

  val DepRelations: Seq[String] = Seq("amod", "nmod", "nsubj", "obj")

  /** The span-derived annotation digest (BigQueryUtil.java:27-35): types
    * render as a lowercased single-element Java list literal. */
  private def annotId(docId: Column, start: Column, covered: Column,
                      layer: Column, atype: Column): Column =
    sha2(concat(docId.cast("string"), start.cast("string"),
      regexp_replace(covered, "[\\n\\t]", " "),
      layer, lit("["), lower(atype), lit("]")), 256)

  /** The annotation universe: doc_id, layer, layer_idx, annotator_name,
    * annotation_type, char_start, char_end, covered_text, annotation_id —
    * every row every load table derives from. */
  def annotationUniverse(docs: DataFrame, annots: DataFrame): DataFrame = {
    val sections = Cooccurrence.sectionAnnots(docs)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("section"), col("char_start"), col("char_end"),
        substring(col("text"), (col("char_start") + 1).cast("int"),
          (col("char_end") - col("char_start")).cast("int")).as("covered_text"))
    val secRows = sections.select(col("doc_id"), lit("SECTION").as("layer"),
      lit(0).as("layer_idx"), lit("bioc").as("annotator_name"),
      upper(col("section")).as("annotation_type"),
      col("char_start"), col("char_end"), col("covered_text"))
    // the abstract body is the document's one BioC paragraph zone — its
    // span EQUALS the ABSTRACT section span, exercising the equal-span
    // layer-ordering tie in both directions
    val parRows = sections.where(col("section") === "abstract")
      .select(col("doc_id"), lit("PARAGRAPH").as("layer"),
        lit(1).as("layer_idx"), lit("bioc").as("annotator_name"),
        lit("paragraph").as("annotation_type"),
        col("char_start"), col("char_end"), col("covered_text"))
    val sentRows = TextOps.sentences(docs)
      .select(col("doc_id"), lit("SENTENCE").as("layer"),
        lit(2).as("layer_idx"), lit("turku").as("annotator_name"),
        lit("sentence").as("annotation_type"),
        col("char_start"), col("char_end"), col("sent_text").as("covered_text"))
    val conRows = annots
      .select(col("doc_id"), lit("CONCEPT").as("layer"),
        lit(3).as("layer_idx"), lit("oger").as("annotator_name"),
        col("concept_id").as("annotation_type"),
        col("char_start"), col("char_end"), col("tok").as("covered_text"))
    val tokRows = TextOps.tokens(docs)
      .select(col("doc_id"), lit("TOKEN").as("layer"),
        lit(4).as("layer_idx"), lit("turku").as("annotator_name"),
        Conllu.uposFor("tok").as("annotation_type"),
        col("char_start"), col("char_end"), col("tok").as("covered_text"))
    secRows.unionByName(parRows).unionByName(sentRows)
      .unionByName(conRows).unionByName(tokRows)
      .withColumn("annotation_id", annotId(col("doc_id"), col("char_start"),
        col("covered_text"), col("layer"), col("annotation_type")))
  }

  /** [[annotationUniverse]] staged ONCE per (process, corpus), BUCKETED by
    * doc_id: the universe is the loaded annotation store (the thing the
    * serialized tables LOAD INTO) — in production the per-table projections
    * and the containment join read the store, they do not re-run the
    * five-layer extraction per table. Bucketing makes the zone join's two
    * sides co-located scans of one artifact (doc-local SMJ, no exchange) —
    * without it each join side re-derives the whole union (two full corpus
    * passes per query). */
  def stagedUniverse(docs: DataFrame, annots: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnceBucketed("bigquery_universe", sfDir,
      annotationUniverse(docs, annots), docs.sparkSession, "doc_id")

  /** The `annotation` table (doc/bigquery/schema: annotation-schema.json):
    * annotation_id, annotator_name, document_id, annotation_layer,
    * annotation_type, span_start, span_end, covered_text. Zero-width spans
    * dropped; covered text newline/tab-normalized (the TSV quote-doubling
    * in serializeAnnotation:269 is CSV-load framing, not table content). */
  def annotationTableFrom(u: DataFrame): DataFrame =
    u
      .where(col("char_start") =!= col("char_end"))
      // distinct BEFORE the doc_id→string cast, with the raw doc_id in the
      // keys: long→string is injective so the result set is identical, but
      // grouping on the BUCKET column (not its cast) lets the aggregation
      // ride the staged universe's doc_id bucketing with zero exchanges
      // (the same doc-id-in-the-keys discipline as the assertion-DB star)
      .select(col("annotation_id"), col("annotator_name"), col("doc_id"),
        col("layer").as("annotation_layer"), col("annotation_type"),
        col("char_start").as("span_start"), col("char_end").as("span_end"),
        regexp_replace(col("covered_text"), "[\\n\\t]", " ").as("covered_text"))
      .distinct()
      .select(col("annotation_id"), col("annotator_name"),
        col("doc_id").cast("string").as("document_id"),
        col("annotation_layer"), col("annotation_type"),
        col("span_start"), col("span_end"), col("covered_text"))

  /** The four zone tables as one result: table_key ("in_section" ...),
    * inner_annot_id, outer_annot_id — distinct, per the reference's
    * unique-map accumulation. Only SECTION..CONCEPT layers ever act as
    * zones; the layer-order predicate admits an inner annotation only at or
    * below its zone's layer. */
  def zoneTablesFrom(u: DataFrame): DataFrame = {
    val inner = u.select(col("doc_id"), col("annotation_id").as("inner_annot_id"),
      col("char_start").as("i_start"), col("char_end").as("i_end"),
      col("layer_idx").as("i_idx"))
    val zones = u.where(col("layer_idx") <= 3)
      .select(col("doc_id"), col("annotation_id").as("outer_annot_id"),
        col("char_start").as("z_start"), col("char_end").as("z_end"),
        col("layer_idx").as("z_idx"), col("layer").as("z_layer"))
    inner.join(zones, Seq("doc_id"))
      .where(col("z_start") <= col("i_start") && col("i_end") <= col("z_end") &&
        col("i_idx") >= col("z_idx") &&
        col("inner_annot_id") =!= col("outer_annot_id"))
      // the distinct MUST stay on the 3 output columns: annotation digests
      // can collide ACROSS documents (the reference's concat-based digest is
      // ambiguous at field boundaries — sha256(docId||start||...) — and the
      // serializer accumulates unique pairs globally), so a doc_id-extended
      // key would keep cross-doc duplicate pairs the reference drops
      // (measured: 28 extras at sf0.01). The exchange this plans is
      // partial-agg-bounded — map-side aggregation collapses intra-partition
      // duplicates before the shuffle, so it moves ~|unique pairs|, not the
      // raw join output.
      .select(concat(lit("in_"), lower(col("z_layer"))).as("table_key"),
        col("inner_annot_id"), col("outer_annot_id"))
      .distinct()
  }

  /** The `relation` table (relation-schema.json): one row per dependency
    * edge — each non-initial token of a sentence window depends on its
    * predecessor under a deterministic relation label (the Turku channel's
    * head/deprel columns, made synthetic the same way the CoNLL-U builder
    * synthesizes upos). */
  def relationTable(docs: DataFrame): DataFrame = {
    // spans are Generate outputs of tokens(), i.e. attributes: the
    // annotId hash input and the inferred null filters read them, they do
    // not re-derive them per reference
    val toks = TextOps.tokens(docs)
      .withColumn("sent_id", expr(s"(ord - 1) div ${TextOps.SentWindow}"))
      .withColumn("tok_id", ((col("ord") - 1) % TextOps.SentWindow + 1).cast("long"))
      .withColumn("annotation_id", annotId(col("doc_id"), col("char_start"),
        col("tok"), lit("TOKEN"), Conllu.uposFor("tok")))
    // the head token IS the previous token in the same document (ord is
    // dense per doc and head_ord = ord - 1), so the head's digest is a
    // lag(1) over the (doc_id, ord) window the token derivation already
    // sorted by — same rows as the former (doc_id, head_ord) self-join,
    // without a second tokenize pass and without broadcasting the full
    // token table (the join's build side was the whole corpus token
    // stream — a plan that cannot broadcast at scale)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("ord")
    toks
      .withColumn("target_annot_id", lag(col("annotation_id"), 1).over(w))
      .where(col("tok_id") > 1)
      .select(col("annotation_id").as("source_annot_id"),
        lit("turku").as("annotator_name"),
        element_at(
          array(DepRelations.map(lit): _*),
          (pmod(col("ord"), lit(DepRelations.size.toLong)) + 1).cast("int")).as("type"),
        col("target_annot_id"))
      .distinct()
  }
}
