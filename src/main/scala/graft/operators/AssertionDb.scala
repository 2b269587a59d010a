package graft.operators

import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Normalized text-mined-assertion DB star.
  *
  * The production consumer of the classified-sentence stream is a MySQL
  * star schema (reference: scripts/sql/text-mined-assertion-db.sql:26-79):
  * `assertion` (digest PK over subject/object/association), `evidence`
  * (digest PK, assertion FK, the sentence with document provenance — zone,
  * publication type, year), `entity` (the subject/object mention spans and
  * covered texts), and `evidence_score` (per-predicate classifier score,
  * PK (evidence_id, predicate)). The repo's `classified_sentences` +
  * JDBC sink cover the flat write; this operator is the 4-table
  * decomposition with FK integrity.
  *
  * All digests are sha256 hex over the natural key (the schema's
  * VARCHAR(65) digest ids; DuckDB-reproducible). Document provenance
  * follows the repo's standing conventions: zone from the sentence ordinal
  * window (0 = title, 1-2 = abstract, else body — the C2b device), year =
  * the Medline channel (doc_id%30+1990, 2155 — the reference's
  * DEFAULT_PUB_YEAR — for the year-less %7 channel), publication type a
  * two-value doc channel. Every table derives from ONE shared evidence
  * plan: doc-keyed joins only, dimension tables are grouped projections.
  */
object AssertionDb {

  val PredicateOf: Column =
    when(pmod(graft.functions.Hash60.id(
      concat_ws("|", col("concept_x"), col("concept_y"))), lit(2)) === 0,
      "biolink:located_in").otherwise("biolink:has_phenotype")

  /** The shared denormalized evidence plan: one row per classified
    * (sentence, pair) with every column any of the four tables projects. */
  def evidenceBase(docs: DataFrame, annots: DataFrame): DataFrame = {
    val classified = SentencePairs.classified(annots)
    val sents = TextOps.sentences(docs).select(col("doc_id"), col("sent_id"), col("sent_text"))
    val mentions = annots
      .select(col("doc_id"), col("ord"), col("tok"), col("char_start"), col("char_end"))
      .distinct()
    classified
      .withColumn("association_curie", PredicateOf)
      .join(sents, Seq("doc_id", "sent_id"))
      .join(mentions.select(col("doc_id"), col("ord").as("x_ord"), col("tok").as("x_tok"),
        col("char_start").as("x_start"), col("char_end").as("x_end")), Seq("doc_id", "x_ord"))
      .join(mentions.select(col("doc_id"), col("ord").as("y_ord"), col("tok").as("y_tok"),
        col("char_start").as("y_start"), col("char_end").as("y_end")), Seq("doc_id", "y_ord"))
      .withColumn("assertion_id", sha2(concat_ws("|",
        col("concept_x"), col("concept_y"), col("association_curie")), 256))
      .withColumn("evidence_id", sha2(concat_ws("|",
        col("doc_id"), col("sent_id"), col("concept_x"), col("concept_y"),
        col("association_curie")), 256))
      .withColumn("subject_entity_id", sha2(concat_ws("|",
        col("doc_id"), col("x_ord"), col("concept_x")), 256))
      .withColumn("object_entity_id", sha2(concat_ws("|",
        col("doc_id"), col("y_ord"), col("concept_y")), 256))
      .withColumn("document_zone",
        when(col("sent_id") === 0, "title")
          .when(col("sent_id") <= 2, "abstract").otherwise("body"))
      .withColumn("document_publication_type",
        when(col("doc_id") % 10 === 0, "Review").otherwise("Journal Article"))
      .withColumn("document_year_published",
        when(col("doc_id") % 7 === 0, lit(2155L)).otherwise(col("doc_id") % 30 + 1990))
  }

  /** [[evidenceBase]] staged ONCE per (process, corpus): the star's four
    * tables and the integrity gate are projections of one load — in
    * production they read the LOADED database, not a per-table re-run of
    * the NLP pipeline. The integrity query alone references the base from
    * eight join branches (14 s at sf0.1 un-staged; file-backed each branch
    * is a parquet scan).
    *
    * BUCKETED by doc_id (VERDICT r14 item 2): every digest id except the
    * assertion digest embeds doc_id in its natural key, so the per-table
    * distincts and the integrity gate's id joins are DOC-LOCAL — with the
    * base bucketed on doc_id and doc_id kept in the grouping/join keys,
    * they plan with zero exchanges on the base side (the same co-location
    * play as the cooccurrence unit-concept tables; pinned by
    * BucketingSpec). */
  def stagedBase(docs: DataFrame, annots: DataFrame, sfDir: String): DataFrame =
    graft.infra.Staging.stageOnceBucketed("assertion_db_base", sfDir,
      evidenceBase(docs, annots), docs.sparkSession, "doc_id")

  /** assertion_id, subject_curie, object_curie, association_curie. */
  def assertionsFrom(base: DataFrame): DataFrame =
    base
      .select(col("assertion_id"), col("concept_x").as("subject_curie"),
        col("concept_y").as("object_curie"), col("association_curie"))
      .distinct()

  /** The evidence table (text-mined-assertion-db.sql:40-52).
    *
    * Every projected column is determined by doc-embedded keys
    * (evidence_id = sha over doc_id|sent_id|pair|assoc; document_id =
    * "PMID:"+doc_id), so the dedup groups never cross documents — doc_id
    * rides in the grouping keys and the distinct becomes a doc-local
    * aggregate the bucketed base satisfies WITHOUT an exchange. */
  def evidenceFrom(base: DataFrame): DataFrame =
    docLocalDistinct(evidenceProjected(base))

  private def evidenceProjected(base: DataFrame): DataFrame =
    base.select(col("doc_id"), col("evidence_id"), col("assertion_id"),
      concat(lit("PMID:"), col("doc_id")).as("document_id"),
      col("sent_text").as("sentence"),
      col("subject_entity_id"), col("object_entity_id"),
      col("document_zone"), col("document_publication_type"),
      col("document_year_published"))

  /** entity_id, span ("start|end"), covered_text — subject and object
    * mentions unioned and deduplicated (:60-65). The union is expressed as
    * an explode of a 2-struct array so ONE scan of the bucketed base feeds
    * it and the doc_id partitioning survives into the doc-local distinct
    * (entity_id = sha over doc_id|ord|concept — never cross-doc); a
    * two-branch Union would reset the output partitioning and force the
    * dedup to shuffle. */
  def entitiesFrom(base: DataFrame): DataFrame =
    docLocalDistinct(entitiesProjected(base))

  private def entitiesProjected(base: DataFrame): DataFrame =
    base.select(col("doc_id"), explode(array(
        struct(col("subject_entity_id").as("entity_id"),
          concat_ws("|", col("x_start"), col("x_end")).as("span"),
          col("x_tok").as("covered_text")),
        struct(col("object_entity_id").as("entity_id"),
          concat_ws("|", col("y_start"), col("y_end")).as("span"),
          col("y_tok").as("covered_text")))).as("m"))
      .select(col("doc_id"), col("m.entity_id"), col("m.span"), col("m.covered_text"))

  /** evidence_id, predicate_curie, score — one scored predicate per
    * evidence row (:73-79; PK (evidence_id, predicate_curie) holds because
    * evidence_id already encodes the pair and the pair determines the
    * predicate). Doc-local like [[evidenceFrom]]. */
  def evidenceScoresFrom(base: DataFrame): DataFrame =
    docLocalDistinct(scoresProjected(base))

  private def scoresProjected(base: DataFrame): DataFrame =
    base.select(col("doc_id"), col("evidence_id"),
      col("association_curie").as("predicate_curie"),
      Num.r6(col("score")).as("score"))

  /** Distinct over `projected` (whose first column is doc_id) with doc_id
    * IN the grouping keys, then dropped: because every other column is
    * determined by a doc-embedded digest, the result set is identical to a
    * global distinct, but the aggregate's required distribution is
    * satisfied by the base's doc_id bucketing — zero exchanges. */
  private def docLocalDistinct(projected: DataFrame): DataFrame =
    withDoc(projected).drop("doc_id")

  /** The doc-local distinct with doc_id still in the row — the shape the
    * integrity gate's doc-local joins consume. */
  private def withDoc(projected: DataFrame): DataFrame =
    projected.distinct()

  /** One row of orphan counts — the FK integrity the MySQL schema's
    * foreign keys enforce, asserted relationally: evidence rows without
    * their assertion, scores without their evidence, evidence without its
    * entity rows, plus duplicate-PK counts. All zero on a correct build.
    *
    * Every id except the assertion digest embeds doc_id, so the orphan
    * checks are DOC-LOCAL joins: both sides keep doc_id, the join keys are
    * (doc_id, id) — semantically identical to joining on the id alone —
    * and every branch reads the bucketed base with zero exchanges. The one
    * genuinely global side (the assertion dimension) is tiny → broadcast
    * anti-join. */
  def integrityFrom(base: DataFrame): DataFrame = {
    val a = assertionsFrom(base)
    // Narrowed evidence distinct: every column evidenceProjected carries
    // beyond these keys (sentence, zone, document_id, publication type,
    // year, assertion_id) is DETERMINED by evidence_id's natural key
    // (doc_id|sent_id|pair|assoc), so distinct over (doc_id, evidence_id,
    // entity ids) has exactly the full-row distinct's cardinality — the
    // entity digests are the one non-determined pair (same sentence pair
    // via different mention ords), which is what duplicate_evidence_ids
    // counts. Dropping the sentence text from the grouping keys removes
    // full-text hashing from all four branches (PERF_AUDIT_r15: the e
    // distinct was the gate's dominant aggregate). All four branches read
    // e, so the distinct computes once per invocation (query-scoped
    // managed cache), not four times.
    val e = graft.infra.Caches.managed(
      base.select(col("doc_id"), col("evidence_id"), col("assertion_id"),
        col("subject_entity_id"), col("object_entity_id")).distinct())
    val s = withDoc(scoresProjected(base))
    val ent = withDoc(entitiesProjected(base))
    val evOrphans = e.join(broadcast(a.select("assertion_id")), Seq("assertion_id"), "left_anti")
      .select(count(lit(1)).as("evidence_without_assertion"))
    val scoreOrphans = s.join(e.select("doc_id", "evidence_id"),
        Seq("doc_id", "evidence_id"), "left_anti")
      .select(count(lit(1)).as("scores_without_evidence"))
    val subjOrphans = e.select(col("doc_id"), explode(array(
        col("subject_entity_id"), col("object_entity_id"))).as("entity_id"))
      .join(ent.select("doc_id", "entity_id"), Seq("doc_id", "entity_id"), "left_anti")
      .select(count(lit(1)).as("evidence_without_entity"))
    val dupPks = e.groupBy("doc_id", "evidence_id").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select(count(lit(1)).as("duplicate_evidence_ids"))
    evOrphans.crossJoin(scoreOrphans).crossJoin(subjOrphans).crossJoin(dupPks)
  }
}
