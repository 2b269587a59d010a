package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The concept dictionary + ontology ancestor map.
  *
  * Stands in for the OGER ontology dictionaries
  * (reference: src/main/java/edu/cuanschutz/ccp/tm_provider/oger/dict,
  * util/OntologyClassAncestorMapFactory.java). The reference ships ontology
  * class → label dictionaries and a class → ancestor-set map used to expand
  * concept sets before cooccurrence counting
  * (reference: etl/ConceptIdfPipeline.java:120-140).
  *
  * Single source of truth: these Scala structures generate BOTH the broadcast
  * DataFrames used by the engine AND the inline `VALUES` fragments used in the
  * DuckDB oracle SQL, so engine and oracle can never drift.
  */
object ConceptDict {

  /** prefix (semantic group, analog of CHEBI/MONDO/PR/...) -> member tokens */
  val groups: Seq[(String, Seq[String])] = Seq(
    "OP" -> Seq("join", "sort", "merge", "scan", "filter", "agg", "group", "hash", "window", "query"),
    "DS" -> Seq("table", "row", "column", "key", "value", "data", "vector", "batch", "stream", "line"),
    "SZ" -> Seq("big", "small", "fast", "slow"),
    "ENT" -> Seq("customer", "part", "order", "spark"))

  /** (token, concept_id) — deterministic order */
  val entries: Seq[(String, String)] =
    for ((p, ts) <- groups; t <- ts.sorted) yield (t, s"$p:$t")

  /** DIRECT subclass edges (child, parent) — the one declaration of the
    * hierarchy, the raw form the reference derives closures from
    * (util/CreateUmlsSubclassOntology). join/merge go through the JOINLIKE
    * mid-level. */
  val directEdges: Seq[(String, String)] =
    entries.map { case (_, c) =>
      if (c == "OP:join" || c == "OP:merge") (c, "OP:JOINLIKE")
      else (c, c.takeWhile(_ != ':') + ":ROOT")
    } :+ ("OP:JOINLIKE" -> "OP:ROOT")

  /** (child, ancestor) — transitive closure of a (child, parent) edge set,
    * walked on the driver the way util/OntologyClassAncestorMapFactory walks
    * the hierarchy once in one JVM: an ontology is constant map data, so a
    * distributed fixpoint over it only adds jobs. Breadth-first from each
    * child in edge order; the visited set ends the walk on a cycle. */
  def closure(edges: Seq[(String, String)]): Seq[(String, String)] = {
    val parents = edges.distinct.groupMap(_._1)(_._2)
    edges.map(_._1).distinct.flatMap { child =>
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      var frontier = parents.getOrElse(child, Nil)
      while (frontier.nonEmpty) {
        val fresh = frontier.filter(seen.add)
        frontier = fresh.flatMap(parents.getOrElse(_, Nil))
      }
      seen.toSeq.map(child -> _)
    }
  }

  /** (child, ancestor) closure of [[directEdges]]. */
  val ontologyClosure: Seq[(String, String)] = closure(directEdges)

  /** (concept_id, ancestor_id): the closure rows of dictionary concepts —
    * every concept has its group ROOT ancestor; join/merge also roll up to
    * OP:JOINLIKE (multi-ancestor case). */
  val ancestors: Seq[(String, String)] = {
    val concepts = entries.map(_._2).toSet
    ontologyClosure.filter { case (c, _) => concepts(c) }
  }

  /** (concept_id, itself followed by its ancestors) for every concept with
    * an ancestor — the in-row form of [[ancestors]] that
    * Concepts.withAncestors explodes. */
  val lineage: Seq[(String, Seq[String])] =
    ancestors.groupMap(_._1)(_._2).toSeq.sortBy(_._1).map { case (c, as) => (c, c +: as) }

  def directEdgesValuesSql(alias: String = "edges"): String =
    directEdges.map { case (c, p) => s"('$c','$p')" }
      .mkString("(VALUES ", ", ", s") AS $alias(child, parent)")

  val stopwords: Seq[String] = Seq("a", "the")

  /** (group, excluded covered text) — annotations of this group whose
    * covered text equals the excluded string (case-insensitive) are dropped
    * (reference: ConceptPostProcessingFn.removeIdToTextExclusionPairs:1162 —
    * e.g. the common-word sense of an ontology label). */
  val exclusionPairs: Seq[(String, String)] = Seq("DS" -> "line", "OP" -> "window")

  def exclusionDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    exclusionPairs.toDF("x_group", "x_text")
  }

  def exclusionValuesSql: String =
    exclusionPairs.map { case (g, t) => s"('$g','$t')" }
      .mkString("(VALUES ", ", ", ") AS excl(x_group, x_text)")

  /** Concept promotion map (reference: util/NcbiTaxonPromotionMapFactory,
    * MondoToHpEquivalenceMapFileFactory — canonicalize specific ids before
    * counting; util/PrPromotionMapFactory.java:29-72 — promote a
    * species-specific protein class to its LOWEST gene-level ancestor).
    * The PR rule here is the OP rows: join/merge promote to their
    * mid-level OP:JOINLIKE ancestor (the "gene level" of this hierarchy),
    * not all the way to OP:ROOT — same lowest-category-ancestor semantics.
    * One broadcast table for all three reference factories; the promotion
    * operator is map data, not code. */
  val promotions: Seq[(String, String)] = Seq(
    "ENT:spark" -> "ENT:engine",
    "SZ:big" -> "SZ:large",
    "OP:join" -> "OP:JOINLIKE",
    "OP:merge" -> "OP:JOINLIKE")

  def promotionsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    promotions.toDF("concept_id", "promoted_id")
  }

  def promotionsValuesSql: String =
    promotions.map { case (c, p) => s"('$c','$p')" }
      .mkString("(VALUES ", ", ", ") AS promo(concept_id, promoted_id)")

  def dictDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entries.toDF("tok", "concept_id")
  }

  /** Ontology class → label rows BEFORE normalization (reference:
    * util/OntologyClassLabelMapFactory.java:26-52 — every class in the
    * ontology, label from rdfs:label, `_null` when absent). The class
    * universe is everything the hierarchy knows: dictionary classes (label =
    * their lexical token), plus the non-lexical mid/root/promotion-target
    * classes, which carry no rdfs:label here and emit the reference's
    * `_null` placeholder. Deterministic order. */
  def labelEntries: Seq[(String, String)] = {
    val dictLabels = entries.map { case (t, c) => (c, t) }.toMap
    val allClasses = (entries.map(_._2) ++
      ancestors.flatMap { case (c, a) => Seq(c, a) } ++
      promotions.flatMap { case (c, p) => Seq(c, p) }).distinct.sorted
    allClasses.map(c => (c, dictLabels.getOrElse(c, "_null")))
  }

  /** The label map as a DataFrame, with the reference's one-trailing-quote
    * strip (`label.endsWith("\"") → drop last char`) applied as a column
    * expression — the normalization is part of the map derivation, not of
    * the static data. */
  def labelMapDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    labelEntries.toDF("concept_id", "raw_label")
      .select(col("concept_id"),
        regexp_replace(col("raw_label"), "\"$", "").as("label"))
  }

  def labelValuesSql: String =
    labelEntries.map { case (c, l) => s"('$c','${l.replace("'", "''")}')" }
      .mkString("(VALUES ", ", ", ") AS lbl(concept_id, raw_label)")

  /** Dictionary-file export (reference: oger/dict OgerDictFileFactory family
    * builds normalized label→class dictionaries from ontologies). Emits the
    * normalized dictionary as rows: concept_id, label, label_norm, group. */
  def dictExport(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    entries.toDF("label", "concept_id")
      .select(col("concept_id"), col("label"), lower(col("label")).as("label_norm"),
        substring_index(col("concept_id"), ":", 1).as("group"))
  }

  def ancestorsDF(spark: SparkSession): DataFrame = {
    import spark.implicits._
    ancestors.toDF("concept_id", "ancestor_id")
  }

  // ---- oracle SQL fragments (inline VALUES; same data as above) ----

  def dictValuesSql: String =
    entries.map { case (t, c) => s"('$t','$c')" }
      .mkString("(VALUES ", ", ", ") AS dict(tok, concept_id)")

  def ancestorsValuesSql: String =
    ancestors.map { case (c, a) => s"('$c','$a')" }
      .mkString("(VALUES ", ", ", ") AS anc(concept_id, ancestor_id)")

  def stopwordsInSql: String = stopwords.map(s => s"'$s'").mkString("(", ", ", ")")
}
