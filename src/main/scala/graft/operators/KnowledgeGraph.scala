package graft.operators

import graft.functions.ConceptDict
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Knowledge-graph edge/node export.
  *
  * The reference's end product is a Biolink-model knowledge graph: concept
  * cooccurrence scores become TRAPI edges (reference: kg/ontology_kg
  * OntologyToKgx, trapi package, util/BiolinkConstants.java — concept
  * prefix → biolink category mapping; doc/bigquery cooccurrence schema).
  * Here: nodes = dictionary concepts with a category from their group;
  * edges = metric-scored cooccurrence pairs with a relatedness predicate.
  */
object KnowledgeGraph {

  /** group prefix → category (BiolinkConstants analog, single source of truth
    * shared with the oracle via categoryCaseSql). */
  val categories: Map[String, String] = Map(
    "OP" -> "graft:Operation",
    "DS" -> "graft:DataShape",
    "SZ" -> "graft:Qualifier",
    "ENT" -> "graft:Entity")

  def categoryCaseSql(c: String): String = {
    val whens = categories.map { case (p, cat) =>
      s"WHEN split_part($c, ':', 1) = '$p' THEN '$cat'"
    }.mkString(" ")
    s"(CASE $whens ELSE 'graft:NamedThing' END)"
  }

  /** The category mapping as DATA — a (prefix, category) table — rather
    * than a case expression (reference:
    * etl/util/OntologyClassBiolinkCategoryMapFactory.java and
    * OntologyClassLabelMapFactory.java build these maps from ontology
    * files, not code). Joined broadcast wherever a category is derived, so
    * at scale the mapping ships as a tiny broadcast and is swappable
    * without recompiling; unmapped prefixes default to graft:NamedThing
    * via left-join + coalesce, exactly the case expression's ELSE. */
  def categoryMap(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    categories.toSeq.toDF("prefix", "category")
  }

  /** The ontology-prefix → biolink-category map (reference: etl/util/
    * OntologyClassBiolinkCategoryMapFactory.main:106-116 — public Biolink
    * model curies). Map DATA, broadcast wherever used. */
  val biolinkPrefixMap: Map[String, String] = Map(
    "CHEBI" -> "biolink:ChemicalSubstance",
    "CL" -> "biolink:Cell",
    "MOP" -> "biolink:MolecularActivity",
    "NCBITaxon" -> "biolink:OrganismTaxon",
    "PR" -> "biolink:GeneOrGeneProduct",
    "SO" -> "biolink:SequenceFeature",
    "UBERON" -> "biolink:AnatomicalEntity",
    "MONDO" -> "biolink:Disease",
    "HP" -> "biolink:PhenotypicFeature")

  /** concept_id, namespace, default_category — the synthetic ontology-class
    * universe the biolink map factory walks (the reference iterates every
    * OWL class of each ontology file; ontologies here derive from `part`
    * like the dict factories). Channels exercised: GO classes with the
    * three-way namespace split, a `%5` trailing-quote namespace variant
    * (the :45-47 strip), a `%17` missing-namespace channel, prefix-mapped
    * classes (CHEBI/MONDO), a pr-ontology class with an UNMAPPED prefix
    * (EXT — takes the per-ontology default, :151-154), and an unmapped
    * prefix with no default (ZZ — the `biolink:Thing` fallback, :68-70). */
  def biolinkClassUniverse(part: DataFrame): DataFrame = {
    val pk = col("p_partkey")
    val ns0 = when(pmod(pk, lit(3)) === 0, lit("biological_process"))
      .when(pmod(pk, lit(3)) === 1, lit("cellular_component"))
      .otherwise(lit("molecular_function"))
    val goNs = when(pmod(pk, lit(17)) === 0, lit(null).cast("string"))
      .otherwise(when(pmod(pk, lit(5)) === 0, concat(ns0, lit("\""))).otherwise(ns0))
    part.select(explode(array(
      struct(concat(lit("GO:"), pk).as("concept_id"), goNs.as("namespace"),
        lit(null).cast("string").as("default_category")),
      struct(concat(lit("CHEBI:"), pk).as("concept_id"),
        lit(null).cast("string").as("namespace"),
        lit(null).cast("string").as("default_category")),
      struct(concat(lit("MONDO:"), pk).as("concept_id"),
        lit(null).cast("string").as("namespace"),
        lit(null).cast("string").as("default_category")),
      struct(concat(lit("EXT:"), pk).as("concept_id"),
        lit(null).cast("string").as("namespace"),
        lit("biolink:GeneOrGeneProduct").as("default_category")),
      struct(concat(lit("ZZ:"), pk).as("concept_id"),
        lit(null).cast("string").as("namespace"),
        lit(null).cast("string").as("default_category")))).as("c"))
      .select(col("c.concept_id"), col("c.namespace"), col("c.default_category"))
  }

  /** concept_id, category — the class-id → biolink-category map file
    * (reference: etl/util/OntologyClassBiolinkCategoryMapFactory.java:30-75:
    * GO classes route on their namespace annotation — biological_process /
    * cellular_component / molecular_function, a trailing quote stripped
    * first (:45-47), empty category when the namespace is missing (:58-60);
    * every other id takes prefixToBiolinkMap on its prefix (:61-66), falling
    * back to the per-ontology default, then `biolink:Thing` (:68-70)).
    * One broadcast join on the prefix — the class universe is
    * ontology-sized. The reference throws on an unknown GO namespace (:55);
    * callers guarantee the three known namespaces, as its ontology files do. */
  def biolinkCategoryMap(classes: DataFrame): DataFrame = {
    val spark = classes.sparkSession
    import spark.implicits._
    val pfxMap = broadcast(biolinkPrefixMap.toSeq.toDF("prefix", "mapped"))
    val ns = regexp_replace(col("namespace"), "\"$", "")
    classes
      .withColumn("prefix", substring_index(col("concept_id"), ":", 1))
      .join(pfxMap, Seq("prefix"), "left")
      .select(col("concept_id"),
        when(col("prefix") === "GO",
          when(col("namespace").isNull, lit(""))
            .when(ns === "biological_process", lit("biolink:BiologicalProcess"))
            .when(ns === "cellular_component", lit("biolink:CellularComponent"))
            .when(ns === "molecular_function", lit("biolink:MolecularActivity")))
          .otherwise(coalesce(col("mapped"), col("default_category"),
            lit("biolink:Thing"))).as("category"))
  }

  /** Left-broadcast-join `outCol` onto `df` from the prefix of `conceptCol`. */
  private def joinCategory(df: DataFrame, conceptCol: String, outCol: String): DataFrame = {
    val pfx = s"__pfx_$outCol"
    val cats = broadcast(categoryMap(df.sparkSession)
      .select(col("prefix").as(pfx), col("category").as(s"__cat_$outCol")))
    df.withColumn(pfx, substring_index(col(conceptCol), ":", 1))
      .join(cats, Seq(pfx), "left")
      .withColumn(outCol, coalesce(col(s"__cat_$outCol"), lit("graft:NamedThing")))
      .drop(pfx, s"__cat_$outCol")
  }

  /** child, parent — the dictionary ontology's ancestor closure
    * ([[graft.functions.ConceptDict.ontologyClosure]], walked once on the
    * driver from the direct subclass edges, as the reference's
    * util/OntologyClassAncestorMapFactory builds its ancestor map) as a
    * local relation: no Spark job builds it, and every consumer
    * (ancestor_table, ontology_closure, concepts_exclude_subtree) reads the
    * same constant rows. */
  def ontologyClosure(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    graft.functions.ConceptDict.ontologyClosure.toDF("child", "parent")
  }

  /** Node table: concept_id, name, category (category via the broadcast
    * mapping table, name from the dictionary data itself). */
  def nodes(spark: org.apache.spark.sql.SparkSession): DataFrame =
    joinCategory(ConceptDict.dictDF(spark), "concept_id", "category")
      .select(col("concept_id"), col("tok").as("name"), col("category"))

  /** Edge table from document-level cooccurrence metrics: subject, object,
    * predicate, subject_category, object_category, pair_count, ngd, npmi.
    * Two broadcast category joins — one per endpoint. Reads the published
    * cooccurrence-scores table (staged artifact — the reference's KG build
    * reads the exported scores, it does not re-run the pair join;
    * trapi_edges' 0.42 → 1.08 s r14 drift was exactly the honest per-query
    * rebuild of that chain). */
  def edgesFromMetrics(base: DataFrame): DataFrame = {
    joinCategory(joinCategory(base, "concept1", "subject_category"),
        "concept2", "object_category")
      .select(
        col("concept1").as("subject"),
        col("concept2").as("object"),
        lit("graft:related_to").as("predicate"),
        col("subject_category"), col("object_category"),
        col("pair_count"), col("ngd"), col("npmi"))
  }

  /** degree, n_nodes — degree-distribution histogram of the cooccurrence
    * graph (the power-law data card a KG release publishes; a hub whose
    * degree dwarfs the curve is the node that breaks BFS/PageRank cost
    * models). Two map-side-combinable aggregations over the edge list —
    * degree per node, then nodes per degree (a ≤|V|-key rollup). */
  def degreeDistFromPairs(pairs: DataFrame): DataFrame = {
    pairs.select(col("concept1").as("src"))
      .unionAll(pairs.select(col("concept2").as("src")))
      .groupBy("src").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
  }

  val PageRankIters = 5
  val PageRankScale = 1000000L

  /** concept_id, degree, pagerank — damped PageRank (d = 0.85, fixed
    * [[PageRankIters]] rounds) over the undirected document-cooccurrence
    * graph, the centrality the reference's KG consumers derive downstream
    * of the cooccurrence edge export (reference: kg/ontology_kg +
    * doc/bigquery cooccurrence schema — the graph itself; centrality is
    * the standard Biolink-graph telemetry over it).
    *
    * All arithmetic is integer micro-units so both engines are exact and
    * order-independent: ranks start at 10⁶ per node; each round a node
    * sends `rank div degree` to every neighbor and resets to
    * `0.15·10⁶ + (85·Σ incoming) div 100`. Long sums commute, integral
    * division is deterministic — no float accumulation anywhere until the
    * final display division.
    *
    * Scale shape: the edge list materializes once (localCheckpoint — also
    * truncates lineage so the plan doesn't double per round, as each
    * Dedup.connectedComponents round does); each round is ONE equi-join of the edge
    * list against the (small) rank table plus one groupBy shuffle on the
    * destination key — the Pregel cost model. Degrees are computed once.
    * Rounds are a fixed constant, so total cost is O(iters · |E|) with no
    * driver-side data movement at all. */
  def pageRankFromPairs(pairsIn: DataFrame, iterations: Int = PageRankIters): DataFrame = {
    val pairs = pairsIn.select("concept1", "concept2")
    // concept1 < concept2 by construction, so the two directions are
    // disjoint — plain unionByName, no distinct
    val edges = pairs.select(col("concept1").as("src"), col("concept2").as("dst"))
      .unionByName(pairs.select(col("concept2").as("src"), col("concept1").as("dst")))
    // adjacency with out-degree attached, materialized ONCE — each round
    // then costs a single equi-join against the rank table instead of two
    val adj = edges.join(
        edges.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .localCheckpoint()
    val deg = adj.select(col("src"), col("deg")).distinct().localCheckpoint()
    var ranks = deg.select(col("src").as("concept_id"), lit(PageRankScale).as("rank_u"))
    for (_ <- 1 to iterations) {
      val incoming = adj
        .join(ranks.withColumnRenamed("concept_id", "src"), "src")
        .select(col("dst").as("concept_id"), expr("rank_u div deg").as("c"))
        .groupBy("concept_id")
        .agg(sum("c").as("in_u"))
      ranks = deg.select(col("src").as("concept_id"))
        .join(incoming, Seq("concept_id"), "left")
        .select(col("concept_id"),
          expr("CAST(150000 AS BIGINT) + (85 * coalesce(in_u, CAST(0 AS BIGINT))) div 100")
            .as("rank_u"))
        .localCheckpoint()
    }
    ranks.join(deg.withColumnRenamed("src", "concept_id"), "concept_id")
      .select(col("concept_id"), col("deg").cast("long").as("degree"),
        (col("rank_u") / lit(1000000.0)).as("pagerank"))
  }

  val KHopRounds = 3

  /** concept_id, dist — BFS layers: the shortest-path distance (≤
    * [[KHopRounds]] hops) from the seed set (concepts of one prefix) over
    * the undirected cooccurrence graph — the "k-hop neighborhood of a
    * category" expansion KG consumers run for subgraph extraction. Same
    * Pregel cost model as [[pageRankFromPairs]]: the edge list materializes once,
    * each round is one equi-join of edges against the current distance
    * table plus a min-groupBy — the frontier never needs to be
    * distinguished from the settled set because min() is idempotent, so
    * no driver-side convergence probe exists at all. Distances are exact
    * integers. */
  def kHopFromPairs(pairsIn: DataFrame, seedPrefix: String = "OP",
                    rounds: Int = KHopRounds): DataFrame = {
    val pairs = pairsIn.select("concept1", "concept2")
    val edges = pairs.select(col("concept1").as("src"), col("concept2").as("dst"))
      .unionByName(pairs.select(col("concept2").as("src"), col("concept1").as("dst")))
      .localCheckpoint()
    var dist = edges.select(col("src").as("concept_id")).distinct()
      .where(substring_index(col("concept_id"), ":", 1) === seedPrefix)
      .select(col("concept_id"), lit(0L).as("dist"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val frontier = edges
        .join(dist.withColumnRenamed("concept_id", "src"), "src")
        .select(col("dst").as("concept_id"), (col("dist") + lit(1L)).as("dist"))
      dist = dist.unionByName(frontier)
        .groupBy("concept_id").agg(min("dist").as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** concept_id, degree, n_triangles, clustering_coeff — triangle counts
    * and the local clustering coefficient 2T/(d(d−1)) per node over the
    * cooccurrence graph (the cohesion telemetry that separates hub-like
    * concepts from clique-embedded ones). Enumeration uses the ordered-edge
    * discipline (a < b < c): wedges come from ONE self-equi-join of the
    * ordered edge list on the middle node and close with a semi-join
    * against the same list — wedge volume is Σ_b d₍<₎(b)·d₍>₎(b), the
    * standard bound that keeps hub nodes from quadratic blowup on the low
    * side, and every step is an equi-join (no cartesian anywhere). Counts
    * and degrees are exact integers; the coefficient is one rounded
    * division at the end. */
  def trianglesFromPairs(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn
      .select(col("concept1").as("a"), col("concept2").as("b"))
      .localCheckpoint()
    val wedges = pairs.as("x")
      .join(pairs.as("y"), col("x.b") === col("y.a"))
      .select(col("x.a").as("a"), col("x.b").as("b"), col("y.b").as("c"))
    val tri = wedges.join(
      pairs.select(col("a"), col("b").as("c")),
      Seq("a", "c"), "left_semi")
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("concept_id"))
      .groupBy("concept_id").agg(count(lit(1)).as("n_triangles"))
    val deg = pairs.select(col("a").as("concept_id"))
      .unionByName(pairs.select(col("b").as("concept_id")))
      .groupBy("concept_id").agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("concept_id"), "left")
      .select(col("concept_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering_coeff",
        when(col("degree") >= 2,
          graft.functions.Num.r6(lit(2.0) * col("n_triangles") /
            (col("degree") * (col("degree") - 1)).cast("double")))
          .otherwise(lit(0.0)))
  }

  /** concept_a, concept_b, common_neighbors, jaccard — neighbor-overlap
    * similarity per existing edge (the classic link-prediction /
    * edge-confidence baseline: an edge whose endpoints share most of their
    * neighborhoods is structural, one with none is incidental). Common
    * neighbors come from ONE equi-join of the undirected adjacency against
    * itself pivoted on the shared endpoint (endpoints can't appear as
    * their own common neighbor — no self-loops exist); the union size is
    * deg(a)+deg(b)−common in exact integers, one rounded division per
    * edge. Bounded exactly like [[trianglesFromPairs]]' wedge join. */
  def neighborJaccardFromPairs(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn
      .select(col("concept1").as("a"), col("concept2").as("b"))
      .localCheckpoint()
    val und = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val common = pairs
      .join(und.select(col("src").as("a"), col("dst").as("c")), Seq("a"))
      .join(und.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"), "left_semi")
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    pairs.join(common, Seq("a", "b"), "left")
      .join(deg.select(col("src").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("db")), "b")
      .select(col("a").as("concept_a"), col("b").as("concept_b"),
        coalesce(col("common"), lit(0L)).as("common_neighbors"),
        graft.functions.Num.r6(coalesce(col("common"), lit(0L)).cast("double") /
          (col("da") + col("db") - coalesce(col("common"), lit(0L))).cast("double"))
          .as("jaccard"))
  }

  // ---------- KGX serialization ----------
  // The reference's KGX backend flattens the graph into the Biolink KGX TSV
  // tables (reference: kg/KgxUtil.java:17-29 — node/edge header constants;
  // kg/KgxNode.java:17-23 — id/name/category row; kg/KgxEdge.java:28-31 —
  // the edge id is a digest of subject|edge_label|object|relation|
  // association_type; KgxEdge.java:42-63 — evidence mode appends
  // evidence_count and the pipe-joined evidence-node id list;
  // kg/KgxNlpEvidenceNode.java:39-44 — the evidence id digests the
  // document + edge identity). The reference digests with base64(SHA-1);
  // DuckDB has no SHA-1, so the digest here is md5 hex — the same injective
  // fingerprint role, reproducible on both engines.

  val KgxEdgeLabel = "biolink:related_to"
  val KgxRelation = "graft:related_to"
  val KgxAssociationType = "biolink:Association"

  private def kgxEdgeId: org.apache.spark.sql.Column =
    md5(concat_ws("|", col("subject"), lit(KgxEdgeLabel), col("object"),
      lit(KgxRelation), lit(KgxAssociationType)))

  /** id, name, category — the KGX node table (KGX_NODE_HEADER columns). */
  def kgxNodes(spark: org.apache.spark.sql.SparkSession): DataFrame =
    nodes(spark).select(col("concept_id").as("id"), col("name"), col("category"))

  /** subject, edge_label, object, relation, id, association_type — the KGX
    * edge table (KGX_EDGE_HEADER columns) over the cooccurrence pairs.
    * Based on pair COUNTS, not metrics: the KGX edge universe is every
    * pair with evidence (so it equals [[kgxEdgesEvidenceFromUnits]]'s universe),
    * whereas the metric table may drop degenerate pairs. */
  def kgxEdgesFromPairs(pairs: DataFrame): DataFrame =
    pairs
      .select(col("concept1").as("subject"), col("concept2").as("object"))
      .select(
        col("subject"), lit(KgxEdgeLabel).as("edge_label"), col("object"),
        lit(KgxRelation).as("relation"), kgxEdgeId.as("id"),
        lit(KgxAssociationType).as("association_type"))

  /** The KGX edge table in WRITE_EVIDENCE mode: + evidence_count and
    * has_evidence (pipe-joined sorted evidence-node ids; one evidence node
    * per supporting document, its id digesting document curie + edge id —
    * KgxNlpEvidenceNode.getId's fields collapsed to the per-document
    * identity this engine tracks). Group-bounded: evidence lists are
    * per-pair, the same volume as the pair-count aggregation. */
  def kgxEdgesEvidenceFromUnits(units: DataFrame): DataFrame = {
    val ev = units.select(col("doc_id"), col("concept_id").as("subject"))
      .join(units.select(col("doc_id"), col("concept_id").as("object")), Seq("doc_id"))
      .where(col("subject") < col("object"))
      .withColumn("edge_id", kgxEdgeId)
      .withColumn("evidence_id",
        md5(concat_ws("|", concat(lit("PMID:"), col("doc_id")), col("edge_id"))))
    ev.groupBy("subject", "object", "edge_id")
      .agg(count(lit(1)).as("evidence_count"),
        array_join(array_sort(collect_list(col("evidence_id"))), "|").as("has_evidence"))
      .select(col("subject"), lit(KgxEdgeLabel).as("edge_label"), col("object"),
        lit(KgxRelation).as("relation"), col("edge_id").as("id"),
        lit(KgxAssociationType).as("association_type"),
        col("evidence_count"), col("has_evidence"))
  }

  // ---------- ancestor table ----------

  /** concept_id, ancestor_id — the per-class ancestor TSV of
    * oger/util/AncestorTableFileFactory.java:22-41: for every class in the
    * target namespace (the reference filters IRIs containing "DOID"; the
    * prefix parameter is that namespace filter), one self row plus one row
    * per ancestor from the ontology closure — the local
    * [[ontologyClosure]] rows plus one prefix filter, no per-class work. */
  def ancestorTable(spark: org.apache.spark.sql.SparkSession,
                    prefix: String = "OP"): DataFrame = {
    import spark.implicits._
    val closure = ontologyClosure(spark)
    val classes = graft.functions.ConceptDict.labelEntries.map(_._1).toDF("concept_id")
      .where(substring_index(col("concept_id"), ":", 1) === prefix)
    val selfRows = classes.select(col("concept_id"), col("concept_id").as("ancestor_id"))
    val ancRows = classes.join(closure.withColumnRenamed("child", "concept_id"), "concept_id")
      .select(col("concept_id"), col("parent").as("ancestor_id"))
    selfRows.unionByName(ancRows).distinct()
  }

  // ---------- TRAPI backend serialization ----------
  // The reference's TRAPI backend renders the KG as Biolink N-Triples
  // (trapi/TrapiBackendSerializer.java constants;
  // OntologyKgTrapiBackendSerializer.java:20-67 — per node: biolink:id,
  // rdfs:label, rdfs:subClassOf category; AssocKgTrapiBackendSerializer.java
  // :80-148 — per association: a blank node typed biolink:Association with
  // subject/predicate/object triples and a typed decimal score). Here the
  // same line stream is a pure projection + posexplode of a per-row line
  // array — no driver loop, shard-parallel like any other export.

  private val BiolinkId = "<https://w3id.org/biolink/vocab/id>"
  private val RdfsLabel = "<http://www.w3.org/2000/01/rdf-schema#label>"
  private val RdfsSubClassOf = "<http://www.w3.org/2000/01/rdf-schema#subClassOf>"
  private val RdfType = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
  private val BiolinkAssociation = "<https://w3id.org/biolink/vocab/Association>"
  private val BiolinkSubject = "<https://w3id.org/biolink/vocab/subject>"
  private val BiolinkPredicate = "<https://w3id.org/biolink/vocab/predicate>"
  private val BiolinkObject = "<https://w3id.org/biolink/vocab/object>"
  private val BiolinkScore = "<https://w3id.org/biolink/vocab/score>"
  private val XsdDecimal = "<http://www.w3.org/2001/XMLSchema#decimal>"

  private def uriFor(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("<https://graft.example/id/"), regexp_replace(c, ":", "_"), lit(">"))

  private def categoryUri(cat: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("<https://graft.example/vocab/"), substring_index(cat, ":", -1), lit(">"))

  /** concept_id, triple_ord, line — N-Triples for every KG node. */
  def trapiNodeTriples(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val n = nodes(spark)
    val uri = uriFor(col("concept_id"))
    n.select(col("concept_id"), posexplode(array(
        concat(uri, lit(s" $BiolinkId " + "\""), col("concept_id"), lit("\"@en .")),
        concat(uri, lit(s" $RdfsLabel " + "\""), col("name"), lit("\"@en .")),
        concat(uri, lit(s" $RdfsSubClassOf "), categoryUri(col("category")), lit(" ."))
      )).as(Seq("ord0", "line")))
      .select(col("concept_id"), (col("ord0") + 1).cast("long").as("triple_ord"), col("line"))
  }

  /** subject, object, triple_ord, line — N-Triples for every association:
    * blank assoc node, type/subject/predicate/object, 6dp decimal score. */
  def trapiEdgeTriplesFromMetrics(metrics: DataFrame): DataFrame = {
    val e = edgesFromMetrics(metrics)
    val assoc = concat(lit("<_:"),
      regexp_replace(col("subject"), ":", "_"), lit("__"),
      regexp_replace(col("object"), ":", "_"), lit("_assoc>"))
    e.select(col("subject"), col("object"), posexplode(array(
        concat(assoc, lit(s" $RdfType $BiolinkAssociation .")),
        concat(assoc, lit(s" $BiolinkSubject "), uriFor(col("subject")), lit(" .")),
        concat(assoc, lit(s" $BiolinkPredicate <https://graft.example/vocab/related_to> .")),
        concat(assoc, lit(s" $BiolinkObject "), uriFor(col("object")), lit(" .")),
        concat(assoc, lit(s" $BiolinkScore " + "\""), format_string("%.6f", col("npmi")),
          lit(s"\"^^$XsdDecimal ."))
      )).as(Seq("ord0", "line")))
      .select(col("subject"), col("object"),
        (col("ord0") + 1).cast("long").as("triple_ord"), col("line"))
  }

  /** pr_id, uniprot_id, taxon_id — the PR→UniProt map file (reference:
    * trapi/PrToUniProtMapFileCreator.java:34-95 + the bounded hierarchy
    * walk :97-126): every class with a DIRECT UniProtKB xref maps with its
    * only-in-taxon annotation; a GENE-LEVEL class (Category=gene comment,
    * :151-161) IGNORES any direct xref (:69-81 replaces the class BEFORE
    * the direct lookup) and instead searches ≤2 subclass levels for a
    * HUMAN (NCBITaxon:9606) class with a UniProt xref — ALL level-1
    * children first, then their children (:97-126); classes finding
    * nothing emit no row. The reference's HashSet iteration order is
    * determinized as the minimum qualifying (child[, grandchild]) id.
    *
    * Spark-first: the OWL walk becomes xref/taxon/subclass-edge TABLES
    * (ontology-sized) and the per-level searches are bounded join chains
    * with a grouped min — no per-class iteration. Synthetic universe from
    * `part`: each PR:{pk} has children CA/CB:{pk} and grandchild GB:{pk}
    * under CB; xref channels `%3` (direct), `%4==0` (human child CA),
    * even keys (MOUSE child CB — the human filter must skip it), `%4==1`
    * (human grandchild); gene-level on `%5` (so `%15` keys carry a direct
    * xref the walk must ignore). */
  def prToUniprotMap(part: DataFrame): DataFrame = {
    val pk = col("p_partkey")
    val human = "NCBITaxon:9606"
    val prId = concat(lit("PR:"), pk)
    val caId = concat(lit("CA:"), pk)
    val cbId = concat(lit("CB:"), pk)
    val gbId = concat(lit("GB:"), pk)

    val classes = part.select(prId.as("class_id"), (pk % 5 === 0).as("gene_level"))
    val edges1 = part.select(prId.as("parent"), caId.as("child"))
      .unionByName(part.select(prId.as("parent"), cbId.as("child")))
    val edges2 = part.select(cbId.as("parent"), gbId.as("child"))
    val xrefs = part.where(pk % 3 === 0)
      .select(prId.as("class_id"), concat(lit("UniProtKB:P"), pk).as("xref"))
      .unionByName(part.where(pk % 4 === 0)
        .select(caId.as("class_id"), concat(lit("UniProtKB:C"), pk, lit("A")).as("xref")))
      .unionByName(part.where(pk % 2 === 0)
        .select(cbId.as("class_id"), concat(lit("UniProtKB:C"), pk, lit("B")).as("xref")))
      .unionByName(part.where(pk % 4 === 1)
        .select(gbId.as("class_id"), concat(lit("UniProtKB:G"), pk).as("xref")))
    val taxa = part.select(prId.as("class_id"),
        when(pk % 2 === 0, human).otherwise("NCBITaxon:10090").as("taxon"))
      .unionByName(part.select(caId.as("class_id"), lit(human).as("taxon")))
      .unionByName(part.select(cbId.as("class_id"), lit("NCBITaxon:10090").as("taxon")))
      .unionByName(part.select(gbId.as("class_id"), lit(human).as("taxon")))

    // classes carrying an xref, with their taxon annotation
    val xt = xrefs.join(taxa, Seq("class_id"))
    val humanXt = xt.where(col("taxon") === human)

    val direct = classes.where(!col("gene_level"))
      .join(xt, Seq("class_id"))
      .select(col("class_id").as("pr_id"), col("xref").as("uniprot_id"),
        col("taxon").as("taxon_id"))

    val gene = classes.where(col("gene_level")).select(col("class_id").as("pr_id"))
    // level 1: min human xref-bearing child per gene-level class
    val l1 = gene.join(edges1, gene("pr_id") === edges1("parent"))
      .join(humanXt, edges1("child") === humanXt("class_id"))
      .groupBy("pr_id")
      .agg(min(struct(col("child"), col("xref"), col("taxon"))).as("r"))
      .select(col("pr_id"), col("r.xref").as("uniprot_id"), col("r.taxon").as("taxon_id"))
    // level 2, only for gene-level classes with NO qualifying child: min
    // (child, grandchild) human xref-bearing grandchild
    // fresh aliases: edges1/humanXt already appear in the l1 chain and
    // Spark's ambiguous-self-join check rejects reusing the same instance
    val e1b = edges1.select(col("parent").as("p1"), col("child").as("mid"))
    val e2b = edges2.select(col("parent").as("p2"), col("child").as("gchild"))
    val hx2 = humanXt.select(col("class_id").as("cid2"), col("xref").as("xref2"),
      col("taxon").as("taxon2"))
    val l2 = gene.join(l1.select("pr_id"), Seq("pr_id"), "left_anti")
      .join(e1b, col("pr_id") === col("p1"))
      .join(e2b, col("mid") === col("p2"))
      .join(hx2, col("gchild") === col("cid2"))
      .groupBy("pr_id")
      .agg(min(struct(col("mid"), col("gchild"), col("xref2"), col("taxon2"))).as("r"))
      .select(col("pr_id"), col("r.xref2").as("uniprot_id"), col("r.taxon2").as("taxon_id"))

    direct.unionByName(l1).unionByName(l2)
  }
}
