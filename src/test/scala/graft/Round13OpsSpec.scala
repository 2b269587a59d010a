package graft

import graft.operators.{KnowledgeGraph, OgerDict, Relay}
import org.apache.spark.sql.functions._

class Round13OpsSpec extends SparkSpec {
  import spark.implicits._

  // -------------------------------------------------- oger_dict_entry_map

  test("idToEntryMap unions dict files, dedups entries, joins the sorted set with '|'") {
    // reference IdToOgerDictEntryMapFileFactory.java:27-60: cols[2]=id,
    // cols[3]=entry accumulated into a one-to-many UNIQUE map across all
    // input files — 'beta' appearing in both files must emit once, and the
    // join order is the sorted set (the reference's HashSet order is
    // JVM-dependent; sorted is the deterministic choice)
    val f1 = Seq(("A:1", "beta"), ("A:1", "alpha"), ("B:2", "x"))
      .toDF("concept_id", "syn")
    val f2 = Seq(("A:1", "beta"), ("A:1", "gamma")).toDF("concept_id", "syn")
    val got = OgerDict.idToEntryMap(f1, f2).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("A:1" -> "alpha|beta|gamma", "B:2" -> "x"))
  }

  // ------------------------------------------------- biolink_category_map

  test("biolinkCategoryMap routes every reference channel") {
    // OntologyClassBiolinkCategoryMapFactory.java:38-70 — GO namespace
    // three-way split with the :45-47 trailing-quote strip, empty category
    // on a missing namespace (:58-60), prefix map (:61-66), per-ontology
    // default (:151-154), biolink:Thing fallback (:68-70)
    val classes = Seq(
      ("GO:1", "biological_process", null),
      ("GO:2", "cellular_component\"", null), // trailing quote stripped
      ("GO:3", "molecular_function", null),
      ("GO:4", null, null),                   // missing namespace → ""
      ("CHEBI:5", null, null),                // prefix-mapped
      ("EXT:6", null, "biolink:GeneOrGeneProduct"), // unmapped prefix, pr default
      ("ZZ:7", null, null))                   // unmapped, no default → Thing
      .toDF("concept_id", "namespace", "default_category")
    val got = KnowledgeGraph.biolinkCategoryMap(classes).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("GO:1") == "biolink:BiologicalProcess")
    assert(got("GO:2") == "biolink:CellularComponent")
    assert(got("GO:3") == "biolink:MolecularActivity")
    assert(got("GO:4") == "")
    assert(got("CHEBI:5") == "biolink:ChemicalSubstance")
    assert(got("EXT:6") == "biolink:GeneOrGeneProduct")
    assert(got("ZZ:7") == "biolink:Thing")
  }

  test("biolinkClassUniverse exercises the quote and missing-namespace channels") {
    val part = Seq((15L, "n", "t", 1), (17L, "n", "t", 1), (30L, "n", "t", 1))
      .toDF("p_partkey", "p_name", "p_type", "p_size")
    val u = KnowledgeGraph.biolinkClassUniverse(part)
      .where(col("concept_id").startsWith("GO:")).collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(u("GO:17").isEmpty, "pk%17==0 is the missing-namespace channel")
    assert(u("GO:15").get.endsWith("\""), "pk%5==0 carries the trailing quote")
    assert(u("GO:30").isEmpty || u("GO:30").get.endsWith("\"")) // 30 % 17 != 0, % 5 == 0
  }

  // ------------------------------------------------------ relay sheet rows

  test("relay sheetRows emits one link+checkbox row per sampled predication") {
    val meta = Seq("12", "7", "12").toDF("predication_id")
    val rows = Relay.sheetRows(meta).collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSet
    assert(rows == Set(
      ("12", Relay.BaseTmuiUrl + "/12", false),
      ("7", Relay.BaseTmuiUrl + "/7", false)))
  }
}
