package graft

import graft.operators.{AssertionDb, Bicluster, ConceptPairs, Concepts, KnowledgeGraph, OgerDict, Relay, Sheets}
import org.apache.spark.sql.functions._

class Round12OpsSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def pp(d: org.apache.spark.sql.DataFrame) =
    Concepts.postProcess(Concepts.recognize(d))

  private def orders(keys: Long*) = keys.toDF("o_orderkey")

  // ------------------------------------------------------------------ relay

  test("relay: any-incorrect-wins resolution and the test-record skip") {
    // k=35: both sessions (F1 incorrect, F2 correct) → resolves incorrect;
    // k=50 plants a test-record row that must not count anywhere
    val res = Relay.parseResults(Relay.serializeResults(orders(35L, 50L, 3L)))
    val resolved = Relay.resolve(res).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(resolved("35") == Relay.AssertionIncorrect)
    assert(resolved("50") == Relay.AssertionIncorrect) // 50%5==0; also plants a test row
    assert(resolved("3") == Relay.AssertionCorrect)
    assert(!resolved.contains(Relay.TestPredicationIds.head))
    val card = Relay.overallAccuracy(res).head
    assert(card.getAs[Long]("n_unique") == 3L)
    assert(card.getAs[Long]("incorrect_count") == 2L)
  }

  test("relay: reason distribution counts the winning session's rows") {
    // k=5: incorrect with reason Reasons[5%4=1]; k=1 correct (test id planted)
    val res = Relay.parseResults(Relay.serializeResults(orders(5L, 1L)))
    val reasons = Relay.incorrectReasonDistribution(res).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reasons(Relay.AssertionIncorrect) == 1L)
    assert(reasons(Relay.Reasons(1)) == 1L)
    assert(!reasons.contains(Relay.AssertionCorrect)) // F1-of-k=1 isn't a winner
  }

  test("relay: improvement winner is the LAST (max) feedback session") {
    // k=21: correct, %3 improvement on F1, AND a second session F2 —
    // the winner is F2 (the file's last row), whose only row is the verdict
    val res = Relay.parseResults(Relay.serializeResults(orders(21L)))
    val imp = Relay.improvementDistribution(res).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(imp(Relay.AssertionCorrect) == 1L)
    assert(!imp.keys.exists(Relay.Improvements.contains)) // F1's improvement row lost
  }

  test("relay: iaa pairs only the exactly-two-session predications") {
    // k=7: two sessions agreeing correct; k=35: F1 incorrect vs F2 correct;
    // k=3: one session (no pair)
    val res = Relay.parseResults(Relay.serializeResults(orders(7L, 35L, 3L)))
    val iaa = Relay.relayIaa(res).head
    assert(iaa.getAs[Long]("n_pairs") == 2L)
    assert(iaa.getAs[Long]("agree_count") == 1L)
  }

  test("relay: metadata round trip and subject-type bucketing") {
    val meta = Relay.parseMetadata(Relay.serializeMetadata(orders(4L, 7L)))
    val bySubj = meta.collect().map(r =>
      r.getAs[String]("predication_id") -> r.getAs[String]("subject_type")).toMap
    assert(Relay.ChemicalTypes.contains(bySubj("4")))
    assert(Relay.TreatmentTypes.contains(bySubj("7")))
    val res = Relay.parseResults(Relay.serializeResults(orders(4L, 7L)))
    val byType = Relay.accuracyBySubjectType(res, meta).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("total")).toMap
    assert(byType == Map("CHEMICAL" -> 1L, "TREATMENT" -> 1L))
  }

  // ----------------------------------------------------------------- sheets

  test("sheets: batch cut, carry-forward disjointness, inverse rows") {
    val d = docs("join table fast merge row", "merge line slow join key",
      "stream row join table", "key value join line")
    val empty = Seq.empty[String].toDF("hash")
    val b1 = Sheets.batch(d, pp(d), empty, batchSize = 2)
    val rows1 = b1.collect()
    // 2 sentences × (forward + inverse)
    assert(rows1.length == 4)
    assert(rows1.count(_.getAs[Boolean]("inverse")) == 2)
    // the inverse row swaps subject and object
    val fwd = rows1.filter(!_.getAs[Boolean]("inverse")).head
    val inv = rows1.filter(r => r.getAs[Boolean]("inverse") &&
      r.getAs[String]("sentence_id") == fwd.getAs[String]("sentence_id")).head
    assert(fwd.getAs[String]("subject_id") == inv.getAs[String]("object_id"))
    assert(fwd.getAs[String]("object_id") == inv.getAs[String]("subject_id"))
    // the sentence column carries the 18-space checkbox pad
    assert(fwd.getAs[String]("sentence").endsWith(" " * 18))
    assert(fwd.getAs[Boolean]("no_relation"))
    // batch 2 after the carry-forward is hash-disjoint from batch 1
    val b2 = Sheets.batch(d, pp(d), Sheets.carryForward(empty, b1), batchSize = 2)
    val h1 = rows1.map(_.getAs[String]("sentence_id")).toSet
    val h2 = b2.collect().map(_.getAs[String]("sentence_id")).toSet
    assert(h2.nonEmpty && h1.intersect(h2).isEmpty)
    // and the two batches are the first and second hash-ordered cuts
    assert((h1 ++ h2).toSeq.sorted.take(h1.size).toSet == h1)
  }

  test("sheets: excluded identifiers never reach a batch") {
    val d = docs("scan data fast", "join table slow")
    val b = Sheets.batch(d, pp(d), Seq.empty[String].toDF("hash"), batchSize = 10)
    val ids = b.collect().flatMap(r =>
      Seq(r.getAs[String]("subject_id"), r.getAs[String]("object_id"))).toSet
    assert(!ids.contains("OP:scan") && !ids.contains("DS:data"))
  }

  test("sheets: BERT back-conversion hashes the placeholder sentence") {
    val d = docs("join table fast merge row", "stream row join table")
    val b = Sheets.batch(d, pp(d), Seq.empty[String].toDF("hash"))
    val bert = Sheets.toBertInput(b).collect()
    assert(bert.nonEmpty)
    assert(bert.forall(r => Sheets.PredicateAbbrevs.contains(r.getAs[String]("label"))))
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bert.head.getAs[String]("sentence_with_placeholders").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(bert.head.getAs[String]("hash") == expected)
  }

  // ------------------------------------------------------------ assertion DB

  test("assertion db: FK integrity holds and digests are injective") {
    val d = docs("join table fast merge row", "merge line slow join key",
      "stream row join table")
    val integ = AssertionDb.integrityFrom(AssertionDb.evidenceBase(d, pp(d))).head
    assert(integ.getAs[Long]("evidence_without_assertion") == 0L)
    assert(integ.getAs[Long]("scores_without_evidence") == 0L)
    assert(integ.getAs[Long]("evidence_without_entity") == 0L)
    assert(integ.getAs[Long]("duplicate_evidence_ids") == 0L)
    val ev = AssertionDb.evidenceFrom(AssertionDb.evidenceBase(d, pp(d))).collect()
    assert(ev.map(_.getAs[String]("evidence_id")).distinct.length == ev.length)
    // provenance conventions: zone from the sentence window, year channel
    assert(ev.forall(r =>
      Seq("title", "abstract", "body").contains(r.getAs[String]("document_zone"))))
    assert(ev.forall { r =>
      val y = r.getAs[Long]("document_year_published")
      y == 2155L || (y >= 1990L && y < 2020L)
    })
  }

  // -------------------------------------------- residual factories + promote

  test("residual factories: per-arm augment chains") {
    val p = Seq((17L, "cold widget", "Brand#1", "ECONOMY", 24))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    val out = OgerDict.residual(p).collect()
      .map(r => (r.getAs[String]("ont_key"), r.getAs[String]("syn"))).toSet
    // CL addition channel (%17)
    assert(out.contains(("CL", "outer hair cell")))
    // GO_CC gets NO addition (the reference's nucleoli add is a no-op)
    assert(!out.exists { case (k, s) => k == "GO_CC" && s == "outer hair cell" })
    // GO_BP addition
    assert(out.contains(("GO_BP", "alternative splicing")))
    // UBERON pluralization addition (noun+'s')
    assert(out.contains(("UBERON", "widgets")))
    // the Utility constant line rides along
    assert(out.contains(("Utility", "zzzDOCUMENTzENDzzz")))
    // id add-ons: GO arms carry the suffixed prefix
    val ids = OgerDict.residual(p).select("ont_key", "concept_id").distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ids("GO_CC").startsWith("GO_CC:") && ids("GO_BP").startsWith("GO_BP:"))
  }

  test("residual factories: GO_MF activity augment and procedure membership") {
    val p = Seq(
      (3L, "cold widget", "Brand#1", "ECONOMY", 24),  // %3: activity channel; size%3=0 → procedure member
      (4L, "small bolt", "Brand#2", "PROMO", 25))     // size%3≠0 → not a procedure
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    val out = OgerDict.residual(p).collect()
      .map(r => (r.getAs[String]("ont_key"), r.getAs[String]("concept_id"), r.getAs[String]("syn")))
    // the ' activity' synonym generates its stripped variant
    assert(out.exists { case (k, _, s) => k == "GO_MF" && s == "economy transporter activity" })
    assert(out.exists { case (k, _, s) => k == "GO_MF" && s == "economy transporter" })
    // only subtree members produce SNOMEDCT lines; label = min synonym
    val proc = out.filter(_._1 == "SNOMEDCT")
    assert(proc.nonEmpty && proc.forall(_._2 == "SNOMEDCT:3"))
    val procLabel = OgerDict.residual(p).where(col("ont_key") === "SNOMEDCT")
      .select("label").distinct().as[String].collect()
    assert(procLabel.toSeq == Seq("WIDGET24")) // min of {cold widget, WIDGET24} — uppercase sorts first
  }

  test("pr promotion rewrites mapped subjects and passes others through") {
    val lines = Seq(
      s"${ConceptPairs.OboNs}OP_join\t${ConceptPairs.OboNs}DS_line\tp",
      s"${ConceptPairs.OboNs}OP_scan\t${ConceptPairs.OboNs}DS_line\tp")
      .toDF("line")
    val out = ConceptPairs.promotePairsFile(lines).as[String].collect().toSet
    assert(out.contains(s"${ConceptPairs.OboNs}OP_JOINLIKE\t${ConceptPairs.OboNs}DS_line\tp"))
    assert(out.contains(s"${ConceptPairs.OboNs}OP_scan\t${ConceptPairs.OboNs}DS_line\tp"))
  }

  // ------------------------------------- metadata retriever + uniprot map

  test("relay enrichment: partial maps leave nulls, treats flag joins") {
    // k=4: subject cui C4 (4%5≠1 → IC present; 4%4==0 → idf present);
    // k=11: odd → treats=false, subject cui C11 (11%5==1 → NO IC)
    val o = orders(4L, 11L)
    val out = Relay.enrichedMetadata(
      Relay.parseMetadata(Relay.serializeMetadata(o)),
      Relay.parseSampleSentences(Relay.serializeSampleSentences(o)),
      Relay.bertOutput(o), Relay.nodeNormIc(o), Relay.cuiIdf(o))
      .collect().map(r => r.getAs[String]("predication_id") -> r).toMap
    assert(out("4").getAs[Boolean]("tmkp_treats"))
    assert(!out("11").getAs[Boolean]("tmkp_treats"))
    assert(out("4").getAs[Any]("subj_nn_ic") != null)
    assert(out("11").getAs[Any]("subj_nn_ic") == null) // C11: 11%5==1 → absent
    assert(out.values.forall(_.schema.fieldNames.contains("subj_idf")))
  }

  test("relay bert input: later-entity-first replacement and the span check") {
    // k=4: subject first; k=7: object first; k=41: shifted span → invalid
    val out = Relay.relayBertInput(
      Relay.parseSampleSentences(Relay.serializeSampleSentences(orders(4L, 7L, 41L))))
      .collect().map(r => r.getAs[String]("predication_id") -> r).toMap
    assert(out("4").getAs[String]("sentence_with_placeholders") ==
      s"${Relay.SubjectPlaceholder} treats ${Relay.ObjectPlaceholder}")
    assert(out("7").getAs[String]("sentence_with_placeholders") ==
      s"${Relay.ObjectPlaceholder} occurs with ${Relay.SubjectPlaceholder}")
    assert(out("4").getAs[Boolean]("valid") && out("7").getAs[Boolean]("valid"))
    assert(!out("41").getAs[Boolean]("valid"))
    assert(out("41").getAs[String]("sentence_with_placeholders") == null)
  }

  test("pr→uniprot map: direct xrefs, gene-level walk, human filter, precedence") {
    val p = Seq(
      (3L, "a b", "B", "T", 1),   // %3: direct xref, odd → mouse taxon
      (6L, "a b", "B", "T", 1),   // %3 and even → human taxon
      (20L, "a b", "B", "T", 1),  // gene-level, %4==0 → human child CA
      (5L, "a b", "B", "T", 1),   // gene-level, %4==1 → grandchild GB
      (10L, "a b", "B", "T", 1),  // gene-level, %4==2 → NO mapping (CB is mouse)
      (15L, "a b", "B", "T", 1),  // gene-level WITH direct xref (%3) → walk wins; %4==3 → none
      (7L, "a b", "B", "T", 1))   // no xref, not gene-level → no row
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    val out = KnowledgeGraph.prToUniprotMap(p).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out("PR:3") == ("UniProtKB:P3", "NCBITaxon:10090"))
    assert(out("PR:6") == ("UniProtKB:P6", "NCBITaxon:9606"))
    assert(out("PR:20") == ("UniProtKB:C20A", "NCBITaxon:9606"))
    assert(out("PR:5") == ("UniProtKB:G5", "NCBITaxon:9606"))
    assert(!out.contains("PR:10") && !out.contains("PR:15") && !out.contains("PR:7"))
  }

  test("sheets iaa batch: overlap share from batch 1, fresh share disjoint") {
    val d = docs("join table fast merge row", "merge line slow join key",
      "stream row join table", "key value join column", "sort vector merge batch")
    val rows = Sheets.candidateRows(d, pp(d))
    val b1 = Sheets.batchFrom(rows, Seq.empty[String].toDF("hash"), batchSize = 4)
    val iaa = Sheets.iaaOverlapBatch(rows, b1, batchSize = 4, overlapPct = 0.5)
    val got = iaa.collect()
    val (ov, fresh) = got.partition(_.getAs[Boolean]("is_overlap"))
    val b1Hashes = b1.collect().map(_.getAs[String]("sentence_id")).toSet
    // overlap = the 2 hash-ordered head sentences of batch 1
    assert(ov.map(_.getAs[String]("sentence_id")).toSet ==
      b1Hashes.toSeq.sorted.take(2).toSet)
    // fresh sentences never collide with batch 1
    assert(fresh.map(_.getAs[String]("sentence_id")).toSet.intersect(b1Hashes).isEmpty)
    assert(got.forall(!_.getAs[Boolean]("inverse")))
  }

  test("sheets idf filter: common concepts cannot anchor a batch") {
    val d = docs("join table fast", "join row slow", "merge table fast")
    // a tiny hand-made idf table: DS:table is 'too common'
    val idf = Seq(("OP:join", 0.5), ("OP:merge", 0.5), ("DS:row", 0.5), ("DS:table", 0.01))
      .toDF("concept_id", "idf")
    val out = Sheets.idfFilteredBatch(Sheets.candidateRows(d, pp(d)), idf, 0.2,
      Seq.empty[String].toDF("hash"))
    val ids = out.collect().flatMap(r =>
      Seq(r.getAs[String]("subject_id"), r.getAs[String]("object_id"))).toSet
    assert(!ids.contains("DS:table"))
    assert(ids.contains("OP:join") && ids.contains("DS:row"))
  }

  // ------------------------------------------------- staging + heap-cap laws

  test("staged pairs/bicluster artifacts equal their direct derivations") {
    val d = graft.sources.Tables.documents(spark, sfDir)
    val annots = pp(d)
    val directPairs = ConceptPairs.serializePairsFile(annots).as[String].collect().sorted
    val stagedPairs = ConceptPairs.stagedPairsFile(annots, sfDir).as[String].collect().sorted
    assert(stagedPairs.toSeq == directPairs.toSeq)
    val directI = Bicluster.serializePartI(annots)
      .orderBy("line_no", "line").collect().map(_.toSeq)
    val stagedI = Bicluster.stagedPartI(annots, sfDir)
      .orderBy("line_no", "line").collect().map(_.toSeq)
    assert(stagedI.toSeq == directI.toSeq)
    val directII = Bicluster.serializePartII(d, annots).as[String].collect().sorted
    val stagedII = Bicluster.stagedPartII(d, annots, sfDir).as[String].collect().sorted
    assert(stagedII.toSeq == directII.toSeq)
  }

  test("pair-sentence heap cap equals the window formulation it replaced") {
    val d = graft.sources.Tables.documents(spark, sfDir)
    val annots = pp(d)
    val pairs = ConceptPairs.parsePositivePairs(ConceptPairs.serializePairsFile(annots))
    val capped = ConceptPairs.pairSentences(d, annots, pairs, maxReturned = 3)
    val uncapped = ConceptPairs.pairSentences(d, annots, pairs, maxReturned = 0)
    // reconstruct the window semantics independently: per pair, the 3
    // smallest (doc_id, sent_id) among qualifying sentences
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("subject_curie", "object_curie").orderBy("doc_id", "sent_id")
    val expectSents = uncapped.select("subject_curie", "object_curie", "doc_id", "sent_id")
      .distinct()
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 3).drop("rn")
      .collect().map(_.toSeq).toSet
    val gotSents = capped.select("subject_curie", "object_curie", "doc_id", "sent_id")
      .distinct().collect().map(_.toSeq).toSet
    assert(gotSents == expectSents)
  }
}
