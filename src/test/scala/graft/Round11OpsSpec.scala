package graft

import graft.operators.{Concepts, Cooccurrence, Exports, KnowledgeGraph, LabelQa}
import org.apache.spark.sql.functions._

class Round11OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def pp(d: org.apache.spark.sql.DataFrame) =
    Concepts.postProcess(Concepts.recognize(d))

  test("kgx: header column contract and digest-id determinism") {
    val d = docs("join table fast", "join table slow", "merge row")
    val nodes = KnowledgeGraph.kgxNodes(spark)
    // KGX_NODE_HEADER columns, exactly (KgxUtil.validateFile's column-count check)
    assert(nodes.columns.toSeq == Seq("id", "name", "category"))
    val edges = KnowledgeGraph.kgxEdgesFromPairs(
      Cooccurrence.pairCounts(Cooccurrence.unitConcepts(pp(d), Seq("doc_id")), Seq("doc_id")))
    assert(edges.columns.toSeq ==
      Seq("subject", "edge_label", "object", "relation", "id", "association_type"))
    val ev = KnowledgeGraph.kgxEdgesEvidenceFromUnits(Cooccurrence.unitConcepts(pp(d), Seq("doc_id")))
    assert(ev.columns.toSeq == Seq("subject", "edge_label", "object", "relation",
      "id", "association_type", "evidence_count", "has_evidence"))
    // the id digests the edge identity: same pair → same id across both tables
    val e1 = edges.select("subject", "object", "id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val e2 = ev.select("subject", "object", "id").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(e1 == e2)
    assert(e1.values.toSeq.distinct.size == e1.size) // injective over pairs
  }

  test("kgx evidence: count matches supporting docs, list sorted and pipe-joined") {
    val d = docs("join table", "join table", "join row")
    val ev = KnowledgeGraph.kgxEdgesEvidenceFromUnits(Cooccurrence.unitConcepts(pp(d), Seq("doc_id"))).collect()
      .map(r => (r.getAs[String]("subject"), r.getAs[String]("object")) -> r).toMap
    // join+table cooccur in docs 0,1 → 2 evidence nodes
    val jt = ev(("DS:table", "OP:join"))
    assert(jt.getAs[Long]("evidence_count") == 2L)
    val ids = jt.getAs[String]("has_evidence").split('|').toSeq
    assert(ids.size == 2 && ids == ids.sorted && ids.distinct.size == 2)
  }

  test("ancestor_table: self row + closure rows, namespace-filtered") {
    val rows = KnowledgeGraph.ancestorTable(spark).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.forall(_._1.startsWith("OP:")))
    val join = rows.filter(_._1 == "OP:join").map(_._2).toSet
    assert(join == Set("OP:join", "OP:JOINLIKE", "OP:ROOT"))
    assert(rows.filter(_._1 == "OP:ROOT").map(_._2).toSet == Set("OP:ROOT"))
    assert(rows.distinct.length == rows.length)
  }

  test("sentence_ids: distinct sha256 catalog") {
    val d = docs("aa bb cc", "aa bb cc", "dd ee ff")
    val ids = Exports.sentenceIds(d).as[String].collect().toSeq
    assert(ids.distinct.size == ids.size)
    assert(ids.size == 2) // duplicate sentence collapses
    val expected = java.security.MessageDigest.getInstance("SHA-256")
      .digest("aa bb cc".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(ids.contains(expected))
  }

  test("label_overlap: promotion aliases create the multi-identifier labels") {
    val rows = LabelQa.labelOverlap(spark).collect()
      .map(r => r.getAs[String]("label") -> (r.getAs[Long]("n_ids"), r.getAs[String]("ids"))).toMap
    assert(rows.keySet == Set("join", "merge", "big", "spark"))
    assert(rows("join") == (2L, "OP:JOINLIKE|OP:join"))
    assert(rows("spark")._1 == 2L)
  }

  test("label_english_word: fixed dictionary membership with corpus df") {
    val d = docs("table join xx", "table yy zz")
    val rows = LabelQa.labelEnglishWords(d).collect()
      .map(r => (r.getAs[String]("concept_id"), r.getAs[String]("label"), r.getAs[Long]("df")))
    // every flagged label is in the fixed word list
    assert(rows.forall { case (_, l, _) => LabelQa.wordsAlpha.contains(l.toLowerCase) })
    // 'table' appears in both docs; 'join' (not in wordsAlpha) is absent
    assert(rows.collectFirst { case ("DS:table", _, df) => df }.contains(2L))
    assert(!rows.exists(_._2 == "join"))
    // multi-id labels are flagged once per id ('big' → SZ:big and SZ:large)
    assert(rows.count(_._2 == "big") == 2)
  }

  test("pmid_html_flag: mixed corpus resolves both DocumentTargets from the parse") {
    val d = docs("aa bb cc dd", "ee ff gg hh", "ii jj kk ll", "mm nn oo pp")
    val r = graft.operators.XmlIngest.pmidHtmlFlagRoundTrip(d).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Boolean]("contains_html")).toMap
    assert(r(0L) == false && r(3L) == false) // plain channel (doc_id%3==0)
    assert(r(1L) == true && r(2L) == true)   // sub/sup channel carries <b>
  }

  test("pmid_to_year: the three fallback channels resolve channel-offset years") {
    val d = docs("aa", "bb", "cc", "dd")
    val r = graft.operators.XmlIngest.pmidToYearRoundTrip(d).collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("pmid"), x.getAs[String]("year")))
    r.foreach { case (id, pmid, year) =>
      assert(pmid == s"PMID:$id")
      assert(year == (1990 + id % 30 + id % 3).toString, s"doc $id")
    }
  }

  test("concept_pairs: file round trip, predicate filter, negative chunk algebra") {
    import graft.operators.ConceptPairs
    val d = docs("join table fast", "merge row slow", "join row big", "merge table small")
    val lines = ConceptPairs.serializePairsFile(pp(d))
    // every line is subject_uri TAB object_uri TAB predicate_uri over the OBO namespace
    lines.as[String].collect().foreach { l =>
      val c = l.split("\t")
      assert(c.length == 3 && c.forall(_.startsWith(ConceptPairs.OboNs)), l)
    }
    val pos = ConceptPairs.parsePositivePairs(lines).collect()
    assert(pos.forall(_.getAs[String]("predicate_biolink") == "biolink:located_in"))
    assert(pos.forall(r => r.getAs[String]("subject_curie").startsWith("OP:") &&
      r.getAs[String]("object_curie").startsWith("DS:")))
    val posSet = pos.map(r => (r.getAs[String]("subject_curie"), r.getAs[String]("object_curie"))).toSet
    val neg = ConceptPairs.negativePairs(lines).collect()
    val subjects = posSet.map(_._1)
    val objects = posSet.map(_._2)
    neg.foreach { r =>
      val s = r.getAs[String]("subject_curie")
      val objs = r.getAs[String]("object_curies").split('|').toSeq
      assert(subjects.contains(s))
      assert(r.getAs[Long]("n_objects") == objs.size && objs.size <= ConceptPairs.NegChunkSize)
      objs.foreach(o => assert(objects.contains(o) && !posSet.contains((s, o)), s"($s,$o)"))
      assert(r.getAs[String]("predicate_biolink") == "false")
    }
    // completeness: chunks of one subject cover exactly objects \ positives
    subjects.foreach { s =>
      val covered = neg.filter(_.getAs[String]("subject_curie") == s)
        .flatMap(_.getAs[String]("object_curies").split('|')).toSet
      assert(covered == objects.filter(o => !posSet.contains((s, o))), s)
    }
  }

  test("concept_pair_sentences: typed mentions, overlap removals, masking, dedup") {
    import graft.operators.ConceptPairs
    val d = docs("join table scan", "join table merge row")
    val pairs = Seq(("OP:join", "DS:table", "biolink:located_in"))
      .toDF("subject_curie", "object_curie", "predicate_biolink")
    val rows = ConceptPairs.pairSentences(d, pp(d), pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("label"), r.getAs[String]("masked")))
      .toSet
    // doc 0: OP:scan excluded; promoted OP:JOINLIKE@1 (ST) overlaps S@1 →
    // removed; single positive line, no negatives (both ends positive)
    // doc 1: merge@3 (ST, with its promoted twin masking identically) and
    // row@4 (OT) yield three negative lines beside the positive
    assert(rows == Set(
      (0L, "biolink:located_in", "@OPERATION$ @DATASHAPE$ scan"),
      (1L, "biolink:located_in", "@OPERATION$ @DATASHAPE$ merge row"),
      (1L, "false", "@OPERATION$ table merge @DATASHAPE$"),
      (1L, "false", "join @DATASHAPE$ @OPERATION$ row"),
      (1L, "false", "join table @OPERATION$ @DATASHAPE$")))
  }

  test("bicluster part-i: header-driven parse keeps only flagship (path, theme) rows") {
    import graft.operators.Bicluster
    val d = docs("join table fast", "merge row slow", "join row big")
    val lines = Bicluster.serializePartI(pp(d))
    val header = lines.where(col("line_no") === 0).select("line").as[String].head()
    val hcols = header.split("\t")
    assert(hcols(0) == "path" && Bicluster.Themes.map(_._1) ==
      hcols.zipWithIndex.filter(_._2 % 2 == 1).map(_._1).toSeq)
    val parsed = Bicluster.parsePartI(lines).collect()
    assert(parsed.nonEmpty)
    parsed.foreach { r =>
      assert(Bicluster.Themes.map(_._2).contains(r.getAs[String]("theme")))
      val s = r.getAs[Double]("score")
      assert(s >= 0.0 && s < 1.0)
    }
    // flagship rule: every emitted (path, theme) has flag>0 in its line
    val byPath = lines.where(col("line_no") > 0).select("line").as[String].collect()
      .map { l => val c = l.split("\t"); c(0) ->
        Bicluster.Themes.indices.filter(i => c(2 + 2 * i).toLong > 0)
          .map(i => Bicluster.Themes(i)._2).toSet }.toMap
    val got = parsed.groupBy(_.getAs[String]("path"))
      .view.mapValues(_.map(_.getAs[String]("theme")).toSet).toMap
    assert(got == byPath.filter(_._2.nonEmpty))
  }

  test("bicluster bert: detokenize, first-occurrence masking, theme filter, hash dedup") {
    import graft.operators.Bicluster
    val sent = Seq(
      ("B_BINDING", 1L, 0L, "join", "table", "OPERATION", "DATASHAPE", "p1",
        "join table join -LRB- ref -RRB- , end ."),
      ("Rg_REGULATION", 1L, 0L, "join", "table", "OPERATION", "DATASHAPE", "p1",
        "join table join -LRB- ref -RRB- , end ."), // same masked line → dedup
      ("T_TREATMENT", 2L, 0L, "scan", "row", "OPERATION", "DATASHAPE", "p2",
        "scan row .")) // excluded theme
      .toDF("theme", "pmid", "sentence_num", "entity1_name", "entity2_name",
        "entity1_type", "entity2_type", "dep_path", "tokenized_sentence")
    val rows = Bicluster.bertTrainingLines(sent).collect()
    assert(rows.length == 1)
    val r = rows.head
    // detok: "-LRB- "→"(", " -RRB-"→")", " ,"→",", " ."→"."; mask replaces
    // the FIRST "join" and the first "table" only
    assert(r.getAs[String]("sentence") == "@OPERATION$ @DATASHAPE$ join (ref), end.")
    assert(r.getAs[String]("label") == "b_binding") // min of the two colliding themes
    assert(r.getAs[String]("sentence_id").length == 32)
  }

  test("batch_stats / batch_overlap: file-body counts and hash-join overlap matrix") {
    val d = docs((0 until 30).map(i => s"w$i x$i y$i z$i join table"): _*)
    val stats = Exports.batchStatsFromRepo(Exports.repoFiles(d, pp(d))).collect()
    assert(stats.nonEmpty)
    stats.foreach { r =>
      assert(r.getAs[String]("file").endsWith(".txt"))
      val n = r.getAs[Long]("n_sentences")
      assert(n >= 1L && n <= 20L) // perPage bound; DONE lines never counted
    }
    assert(stats.map(_.getAs[String]("annotator")).distinct.sorted.toSeq ==
      (0 until Exports.RepoAnnotators).map(i => s"ann$i"))
    val overlap = Exports.batchOverlapFromRepo(Exports.batchRepo(d)).collect()
    overlap.foreach { r =>
      assert(r.getAs[String]("batch_a") < r.getAs[String]("batch_b"))
      assert(r.getAs[Long]("n_shared") >= 1L)
    }
    // annotators share most of the candidate pool → overlaps must exist
    assert(overlap.nonEmpty)
  }

  test("label_filter_embedding: bounded cosine, threshold-consistent flag, deterministic") {
    val emb = (0 until 16).map { i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5) / 5.0f), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val r1 = LabelQa.labelFilterByEmbedding(emb).collect()
      .map(r => r.getAs[String]("concept_id") ->
        (r.getAs[Double]("cosine"), r.getAs[Boolean]("possible_bad"))).toMap
    assert(r1.nonEmpty)
    r1.values.foreach { case (c, bad) =>
      assert(c >= -1.000001 && c <= 1.000001)
      assert(bad == (c < LabelQa.BadLabelCosine))
    }
    val r2 = LabelQa.labelFilterByEmbedding(emb).collect()
      .map(r => r.getAs[String]("concept_id") ->
        (r.getAs[Double]("cosine"), r.getAs[Boolean]("possible_bad"))).toMap
    assert(r1 == r2)
  }
}
