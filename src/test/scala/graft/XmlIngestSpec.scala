package graft

import graft.operators.XmlIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}

/** Medline/JATS schema-fidelity checks mirroring the reference's own
  * MedlineXmlToTextFnTest semantics (title + labeled-abstract assembly,
  * pub-year default) on micro-fixtures. */
class XmlIngestSpec extends SparkSpec {
  import spark.implicits._

  // doc 7: 25 tokens → title (w0) + two abstract windows; 7 % 7 == 0 → no
  // <Year> element in the serialized citation. doc 8: 5 tokens → title only.
  private val docs = Seq(
    (7L, (1 to 25).map(i => s"t$i").mkString(" "), "en", "s", 120L),
    (8L, "only five tokens right here", "en", "s", 28L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("medline parse: labeled abstract sections join with \\n; doc text = title\\n\\nabstract") {
    val r = XmlIngest.medlineRoundTrip(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    val title7 = (1 to 10).map(i => s"t$i").mkString(" ")
    val abs7 = (11 to 20).map(i => s"t$i").mkString(" ") + "\n" + (21 to 25).map(i => s"t$i").mkString(" ")
    assert(r(7L).getAs[String]("title") == title7)
    assert(r(7L).getAs[String]("abstract") == abs7)
    assert(r(7L).getAs[String]("doc_text") == s"$title7\n\n$abs7")
    assert(r(7L).getAs[String]("pmid") == "PMID:7")
  }

  test("medline parse: missing PubDate year defaults to 2155; title-only doc has no abstract") {
    val r = XmlIngest.medlineRoundTrip(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(7L).getAs[String]("year") == XmlIngest.DefaultPubYear) // 7 % 7 == 0
    assert(r(8L).getAs[String]("year") == "1998") // 8 % 30 + 1990
    assert(r(8L).getAs[String]("abstract") == "")
    assert(r(8L).getAs[String]("doc_text") == "only five tokens right here")
  }

  test("medline metadata flatten: journal-issue fields land, missing fields become '-'") {
    val r = XmlIngest.medlineMetadata(XmlIngest.serializeMedline(docs)).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // doc 7: %7==0 → no Year → '-' (the metadata path hyphenates, it does
    // NOT apply the text path's 2155 default); %4!=0 → Volume present
    assert(r(7L).getAs[String]("year") == "-")
    assert(r(7L).getAs[String]("volume") == "8")    // 7 % 50 + 1
    assert(r(7L).getAs[String]("month") == "Aug")   // MonthAbbrevs(7 % 12)
    assert(r(7L).getAs[String]("journal") == "Journal of Spark Topic 7")
    assert(r(7L).getAs[String]("article_abstract").startsWith("t11 "))
    // doc 8: %4==0 → no Volume; %8... year present; title-only → abstract '-'
    assert(r(8L).getAs[String]("volume") == "-")
    assert(r(8L).getAs[String]("year") == "1998")
    assert(r(8L).getAs[String]("journal_abbrev") == "J Spark 8")
    assert(r(8L).getAs[String]("article_abstract") == "-")
    assert(r(8L).getAs[String]("pmid") == "PMID:8")
  }

  test("update files: revised articles carry year+1, DeleteCitation lists retracted pmids, upsert applies both") {
    // hash(doc_id) = (doc_id * 2654435761) % 1000: pick fixture ids landing
    // in each slice — updated (<100), retracted (>=900), untouched
    def h(id: Long) = java.lang.Math.floorMod(id * 2654435761L, 1000L)
    val ids = (1L to 2000L)
    val updId = ids.find(i => h(i) < 100).get
    val delId = ids.find(i => h(i) >= 900).get
    val keepId = ids.find(i => h(i) >= 100 && h(i) < 900 && i % 7 != 0).get
    val dd = Seq(updId, delId, keepId)
      .map(i => (i, (1 to 15).map(k => s"w$k").mkString(" "), "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val files = XmlIngest.serializeMedlineUpdateFiles(dd)
    val arts = XmlIngest.parseUpdateFileArticles(files).collect()
    assert(arts.map(_.getAs[Long]("doc_id")).toSeq == Seq(updId))
    if (updId % 7 != 0)
      assert(arts.head.getAs[String]("year") == (updId % 30 + 1991).toString)
    val dels = XmlIngest.parseUpdateFileDeletes(files).collect()
    assert(dels.map(_.getAs[Long]("doc_id")).toSeq == Seq(delId))
    assert(dels.head.getAs[Long]("file_id") == delId % XmlIngest.UpdateFileMod)
    val merged = XmlIngest.medlineUpsertWithDeletes(dd).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(!merged.contains(delId), "retracted PMID must vanish")
    assert(merged.contains(keepId))
    if (updId % 7 != 0)
      assert(merged(updId).getAs[String]("year") == (updId % 30 + 1991).toString,
        "revised citation must win the upsert")
  }

  test("sub/sup annotations: spans index the cleaned text and validate covered_text") {
    val r = XmlIngest.medlineSubSupRoundTrip(docs).collect()
    val clean = XmlIngest.medlineRoundTrip(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("doc_text")).toMap
    assert(r.nonEmpty)
    // the validateObservedAnnotations contract: covered text == substring
    r.foreach { x =>
      val (id, s, e) = (x.getAs[Long]("doc_id"), x.getAs[Long]("char_start").toInt,
        x.getAs[Long]("char_end").toInt)
      assert(clean(id).substring(s, e) == x.getAs[String]("covered_text"),
        s"span mismatch for doc $id")
    }
    // doc 7 (odd): title token 2 in sub, abstract token 1 in sup
    val by = r.groupBy(x => (x.getAs[Long]("doc_id"), x.getAs[String]("ann_type")))
    assert(by((7L, "sub")).head.getAs[String]("covered_text") == "t2")
    assert(by((7L, "sup")).head.getAs[String]("covered_text") == "t11")
    // doc 8 (even) title-only: sup ann on title, no abstract ann
    assert(by((8L, "sup")).head.getAs[String]("covered_text") == "five")
    assert(!by.contains((8L, "sub")))
  }

  test("jats parse: doi attribute value, abstract/body paragraphs, null sections skipped in doc_text") {
    val r = XmlIngest.jatsRoundTrip(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(7L).getAs[String]("doi") == "10.1101/7")
    // 25 tokens → abstract = windows 1-2, body = none (no window 3)
    assert(r(7L).getAs[String]("body") == "")
    val title7 = (1 to 10).map(i => s"t$i").mkString(" ")
    assert(r(7L).getAs[String]("doc_text").startsWith(title7 + "\n\n"))
    assert(r(8L).getAs[String]("doc_text") == "only five tokens right here")
  }

  // doc 25: 35 tokens → title + three later windows (the last of 5 tokens);
  // hash(25) < 100 → revised in the update files; 25 % 3 == 1 → MedlineDate.
  // doc 38: 5 tokens → title only; hash(38) >= 900 → retracted; 38 % 3 == 2
  // → ArticleDate only.
  private val golden = Seq(
    (25L, (1 to 35).map(i => s"w$i").mkString(" "), "en", "s", 130L),
    (38L, "only five tokens right here", "en", "s", 27L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  private val w11to35 =
    "w11 w12 w13 w14 w15 w16 w17 w18 w19 w20 w21 w22 w23 w24 w25 w26 w27 w28 w29 w30 " +
      "w31 w32 w33 w34 w35"

  /** Each serializer's xml per id on [[golden]], byte for byte. */
  private val goldenXml: Seq[(String, DataFrame => DataFrame, Seq[(Long, String)])] = Seq(
    ("serialize", XmlIngest.serialize, Seq(
      25L ->
        s"<doc><title>w1 w2 w3 w4 w5 w6 w7 w8 w9 w10</title><body>$w11to35</body></doc>",
      38L ->
        "<doc><title>only five tokens right here</title><body></body></doc>")),
    ("serializeMedline", XmlIngest.serializeMedline, Seq(
      25L ->
        ("<PubmedArticle><MedlineCitation><PMID>25</PMID><Article><Journal>" +
        "<JournalIssue><Volume>26</Volume><PubDate><Year>2015</Year><Month>Feb</Month>" +
        "<Day>26</Day></PubDate></JournalIssue><Title>Journal of Spark Topic 5</Title>" +
        "<ISOAbbreviation>J Spark 5</ISOAbbreviation></Journal><ArticleTitle>" +
        "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10</ArticleTitle><Abstract>" +
        "<AbstractText Label=\"BACKGROUND\">" +
        "w11 w12 w13 w14 w15 w16 w17 w18 w19 w20</AbstractText>" +
        "<AbstractText Label=\"METHODS\">" +
        "w21 w22 w23 w24 w25 w26 w27 w28 w29 w30</AbstractText></Abstract></Article>" +
        "</MedlineCitation></PubmedArticle>"),
      38L ->
        ("<PubmedArticle><MedlineCitation><PMID>38</PMID><Article><Journal>" +
        "<JournalIssue><Volume>39</Volume><Issue>3</Issue><PubDate><Year>1998</Year>" +
        "<Month>Mar</Month><Day>11</Day></PubDate></JournalIssue><Title>" +
        "Journal of Spark Topic 18</Title><ISOAbbreviation>J Spark 18</ISOAbbreviation>" +
        "</Journal><ArticleTitle>only five tokens right here</ArticleTitle></Article>" +
        "</MedlineCitation></PubmedArticle>"))),
    ("serializeMedlineSubSup", XmlIngest.serializeMedlineSubSup, Seq(
      25L ->
        ("<PubmedArticle><MedlineCitation><PMID>25</PMID><Article><Journal>" +
        "<JournalIssue><Volume>26</Volume><PubDate><Year>2015</Year><Month>Feb</Month>" +
        "<Day>26</Day></PubDate></JournalIssue><Title>Journal of Spark Topic 5</Title>" +
        "<ISOAbbreviation>J Spark 5</ISOAbbreviation></Journal><ArticleTitle>" +
        "&lt;b&gt;w1&lt;/b&gt; &lt;sub&gt;w2&lt;/sub&gt; w3 w4 w5 w6 w7 w8 w9 w10</ArticleTitle>" +
        "<Abstract><AbstractText Label=\"BACKGROUND\">" +
        "&lt;sup&gt;w11&lt;/sup&gt; w12 w13 w14 w15 w16 w17 w18 w19 w20</AbstractText>" +
        "<AbstractText Label=\"METHODS\">" +
        "w21 w22 w23 w24 w25 w26 w27 w28 w29 w30</AbstractText></Abstract></Article>" +
        "</MedlineCitation></PubmedArticle>"),
      38L ->
        ("<PubmedArticle><MedlineCitation><PMID>38</PMID><Article><Journal>" +
        "<JournalIssue><Volume>39</Volume><Issue>3</Issue><PubDate><Year>1998</Year>" +
        "<Month>Mar</Month><Day>11</Day></PubDate></JournalIssue><Title>" +
        "Journal of Spark Topic 18</Title><ISOAbbreviation>J Spark 18</ISOAbbreviation>" +
        "</Journal><ArticleTitle>" +
        "&lt;b&gt;only&lt;/b&gt; &lt;sup&gt;five&lt;/sup&gt; tokens right here</ArticleTitle>" +
        "</Article></MedlineCitation></PubmedArticle>"))),
    ("serializeMedlineUpdateFiles", XmlIngest.serializeMedlineUpdateFiles, Seq(
      5L ->
        ("<PubmedArticleSet><PubmedArticle><MedlineCitation><PMID>25</PMID><Article>" +
        "<Journal><JournalIssue><Volume>26</Volume><PubDate><Year>2016</Year><Month>" +
        "Feb</Month><Day>26</Day></PubDate></JournalIssue><Title>" +
        "Journal of Spark Topic 5</Title><ISOAbbreviation>J Spark 5</ISOAbbreviation>" +
        "</Journal><ArticleTitle>w1 w2 w3 w4 w5 w6 w7 w8 w9 w10</ArticleTitle>" +
        "<Abstract><AbstractText Label=\"BACKGROUND\">" +
        "w11 w12 w13 w14 w15 w16 w17 w18 w19 w20</AbstractText>" +
        "<AbstractText Label=\"METHODS\">" +
        "w21 w22 w23 w24 w25 w26 w27 w28 w29 w30</AbstractText></Abstract></Article>" +
        "</MedlineCitation></PubmedArticle></PubmedArticleSet>"),
      8L ->
        ("<PubmedArticleSet><DeleteCitation><PMID>38</PMID></DeleteCitation>" +
        "</PubmedArticleSet>"))),
    ("serializeMedlinePubdates", XmlIngest.serializeMedlinePubdates, Seq(
      25L ->
        ("<PubmedArticle><MedlineCitation><PMID>25</PMID><Article><Journal>" +
        "<JournalIssue><PubDate><MedlineDate>Winter 2016 Nov-Dec</MedlineDate>" +
        "</PubDate></JournalIssue></Journal><ArticleTitle>t</ArticleTitle></Article>" +
        "</MedlineCitation></PubmedArticle>"),
      38L ->
        ("<PubmedArticle><MedlineCitation><PMID>38</PMID><Article><Journal>" +
        "<JournalIssue><PubDate><Season>Winter</Season></PubDate></JournalIssue>" +
        "</Journal><ArticleTitle>t</ArticleTitle><ArticleDate><Year>2000</Year><Month>" +
        "01</Month></ArticleDate></Article></MedlineCitation></PubmedArticle>"))),
    ("serializeJats", XmlIngest.serializeJats, Seq(
      25L ->
        ("<article><front><article-meta><article-id pub-id-type=\"doi\">" +
        "10.1101/25</article-id><title-group><article-title>" +
        "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10</article-title></title-group><abstract><p>" +
        "w11 w12 w13 w14 w15 w16 w17 w18 w19 w20</p><p>" +
        "w21 w22 w23 w24 w25 w26 w27 w28 w29 w30</p></abstract></article-meta></front>" +
        "<body><sec><p>w31 w32 w33 w34 w35</p></sec></body></article>"),
      38L ->
        ("<article><front><article-meta><article-id pub-id-type=\"doi\">" +
        "10.1101/38</article-id><title-group><article-title>" +
        "only five tokens right here</article-title></title-group></article-meta>" +
        "</front></article>"))),
    ("serializeBioc", XmlIngest.serializeBioc, Seq(
      25L ->
        ("<collection><document><id>25</id><passage><infon key=\"type\">title</infon>" +
        "<offset>0</offset><text>w1 w2 w3 w4 w5 w6 w7 w8 w9 w10</text></passage>" +
        "<passage><infon key=\"type\">abstract</infon><offset>31</offset><text>" +
        s"$w11to35</text></passage></document></collection>"),
      38L ->
        ("<collection><document><id>38</id><passage><infon key=\"type\">title</infon>" +
        "<offset>0</offset><text>only five tokens right here</text></passage>" +
        "</document></collection>"))))

  goldenXml.foreach { case (name, serializer, expected) =>
    test(s"golden xml: $name on a title-only and a four-window document") {
      val got = serializer(golden).collect()
        .map(r => r.getLong(0) -> r.getAs[String]("xml")).sortBy(_._1).toSeq
      assert(got == expected)
    }
  }

  test("pmidToYear resolves entities before parsing, like every Medline reader") {
    val xml = "<PubmedArticle><MedlineCitation><PMID>42</PMID><Article><Journal>" +
      "<JournalIssue><PubDate><Year>2001</Year></PubDate></JournalIssue></Journal>" +
      "<ArticleTitle>&alpha;-helix</ArticleTitle></Article></MedlineCitation></PubmedArticle>"
    val r = XmlIngest.pmidToYear(Seq((42L, xml)).toDF("doc_id", "xml")).collect()
    assert(r.map(x => (x.getAs[String]("pmid"), x.getAs[String]("year"))).toSeq ==
      Seq(("PMID:42", "2001")))
  }

  test("cross-reader: citation, update-file, html-flag and year readers agree on the same citations") {
    // entity-bearing titles, escaped sub/sup markup, a year-less citation (7)
    val cits = XmlIngest.serializeMedlineEntities(golden)
      .unionByName(XmlIngest.serializeMedlineSubSup(docs))
    val files = cits.select(col("doc_id").as("file_id"),
      concat(lit("<PubmedArticleSet>"), col("xml"), lit("</PubmedArticleSet>")).as("xml"))
    val textCols = Seq("doc_id", "pmid", "year", "title", "abstract", "doc_text").map(col)
    def rows(df: DataFrame) =
      df.select(textCols: _*).collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val medline = rows(XmlIngest.parseMedline(cits))
    assert(medline.map(_.head) == Seq(7L, 8L, 25L, 38L))
    assert(rows(XmlIngest.parseUpdateFileArticles(files)) == medline)
    def pmids(df: DataFrame) = df.select("doc_id", "pmid").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = medline.map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[String]).toMap
    assert(expected.forall { case (id, p) => p == s"PMID:$id" })
    assert(pmids(XmlIngest.pmidHtmlFlag(cits)) == expected)
    assert(pmids(XmlIngest.pmidToYear(cits)) == expected)
  }
}
