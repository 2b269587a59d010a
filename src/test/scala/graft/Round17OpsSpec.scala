package graft

import graft.operators.{Cooccurrence, Dedup, Embeddings, Exports, SentencePairs, Sheets, TextStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 optimization-round pins: every query whose internals were
  * rewired to consume a prebuilt/staged part must produce EXACTLY the rows
  * of its original inline formulation (the driver's oracle enforces the
  * same at sf0.001/0.01; these pins keep the equivalence local and fast).
  */
class Round17OpsSpec extends SparkSpec {
  import spark.implicits._

  // small corpus with repeated tokens so tf/df/idf/minhash all have signal
  private val docs = Seq(
    (1L, "alpha beta gamma alpha merge stream vector beta alpha zeta eta theta iota kappa", "s1", "en", 80L),
    (2L, "alpha beta gamma alpha merge stream vector beta alpha zeta eta theta iota kappa", "s1", "en", 80L),
    (3L, "gamma delta merge alpha vector stream beta gamma delta epsilon zeta eta theta iota", "s2", "en", 82L),
    (4L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen", "s2", "en", 79L))
    .toDF("doc_id", "text", "source", "lang", "n_chars")

  private def annots = Seq(
    (1L, 1L, "alpha", 0L, 5L, "OP:alpha"), (1L, 4L, "alpha", 17L, 22L, "OP:alpha"),
    (1L, 2L, "beta", 6L, 10L, "DS:beta"), (1L, 8L, "beta", 36L, 40L, "DS:beta"),
    (2L, 1L, "alpha", 0L, 5L, "OP:alpha"), (2L, 2L, "beta", 6L, 10L, "DS:beta"),
    (3L, 4L, "alpha", 17L, 22L, "OP:alpha"), (3L, 7L, "beta", 38L, 42L, "DS:beta"),
    (3L, 1L, "gamma", 0L, 5L, "DS:gamma"))
    .toDF("doc_id", "ord", "tok", "char_start", "char_end", "concept_id")

  private def sortedRows(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.sorted.sameElements(b.columns.sorted))
    assert(sortedRows(a) == sortedRows(b))
  }

  test("dsTrainSplitFromMetrics over the scores table equals the inline dsTrainSplit") {
    // inline: the scores plan; the scores table: its rows, materialized
    // once before the split runs
    val inline = Cooccurrence.metrics(annots, Seq("doc_id"))
    val metrics = inline.localCheckpoint()
    assertSameRows(
      SentencePairs.dsTrainSplitFromMetrics(annots, inline),
      SentencePairs.dsTrainSplitFromMetrics(annots, metrics))
    graft.infra.Caches.unpersistManaged()
  }

  test("bm25MrrFromPool / hybridRrfFromPool over a prebuilt pool equal the inline forms") {
    // inline: the retrieval plan; prebuilt: its rows, materialized once
    val inline = Cooccurrence.bm25TopK(annots)
    val pool = inline.localCheckpoint()
    assertSameRows(Cooccurrence.bm25MrrFromPool(annots, inline),
      Cooccurrence.bm25MrrFromPool(annots, pool))
    assertSameRows(Cooccurrence.hybridRrfFromPool(docs, inline),
      Cooccurrence.hybridRrfFromPool(docs, pool))
    graft.infra.Caches.unpersistManaged()
  }

  test("tfidfDocSimFrom over prebuilt vectors+candidates equals the inline tfidfDocSim") {
    assertSameRows(
      Cooccurrence.tfidfDocSimFrom(Cooccurrence.tfidf(annots),
        Dedup.minhashCandidates(docs).select("doc_a", "doc_b"), tau = 0.0),
      Cooccurrence.tfidfDocSimFrom(Cooccurrence.tfidf(annots),
        Dedup.minhashCandidatesFromBands(Dedup.bandsFromSig(
          Dedup.stagedSignatures(docs, "/tmp/graft-test-r17-minhash"))).select("doc_a", "doc_b"),
        tau = 0.0))
    graft.infra.Caches.unpersistManaged()
  }

  test("stagedFirstBatch serves the exact rows of the inline first batch") {
    val rows = Sheets.candidateRows(docs, annots)
    val inline = Sheets.batchFrom(rows, Seq.empty[String].toDF("hash"))
    val staged = Sheets.stagedFirstBatch(rows, "/tmp/graft-test-r17-sheets")
    assertSameRows(inline, staged)
    graft.infra.Caches.unpersistManaged()
  }

  test("heavyHittersCms tokenizes once: the exact and sketch passes share one cached token table") {
    val hh = TextStats.heavyHittersCms(docs, k = 3)
    hh.count() // materialize so the managed cache is established
    // collectLeaves stops at AQE query-stage boundaries (the sketch side
    // rides a broadcast stage), so audit the printed final plan instead
    val plan = hh.queryExecution.executedPlan.toString
    val cached = "InMemoryTableScan".r.findAllIn(plan).length
    // (InMemoryRelation prints its build lineage — a LocalTableScan line
    // under each cache scan — so only the InMemoryTableScan count is the
    // live-pass signal here)
    assert(cached >= 2, s"expected both passes to read the cached token table, got $cached cache scans:\n$plan")
    // CMS guarantee survives the rewire: est >= exact on every row
    assert(hh.where(col("est_cnt") < col("exact_cnt")).count() == 0L)
    graft.infra.Caches.unpersistManaged()
  }

  test("ANN eval FromTruth forms over a prebuilt truth equal the inline evals") {
    def unit(at: Int): Array[Float] = {
      val a = Array.fill(Embeddings.EmbDim)(0.01f); a(at) = 1.0f; a
    }
    val vs = (0 until 24).map(i => (i.toLong, unit(i % 11), i % 3))
      .toDF("vec_id", "embedding", "label")
    // inline: the truth is the brute-force plan; prebuilt: its rows,
    // materialized once before the evals run
    val inline = Embeddings.cosineTopK(vs)
    val truth = inline.localCheckpoint()
    assertSameRows(Embeddings.annRecallFromTruth(vs, inline),
      Embeddings.annRecallFromTruth(vs, truth))
    assertSameRows(Embeddings.annNdcgFromTruth(vs, inline),
      Embeddings.annNdcgFromTruth(vs, truth))
    assertSameRows(Embeddings.ivfProbeSweepFromTruth(vs, inline),
      Embeddings.ivfProbeSweepFromTruth(vs, truth))
    assertSameRows(Embeddings.indexRecallMatrixFromTruth(vs, inline),
      Embeddings.indexRecallMatrixFromTruth(vs, truth))
    graft.infra.Caches.unpersistManaged()
  }

  test("sourceLmMatrix aggregated rewrite equals the per-token formulation") {
    assertSameRows(TextStats.sourceLmMatrix(docs),
      TextStats.sourceLmMatrixPerToken(docs))
    graft.infra.Caches.unpersistManaged()
  }

  test("brat emits both line kinds from one ranked pass (rows equal the two-branch form)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("char_start"), col("concept_id"))
    val t = annots.withColumn("t_num", row_number().over(w).cast("long"))
    val tLines = t.select(col("doc_id"),
      concat(lit("T"), col("t_num"), lit("\t"),
        substring_index(col("concept_id"), ":", 1), lit(" "),
        col("char_start"), lit(" "), col("char_end"),
        lit("\t"), col("tok")).as("line"))
    val nLines = t.select(col("doc_id"),
      concat(lit("N"), col("t_num"), lit("\tReference T"), col("t_num"),
        lit(" "), col("concept_id"), lit("\t"), col("tok")).as("line"))
    val twoBranch = tLines.unionAll(nLines)
      .select(col("doc_id"), concat(col("doc_id"), lit(".ann")).as("ann_file"), col("line"))
    assertSameRows(Exports.brat(annots), twoBranch)
    // and the single-pass plan computes exactly one window
    val nWindows = "Window".r
      .findAllIn(Exports.brat(annots).queryExecution.executedPlan.toString).length
    assert(nWindows == 1, s"expected one Window operator, got $nWindows")
  }

  test("LM scorers tokenize once: unigram/bigram streams come from managed caches") {
    val uni = TextStats.unigramLogprob(docs)
    uni.count()
    val uniPlan = uni.queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(uniPlan).length >= 2,
      s"unigramLogprob should read the cached token table on both sides:\n$uniPlan")
    graft.infra.Caches.unpersistManaged()
    val bi = TextStats.bigramLogprob(docs)
    bi.count()
    val biPlan = bi.queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllIn(biPlan).length >= 3,
      s"bigramLogprob should read the cached token+bigram tables:\n$biPlan")
    graft.infra.Caches.unpersistManaged()
  }

  test("heavyHittersCms aggregated sketch equals the per-occurrence CMS formulation") {
    import graft.operators.{TextOps, TextStats}
    // the pre-r17 shape: the sketch counts token OCCURRENCES cell by cell
    val toks = TextOps.tokens(docs).select("tok")
    def bucket(row: Int) =
      pmod(graft.functions.Hash60.id(
        concat(lit(row.toString), lit("|"), col("tok"))), lit(TextStats.CmsWidth))
    val sketch = toks
      .select(posexplode(array((0 until TextStats.CmsDepth).map(bucket): _*)).as(Seq("r", "bucket")))
      .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    val cand = exact.orderBy(col("exact_cnt").desc, col("tok")).limit(3)
    val perOccurrence = cand
      .select(col("tok"), col("exact_cnt"),
        posexplode(array((0 until TextStats.CmsDepth).map(bucket): _*)).as(Seq("r", "bucket")))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy("tok", "exact_cnt")
      .agg(min("c").as("est_cnt"))
    assertSameRows(TextStats.heavyHittersCms(docs, k = 3), perOccurrence)
    graft.infra.Caches.unpersistManaged()
  }

  test("ontologyClosure returns the dictionary ontology's rows without a Spark job") {
    import graft.functions.ConceptDict
    import graft.operators.KnowledgeGraph
    var rows = Set.empty[(String, String)]
    val jobs = jobsDuring {
      rows = KnowledgeGraph.ontologyClosure(spark).as[(String, String)].collect().toSet
    }
    assert(jobs == 0, s"ontology closure ran $jobs Spark jobs")
    // every dictionary concept reaches its group root, join/merge through
    // the JOINLIKE mid-level, which itself rolls up to OP:ROOT
    val expected = ConceptDict.entries.map { case (_, c) => c -> (c.takeWhile(_ != ':') + ":ROOT") }.toSet ++
      Set("OP:join" -> "OP:JOINLIKE", "OP:merge" -> "OP:JOINLIKE", "OP:JOINLIKE" -> "OP:ROOT")
    assert(rows == expected)
  }

  test("ngramJaccard candidates come from the managed shingle table (single shingle derivation)") {
    val nj = Dedup.ngramJaccard(docs, threshold = 0.0)
    nj.count()
    val leaves = nj.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(leaves.exists(_.contains("InMemoryTableScan")),
      "expected the candidate join to read the cached shingle table")
    // docs 1 and 2 are identical → jaccard 1.0 must survive the rewire
    val j12 = nj.where(col("doc_a") === 1L && col("doc_b") === 2L)
      .select("jaccard").as[Double].collect()
    assert(j12.sameElements(Array(1.0)))
    graft.infra.Caches.unpersistManaged()
  }
}
