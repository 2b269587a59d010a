package graft

import graft.operators.{Cooccurrence, Dedup, Embeddings, TextOps, TextStats}

/** Round-8 operators: corpus-frequency boilerplate removal, sliding-window
  * RAG chunking, and the fastText-shaped hashing-trick quality classifier.
  */
class Round8OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  // one full 10-token sentence window (SentWindow = 10)
  private val chrome = "all rights reserved terms of service privacy policy contact us"
  // exactly 10 tokens, so each doc = chrome window + one unique window
  private def unique(i: Int) =
    s"unique body content number $i with several distinct tokens here"

  test("boilerplate windows in >=3 docs are removed from every doc") {
    val r = Dedup.boilerplateStrip(
      docs(s"$chrome ${unique(1)}", s"$chrome ${unique(2)}", s"$chrome ${unique(3)}"))
      .orderBy("doc_id").collect()
    assert(r.length == 3)
    r.zipWithIndex.foreach { case (row, i) =>
      assert(row.getAs[String]("clean_text") == unique(i + 1))
      assert(row.getAs[Long]("n_kept") == 1L && row.getAs[Long]("n_removed") == 1L)
    }
  }

  test("a window shared by only 2 docs is below the boilerplate threshold") {
    val r = Dedup.boilerplateStrip(
      docs(s"$chrome ${unique(1)}", s"$chrome ${unique(2)}", unique(3)))
      .orderBy("doc_id").collect()
    assert(r.forall(_.getAs[Long]("n_removed") == 0L))
    assert(r(0).getAs[String]("clean_text") == s"$chrome ${unique(1)}")
  }

  test("chunkStride windows overlap by window-stride tokens and cover the text") {
    val toks = (1 to 12).map(i => s"t$i")
    val r = TextOps.chunkStride(docs(toks.mkString(" ")))
      .orderBy("chunk_id").collect()
    // w=8, s=4 over 12 tokens -> chunks at ords [1,8], [5,12], [9,12]
    assert(r.map(_.getAs[Long]("chunk_id")).toSeq == Seq(0L, 1L, 2L))
    assert(r.map(_.getAs[Long]("n_tokens")).toSeq == Seq(8L, 8L, 4L))
    assert(r(0).getAs[String]("chunk_text") == toks.take(8).mkString(" "))
    assert(r(1).getAs[String]("chunk_text") == toks.slice(4, 12).mkString(" "))
    assert(r(2).getAs[String]("chunk_text") == toks.slice(8, 12).mkString(" "))
    // char spans index into the original text
    val text = toks.mkString(" ")
    r.foreach { row =>
      val (s0, e0) = (row.getAs[Long]("char_start").toInt, row.getAs[Long]("char_end").toInt)
      assert(text.substring(s0, e0) == row.getAs[String]("chunk_text"))
    }
  }

  test("quality classifier scores are deterministic, bounded, and count 2n-1 features") {
    val t = "spark plans are declarative and the optimizer does the physical work"
    val r = TextStats.qualityClassifier(docs(t, t)).collect()
    assert(r.length == 2)
    val n = t.split(" ").length
    r.foreach { row =>
      assert(row.getAs[Long]("n_feats") == 2L * n - 1)
      val score = row.getAs[Double]("score")
      assert(score >= -1.0 && score <= 1.0)
      assert(row.getAs[Boolean]("keep") == row.getAs[Long]("score_raw") > 0)
    }
    // same text => identical score on both docs
    assert(r.map(_.getAs[Double]("score")).distinct.length == 1)
  }

  test("row-local streaming band derivation equals the batch minhash bands") {
    val d = docs(
      "the quick fox jumps over a lazy dog near the old red barn today",
      "a completely different document with its own distinct shingle stream here",
      "tiny doc") // < 3 tokens -> no bands on either path
    val batch = Dedup.minhashBands(Dedup.shingleSets(d)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"), r.getAs[String]("band_key"))).toSet
    val stream = graft.streaming.DocStreams.streamBands(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"), r.getAs[String]("band_key"))).toSet
    assert(stream == batch)
    assert(!batch.exists(_._1 == 2L))
  }

  test("knn graph ranks same-bucket neighbors by cosine and flags mutual edges") {
    import org.apache.spark.sql.functions.col
    // three near-identical vectors (same LSH bucket) + base direction copies
    val dim = Embeddings.EmbDim
    def vec(eps: Double) = Array.tabulate(dim)(i => (math.sin(i + 1) + (if (i == 0) eps else 0.0)).toFloat)
    val df = Seq(
      (0L, vec(0.0), 0), (1L, vec(0.01), 0), (2L, vec(0.02), 0)
    ).toDF("vec_id", "embedding", "label")
    val g = Embeddings.knnGraph(df, k = 2).collect()
    // every node has 2 neighbors, all cosines ~1, and all edges mutual
    assert(g.length == 6)
    assert(g.forall(_.getAs[Double]("cosine") > 0.99))
    assert(g.forall(_.getAs[Boolean]("mutual")))
    val ranks = g.groupBy(_.getAs[Long]("vec_id")).view.mapValues(_.map(_.getAs[Long]("rank")).sorted.toSeq)
    assert(ranks.values.forall(_ == Seq(1L, 2L)))
  }

  test("multimodal batch planning packs ~batchBytes per batch with dense ids per source") {
    val d = docs((1 to 6).map(i => s"doc number $i " + ("x" * 100)): _*)
    val r = TextStats.multimodalBatches(d, batchBytes = 200L).collect()
    assert(r.length == 6)
    // batch ids start at 0 and are dense per source
    val ids = r.map(_.getAs[Long]("batch_id")).distinct.sorted.toSeq
    assert(ids == (0L until ids.length.toLong))
    // no batch's payload start drifts past its quantized slot: every doc's
    // batch is its start offset div batchBytes, so per-batch payload stays
    // within ~batchBytes + one max payload
    val bySize = r.groupBy(_.getAs[Long]("batch_id")).view.mapValues(_.map(_.getAs[Long]("byte_len")).sum)
    assert(bySize.values.forall(_ <= 200L + 115L))
  }

  test("soft dedup weights split a cluster's mass and leave singletons whole") {
    val base = "the quick fox jumps over a lazy dog near the old red barn today"
    val r = Dedup.softDedupWeightsFrom(Dedup.clusters(docs(base, base, base,
      "a completely different document with many other tokens in this string ok")))
      .orderBy("doc_id").collect()
    assert(r.length == 4)
    assert(r.take(3).forall(_.getAs[Long]("cluster_size") == 3L))
    assert(r.take(3).forall(_.getAs[Double]("weight") == 0.333333))
    assert(r(3).getAs[Long]("cluster_size") == 1L && r(3).getAs[Double]("weight") == 1.0)
    // a cluster's total mass stays ~1 regardless of its multiplicity
    assert(math.abs(r.take(3).map(_.getAs[Double]("weight")).sum - 1.0) < 1e-5)
  }

  test("ann ndcg is bounded by 1 and its idcg is the fixed ideal-ranking mass") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Embeddings.annNdcgFromTruth(emb, Embeddings.cosineTopK(emb)).collect()
    assert(r.length == 8)
    // IDCG@5 with graded rel (5,4,3,2,1) in micro-units is a constant
    val idcg = (1 to 5).map(p => math.floor((6.0 - p) / (math.log(p + 1.0) / math.log(2.0)) * 1e6 + 0.5).toLong).sum
    r.foreach { row =>
      assert(row.getAs[Long]("idcg_u") == idcg)
      assert(row.getAs[Long]("dcg_u") <= row.getAs[Long]("idcg_u"))
      val n = row.getAs[Double]("ndcg")
      assert(n >= 0.0 && n <= 1.0)
    }
  }

  test("mmr rerank swaps a redundant second hit for a diverse one") {
    val dim = Embeddings.EmbDim
    def planar(deg: Double) = {
      val rad = math.toRadians(deg)
      Array.tabulate(dim)(i =>
        (if (i == 0) math.cos(rad) else if (i == 1) math.sin(rad) else 0.0).toFloat)
    }
    // query along dim0; a1/a2 nearly coincident at ~24-25 deg; b on the
    // other side at -28 deg (slightly less relevant, far from the a's)
    val df = Seq(
      (0L, planar(0), 0), (1L, planar(24), 0), (2L, planar(25), 0), (3L, planar(-28), 0)
    ).toDF("vec_id", "embedding", "label")
    val plain = Embeddings.cosineTopK(df, numQueries = 1, k = 2)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    val mmr = Embeddings.mmrRerank(df, numQueries = 1, m = 3, k = 2)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(plain == Seq(1L, 2L)) // pure relevance keeps the near-duplicate
    assert(mmr == Seq(1L, 3L)) // MMR trades it for the diverse candidate
  }

  test("rrf fusion boosts a high-quality doc above a slightly better bm25 doc") {
    import org.apache.spark.sql.functions.col
    val base = docs(
      "spark spark spark plus filler words to give this document some length",
      "spark alpha beta gamma delta epsilon zeta eta theta iota kappa lambda")
    val annots = graft.operators.Concepts.postProcess(graft.operators.Concepts.recognize(base))
    val r = Cooccurrence.hybridRrfFromPool(base, Cooccurrence.bm25TopK(annots)).collect()
    assert(r.nonEmpty)
    // per concept: ranks are 1..n dense, rrf non-increasing in rank
    r.groupBy(_.getAs[String]("concept_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq)
      val rrfs = sorted.map(_.getAs[Double]("rrf")).toSeq
      assert(rrfs == rrfs.sorted.reverse)
    }
  }

  test("gopher rules gate on word count, word length, symbols, and stopwords") {
    val fifty = (1 to 48).map(i => s"word$i").mkString("a the ", " ", "")
    val r = TextStats.gopherRules(docs(
      fifty,                        // 50 words, both stopwords: passes
      "a the short",                // 3 words: fails word count only
      fifty.replace("a the ", "# # "))) // symbols, no stopwords
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Boolean]("pass_gopher"))
    assert(!r(1).getAs[Boolean]("rule_word_count") &&
      r(1).getAs[Boolean]("rule_stopwords") && r(1).getAs[Boolean]("rule_symbol_ratio"))
    // 2 symbol words in 50 is under the 10% bound; no stopwords left
    assert(!r(2).getAs[Boolean]("rule_stopwords") &&
      r(2).getAs[Boolean]("rule_symbol_ratio") &&
      r(2).getAs[Long]("n_symbol_words") == 2L &&
      r(2).getAs[Long]("n_alpha_words") == 48L)
    // 7 symbol words in 50 exceeds the 10% symbol-to-word bound
    val sym = TextStats.gopherRules(docs(
      ("# " * 7) + (1 to 43).map(i => s"w$i").mkString(" "))).collect().head
    assert(!sym.getAs[Boolean]("rule_symbol_ratio"))
    // mean word length: 50 one-char words fails the >=3 bound
    val short = TextStats.gopherRules(docs((1 to 50).map(_ => "x").mkString(" ")))
      .collect().head
    assert(!short.getAs[Boolean]("rule_mean_word_len"))
  }

  test("scd2 chains three batches into a contiguous validity history") {
    val b0 = Seq((1L, "v0")).toDF("doc_id", "lang")
    val b1 = Seq((1L, "v1")).toDF("doc_id", "lang")
    val b2 = Seq((1L, "v2")).toDF("doc_id", "lang")
    val h = graft.infra.Etl.scd2(Seq((0L, b0), (5L, b1), (9L, b2)), "doc_id")
      .orderBy("version").collect()
    assert(h.map(_.getAs[Long]("version")).toSeq == Seq(1L, 2L, 3L))
    assert(h.map(_.getAs[Long]("valid_from")).toSeq == Seq(0L, 5L, 9L))
    // each version's valid_to is exactly the next version's valid_from
    assert(h.init.map(_.getAs[Long]("valid_to")).toSeq == Seq(5L, 9L))
    assert(h.last.isNullAt(h.last.fieldIndex("valid_to")))
    assert(h.map(_.getAs[Boolean]("is_current")).toSeq == Seq(false, false, true))
    assert(h.map(_.getAs[String]("lang")).toSeq == Seq("v0", "v1", "v2"))
  }

  test("scd2 versions updated keys and leaves untouched keys current at v1") {
    import org.apache.spark.sql.functions.col
    val base = Seq((1L, "en"), (2L, "en")).toDF("doc_id", "lang")
    val upd = Seq((2L, "xx")).toDF("doc_id", "lang")
    val h = graft.infra.Etl.scd2(Seq((0L, base), (1L, upd)), "doc_id")
      .orderBy("doc_id", "version").collect()
    assert(h.length == 3)
    val d1 = h.filter(_.getAs[Long]("doc_id") == 1L)
    assert(d1.length == 1 && d1.head.getAs[Boolean]("is_current") &&
      d1.head.getAs[Long]("version") == 1L)
    val d2 = h.filter(_.getAs[Long]("doc_id") == 2L)
    assert(d2.map(_.getAs[Long]("version")).toSeq == Seq(1L, 2L))
    assert(d2.head.getAs[Long]("valid_to") == 1L && !d2.head.getAs[Boolean]("is_current"))
    assert(d2.last.getAs[Boolean]("is_current") && d2.last.getAs[String]("lang") == "xx")
  }
}
