package graft

import graft.operators.{Cooccurrence, Embeddings, KnowledgeGraph}

/** PageRank centrality, hard-negative mining, and the IVF probe sweep. */
class GraphRetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def annots(pairs: (Long, String)*) =
    pairs.toDF("doc_id", "concept_id")

  /** The document-cooccurrence pair graph the *FromPairs operators read. */
  private def docPairs(pairs: (Long, String)*) =
    Cooccurrence.pairCounts(Cooccurrence.unitConcepts(annots(pairs: _*), Seq("doc_id")), Seq("doc_id"))

  test("pageRank on a regular graph keeps every rank at exactly 1.0") {
    // one doc with three concepts -> K3: every node degree 2, perfectly
    // symmetric, so the damped iteration is a fixpoint at 10^6 micro-units
    val r = KnowledgeGraph.pageRankFromPairs(
      docPairs((1L, "XX:a"), (1L, "XX:b"), (1L, "XX:c"))).collect()
    assert(r.length == 3)
    assert(r.forall(_.getAs[Long]("degree") == 2L))
    assert(r.forall(_.getAs[Double]("pagerank") == 1.0))
  }

  test("pageRank concentrates mass on a star center; leaves stay symmetric") {
    val r = KnowledgeGraph.pageRankFromPairs(
      docPairs((1L, "XX:c"), (1L, "XX:a"),
             (2L, "XX:c"), (2L, "XX:b"),
             (3L, "XX:c"), (3L, "XX:d")))
      .collect().map(x => x.getAs[String]("concept_id") -> x.getAs[Double]("pagerank")).toMap
    assert(r("XX:c") > r("XX:a"))
    assert(r("XX:a") == r("XX:b") && r("XX:b") == r("XX:d"))
    // total mass stays near n (damping redistributes, integer floors leak
    // at most a few micro-units per node per round)
    val total = r.values.sum
    assert(total > 3.5 && total <= 4.0 + 1e-6)
  }

  test("kHop layers a path graph by exact hop distance from the seed prefix") {
    val d = KnowledgeGraph.kHopFromPairs(
      docPairs((1L, "S:a"), (1L, "M:b"), (2L, "M:b"), (2L, "M:c"), (3L, "M:c"), (3L, "M:d")),
      seedPrefix = "S")
      .collect().map(r => r.getAs[String]("concept_id") -> r.getAs[Long]("dist")).toMap
    assert(d == Map("S:a" -> 0L, "M:b" -> 1L, "M:c" -> 2L, "M:d" -> 3L))
  }

  test("triangles counts the K3 exactly once per node and zeroes the pendant") {
    // doc1 makes a triangle a-b-c; doc2 hangs d off c (no new triangle)
    val r = KnowledgeGraph.trianglesFromPairs(
      docPairs((1L, "XX:a"), (1L, "XX:b"), (1L, "XX:c"), (2L, "XX:c"), (2L, "XX:d")))
      .collect().map(x => x.getAs[String]("concept_id") ->
        (x.getAs[Long]("degree"), x.getAs[Long]("n_triangles"),
          x.getAs[Double]("clustering_coeff"))).toMap
    assert(r("XX:a") == ((2L, 1L, 1.0)))
    assert(r("XX:b") == ((2L, 1L, 1.0)))
    // c: degree 3, one triangle -> 2*1/(3*2) = 0.333333
    assert(r("XX:c") == ((3L, 1L, 0.333333)))
    assert(r("XX:d") == ((1L, 0L, 0.0)))
  }

  test("labelSourceMatrix crosses labels with provenance and shares sum to 1 per source") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (0L, "one two", "en", "sA", 7L), (1L, "three four five", "en", "sA", 15L),
      (2L, "six", "en", "sB", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val emb = Seq((0L, Array.fill(4)(0.1f), 7), (1L, Array.fill(4)(0.2f), 8),
      (2L, Array.fill(4)(0.3f), 7)).toDF("vec_id", "embedding", "label")
    val r = graft.operators.TextStats.labelSourceMatrix(docs, emb).collect()
    val bySrc = r.groupBy(_.getAs[String]("source"))
    assert(bySrc("sA").map(_.getAs[Double]("share_of_source")).sum == 1.0)
    val a7 = r.find(x => x.getAs[String]("source") == "sA" && x.getAs[Long]("label") == 7L).get
    assert(a7.getAs[Long]("n_docs") == 1L && a7.getAs[Long]("n_tokens") == 2L)
    assert(a7.getAs[Double]("share_of_source") == 0.5)
  }

  test("snapshotDiff classifies added, removed, and changed keys and drops unchanged") {
    import org.apache.spark.sql.functions.col
    val old = Seq((1L, "x", 3L), (2L, "y", 4L), (3L, "z", 5L)).toDF("doc_id", "text", "n")
    val neu = Seq((1L, "x", 3L), (2L, "Y", 4L), (4L, "w", 6L)).toDF("doc_id", "text", "n")
    val d = graft.infra.Etl.snapshotDiff(old, neu, "doc_id", Seq("text", "n"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("change_type")).toMap
    assert(d == Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("epochPlan charges small high-weight sources more epochs; targets respect the budget") {
    val texts = (1 to 40).map(i => (i.toLong, ("tok " * 20).trim, "en", s"src${i % 4}", 80L)) :+
      (41L, "rare source tiny doc here", "en", "srcRare", 25L)
    val df = texts.toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.TextStats.epochPlan(df, budget = 2000L)
      .collect().map(x => x.getAs[String]("source") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("target_tokens"), x.getAs[Long]("epochs"))).toMap
    // temperature flattening: the rare source's target exceeds its mass -> >1 epoch
    val (rareN, rareT, rareE) = r("srcRare")
    assert(rareE > 1L && rareT > rareN)
    // epochs = ceil(target / available) exactly
    r.values.foreach { case (n, t, e) => assert(e == (t + n - 1) / n) }
    // micro-weights target no more than the budget in total (floor rounding only loses)
    assert(r.values.map(_._2).sum <= 2000L + r.size)
  }

  test("chi2Metrics computes lift and chi-square on the exact 2x2 contingency") {
    // 3 units, each pair cooccurs once, every concept in 2 units:
    // lift = 3*1/(2*2) = 0.75; chi2 = 3*(1*0-1*1)^2/(2*2*1*1) = 0.75
    val r = graft.operators.Cooccurrence.chi2FromUnits(
      graft.operators.Cooccurrence.unitConcepts(
        annots((1L, "XX:a"), (1L, "XX:b"), (2L, "XX:a"), (2L, "XX:c"),
               (3L, "XX:b"), (3L, "XX:c")), Seq("doc_id")), Seq("doc_id")).collect()
    assert(r.length == 3)
    r.foreach { row =>
      assert(row.getAs[Long]("pair_count") == 1L)
      assert(row.getAs[Double]("lift") == 0.75)
      assert(row.getAs[Double]("chi2") == 0.75)
    }
  }

  test("eventsStickiness divides daily actives by the week's actives") {
    import org.apache.spark.sql.functions.col
    val us = 86400000000L
    val ev = Seq((1L, 0L * us + 5L), (2L, 0L * us + 9L), (1L, 1L * us + 5L))
      .toDF("user_id", "ts")
    val r = graft.operators.Relational.eventsStickiness(ev)
      .orderBy("day").collect()
    assert(r.map(x => (x.getAs[Long]("day"), x.getAs[Long]("dau"),
      x.getAs[Long]("wau"), x.getAs[Double]("stickiness"))).toSeq ==
      Seq((0L, 2L, 2L, 1.0), (1L, 1L, 2L, 0.5)))
  }

  test("indexRecallMatrix ranks the lossless-ish codec above the coarse one") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val r = Embeddings.indexRecallMatrixFromTruth(emb, Embeddings.cosineTopK(emb)).collect()
      .map(x => x.getAs[String]("index_type") -> x.getAs[Double]("recall_at_k")).toMap
    assert(r.keySet == Set("ivf", "ivf_pq", "ivf_sq8", "pq", "sq8"))
    assert(r.values.forall(v => v >= 0.0 && v <= 1.0))
    // SQ8 only rounds each dim; PQ collapses subspaces to 1 of 16 codes
    assert(r("sq8") >= r("pq"))
  }

  test("spanCorruption covers ~1/7 of tokens in non-overlapping 3-token spans") {
    // 42 tokens -> 6 corrupt -> 2 spans, gap 21: spans [1,3] and [22,24]
    val text = (1 to 42).map(i => s"t$i").mkString(" ")
    val r = graft.operators.TextOps.spanCorruption(textDocs(text))
      .orderBy("span_ord").collect()
    assert(r.map(x => (x.getAs[Long]("span_ord"), x.getAs[Long]("start_ord"),
      x.getAs[Long]("end_ord"))).toSeq == Seq((0L, 1L, 3L), (1L, 22L, 24L)))
    // short docs emit nothing (< 7 tokens funds no span)
    assert(graft.operators.TextOps.spanCorruption(textDocs("a b c")).count() == 0L)
    // spans never overlap and stay in range on a ragged length
    val odd = graft.operators.TextOps.spanCorruption(
      textDocs((1 to 50).map(i => s"w$i").mkString(" "))).orderBy("span_ord").collect()
    val ranges = odd.map(x => (x.getAs[Long]("start_ord"), x.getAs[Long]("end_ord")))
    ranges.sliding(2).foreach {
      case Array((_, e1), (s2, _)) => assert(s2 > e1)
      case _ =>
    }
    assert(ranges.forall { case (s0, e0) => s0 >= 1 && e0 <= 50 && e0 >= s0 })
  }

  test("tfidfDocSim scores banded candidates by concept-profile cosine") {
    val dup = "scan merge table key agg row hash sort batch window value part fast slow"
    // carries concepts of its own so corpus N=3 and the dup concepts keep idf>0
    val diff = "spark line spark line spark line spark line spark line spark line spark"
    val docs = textDocs(dup, dup, diff)
    val annots = graft.operators.Concepts.postProcess(
      graft.operators.Concepts.recognize(docs))
    val r = graft.operators.Cooccurrence.tfidfDocSimFrom(graft.operators.Cooccurrence.tfidf(annots),
      graft.operators.Dedup.minhashCandidates(docs).select("doc_a", "doc_b")).collect()
    // the exact-dup pair shares its full concept profile -> cosine 1
    val pair = r.find(x => x.getAs[Long]("doc_a") == 0L && x.getAs[Long]("doc_b") == 1L)
    assert(pair.isDefined && pair.get.getAs[Double]("cosine") == 1.0)
    assert(r.forall(_.getAs[Double]("cosine") >= graft.operators.Cooccurrence.DocSimTau))
  }

  test("heavyHittersCms never underestimates and is exact without collisions") {
    // tiny vocabulary (3 types << 64 buckets): collisions are possible but
    // est >= exact must hold regardless; with these salts they land apart
    val text = (Seq.fill(9)("aaa") ++ Seq.fill(5)("bbb") ++ Seq.fill(2)("ccc")).mkString(" ")
    val r = graft.operators.TextStats.heavyHittersCms(textDocs(text), k = 3)
      .orderBy(org.apache.spark.sql.functions.col("exact_cnt").desc).collect()
    assert(r.map(_.getAs[String]("tok")).toSeq == Seq("aaa", "bbb", "ccc"))
    assert(r.map(_.getAs[Long]("exact_cnt")).toSeq == Seq(9L, 5L, 2L))
    r.foreach(x => assert(x.getAs[Long]("est_cnt") >= x.getAs[Long]("exact_cnt")))
  }

  test("minhashPrecision counts zero-overlap candidates as unconfirmed") {
    val dup = "the quick fox jumps over a lazy dog near the old red barn today"
    val r = graft.operators.Dedup.minhashPrecision(textDocs(dup, dup,
      "a completely different document with many other tokens in this string ok"))
      .collect().head
    // the identical pair is the only candidate and it confirms at J = 1
    assert(r.getAs[Long]("n_candidates") == 1L)
    assert(r.getAs[Long]("n_confirmed") == 1L)
    assert(r.getAs[Double]("precision") == 1.0)
  }

  test("qualityWinsorize clamps to the staged band and flags exactly the outliers") {
    val docs = (1 to 30).map { i =>
      val t = if (i == 1) "x" else (1 to 30).map(j => s"w${i}t$j").mkString(" ")
      (i.toLong, t, "en", "s", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.TextStats.qualityWinsorize(docs, s"/tmp/winsor-spec-${System.nanoTime()}")
      .collect()
    assert(r.length == 30)
    r.foreach { row =>
      val (q, lo, hi, w, clipped) = (row.getAs[Double]("quality"),
        row.getAs[Double]("q_lo"), row.getAs[Double]("q_hi"),
        row.getAs[Double]("quality_winsorized"), row.getAs[Boolean]("is_clipped"))
      assert(w >= lo && w <= hi)
      assert(clipped == (q < lo || q > hi))
      if (!clipped) assert(w == q)
    }
    // the degenerate one-token doc is below p05 of an otherwise-uniform source
    assert(r.find(_.getAs[Long]("doc_id") == 1L).get.getAs[Boolean]("is_clipped"))
  }

  test("sourceLmMatrix self-fit beats cross-fit; smoothing keeps unseen tokens finite") {
    val a = "alpha beta gamma delta alpha beta gamma delta alpha beta"
    val b = "omega psi chi phi omega psi chi phi omega psi"
    val df = Seq((1L, a, "en", "sA", a.length.toLong), (2L, b, "en", "sB", b.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = graft.operators.TextStats.sourceLmMatrix(df)
      .collect().map(x => (x.getAs[String]("lm_source"), x.getAs[String]("doc_source")) ->
        x.getAs[Double]("avg_logprob")).toMap
    assert(m.size == 4)
    // disjoint vocabularies: each LM scores its own source far above the other
    assert(m(("sA", "sA")) > m(("sA", "sB")))
    assert(m(("sB", "sB")) > m(("sB", "sA")))
    // add-one smoothing: cross cells are finite
    assert(m.values.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("vocabCoverage sums the exact top-N mass and caps vocab_size at the vocabulary") {
    // counts: high x8, mid x4, others x1 each
    val text = (Seq.fill(8)("high") ++ Seq.fill(4)("mid") ++ Seq("one", "two", "three")).mkString(" ")
    val df = Seq((1L, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = graft.operators.TextStats.vocabCoverage(df, cutoffs = Seq(1L, 2L, 100L))
      .orderBy("cutoff").collect()
    assert(r.map(_.getAs[Long]("covered_tokens")).toSeq == Seq(8L, 12L, 15L))
    assert(r.map(_.getAs[Long]("vocab_size")).toSeq == Seq(1L, 2L, 5L))
    assert(r.forall(_.getAs[Long]("total_tokens") == 15L))
    assert(r.last.getAs[Double]("coverage") == 1.0)
  }

  test("bpeFertility is >= 1 token per word and aggregates per source") {
    val a = "spark plans stay declarative here"
    val b = "optimizer work is physical there"
    val df = Seq((1L, a, "en", "s1", a.length.toLong), (2L, b, "en", "s2", b.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val enc = graft.operators.Bpe.encodeCounts(df, graft.operators.Bpe.learnMerges(df, k = 2))
    val r = graft.operators.TextStats.bpeFertility(df, enc).orderBy("source").collect()
    assert(r.map(_.getAs[String]("source")).toSeq == Seq("s1", "s2"))
    r.foreach { row =>
      assert(row.getAs[Long]("n_words") == 5L)
      assert(row.getAs[Long]("n_bpe_tokens") >= row.getAs[Long]("n_words"))
      assert(row.getAs[Double]("fertility") >= 1.0)
    }
  }

  test("neighborJaccard: triangle edges overlap fully-shared; pendant edge shares nothing") {
    // K3 plus a pendant d off c
    val r = KnowledgeGraph.neighborJaccardFromPairs(
      docPairs((1L, "XX:a"), (1L, "XX:b"), (1L, "XX:c"), (2L, "XX:c"), (2L, "XX:d")))
      .collect().map(x => (x.getAs[String]("concept_a"), x.getAs[String]("concept_b")) ->
        (x.getAs[Long]("common_neighbors"), x.getAs[Double]("jaccard"))).toMap
    // edge (a,b): common = {c}; union = N(a)+N(b)-1 = 2+2-1 = 3
    assert(r(("XX:a", "XX:b")) == ((1L, 0.333333)))
    // edge (c,d): no common neighbor
    assert(r(("XX:c", "XX:d")) == ((0L, 0.0)))
  }

  test("pageRank invariants hold on randomized graphs (ranks bounded, mass conserved-ish)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 4 + rnd.nextInt(4)
      // random connected-ish doc-cooccurrence input: each doc links 2 concepts
      val pairs = (0 until n + 2).map { i =>
        val a = rnd.nextInt(n); val b = (a + 1 + rnd.nextInt(n - 1)) % n
        (i.toLong, Seq(s"XX:n$a", s"XX:n$b"))
      }
      val an = pairs.flatMap { case (d, cs) => cs.map(c => (d, c)) }
      val r = KnowledgeGraph.pageRankFromPairs(docPairs(an: _*)).collect()
      val ranks = r.map(_.getAs[Double]("pagerank"))
      // every node keeps at least the damping floor; floors only ever leak mass
      assert(ranks.forall(_ >= 0.15), s"trial $trial: $ranks")
      assert(ranks.sum <= r.length + 1e-6, s"trial $trial: total ${ranks.sum}")
    }
  }

  test("CMS never underestimates on randomized token streams") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val vocab = (1 to 6 + rnd.nextInt(6)).map(i => s"w$i")
      val toks = (1 to 60).map(_ => vocab(rnd.nextInt(vocab.size)))
      val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val r = graft.operators.TextStats.heavyHittersCms(
        textDocs(toks.mkString(" ")), k = vocab.size).collect()
      r.foreach { x =>
        val t = x.getAs[String]("tok")
        assert(x.getAs[Long]("exact_cnt") == exact(t), s"trial $trial tok $t")
        assert(x.getAs[Long]("est_cnt") >= exact(t), s"trial $trial tok $t")
      }
    }
  }

  private def vecs(vs: Seq[Array[Float]]) =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")

  private def unit(dim: Int, at: Int): Array[Float] = {
    val a = Array.fill(dim)(0.01f); a(at) = 1.0f; a
  }

  test("hardNegatives excludes near-duplicates above tau and ranks the rest") {
    val dim = Embeddings.EmbDim
    // vec 1 is an exact dup of the query (cosine 1 > tau: excluded);
    // 2 and 3 are distant units (cosine ~0.02: kept, id-tie-broken)
    val vs = vecs(Seq(unit(dim, 0), unit(dim, 0), unit(dim, 5), unit(dim, 9)))
    val r = Embeddings.hardNegatives(vs, numQueries = 1, k = 3).orderBy("rank").collect()
    assert(!r.exists(_.getAs[Long]("neighbor_id") == 1L))
    assert(r.forall(_.getAs[Double]("cosine") < Embeddings.HardNegTau))
    assert(r.map(_.getAs[Long]("rank")).toSeq == (1L to r.length).toSeq)
  }

  private def textDocs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("lshBandTuning finds the exact dup at every shape; thresholds rise with rows") {
    val dup = "the quick fox jumps over a lazy dog near the old red barn today"
    val r = graft.operators.Dedup.lshBandTuningFrom(
      graft.operators.Dedup.signatures(graft.operators.Dedup.shingleSets(textDocs(dup, dup,
        "a completely different document with many other tokens in this string ok"))))
      .orderBy("rows_per_band").collect()
    assert(r.map(_.getAs[Long]("rows_per_band")).toSeq == Seq(2L, 3L, 4L, 6L))
    assert(r.map(_.getAs[Long]("n_bands")).toSeq == Seq(6L, 4L, 3L, 2L))
    // the identical pair collides in every band of every shape (nm = 12)
    r.foreach { row =>
      assert(row.getAs[Long]("n_candidates") == 1L)
      assert(row.getAs[Long]("n_est_dup") == 1L)
      assert(row.getAs[Long]("sum_match_hashes") == 12L)
    }
    // S-curve operating point is monotone in rows-per-band
    val th = r.map(_.getAs[Double]("s_curve_threshold")).toSeq
    assert(th.zip(th.tail).forall { case (a, b) => a < b })
  }

  test("ivfProbeSweep recall is monotone in nprobe and bounded by 1") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val rows = Embeddings.ivfProbeSweepFromTruth(emb, Embeddings.cosineTopK(emb)).orderBy("nprobe").collect()
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == (1L to Embeddings.NumProbes).toSeq)
    val recalls = rows.map(_.getAs[Double]("recall_at_k")).toSeq
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b })
    assert(recalls.forall(x => x >= 0.0 && x <= 1.0))
  }
}
