package graft

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private val base = "the quick fox jumps over a lazy dog near the old red barn today"

  test("exact dedup groups identical texts under the min doc_id") {
    val r = Dedup.exact(docs(base, base, "something else entirely here"))
      .orderBy("doc_id").collect()
    assert(r.map(_.getAs[Long]("canonical_id")).toSeq == Seq(0L, 0L, 2L))
    assert(r.map(_.getAs[Boolean]("is_dup")).toSeq == Seq(false, true, false))
  }

  test("normalized dedup catches token-shuffled near-dups with the marker") {
    val shuffled = base.split(" ").reverse.mkString(" ") + " dup"
    val r = Dedup.normalized(docs(base, shuffled, "unrelated words only")).collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSet == Set(0L, 1L))
    assert(r.forall(_.getAs[Long]("canonical_id") == 0L))
  }

  test("identical docs share all minhash bands; unrelated docs share none") {
    val other = "completely different content with many other tokens in this string ok"
    val cands = Dedup.minhashCandidates(docs(base, base, other)).collect()
    assert(cands.length == 1)
    assert(cands.head.getAs[Long]("doc_a") == 0L && cands.head.getAs[Long]("doc_b") == 1L)
    assert(cands.head.getAs[Long]("shared_bands") == (Dedup.NumHashes / Dedup.RowsPerBand).toLong)
  }

  test("near-dup (one token changed) shares at least one band and has high jaccard") {
    val nearDup = base.replace("today", "tonight")
    val j = Dedup.ngramJaccard(docs(base, nearDup), threshold = 0.5).collect()
    assert(j.length == 1)
    val jac = j.head.getAs[Double]("jaccard")
    assert(jac > 0.5 && jac < 1.0)
  }

  test("minhash estimate is exact 1.0 on identical docs and tracks exact jaccard on near-dups") {
    val nearDup = base.replace("today", "tonight")
    val est = Dedup.minhashEstimateFrom(
      Dedup.signatures(Dedup.shingleSets(docs(base, base, nearDup)))).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("est_jaccard")).toMap
    // identical shingle sets ⇒ identical signatures ⇒ estimate exactly 1.0
    assert(est((0L, 1L)) == 1.0)
    // near-dup estimates land in (0, 1): some components agree, not all —
    // the deterministic sanity bound behind the E[est] = J statistic
    val nd = Seq((0L, 2L), (1L, 2L)).flatMap(est.get)
    assert(nd.nonEmpty && nd.forall(e => e > 0.0 && e < 1.0), est.toString)
  }

  test("cluster stats roll a 3-doc cluster and singletons into the size histogram") {
    // base ×3 → one size-3 cluster; two unrelated docs → two size-1 clusters
    val r = Dedup.clusterStatsFrom(Dedup.clusters(docs(base, base, base,
        "completely different content with many other tokens in this string ok",
        "another unrelated document about nothing in particular at all"))).collect()
      .map(x => x.getAs[Long]("cluster_size") ->
        ((x.getAs[Long]("n_clusters"), x.getAs[Long]("n_docs")))).toMap
    assert(r == Map(3L -> ((1L, 3L)), 1L -> ((2L, 2L))))
  }

  test("window dedup apply deletes non-canonical occurrences' tokens, keeps the canonical") {
    // docs 0 and 1 share the same leading 8-token window; doc 0 is the
    // canonical (smaller doc_id) → doc 1 loses those 8 tokens and keeps
    // its unique tail; doc 2 shares nothing and is untouched
    val shared = (1 to 8).map(i => s"w$i").mkString(" ")
    val r = graft.operators.Dedup.windowDedupApply(docs(
        s"$shared tail0 tail1",
        s"$shared unique2 unique3",
        "totally different tokens here with no overlap at all ok")).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[Long]("n_tokens_removed") == 0L)
    assert(r(0L).getAs[String]("clean_text") == s"$shared tail0 tail1")
    assert(r(1L).getAs[Long]("n_tokens_removed") == 8L)
    assert(r(1L).getAs[String]("clean_text") == "unique2 unique3")
    assert(r(2L).getAs[Long]("n_tokens_removed") == 0L)
  }

  test("intra-doc dedup keeps first in-document occurrence, leaves cross-doc repeats alone") {
    // doc 0 repeats its own first window (20 tokens = 2 identical windows);
    // doc 1 carries the same window ONCE — cross-doc repetition must survive
    val rep = (1 to 10).map(i => s"w$i").mkString(" ")
    val r = graft.operators.Dedup.intraDocDedup(docs(s"$rep $rep", rep)).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(0L).getAs[String]("clean_text") == rep)
    assert(r(0L).getAs[Long]("n_kept") == 1L && r(0L).getAs[Long]("n_removed") == 1L)
    assert(r(1L).getAs[String]("clean_text") == rep)
    assert(r(1L).getAs[Long]("n_removed") == 0L)
  }

  test("staged cluster labels equal the direct computation and write exactly once") {
    val dd = docs(base, base, base,
      "completely different content with many other tokens in this string ok",
      "another unrelated document about nothing in particular at all")
    val sfKey = java.nio.file.Files.createTempDirectory("graft-cluster-stage-spec").toString
    val directDf = Dedup.clusters(dd)
    val direct = directDf.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val staged = Dedup.stagedClusters(dd, sfKey)
    assert(staged.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      == direct)
    // consumers over the staged table match their direct formulations
    assert(Dedup.clusterStatsFrom(staged).collect().toSeq.map(_.toSeq).toSet
      == Dedup.clusterStatsFrom(directDf).collect().toSeq.map(_.toSeq).toSet)
    assert(Dedup.softDedupWeightsFrom(staged).collect().toSeq.map(_.toSeq).toSet
      == Dedup.softDedupWeightsFrom(directDf).collect().toSeq.map(_.toSeq).toSet)
    // second call reads the artifact: the staged file's mtime must not move
    val path = graft.infra.Staging.lastPath(s"dedup_clusters_t${graft.infra.Staging.thresholdKey(0.6)}")
    val before = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    val mtime = java.nio.file.Files.getLastModifiedTime(before)
    Dedup.stagedClusters(dd, sfKey).count()
    assert(java.nio.file.Files.getLastModifiedTime(before) == mtime,
      "staged cluster table was rewritten on a second invocation")
  }

  test("identical docs get identical simhash; different docs differ") {
    val r = Dedup.simhash(docs(base, base, "other words entirely unrelated zebra"))
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("simhash")).toMap
    assert(r(0L) == r(1L))
    assert(r(0L) != r(2L))
  }

  test("default dedup plans have no single-partition stage (scale guard)") {
    // the r1 scale-killer was a row_number() over an unpartitioned window
    // (vocabulary rank ids) — it planned as Exchange SinglePartition; the
    // md5-derived ids must never reintroduce one anywhere in the family
    val d = docs(base, base, "other words entirely unrelated zebra")
    for (df <- Seq(Dedup.minhashCandidates(d), Dedup.simhash(d),
                   Dedup.rollingFingerprint(d), Dedup.ngramJaccard(d), Dedup.shingleSetsHashed(d))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"), s"single-partition exchange in:\n$plan")
    }
  }

  test("hashed (xxhash64) and default (md5) shingle paths find the same candidate docs") {
    val nearDup = base.replace("today", "tonight")
    val d = docs(base, nearDup, "completely different content with many other tokens in this string ok")
    val byMd5 = Dedup.minhashCandidates(d).select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byXx = Dedup.minhashCandidatesFrom(Dedup.shingleSetsHashed(d)).select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byMd5.contains((0L, 1L)) && byXx.contains((0L, 1L)))
    assert(!byMd5.exists(p => p._2 == 2L) && !byXx.exists(p => p._2 == 2L))
  }

  test("incremental minhash probes only old-side index: new vs stored, never new-new") {
    val nearDup = base.replace("today", "tonight")
    // doc 0 (new batch: id % 10 == 0) near-dups doc 1 (stored index); docs
    // 10 and 20 are ALSO new-batch near-dups of each other — an incremental
    // probe must NOT pair them (they await the next index refresh)
    val d = Seq(
      (0L, base), (1L, nearDup),
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa pattern x"),
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa pattern y"),
      (3L, "completely different content with many other tokens in this string ok"))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val r = Dedup.minhashIncremental(d).collect()
      .map(x => (x.getAs[Long]("new_id"), x.getAs[Long]("old_id"))).toSet
    assert(r.forall { case (n, o) => n % 10 == 0 && o % 10 != 0 }, r.toString)
    assert(r.contains((0L, 1L)))
    assert(!r.exists { case (n, o) => Set(n, o) == Set(10L, 20L) })
  }

  test("span dedup apply removes non-canonical windows and reassembles in order") {
    // w (10 tokens = exactly one sentence window) duplicated across docs:
    // doc0 owns the canonical occurrence, doc1's copy is removed, doc2 is
    // untouched, doc3 is ALL duplicate → empty clean_text, not null
    val w = "a b c d e f g h i j"
    val r = Dedup.spanDedupApply(docs(
      w + " k l m n o p q r s t",
      w + " u1 u2 u3 u4 u5 u6 u7 u8 u9 u10",
      "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10",
      w))
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[String]("clean_text"), x.getAs[Long]("n_kept"), x.getAs[Long]("n_removed")))).toMap
    assert(r(0L) == ((w + " k l m n o p q r s t", 2L, 0L)))
    assert(r(1L) == (("u1 u2 u3 u4 u5 u6 u7 u8 u9 u10", 1L, 1L)))
    assert(r(2L) == (("z1 z2 z3 z4 z5 z6 z7 z8 z9 z10", 1L, 0L)))
    assert(r(3L) == (("", 0L, 1L)))
  }

  test("rolling fingerprint is stable and order-sensitive") {
    val r = Dedup.rollingFingerprint(docs(base, base)).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("fingerprint")).toMap
    assert(r(0L) == r(1L))
    val r2 = Dedup.rollingFingerprint(docs("a b c d e f", "f e d c b a")).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[Long]("fingerprint")).toMap
    assert(r2(0L) != r2(1L))
  }
}
