package graft

import graft.operators.{Concepts, Cooccurrence, TextStats}

class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("bm25_mrr: repeated-mention relevance, reciprocal rank of first relevant hit") {
    // 'table' appears twice in doc 0 (relevant) and once in docs 1-2;
    // 'merge' is never repeated anywhere → zero relevant, rr = 0
    val d = docs(
      "table aa table bb cc dd ee ff gg hh",
      "table xx yy zz qq ww rr tt uu vv",
      "merge table bb cc dd ee ff gg hh ii")
    val annots = Concepts.postProcess(Concepts.recognize(d))
    val r = Cooccurrence.bm25MrrFromPool(annots, Cooccurrence.bm25TopK(annots)).collect()
      .map(x => x.getAs[String]("concept_id") -> x).toMap
    val t = r("DS:table")
    assert(t.getAs[Long]("n_relevant") == 1L)
    assert(t.getAs[Long]("n_rel_in_topk") == 1L)
    assert(t.getAs[Long]("first_rel_rank") >= 1L)
    assert(t.getAs[Double]("rr") ==
      math.floor(1.0 / t.getAs[Long]("first_rel_rank") * 1e6 + 0.5) / 1e6)
    val m = r("OP:merge")
    assert(m.getAs[Long]("n_relevant") == 0L)
    assert(m.getAs[Long]("first_rel_rank") == 0L)
    assert(m.getAs[Double]("rr") == 0.0)
  }

  test("randomized invariants: intra-doc dedup conserves windows; upsert+delete key algebra") {
    val rnd = new scala.util.Random(42)
    val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table", "value")
    (1 to 5).foreach { _ =>
      val d = docs((0 until 6).map(_ =>
        (0 until (5 + rnd.nextInt(30))).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")): _*)
      // conservation: kept + removed == total sentence windows, per doc
      val nSent = graft.operators.TextOps.sentences(d)
        .groupBy("doc_id").count().collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("count")).toMap
      graft.operators.Dedup.intraDocDedup(d).collect().foreach { r =>
        val id = r.getAs[Long]("doc_id")
        assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_removed") == nSent(id), s"doc $id")
        assert(r.getAs[Long]("n_kept") >= 1L)
      }
      // upsertWithDeletes: keys = (current ∪ updates) \ deletes; updates win
      val cur = d.select($"doc_id", $"text")
      val upd = d.where($"doc_id" % 2 === 0)
        .select($"doc_id", org.apache.spark.sql.functions.lit("UPDATED").as("text"))
      val del = d.where($"doc_id" % 3 === 0).select($"doc_id")
      val out = graft.infra.Etl.upsertWithDeletes(cur, upd, del, "doc_id").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      assert(out.keySet == (0L until 6L).filter(_ % 3 != 0).toSet)
      out.foreach { case (id, text) =>
        if (id % 2 == 0) assert(text == "UPDATED") else assert(text != "UPDATED")
      }
    }
  }

  test("ext revert: _EXT ids revert and merge; unknown reverted ids are dropped") {
    val d = docs("join aa table bb cc dd ee ff gg hh")
    val annots = Concepts.postProcess(Concepts.recognize(d))
    val orig = annots.where($"ord" === 3) // the table annot
    val ext = annots.where($"ord" === 1)  // the join annot, as an _EXT id
      .withColumn("concept_id", org.apache.spark.sql.functions.lit("OP_EXT:join"))
      .unionByName(annots.where($"ord" === 3)
        .withColumn("concept_id", org.apache.spark.sql.functions.lit("ZZ_EXT:bogus")))
    val r = Concepts.revertExtMerge(orig, ext, annots.select("concept_id")).collect()
    val ids = r.map(_.getAs[String]("concept_id")).toSet
    assert(ids == Set("DS:table", "OP:join"), ids.toString) // bogus dropped, join reverted
  }

  test("subtree exclusion removes the root's whole descendant closure plus individuals") {
    val d = docs("join merge table line scan dd ee ff gg hh")
    val annots = Concepts.postProcess(Concepts.recognize(d))
    val r = Concepts.excludeSubtrees(annots, Seq("OP:JOINLIKE"), Seq("DS:line")).collect()
    val ids = r.map(_.getAs[String]("concept_id")).toSet
    // join + merge are JOINLIKE descendants; DS:line listed individually
    assert(!ids.exists(Set("OP:join", "OP:merge", "DS:line")), ids.toString)
    assert(ids.contains("DS:table") && ids.contains("OP:scan"), ids.toString)
  }

  test("shard manifest: deterministic shards, exact volume sums, quality-desc curriculum") {
    val d = docs(
      (1 to 20).map(i => s"tok$i uniq$i word$i").mkString(" "), // high quality (distinct-heavy)
      "the the the the the the the the",                        // stop/repeat heavy → low quality
      "key agg row scan slow fast table value part hash")
    val r = TextStats.shardManifest(d, numShards = 4).collect()
    // every doc lands in exactly one shard; totals conserve
    assert(r.map(_.getAs[Long]("n_docs")).sum == 3L)
    assert(r.map(_.getAs[Long]("n_bytes")).sum == d.collect().map(_.getAs[Long]("n_chars")).sum)
    // curriculum_rank is a permutation of 1..n_shards ordered by avg quality desc
    val byRank = r.sortBy(_.getAs[Long]("curriculum_rank"))
    assert(byRank.map(_.getAs[Long]("curriculum_rank")).toSeq == (1L to r.length).toSeq)
    val quals = byRank.map(_.getAs[Long]("avg_quality_u")).toSeq
    assert(quals == quals.sorted.reverse, s"curriculum not quality-descending: $quals")
    // shard assignment is the documented multiplicative hash
    val expected = d.collect().map(_.getAs[Long]("doc_id"))
      .groupBy(id => java.lang.Math.floorMod(id * 2654435761L, 4L)).view.mapValues(_.length.toLong).toMap
    assert(r.map(x => x.getAs[Long]("shard_id") -> x.getAs[Long]("n_docs")).toMap == expected)
  }
}
