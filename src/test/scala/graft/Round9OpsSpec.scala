package graft

import graft.operators.{Cooccurrence, Embeddings, KnowledgeGraph, TextStats}
import org.apache.spark.sql.functions._

/** Hand-computed pins for the round-9 data-card operators. */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  test("pack efficiency reports bins, tokens and fill rate per doc") {
    // 10 tokens -> sentences of <=8 tokens (SentWindow) -> cum windows over
    // budget 64: all in one pack; fill = 10/64
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val r = TextStats.packEfficiency(docs).collect().head
    assert(r.getAs[Long]("n_packs") == 1L)
    assert(r.getAs[Long]("n_tokens") == 10L)
    assert(r.getAs[Double]("fill_rate") == math.floor(10.0 / 64.0 * 1e6 + 0.5) / 1e6)
  }

  test("source KL is zero for identically-distributed sources and positive under shift") {
    // two sources with identical unigram distributions -> p == q -> KL = 0
    val same = Seq((1L, "x y", "s1"), (2L, "x y", "s2"))
      .toDF("doc_id", "text", "source")
    val klSame = TextStats.sourceKl(same).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("kl")).toMap
    assert(klSame.values.forall(_ == 0.0), klSame.toString)
    // skewed source diverges: s1 all-x vs corpus mix
    val skew = Seq((1L, "x x x x", "s1"), (2L, "y y y y", "s2"))
      .toDF("doc_id", "text", "source")
    val klSkew = TextStats.sourceKl(skew).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("kl")).toMap
    // p(x|s1)=1, q(x)=1/2 -> KL = ln 2
    val ln2r6 = math.floor(1.0 * math.log(1.0 / 0.5) * 1e6 + 0.5) / 1e6
    assert(klSkew("s1") == ln2r6 && klSkew("s2") == ln2r6, klSkew.toString)
  }

  test("degree distribution counts nodes per degree over the pair graph") {
    // one doc with concepts A,B,C -> triangle: every node degree 2
    val annots = Seq(
      (1L, "CHEBI:15377", 1L, "water", 0L, 5L),
      (1L, "PR:000000001", 2L, "protein", 6L, 13L),
      (1L, "GO:0008150", 3L, "process", 14L, 21L))
      .toDF("doc_id", "concept_id", "ord", "tok", "char_start", "char_end")
    val r = KnowledgeGraph.degreeDistFromPairs(
        Cooccurrence.pairCounts(Cooccurrence.unitConcepts(annots, Seq("doc_id")), Seq("doc_id")))
      .collect()
      .map(x => x.getAs[Long]("degree") -> x.getAs[Long]("n_nodes")).toMap
    // ancestor expansion may add nodes, but the raw triangle guarantees
    // at least one degree bucket and total node count >= 3
    assert(r.nonEmpty && r.values.sum >= 3L, r.toString)
  }

  test("split leakage flags the eval doc sharing an 8-token run with a train doc") {
    val docs = Seq(
      (10L, "a b c d e f g h i j"),      // eval (10 % 10 == 0): 3 shingles
      (3L, "z z a b c d e f g h"),       // train: contains eval shingle 1
      (20L, "p q r s t u v w x"))        // eval: 2 shingles, no leak
      .toDF("doc_id", "text")
    val r = operators.Dedup.splitLeakageFrom(operators.Dedup.windowIds(docs, 8)).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_shingles"), x.getAs[Long]("n_leaked"),
          x.getAs[Double]("leak_fraction"), x.getAs[Boolean]("leaked"))).toMap
    assert(r.keySet == Set(10L, 20L)) // train docs don't appear
    assert(r(10L) == ((3L, 1L, math.floor(1.0 / 3.0 * 1e6 + 0.5) / 1e6, true)), r.toString)
    assert(r(20L) == ((2L, 0L, 0.0, false)), r.toString)
  }

  test("in-row streaming shingle ids equal the batch lead-window ids") {
    // the parity pin behind streaming_split_leakage (same discipline as the
    // r8 band-derivation pin): identical wid sets AND per-doc counts,
    // including the <w-token drop
    val d = Seq(
      (10L, "a b c d e f g h i j"),
      (3L, "z z a b c d e f g h"),
      (7L, "short doc")).toDF("doc_id", "text")
    val batch = operators.Dedup.windowIds(d, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inRow = graft.streaming.DocStreams.inRowWindowIds(d, 8)
      .select("doc_id", "wid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inRow == batch && batch.nonEmpty)
    assert(!batch.exists(_._1 == 7L))
    val counts = graft.streaming.DocStreams.inRowWindowIds(d, 8)
      .select("doc_id", "n_shingles").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts == Map(10L -> 3L, 3L -> 3L))
  }

  test("frame sample emits center-of-interval integer timestamps") {
    // "hello": 5 bytes -> n_frames = 5 % 7 + 1 = 6, duration 5 ms;
    // ts_i = ((2i+1)*5) div 12
    val docs = Seq((1L, "hello")).toDF("doc_id", "text")
    val r = TextStats.frameSample(docs).orderBy("frame_idx").collect()
      .map(x => (x.getAs[Long]("frame_idx"), x.getAs[Long]("ts_ms")))
    assert(r.toSeq == Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 2L), (4L, 3L), (5L, 4L)))
  }

  test("invariants on the real corpus: degree handshake, fill-rate and leak-fraction bounds") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val annots = operators.Concepts.postProcess(operators.Concepts.recognize(docs))
    // handshake lemma: sum(degree * n_nodes) == 2 |E| over the same pair graph
    val pairs = Cooccurrence.pairCounts(Cooccurrence.unitConcepts(annots, Seq("doc_id")), Seq("doc_id"))
    val dd = KnowledgeGraph.degreeDistFromPairs(pairs)
      .agg(sum(col("degree") * col("n_nodes"))).as[Long].head()
    val nEdges = pairs.count()
    assert(dd == 2 * nEdges, s"degree sum $dd != 2*|E| ${2 * nEdges}")
    // tokenPacking is start-offset-quantized: a sentence starting inside
    // the budget stays with its pack, so a pack may overrun by up to
    // SentWindow-1 tokens and fill_rate tops out at 1 + 7/64
    val fills = TextStats.packEfficiency(docs).select("fill_rate").as[Double].collect()
    assert(fills.nonEmpty && fills.forall(f => f > 0.0 && f <= 1.0 + 7.0 / 64.0))
    val leaks = operators.Dedup.splitLeakageFrom(operators.Dedup.windowIds(docs, 8)).select("leak_fraction").as[Double].collect()
    assert(leaks.nonEmpty && leaks.forall(f => f >= 0.0 && f <= 1.0))
  }

  test("embedding norm stats match a hand-computed norm and bound min<=avg<=max") {
    val embs = Seq(
      (1L, Array(3.0f, 4.0f), 0),
      (2L, Array(6.0f, 8.0f), 0),
      (3L, Array(1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Embeddings.normStats(embs).collect()
      .map(x => x.getAs[Long]("label") ->
        (x.getAs[Long]("n_vecs"), x.getAs[Double]("min_norm"),
          x.getAs[Double]("max_norm"), x.getAs[Double]("avg_norm"))).toMap
    assert(r(0L)._1 == 2L && r(1L)._1 == 1L)
    assert(r(0L)._2 == 5.0 && r(0L)._3 == 10.0 && r(0L)._4 == 7.5)
    assert(r(1L)._2 == 1.0 && r(1L)._3 == 1.0 && r(1L)._4 == 1.0)
  }
}
