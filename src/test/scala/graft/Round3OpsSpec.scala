package graft

import graft.operators.{Dedup, Embeddings, Eval, TextStats}
import org.apache.spark.sql.functions._

/** Round-3 operators: exact-substring window dup, SemDeDup-style semantic
  * dedup, token-budget corpus mixing, system-vs-gold span agreement. */
class Round3OpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", s"src${i % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private val run = "alpha beta gamma delta epsilon zeta eta theta"

  test("window dup flags docs sharing verbatim 8-token runs, not unrelated docs") {
    val a = s"unique lead in words here $run trailing tail words one"
    val b = s"other opening tokens go $run closing set of words two"
    val c = "completely different content with no shared windows at all whatsoever here now"
    // a and b share exactly the windows inside the 8-token run plus bordering
    // context — with an 8-token window, only the exact run window is common
    val pairs = Dedup.windowDupPairsFrom(Dedup.windowIds(docs(a, b, c), 8), minShared = 1).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("doc_a") == 0L && pairs.head.getAs[Long]("doc_b") == 1L)
  }

  test("window dup's document-frequency cap drops boilerplate windows") {
    val boiler = (0 until 25).map(i => s"$run filler$i words$i")
    val pairs = Dedup.windowDupPairsFrom(Dedup.windowIds(docs(boiler: _*), 8), minShared = 1, maxDf = 20)
    assert(pairs.count() == 0)
  }

  test("span dedup finds a sentence window repeated across documents") {
    // 10-token windows: doc0 and doc1 share their first window verbatim
    val shared = "one two three four five six seven eight nine ten"
    val a = s"$shared unique tail for doc a here now ok fine yes"
    val b = s"$shared other ending words for doc b entirely different here"
    val c = "no repeated window in this document at all among these tokens here"
    val r = Dedup.spanDedup(docs(a, b, c)).orderBy("doc_id", "sent_id").collect()
    assert(r.length == 2)
    assert(r.map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("sent_id"))).toSeq ==
      Seq((0L, 0L), (1L, 0L)))
    assert(r.forall(x => x.getAs[Long]("canonical_doc") == 0L &&
      x.getAs[Long]("group_size") == 2L))
  }

  test("semantic dedup marks the higher id of a same-cell duplicate pair") {
    val v = (0 until Embeddings.EmbDim).map(i => (i % 7).toFloat / 7f).toArray
    val w = v.map(x => x * 0.99f + 0.001f) // near-identical direction
    val far = (0 until Embeddings.EmbDim).map(i => if (i % 2 == 0) 1f else -1f).toArray
    val emb = Seq((0L, v, 0), (1L, w, 0), (2L, far, 0)).toDF("vec_id", "embedding", "label")
    val r = Embeddings.semanticDedup(emb, tau = 0.9).orderBy("vec_id").collect()
    assert(r.map(_.getAs[Boolean]("is_dup")).take(2).toSeq == Seq(false, true))
    assert(!r.last.getAs[Boolean]("is_dup"))
  }

  test("corpus mix respects each source's token share and is deterministic") {
    val many = (0 until 60).map(i => s"tok$i " * 20 + "end")
    val mixed = TextStats.corpusMix(docs(many: _*), budget = 120L)
    val rows = mixed.collect()
    assert(rows.nonEmpty && rows.length < 60) // budget bites
    // cum_tokens never exceeds the source's share of the budget
    val shares = mixed.groupBy("source").agg(max("cum_tokens").as("m")).collect()
    assert(shares.forall(_.getAs[Long]("m") <= 120L))
    assert(mixed.collect().toSet == TextStats.corpusMix(docs(many: _*), budget = 120L).collect().toSet)
  }

  test("fuzzy decontamination finds a doc containing an eval item, by containment not jaccard") {
    val evalText = "alpha beta gamma delta epsilon zeta"
    val contaminated = s"lots of leading context here then $evalText and trailing words after too"
    val clean = "nothing in common with the evaluation suite at all in this document"
    val evalSet = Seq((100L, evalText)).toDF("eval_id", "sent_text")
    val r = Dedup.fuzzyDecontaminate(docs(contaminated, clean), evalSet, "eval_id", "sent_text")
      .collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("doc_id") == 0L && r.head.getAs[Long]("eval_id") == 100L)
    assert(r.head.getAs[Double]("containment") == 1.0)
  }

  test("dsir weights score target-domain-like docs above off-domain docs") {
    // sources cycle src0/src1/src2; src0+src1 vocabulary differs from src2's
    val texts = (0 until 30).map { i =>
      if (i % 3 == 2) "quantum flux capacitor phase drive " * 3
      else "standard corpus words common tokens everywhere " * 3
    }
    val r = TextStats.dsirWeights(docs(texts: _*), targetSources = Seq("src0", "src1"))
      .collect().map(row => row.getAs[Long]("doc_id") -> row.getAs[Double]("avg_llr")).toMap
    assert(r(0L) > r(2L)) // in-domain doc outranks off-domain doc
  }

  test("quality cut keeps only docs at or above the percentile threshold") {
    val texts = (0 until 20).map(i => ((0 to i).map(j => s"w$j") ++ Seq.fill(3)("the")).mkString(" "))
    val r = TextStats.qualityCut(docs(texts: _*), pct = 0.5)
    val kept = r.collect()
    assert(kept.nonEmpty && kept.length < 20)
    val thr = kept.head.getAs[Double]("threshold")
    assert(kept.forall(_.getAs[Double]("quality") >= thr))
  }

  test("stratified sample draws exactly k docs per source, deterministically") {
    val many = (0 until 30).map(i => s"text $i")
    val r = TextStats.stratifiedSample(docs(many: _*), k = 3)
    val perSource = r.groupBy("source").count().collect()
    assert(perSource.length == 3 && perSource.forall(_.getAs[Long]("count") == 3L))
    assert(r.collect().toSet == TextStats.stratifiedSample(docs(many: _*), k = 3).collect().toSet)
  }

  test("bounded top-k aggregate matches the window formulation and partially aggregates") {
    val rows = (0 until 200).map(i => (s"g${i % 4}", (i * 37 % 100).toDouble, i.toLong))
      .toDF("g", "score", "id")
    val viaAgg = graft.functions.TopKAgg.perGroup(rows, Seq("g"), col("score"), col("id"), 5)
      .select(col("g"), col("rank").cast("int").as("rk"), col("score"), col("id"))
    val viaWindow = rows.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(col("score").desc, col("id"))))
      .where(col("rk") <= 5).select("g", "rk", "score", "id")
    assert(viaAgg.collect().toSet == viaWindow.collect().toSet)
    // the aggregate runs with a partial (map-side) phase: two HashAggregate-
    // family nodes (ObjectHashAggregate for a TypedImperativeAggregate)
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_agg"), plan)
  }

  test("payload-carrying top-k aggregate ships winner rows' extra columns through the heap") {
    val rows = (0 until 120).map(i => (s"g${i % 3}", (i * 31 % 97).toDouble, i.toLong, s"name-$i"))
      .toDF("g", "score", "id", "nm")
    val viaAgg = graft.functions.TopKAgg.perGroup(rows, Seq("g"), col("score"), col("id"), 4,
        payload = Seq("nm"))
      .select(col("g"), col("rank").cast("int").as("rk"), col("score"), col("id"), col("nm"))
    val viaWindow = rows.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")
          .orderBy(col("score").desc, col("id"))))
      .where(col("rk") <= 4).select("g", "rk", "score", "id", "nm")
    assert(viaAgg.collect().toSet == viaWindow.collect().toSet)
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k_agg"), plan)
  }

  test("span agreement computes exact tp/fp/fn and rounded P/R/F1") {
    val sys = Seq((1L, 0L, 5L), (1L, 10L, 15L), (1L, 20L, 25L)).toDF("doc_id", "char_start", "char_end")
    val gold = Seq((1L, 0L, 5L), (1L, 30L, 35L)).toDF("doc_id", "char_start", "char_end")
    val r = Eval.spanAgreement(sys, gold).collect().head
    assert(r.getAs[Long]("tp") == 1L && r.getAs[Long]("fp") == 2L && r.getAs[Long]("fn") == 1L)
    assert(r.getAs[Double]("precision") == 0.333333)
    assert(r.getAs[Double]("recall") == 0.5)
    assert(r.getAs[Double]("f1") == 0.4) // 2*precision*recall/(precision+recall)
  }

  test("span agreement emits 0.0 metrics for a doc with gold but no system spans") {
    val sys = Seq((1L, 0L, 5L)).toDF("doc_id", "char_start", "char_end")
    val gold = Seq((2L, 0L, 5L)).toDF("doc_id", "char_start", "char_end")
    val byDoc = Eval.spanAgreement(sys, gold).orderBy("doc_id").collect()
    val d2 = byDoc.last
    assert(d2.getAs[Long]("tp") == 0L && d2.getAs[Long]("fn") == 1L)
    assert(d2.getAs[Double]("precision") == 0.0 && d2.getAs[Double]("f1") == 0.0)
  }
}
