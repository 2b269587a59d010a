package graft

import graft.operators.{Concepts, Cooccurrence, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cold chain's keyed decisions — nested-annotation removal, ancestor
  * expansion, exact/normalized dedup winners, keep-best per cluster and
  * intra-document window dedup — give the rows of their earlier
  * anti-join / union / join-back forms (KeyedReference) on adversarial
  * inputs, and nested-annotation removal costs O(n log n) per document
  * (ROADMAP item 3). */
class KeyedDecisionSpec extends SparkSpec {
  import spark.implicits._

  /** A seeded corpus over dictionary and filler words, with an exact copy,
    * a copy carrying the near-dup marker, a one-word edit and a repeated
    * (doc_id, text) row. */
  private lazy val corpus: DataFrame = {
    val words = graft.functions.ConceptDict.entries.map(_._1) ++
      Seq("the", "of", "x", "ab", "12", "(a)")
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(i =>
      i.toLong -> Seq.fill(20 + rnd.nextInt(60))(words(rnd.nextInt(words.size))).mkString(" "))
    val copies = Seq(40L -> base(3)._2, 41L -> (base(5)._2 + " dup"),
      42L -> base(7)._2.replaceFirst(" ", " big "), 9L -> base(9)._2)
    (base ++ copies).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Rows as a sorted multiset, so duplicate rows must match in number. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("\u0001"))

  private def assertSameRows(name: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, name)
    val (g, w) = (rows(got), rows(want))
    val diff = g.zipAll(w, Nil, Nil).find { case (x, y) => x != y }
      .map { case (x, y) => s"first difference: ${x.mkString("|")} vs ${y.mkString("|")}" }
    assert(g == w, s"$name: ${g.size} vs ${w.size} rows; ${diff.getOrElse("")}")
  }

  /** (doc_id, concept_id, start, end) → an annotation row whose ord and tok
    * follow from the span, so a duplicated key is a duplicated row. */
  private def annots(spans: Seq[(Long, String, Long, Long)]): DataFrame =
    spans.map { case (d, c, s, e) => (d, c, s, s"t${s}_$e", s, e) }
      .toDF("doc_id", "concept_id", "ord", "tok", "char_start", "char_end")

  test("postProcess equals the containment anti-join on adversarial spans") {
    val handmade = Seq(
      // identical spans under different concepts: neither nests the other
      (1L, "A:a", 0L, 5L), (1L, "B:b", 0L, 5L), (1L, "C:c", 6L, 9L),
      // a nesting chain, with the outer span also under a second concept
      (2L, "A:a", 0L, 20L), (2L, "B:b", 2L, 15L), (2L, "A:a", 4L, 10L),
      (2L, "C:c", 5L, 6L), (2L, "D:d", 0L, 20L),
      // equal starts, one of them repeated under a second concept
      (3L, "A:a", 0L, 10L), (3L, "B:b", 0L, 5L), (3L, "C:c", 0L, 3L), (3L, "D:d", 0L, 10L),
      // spans that share an end
      (4L, "A:a", 0L, 10L), (4L, "B:b", 5L, 10L), (4L, "C:c", 8L, 10L), (4L, "B:b", 8L, 10L),
      // exact duplicate rows collapse to one
      (5L, "A:a", 3L, 7L), (5L, "A:a", 3L, 7L), (5L, "A:a", 3L, 7L),
      // overlapping but not nested
      (6L, "A:a", 0L, 5L), (6L, "B:b", 3L, 8L), (6L, "C:c", 7L, 12L),
      // an empty span inside a longer one, and one on its own
      (7L, "A:a", 0L, 5L), (7L, "B:b", 3L, 3L), (8L, "A:a", 4L, 4L), (8L, "B:b", 4L, 4L),
      // identical outer spans over a nested one
      (9L, "A:a", 0L, 10L), (9L, "B:b", 0L, 10L), (9L, "C:c", 2L, 4L), (9L, "C:c", 10L, 12L))
    val rnd = new scala.util.Random(11)
    val random = for (d <- 100L until 120L; _ <- 0 until 60) yield {
      val s = rnd.nextInt(100).toLong
      (d, s"R:${rnd.nextInt(4)}", s, s + rnd.nextInt(20))
    }
    val a = annots(handmade ++ random ++ random.take(200))
    assertSameRows("adversarial", Concepts.postProcess(a), KeyedReference.postProcess(a))
    val kept = Concepts.postProcess(annots(handmade)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("concept_id"), r.getAs[Long]("char_start"),
        r.getAs[Long]("char_end"))).toSet
    assert(kept.filter(_._1 == 2L) == Set((2L, "A:a", 0L, 20L), (2L, "D:d", 0L, 20L)))
    assert(kept.filter(_._1 == 1L).size == 3 && kept.count(_._1 == 5L) == 1)
    // recognized annotations, a repeated document included
    val recognized = Concepts.recognize(corpus)
    assertSameRows("recognized", Concepts.postProcess(recognized),
      KeyedReference.postProcess(recognized))
  }

  test("withAncestors equals the union-with-expansion form") {
    val units = Seq[(Long, Long, String)](
      (1L, 0L, "OP:join"), (1L, 0L, "OP:merge"), (1L, 1L, "OP:join"), (1L, 1L, "OP:join"),
      (2L, 0L, "DS:table"), (2L, 0L, "DS:ROOT"),
      // concepts with no ancestor row: a mid-level class, a root, an unknown id
      (3L, 0L, "OP:JOINLIKE"), (3L, 0L, "OP:ROOT"), (3L, 1L, "XX:none"),
      (4L, 0L, null), (4L, 0L, "SZ:fast"),
      // a duplicated unit id
      (2L, 0L, "ENT:spark"))
      .toDF("doc_id", "sent_id", "concept_id")
    for (unitCols <- Seq(Seq("doc_id"), Seq("doc_id", "sent_id"))) {
      val base = units.select(unitCols.map(col) :+ col("concept_id"): _*).distinct()
      assertSameRows(unitCols.mkString(","), Concepts.withAncestors(base, unitCols),
        KeyedReference.withAncestors(base, unitCols))
    }
    val base = Cooccurrence.unitConceptsRaw(
      Concepts.postProcess(Concepts.recognize(corpus)), Seq("doc_id"), addAncestors = false)
    assertSameRows("corpus", Concepts.withAncestors(base, Seq("doc_id")),
      KeyedReference.withAncestors(base, Seq("doc_id")))
  }

  private val dedupDocs: DataFrame = Seq[(Long, String)](
    (1L, "a b c"), (2L, "a b c"), (3L, "c b a"), (4L, "c b a dup"), (5L, null), (6L, null),
    (7L, "x"), (1L, "a b c"), (8L, "a b c"), (9L, ""), (10L, ""), (11L, "dup"),
    (12L, "q r s t"), (13L, "t s r q"), (12L, "q r s t dup"), (14L, "unique text here"))
    .toDF("doc_id", "text")
    .withColumn("n_chars", coalesce(length(col("text")), lit(0)).cast("long"))

  test("exact and normalized dedup equal the aggregate-and-join-back forms") {
    assertSameRows("exact", Dedup.exact(dedupDocs), KeyedReference.exact(dedupDocs))
    assertSameRows("normalized", Dedup.normalized(dedupDocs), KeyedReference.normalized(dedupDocs))
    // null text has no key: no row, as the inner join-back gave
    assert(Dedup.exact(dedupDocs).where(col("doc_id").isin(5L, 6L)).isEmpty)
    assertSameRows("exact corpus", Dedup.exact(corpus), KeyedReference.exact(corpus))
    assertSameRows("normalized corpus", Dedup.normalized(corpus), KeyedReference.normalized(corpus))
  }

  test("clusterKeepBestFrom equals the argmax-and-join-back form, ties and nulls included") {
    // equal texts tie on quality (the lowest doc_id wins); null text has a
    // null quality; cluster 30 is all ties; one row has no cluster id
    val cl = Seq[(Long, Option[Long])](
      (1L, Some(10L)), (2L, Some(10L)), (8L, Some(10L)), (3L, Some(20L)), (4L, Some(20L)),
      (5L, Some(20L)), (6L, Some(20L)), (12L, Some(30L)), (13L, Some(30L)), (7L, None),
      (14L, Some(40L)), (9L, Some(50L)), (10L, Some(50L)))
      .toDF("doc_id", "cluster_id")
    assertSameRows("keep best", Dedup.clusterKeepBestFrom(dedupDocs, cl),
      KeyedReference.clusterKeepBestFrom(dedupDocs, cl))
    val keep = Dedup.clusterKeepBestFrom(dedupDocs, cl).where(col("keep"))
      .select(col("cluster_id"), col("doc_id")).as[(Long, Long)].collect()
    assert(keep.filter(_._1 == 50L).toSeq == Seq((50L, 9L)))
    val corpusCl = Dedup.clusters(corpus)
    assert(corpusCl.where(col("doc_id") =!= col("cluster_id")).count() >= 3)
    assertSameRows("keep best corpus", Dedup.clusterKeepBestFrom(corpus, corpusCl),
      KeyedReference.clusterKeepBestFrom(corpus, corpusCl))
  }

  test("intraDocDedup equals the per-window first-index form") {
    val w = (1 to 10).map(i => s"w$i").mkString(" ")
    val v = (1 to 10).map(i => s"v$i").mkString(" ")
    val u = (1 to 10).map(i => s"u$i").mkString(" ")
    val docs = Seq[(Long, String)](
      (1L, s"$w $w $v"),                       // adjacent repeats
      (2L, s"$w $v $u $v $w $u x"),            // non-adjacent repeats and a short tail
      (3L, Seq.fill(200)(w).mkString(" ")),    // one window, 200 times
      (4L, null), (5L, ""), (6L, "short"), (1L, s"$v $v"))
      .toDF("doc_id", "text")
    assertSameRows("windows", Dedup.intraDocDedup(docs), KeyedReference.intraDocDedup(docs))
    val r3 = Dedup.intraDocDedup(docs).where(col("doc_id") === 3L).head()
    assert(r3.getAs[String]("clean_text") == w && r3.getAs[Long]("n_removed") == 199L)
    assertSameRows("corpus", Dedup.intraDocDedup(corpus), KeyedReference.intraDocDedup(corpus))
  }

  test("postProcess cost grows as n log n with annotations per document") {
    // 4 documents of token-like spans, every tenth one covering the next two
    // (so a fifth of the rows are nested), at 2,000 and 20,000 annotations
    // per document. Noop writes after one warm-up, best of three. A sort per
    // document reads ~10x at most, less while fixed per-job costs dominate
    // the small side; an all-pairs form reads up to ~100x. On a 4-core box
    // the containment anti-join it replaced read 17.8x (0.23 → 4.03 s) and
    // the sort-and-sweep 1.7x (0.14 → 0.23 s).
    val nDocs = 4
    def timed(perDoc: Int): Double = {
      val i = (col("id") / nDocs).cast("long")
      val a = spark.range(nDocs.toLong * perDoc).select((col("id") % nDocs).as("doc_id"),
        concat(lit("X:c"), (col("id") % 3).cast("string")).as("concept_id"), i.as("ord"),
        lit("tok").as("tok"), (i * 6).as("char_start"),
        (i * 6 + when(i % 10 === 0, 17L).otherwise(5L)).as("char_end"))
      def once(): Double = {
        val t0 = System.nanoTime()
        Concepts.postProcess(a).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      Seq.fill(3)(once()).min
    }
    val small = timed(2000)
    val large = timed(20000)
    val ratio = large / small
    info(f"postProcess: 2k/doc $small%.3f s, 20k/doc $large%.3f s, ratio $ratio%.1fx")
    assert(ratio < 6.0, f"20k/2k cost ratio $ratio%.1fx (2k: $small%.3f s, 20k: $large%.3f s)")
  }
}
