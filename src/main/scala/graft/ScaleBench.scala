package graft

/** Scaling probe: times the dedup / ANN / connected-components families at
  * SEVERAL scale factors in ONE JVM and fits a per-family scaling exponent
  * — the measured evidence behind SURVEY §8's linear-in-bytes claims
  * (band/bucket/cell-bounded pair generation). A family whose fitted
  * exponent stays ≲ 1 scales linearly; one above 1 is superlinear
  * somewhere and failed its design. Three points (not two) so a knee —
  * flat in the overhead-dominated regime, then bending upward — can't
  * hide inside a single ratio.
  *
  * Usage: runMain graft.ScaleBench [sfDir1 sfDir2 sfDir3 ...]
  * (defaults: /root/testdata/sf0.001 → sf0.01 → sf0.1, two 10x steps).
  * Same timing discipline as [[Bench]]: cold pass to warm codegen/caches,
  * then min-of-2 timed passes; GC quiesce between queries. Caches are
  * dropped between scale factors (infra.Caches.unpersistAll) so each
  * scale's storage starts clean.
  *
  * The exponent is the least-squares slope of log(t) vs log(sf), with sf
  * parsed from the directory name (sfX → X); when a name doesn't parse,
  * points fall back to 10x-spaced positions. At the small end, fixed
  * per-query overhead (job scheduling, codegen) floors the times, which
  * BIASES THE FIT LOW — so the report also prints the per-step ratios,
  * where the LAST step (largest data, least floored) is the honest
  * linearity check: a family is linear-in-bytes when its last-step ratio
  * stays at or under the bytes ratio of that step.
  */
object ScaleBench {

  private val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_exact", "dedup_norm", "span_dedup", "dedup_minhash",
      "minhash_est", "ngram_jaccard", "dedup_simhash", "simhash_pairs",
      "window_dup", "doc_fingerprint", "split_leakage", "intra_doc_dedup"),
    "ann" -> Seq("emb_topk", "emb_topk_native", "emb_lsh", "ivf_topk",
      "pq_codes", "pq_topk", "sq_codes", "sq_topk", "ivfsq_topk", "ivfpq_topk",
      "kmeans_cells", "emb_dup_pairs", "semantic_dedup"),
    "cc" -> Seq("dedup_clusters", "semantic_clusters", "dedup_keep_best"),
    "layout" -> Seq("corpus_shuffle", "zorder_key"),
    "text" -> Seq("lang_id", "quality_score", "token_packing", "unigram_logprob",
      "dsir_weights", "repetition_stats", "decontaminate", "source_kl",
      "pack_efficiency", "shard_manifest"),
    "retrieval" -> Seq("tfidf", "bm25_scores", "bm25_topk", "bm25_mrr", "concept_idf",
      "cooccur_counts_doc", "cooccur_metrics_doc"),
    "graph" -> Seq("kg_pagerank", "kg_khop", "kg_triangles", "kg_jaccard",
      "tfidf_doc_sim", "kg_degree_dist", "kgx_edges_evidence"),
    "ingest" -> Seq("xml_roundtrip", "medline_ingest", "medline_metadata",
      "medline_subsup", "doc_upsert_delete", "semmed_eval_rows",
      "pmid_html_flag", "pmid_to_year"),
    // round-11 relation/annotation corpus flows: pair-driven masked lines,
    // bicluster instance join + BERT file, batch overlap, sentence catalog
    "relation" -> Seq("concept_pair_sentences", "bicluster_sentences",
      "bicluster_bert", "batch_overlap", "sentence_ids"),
    // round-12 flows: shuffle-free dictionary builds, the promotion/roll-up
    // joins, relay rollups, sheet batches, and the assertion-DB star
    "dict_eval" -> Seq("oger_dict_build", "oger_dict_mondo", "oger_dict_rest",
      "taxon_promotion", "pr_gene_rollup", "relay_accuracy",
      "relay_accuracy_by_type", "sheets_batch", "assertion_db_evidence",
      "assertion_db_integrity"))

  /** sf parsed from a ".../sf0.01"-style dir name; None when absent. */
  private def sfOf(dir: String): Option[Double] = {
    val m = """sf(\d+(?:\.\d+)?)""".r.findAllMatchIn(dir).toSeq.lastOption
    m.flatMap(x => scala.util.Try(x.group(1).toDouble).toOption)
  }

  /** Least-squares slope of log(t) vs log(x). */
  private def fitExponent(xs: Seq[Double], ts: Seq[Double]): Double = {
    val lx = xs.map(math.log)
    val lt = ts.map(t => math.log(math.max(t, 1e-9)))
    val n = lx.size.toDouble
    val mx = lx.sum / n
    val mt = lt.sum / n
    val cov = lx.zip(lt).map { case (a, b) => (a - mx) * (b - mt) }.sum
    val varx = lx.map(a => (a - mx) * (a - mx)).sum
    if (varx == 0) 0.0 else cov / varx
  }

  def main(args: Array[String]): Unit = {
    val dirs: Seq[String] =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    def timed(name: String, dir: String): Double =
      Bench.coldThenWarm(SparkEntry.queries(name)(spark, dir).count())._2

    val names = Families.flatMap(_._2)
    // position of each dir on the fit's x axis: parsed sf, else 10x steps
    val sfs: Seq[Double] = {
      val parsed = dirs.map(sfOf)
      if (parsed.forall(_.isDefined)) parsed.map(_.get)
      else dirs.indices.map(i => math.pow(10.0, i.toDouble))
    }
    val byDir: Seq[Map[String, Double]] = dirs.map { d =>
      val m = names.map(n => n -> timed(n, d)).toMap
      graft.infra.Caches.unpersistAll(spark)
      m
    }

    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val perQuery = names.map { n =>
      val ts = byDir.map(_(n))
      val steps = ts.sliding(2).map { case Seq(a, b) => b / math.max(a, 1e-9) }.toSeq
      val exp = fitExponent(sfs, ts)
      s""""$n":{"t":[${ts.map(f3).mkString(",")}],"step_ratios":[${steps.map(f3).mkString(",")}],"exponent":${f3(exp)}}"""
    }.mkString("{", ",", "}")
    val perFamily = Families.map { case (fam, qs) =>
      val ts = byDir.map(m => qs.map(m).sum)
      val steps = ts.sliding(2).map { case Seq(a, b) => b / math.max(a, 1e-9) }.toSeq
      val exp = fitExponent(sfs, ts)
      s""""$fam":{"t":[${ts.map(f3).mkString(",")}],"step_ratios":[${steps.map(f3).mkString(",")}],"exponent":${f3(exp)}}"""
    }.mkString("{", ",", "}")
    val dirsJson = dirs.map(d => s""""$d"""").mkString("[", ",", "]")
    val sfsJson = sfs.map(f3).mkString("[", ",", "]")
    println(s"""{"metric":"scale_curve","dirs":$dirsJson,"sfs":$sfsJson,"families":$perFamily,"queries":$perQuery}""")
    spark.stop()
  }
}
