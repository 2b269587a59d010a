package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main. Runs every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Each query is timed by [[coldThenWarm]]: a cold pass (reported as
  * cold_total_sec), then the min of two warm passes (reported per query;
  * "value" is the warm total).
  */
object Bench {
  /** The round-1 benchmark query set (BENCH_r01.json), for the
    * warm_total_r1_queries round-over-round comparison metric. */
  private val R1Queries: Set[String] = Set(
    "abbrev", "bionlp_export", "chunk_content", "classified_sentences",
    "collection_assign", "concept_count_dist", "concept_idf", "concepts",
    "concepts_pp", "concepts_promoted", "conll03_export", "conllu_tokens",
    "cooccur_counts_abstract", "cooccur_counts_doc", "cooccur_counts_sent",
    "cooccur_counts_title", "cooccur_metrics_doc", "crf_overlap",
    "decontaminate", "dedup_exact", "dedup_minhash", "dedup_norm",
    "dedup_simhash", "dict_export", "distant_supervision", "doc_augment",
    "doc_filter", "doc_fingerprint", "doc_sample", "doc_upsert",
    "emb_dup_pairs", "emb_lsh", "emb_topk", "emb_topk_native", "es_docs",
    "events_hourly", "events_props", "events_quantiles", "events_sessions",
    "export_flat", "kg_edges", "kg_nodes", "lang_id", "multimodal_meta",
    "ngram_counts", "ngram_jaccard", "ontology_closure", "pubannotation_export",
    "q1_pricing", "q3_top_orders", "q5_region_revenue", "q6_forecast",
    "quality_filter", "quality_score", "relation_paths", "repetition_stats",
    "sentence_pairs", "sentences", "text_export", "text_redact", "tfidf",
    "token_packing", "tokens", "top_parts_per_brand", "vocab_stats",
    "xml_roundtrip")

  /** GC, then a short pause, so async cleanup from the previous pass
    * stays out of the next one's timing. */
  def quiesce(): Unit = { System.gc(); Thread.sleep(200) }

  /** The timing protocol of every timing main: one cold pass (warms shared
    * caches and codegen, builds staged artifacts), then warm = the min of
    * two timed passes, with a quiesce after each pass. Min-of-2 because
    * single-pass timings swing 2-3x per query run-to-run (GC moment, host
    * CPU steal, cache eviction timing); it rejects the one-bad-moment sample
    * while keeping the suite one JVM. Returns (cold, warm) seconds. */
  def coldThenWarm(pass: => Unit): (Double, Double) = {
    def timed(): Double = {
      val t0 = System.nanoTime()
      pass
      val s = (System.nanoTime() - t0) / 1e9
      quiesce()
      s
    }
    val cold = timed()
    (cold, (1 to 2).map(_ => timed()).min)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // optional args restrict the query set (local iteration only; the
    // driver always runs the full suite with no args)
    val only = args.toSet
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    var coldTotal = 0.0
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Long =
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        failed += name
        -1L
      }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val (cold, warm) = coldThenWarm(run(name, fn))
      coldTotal += cold
      // operator-internal persists are bounded BY DESIGN, not by audit
      // (VERDICT r12 item 8): whatever this query registered is dropped
      // before the next query runs, so no managed entry survives a suite
      // phase and later queries' latency never depends on what an earlier
      // query pinned. Deliberate cross-query shares (staged file artifacts)
      // are files, not caches, and are unaffected.
      graft.infra.Caches.unpersistManaged()
      name -> warm
    }
    // The harness captures only the LAST ~2000 chars of stdout, and sbt's
    // own "[success] Total time ..." epilogue takes ~80 of them. A single
    // line carrying all per-query times outgrew that window every round
    // (BENCH_r01..r04 all record parsed:null). So: the FINAL line is a
    // compact summary (totals + r1 subset + slowest 20) guaranteed to fit,
    // while the full per-query map goes to a file (path in the summary)
    // and to chunked [bench-queries] lines earlier in the log.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jmap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val fails = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // round-over-round comparability: the query set grows every round, so
    // also report the warm total restricted to the round-1 query set (and
    // use it to normalize the regression gate for machine-state pressure)
    val r1Total = results.collect { case (k, v) if R1Queries(k) => v }.sum
    // Per-query regression check against the FROZEN baseline
    // (baselines/bench_per_query_sf0.1.json — re-frozen for r13 from the
    // DRIVER'S r12 in-suite values; VERDICT r12 item 3 named the r12 freeze
    // mis-calibrated: isolated-minimum denominators made the very next
    // driver run trip 35 flags from machine-state pressure alone). A single
    // query regressing 5× inside a flat total must be NAMED, not averaged
    // away — but uniform machine-state pressure must NOT mass-trip the
    // gate, so each run's flags are normalized by its r1-subset ratio vs
    // the freeze run's recorded r1 total: a box running the whole suite
    // 1.5× slower raises every denominator 1.5× and only PLAN-correlated
    // drift (a query moving off its family's curve) still flags. The ratio
    // is floored at 1.0 so a fast box still catches absolute regressions.
    // The candidate query's OWN contribution is excluded from both sides of
    // the ratio (ADVICE r13): with it included, a heavy r1 query regressing
    // 5× inflates its own denominator enough to mask itself — a query that
    // is 40% of the r1 total at 5× raises the ratio to ~2.6 and its own
    // threshold to 5.2×, contradicting the must-be-NAMED invariant.
    // Same-sf only; a 0.5 s absolute floor keeps sub-half-second queries'
    // run-to-run noise from crying wolf (the gate flagged sub-0.5 s
    // queries on pure machine-state swing three rounds running — r11
    // top_parts_per_brand, r12 es_bulk, r13 bionlp_source — all of which
    // measured at baseline in every isolated run; VERDICT r13 item 3 asks
    // for exactly this recalibration). Advisory — it names suspects for
    // the plan audit, it doesn't fail the bench.
    // Baseline file keyed by the corpus dir's basename, so the SCALE
    // LADDER gets the same gate as the driver's sf0.1 run (VERDICT r14
    // item 5): a probe at /tmp/graft-scale/sf1.0 compares against
    // baselines/bench_per_query_sf1.0.json when that freeze exists.
    val sfName = new java.io.File(sfDir).getName
    val baselineFile = java.nio.file.Paths.get(s"baselines/bench_per_query_$sfName.json")
    val regressions: Seq[(String, Double, Double)] =
      if (java.nio.file.Files.exists(baselineFile)) {
        val txt = new String(java.nio.file.Files.readAllBytes(baselineFile), "UTF-8")
        val frozenR1 = "\"warm_total_r1_queries\"\\s*:\\s*([0-9]+\\.?[0-9]*)".r
          .findFirstMatchIn(txt).map(_.group(1).toDouble)
        val qSection = txt.substring(txt.indexOf("\"queries\""))
        // warm_total_r1_queries can sort AFTER "queries" in a
        // sort_keys-written freeze (the scale tool) — it is a rollup, not a
        // query; admitting it would plant a phantom base entry (ADVICE r15)
        val base = "\"([a-z0-9_]+)\"\\s*:\\s*([0-9]+\\.[0-9]+)".r
          .findAllMatchIn(qSection).map(m => m.group(1) -> m.group(2).toDouble)
          .filter(_._1 != "warm_total_r1_queries").toMap
        def ratioExcluding(name: String, warm: Double): Double = {
          val ownFrozen = if (R1Queries(name)) base.getOrElse(name, 0.0) else 0.0
          val ownWarm = if (R1Queries(name)) warm else 0.0
          frozenR1 match {
            case Some(f) if f - ownFrozen > 0 && r1Total - ownWarm > 0 =>
              math.max(1.0, (r1Total - ownWarm) / (f - ownFrozen))
            case _ => 1.0
          }
        }
        results.flatMap { case (name, warm) =>
          base.get(name).collect {
            case b if {
              val ratio = ratioExcluding(name, warm)
              warm > 2.0 * b * ratio && warm - b * ratio > 0.5
            } => (name, b, warm)
          }
        }.sortBy { case (_, b, w) => -(w / b) }
      } else Seq.empty
    val regJson = regressions
      .map { case (n, b, w) => "\"" + n + "\":[" + f3(b) + "," + f3(w) + "]" }
    if (regressions.nonEmpty)
      println(s"[bench-regressions vs frozen baseline] ${regJson.mkString("{", ",", "}")}")
    val total = results.map(_._2).sum
    val detailPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "target/bench_detail.json"))
    // r1_query_set rides along so the freeze tools read the R1 membership
    // from the bench run instead of carrying their own copies (ADVICE r15:
    // three drifting copies of the set skew the normalization ratio)
    val r1Json = R1Queries.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullJson =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${jmap(results)},"cold_total_sec":${f3(coldTotal)},"n_queries":${results.size},"warm_total_r1_queries":${f3(r1Total)},"r1_query_set":$r1Json,"failed":$fails,"regressions_vs_baseline":${regJson.mkString("{", ",", "}")},"sf":"$sfDir"}"""
    if (detailPath.getParent != null) java.nio.file.Files.createDirectories(detailPath.getParent)
    java.nio.file.Files.write(detailPath, fullJson.getBytes("UTF-8"))
    results.grouped(15).zipWithIndex.foreach { case (chunk, i) =>
      println(s"[bench-queries ${i + 1}] ${jmap(chunk)}")
    }
    val slowest = results.sortBy(-_._2).take(20)
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":${jmap(slowest)},"queries_are_slowest20_of":${results.size},"cold_total_sec":${f3(coldTotal)},"n_queries":${results.size},"warm_total_r1_queries":${f3(r1Total)},"failed":$fails,"n_regressions_vs_baseline":${regressions.size},"worst_regressions":${regJson.take(3).mkString("{", ",", "}")},"detail_file":"${detailPath.toAbsolutePath}","sf":"$sfDir"}""")
    spark.stop()
  }
}
