package graft

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r16 item 9 — institutionalize the staged-artifact discipline.
  *
  * Every staged file artifact (a `Staging.stage` call site, or one of its
  * `stageOnce*` one-line forms) must carry a
  * plan-shape/parity pin somewhere in the test suite, or the next staged
  * artifact can land ungated and quietly re-derive per consumer — the
  * r9–r14 driver-flag mechanism the staging discipline exists to prevent.
  *
  * This spec enforces that MECHANICALLY: it scans `src/main/scala` for the
  * call sites, extracts each artifact key (string literal, or the literal
  * prefix of an s-interpolation), and requires every key to match exactly
  * one row of the registry below — where each row names the spec file and
  * a token (a gated query name or test-name fragment) that must literally
  * appear in that file. Adding a `stageOnce` call without a registry row
  * fails here; deleting the named gate fails here; a stale registry row
  * (artifact removed) fails here.
  *
  * No Spark session — this is a source audit, the build-time twin of
  * PlanAuditSpec's runtime staged-consumer gate.
  */
class StagedGateAuditSpec extends AnyFunSuite {

  private val mainDir = new java.io.File("src/main/scala")
  private val testDir = new java.io.File("src/test/scala/graft")

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
  }

  /** (file, firstArg) for every staging call site in main sources.
    * firstArg is the raw matched token: `"lit"`, `s"lit$x"`, or a bare
    * identifier (a forwarder parameter). */
  private def callSites(): Seq[(String, String)] = {
    val staging =
      """Staging\.(?:stage|stageOnce|stageOnceBucketed)\(\s*(s?"[^"]*"|[A-Za-z_][A-Za-z0-9_]*)""".r
    scalaFiles(mainDir).filterNot(_.getName == "Staging.scala").flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      staging.findAllMatchIn(text).map(m => f.getName -> m.group(1)).toSeq
    }
  }

  /** Literal key (or literal prefix, for s-interpolations) of a matched
    * first argument; None for a bare identifier (forwarder parameter). */
  private def keyOf(arg: String): Option[String] =
    if (arg.startsWith("s\"")) Some(arg.drop(2).dropRight(if (arg.endsWith("\"")) 1 else 0).takeWhile(_ != '$'))
    else if (arg.startsWith("\"")) Some(arg.drop(1).dropRight(1))
    else None

  /** Forwarder parameters whose call sites are themselves scanned above —
    * a bare-identifier first arg is legal ONLY from these (file, ident)
    * pairs; anywhere else it is an unauditable staging path. */
  private val knownForwarders = Set.empty[(String, String)]

  /** artifact-key prefix -> (gate spec file, token that must appear there).
    * The token is the gated consumer query's name (PlanAuditSpec's
    * staged-consumer lists), a test-name fragment, or the staged method
    * name the gate drives. Families staged by the same wrapper shape share
    * a representative gate (the oger dict builds all run through the one
    * SparkEntry stageOnce wrapper the oger_dict_build row gates). */
  private val registry: Seq[(String, String, String)] = Seq(
    ("eval_sentences", "PlanAuditSpec.scala", "decontaminate"),
    ("eval_bigrams", "PlanAuditSpec.scala", "decontaminate_fuzzy"),
    ("oger_dict_build", "PlanAuditSpec.scala", "oger_dict_build"),
    ("oger_dict_chebi", "PlanAuditSpec.scala", "oger_dict_build"),
    ("oger_dict_drugbank", "PlanAuditSpec.scala", "oger_dict_build"),
    ("oger_dict_mondo", "PlanAuditSpec.scala", "oger_dict_build"),
    ("oger_dict_rest", "PlanAuditSpec.scala", "oger_dict_build"),
    ("chem_label_norm", "PlanAuditSpec.scala", "oger_dict_build"),
    ("pr_uniprot_map", "PlanAuditSpec.scala", "oger_dict_build"),
    ("taxon_promotion", "PlanAuditSpec.scala", "oger_dict_build"),
    ("pr_gene_rollup", "PlanAuditSpec.scala", "oger_dict_build"),
    ("assertion_db_base", "BucketingSpec.scala", "assertion-DB star"),
    ("bicluster_part_i", "PlanAuditSpec.scala", "bicluster_paths"),
    ("bicluster_part_ii", "PlanAuditSpec.scala", "bicluster_sentences"),
    ("bigquery_universe", "BucketingSpec.scala", "staged universe"),
    ("bpe_merges", "PlanAuditSpec.scala", "bpe_encode_artifact"),
    ("band_index", "BucketingSpec.scala", "staged band-index probe join"),
    ("concept_pairs_file", "PlanAuditSpec.scala", "concept_pairs_pos"),
    ("concept_pair_mentions", "PlanAuditSpec.scala", "concept_pair_sentences"),
    ("concepts_pp", "PlanAuditSpec.scala", "crf_overlap"),
    ("crf_annots", "PlanAuditSpec.scala", "crf_overlap"),
    ("bert_ner_output", "PlanAuditSpec.scala", "ner_bert_import"),
    ("units_", "BucketingSpec.scala", "bucketed unit-concepts"),
    ("cooccur_pairs_", "PlanAuditSpec.scala", "cooccur_counts_doc"),
    ("cooccur_scores_", "PlanAuditSpec.scala", "cooccur_metrics_doc"),
    ("concept_idf", "PlanAuditSpec.scala", "concept_idf"),
    ("minhash_sig", "BucketingSpec.scala", "staged minhash signatures"),
    ("hashed_shingle_sets", "PlanAuditSpec.scala", "decontaminate"),
    ("dedup_clusters_t", "DedupSpec.scala", "staged cluster labels"),
    ("winids", "PlanAuditSpec.scala", "window_dup"),
    ("train_shingles", "PlanAuditSpec.scala", "split_leakage"),
    ("emb_dup_pairs_t", "PlanAuditSpec.scala", "emb_dup_pairs"),
    ("semantic_clusters_t", "PlanAuditSpec.scala", "semantic_clusters"),
    ("annotation_repo_files", "PlanAuditSpec.scala", "batch_stats"),
    ("annotation_batch_repo", "PlanAuditSpec.scala", "batch_overlap"),
    ("relay_results_parsed", "PlanAuditSpec.scala", "relay_improvements"),
    ("relay_metadata_parsed", "PlanAuditSpec.scala", "relay_accuracy_by_type"),
    ("relay_samples_parsed", "PlanAuditSpec.scala", "relay_iaa"),
    ("relay_results", "PlanAuditSpec.scala", "relay_improvements"),
    ("relay_metadata", "PlanAuditSpec.scala", "relay_accuracy_by_type"),
    ("relay_sample_sentences", "PlanAuditSpec.scala", "relay_iaa"),
    ("sheets_rows", "PlanAuditSpec.scala", "sheets_batch"),
    // r17 optimization round: batch 1 staged for its consumers
    // (carry-forward / IAA / BERT back-conversion read the existing sheet)
    ("sheets_batch1", "PlanAuditSpec.scala", "sheets_batch_iaa"),
    // r17: the BM25 retrieval pool staged for the eval card + RRF fusion
    ("bm25_topk_pool", "PlanAuditSpec.scala", "bm25_mrr"),
    // r17: the brute-force ANN truth set staged for the four eval queries
    ("ann_truth", "PlanAuditSpec.scala", "ann_recall"),
    ("winsor", "GraphRetrievalSpec.scala", "qualityWinsorize"),
    ("compression_ratio", "PlanAuditSpec.scala", "compression_quality"),
    ("quantile_sketch", "SketchSpec.scala", "quantile"),
    ("hll_users", "SketchSpec.scala", "HLL distinct user counts"),
    // the file round trips and the update-file stream input, staged through
    // the same registry; their readers are gated where the format is
    ("orc_roundtrip", "StagingSpec.scala", "file round-trip dirs"),
    ("tsv_roundtrip", "InfraSpec.scala", "tsv and jsonl that read back"),
    ("jsonl_roundtrip", "InfraSpec.scala", "tsv and jsonl that read back"),
    ("conllu_files", "TextFilesSpec.scala", "conlluFiles feed Conllu.parse end-to-end"),
    ("bionlp_source", "BioNlpSourceSpec.scala", "round-trips the exported annotation fields"),
    ("upsert_delete_files", "XmlIngestSpec.scala", "DeleteCitation lists retracted pmids"))

  /** Longest-prefix match: `relay_results` must not shadow
    * `relay_results_parsed` — a key matches its most specific row, and is
    * ambiguous only when two rows of the SAME specificity match. */
  private def rowsFor(key: String): Seq[(String, String, String)] = {
    val hits = registry.filter { case (p, _, _) => key.startsWith(p) }
    if (hits.isEmpty) hits
    else { val best = hits.map(_._1.length).max; hits.filter(_._1.length == best) }
  }

  test("every staging call site carries a literal key or is a known forwarder") {
    val sites = callSites()
    assert(sites.nonEmpty, "source scan found no staging call sites — scan broken")
    val badIdents = sites.filter { case (f, a) => keyOf(a).isEmpty }
      .filterNot { case (f, a) => knownForwarders((f, a)) }
    assert(badIdents.isEmpty,
      s"staging call sites with non-literal, non-forwarder names (unauditable): $badIdents")
  }

  test("every staged artifact key matches exactly one registry gate row") {
    val keys = callSites().flatMap { case (_, a) => keyOf(a) }.distinct
    val unmatched = keys.filter(k => rowsFor(k).isEmpty)
    assert(unmatched.isEmpty,
      s"staged artifacts with NO registered plan-shape gate (add a gate + a registry row): $unmatched")
    val ambiguous = keys.filter(k => rowsFor(k).size > 1)
    assert(ambiguous.isEmpty, s"artifact keys matching multiple registry rows: $ambiguous")
  }

  test("no stale registry rows (every gate row matches a live call site)") {
    val keys = callSites().flatMap { case (_, a) => keyOf(a) }.distinct
    val stale = registry.collect {
      case (p, _, _) if !keys.exists(_.startsWith(p)) => p
    }
    assert(stale.isEmpty, s"registry rows with no matching staging call site: $stale")
  }

  test("every registered gate token actually appears in its gate spec") {
    val missing = registry.flatMap { case (p, file, token) =>
      val f = new java.io.File(testDir, file)
      if (!f.exists()) Some(s"$p -> $file (gate file missing)")
      else {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val text = try src.mkString finally src.close()
        if (text.contains(token)) None
        else Some(s"$p -> $file lacks token '$token'")
      }
    }
    assert(missing.isEmpty, missing.mkString("\n"))
  }
}
