package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._

/** Demonstrates + verifies the co-located-join scale path: two tables
  * bucketed on the join key join WITHOUT any shuffle exchange — at 100 TB
  * this removes the dominant cost of the cooccurrence family's repeated
  * doc_id joins. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  override def beforeAll(): Unit = {
    super.beforeAll()
    // clear orphaned managed-table locations from prior JVMs
    for (t <- Seq("graft_bucket_l", "graft_bucket_r", "graft_bucket_rt")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("join of two tables bucketed on the key plans with zero exchanges") {
    val left = (1L to 1000L).map(i => (i % 97, i)).toDF("doc_id", "payload_a")
    val right = (1L to 1000L).map(i => (i % 97, i * 2)).toDF("doc_id", "payload_b")
    Sinks.bucketedTable(left, "graft_bucket_l", "doc_id", buckets = 8)
    Sinks.bucketedTable(right, "graft_bucket_r", "doc_id", buckets = 8)
    // force the sort-merge path (tiny test tables would broadcast, which
    // disables bucketing; at the scale bucketing targets, SMJ is the plan)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_bucket_l").join(spark.table("graft_bucket_r"), "doc_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free bucketed join, got:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(joined.count() == left.join(right, "doc_id").count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("staged band-index probe join plans zero exchanges and zero sorts on the index side") {
    // the nightly-ingest contract (Dedup.minhashIncrementalStaged): the
    // corpus band table is persisted bucketed+sorted by (band, band_key), so
    // the probe SMJ reads the index straight from its buckets — only the
    // small new-batch side shuffles/sorts to meet them
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ: bucketing must carry it
    spark.conf.set("spark.sql.adaptive.enabled", "false") // plain plan tree for the walk
    // since SPARK-28595 a bucketed scan ignores its sortBy metadata unless
    // this opt-in is set — safe here because the index write guarantees one
    // file per bucket (the condition the default guards against)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val df = operators.Dedup.minhashIncrementalStaged(docs, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a sort-merge probe join:\n$plan")
      def indexSide(p: SparkPlan): Boolean =
        p.collect { case s: FileSourceScanExec => s }
          .exists(_.tableIdentifier.exists(_.table.startsWith("graft_band_index")))
      val idx = Seq(smj.head.left, smj.head.right).filter(indexSide)
      assert(idx.size == 1, s"expected exactly one index side:\n$plan")
      assert(idx.head.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"index side shuffled:\n${idx.head}")
      assert(idx.head.collect { case s: SortExec => s }.isEmpty,
        s"index side re-sorted (bucket sortBy not honored):\n${idx.head}")
      // parity with the single-plan formulation on the same corpus
      val expect = operators.Dedup.minhashIncremental(docs)
        .collect().map(_.toSeq).toSet
      assert(df.collect().map(_.toSeq).toSet == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    }
  }

  test("wide band-index write (repartition on bucket key, >1 writer tasks) keeps the sort-skipping probe") {
    // the index's one layout (Staging.Layout.Bucketed): the corpus band
    // table is repartitioned on the bucket key with numPartitions =
    // numBuckets before the bucketed write — shuffle HashPartitioning and
    // bucketBy share pmod(murmur3, n), so each of the parallel writer tasks
    // emits exactly one bucket's one file and the index-side scan still
    // honors its sortBy metadata
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try {
      val df = operators.Dedup.minhashIncrementalStaged(docs, "/root/testdata/sf0.001")
      // the one-file-per-bucket invariant under the multi-task write: every
      // data file is tagged with its bucket id (..._00003.c000...), at most
      // one file per id
      val table = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          operators.Dedup.stageBandIndex(docs, "/root/testdata/sf0.001")))
      val files = new java.io.File(new java.net.URI(table.location.toString))
        .listFiles().filter(_.getName.endsWith(".parquet"))
      val bucketIds = files.map(_.getName.replaceAll(".*_(\\d{5})\\.c.*", "$1"))
      assert(files.nonEmpty && bucketIds.distinct.length == bucketIds.length,
        s"expected at most one file per bucket, got ${files.map(_.getName).toSeq}")
      val plan = df.queryExecution.executedPlan
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a sort-merge probe join:\n$plan")
      def indexSide(p: SparkPlan): Boolean =
        p.collect { case s: FileSourceScanExec => s }
          .exists(_.tableIdentifier.exists(_.table.startsWith("graft_band_index")))
      val idx = Seq(smj.head.left, smj.head.right).filter(indexSide)
      assert(idx.size == 1, s"expected exactly one index side:\n$plan")
      assert(idx.head.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"index side shuffled:\n${idx.head}")
      assert(idx.head.collect { case s: SortExec => s }.isEmpty,
        s"index side re-sorted (bucket sortBy not honored):\n${idx.head}")
      // parity with the single-plan formulation on the same corpus
      val expect = operators.Dedup.minhashIncremental(docs)
        .collect().map(_.toSeq).toSet
      assert(df.collect().map(_.toSeq).toSet == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    }
  }

  test("bucketed unit-concepts pair self-join plans zero join exchanges") {
    // the chain's path (stagedUnitConcepts → pairCounts, which
    // cooccur_counts_doc/_bucketed and stagedPairCounts run): both sides of
    // the pair self-join read the same doc_id-bucketed table, so the only
    // Exchange in the whole plan is the final (concept1, concept2)
    // aggregation — the cooccurrence family's 100 TB layout (SURVEY §7
    // records 17→1 exchanges)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val docs = sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val annots = operators.Concepts.postProcess(operators.Concepts.recognize(docs))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // a fresh corpus key: the artifact is derived here, never reused
      val stageDir = graft.infra.Staging.tempDir("graft-bucket-units").toString
      val units = operators.Cooccurrence.stagedUnitConcepts(
        annots, stageDir, "document", Seq("doc_id"))
      val scan = units.queryExecution.executedPlan
      val buckets = scan.collect { case s: FileSourceScanExec => s.relation.bucketSpec }
      assert(buckets.nonEmpty && buckets.forall(_.map(_.numBuckets).contains(
        spark.conf.get("spark.sql.shuffle.partitions").toInt)),
        s"staged units must carry one bucket per shuffle partition:\n$scan")
      val df = operators.Cooccurrence.pairCounts(units, Seq("doc_id"))
        .select("concept1", "concept2", "pair_count")
      val plan = df.queryExecution.executedPlan
      val joins = plan.collect { case j: SortMergeJoinExec => j }
      assert(joins.nonEmpty, s"expected a sort-merge pair join:\n$plan")
      assert(joins.forall(j =>
        j.collect { case e: ShuffleExchangeExec => e }.isEmpty),
        s"pair join shuffled despite bucketing:\n$plan")
      assert(plan.collect { case e: ShuffleExchangeExec => e }.size == 1,
        s"expected only the final aggregation exchange:\n$plan")
      // parity with the shuffled formulation
      val expect = operators.Cooccurrence.pairCounts(
          operators.Cooccurrence.unitConcepts(annots, Seq("doc_id")), Seq("doc_id"))
        .select("concept1", "concept2", "pair_count")
        .collect().map(_.toSeq).toSet
      assert(df.collect().map(_.toSeq).toSet == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      graft.infra.Caches.unpersistManaged()
    }
  }

  test("stageOnceBucketed derives once, reads back bucketed, and survives a distinct without exchange") {
    // the r13 staged-prefix mechanism (Concepts.stagedPostProcessed rides
    // this): the artifact is written exactly once per (process, corpus,
    // derivation) — the second call builds the derive thunk's plan to key
    // the lookup, and runs no Spark job; the read-back scan carries the
    // bucket metadata, so a distinct clustered on a superset of the bucket
    // key plans WITHOUT an exchange — the eviction-immune version of the
    // old session-lifetime persist
    def derive = (1L to 500L).map(i => (i % 23, s"c${i % 7}")).toDF("doc_id", "concept_id")
    val dir = graft.infra.Staging.tempDir("graft-stage-spec").toString
    val a = graft.infra.Staging.stageOnceBucketed("bucketspec_pp", dir, derive, spark, "doc_id")
    var b: org.apache.spark.sql.DataFrame = null
    val rederived = jobsDuring {
      b = graft.infra.Staging.stageOnceBucketed("bucketspec_pp", dir, derive, spark, "doc_id")
    }
    assert(rederived == 0, "second call must read the artifact, not re-derive")
    assert(b.count() == 500L)
    val distinctPlan = a.select("doc_id", "concept_id").distinct()
      .queryExecution.executedPlan.toString
    assert(!distinctPlan.contains("Exchange hashpartitioning"),
      s"distinct over the bucketed artifact must not shuffle:\n$distinctPlan")
  }

  test("BigQuery zone-containment join over the staged universe plans zero exchanges AND zero sorts") {
    // VERDICT r15 item 2 (+ the end-of-r15 Staging sortBy fix): the
    // containment join's two sides are co-located scans of the doc_id-
    // bucketed, per-bucket-SORTED universe artifact — the SMJ must read
    // BOTH its distribution and its order from the scan (at sf10 each
    // re-sort cost ~100M-row external sorts; the partition-count knob a
    // cluster scales, but the sorts were pure waste)
    // (at spec scale the optimizer broadcasts the join side — also shuffle-
    // free; the SMJ-over-sorted-buckets shape is the at-scale variant and
    // the scan's reported sort order is pinned by the band-index tests)
    val sfDir = "/root/testdata/sf0.001"
    def planOf(key: String): String = {
      val q = SparkEntry.queries(key)
      q(spark, sfDir).count() // first call stages the universe
      q(spark, sfDir).queryExecution.executedPlan.toString
    }
    // annotation: distinct keys carry the raw doc_id (bucket column), so the
    // whole table projection is exchange-free over the staged universe
    val ann = planOf("bigquery_load_annotation")
    assert(!ann.contains("Exchange hashpartitioning"),
      s"annotation must ride the universe's doc_id buckets, not shuffle:\n$ann")
    // zones: the containment JOIN is bucket-co-located (no exchange below
    // it, no re-sort of the scans); the one admissible exchange is the
    // final unique-PAIR distinct, whose keys legitimately drop doc_id
    // (digests can collide across docs) and whose input is partial-agg
    // bounded
    val zones = planOf("bigquery_load_zones")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(zones).size
    assert(exchanges <= 1, s"zones may shuffle only the final pair distinct:\n$zones")
    assert(!zones.contains("Sort "),
      s"zones must read the per-bucket sort from the scan, not re-sort:\n$zones")
    graft.infra.Caches.unpersistManaged()
  }

  test("bucketed table round-trips data intact") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "v")
    Sinks.bucketedTable(df, "graft_bucket_rt", "doc_id", buckets = 4)
    val back = spark.table("graft_bucket_rt").orderBy("doc_id").as[(Long, String)].collect()
    assert(back.toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("staged unit-concepts artifact: pair join plans exchange-free scan sides, results equal the in-session derivation") {
    // the r14 cross-query share of the cooccurrence family: counts/metrics/
    // chi2/idf at one level read ONE doc_id-bucketed file artifact
    // (Cooccurrence.stagedUnitConcepts) instead of each rebuilding the
    // distinct+ancestor-expand chain — and the pair self-join over the
    // bucketed scan must not shuffle its scan sides (hash(doc_id) bucketing
    // satisfies the join's clustering), the 100 TB layout
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val sf = "/root/testdata/sf0.001"
    val docs = sources.Tables.documents(spark, sf)
    // the CANONICAL annots input of the staged artifact (same derivation
    // SparkEntry.unitsAt passes — the stage-once contract keys on it)
    val annots = operators.Concepts.stagedPostProcessed(docs, sf)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val staged = operators.Cooccurrence.stagedUnitConcepts(
        annots, sf, "document", Seq("doc_id"))
      // plan shape: the self-join's scan sides carry no exchange (only the
      // final (concept1, concept2) aggregation may shuffle). Assert on the
      // UNCACHED staged scan so the bucketing, not an InMemoryRelation,
      // carries the distribution.
      val l = staged.select(col("doc_id"), col("concept_id").as("concept1"))
      val r = staged.select(col("doc_id"), col("concept_id").as("concept2"))
      val joined = l.join(r, Seq("doc_id")).where(col("concept1") < col("concept2"))
      val plan = joined.queryExecution.executedPlan
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, s"expected a sort-merge pair join:\n$plan")
      assert(Seq(smj.head.left, smj.head.right).forall(
        _.collect { case e: ShuffleExchangeExec => e }.isEmpty),
        s"pair-join scan side shuffled despite the bucketed artifact:\n$plan")
      // results: staged path == in-session derivation, for the pair counts
      // and the metrics tail
      val viaStaged = operators.Cooccurrence
        .pairCounts(staged, Seq("doc_id")).collect().map(_.toSeq).toSet
      val direct = operators.Cooccurrence
        .pairCounts(operators.Cooccurrence.unitConcepts(annots, Seq("doc_id")), Seq("doc_id"))
        .collect().map(_.toSeq).toSet
      assert(viaStaged == direct)
      val mStaged = operators.Cooccurrence
        .metricsFromUnits(staged, Seq("doc_id")).collect().map(_.toSeq).toSet
      val mDirect = operators.Cooccurrence
        .metrics(annots, Seq("doc_id")).collect().map(_.toSeq).toSet
      assert(mStaged == mDirect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      graft.infra.Caches.unpersistManaged()
    }
  }

  test("staged minhash signatures: estimate and band sweep equal their from-scratch derivations") {
    // the r14 cross-query share of the near-dup family: the (doc_id, sig)
    // signature table staged once (Dedup.stagedSignatures); estimate and
    // band-shape sweep re-band the staged 12 longs/doc with no
    // shingle-stream scan
    val sf = "/root/testdata/sf0.001"
    val docs = sources.Tables.documents(spark, sf)
    try {
      val mh = operators.Dedup.stagedSignatures(docs, sf)
      assert(operators.Dedup.minhashEstimateFrom(mh).collect().map(_.toSeq).toSet ==
        operators.Dedup.minhashEstimateFrom(
          operators.Dedup.signatures(operators.Dedup.shingleSets(docs))).collect().map(_.toSeq).toSet)
      assert(operators.Dedup.lshBandTuningFrom(mh).collect().map(_.toSeq).toSet ==
        operators.Dedup.lshBandTuningFrom(
          operators.Dedup.signatures(operators.Dedup.shingleSets(docs))).collect().map(_.toSeq).toSet)
    } finally graft.infra.Caches.unpersistManaged()
  }

  test("assertion-DB star: doc-local distincts plan zero exchanges over the bucketed base") {
    // VERDICT r14 item 2: every digest id except the assertion digest
    // embeds doc_id, so with the staged base bucketed on doc_id and doc_id
    // kept in the grouping keys, the evidence/entities/scores dedups are
    // doc-local aggregates the bucketing satisfies without a shuffle
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.SparkPlan
    val sf = "/root/testdata/sf0.001"
    val docs = sources.Tables.documents(spark, sf)
    val annots = operators.Concepts.stagedPostProcessed(docs, sf)
    val base = operators.AssertionDb.stagedBase(docs, annots, sf)
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case e: ShuffleExchangeExec => Seq(e)
    }.flatten
    for (df <- Seq(operators.AssertionDb.entitiesFrom(base),
                   operators.AssertionDb.evidenceFrom(base),
                   operators.AssertionDb.evidenceScoresFrom(base))) {
      val plan = df.queryExecution.executedPlan
      assert(shuffles(plan).isEmpty,
        s"expected exchange-free doc-local distinct over the bucketed base:\n$plan")
    }
    // ... and the result sets equal the pre-bucketing global-distinct
    // formulation derived from scratch
    val fresh = operators.AssertionDb.evidenceBase(docs, annots)
    assert(operators.AssertionDb.entitiesFrom(base).collect().map(_.toSeq).toSet ==
      operators.AssertionDb.entitiesFrom(fresh).collect().map(_.toSeq).toSet)
    assert(operators.AssertionDb.evidenceFrom(base).collect().map(_.toSeq).toSet ==
      operators.AssertionDb.evidenceFrom(fresh).collect().map(_.toSeq).toSet)
    // integrity's doc-local orphan joins: with broadcast off, the
    // (doc_id, id) SMJ sides read the bucketed base with no shuffle
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val integ = operators.AssertionDb.integrityFrom(base)
      val row = integ.collect().head
      assert(row.getLong(0) == 0 && row.getLong(1) == 0 &&
        row.getLong(2) == 0 && row.getLong(3) == 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }
}
