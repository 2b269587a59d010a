package graft

import graft.infra.Staging
import graft.operators.{Bpe, Dedup, Embeddings}
import graft.sources.Tables
import org.apache.spark.sql.functions.col

/** The staged-artifact registry (Staging.stage): artifacts are keyed by
  * the plan they materialize, a hit builds nothing, and each derivation
  * under one name gets its own artifact. */
class StagingSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def corpusKey(): String =
    java.nio.file.Files.createTempDirectory("graft-registry-spec").toString

  test("the same derivation staged twice builds once; the hit runs no Spark job") {
    val key = corpusKey()
    def derive = spark.range(0, 100).select((col("id") % 7).as("k"), col("id"))
    val built = jobsDuring(Staging.stageOnce("registry_probe", key, derive, spark))
    assert(built > 0, "the first call must write the artifact")
    val path = Staging.lastPath("registry_probe")
    val hit = jobsDuring(Staging.stageOnce("registry_probe", key, derive, spark))
    assert(hit == 0, s"the second call ran $hit Spark jobs")
    assert(Staging.lastPath("registry_probe") == path)
    assert(Staging.stageOnce("registry_probe", key, derive, spark).count() == 100)
    // derivations whose build runs jobs (fixpoint loops, a driver-side
    // learning loop): the hit must not re-enter the loop either
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    Seq[(String, String => Unit)](
      "Dedup.stagedClusters" -> (k => Dedup.stagedClusters(docs, k)),
      "Embeddings.stagedSemanticClusters" -> (k => Embeddings.stagedSemanticClusters(emb, k)),
      "Embeddings.stagedDupPairs" -> (k => Embeddings.stagedDupPairs(emb, k)),
      "Bpe.stagedMerges" -> (k => Bpe.stagedMerges(docs, k))
    ).foreach { case (what, staged) =>
      val k = corpusKey()
      assert(jobsDuring(staged(k)) > 0, s"$what: the first call must build the artifact")
      val again = jobsDuring(staged(k))
      assert(again == 0, s"$what: the second call ran $again Spark jobs")
    }
  }

  test("two derivations under one name and corpus get two artifacts with their own rows") {
    val key = corpusKey()
    val docs = Tables.documents(spark, sfDir)
    val t10 = Dedup.stageBandIndex(docs, key, 10L)
    val t5 = Dedup.stageBandIndex(docs, key, 5L)
    assert(t10 != t5, "batchMod 5 was served the batchMod 10 index")
    def ids(t: String) = spark.table(t).select("doc_id").distinct().as[Long].collect().toSet
    val (a, b) = (ids(t10), ids(t5))
    assert(a.nonEmpty && a.forall(_ % 10 != 0) && a.exists(_ % 5 == 0))
    assert(b.nonEmpty && b.forall(_ % 5 != 0))
    // the first derivation still reads its own artifact
    assert(Dedup.stageBandIndex(docs, key, 10L) == t10)
  }

  test("lastPath names the artifact the last call under a name built or read") {
    val key = corpusKey()
    def derive(n: Long) = spark.range(0, n).toDF("id")
    Staging.stageOnce("registry_last", key, derive(10), spark)
    val first = Staging.lastPath("registry_last")
    Staging.stageOnce("registry_last", key, derive(20), spark)
    val second = Staging.lastPath("registry_last")
    assert(first.nonEmpty && second != first && second.contains("registry_last_v2"))
    assert(spark.read.parquet(second).count() == 20)
    Staging.stageOnce("registry_last", key, derive(10), spark)
    assert(Staging.lastPath("registry_last") == first)
    assert(spark.read.parquet(first).count() == 10)
  }

  test("file round-trip dirs are staged once per corpus and re-read") {
    for (q <- Seq("orc_roundtrip", "tsv_roundtrip", "jsonl_roundtrip", "conllu_files", "bionlp_source")) {
      val n1 = SparkEntry.queries(q)(spark, sfDir).count()
      val dir = Staging.lastPath(q)
      val n2 = SparkEntry.queries(q)(spark, sfDir).count()
      assert(n1 > 0 && n2 == n1, s"$q: $n1 then $n2 rows")
      assert(dir.nonEmpty && Staging.lastPath(q) == dir, s"$q restaged its dir")
    }
  }
}
