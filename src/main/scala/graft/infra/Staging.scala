package graft.infra

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-lifetime temp staging with guaranteed cleanup.
  *
  * Streaming sinks, checkpoints, and the per-sf fixture stages used to
  * leak one temp directory per invocation (ADVICE r3): repeated
  * bench/verify runs accumulated unbounded /tmp data. Every staging dir
  * now registers here and a single shutdown hook removes the trees when
  * the JVM exits; long-lived dirs (per-sf fixture stages) get the same
  * treatment since they are per-process caches, not cross-run artifacts. */
object Staging {

  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach { root =>
        try {
          if (Files.exists(root))
            Files.walk(root).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => { try Files.deleteIfExists(p) catch { case _: Exception => () } })
        } catch { case _: Exception => () }
      }
    }, "graft-staging-cleanup"))
  }

  /** A temp directory that is removed on JVM shutdown. */
  def tempDir(prefix: String): Path = {
    hookInstalled
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p
  }

  /** Deterministic per-corpus stage path OUTSIDE the exit cleanup — the
    * driver's DuckDB oracle compare reads these parquet stages AFTER this
    * JVM exits, so they must survive it (the harness's tmpdir is wiped
    * between rounds; nothing accumulates across rounds).
    *
    * Keyed by the corpus dir's CANONICAL path, not its basename (ADVICE
    * r8: two corpora sharing a basename in one JVM must not share a
    * stage — the second would silently reuse the first's staged
    * thresholds and the oracle compare would mask it, both engines
    * reading the same stale file). */
  /** Filesystem-safe EXACT key for a double threshold in a staged-artifact
    * path. The previous idiom (`math.round(threshold * 100)`) collapsed
    * thresholds within 0.005 of each other onto one artifact, silently
    * serving the first caller's pairs to the second (ADVICE r16).
    * `Double.toString` is the shortest round-trip representation — unique
    * per double value — with '.'/'-' mapped to path-safe letters. */
  def thresholdKey(t: Double): String =
    t.toString.replace('.', 'p').replace('-', 'm')

  def oracleStagePath(kind: String, sfDir: String): String = {
    val f = new java.io.File(sfDir)
    val canon = try f.getCanonicalPath catch { case _: java.io.IOException => f.getAbsolutePath }
    // sanitization is lossy ('/data/a b' and '/data/a_b' both map to
    // data_a_b), so a short hash of the UNSANITIZED canonical path rides
    // along to keep the key injective (ADVICE r9) — same silent
    // cross-corpus reuse class the canonical-path keying fixed in r8
    val key = canon.replaceAll("[^A-Za-z0-9._-]", "_").dropWhile(_ == '_')
    val tag = f"${canon.hashCode & 0x7fffffff}%x"
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft-oracle-stage",
      kind + "_" + key + "_" + tag).toString
  }

  // -------------------------------------------------------- staged artifacts

  private val stagedOnce = scala.collection.mutable.Set[String]()

  /** A DataFrame derivation materialized ONCE per (process, corpus) as a
    * parquet file artifact and read back on every reference — the Spark
    * re-expression of the reference's write-once/read-many FILE contracts
    * (pairs files, relay exports, bicluster part-i/ii, ...). Unlike a
    * `persist()`, the artifact is immune to CacheManager eviction, so
    * suite-level latency does not depend on what else pinned memory first
    * (the r9-r12 flag-wave mechanism).
    *
    * CONTRACT — canonical inputs only: the artifact is keyed by
    * (`name`, `sfDir`) and the `derive` thunk is evaluated only on the first
    * call in a process. Callers MUST pass the canonical derivation for that
    * corpus (the same plan every consumer wants); a later in-process call
    * with a DIFFERENT derivation for the same key silently reads the first
    * derivation's rows. Non-canonical inputs (filtered/unioned variants)
    * must use a distinct `name`. */
  def stageOnce(name: String, sfDir: String, derive: => DataFrame,
                spark: SparkSession): DataFrame = {
    val path = oracleStagePath(name, sfDir)
    stagedOnce.synchronized {
      if (!stagedOnce.contains(path)) {
        derive.write.mode("overwrite").parquet(path)
        stagedOnce.add(path)
      }
    }
    spark.read.parquet(path)
  }

  /** [[stageOnce]], but materialized as a BUCKETED (+ per-bucket sorted)
    * parquet table — the storage layout the 100 TB path reads: every
    * downstream equi-join / aggregation keyed on `bucketCol` (or a superset)
    * scans the artifact with ZERO exchanges on this side
    * (measured 17 → 1 exchanges on the cooccurrence
    * pair join). Same canonical-inputs contract as [[stageOnce]].
    *
    * Bucket width = the session's `spark.sql.shuffle.partitions`:
    * GraftSession sets it to the local core count, spark-submit to the
    * cluster's. The write, every scan of the artifact and every consumer
    * join or aggregation that inherits its partitioning then run one task
    * per core, the same width as the shuffles around them; a fixed count
    * above the core count only multiplies per-task constants.
    *
    * The table lives in a process-lifetime temp dir (registered for exit
    * cleanup) and its catalog entry in the session's SharedState, so the key
    * includes the SharedState identity: a second SparkContext in one JVM
    * (test suites) re-derives rather than reading a table its catalog has
    * never heard of. */
  def stageOnceBucketed(name: String, sfDir: String, derive: => DataFrame,
                        spark: SparkSession, bucketCol: String): DataFrame = {
    val canon = try new java.io.File(sfDir).getCanonicalPath
                catch { case _: java.io.IOException => new java.io.File(sfDir).getAbsolutePath }
    // sanitized path + hash, same injectivity discipline as oracleStagePath
    // (ADVICE r13: the 32-bit hash alone could collide across two corpus
    // dirs and silently serve one corpus's bucketed artifact to the other;
    // the sanitized component disambiguates every realistic collision, the
    // hash covers the residual sanitization-lossy cases)
    val pathKey = canon.toLowerCase.replaceAll("[^a-z0-9_]", "_").dropWhile(_ == '_').takeRight(64)
    val table = f"graft_${name}_${pathKey}_${canon.hashCode & 0x7fffffff}%x"
    val key = s"${System.identityHashCode(spark.sharedState)}:$table"
    stagedOnce.synchronized {
      if (!stagedOnce.contains(key)) {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        val dir = tempDir(s"graft-stage-$name")
        // ONE file per bucket: repartition on the bucket column uses the
        // same Murmur3 HashPartitioning as bucketBy, so each write task
        // holds exactly one bucket and emits exactly one file. That is the
        // condition under which the scan REPORTS the sortBy order
        // (FileSourceScanExec only trusts per-bucket sort with <= 1 file
        // per bucket) — with it, every doc-keyed sort-merge join over a
        // staged artifact skips BOTH its sorts; without it, each join
        // re-sorted the scan per query (at sf10 the zone-containment join
        // paid ~100M-row external sorts per side, the dominant constant of
        // its last probe decade).
        val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
        derive.repartition(buckets, org.apache.spark.sql.functions.col(bucketCol))
          .write.mode("overwrite")
          .option("path", dir.resolve(table).toString)
          .bucketBy(buckets, bucketCol).sortBy(bucketCol)
          .format("parquet").saveAsTable(table)
        stagedOnce.add(key)
      }
    }
    spark.table(table)
  }
}
