package graft.infra

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Process-lifetime temp staging with guaranteed cleanup, and the one
  * registry of staged artifacts.
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

  /** Filesystem-safe EXACT key for a double threshold in a staged-artifact
    * name. The previous idiom (`math.round(threshold * 100)`) collapsed
    * thresholds within 0.005 of each other onto one artifact, silently
    * serving the first caller's pairs to the second (ADVICE r16).
    * `Double.toString` is the shortest round-trip representation — unique
    * per double value — with '.'/'-' mapped to path-safe letters. */
  def thresholdKey(t: Double): String =
    t.toString.replace('.', 'p').replace('-', 'm')

  private def canonical(sfDir: String): String = {
    val f = new java.io.File(sfDir)
    try f.getCanonicalPath catch { case _: java.io.IOException => f.getAbsolutePath }
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
  private def oracleStagePath(kind: String, canon: String): String = {
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

  /** How a staged artifact is laid out, and so where it lives. */
  sealed trait Layout
  object Layout {
    /** A parquet directory at the deterministic per-corpus path that the
      * DuckDB oracle can read after the JVM exits. */
    case object Parquet extends Layout
    /** [[Parquet]] written by one task as one file — for the small tables
      * (thresholds, sketches, id sets) the oracle SQL reads back. */
    case object SingleFile extends Layout
    /** A catalog table bucketed AND per-bucket sorted on `cols`, one file
      * per bucket, in an exit-cleaned temp dir — the storage layout the
      * 100 TB path reads: every downstream equi-join / aggregation keyed on
      * `cols` (or a superset) scans the artifact with ZERO exchanges on
      * this side (measured 17 → 1 exchanges on the cooccurrence pair join).
      *
      * Bucket width = the session's `spark.sql.shuffle.partitions`:
      * GraftSession sets it to the local core count, spark-submit to the
      * cluster's. The write, every scan of the artifact and every consumer
      * join or aggregation that inherits its partitioning then run one task
      * per core, the same width as the shuffles around them. */
    final case class Bucketed(cols: String*) extends Layout
    /** A caller-supplied writer into an exit-cleaned temp dir — the ORC,
      * TSV, JSONL and partitioned-text round trips, whose readers are the
      * point of their queries. `format` names the layout in the key. */
    final case class Files(format: String)(val write: (DataFrame, String) => Unit) extends Layout
  }
  import Layout._

  /** A staged artifact: its location, its catalog table for the bucketed
    * layout, and the schema it was written with. */
  final case class Artifact(path: String, table: Option[String], schema: StructType) {
    /** The artifact as a DataFrame: a scan of its table, or of its parquet
      * files with the written schema — no footer-reading inference job. */
    def read(spark: SparkSession): DataFrame =
      table.fold(spark.read.schema(schema).parquet(path))(spark.table)
  }

  /** (name, canonical corpus path, SharedState identity for catalog
    * tables) -> every version staged under it, in build order. */
  private val versions =
    scala.collection.mutable.Map[(String, String, Int), Vector[(Layout, LogicalPlan, Artifact)]]()
  private val latest = scala.collection.mutable.Map[String, String]()
  private val artifactPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** THE way a derivation is shared across queries: materialized ONCE per
    * (process, corpus, derivation) as a file artifact and read back on
    * every reference — the Spark re-expression of the reference's
    * write-once/read-many FILE contracts (pairs files, relay exports,
    * bicluster part-i/ii, ...). Unlike a `persist()`, the artifact is
    * immune to CacheManager eviction, so suite-level latency does not
    * depend on what else pinned memory first (the r9-r12 flag-wave
    * mechanism).
    *
    * PLAN-KEY RULE: an artifact is found by the plan it materializes, not
    * only by the name the caller picks (the materialized-view matching of
    * Apache Calcite). The key is `name`, the canonical corpus path, the
    * layout, the SharedState identity for catalog tables (a second
    * SparkContext in one JVM re-derives rather than reading a table its
    * catalog has never heard of), and the analyzed plan of `derive`,
    * compared with `sameResult`. The same derivation reads the existing
    * artifact; a different derivation under the same name gets its own —
    * the first keeps the name's path, later ones get `_v2`, `_v3`, … — so
    * an artifact can never silently serve another derivation's rows.
    *
    * `derive` is evaluated on every call (a plan, built in milliseconds).
    * A derivation that runs Spark jobs while its plan is built (an
    * iterative fixpoint, a driver-side learning loop) passes its lazy
    * input plan as `derive` and the loop as `build`, which runs only on a
    * miss; the loop's parameters then go into `name`. */
  def stage(name: String, sfDir: String, layout: Layout, derive: => DataFrame,
            build: DataFrame => DataFrame = identity): Artifact = {
    val df = derive
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    val canon = canonical(sfDir)
    val owner = layout match {
      case _: Bucketed => System.identityHashCode(spark.sharedState)
      case _ => 0
    }
    val key = (name, canon, owner)
    versions.synchronized {
      val known = versions.getOrElse(key, Vector.empty)
      val art = known.collectFirst { case (l, p, a) if l == layout && p.sameResult(plan) => a }
        .getOrElse {
          val v = if (known.isEmpty) name else s"${name}_v${known.size + 1}"
          val a = write(v, canon, layout, build(df), spark)
          versions(key) = known :+ ((layout, plan, a))
          artifactPaths.add(a.path)
          a
        }
      latest(name) = art.path
      art
    }
  }

  private def write(v: String, canon: String, layout: Layout, out: DataFrame,
                    spark: SparkSession): Artifact = layout match {
    case Parquet | SingleFile =>
      val path = oracleStagePath(v, canon)
      (if (layout == SingleFile) out.coalesce(1) else out).write.mode("overwrite").parquet(path)
      Artifact(path, None, out.schema)
    case Bucketed(cols @ _*) =>
      // sanitized path + hash, same injectivity discipline as oracleStagePath
      // (ADVICE r13: the 32-bit hash alone could collide across two corpus
      // dirs and silently serve one corpus's bucketed artifact to the other;
      // the sanitized component disambiguates every realistic collision, the
      // hash covers the residual sanitization-lossy cases)
      val pathKey = canon.toLowerCase.replaceAll("[^a-z0-9_]", "_").dropWhile(_ == '_').takeRight(64)
      val table = f"graft_${v}_${pathKey}_${canon.hashCode & 0x7fffffff}%x"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val path = tempDir(s"graft-stage-$v").resolve(table).toString
      // ONE file per bucket: repartition on the bucket columns uses the
      // same Murmur3 HashPartitioning as bucketBy, so each write task
      // holds exactly one bucket and emits exactly one file. That is the
      // condition under which the scan REPORTS the sortBy order
      // (FileSourceScanExec only trusts per-bucket sort with <= 1 file
      // per bucket) — with it, every keyed sort-merge join over a staged
      // artifact skips BOTH its sorts; without it, each join re-sorted the
      // scan per query (at sf10 the zone-containment join paid ~100M-row
      // external sorts per side, the dominant constant of its last probe
      // decade).
      val buckets = spark.conf.get("spark.sql.shuffle.partitions").toInt
      out.repartition(buckets, cols.map(col): _*)
        .write.mode("overwrite").option("path", path)
        .bucketBy(buckets, cols.head, cols.tail: _*).sortBy(cols.head, cols.tail: _*)
        .format("parquet").saveAsTable(table)
      Artifact(path, Some(table), out.schema)
    case f: Layout.Files =>
      val path = tempDir(s"graft-stage-$v").toString
      f.write(out, path)
      Artifact(path, None, out.schema)
  }

  /** Path of the artifact the last [[stage]] call under `name` built or
    * read ("" before any) — the oracle SQL reads the staged rows the
    * engine just used (Verify runs queries before dumping SQL). */
  def lastPath(name: String): String = versions.synchronized(latest.getOrElse(name, ""))

  /** Whether `plan` is a bare scan of a staged artifact (a file a second
    * read scans as cheaply as a cache would serve it). */
  private[graft] def isArtifactScan(plan: LogicalPlan): Boolean = plan match {
    case SubqueryAlias(_, child) => isArtifactScan(child)
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      val roots = fs.location.rootPaths
      roots.nonEmpty && roots.forall(p => artifactPaths.contains(p.toUri.getPath))
    case _ => false
  }

  /** [[stage]] as plain parquet, read back. */
  def stageOnce(name: String, sfDir: String, derive: => DataFrame,
                spark: SparkSession): DataFrame =
    stage(name, sfDir, Parquet, derive).read(spark)

  /** [[stage]] as a table bucketed on `bucketCol`, read back. */
  def stageOnceBucketed(name: String, sfDir: String, derive: => DataFrame,
                        spark: SparkSession, bucketCol: String): DataFrame =
    stage(name, sfDir, Bucketed(bucketCol), derive).read(spark)
}
