package graft

import graft.infra.NioLocalFileSystem
import graft.plans.GraftExtensions
import org.apache.spark.sql.SparkSession

/** The one session configuration of the graft engine: every main, every
  * spec and the cold benchmark build their session here.
  *
  * Local runs size the shuffle to the core count; the same builder on a
  * cluster takes executor topology from spark-submit and keeps the
  * engine-level settings (AQE + skew handling on, partition coalescing,
  * graft SQL extensions, nanosecond-timestamp policy).
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available processor. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder(master: String = s"local[$defaultCpus]",
              shufflePartitions: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Legacy testdata layouts carry events.ts as parquet TIMESTAMP(NANOS);
      // with this flag those files load as raw nanosecond longs (which
      // Tables.canonicalizeEventTs normalizes) instead of failing. MICROS
      // layouts ignore it.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // local files get their permission bits through java.nio, not one
      // forked `chmod` per written file and directory
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)

  /** The local session of every main: [[defaultCpus]] cores and shuffle
    * partitions, WARN logging. */
  def local(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
