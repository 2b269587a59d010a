package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Schema'd readers for the test corpus (see TESTDATA.md).
  *
  * Mirrors the ingest role of the reference's `PipelineMain` document loaders
  * (reference: src/main/java/edu/cuanschutz/ccp/tm_provider/etl/PipelineMain.java),
  * re-expressed as columnar parquet scans so Catalyst can push filters and
  * prune columns all the way into the scan.
  */
object Tables {

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") canonicalizeEventTs(df) else df
  }

  /** Normalize `events.ts` — whatever precision/type the parquet carries — to
    * ONE canonical representation: epoch-MICROSECOND BIGINT. Every downstream
    * event operator does exact integer math on this column, identical to the
    * DuckDB oracle's `epoch_us(ts)`; no per-site precision arithmetic exists
    * anywhere else. Pure column arithmetic (stays inside whole-stage codegen,
    * never blocks filter pushdown on the other columns).
    *
    * Legacy layouts carry ts as parquet TIMESTAMP(NANOS); GraftSession's
    * nanos-as-long parquet policy loads those as raw nanosecond longs (the
    * LongType branch). Current layouts carry TIMESTAMP(MICROS), which loads
    * as TIMESTAMP or, when the writer marks it naive, TIMESTAMP_NTZ. */
  private[graft] def canonicalizeEventTs(df: DataFrame): DataFrame = {
    val canon: Column = df.schema("ts").dataType match {
      case LongType         => expr("ts div 1000")               // legacy NANOS-as-long
      case TimestampType    => unix_micros(col("ts"))
      case TimestampNTZType =>
        // NTZ -> TZ cast applies the session time zone; GraftSession pins it
        // to UTC, so the wall-clock value IS the instant and this matches
        // DuckDB's epoch_us on the same naive column.
        unix_micros(col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet-loaded type $other")
    }
    df.withColumn("ts", canon)
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
}
