package graft

/** Streaming-family floor telemetry (VERDICT r13 item 8).
  *
  * Seven of the r13 suite's slowest 20 are streaming queries whose cost is
  * the micro-batch SCHEDULING floor, not per-batch work — by design
  * (documented since r7). That makes wall-clock regressions in the family
  * ambiguous: plan drift (per-batch work grew) and floor drift (batch
  * count / scheduler pauses moved) read identically in BENCH. This main
  * separates them: each streaming query runs once cold + once timed with
  * graft.streaming.StreamTelemetry on, and the JSON row reports per query
  *  - wall_s      — timed wall-clock of the warm run,
  *  - n_batches   — micro-batches the engine executed,
  *  - work_s      — Σ triggerExecution over those batches (the engine's own
  *                  measure of per-batch work),
  *  - floor_s     — wall_s − work_s (driver-side scheduling + sink reads +
  *                  plan/session setup: everything that is NOT batch work).
  * A future flag on a streaming query is adjudicated by which column moved:
  * work_s tracks the plan, floor_s tracks the harness/machine. BASELINE.md
  * records the r14 reference values.
  */
object StreamBench {

  private val Queries: Seq[String] = Seq(
    "streaming_hourly", "streaming_dedup", "streaming_sessions",
    "streaming_join", "streaming_concepts", "streaming_cooccur",
    "streaming_upsert", "streaming_upsert_delete", "streaming_funnel",
    "streaming_quality", "streaming_neardup", "streaming_cms",
    "streaming_split_leakage")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    import Bench.quiesce

    graft.streaming.StreamTelemetry.enabled = true
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val rows = Queries.map { name =>
      val fn = SparkEntry.queries(name)
      graft.streaming.StreamTelemetry.label = name
      fn(spark, sfDir).count() // cold: stages inputs, warms codegen
      graft.streaming.StreamTelemetry.drain()
      graft.infra.Caches.unpersistManaged()
      quiesce()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val batches = graft.streaming.StreamTelemetry.drain()
      graft.infra.Caches.unpersistManaged()
      quiesce()
      val work = batches.map(_.triggerMs).sum / 1e3
      s""""$name":{"wall_s":${f3(wall)},"n_batches":${batches.size},"work_s":${f3(work)},"floor_s":${f3(wall - work)}}"""
    }
    println(s"""{"metric":"stream_floor","sf":"$sfDir","queries":{${rows.mkString(",")}}}""")
    spark.stop()
  }
}
