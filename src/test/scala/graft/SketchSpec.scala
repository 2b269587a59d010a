package graft

import graft.operators.Relational
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Sketch-based scale alternates verified against their exact duals on the
  * real events table. These stay spec-only by design: sketch internals
  * aren't reproducible across engines, so the contract is an error bound,
  * not a byte-identical oracle hash. */
class SketchSpec extends SparkSpec {

  private lazy val events =
    Tables.events(spark, "/root/testdata/sf0.001")

  test("approx quantiles track the exact sort-based quantiles") {
    val exact = Relational.eventsQuantiles(events).collect()
      .map(r => r.getAs[String]("event_type") -> (r.getAs[Double]("p50"), r.getAs[Double]("p90"))).toMap
    val approx = Relational.eventsQuantilesApprox(events).collect()
    assert(approx.nonEmpty)
    for (r <- approx) {
      val (p50, p90) = exact(r.getAs[String]("event_type"))
      // percentile_approx at accuracy 10000 on a few thousand rows is
      // near-exact; allow a loose 5% relative band
      assert(math.abs(r.getAs[Double]("p50") - p50) <= math.abs(p50) * 0.05 + 1e-6)
      assert(math.abs(r.getAs[Double]("p90") - p90) <= math.abs(p90) * 0.05 + 1e-6)
    }
  }

  test("HLL distinct user counts are within the configured relative error") {
    val exact = events.groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("n")).toMap
    val approx = Relational.distinctUsersApprox(events).collect()
    assert(approx.nonEmpty)
    for (r <- approx) {
      val n = exact(r.getAs[String]("event_type")).toDouble
      assert(math.abs(r.getAs[Long]("n_users_approx") - n) <= n * 0.10 + 1)
    }
  }
}
