package graft

/** Engine-level session wiring: the GraftExtensions installed by GraftSession. */
class ExtensionsSpec extends SparkSpec {

  test("cosine_sim is callable from SQL via GraftExtensions") {
    import spark.implicits._
    Seq((Array(1.0, 0.0), Array(0.0, 1.0)), (Array(1.0, 1.0), Array(1.0, 1.0)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT round(cosine_sim(a, b), 6) AS c FROM vecs ORDER BY c").as[Double].collect()
    assert(r.toSeq == Seq(0.0, 1.0))
  }

  test("FoldSelfCosine folds cosine_sim(x, x) to a literal for non-null x") {
    import spark.implicits._
    val df = Seq(Array(3.0, 4.0)).toDF("a")
      .selectExpr("coalesce(a, array(1.0d)) AS nn")   // provably non-null
      .selectExpr("cosine_sim(nn, nn) AS c")
    // after the fold, constant folding collapses the whole plan — no
    // cosinesimilarity survives into the optimized plan
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.toLowerCase.contains("cosinesimilarity"))
    assert(df.as[Double].head() == 1.0)
  }

  test("GraftSession applies AQE + nanos policy") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
