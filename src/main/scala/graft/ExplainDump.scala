package graft
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val d = "/root/testdata/sf0.01"
    // the corpus: SPARK_GRAFT_SF_DIR as in Bench, else the sf0.01 test corpus
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", d)
    for (q <- args) {
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
