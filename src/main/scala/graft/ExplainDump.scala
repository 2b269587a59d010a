package graft
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val d = "/root/testdata/sf0.01"
    for (q <- args) {
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
