package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Stage-level timing evidence for queries whose driver-bench numbers
  * diverged from local runs (VERDICT r6 asked for per-stage metrics, not
  * another local-vs-driver variance note). Runs each named query under the
  * Bench min-of-2 protocol, then walks the executed plan and prints every
  * node's Spark metrics (scan time, shuffle bytes/records, agg/sort/build
  * times). Output: markdown table fragments consumed by PERF_AUDIT_r7.md.
  */
object PerfAudit {

  private val DefaultQueries = Seq(
    "brat_import", "conllu_tokens", "ner_bert_import", "minhash_est", "window_dup")

  /** Flatten an executed plan, descending into AQE and query-stage wrappers. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: flatten(a.executedPlan)
    case q: QueryStageExec        => p +: flatten(q.plan)
    case _                        => p +: p.children.flatMap(flatten)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    val names = if (args.nonEmpty) args.toSeq else DefaultQueries
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val (cold, warm) = Bench.coldThenWarm(fn(spark, sfDir).count())
      // metrics pass: count() plans its OWN QueryExecution, so execute this
      // dataset's executed plan directly and read the metrics off that tree
      val qe = fn(spark, sfDir).queryExecution
      qe.executedPlan.execute().count()
      println(f"%n### $name — cold ${cold}%.2f s, warm(min-of-2) ${warm}%.3f s%n")
      println("| node | metrics |")
      println("|---|---|")
      for (node <- flatten(qe.executedPlan)) {
        val interesting = node.metrics.toSeq
          .filter { case (k, m) =>
            m.value > 0 && (k.contains("Time") || k.contains("time") ||
              k.contains("Bytes") || k.contains("bytes") ||
              k == "numOutputRows" || k.contains("spill") || k.contains("Spill"))
          }
          .sortBy(_._1)
          .map { case (k, m) =>
            val v = if (m.metricType == "timing" || m.metricType == "nsTiming") {
              val ms = if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble
              f"$ms%.0f ms"
            } else if (k.toLowerCase.contains("bytes")) f"${m.value / 1048576.0}%.1f MiB"
            else m.value.toString
            s"$k=$v"
          }
        if (interesting.nonEmpty)
          println(s"| ${node.nodeName} | ${interesting.mkString(", ")} |")
      }
    }
    spark.stop()
  }
}
