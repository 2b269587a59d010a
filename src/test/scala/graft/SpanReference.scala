package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference span derivations the span kernel's outputs are checked
  * against — written independently of TextOps, so a spec comparing an
  * operator with one of these can fail. */
object SpanReference {

  /** The running-sum window form of token spans (TextOps.tokensOrdered before
    * the kernel): (doc_id, ord, tok, char_start, char_end). Partitioned by a
    * per-row key rather than doc_id: with duplicate doc_ids, a doc_id
    * partition puts two documents' equal ordinals into one window frame and
    * sums their lengths together. */
  def tokensBySum(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("row").orderBy("ord")
    docs.withColumn("row", monotonically_increasing_id())
      .select(col("doc_id"), col("row"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("ord", (col("pos") + 1).cast("long")).drop("pos")
      .withColumn("char_end", sum(length(col("tok")) + 1).over(w).cast("long") - 1)
      .withColumn("char_start", col("char_end") - length(col("tok")))
      .select(col("doc_id"), col("ord"), col("tok"), col("char_start").cast("long"), col("char_end"))
  }
}
