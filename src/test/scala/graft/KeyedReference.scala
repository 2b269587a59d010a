package graft

import graft.functions.ConceptDict
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The cold chain's keyed decisions in their earlier forms — a containment
  * anti-join, a union with an expanded copy, and aggregates joined back onto
  * their own key — which the one-shuffle forms in Concepts and Dedup are
  * checked against. Written independently of those operators, so a spec
  * comparing the two can fail. */
object KeyedReference {

  /** Span dedup, then a doc-keyed anti-join against every strictly longer
    * containing span. */
  def postProcess(annots: DataFrame): DataFrame = {
    val deduped = annots.dropDuplicates("doc_id", "concept_id", "char_start", "char_end")
    val covering = deduped.select(col("doc_id").as("c_doc_id"),
      col("char_start").as("c_start"), col("char_end").as("c_end"))
    deduped.join(covering,
      col("doc_id") === col("c_doc_id") &&
        col("c_start") <= col("char_start") && col("char_end") <= col("c_end") &&
        (col("c_end") - col("c_start")) > (col("char_end") - col("char_start")),
      "left_anti")
  }

  /** The unit sets unioned with their (concept → ancestor) join, distinct. */
  def withAncestors(unitConcepts: DataFrame, unitCols: Seq[String]): DataFrame = {
    val anc = broadcast(ConceptDict.ancestorsDF(unitConcepts.sparkSession))
    val base = unitConcepts.select(unitCols.map(col) :+ col("concept_id"): _*)
    val expanded = base.join(anc, "concept_id")
      .select(unitCols.map(col) :+ col("ancestor_id").as("concept_id"): _*)
    base.unionByName(expanded).distinct()
  }

  /** Canonical min per content hash, joined back on the hash. */
  def exact(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val canon = hashed.groupBy("h").agg(min("doc_id").as("canonical_id"))
    hashed.join(canon, "h")
      .select(col("doc_id"), col("canonical_id"), (col("doc_id") =!= col("canonical_id")).as("is_dup"))
  }

  /** Group min and size per normalized key, joined back on the key. */
  def normalized(docs: DataFrame): DataFrame = {
    val keyed = docs.select(col("doc_id"),
      array_join(array_sort(filter(split(col("text"), " "), t => t =!= "dup")), " ").as("norm_key"))
    val groups = keyed.groupBy("norm_key")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("group_size"))
      .where(col("group_size") > 1)
    keyed.join(groups, "norm_key")
      .select(col("doc_id"), col("canonical_id"), col("group_size"))
  }

  /** Per-cluster argmax over (quality, lowest doc_id), joined back on the
    * cluster id. */
  def clusterKeepBestFrom(docs: DataFrame, cl: DataFrame): DataFrame = {
    val q = graft.operators.TextStats.quality(docs).select(col("doc_id"), col("quality"))
    val joined = cl.join(q, "doc_id")
    val canon = joined.groupBy("cluster_id")
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("c"))
      .select(col("cluster_id"), (-col("c.nid")).as("keep_doc"))
    joined.join(canon, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        (col("doc_id") === col("keep_doc")).as("keep"))
  }

  /** Intra-document window dedup with the per-window first-index test:
    * window i is kept iff array_position(ws, ws[i]) == i. */
  def intraDocDedup(docs: DataFrame): DataFrame = {
    val sw = graft.operators.TextOps.SentWindow
    docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        transform(sequence(lit(0), expr(s"CAST((size(tk) - 1) DIV $sw AS INT)")), s =>
          array_join(slice(col("tk"), s * sw + 1, lit(sw)), " ")).as("ws"))
      .select(col("doc_id"),
        filter(col("ws"), (x, i) => array_position(col("ws"), x) === (i + 1).cast("long")).as("kept"),
        size(col("ws")).as("n_windows"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        size(col("kept")).cast("long").as("n_kept"),
        (col("n_windows") - size(col("kept"))).cast("long").as("n_removed"))
  }
}
