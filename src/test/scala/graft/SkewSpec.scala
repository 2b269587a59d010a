package graft

import graft.operators.{Dedup, Skew, Conllu}
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns exactly the plain-join result set") {
    val big = (1 to 1000).map(i => (i % 7L, i.toLong)).toDF("k", "v")
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).orderBy("k", "v").collect().toSeq
    val salted = Skew.saltedJoin(big, small, "k", salt = 4).orderBy("k", "v").collect().toSeq
    assert(salted == plain)
  }

  test("keySkewReport surfaces the hottest keys first") {
    val df = ((1 to 100).map(_ => 1L) ++ (1 to 10).map(_ => 2L) :+ 3L).toDF("k")
    val top = Skew.keySkewReport(df, "k", topK = 2).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(top.head.getAs[Long]("n") == 100L)
  }

  test("hashed-id minhash path finds identical docs on all bands (scale path)") {
    val base = "the quick fox jumps over a lazy dog near the old red barn today"
    val docs = Seq((0L, base), (1L, base), (2L, "entirely different other words in this unrelated string right here"))
      .map { case (i, t) => (i, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cands = Dedup.minhashCandidatesFrom(Dedup.shingleSetsHashed(docs)).collect()
    assert(cands.length == 1)
    assert(cands.head.getAs[Long]("shared_bands") == (Dedup.NumHashes / Dedup.RowsPerBand).toLong)
  }

  test("ConceptDict.closure reaches fixpoint on a 4-deep chain with a diamond") {
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"),   // chain a→b→c→d
      ("a", "x"), ("x", "d"))               // diamond a→x→d
    val closure = graft.functions.ConceptDict.closure(edges).toSet
    assert(closure == Set(
      ("a", "b"), ("a", "c"), ("a", "d"), ("a", "x"),
      ("b", "c"), ("b", "d"), ("c", "d"), ("x", "d")))
  }

  test("conll03 export tags dictionary tokens with B-<group>") {
    val docs = Seq((0L, "join table zzz", "en", "s", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val lines = Conllu.conll03(docs).orderBy("tok_id").select("line").as[String].collect()
    assert(lines.toSeq == Seq("join OP O B-OP", "table DS O B-DS", "zzz X O O"))
  }
}
