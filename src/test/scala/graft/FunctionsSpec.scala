package graft

import graft.functions.CosineSimilarity.cosineSim
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim matches hand-computed cosine and the HOF formulation") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val native = df.select(cosineSim(col("a"), col("b"))).as[Double].head()
    val expected = (4.0 + 10.0 + 18.0) / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(native - expected) < 1e-12)
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x) /
        (sqrt(aggregate(zip_with(col("a"), col("a"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)) *
          sqrt(aggregate(zip_with(col("b"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x))))
      .as[Double].head()
    assert(math.abs(native - hof) < 1e-12)
  }

  test("cosine_sim is null-safe on mismatched lengths and zero vectors") {
    val df = Seq(
      (Array(1.0, 2.0), Array(1.0, 2.0, 3.0)),
      (Array(0.0, 0.0), Array(1.0, 2.0)))
      .toDF("a", "b")
    val r = df.select(cosineSim(col("a"), col("b")).as("c")).collect()
    assert(r.forall(_.isNullAt(0)))
  }

  test("cosine_sim of identical vectors is exactly 1.0 in codegen path") {
    val df = (1 to 100).map(i => (Array.tabulate(16)(j => (i * j + 1).toDouble), Array.tabulate(16)(j => (i * j + 1).toDouble)))
      .toDF("a", "b")
    val r = df.select(cosineSim(col("a"), col("b")).as("c")).as[Double].collect()
    assert(r.forall(v => math.abs(v - 1.0) < 1e-12))
  }

  test("hyperplane_bucket sets exactly the positive-projection bits") {
    import graft.functions.MatVec
    // planes: [1,0] and [-1,1] over 2-dim vectors
    val m = MatVec.matrixLit(Seq(Seq(1.0, 0.0), Seq(-1.0, 1.0)))
    val df = Seq(
      (1L, Array(2.0, 5.0)),   // dots: 2>0, 3>0  -> 0b11 = 3
      (2L, Array(3.0, 1.0)),   // dots: 3>0, -2<0 -> 0b01 = 1
      (3L, Array(-1.0, -2.0))) // dots: -1<0, -1<0 -> 0
      .toDF("vec_id", "e")
    val r = df.select(col("vec_id"), MatVec.hyperplaneBucket(col("e"), m).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 3L, 2L -> 1L, 3L -> 0L))
  }

  test("centroid_ranks argsorts cells by rounded cosine desc with id tie-break") {
    import graft.functions.MatVec
    // cells 0/1/2 point at +x, +y, and +x again (tie with cell 0)
    val m = MatVec.matrixLit(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(2.0, 0.0)))
    val df = Seq((1L, Array(1.0, 0.1))).toDF("vec_id", "e")
    val r = df.select(MatVec.centroidRanks(col("e"), m).as("ranks"))
      .as[Seq[Int]].head()
    // cos with cells 0 and 2 equal (~0.995), tie-break by id; cell 1 last
    assert(r == Seq(0, 2, 1))
  }

  test("matvec kernels agree between interpreted eval and codegen over random data") {
    import graft.functions.MatVec
    import graft.operators.Embeddings
    val planes = MatVec.matrixLit(
      Embeddings.hyperplanes.grouped(Embeddings.EmbDim).map(_.map(_._3)).toSeq)
    val df = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(Embeddings.EmbDim)(d => math.sin(i * 31 + d * 7).toDouble))
    }.toDF("vec_id", "e")
    val viaExpr = df.select(col("vec_id"), MatVec.hyperplaneBucket(col("e"), planes).as("b"))
      .as[(Long, Long)].collect().toMap
    // independent reference: per-plane HOF dot product, interpreted
    val hofBucket = Embeddings.hyperplanes.grouped(Embeddings.EmbDim).zipWithIndex.map {
      case (row, p) =>
        val dot = aggregate(zip_with(col("e"),
          lit(row.map(_._3).toArray), (x, y) => x * y), lit(0.0), (a, x) => a + x)
        when(dot > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
    val viaHof = df.select(col("vec_id"), hofBucket.as("b")).as[(Long, Long)].collect().toMap
    assert(viaExpr == viaHof)
  }

  test("ontology label map covers the full class universe with _null for unlabeled") {
    import graft.functions.ConceptDict
    val m = ConceptDict.labelMapDF(spark).as[(String, String)].collect().toMap
    // every dictionary class labels with its token; every hierarchy-only
    // class (roots, mid-levels, promotion targets) emits the _null marker
    assert(m("OP:join") == "join" && m("DS:table") == "table")
    for (c <- Seq("OP:ROOT", "OP:JOINLIKE", "ENT:engine", "SZ:large"))
      assert(m(c) == "_null", s"$c should be unlabeled")
    val universe = (ConceptDict.entries.map(_._2) ++
      ConceptDict.ancestors.flatMap(e => Seq(e._1, e._2)) ++
      ConceptDict.promotions.flatMap(e => Seq(e._1, e._2))).toSet
    assert(m.keySet == universe)
  }

  test("ancestors are the closure rows of dictionary concepts") {
    import graft.functions.ConceptDict
    // the ancestor map as it was declared by hand before it was derived
    // from the direct edges
    val declared = ConceptDict.entries.map { case (_, c) => (c, c.takeWhile(_ != ':') + ":ROOT") } ++
      Seq("OP:join" -> "OP:JOINLIKE", "OP:merge" -> "OP:JOINLIKE")
    assert(ConceptDict.ancestors.size == declared.size)
    assert(ConceptDict.ancestors.toSet == declared.toSet)
  }

  test("label map strips exactly one trailing quote (reference rule)") {
    import spark.implicits._
    // the rule lives in the DF derivation; exercise it on raw rows directly
    val out = Seq(("X:a", "plain"), ("X:b", "quoted\""), ("X:c", "double\"\""))
      .toDF("concept_id", "raw_label")
      .select(col("concept_id"), regexp_replace(col("raw_label"), "\"$", "").as("label"))
      .as[(String, String)].collect().toMap
    assert(out == Map("X:a" -> "plain", "X:b" -> "quoted", "X:c" -> "double\""))
  }

  test("mulMod equals the direct multiplicative hash on small ids and survives 10-digit ids") {
    // congruence identity: ((id mod m)*(k mod m)) mod m == (id*k) mod m —
    // the overflow-free form must agree exactly with the direct form
    // wherever the direct form is computable (the oracle twins keep the
    // direct form at the sf0.01 gate scale)
    val k = 2654435761L
    val small = Seq(0L, 1L, 7L, 999L, 60000L, 1234567L).toDF("id")
    val both = small.select(
      graft.functions.Num.mulMod(col("id"), k, 1000L).as("safe"),
      pmod(col("id") * k, lit(1000L)).as("direct")).collect()
    assert(both.forall(r => r.getLong(0) == r.getLong(1)))
    // 10-digit ids (ScaleUp replica offsets; the norm at 100 TB): the
    // direct form throws ANSI ARITHMETIC_OVERFLOW, mulMod must not — and
    // the bucket must still equal the number-theoretic value
    val big = Seq(9000000001L, 9999999999L).toDF("id")
    val safe = big.select(col("id"),
      graft.functions.Num.mulMod(col("id"), k, 1000L).as("b")).collect()
    safe.foreach { r =>
      val expect = ((r.getLong(0) % 1000L) * (k % 1000L)) % 1000L
      assert(r.getLong(1) == expect)
    }
    intercept[Exception] {
      big.select(pmod(col("id") * k, lit(1000L))).collect()
    }
  }
}
