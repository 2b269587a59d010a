package graft

import graft.operators.Embeddings
import org.apache.spark.sql.functions._

class EmbeddingsSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(vs: Seq[Array[Float]]) =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")

  private def unit(dim: Int, at: Int): Array[Float] = {
    val a = Array.fill(dim)(0.01f); a(at) = 1.0f; a
  }

  test("cosine top-k ranks an identical vector first with cosine 1") {
    val dim = Embeddings.EmbDim
    val vs = vecs(Seq(unit(dim, 0), unit(dim, 0), unit(dim, 5), unit(dim, 9)))
    val top = Embeddings.cosineTopK(vs, numQueries = 1, k = 3).orderBy("rank").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 1L)
    assert(top.head.getAs[Double]("cosine") == 1.0)
  }

  test("lsh buckets are deterministic and identical vectors collide") {
    val dim = Embeddings.EmbDim
    val vs = vecs(Seq(unit(dim, 3), unit(dim, 3), unit(dim, 40)))
    val b = Embeddings.lshBuckets(vs).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(b(0L) == b(1L))
    val b2 = Embeddings.lshBuckets(vs).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(b == b2)
  }

  test("planesFor keeps expected bucket occupancy <= 8 and matches the oracle's shift minimum") {
    // below 8*2^8 vectors (every verify/bench corpus) the count is the
    // historical 8 and outputs are unchanged
    assert(Embeddings.planesFor(0L) == 8)
    assert(Embeddings.planesFor(2048L) == 8)
    assert(Embeddings.planesFor(2049L) == 9)
    assert(Embeddings.planesFor(200000L) == 15)   // the sf10 probe corpus
    assert(Embeddings.planesFor(Long.MaxValue) == Embeddings.MaxPlanes)
    // the defining property: smallest p with 8*2^p >= n
    for (n <- Seq(1L, 100L, 5000L, 123456L, 10000000L)) {
      val p = Embeddings.planesFor(n)
      assert((8L << p) >= n || p == Embeddings.MaxPlanes)
      assert(p == 8 || (8L << (p - 1)) < n)
    }
  }

  test("dupPairs finds the identical pair via shared bucket") {
    val dim = Embeddings.EmbDim
    val vs = vecs(Seq(unit(dim, 3), unit(dim, 3), unit(dim, 40)))
    val pairs = Embeddings.dupPairs(vs, threshold = 0.9).collect()
    assert(pairs.exists(r => r.getAs[Long]("vec_a") == 0L && r.getAs[Long]("vec_b") == 1L))
  }

  test("pq codes are deterministic and identical vectors share codes") {
    val dim = Embeddings.EmbDim
    val vs = vecs(Seq(unit(dim, 3), unit(dim, 3), unit(dim, 40)))
    val c = Embeddings.pqCodes(vs).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("code_key")).toMap
    assert(c(0L) == c(1L))
    assert(c(0L).split("\\|").length == Embeddings.PqM)
    assert(Embeddings.pqCodes(vs).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("code_key")).toMap == c)
  }

  test("pq recall is high when codebooks fit the data (codebook-distributed vectors)") {
    // vectors sampled AT codebook reconstructions + small noise — the
    // trained-k-means regime; recall@5 vs exact L2 must be high here even
    // though uniform random data (distance concentration) scores poorly
    val subDim = Embeddings.EmbDim / Embeddings.PqM
    val cb: Map[(Int, Int, Int), Double] =
      Embeddings.pqCodebook.map { case (s, k, d, w) => (s, k, d) -> w }.toMap
    def reconstruct(seed: Int): Array[Float] =
      Array.tabulate(Embeddings.EmbDim) { dim =>
        val s = dim / subDim; val d = dim % subDim
        val k = (seed * 31 + s * 7) % Embeddings.PqK
        (cb((s, k, d)) + math.sin(seed * 131 + dim) * 0.01).toFloat
      }
    val vs = vecs((0 until 40).map(reconstruct))
    val vd = vs.select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
    val q = vd.where(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("ve").as("qe"))
    val exact = broadcast(q)
      .crossJoin(vd.select(col("vec_id").as("neighbor_id"), col("ve").as("ne")))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(zip_with(col("qe"), col("ne"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("d2"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("d2"), col("neighbor_id"))).cast("long"))
      .where(col("rank") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = Embeddings.pqTopK(vs).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val recalls = exact.keys.toSeq.map(k =>
      (approx.getOrElse(k, Set.empty) & exact(k)).size.toDouble / exact(k).size)
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.8, f"recall@5 = $recall%.2f")
  }

  test("vector_sum aggregate equals element-wise column sums") {
    val df = (1 to 50).map(i => (i % 3, Array.tabulate(8)(d => (i * 13 + d).toDouble)))
      .toDF("g", "v")
    val got = df.groupBy("g").agg(graft.functions.VectorSumAgg.vectorSum(col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toMap
    val want = (1 to 50).groupBy(_ % 3).view.mapValues(is =>
      (0 until 8).map(d => is.map(i => (i * 13 + d).toDouble).sum).toSeq).toMap
    assert(got == want)
  }

  test("k-means refinement does not increase the Lloyd objective") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def objective(cents: Seq[Seq[Double]]): Double = {
      val mat = graft.functions.MatVec.matrixLit(cents)
      emb.select(col("embedding").cast("array<double>").as("ve"))
        .select(aggregate(zip_with(col("ve"),
          // d2 to the assigned (argmin) centroid via the PQ kernel round trip
          transform(sequence(lit(0), lit(Embeddings.EmbDim - 1)),
            i => element_at(mat, element_at(graft.functions.MatVec.pqCodes(
              col("ve"), mat, 1, Embeddings.NumCells), 1) * Embeddings.EmbDim + i + 1)),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x).as("d2"))
        .agg(sum(col("d2"))).head.getDouble(0)
    }
    val init = Embeddings.centroids.grouped(Embeddings.EmbDim).map(_.map(_._3)).toSeq
    val trained = Embeddings.kmeansCentroids(emb, iters = 2)
    assert(objective(trained) <= objective(init) + 1e-6,
      s"training increased the objective: ${objective(init)} -> ${objective(trained)}")
  }

  test("pq ADC ranks an exact duplicate first (its codes are the query's argmin codes)") {
    val dim = Embeddings.EmbDim
    val vs = vecs(Seq(unit(dim, 0), unit(dim, 0), unit(dim, 5), unit(dim, 9)))
    val top = Embeddings.pqTopK(vs, numQueries = 1, k = 3).orderBy("rank").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 1L)
  }

  test("ivf-pq ranks an exact duplicate first (same cell, identical residual codes)") {
    // an exact duplicate lands in the query's own cell with an identical
    // residual, so its codes match the query's residual argmin codes and
    // ADC distance is the per-subspace minimum — rank 1
    val dim = Embeddings.EmbDim
    val vs = vecs(Seq(unit(dim, 0), unit(dim, 0), unit(dim, 5), unit(dim, 9)))
    val top = Embeddings.ivfPqTopK(vs, numQueries = 1, k = 3).orderBy("rank").collect()
    assert(top.nonEmpty && top.head.getAs[Long]("neighbor_id") == 1L)
  }

  test("ivf-pq candidates are cell-bounded (only probed-cell members appear)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Embeddings.ivfPqTopK(emb, numQueries = 4, k = 50, probes = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // with probes=1 every returned neighbor must share the query's top cell
    val cellOf = emb.select(col("vec_id"),
        graft.functions.MatVec.centroidRanks(col("embedding").cast("array<double>"),
          graft.functions.MatVec.matrixLit(
            Embeddings.centroids.grouped(Embeddings.EmbDim).map(_.map(_._3).toSeq).toSeq))(0)
          .as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    for ((q, ns) <- got; n <- ns)
      assert(cellOf(n) == cellOf(q), s"neighbor $n of query $q from unprobed cell")
  }

  test("sq8 reconstruction preserves brute-force rank-1 on the real corpus") {
    // 8-bit per-dim quantization error (~scale/2 per dim) barely perturbs a
    // 64-dim cosine — rank-1 agreement with the exact scan is the cheap,
    // deterministic stand-in for a recall sweep
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rank1(df: org.apache.spark.sql.DataFrame) =
      df.where(org.apache.spark.sql.functions.col("rank") === 1)
        .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val brute = rank1(Embeddings.cosineTopK(emb))
    val sq = rank1(Embeddings.sqTopK(emb))
    val agree = brute.keys.count(q => sq.get(q) == brute.get(q))
    assert(agree >= brute.size - 1, s"rank-1 agreement $agree/${brute.size}")
  }

  test("sq codes: an exact duplicate reconstructs to the query's own quantized vector (rank 1)") {
    val dim = Embeddings.EmbDim
    val vs = vecs(Seq(unit(dim, 3), unit(dim, 3), unit(dim, 7), unit(dim, 11)))
    val top = Embeddings.sqTopK(vs, numQueries = 1, k = 3).orderBy("rank").collect()
    assert(top.head.getAs[Long]("neighbor_id") == 1L)
  }

  test("ivf balance covers every vector once and its imbalance matches the closed form") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val rows = Embeddings.ivfBalance(emb).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == n)
    assert(rows.map(_.getAs[Long]("cell")).distinct.length == rows.length)
    val want = Embeddings.NumCells.toDouble *
      rows.map(r => math.pow(r.getAs[Long]("n_vecs").toDouble / n, 2)).sum
    val got = rows.head.getAs[Double]("imbalance")
    assert(rows.forall(_.getAs[Double]("imbalance") == got)) // one global number
    assert(math.abs(got - want) < 1e-5, s"imbalance $got vs closed-form $want")
    assert(got >= 1.0 - 1e-9 && got <= Embeddings.NumCells + 1e-9)
  }

  test("pq distortion per-vector totals equal the independent ADC self-distance kernel") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val rows = Embeddings.pqDistortion(emb).collect()
    assert(rows.map(_.getAs[Long]("sub")).sorted.toSeq == (0L until Embeddings.PqM.toLong))
    assert(rows.forall(_.getAs[Long]("n_vecs") == n))
    // independent cross-check: mean over vectors of the ADC distance of a
    // vector to its OWN codes (total reconstruction error, separate codegen
    // kernel) must equal the sum over subspaces of the per-sub UNROUNDED
    // mse — compare loosely since pq_distortion rounds per (vec, sub)
    val cb = graft.functions.MatVec.matrixLit(Embeddings.pqCodebookFlat)
    val e = col("embedding").cast("array<double>")
    val adcMean = emb.select(graft.functions.MatVec.pqAdcDistance(
        e, graft.functions.MatVec.pqCodes(e, cb, Embeddings.PqM, Embeddings.PqK), cb).as("d"))
      .agg(avg("d")).head().getDouble(0)
    val mseSum = rows.map(_.getAs[Double]("mse")).sum
    assert(math.abs(adcMean - mseSum) < 1e-4, s"adc mean $adcMean vs mse sum $mseSum")
  }

  test("pq_errs kernel is bit-identical to the HOF transform/aggregate formulation") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = graft.functions.MatVec.matrixLit(Embeddings.pqCodebookFlat)
    val subDim = Embeddings.EmbDim / Embeddings.PqM
    // the exact pre-r15 formulation pq_distortion used: recompute the
    // selected-centroid residual per (vector, subspace) with lambda HOFs,
    // round to 6dp like the kernel's argmin does
    val diff =
      s"""(element_at(ve, s * $subDim + d + 1)
         |   - element_at(cbf, (s * ${Embeddings.PqK} + element_at(codes, s + 1)) * $subDim + d + 1))""".stripMargin
    val hof = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"),
        graft.functions.MatVec.pqCodes(col("embedding").cast("array<double>"), cb,
          Embeddings.PqM, Embeddings.PqK).as("codes"))
      .withColumn("cbf", cb)
      .withColumn("errs", expr(
        s"""transform(sequence(0, ${Embeddings.PqM - 1}), s ->
           |  floor(aggregate(sequence(0, ${subDim - 1}), 0D,
           |    (acc, d) -> acc + $diff * $diff) * 1e6 + 0.5D) / 1e6)""".stripMargin))
      .select(col("vec_id"), col("errs"))
    val kernel = emb.select(col("vec_id"),
      graft.functions.MatVec.pqErrs(col("embedding").cast("array<double>"), cb,
        Embeddings.PqM, Embeddings.PqK).as("errs"))
    val h = hof.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val k = kernel.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(h.keySet == k.keySet && h.nonEmpty)
    for ((id, errs) <- h) assert(errs == k(id), s"vec $id: HOF $errs vs kernel ${k(id)}")
  }

  test("ann recall@k equals the hand-computed truth/ivf intersection per query") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val truth = sets(Embeddings.cosineTopK(emb))
    val approx = sets(Embeddings.ivfTopK(emb))
    val r = Embeddings.annRecallFromTruth(emb, Embeddings.cosineTopK(emb)).collect()
      .map(x => x.getAs[Long]("query_id") ->
        ((x.getAs[Long]("n_hit"), x.getAs[Double]("recall_at_k")))).toMap
    assert(r.keySet == truth.keySet) // zero-hit queries must not vanish
    for ((q, ts) <- truth) {
      val hit = (ts intersect approx.getOrElse(q, Set.empty)).size.toLong
      assert(r(q)._1 == hit, s"query $q: n_hit ${r(q)._1} != $hit")
      assert(math.abs(r(q)._2 - hit / 5.0) < 1e-9)
    }
  }
}
