package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes an N× scaled copy of a testdata dir for the SCALE PROBE
  * (VERDICT r12 item 7: run the full driver-protocol bench one scale step
  * above the pinned sf0.1 to surface any query whose constant-factor
  * overheads were hiding a knee). Bench-only — the correctness gate stays
  * on the driver's own sf dirs; nothing here feeds an oracle.
  *
  * Replication is key-offset ( += replica * 1e9 on every BIGINT key, FKs
  * shifted together so join cardinalities scale exactly linearly), with two
  * deliberate departures from naive copying:
  *  - `documents`: replica texts are REMIXED (first half of doc i's words +
  *    second half of a shifted partner's words, partner = (i + 1009·r) mod
  *    N), because exact triplicates would turn every near-dup family's
  *    band buckets into replica-squared pair generators and corrupt the
  *    linearity read — a real 3× corpus has borderline similarity, not
  *    3-way exact clones of every doc. n_chars is recomputed.
  *  - `embeddings`: replica vectors are ROTATED by r positions (norms and
  *    coordinate distribution preserved, vectors distinct), for the same
  *    reason on the cosine families.
  * Dimension roots (`region`, `nation`) stay constant, as in TPC-H itself.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> <replicas>
  * e.g.    runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/graft-scale/sf0.3 3
  */
object ScaleUp {

  val Off = 1000000000L

  def main(args: Array[String]): Unit = {
    val Array(src, dst, repStr) = args.take(3)
    val reps = repStr.toInt
    // optional 4th+ args: restrict to the named tables (re-generate one
    // table after a partial run without rewriting the rest)
    val only = args.drop(3).toSet
    val spark = GraftSession.local()

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // single-FILE parquet per table, exactly the testdata layout — the
    // streaming queries stage `<dir>/events.parquet` with Files.copy, which
    // only works on a plain file (a Spark output DIRECTORY broke the five
    // streaming queries on the first sf0.3 probe)
    def wr(df: => DataFrame, t: String): Unit = {
      if (only.nonEmpty && !only(t)) return
      import java.nio.file.{Files, Paths, StandardCopyOption}
      val staging = s"$dst/.stage_$t"
      df.coalesce(1).write.mode("overwrite").parquet(staging)
      // Files.list holds an fd until closed (ADVICE r13: ten unclosed
      // streams per run); close it and fail loudly if no part file exists
      // rather than NPE-ing on the move below
      val listing = Files.list(Paths.get(staging))
      val single =
        try {
          val it = listing.iterator()
          var found: java.nio.file.Path = null
          while (it.hasNext) { val p = it.next(); if (p.toString.endsWith(".parquet")) found = p }
          found
        } finally listing.close()
      require(single != null, s"no .parquet part file under $staging for table $t")
      Files.createDirectories(Paths.get(dst))
      Files.move(single, Paths.get(s"$dst/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val w = Files.walk(Paths.get(staging))
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.deleteIfExists(p))
      finally w.close()
    }

    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame =
      (0 until reps).map { r =>
        keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(r * Off)))
      }.reduce(_ unionByName _)

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(replicate(rd("customer"), Seq("c_custkey")), "customer")
    wr(replicate(rd("supplier"), Seq("s_suppkey")), "supplier")
    wr(replicate(rd("part"), Seq("p_partkey")), "part")
    wr(replicate(rd("orders"), Seq("o_orderkey", "o_custkey")), "orders")
    wr(replicate(rd("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    wr(replicate(rd("events"), Seq("event_id", "user_id")), "events")

    // documents: replica 0 verbatim; replicas r>0 remix halves with a
    // shifted partner (both sides scanned from the same file — one join).
    // The count() is eager, so skip the whole section under a table filter
    // that excludes documents.
    if (only.isEmpty || only("documents")) {
    val docs = rd("documents")
    val n = docs.count()
    val remixed = (1 until reps).map { r =>
      // partner shift: 1009*r mod n, bumped to 1 when n divides 1009*r —
      // a zero shift pairs every doc with ITSELF and the replica becomes
      // an exact clone of the base corpus, the degenerate case the remix
      // exists to avoid (ADVICE r13)
      val shift = { val s = (1009L * r) % n; if (s == 0L) 1L else s }
      val left = docs.select(col("doc_id"), col("lang"), col("source"),
        expr("slice(split(text, ' '), 1, greatest(1, size(split(text, ' ')) div 2))").as("w1"))
      val right = docs.select(
        pmod(col("doc_id") + lit(shift), lit(n)).as("doc_id"),
        expr("slice(split(text, ' '), size(split(text, ' ')) div 2 + 1, size(split(text, ' ')))").as("w2"))
      left.join(right, "doc_id")
        .select((col("doc_id") + lit(r * Off)).as("doc_id"),
          array_join(concat(col("w1"), col("w2")), " ").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }
    wr(remixed.foldLeft(docs.select("doc_id", "text", "lang", "source", "n_chars"))(_ unionByName _),
      "documents")
    }

    // embeddings: replica r rotates the vector r positions. The rotation
    // is r MOD the vector length: the unreduced form's slice bounds go
    // negative once r >= dim (the first 100-replica probe failed exactly
    // there — ANSI slice rejects a negative length; 30-replica runs never
    // reached r = 64). A zero rotation (r a multiple of dim) clones the
    // base vectors under offset ids — legitimate true near-dups, like the
    // documents remix's shifted partners.
    val emb = rd("embeddings")
    val embAll = (0 until reps).map { r =>
      if (r == 0) emb
      else emb.select((col("vec_id") + lit(r * Off)).as("vec_id"),
        expr(s"concat(slice(embedding, ($r % size(embedding)) + 1, " +
            s"size(embedding) - ($r % size(embedding))), " +
            s"slice(embedding, 1, $r % size(embedding)))")
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    wr(embAll, "embeddings")

    println(s"[scaleup] wrote ${reps}x of $src to $dst")
    spark.stop()
  }
}
