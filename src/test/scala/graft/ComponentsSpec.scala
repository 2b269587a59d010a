package graft

import graft.operators.Dedup

/** Connected-components invariants beyond what the oracle's near-dup blobs
  * exercise: chains (multi-round convergence), disjoint components, and
  * agreement with a union-find reference on mixed and random graphs. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a chain collapses to its minimum over multiple rounds") {
    // 9-8, 8-7, ..., 1-0: diameter 9 forces several rounds
    val got = components((1L to 9L).map(i => (i - 1, i)))
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("a 30-node path gets a single label") {
    // longer than a 20-round cap on per-round label propagation can reach
    val got = components((1L until 30L).map(i => (i - 1, i)))
    assert(got == (0L until 30L).map(_ -> 0L).toMap)
  }

  test("disjoint components keep distinct minimum labels") {
    val got = components(Seq((5L, 3L), (3L, 9L), (20L, 21L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("large-star/small-star labels a 1000-node path graph in O(log n) rounds") {
    val pairs = (1L until 1000L).map(i => (i - 1, i)).toDF("doc_a", "doc_b")
    val (labeled, rounds) = Dedup.starComponents(pairs)
    val got = labeled.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 1000L).map(_ -> 0L).toMap)
    assert(rounds <= 15, s"took $rounds rounds on a 1000-node path")
  }

  test("components agree with a union-find reference on mixed and random graphs") {
    val mixed = Seq((5L, 3L), (3L, 9L), (20L, 21L), (21L, 22L), (22L, 23L),
      (40L, 41L), (41L, 40L), (7L, 9L), (50L, 50L))
    val rnd = new scala.util.Random(1301)
    val random = Seq.fill(120)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
    for (pairs <- Seq(mixed, random))
      assert(components(pairs) == ComponentsSpec.unionFind(pairs))
  }

  test("connected components are null-safe on an empty pair list") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }
}

object ComponentsSpec {
  /** Reference labels: union-find with path halving over every pair, each
    * node labeled with the smallest member of its set. */
  def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var n = parent.getOrElseUpdate(x, x)
      while (parent(n) != n) {
        parent(n) = parent(parent(n))
        n = parent(n)
      }
      n
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(n => n -> find(n)).toMap
  }
}
