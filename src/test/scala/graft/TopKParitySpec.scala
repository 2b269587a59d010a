package graft

import graft.functions.TopKAgg
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The bounded-heap top-k entry (TopKAgg.perGroup) against the window
  * formulation it replaces: per group g, its rows at ranks 1..k are the
  * rows of `row_number() over (partition by g order by s [DESC|ASC], id)
  * <= k`, with the scores returned bit for bit. Inputs span six
  * partitions, so every case runs the heap's serialize, deserialize and
  * merge. */
class TopKParitySpec extends SparkSpec {
  import spark.implicits._

  private def spread(df: DataFrame): DataFrame = {
    val r = df.repartition(6)
    assert(r.rdd.getNumPartitions >= 4)
    r
  }

  // (g, rank, id, score bits[, payload]) — bits so -0.0 and 0.0 stay apart
  private def key(r: Row): (Int, Int, Long, Long, String) = {
    val bits = r.get(3) match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case l: Long => l
    }
    (r.getInt(0), r.getInt(1), r.getLong(2), bits, if (r.length > 4) r.getString(4) else "")
  }

  private def viaWindow(rows: DataFrame, k: Int, asc: Boolean, payload: Boolean): Set[(Int, Int, Long, Long, String)] = {
    val order = if (asc) col("s").asc else col("s").desc
    rows.withColumn("rk", row_number().over(Window.partitionBy("g").orderBy(order, col("id"))))
      .where(col("rk") <= k)
      .select(Seq(col("g"), col("rk"), col("id"), col("s")) ++ (if (payload) Seq(col("nm")) else Nil): _*)
      .collect().map(key).toSet
  }

  private def viaHeap(rows: DataFrame, k: Int, asc: Boolean, payload: Boolean): Set[(Int, Int, Long, Long, String)] =
    TopKAgg.perGroup(rows, Seq("g"), col("s"), col("id"), k, asc, if (payload) Seq("nm") else Nil)
      .select(Seq(col("g"), col("rank").cast("int"), col("id"), col("score")) ++
        (if (payload) Seq(col("nm")) else Nil): _*)
      .collect().map(key).toSet

  private def scoreType(rows: DataFrame, asc: Boolean) =
    TopKAgg.perGroup(rows, Seq("g"), col("s"), col("id"), 2, asc).schema("score").dataType

  private def assertParity(rows: DataFrame, asc: Boolean): Unit =
    Seq(1, 3, 7, 1000).foreach { k =>
      val heap = viaHeap(rows, k, asc, payload = false)
      assert(heap == viaWindow(rows, k, asc, payload = false), s"k=$k asc=$asc")
    }

  // scores drawn with repeats from `palette`; ids distinct, shuffled
  private def sample[T](palette: Seq[T], n: Int, groups: Int, seed: Long): Seq[(Int, T, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((0 until n).map(_.toLong * 7 + 3))
    (0 until n).map(i => (i % groups, palette(rnd.nextInt(palette.size)), ids(i)))
  }

  private val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    1.5, 1.5, -2.0, 0.25, 1e300, -1e-300, 3.0)

  test("top-k heap keeps the window's rows in DESC order with NaN, infinities and ties on id") {
    val rows = spread(sample(doubles, 400, 5, 11L).toDF("g", "s", "id")
      .withColumn("nm", concat(lit("name-"), col("id").cast("string"))))
    assertParity(rows, asc = false)
    // payload columns ride through the heap with the winning rows
    Seq(1, 4, 1000).foreach { k =>
      val heap = viaHeap(rows, k, asc = false, payload = true)
      assert(heap == viaWindow(rows, k, asc = false, payload = true), s"payload k=$k")
    }
  }

  test("top-k heap keeps the window's rows in ASC order with NaN, infinities and ties on id") {
    val rows = spread(sample(doubles, 400, 5, 12L).toDF("g", "s", "id"))
    assertParity(rows, asc = true)
  }

  test("BIGINT scores stay exact at 2^60 and at the ends of the long range, both directions") {
    val base = 1L << 60
    val longs = (0L until 4L).map(base + _) ++
      Seq(base - 1, Long.MinValue, Long.MinValue + 1, Long.MaxValue, Long.MaxValue - 1, 0L, -1L)
    val rows = spread(sample(longs, 300, 3, 13L).toDF("g", "s", "id"))
    Seq(false, true).foreach { asc =>
      assertParity(rows, asc)
      assert(scoreType(rows, asc) == LongType)
    }
  }

  test("signed zeros tie as in the window's sort, so the id decides between them") {
    val rows = spread(Seq((0, -0.0, 1L), (0, 0.0, 2L), (0, 0.0, 0L), (0, -0.0, 3L))
      .toDF("g", "s", "id"))
    Seq(false, true).foreach { asc =>
      Seq(1, 2, 3).foreach { k =>
        val heap = viaHeap(rows, k, asc, payload = false)
        assert(heap == viaWindow(rows, k, asc, payload = false), s"k=$k asc=$asc")
      }
    }
    val kept = viaHeap(rows, 2, asc = false, payload = false)
    assert(kept.map(_._3) == Set(0L, 1L))
    assert(scoreType(rows, asc = false) == DoubleType)
  }

  test("the entry equals the window on multi-column keys with a payload, an aggregate alongside and null scores") {
    // BIGINT scores (the exact lane) with repeats and nulls, ids distinct;
    // at k = 1000 a window over all rows would keep the null-score rows
    val rnd = new scala.util.Random(14)
    val longs = Seq(Some(1L << 60), Some(-5L), Some(7L), Some(7L), Some(Long.MinValue), None)
    val rows = spread((0 until 300).map { i =>
      val g2 = if (i % 3 == 0) "a" else "b"
      val s = if (i % 7 == 1 && g2 == "b") None else longs(rnd.nextInt(longs.size))
      (i % 2, g2, s, (i * 13 % 300).toLong, s"name-$i")
    }.toDF("g1", "g2", "s", "id", "nm"))
    val keys = Seq("g1", "g2")
    val sizes = rows.groupBy(keys.map(col): _*).count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    for (asc <- Seq(true, false); k <- Seq(1, 4, 1000)) {
      val heap = TopKAgg.perGroup(rows, keys, col("s"), col("id"), k, asc, payload = Seq("nm"),
          alongside = Seq(count(lit(1)).as("n")))
        .collect().map(r => (r.getAs[Int]("g1"), r.getAs[String]("g2"), r.getAs[Long]("rank"),
          r.getAs[Long]("id"), r.getAs[Long]("score"), r.getAs[String]("nm"), r.getAs[Long]("n"))).toSet
      // the heap skips null scores: the window over the non-null rows
      val order = if (asc) col("s").asc else col("s").desc
      val window = rows.where(col("s").isNotNull)
        .withColumn("rk", row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(order, col("id"))))
        .where(col("rk") <= k)
        .collect().map(r => (r.getAs[Int]("g1"), r.getAs[String]("g2"), r.getAs[Int]("rk").toLong,
          r.getAs[Long]("id"), r.getAs[Long]("s"), r.getAs[String]("nm"),
          sizes((r.getAs[Int]("g1"), r.getAs[String]("g2"))))).toSet
      assert(heap.nonEmpty && heap == window, s"k=$k asc=$asc")
    }
    assert(TopKAgg.perGroup(rows, keys, col("s"), col("id"), 2, asc = true)
      .schema("score").dataType == LongType)
  }
}
