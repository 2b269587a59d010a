package graft

import graft.functions.TopKAgg
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The bounded-heap top-k aggregate against the window formulation it
  * replaces: per group g, the heap's entries at ranks 1..k are the rows of
  * `row_number() over (partition by g order by s [DESC|ASC], id) <= k`,
  * with the scores returned bit for bit. Inputs span six partitions, so
  * every case runs the heap's serialize, deserialize and merge. */
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

  private def viaHeap(rows: DataFrame, agg: Column, payload: Boolean): Set[(Int, Int, Long, Long, String)] =
    rows.groupBy("g").agg(agg.as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(Seq(col("g"), (col("pos") + 1).as("rk"), col("e.id"), col("e.score")) ++
        (if (payload) Seq(col("e.payload.p0")) else Nil): _*)
      .collect().map(key).toSet

  private def assertParity(rows: DataFrame, asc: Boolean): Unit =
    Seq(1, 3, 7, 1000).foreach { k =>
      val heap = viaHeap(rows, TopKAgg.topK(col("s"), col("id"), k, asc), payload = false)
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
      val heap = viaHeap(rows, TopKAgg.topKWith(col("s"), col("id"), k, col("nm")), payload = true)
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
      assert(rows.groupBy("g").agg(TopKAgg.topK(col("s"), col("id"), 2, asc).as("tk"))
        .select(col("tk")(0)("score")).schema.head.dataType == LongType)
    }
  }

  test("signed zeros tie as in the window's sort, so the id decides between them") {
    val rows = spread(Seq((0, -0.0, 1L), (0, 0.0, 2L), (0, 0.0, 0L), (0, -0.0, 3L))
      .toDF("g", "s", "id"))
    Seq(false, true).foreach { asc =>
      Seq(1, 2, 3).foreach { k =>
        val heap = viaHeap(rows, TopKAgg.topK(col("s"), col("id"), k, asc), payload = false)
        assert(heap == viaWindow(rows, k, asc, payload = false), s"k=$k asc=$asc")
      }
    }
    val kept = viaHeap(rows, TopKAgg.topK(col("s"), col("id"), 2, asc = false), payload = false)
    assert(kept.map(_._3) == Set(0L, 1L))
    assert(rows.groupBy("g").agg(TopKAgg.topK(col("s"), col("id"), 2, asc = false).as("tk"))
      .select(col("tk")(0)("score")).schema.head.dataType == DoubleType)
  }
}
