package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, RuntimeReplaceable, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions.{col, posexplode}
import org.apache.spark.sql.types._

/** Custom Catalyst AGGREGATE function: bounded top-k per group.
  *
  * This is the scale replacement for window-function top-k
  * (`row_number().over(partitionBy(g).orderBy(score))` materializes and
  * sorts EVERY row of every group before discarding all but k): a
  * TypedImperativeAggregate carries at most k (score, id[, payload]) entries
  * per group through partial aggregation, so each map task ships ≤ k rows
  * per group into the shuffle and no per-group sort of the full input ever
  * happens. Completes the custom-operator spectrum next to the scalar
  * expression (CosineSimilarity), the optimizer rule and planner strategy
  * (GraftExtensions), and the physical plan (CosineTopKPlan).
  *
  * The score's type picks the lane. A BIGINT score stays a long end to end
  * and is ordered by java.lang.Long.compare, so a composite integer order
  * key (top-k by `(doc_id, sent_id)`) is exact at ANY magnitude, with no
  * 2^53 caveat; the plan names it `top_k_long_agg`. Every other score is a
  * DOUBLE (`top_k_agg`), ordered like Spark's sort and window
  * (SQLOrderingUtil.compareDoubles): NaN greater than every double, and
  * -0.0 tied with 0.0. A DESC heap therefore ranks NaN first and an ASC
  * heap ranks it last, and ties on score go to the smaller id, exactly like
  * `row_number() over (partition by g order by s [ASC|DESC], id ASC)`.
  *
  * Ordering is (score DESC, id ASC) — or (score ASC, id ASC) when `asc`.
  * Both lanes keep the score as 64 bits (a double's raw bits), so the heap,
  * its wire format and the returned values are one code path, and scores
  * come back bit for bit.
  *
  * `payload` carries arbitrary extra columns through the heap as inert
  * cargo (ordering never looks at them), so top-N-per-group queries whose
  * projection needs more than (group, rank, score, id) — e.g. a part NAME
  * next to its price — still get the bounded plan. Entries serialize the
  * payload as an UnsafeRow; with no payload the wire format is the bare
  * (long, long) pair.
  *
  * Returns ARRAY<STRUCT<score: DOUBLE|BIGINT, id: BIGINT[, payload: STRUCT]>>
  * sorted best-first.
  */
case class TopKAgg(
    score: Expression,
    id: Expression,
    k: Int,
    asc: Boolean = false,
    payload: Seq[Expression] = Nil,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[(Long, Long, UnsafeRow)]] {

  // analysis-time contract: update() reads score as Long or Double and id
  // as Long. (AbstractDataType is private[sql] in Spark 4, so
  // ExpectsInputTypes is closed to third parties; the explicit check gives
  // the same analysis-time rejection instead of a mid-task
  // ClassCastException, and [[TopKAgg.perGroup]] coerces compatible inputs.)
  override def checkInputDataTypes(): TypeCheckResult =
    if ((score.dataType == DoubleType || score.dataType == LongType) && id.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (DOUBLE or BIGINT score, BIGINT id), got (${score.dataType}, ${id.dataType})")

  // plan strings ask for prettyName before the score is resolved too
  private def longLane: Boolean = score.resolved && score.dataType == LongType

  private def payloadSchema: StructType =
    StructType(payload.zipWithIndex.map { case (e, i) =>
      StructField(s"p$i", e.dataType, e.nullable)
    })

  @transient private lazy val payloadProj: UnsafeProjection =
    UnsafeProjection.create(payload)

  // `compare(a, b) < 0` iff a ranks BETTER: score per direction in its
  // lane, ties by id ASC. The max-heap head under this ordering is
  // therefore the WORST kept entry — the eviction candidate.
  @transient private lazy val bestFirst: Ordering[(Long, Long, UnsafeRow)] = {
    val lane: (Long, Long) => Int =
      if (longLane) java.lang.Long.compare
      else (a, b) => SQLOrderingUtil.compareDoubles(
        java.lang.Double.longBitsToDouble(a), java.lang.Double.longBitsToDouble(b))
    (a, b) => {
      val c = if (asc) lane(a._1, b._1) else lane(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  override def createAggregationBuffer(): mutable.PriorityQueue[(Long, Long, UnsafeRow)] =
    mutable.PriorityQueue.empty(bestFirst)

  override def update(buffer: mutable.PriorityQueue[(Long, Long, UnsafeRow)],
                      input: InternalRow): mutable.PriorityQueue[(Long, Long, UnsafeRow)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val bits = s match {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case l: Long => l
      }
      // copy: the projection's UnsafeRow is reused across input rows
      val p = if (payload.isEmpty) null else payloadProj(input).copy()
      offer(buffer, (bits, i.asInstanceOf[Long], p))
    }
    buffer
  }

  override def merge(buffer: mutable.PriorityQueue[(Long, Long, UnsafeRow)],
                     other: mutable.PriorityQueue[(Long, Long, UnsafeRow)]): mutable.PriorityQueue[(Long, Long, UnsafeRow)] = {
    other.foreach(offer(buffer, _))
    buffer
  }

  private def offer(buffer: mutable.PriorityQueue[(Long, Long, UnsafeRow)],
                    e: (Long, Long, UnsafeRow)): Unit = {
    if (buffer.size < k) buffer.enqueue(e)
    else if (bestFirst.compare(e, buffer.head) < 0) { buffer.dequeue(); buffer.enqueue(e) }
  }

  override def eval(buffer: mutable.PriorityQueue[(Long, Long, UnsafeRow)]): Any = {
    val best = buffer.toArray.sorted(bestFirst)
    val long = longLane
    new GenericArrayData(best.map { case (bits, i, p) =>
      val s: Any = if (long) bits else java.lang.Double.longBitsToDouble(bits)
      if (payload.isEmpty) InternalRow(s, i) else InternalRow(s, i, p)
    })
  }

  override def serialize(buffer: mutable.PriorityQueue[(Long, Long, UnsafeRow)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    buffer.foreach { case (s, i, p) =>
      out.writeLong(s); out.writeLong(i)
      if (payload.nonEmpty) {
        val bytes = p.getBytes
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Long, Long, UnsafeRow)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach { _ =>
      val s = in.readLong()
      val i = in.readLong()
      val p = if (payload.isEmpty) null else {
        val len = in.readInt()
        val pb = new Array[Byte](len)
        in.readFully(pb)
        val row = new UnsafeRow(payload.length)
        row.pointTo(pb, len)
        row
      }
      buf.enqueue((s, i, p))
    }
    buf
  }

  override def dataType: DataType = {
    val base = new StructType().add("score", score.dataType).add("id", LongType)
    val entry = if (payload.isEmpty) base else base.add("payload", payloadSchema, nullable = false)
    ArrayType(entry, containsNull = false)
  }
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, id) ++ payload
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(score = newChildren(0), id = newChildren(1), payload = newChildren.drop(2))
  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = if (longLane) "top_k_long_agg" else "top_k_agg"
}

/** [[TopKAgg.perGroup]]'s score coercion, decided once the input is resolved: a
  * BIGINT or DOUBLE score passes through, any other becomes
  * `cast(score as double)`. The optimizer swaps in that replacement before
  * planning, so physical plans show the score or its cast, never this node. */
private case class TopKScore(child: Expression) extends RuntimeReplaceable with UnaryLike[Expression] {
  override lazy val replacement: Expression = child.dataType match {
    case LongType | DoubleType => child
    case _ => Cast(child, DoubleType)
  }
  override def checkInputDataTypes(): TypeCheckResult = replacement.checkInputDataTypes()
  override protected def withNewChildInternal(newChild: Expression): TopKScore = copy(child = newChild)
}

object TopKAgg {
  /** keys…, alongside…, rank, id, score, payload… — the k best rows of
    * every group of `df` by `keys`, one row each, `rank` a 1-based BIGINT:
    * the rows of `row_number() over (partition by keys order by score
    * [DESC|ASC], id) <= k`, through the bounded heap. Every ranked cut in
    * the engine goes through here. A BIGINT score takes the exact long
    * lane, any other numeric score the double lane; the id is cast to
    * BIGINT. `payload` names columns of `df` carried with each winning row
    * under their own names; `alongside` are further aggregates of the same
    * grouping, one value per group on each of its rows. The heap skips
    * rows whose score or id is null, where the window ranks a null score
    * last: a caller whose score can be null filters it before the call. */
  def perGroup(df: DataFrame, keys: Seq[String], score: Column, id: Column, k: Int,
               asc: Boolean = false, payload: Seq[String] = Nil,
               alongside: Seq[Column] = Nil): DataFrame = {
    val heap = ColumnBridge.column(
      TopKAgg(TopKScore(ColumnBridge.expression(score)),
        ColumnBridge.expression(id.cast("long")), k, asc,
        payload.map(p => ColumnBridge.expression(col(p))))
        .toAggregateExpression())
    val grouped = df.groupBy(keys.map(col): _*).agg(heap.as("_tk"), alongside: _*)
    val carried = grouped.columns.filter(_ != "_tk").map(col).toSeq
    grouped.select(carried :+ posexplode(col("_tk")).as(Seq("_pos", "_e")): _*)
      .select(carried ++ Seq((col("_pos") + 1).cast("long").as("rank"),
        col("_e.id").as("id"), col("_e.score").as("score")) ++
        payload.zipWithIndex.map { case (p, i) => col(s"_e.payload.p$i").as(p) }: _*)
  }
}
