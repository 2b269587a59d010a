package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel: one left-to-right pass over a single-space-separated text,
  * yielding consecutive windows of `w` tokens as (idx, span, char_start,
  * char_end, n_tokens) rows. Tokens are exactly `split(text, " ")`'s
  * elements (empty ones included, so a text with k spaces has k + 1
  * tokens); the last window holds the remainder. Offsets count code points,
  * as Spark's `length`/`substring` do, and `span` is the text between them.
  * Every byte is read once, so a document's cost is linear in its length. */
object TokenWindowsKernel {
  private val Space: Byte = ' '.toByte

  def windows(text: UTF8String, w: Int): Iterator[InternalRow] =
    if (text == null) Iterator.empty else new Iterator[InternalRow] {
      private val base = text.getBaseObject
      private val off = text.getBaseOffset
      private val nb = text.numBytes
      private var p = 0        // byte offset of the next window's first token
      private var cp = 0L      // code-point offset of the same position
      private var idx = 0L
      private var done = false

      override def hasNext: Boolean = !done

      override def next(): InternalRow = {
        if (done) throw new NoSuchElementException("no more token windows")
        val startB = p
        val startCp = cp
        var k = 0L
        var endB = -1
        var endCp = 0L
        while (endB < 0) {
          if (p == nb) {
            k += 1; endB = p; endCp = cp; done = true
          } else if (Platform.getByte(base, off + p) == Space) {
            k += 1
            if (k == w) { endB = p; endCp = cp }
            p += 1; cp += 1
          } else {
            // a UTF-8 continuation byte (10xxxxxx) does not start a code point
            if ((Platform.getByte(base, off + p) & 0xC0) != 0x80) cp += 1
            p += 1
          }
        }
        val row = new GenericInternalRow(Array[Any](
          idx, text.copyUTF8String(startB, endB - 1), startCp, endCp, k))
        idx += 1
        row
      }
    }
}

/** Generator: (idx, span, char_start, char_end, n_tokens) for every window
  * of `window` consecutive tokens of a single-space-separated text, idx
  * 0-based; a null text yields no rows. Code-generated as one static call
  * per row (the [[NormalizeText]] pattern), so the Generate stays inside
  * whole-stage codegen. */
case class TokenWindows(child: Expression, window: Int) extends UnaryExpression with Generator {
  require(window >= 1, s"token_windows needs window >= 1, got $window")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_windows expects STRING, got $other")
  }
  override def elementSchema: StructType = StructType(Seq(
    StructField("idx", LongType, nullable = false),
    StructField("span", StringType, nullable = false),
    StructField("char_start", LongType, nullable = false),
    StructField("char_end", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "token_windows"

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    TokenWindowsKernel.windows(child.eval(input).asInstanceOf[UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = child.genCode(ctx)
    ev.copy(code = code"""
      |${t.code}
      |scala.collection.Iterator<InternalRow> ${ev.value} =
      |  graft.functions.TokenWindowsKernel.windows(${t.isNull} ? null : ${t.value}, $window);
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenWindows =
    copy(child = newChild)
}

object TokenWindows {
  /** The generator as a Column; its output columns are named by
    * [[TokenWindows.elementSchema]]. */
  def tokenWindows(text: Column, window: Int): Column =
    ColumnBridge.column(TokenWindows(ColumnBridge.expression(text), window))
}
