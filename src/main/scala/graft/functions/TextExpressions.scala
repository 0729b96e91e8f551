package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native polynomial string hash: `fold(codePoints, 0, (acc, cp) =>
  * (acc*31 + cp) % 1000000007)`.
  *
  * Same value as the composable form in [[graft.llm.TextHash.polyHashFold]]
  * (`aggregate(transform(filter(split(s, "")...)))`), but that chain is
  * four interpreted array passes plus an allocation per string, and
  * every higher-order function is CodegenFallback. The hash is the inner
  * loop of the whole dedup family (one evaluation per shingle/token —
  * billions at corpus scale), so it gets the same treatment as
  * [[DotProduct]]: a fused primitive loop with `doGenCode`, keeping the
  * surrounding operator inside whole-stage codegen.
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a STRING input, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String].toString)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PolyHash.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyHash {
  final val Prime: Long = 1000000007L

  /** Shared by interpreted eval and generated code. */
  def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % Prime
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Native distinct token-n-gram shingles: one imperative pass over the
  * token array producing `array_distinct(Shingles.shingles(toks, n))`
  * exactly — space-joined windows of n tokens (null tokens skipped by
  * `concatWs`, matching `array_join`'s null handling), de-duplicated in
  * first-occurrence order, empty array below n tokens or for a null
  * token array.
  *
  * Why (optimization round 18, guide per-task work / §4.1): the
  * composable form is `transform(sequence(...), i → array_join(slice(
  * toks, i, n), " "))` + `array_distinct` — every higher-order function
  * is CodegenFallback (interpreted), `slice` allocates an n-element
  * array per shingle and `sequence` a position array per document, and
  * the whole chain re-executes once per plan consumer in the dedup
  * family. This expression is one loop with a LinkedHashSet, emitting
  * shingles via `UTF8String.concatWs` with zero intermediate arrays —
  * the same treatment [[PolyHash]] got for the hash itself.
  * Value-identical by construction; pinned against the composable form
  * in ShingleArraySpec (random unicode/whitespace documents, null text).
  */
case class ShingleArray(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle width n=$n must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_array"

  override def eval(input: InternalRow): Any =
    ShingleArray.shingle(
      child.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
      |  graft.functions.ShingleArray.shingle(${c.isNull} ? null : ${c.value}, $n);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleArray {
  private val Space = UTF8String.fromString(" ")

  /** Shared by interpreted eval and generated code. A null token array
    * gives an empty array, like the composable form's `otherwise`. */
  def shingle(
      toks: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val len = if (toks == null) 0 else toks.numElements()
    if (len < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val all = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      all(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val window = new Array[UTF8String](n)
    i = 0
    while (i <= len - n) {
      System.arraycopy(all, i, window, 0, n)
      seen.add(UTF8String.concatWs(Space, window: _*))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(Array.empty[AnyRef]))
  }
}

object TextExpressions {

  /** Codegen'd polynomial hash of a STRING column. */
  def polyHashNative(c: Column): Column =
    ColumnShim.column(PolyHash(ColumnShim.expression(c)))

  /** Native `array_distinct(shingles(toks, n))` — one pass, no
    * interpreted HOFs. */
  def shingleArrayNative(toks: Column, n: Int): Column =
    ColumnShim.column(ShingleArray(ColumnShim.expression(toks), n))
}
