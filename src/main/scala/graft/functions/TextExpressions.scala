package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native polynomial string hash: `fold(codePoints, 0, (acc, cp) =>
  * (acc*31 + cp) % 1000000007)`.
  *
  * Same value as the composable form `polyHashFold` in the test-side
  * `graft.llm.TextReference` (`aggregate(transform(filter(split(s,
  * "")...)))`), but that chain is four interpreted array passes plus an
  * allocation per string, and
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

/** Native whitespace tokens of a STRING: the maximal runs of bytes
  * other than the six Java-regex `\s` bytes (space, `\t`, `\n`,
  * `\x0B`, `\f`, `\r`), in order, empties never emitted; null
  * for null text.
  *
  * Equals `filter(split(s, "\\s+"), t => t =!= "")` on valid UTF-8,
  * which is all [[graft.llm.Shingles.tokens]] feeds it (Spark's `Lower`
  * is the child and always emits valid UTF-8): continuation bytes are
  * >= 0x80, so a byte scan finds exactly the characters the regex
  * matches. The composable form is a regex split plus an interpreted
  * `ArrayFilter`, and the curation gate inlines it about eleven times
  * per document; this is one pass that slices the string's bytes.
  * Pinned against the composable form in TokenExpressionsSpec. */
case class Tokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextExpressions.checkBinaryString(prettyName, child.dataType)
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def prettyName: String = "tokens"

  override def nullSafeEval(input: Any): Any = Tokens.split(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Tokens.split($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Tokens {
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** Shared by interpreted eval and generated code. */
  def split(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    val n = bytes.length
    var i = 0
    while (i < n) {
      while (i < n && isSpace(bytes(i))) i += 1
      val start = i
      while (i < n && !isSpace(bytes(i))) i += 1
      if (i > start) out.add(UTF8String.fromBytes(bytes, start, i - start))
    }
    new GenericArrayData(out.toArray)
  }
}

/** An INT count over an ARRAY<STRING> that answers a null array the
  * way Spark's `size` does: null, or -1 under the legacy
  * `spark.sql.legacy.sizeOfNull` semantics, read when the expression is
  * built, as `Size` reads it. */
abstract class StringArrayCount extends UnaryExpression {
  def legacySizeOfNull: Boolean

  /** The count of a non-null array. */
  protected def countOf(arr: ArrayData): Int
  /** Java source computing [[countOf]] of the array named `arr`. */
  protected def countCode(ctx: CodegenContext, arr: String): String

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(e, _) => TextExpressions.checkBinaryString(prettyName, e)
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<STRING>, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = !legacySizeOfNull && child.nullable

  override def eval(input: InternalRow): Any = child.eval(input) match {
    case null => if (legacySizeOfNull) -1 else null
    case arr: ArrayData => countOf(arr)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |int ${ev.value} = ${c.isNull} ? -1 : ${countCode(ctx, c.value.toString)};
      """.stripMargin, isNull = if (legacySizeOfNull) FalseLiteral else c.isNull)
  }
}

/** Native marker hits: the number of non-null elements equal to any of
  * `words`, the value of `size(filter(toks, t => t === w1 || ...))`
  * without the interpreted lambda and the filtered array. */
case class MarkerHits(child: Expression, words: Seq[String], legacySizeOfNull: Boolean)
    extends StringArrayCount {
  @transient private lazy val wordBytes: Array[UTF8String] = words.map(UTF8String.fromString).toArray

  override def prettyName: String = "marker_hits"

  override protected def countOf(arr: ArrayData): Int = MarkerHits.count(arr, wordBytes)
  override protected def countCode(ctx: CodegenContext, arr: String): String = {
    val w = ctx.addReferenceObj("words", wordBytes, "org.apache.spark.unsafe.types.UTF8String[]")
    s"graft.functions.MarkerHits.count($arr, $w)"
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MarkerHits {
  /** Shared by interpreted eval and generated code. */
  def count(toks: ArrayData, words: Array[UTF8String]): Int = {
    val n = toks.numElements()
    var hits = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        var j = 0
        while (j < words.length && t != words(j)) j += 1
        if (j < words.length) hits += 1
      }
      i += 1
    }
    hits
  }
}

/** Native distinct count: `size(array_distinct(toks))` without building
  * the distinct array. A null element counts once, as `array_distinct`
  * keeps one null. */
case class DistinctCount(child: Expression, legacySizeOfNull: Boolean)
    extends StringArrayCount {

  override def prettyName: String = "distinct_count"

  override protected def countOf(arr: ArrayData): Int = DistinctCount.count(arr)
  override protected def countCode(ctx: CodegenContext, arr: String): String =
    s"graft.functions.DistinctCount.count($arr)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DistinctCount {
  /** Shared by interpreted eval and generated code. */
  def count(toks: ArrayData): Int = {
    val seen = new java.util.HashSet[UTF8String]()
    val n = toks.numElements()
    var sawNull = false
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) sawNull = true else seen.add(toks.getUTF8String(i))
      i += 1
    }
    seen.size + (if (sawNull) 1 else 0)
  }
}

/** Column builders for the native text expressions: the codegen'd front
  * end of the curation and dedup operators (tokens, marker hits,
  * distinct counts, shingles, the string hash). Each equals a composable
  * column form in value, type and nullability (those of the tokens, the
  * counters and the hash live in the test-side `graft.llm.TextReference`;
  * the DuckDB SQL mirrors them) without an interpreted higher-order
  * function, so the operators using them stay inside whole-stage
  * codegen. */
object TextExpressions {

  /** The string type every text expression here accepts: binary
    * (default) collation, where equality and the split are bytewise. */
  private[functions] def checkBinaryString(name: String, t: DataType): TypeCheckResult = t match {
    case st: StringType if st.collationId == StringType.collationId => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name expects a STRING (UTF8_BINARY) input, got ${other.simpleString}")
  }

  /** Codegen'd whitespace tokens of an (already lower-cased) STRING. */
  def tokensNative(text: Column): Column =
    ColumnShim.column(Tokens(ColumnShim.expression(text)))

  /** Codegen'd `size(filter(toks, t => words contains t))`. */
  def markerHitsNative(toks: Column, words: Seq[String]): Column =
    ColumnShim.column(
      MarkerHits(ColumnShim.expression(toks), words, SQLConf.get.legacySizeOfNull))

  /** Codegen'd `size(array_distinct(toks))`. */
  def distinctCountNative(toks: Column): Column =
    ColumnShim.column(DistinctCount(ColumnShim.expression(toks), SQLConf.get.legacySizeOfNull))

  /** Codegen'd polynomial hash of a STRING column. */
  def polyHashNative(c: Column): Column =
    ColumnShim.column(PolyHash(ColumnShim.expression(c)))

  /** Native `array_distinct(shingles(toks, n))` — one pass, no
    * interpreted HOFs. */
  def shingleArrayNative(toks: Column, n: Int): Column =
    ColumnShim.column(ShingleArray(ColumnShim.expression(toks), n))
}
