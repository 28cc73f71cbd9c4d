package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The exact-shingle contamination keys: the xxhash64 (seed 42) of every
  * 8-token window of a text, hashed straight from its UTF-8 bytes.
  *
  * SEMANTICS CONTRACT: key `i` equals
  * `xxhash64(concat_ws(' ', slice(split(text, ' '), i + 1, 8)))`. Tokens
  * are cut at every single space (0x20) and empty tokens are kept, so
  * double, leading and trailing spaces count as in `split`. Because split
  * tokens hold no space and no null, a window is the text's contiguous
  * byte range from its first token's start to its last token's end, and
  * no window string is ever allocated. In valid UTF-8 the byte 0x20 only
  * ever encodes a space, so byte and character splits agree. A text with
  * fewer than 8 tokens has no windows.
  *
  * The build side (the eval set's sorted distinct keys, built on the
  * driver by [[graft.streaming.Jobs.contaminationKeys]]) and the probe side
  * ([[ShingleKeyProbe]], per streamed doc) both call [[windowHashes]], so
  * the two cannot fork. */
object ShingleHashes {
  val Width = 8
  val Seed = 42L

  private val Empty = Array.emptyLongArray

  def windowHashes(text: UTF8String): Array[Long] = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    // byte offset of every space; token k ends at spaces(k), the last at n
    var spaces = new Array[Int](64)
    var m = 0
    var i = 0
    while (i < n) {
      if (Platform.getByte(base, off + i) == ' ') {
        if (m == spaces.length) spaces = java.util.Arrays.copyOf(spaces, m * 2)
        spaces(m) = i
        m += 1
      }
      i += 1
    }
    val windows = m + 2 - Width // m + 1 tokens
    if (windows <= 0) return Empty
    val out = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      val start = if (w == 0) 0 else spaces(w - 1) + 1
      val last = w + Width - 1
      val end = if (last == m) n else spaces(last)
      out(w) = XXH64.hashUnsafeBytes(base, off + start, end - start, Seed)
      w += 1
    }
    out
  }

  /** contains_shingle(text, keys) — true when some window key of `text` is
    * in the sorted `keys`; false for a null or short text. */
  def contains_shingle(text: Column, keys: Broadcast[Array[Long]]): Column =
    GraftSqlBridge.column(ShingleKeyProbe(GraftSqlBridge.expression(text), keys))
}

/** Probes a broadcast sorted key array with one text's [[ShingleHashes]]
  * keys, as one code-generating Catalyst expression: one binary search per
  * window, stopping at the first hit. True when some window key is in the
  * array, false for a null text or one under 8 tokens (such a doc is kept
  * by a gate that filters on `!probe`). The check is exact: no key outside
  * the array ever matches.
  *
  * The expression holds the `Broadcast` handle, not the array, so a task
  * binary carries only the handle; each task reads the array from the
  * block manager once. */
case class ShingleKeyProbe(child: Expression, keys: Broadcast[Array[Long]])
    extends UnaryExpression {

  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "contains_shingle"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"contains_shingle requires string, got ${child.dataType.sql}")

  @transient private lazy val sorted: Array[Long] = keys.value

  /** Public: invoked from generated code via a bound reference. */
  def contains(text: UTF8String): Boolean = {
    val hs = ShingleHashes.windowHashes(text)
    var i = 0
    while (i < hs.length && java.util.Arrays.binarySearch(sorted, hs(i)) < 0) i += 1
    i < hs.length
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v != null && contains(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleProbe", this, classOf[ShingleKeyProbe].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.value} = !${c.isNull} && $ref.contains(${c.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleKeyProbe =
    copy(child = newChild)
}
