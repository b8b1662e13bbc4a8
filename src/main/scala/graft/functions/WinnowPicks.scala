package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{columnOf, expressionOf}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprint selection (Schleimer et al. 2003) as one native
  * expression: positional token n-gram 60-bit hashes, then the RIGHTMOST
  * minimal hash per sliding window of `w` grams, consecutive-duplicate
  * picks collapsed — exactly `array_distinct(transform(sequence(...),
  * slice/array_min/reverse/array_position))`, but that chain is five
  * nested CodegenFallback higher-order functions re-materializing a
  * slice per window (measured 5.3 s at sf0.1 vs t5's 0.4 s for the same
  * hash count). This is one generated call into a tight JVM loop over a
  * precomputed hash array. Consecutive-dedupe ≡ global distinct because
  * a selected position is monotone in the window start and can never
  * recur after the window passes it.
  *
  * Oracle twin: TextQueries.winnowSql (DuckDB) replays the identical
  * windows declaratively, so hash-equality is enforced end-to-end.
  */
case class WinnowPicks(child: Expression, n: Int, w: Int)
    extends UnaryExpression {
  require(n >= 1 && w >= 1, "gram width and window must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_picks needs a string input, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", LongType, nullable = false),
      StructField("fp", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "winnow_picks"

  override def nullSafeEval(input: Any): Any =
    WinnowPicks.compute(input.asInstanceOf[UTF8String], n, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowPicks.compute($c, $n, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowPicks =
    copy(child = newChild)
}

object WinnowPicks {
  def apply(text: Column, n: Int, w: Int): Column =
    columnOf(WinnowPicks(expressionOf(text), n, w))

  /** One pass: token n-gram md5-60 hashes (the [[XHash.hash60Local]]
    * definition — first 15 hex chars of md5, so DuckDB reproduces every
    * value), then the rightmost-min window scan. Split keeps empty
    * tokens and lowercase is ASCII-safe, matching `split(lower(text),
    * ' ')` on this corpus (WordShingles precedent). */
  def compute(text: UTF8String, n: Int, w: Int): ArrayData = {
    val parts = text.toLowerCase.toString.split(" ", -1)
    val g = parts.length - n + 1
    if (g < w) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = new Array[Long](g)
    var i = 0
    while (i < g) {
      val sb = new java.lang.StringBuilder(parts(i))
      var j = 1
      while (j < n) { sb.append(' ').append(parts(i + j)); j += 1 }
      val hex = md.digest(sb.toString.getBytes("UTF-8"))
      md.reset()
      // first 15 hex chars = high 60 bits of the first 8 digest bytes
      var h = 0L
      var b = 0
      while (b < 8) { h = (h << 8) | (hex(b) & 0xffL); b += 1 }
      hashes(i) = h >>> 4
      i += 1
    }
    val buf = new scala.collection.mutable.ArrayBuffer[Any](g / 2 + 1)
    var lastPos = -1
    var s = 0
    while (s + w <= g) {
      var mn = Long.MaxValue
      var jSel = -1
      var k = s
      while (k < s + w) {
        if (hashes(k) <= mn) { mn = hashes(k); jSel = k }
        k += 1
      }
      if (jSel != lastPos) {
        buf += new GenericInternalRow(Array[Any]((jSel + 1).toLong, mn))
        lastPos = jSel
      }
      s += 1
    }
    new GenericArrayData(buf.toArray)
  }
}
