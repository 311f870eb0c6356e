package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word k-shingles of a text column, one pass.
  *
  * Semantics are identical to the `functions._` composition
  * `array_distinct(transform(seq, i => array_join(slice(tokens, i+1, k))))`
  * with `tokens = filter(split(lower(trim(text)), "\s+"), len > 0)` — but
  * that composition re-evaluates the full tokenize pipeline inside the
  * per-window lambda (O(tokens²) per document, measured as the dominant cost
  * of every shingle-based operator). This expression tokenizes once and
  * slides one window: O(tokens · k).
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(v: Any): Any =
    WordShingles.compute(v.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingles.compute($c, $k)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object WordShingles {
  def compute(text: UTF8String, k: Int): ArrayData = {
    // mirror lower(trim(text)) then split("\s+"): Java's \s over a
    // lower-cased string — same dialect the column-composed twin used
    val tokens = text.toLowerCase.trim().toString.split("\\s+").filter(_.nonEmpty)
    if (tokens.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + k <= tokens.length) {
      val sb = new java.lang.StringBuilder(tokens(i))
      var j = i + 1
      while (j < i + k) { sb.append(' ').append(tokens(j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = UTF8String.fromString(it.next()); n += 1 }
    new GenericArrayData(out)
  }
}
