package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Term counts of one (already lowercased) document:
  * `array<struct<word: string, tf: long>>`, one entry per distinct token,
  * in first-occurrence order.
  *
  * A token is a maximal run of `[a-z0-9]` that contains at least one
  * letter — exactly the kept tokens of `TextOps.normalize` →
  * `splitWords` → `isKeptToken` (every other character is either
  * whitespace or rewritten to a space by `normalize`, so both split on
  * the same boundaries; all-digit runs are the dropped tokens). The scan
  * walks the UTF-8 bytes once, with no regex and no decoding: ASCII
  * letters and digits are single bytes below 0x80, and every byte of a
  * multi-byte character is 0x80 or above, so it is a separator exactly as
  * the character is. Case mapping is left to the caller (Spark's `lower`),
  * so both tokenizer tiers share it. A null input has no terms.
  *
  * Counting inside the row is what lets an index build skip the
  * `(doc_id, word)` shuffle: a document is one row, as it is one call of
  * the reference's TF mapper.
  */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TermCounts.Type

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    TermCounts.scan(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val scan = s"${TermCounts.getClass.getName}.MODULE$$.scan"
    ev.copy(code =
      code"""
         |${c.code}
         |${CodeGenerator.javaType(dataType)} ${ev.value} =
         |  $scan(${c.isNull} ? null : ${c.value});
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "term_counts"
}

object TermCounts {

  val Type: DataType = ArrayType(StructType(Seq(
    StructField("word", StringType, nullable = false),
    StructField("tf", LongType, nullable = false))), containsNull = false)

  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  def scan(s: UTF8String): ArrayData = {
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    if (s != null) {
      val b = s.getBytes
      val n = b.length
      var i = 0
      while (i < n) {
        if (isWordByte(b(i))) {
          val start = i
          var letter = false
          while (i < n && isWordByte(b(i))) { letter ||= b(i) >= 'a'; i += 1 }
          if (letter) {
            val w = UTF8String.fromBytes(b, start, i - start)
            val c = counts.get(w)
            // the key outlives this row: copy it off the input's bytes
            if (c == null) counts.put(w.copy(), Array(1L)) else c(0) += 1
          }
        } else i += 1
      }
    }
    val out = new Array[Any](counts.size)
    var k = 0
    val it = counts.entrySet.iterator
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(e.getKey, e.getValue()(0))
      k += 1
    }
    new GenericArrayData(out)
  }
}
