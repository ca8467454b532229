package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `term_counts(words)` — the distinct elements of one string array with
  * their occurrence counts, as array<struct<term, cnt>>: exactly the
  * (term, count) groups of `explode(words)` for that row, empty strings
  * included, terms ascending in binary order and a null element counted
  * as one null term after them. O(n log n) per row (one sort, one run
  * scan), so counting a row's terms needs no shuffle. A null array
  * yields null, as explode yields no rows for it.
  */
case class TermCounts(child: Expression) extends UnaryExpression with CodegenFallback {
  private def elemNullable: Boolean = child.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType, nullable = elemNullable),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "term_counts"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeChecks.requireArrayOf(prettyName, StringType, child)

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val terms = new Array[UTF8String](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { terms(m) = arr.getUTF8String(i); m += 1 }
      i += 1
    }
    java.util.Arrays.sort(terms, 0, m, (x: UTF8String, y: UTF8String) => x.compareTo(y))
    val out = new java.util.ArrayList[InternalRow]()
    i = 0
    while (i < m) {
      var j = i + 1
      while (j < m && terms(j) == terms(i)) j += 1
      out.add(InternalRow(terms(i), (j - i).toLong))
      i = j
    }
    if (m < n) out.add(InternalRow(null, (n - m).toLong))
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}
