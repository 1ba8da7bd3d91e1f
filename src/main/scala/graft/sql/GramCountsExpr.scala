package graft.sql

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expression for the reference's `gramVector` (Internal.hs:161-164):
  * the gram MULTISET of one string as array<struct<gram, cnt>>.
  *
  * Load-bearing for scale: gram counts are LOCAL to a row (they count
  * repetitions within one string), so emitting them from the row makes the
  * whole postings table a map-only projection — the naive
  * explode-then-groupBy(item, gram) build shuffles |corpus| x |grams| rows
  * across the cluster to compute numbers every row already knew. At 10^12
  * rows that is the difference between a scan and a petabyte shuffle; the
  * only shuffles left in the index build are the key dedup and whatever
  * the consumer (equi-join on gram) genuinely needs.
  */
case class GramCountsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 2, "gram size must be at least 2 (Internal.hs:193)")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_counts expects a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = GramCountsExpr.OutType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    GramCountsExpr.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sql.GramCountsExpr.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): GramCountsExpr =
    copy(child = newChild)

  override def prettyName: String = "gram_counts"
}

object GramCountsExpr {
  val OutType: ArrayType = ArrayType(
    StructType(Seq(
      StructField("gram", StringType, nullable = false),
      StructField("cnt", IntegerType, nullable = false))),
    containsNull = false)

  /** Static entry point shared by interpreted eval and generated code.
    * Insertion-ordered counting (LinkedHashMap) keeps output deterministic
    * across JVMs; consumers never depend on the order.
    */
  def compute(u: UTF8String, n: Int): ArrayData = {
    val counts = countMap(u.toString, n)
    if (counts.isEmpty) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      val row = new GenericInternalRow(2)
      row.update(0, UTF8String.fromString(e.getKey))
      row.setInt(1, e.getValue)
      out(k) = row
      k += 1
    }
    new GenericArrayData(out)
  }

  /** gram -> occurrence count of `key` at size n: the one counting loop
    * behind this expression, [[ProbeDotsExpr]] and the driver-side
    * [[ProbeIndex]], so item and probe vectors cannot drift.
    */
  def countMap(key: String, n: Int): java.util.LinkedHashMap[String, Int] = {
    val s = graft.text.Gram.enclosedIn(graft.text.Gram.normalized(key), '-')
    // code-point windows, same as Gram.grams / ShinglesExpr
    val starts = graft.text.Gram.cpStartsOrNull(s)
    val nWin = graft.text.Gram.windowCount(s, starts, n)
    val counts = new java.util.LinkedHashMap[String, Int]()
    var i = 0
    while (i < nWin) {
      counts.merge(graft.text.Gram.window(s, starts, i, n), 1, (a, b) => a + b)
      i += 1
    }
    counts
  }
}
