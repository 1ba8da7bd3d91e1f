package graft.sql

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The probe side of a lookup at one gram size, built on the driver: the
  * reference's `matchDict` (Internal.hs:51) over the PROBES instead of the
  * corpus. `postings` maps gram -> interleaved (probe, count) pairs;
  * `magnitudes(p)` is probe p's full vector magnitude, counted over every
  * gram, including the ones left out of `postings`.
  */
final class ProbeIndex private (
    val postings: java.util.HashMap[String, Array[Int]],
    val magnitudes: Array[Double]) extends Serializable {
  def numProbes: Int = magnitudes.length
  def isEmpty: Boolean = postings.isEmpty
}

object ProbeIndex {

  /** Index of `keys` (lowercased probe keys; probe p = keys(p)) at gram
    * size n. Grams in `stop` are left out of the postings only, so a
    * probe's magnitude and every retained gram's score are unchanged.
    */
  def apply(keys: IndexedSeq[String], n: Int, stop: Set[String]): ProbeIndex = {
    val lists = new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder.ofInt]()
    val mags = new Array[Double](keys.length)
    var p = 0
    while (p < keys.length) {
      var sumSq = 0L
      val it = GramCountsExpr.countMap(keys(p), n).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        sumSq += c.toLong * c
        if (!stop(e.getKey)) {
          val b = lists.computeIfAbsent(e.getKey, _ => new scala.collection.mutable.ArrayBuilder.ofInt)
          b += p
          b += c
        }
      }
      mags(p) = math.sqrt(sumSq.toDouble)
      p += 1
    }
    val postings = new java.util.HashMap[String, Array[Int]](lists.size * 2)
    lists.forEach((g, b) => postings.put(g, b.result()))
    new ProbeIndex(postings, mags)
  }
}

/** Map-side scoring of one item key against a broadcast [[ProbeIndex]]:
  * the reference's sparse dot product (`matches`, Internal.hs:67-74) with
  * the small side flipped. One walk over the item's gram counts adds
  * integer dots for the probes each gram touches and sums the item's
  * squared counts; the output is array<struct<probe, cosine>> over the
  * probes with a nonzero dot only (empty when none).
  *
  * cosine = dot / (probe magnitude * item magnitude) with integer dots and
  * squared sums, divided in double at the end: the same doubles as the
  * reference, under any partitioning.
  *
  * The per-row accumulators are reused across rows: an expression instance
  * is evaluated by one task thread at a time.
  */
case class ProbeDotsExpr(child: Expression, n: Int, index: Broadcast[ProbeIndex])
    extends UnaryExpression {
  require(n >= 2, "gram size must be at least 2 (Internal.hs:193)")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"probe_dots expects a string column, got ${child.dataType.catalogString}")

  override def dataType: DataType = ProbeDotsExpr.OutType
  override def nullIntolerant: Boolean = true

  @transient private lazy val probes: ProbeIndex = index.value
  // dots(p) for the probes listed in touched(0 until nTouched); all other
  // slots stay 0 between rows
  @transient private lazy val dots = new Array[Long](probes.numProbes)
  @transient private lazy val touched = new Array[Int](probes.numProbes)

  def scoreKey(u: UTF8String): ArrayData = {
    val post = probes.postings
    val ds = dots
    var nTouched = 0
    var sumSq = 0L
    val it = GramCountsExpr.countMap(u.toString, n).entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      sumSq += c.toLong * c
      val hits = post.get(e.getKey)
      if (hits != null) {
        var j = 0
        while (j < hits.length) {
          val p = hits(j)
          if (ds(p) == 0L) { touched(nTouched) = p; nTouched += 1 }
          ds(p) += hits(j + 1).toLong * c
          j += 2
        }
      }
    }
    if (nTouched == 0) return ProbeDotsExpr.Empty
    val mag = math.sqrt(sumSq.toDouble)
    val out = new Array[Any](nTouched)
    var k = 0
    while (k < nTouched) {
      val p = touched(k)
      val row = new GenericInternalRow(2)
      row.setInt(0, p)
      row.setDouble(1, ds(p).toDouble / (probes.magnitudes(p) * mag))
      out(k) = row
      ds(p) = 0L
      k += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any = scoreKey(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("probeDots", this, classOf[ProbeDotsExpr].getName)
    defineCodeGen(ctx, ev, c => s"$self.scoreKey($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ProbeDotsExpr =
    copy(child = newChild)

  override def prettyName: String = "probe_dots"
}

object ProbeDotsExpr {
  val OutType: ArrayType = ArrayType(
    StructType(Seq(
      StructField("probe", IntegerType, nullable = false),
      StructField("cosine", DoubleType, nullable = false))),
    containsNull = false)

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])
}
