package graft.perfbench

import graft.text.FuzzySetRef

/** One findMin output row, compared on (rounded score, matched, gram size). */
final case class FindRow(queryId: String, score: Double, matched: String, gramSize: Int) {
  def key: (String, Long, String, Int) = (queryId, math.round(score * 1e9), matched, gramSize)
}

/** Output checks. Pure functions over collected outputs, so a self-test can
  * corrupt one output and see the matching check trip.
  */
object Checks {

  /** Share of `pairs` whose two clips carry the same cluster label; a clip
    * without a label counts as a miss.
    */
  def pairRecall(labels: collection.Map[String, String], pairs: Seq[(String, String)]): Double =
    if (pairs.isEmpty) 1.0
    else pairs.count { case (a, b) =>
      labels.get(a).exists(la => labels.get(b).contains(la))
    }.toDouble / pairs.size

  /** What the reference returns for one probe: the exact short-circuit
    * (gram size 0), else the matches of the largest gram size that has any.
    */
  def oracleRows(ref: FuzzySetRef, queryId: String, query: String, minScore: Double): Seq[FindRow] = {
    val key = query.toLowerCase(java.util.Locale.ROOT)
    ref.exactSet.get(key) match {
      case Some(exact) => Seq(FindRow(queryId, 1.0, exact, 0))
      case None =>
        ref.gramSizeUpper.to(ref.gramSizeLower, -1).iterator
          .map(n => n -> ref.getMatches(key, minScore, n))
          .find(_._2.nonEmpty)
          .map { case (n, ms) => ms.map { case (s, m) => FindRow(queryId, s, m, n) } }
          .getOrElse(Nil)
    }
  }

  /** Query ids whose engine rows differ from the reference's. */
  def findMismatches(expected: Seq[FindRow], actual: Seq[FindRow]): Seq[String] = {
    val e = expected.groupBy(_.queryId).view.mapValues(_.map(_.key).sorted).toMap
    val a = actual.groupBy(_.queryId).view.mapValues(_.map(_.key).sorted).toMap
    (e.keySet ++ a.keySet).toSeq.sorted.filter(q => e.getOrElse(q, Nil) != a.getOrElse(q, Nil))
  }
}
