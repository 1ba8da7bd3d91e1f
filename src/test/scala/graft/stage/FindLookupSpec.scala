package graft.stage

import graft.SparkTestSession
import graft.api.FuzzyPipeline
import graft.conf.FuzzyConf
import graft.sql.ProbeDotsExpr
import graft.text.{FuzzySetRef, Gram}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `findMin` (probes scored map-side against a broadcast probe index)
  * against the in-memory reference, a stop-list-aware scorer, and its job
  * budget; the exhaustive self-find against the same scorer and its plan
  * shape.
  */
class FindLookupSpec extends AnyFunSuite with Matchers {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val states = Seq(
    "Alabama", "Alaska", "American Samoa", "Arizona", "Arkansas",
    "California", "Colorado", "Connecticut", "Delaware", "District of Columbia",
    "Florida", "Georgia", "Guam", "Hawaii", "Idaho", "Illinois", "Indiana", "Iowa",
    "Kansas", "Kentucky", "Louisiana", "Maine", "Maryland", "Massachusetts",
    "Michigan", "Minnesota", "Mississippi", "Missouri", "Montana", "Nebraska",
    "Nevada", "New Hampshire", "New Jersey", "New Mexico", "New York",
    "North Carolina", "North Dakota", "Ohio", "Oklahoma", "Oregon", "Pennsylvania",
    "Puerto Rico", "Rhode Island", "South Carolina", "South Dakota", "Tennessee",
    "Texas", "Utah", "Vermont", "Virginia", "Washington", "West Virginia",
    "Wisconsin", "Wyoming", "???", "...")

  private def corpusDF(xs: Seq[String]): DataFrame =
    xs.zipWithIndex.map { case (t, i) => (f"c$i%06d", t) }.toDF("clip_id", "transcript")

  /** (query_id, query) probes; ids are q0, q1, ... */
  private def probesDF(ps: Seq[String]): DataFrame =
    ps.zipWithIndex.map { case (p, i) => (s"q$i", p) }.toDF("query_id", "query")

  private type Key = (String, Long, String, Int)
  private def key(q: String, score: Double, matched: String, n: Int): Key =
    (q, math.round(score * 1e9), matched, n)

  private def rows(df: DataFrame): Seq[Key] =
    df.collect().toSeq
      .map(r => key(r.getString(0), r.getDouble(1), r.getString(2), r.getInt(3)))
      .sorted

  /** The reference's rows for one probe, with the gram size that produced
    * them (0 = exact short-circuit).
    */
  private def oracle(ref: FuzzySetRef, q: String, query: String, minScore: Double): Seq[Key] = {
    val k = query.toLowerCase(java.util.Locale.ROOT)
    ref.exactSet.get(k) match {
      case Some(exact) => Seq(key(q, 1.0, exact, 0))
      case None =>
        ref.gramSizeUpper.to(ref.gramSizeLower, -1).iterator
          .map(n => n -> ref.getMatches(k, minScore, n))
          .find(_._2.nonEmpty)
          .map { case (n, ms) => ms.map { case (s, m) => key(q, s, m, n) } }
          .getOrElse(Nil)
    }
  }

  private def oracleAll(ref: FuzzySetRef, probes: Seq[String], minScore: Double): Seq[Key] =
    probes.zipWithIndex.flatMap { case (p, i) => oracle(ref, s"q$i", p, minScore) }.sorted

  test("more than topKRerank tied cosines over several partitions: key tie-break == reference") {
    // every "abc NNN" item shares exactly "-ab" and "abc" with the probe and
    // has 7 distinct trigrams, so all 300 tie on cosine and on Levenshtein;
    // the reference keeps the 50 smallest keys
    val corpus =
      new scala.util.Random(5).shuffle((100 until 400).map(i => s"abc $i")) ++ Seq("xyz", "abd 7")
    val conf = FuzzyConf()
    val idx = IndexBuild(corpusDF(corpus), "clip_id", "transcript", conf,
      (stage, df) => if (stage == "items") df.repartition(3) else df)
    idx.items.rdd.getNumPartitions shouldBe 3
    val probes = Seq("abc", "ABC 2")
    val got = rows(FindStage.findMin(probesDF(probes), idx, 0.33))
    val expected = oracleAll(FuzzySetRef.fromList(corpus), probes, 0.33)
    got.count(_._1 == "q0") shouldBe conf.topKRerank
    got shouldBe expected
  }

  test("cosine mode, gram-less probes, shared keys, case-only exact hits == reference") {
    val probes = Seq(
      "homeland", "connectedcut", "oregano", "akeloxasas", "penicillivania",
      "", "!!!", "New Mix", "NEW MIX", "aLaSkA", "zzzz")
    for (lev <- Seq(true, false)) {
      val conf = FuzzyConf(useLevenshtein = lev)
      val p = FuzzyPipeline(spark, corpusDF(states), "clip_id", "transcript", conf)
      val ref = FuzzySetRef.emptySet(2, 3, useLevenshtein = lev).addMany(states)
      val got = rows(p.findMin(0.33, probesDF(probes)))
      withClue(s"useLevenshtein=$lev: ") {
        got shouldBe oracleAll(ref, probes, 0.33)
      }
      // the two spellings of one key answer alike, and case-only exact hits
      // take the short-circuit
      got.filter(_._1 == "q7").map(_.copy(_1 = "")) shouldBe
        got.filter(_._1 == "q8").map(_.copy(_1 = ""))
      got.filter(_._1 == "q9") shouldBe Seq(key("q9", 1.0, "Alaska", 0))
      if (!lev) got.filter(_._1 == "q5").map(_._3).toSet shouldBe Set("???", "...")
    }
  }

  test("a probe resolving only at gram size 2 falls through like the reference") {
    val probes = Seq("ia", "wyome", "Why-oh-me-ing")
    val ref = FuzzySetRef.fromList(states)
    val expected = oracleAll(ref, probes, 0.33)
    expected.filter(_._1 == "q0").map(_._4).distinct shouldBe Seq(2)
    val p = FuzzyPipeline(spark, corpusDF(states), "clip_id", "transcript")
    rows(p.findMin(0.33, probesDF(probes))) shouldBe expected
  }

  private def lowerKey(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** (score, item key, original) of every item in `items` (key, original)
    * that passes minScore for probe key `k` at gram size n, scored directly
    * with the stop-list `stop` applied: dot products over the grams not in
    * `stop(n)`, full magnitudes, the top `topKRerank` by (cosine desc, key
    * asc) and the Levenshtein rerank.
    */
  private def stopListScores(
      items: Seq[(String, String)],
      stop: Map[Int, Set[String]],
      conf: FuzzyConf,
      k: String,
      n: Int,
      minScore: Double): Seq[(Double, String, String)] = {
    val qv = Gram.gramVector(k, n)
    val qmag = Gram.norm(qv.values)
    val stopN = stop.getOrElse(n, Set.empty[String])
    val cosines = items.flatMap { case (ikey, original) =>
      val iv = Gram.gramVector(ikey, n)
      val dot = qv.iterator.filterNot(g => stopN(g._1)).map { case (g, c) =>
        c.toLong * iv.getOrElse(g, 0)
      }.sum
      if (dot == 0) None else Some((dot / (qmag * Gram.norm(iv.values)), ikey, original))
    }
    val scored =
      if (conf.useLevenshtein)
        cosines.sortBy { case (c, ikey, _) => (-c, ikey) }.take(conf.topKRerank)
          .map { case (_, ikey, original) => (Gram.levenshteinNorm(k, ikey), ikey, original) }
      else cosines
    scored.filter(_._1 >= minScore)
  }

  /** The lookup's rows for one probe over `corpus` with the stop-list
    * `stop`: the exact short-circuit, then [[stopListScores]] down the size
    * cascade.
    */
  private def stopListOracle(
      corpus: Seq[String],
      stop: Map[Int, Set[String]],
      conf: FuzzyConf,
      q: String,
      query: String,
      minScore: Double): Seq[Key] = {
    val items = corpus.map(o => lowerKey(o) -> o).distinctBy(_._1) // first writer wins
    val k = lowerKey(query)
    items.find(_._1 == k) match {
      case Some((_, original)) => Seq(key(q, 1.0, original, 0))
      case None =>
        conf.sizesDesc.iterator.map { n =>
          stopListScores(items, stop, conf, k, n, minScore)
            .map { case (s, _, original) => key(q, s, original, n) }
        }.find(_.nonEmpty).getOrElse(Nil)
    }
  }

  /** The self-find's (a_id, b_id, score) edges over `corpus` (ids as in
    * [[corpusDF]]) with the stop-list `stop`: every item key is a probe
    * with no exact short-circuit, ranked with itself among the items, and
    * the self-match is dropped after ranking; a key falls through to the
    * next size when only its self-match passed.
    */
  private def selfFindOracle(
      corpus: Seq[String],
      stop: Map[Int, Set[String]],
      conf: FuzzyConf,
      minScore: Double): Seq[(String, String, Long)] = {
    val withIds = corpus.zipWithIndex
      .map { case (o, i) => (lowerKey(o), o, f"c$i%06d") }
      .distinctBy(_._1) // first writer (= minimum id) wins
    val items = withIds.map(t => t._1 -> t._2)
    val idOf = withIds.map(t => t._1 -> t._3).toMap
    withIds.flatMap { case (k, _, id) =>
      conf.sizesDesc.iterator
        .map(n => stopListScores(items, stop, conf, k, n, minScore).filter(_._2 != k))
        .find(_.nonEmpty).getOrElse(Nil)
        .map { case (s, ikey, _) => (id, idOf(ikey), math.round(s * 1e9)) }
    }.sorted
  }

  test("with a tiny stop-list threshold the lookup == a stop-list-aware scorer") {
    val conf = FuzzyConf(maxPostingsPerGram = 2)
    val p = FuzzyPipeline(spark, corpusDF(states), "clip_id", "transcript", conf)
    val stop = p.index.stopGrams
    stop.values.map(_.size).sum should be > 0
    val probes = Seq(
      "Burger Islands", "Connect a cat", "Transylvania", "Alaskanbraskansas",
      "washing tun", "ia", "new jersey", "North Dakotas")
    def expected(stop: Map[Int, Set[String]]) = probes.zipWithIndex.flatMap { case (pr, i) =>
      stopListOracle(states, stop, conf, s"q$i", pr, 0.33)
    }.sorted
    // fixture: the stop-list changes the answer, so a lookup that ignored
    // it could not pass
    expected(stop) should not be expected(Map.empty)
    val got = rows(p.findMin(0.33, probesDF(probes)))
    got should not be empty
    got shouldBe expected(stop)
  }

  test("with a tiny stop-list threshold the self-find == a stop-list-aware scorer") {
    val conf = FuzzyConf(maxPostingsPerGram = 2)
    val p = FuzzyPipeline(spark, corpusDF(states), "clip_id", "transcript", conf)
    val stop = p.index.stopGrams
    stop.values.map(_.size).sum should be > 0
    val expected = selfFindOracle(states, stop, conf, 0.33)
    // fixture: the stop-list changes the answer, so a self-find that
    // ignored it could not pass
    expected should not be selfFindOracle(states, Map.empty, conf, 0.33)
    val got = FindStage.selfFindEdges(p.index, 0.33)
      .select("a_id", "b_id", "score").as[(String, String, Double)].collect()
      .map { case (a, b, s) => (a, b, math.round(s * 1e9)) }.toSeq.sorted
    got should not be empty
    got shouldBe expected
  }

  test("the self-find on a warmed index scores through probe_dots, with no gram-keyed join or aggregate") {
    val sc = spark.sparkContext
    def refsGram(e: Expression): Boolean = e.references.exists(_.name == "gram")
    val gramOps = scala.collection.mutable.ArrayBuffer.empty[String]
    var probeDotPlans = 0
    val planWatch = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val hits = collect(qe.executedPlan) {
          case a: BaseAggregateExec if a.groupingExpressions.exists(refsGram) => a.nodeName
          case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys).exists(refsGram) => j.nodeName
        }
        val dots = qe.analyzed.exists(_.expressions.exists(_.exists(_.isInstanceOf[ProbeDotsExpr])))
        gramOps.synchronized {
          gramOps ++= hits
          if (dots) probeDotPlans += 1
        }
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val p = FuzzyPipeline(spark, corpusDF(states), "clip_id", "transcript")
    p.index.stopGrams // warm: the stop-list is the index's one gram-keyed aggregate
    ListenerBusDrain(sc)
    spark.listenerManager.register(planWatch)
    try {
      FindStage.selfFindEdges(p.index, 0.33).collect()
      ListenerBusDrain(sc)
    } finally spark.listenerManager.unregister(planWatch)
    gramOps.synchronized {
      gramOps shouldBe empty
      probeDotPlans should be > 0
    }
  }

  test("a warmed 6-probe lookup runs at most 8 jobs and never aggregates postings again") {
    val sc = spark.sparkContext
    var jobs = 0
    val jobCounter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    }
    // aggregates grouped by a `gram` column: the stop-list's pass over postings
    val gramAggs = scala.collection.mutable.ArrayBuffer.empty[String]
    val planWatch = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val hits = collect(qe.executedPlan) {
          case a: BaseAggregateExec
              if a.groupingExpressions.exists(_.references.exists(_.name == "gram")) =>
            a.nodeName
        }
        gramAggs.synchronized(gramAggs ++= hits)
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def measured(body: => Unit): (Int, Int) = {
      ListenerBusDrain(sc)
      jobs = 0
      gramAggs.synchronized(gramAggs.clear())
      body
      ListenerBusDrain(sc)
      (jobs, gramAggs.synchronized(gramAggs.size))
    }

    val p = FuzzyPipeline(spark, corpusDF(states), "clip_id", "transcript")
    val probes = probesDF(Seq(
      "Alaska", "alaska", "Connect a cat", "Transylvania", "ia", "qqqq zzzz"))
    sc.addSparkListener(jobCounter)
    spark.listenerManager.register(planWatch)
    try {
      val (_, firstAggs) = measured(p.findMin(0.33, probes).collect())
      firstAggs should be > 0 // the stop-list is built on first use
      val (secondJobs, secondAggs) = measured(p.findMin(0.33, probes).collect())
      secondJobs should be <= 8
      secondAggs shouldBe 0
    } finally {
      spark.listenerManager.unregister(planWatch)
      sc.removeSparkListener(jobCounter)
    }
  }
}
