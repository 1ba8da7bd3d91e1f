package graft.stage

import graft.SparkTestSession
import graft.api.FuzzyPipeline
import graft.conf.FuzzyConf
import graft.text.{FuzzySetRef, Gram}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `findMin` (probes scored map-side against a broadcast probe index)
  * against the in-memory reference, a stop-list-aware scorer, and its job
  * budget.
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

  /** The lookup's rows for one probe, scored directly over `corpus` with
    * the stop-list `stop` applied: dot products over the grams not in
    * `stop(n)`, full magnitudes, the top `topKRerank` by (cosine desc, key
    * asc), the Levenshtein rerank, minScore, and the size cascade.
    */
  private def stopListOracle(
      corpus: Seq[String],
      stop: Map[Int, Set[String]],
      conf: FuzzyConf,
      q: String,
      query: String,
      minScore: Double): Seq[Key] = {
    val lower = (s: String) => s.toLowerCase(java.util.Locale.ROOT)
    val items = corpus.map(o => lower(o) -> o).distinctBy(_._1) // first writer wins
    val k = lower(query)
    items.find(_._1 == k) match {
      case Some((_, original)) => Seq(key(q, 1.0, original, 0))
      case None =>
        conf.sizesDesc.iterator.map { n =>
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
                .map { case (_, ikey, original) => (Gram.levenshteinNorm(k, ikey), original) }
            else cosines.map { case (c, _, original) => (c, original) }
          scored.filter(_._1 >= minScore).map { case (s, original) => key(q, s, original, n) }
        }.find(_.nonEmpty).getOrElse(Nil)
    }
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
