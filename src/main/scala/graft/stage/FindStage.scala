package graft.stage

import graft.sql.{ProbeIndex, functions => gf}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed `findMin`/`getMatches` (Internal.hs:76-106, Simple.hs:176-186)
  * plus the two dedup verification flavors.
  *
  * Determinism note: every score here is bit-identical to the in-memory
  * oracle because the dot products and squared magnitudes are INTEGER sums
  * (order-free under any shuffle), and only then divided/sqrt'd in double —
  * so top-50 boundaries and minScore filters agree exactly across
  * partitionings, resumes, and cluster sizes. Ties in the cosine sort are
  * broken by the item key (the reference's own tests sort by entry,
  * Spec.hs:136; its runtime tie order is HashMap-fold nondeterminism).
  */
object FindStage {

  /** (query_id, score, matched, gram_size): the findMin result schema. */
  private val ResultSchema: StructType = StructType(Seq(
    StructField("query_id", StringType),
    StructField("score", DoubleType, nullable = false),
    StructField("matched", StringType),
    StructField("gram_size", IntegerType, nullable = false)))

  /** (a_id, b_id, kind, score): the edge schema of [[selfFindEdges]]. */
  private val EdgeSchema: StructType = StructType(Seq(
    StructField("a_id", StringType),
    StructField("b_id", StringType),
    StructField("kind", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** Probe-mode findMin. probes: (query_id, query). Returns
    * (query_id, score, matched, gram_size); gram_size 0 = exact pass.
    *
    * Reproduces: exact-key short-circuit (score 1.0, fuzzy skipped) ->
    * gram-size cascade LARGEST FIRST, a probe falling through to the next
    * size only when nothing passed at this one (Simple.hs:176-186).
    *
    * The probes are COLLECTED to the driver and scored map-side against a
    * broadcast probe index ([[lookup]]); the call runs its jobs at once and
    * returns a local DataFrame.
    */
  def findMin(probes: DataFrame, idx: IndexTables, minScore: Double): DataFrame =
    probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(lookup(probes, idx, minScore): _*), ResultSchema)

  /** [[findMin]] as driver-side result rows.
    *
    *  - The probes are collected and deduplicated by lowercased key; every
    *    query id answers from its key's results.
    *  - Exact short-circuit: one keyed filter over `items`.
    *  - Per gram size, largest first, over the keys still unresolved: a
    *    [[graft.sql.ProbeIndex]] (stop-list grams left out) is broadcast,
    *    and one map-side pass over `items` scores each key against it
    *    ([[graft.sql.ProbeDotsExpr]]) — no postings explode, join or
    *    group-by. In lev mode the per-probe top-`topKRerank` by (cosine
    *    desc, key asc) is a row_number window, which Spark trims map-side
    *    (WindowGroupLimit) before its one shuffle; the Levenshtein rerank
    *    and the minScore filter follow, then a collect. In cosine mode the
    *    pass filters instead. Keys with a passing match drop out of the
    *    next size's index.
    */
  private def lookup(probes: DataFrame, idx: IndexTables, minScore: Double): Seq[Row] = {
    val asked = probes
      .select(col("query_id").cast("string"), lower(col("query")))
      .collect()
      .filterNot(_.isNullAt(1))
    val keys = asked.map(_.getString(1)).distinct
    if (keys.isEmpty) return Nil

    // qkey -> (score, matched, gram_size) rows
    val hits = scala.collection.mutable.HashMap.empty[String, Seq[(Double, String, Int)]]
    idx.items.filter(col("key").isin(keys.toSeq: _*)).select("key", "original").collect()
      .foreach(r => hits(r.getString(0)) = Seq((1.0, r.getString(1), 0)))

    var pending = keys.filterNot(hits.contains)
    for (n <- idx.conf.sizesDesc) {
      if (pending.nonEmpty) {
        scorePass(pending, idx, n, minScore, idx.items).groupBy(_._1).foreach { case (p, ms) =>
          hits(pending(p)) = ms.map { case (_, score, _, matched) => (score, matched, n) }.toSeq
        }
        pending = pending.filterNot(hits.contains)
      }
    }
    asked.toSeq.flatMap { r =>
      hits.getOrElse(r.getString(1), Nil).map { case (score, matched, n) =>
        Row(r.getString(0), score, matched, n)
      }
    }
  }

  /** One gram size of a find: (probe, score, item_id, original) for every
    * row of `items` (item_id, key, original) that matches `keys(probe)` and
    * passes minScore.
    */
  private def scorePass(
      keys: Array[String],
      idx: IndexTables,
      n: Int,
      minScore: Double,
      items: DataFrame): Array[(Int, Double, String, String)] = {
    val conf = idx.conf
    val index = ProbeIndex(keys.toIndexedSeq, n, idx.stopGrams.getOrElse(n, Set.empty))
    if (index.isEmpty) return Array.empty
    val bc = items.sparkSession.sparkContext.broadcast(index)
    try {
      val scored = items
        .select(col("item_id"), col("key"), col("original"),
          explode(gf.probeDots(col("key"), n, bc)).as("d"))
        .select(col("d.probe").as("probe"), col("d.cosine").as("cosine"), col("item_id"),
          col("key"), col("original"))
      val ranked =
        if (conf.useLevenshtein) {
          // take-50 BEFORE the expensive rerank (Internal.hs:90); rerank
          // compares raw lowercased keys, not gram-normalized text
          // (Internal.hs:91 — SURVEY §7.4 asymmetry trap)
          val w = Window.partitionBy("probe").orderBy(col("cosine").desc, col("key").asc)
          val qkey = element_at(typedLit(keys.toSeq), col("probe") + 1)
          scored
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= conf.topKRerank)
            .withColumn("score", gf.levNormSim(qkey, col("key")))
        } else scored.withColumn("score", col("cosine"))
      ranked
        .filter(col("score") >= minScore)
        .select("probe", "score", "item_id", "original")
        .collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getString(2), r.getString(3)))
    } finally bc.destroy()
  }

  /** Corpus self-matching with FULL reference fidelity: every item key is
    * a probe of [[scorePass]], the kernel lookups run, over the whole index
    * — top-`topKRerank` crowding and the size cascade included. The item
    * itself takes part in ranking (it holds a top-K slot, exactly as a
    * self-query would) and is dropped from the edges AFTER ranking; an item
    * falls through to the next gram size if only its self-match passed.
    * Items are key-distinct, so there is no probe dedup and no exact
    * short-circuit.
    *
    * Validation path, quadratic BY CONTRACT: every pair sharing a gram is
    * scored. Every item key is collected to the driver and a probe index
    * over all of them is broadcast, so the keys and that index must fit on
    * the driver (the lookup contract); `verifyPairs` over LSH candidates is
    * the scale path. Runs its jobs at once and returns a local
    * (a_id, b_id, kind, score) DataFrame.
    */
  def selfFindEdges(idx: IndexTables, minScore: Double): DataFrame = {
    val spark = idx.items.sparkSession
    val items = idx.items.select("item_id", "key").filter(col("key").isNotNull).collect()
    val ids = items.map(_.getString(0))
    val keys = items.map(_.getString(1))
    // every key already sits on the driver, so an explicit exchange per
    // size is cheap next to the scan it spreads: AQE would leave a
    // byte-small items table in one or two CPU-dense tasks
    val scan = idx.items.select("item_id", "key", "original")
      .repartition(spark.sparkContext.defaultParallelism)

    val edges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var pending = keys.indices.toArray // item positions still unresolved
    for (n <- idx.conf.sizesDesc) {
      if (pending.nonEmpty) {
        val found = scorePass(pending.map(keys), idx, n, minScore, scan)
          .filter { case (p, _, matchedId, _) => matchedId != ids(pending(p)) }
        found.foreach { case (p, score, matchedId, _) =>
          edges += Row(ids(pending(p)), matchedId, "fuzzy", score)
        }
        val resolved = found.map(_._1).toSet
        pending = pending.indices.filterNot(resolved).map(pending).toArray
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(edges.toSeq: _*), EdgeSchema)
  }

  /** Postings restricted to ids appearing on either side of the candidate
    * pair set, via a semi-join (broadcastable id set -> the corpus-wide
    * postings table is scanned once and never shuffled whole). Exposed
    * pre-checkpoint so plan tests can pin the LeftSemi shape;
    * [[verifyPairs]] consumes the checkpointed form.
    */
  private[graft] def prunedPostings(pairs: DataFrame, idx: IndexTables): DataFrame = {
    val candIds = pairs
      .select(col("a_id").as("item_id"))
      .unionByName(pairs.select(col("b_id").as("item_id")))
      .distinct()
    idx.postings.join(candIds, Seq("item_id"), "left_semi")
  }

  /** Top-1 per query: deterministic (score desc, matched asc). */
  def bestPerQuery(results: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("score").desc, col("matched").asc)
    results.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Above this many candidate pairs the pair side is no longer hinted
    * broadcast in [[verifyPairs]] (a corpus-scale pair set must shuffle;
    * a bench/query-scale one should never force the corpus-sized sigs /
    * items tables through an exchange).
    */
  private val broadcastPairLimit = 1000000L

  /** Pair verification for candidate pairs (a_id, b_id) — the 10^12-scale
    * path: the reference scoring kernel applied per candidate pair.
    *
    * score: with useLevenshtein (the reference default), levNormSim(key_a,
    * key_b) — identical to the score the reference rerank would assign.
    * The signature gate already certifies shared grams (see below), so the
    * lev mode goes straight from gate to keys: no postings join at all.
    * Without useLevenshtein, the cosine at the largest gram size where the
    * pair PASSES minScore (mirroring the cascade's fallthrough — see the
    * window comment below), via a postings equi-join RESTRICTED to
    * candidate ids — linear in (pairs x shared grams), never all-pairs.
    * Divergence from probe mode: no per-query top-50 crowding (can only
    * ADD pairs, so recall vs the oracle is preserved; SURVEY §2.5
    * tie-break note).
    *
    * `pairs` must be materialized by the caller (it is counted to pick the
    * broadcast side).
    */
  def verifyPairs(
      pairs: DataFrame,
      idx: IndexTables,
      minScore: Double,
      scratch: Scratch = Scratch.noop): DataFrame = {
    val conf = idx.conf

    // the candidate volume is known (caller materializes pairs): when it is
    // query/bench-sized, hint the pair side broadcast so the corpus-sized
    // sigs/items tables are scanned in place instead of shuffled; beyond
    // the limit the pair side is hinted SHUFFLE-HASH instead of degrading
    // to sort-merge (guide §3.1): the join keys are item ids, the pair
    // rows are narrow, and the streamed sides carry H-component signature
    // arrays — SMJ's full sorts of those wide streams were the dominant
    // cost of the gate (interleaved A/B at 1.6M clips / 2.47M pairs:
    // SMJ 8.8-24.1 s vs SHJ 1.9-3.1 s, identical survivor count)
    val smallPairs = pairs.count() <= broadcastPairLimit
    def pairSide(df: DataFrame): DataFrame =
      if (smallPairs) df.hint("broadcast") else df.hint("shuffle_hash")
    // in the large regime the SECOND join's build must be the (narrow,
    // corpus-sized) table side, not the signature-carrying intermediate
    // that streams into it — hint it; in the small regime the pair-side
    // broadcast already keeps every join map-side and the plan unchanged
    def tableSide(df: DataFrame): DataFrame =
      if (smallPairs) df else df.hint("shuffle_hash")

    // signature-estimated Jaccard prefilter: a 128-component compare per
    // pair (cheap) gates the scoring joins. stderr ~ sqrt(j(1-j)/H) ~
    // 0.045, so the default 0.3 cutoff (conf.sigGateMinJaccard — tied to
    // the minScore the run uses, see FuzzyConf scaladoc) sits > 5 sigma
    // below any genuinely-near pair (single-edit J >= 0.65); on
    // vocabulary-dense corpora this drops the candidate volume ~100x.
    // gf.estJaccard is a native codegen expression over the raw array
    // words — the Seq[Long] UDF it replaces boxed 2 x H longs per pair
    // through the converter, a measured slice of the edge stage's GC wall
    val sa = idx.sigs.select(col("item_id").as("a_id"), col("sig").as("a_sig"))
    val sb = idx.sigs.select(col("item_id").as("b_id"), col("sig").as("b_sig"))
    val gatedRaw = pairSide(pairs)
      .join(sa, Seq("a_id"))
      .join(tableSide(sb), Seq("b_id"))
      .filter(gf.estJaccard(col("a_sig"), col("b_sig")) >= conf.sigGateMinJaccard)
      .select("a_id", "b_id")

    if (conf.useLevenshtein) {
      // estJaccard >= 0.3 means >= ceil(0.3 * H) equal MinHash components,
      // and an equal component is (64-bit collision aside) a SHARED gramHi
      // shingle — exactly the shared-gram existence the reference's
      // inverted-index walk establishes before its rerank. The lev-mode
      // score never reads the dot product, so the postings machinery the
      // round-2 path ran here (prune + two pair-gram joins + groupBy +
      // window: the most expensive stages of the whole flagship profile)
      // added no information. Straight to the keys.
      val ka = idx.items.select(col("item_id").as("a_id"), col("key").as("a_key"))
      val kb = idx.items.select(col("item_id").as("b_id"), col("key").as("b_key"))
      if (smallPairs)
        return pairSide(gatedRaw)
          .join(ka, Seq("a_id"))
          .join(kb, Seq("b_id"))
          .withColumn("score", gf.levNormSim(col("a_key"), col("b_key")))
          .filter(col("score") >= minScore)
          .select(col("a_id"), col("b_id"), lit("fuzzy").as("kind"), col("score"))
      // large regime: the gate is ~100x selective (FuzzyConf scaladoc), so
      // the survivors are usually broadcastable even when the raw pair set
      // was not — materialize them (scratch-released) and pick the key-join
      // side from the ACTUAL count: broadcast keeps the corpus-sized items
      // table unshuffled (and per-batch streaming verification O(batch)
      // instead of O(state) for these joins); beyond the limit the joins
      // stay shuffle-hash on the table side
      val gatedLev = scratch.track(gatedRaw.localCheckpoint(false,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
      val gatedSmall = gatedLev.count() <= broadcastPairLimit
      val gatedSide = if (gatedSmall) gatedLev.hint("broadcast") else gatedLev.hint("shuffle_hash")
      val kbSide = if (gatedSmall) kb else kb.hint("shuffle_hash")
      return gatedSide
        .join(ka, Seq("a_id"))
        .join(kbSide, Seq("b_id"))
        .withColumn("score", gf.levNormSim(col("a_key"), col("b_key")))
        .filter(col("score") >= minScore)
        .select(col("a_id"), col("b_id"), lit("fuzzy").as("kind"), col("score"))
    }

    // consumed by three branches below; scratch once the caller's verified
    // edges are materialized
    val gated = scratch.track(gatedRaw.localCheckpoint())

    // semi-join prune postings to candidate ids BEFORE the pair join: the
    // candidate id set is tiny relative to the corpus (broadcast), so the
    // postings scan shrinks to candidate rows instead of shuffling the
    // full postings table on (b_id, gram_size, gram). ONE scan, lazily
    // materialized — postings is a recompute-on-read projection of items,
    // so feeding the a-side and b-side from separate scans (round 1) paid
    // the corpus-wide gram extraction twice
    val pruned = scratch.track(prunedPostings(gated, idx).localCheckpoint(false))
    val pa = pruned
      .select(col("item_id").as("a_id"), col("gram_size"), col("gram"), col("cnt").as("a_cnt"))
    val pb = pruned
      .select(col("item_id").as("b_id"), col("gram_size"), col("gram"), col("cnt").as("b_cnt"))

    val dots = gated
      .join(pa, Seq("a_id"))
      .join(pb, Seq("b_id", "gram_size", "gram"))
      .groupBy("a_id", "b_id", "gram_size")
      .agg(sum(col("a_cnt").cast("long") * col("b_cnt")).as("dot"))

    val na = idx.norms.select(col("item_id").as("a_id"), col("gram_size"), col("magnitude").as("a_mag"))
    val nb = idx.norms.select(col("item_id").as("b_id"), col("gram_size"), col("magnitude").as("b_mag"))
    val cos = dots
      .join(na, Seq("a_id", "gram_size"))
      .join(nb, Seq("b_id", "gram_size"))
      .withColumn("cosine", col("dot") / (col("a_mag") * col("b_mag")))

    // per pair keep the largest gram size whose cosine PASSES minScore —
    // filtering first is what preserves the cascade's fallthrough: a pair
    // can share size-3 grams at cosine3 < minScore yet pass at size 2, and
    // the probe-mode cascade (no size-3 match for the probe) emits it at
    // size 2. Keeping the largest SHARED size before the filter (rounds
    // 1-3) silently dropped exactly those edges. For every pair the
    // cascade finds at size s this reports the same size-s score: the
    // cascade stopping at s means no larger size passed for that pair.
    val w = Window.partitionBy("a_id", "b_id").orderBy(col("gram_size").desc)
    cos
      .filter(col("cosine") >= minScore)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .withColumn("score", col("cosine"))
      .select(col("a_id"), col("b_id"), lit("fuzzy").as("kind"), col("score"))
  }
}
