package graft.stage

import graft.conf.FuzzyConf
import graft.sql.{functions => gf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference `FuzzySet` record normalized into tables (SURVEY.md §1.2):
  *
  *  - `items`    <-> exactSet  (Internal.hs:50): one row per distinct
  *                   lowercased key; item identity is the minimum source id
  *                   sharing the key (deterministic across partitionings and
  *                   resumes — never monotonically_increasing_id)
  *  - `members`  <-> which source rows collapsed into each item (the
  *                   reference's first-writer-wins dedup, Internal.hs:111;
  *                   intended semantics: dedup on lower(str), SURVEY §2.1)
  *  - `postings` <-> matchDict (Internal.hs:51): gram -> (item, count)
  *  - `norms`    <-> per-item precomputed magnitudes (Internal.hs:38-41)
  *  - `sigs`     <-> the scale path the reference lacks: MinHash/LSH band
  *                   hashes and SimHash signatures over the gramHi shingle set
  *
  * Lookups read `items` only (plus `postings` once, for [[stopGrams]]);
  * the self-find reads `items`; cosine-mode `verifyPairs` reads `postings`
  * and `norms`; candidate generation reads `sigs`.
  */
final case class IndexTables(
    conf: FuzzyConf,
    items: DataFrame, // (item_id, key, original, n_members)
    members: DataFrame, // (clip_id, item_id)
    postings: DataFrame, // (gram_size, gram, item_id, cnt)
    norms: DataFrame, // (item_id, gram_size, magnitude)
    sigs: DataFrame // (item_id, sig: array<long>, simhash: long, band_hashes: array<long>)
) {

  /** Frequent-gram stop-list (SURVEY §4 O1 / §7.4): per gram size, the
    * grams whose document frequency exceeds `conf.maxPostingsPerGram`.
    * Such a gram makes nearly every pair of keys a nonzero dot product
    * while carrying almost no cosine discrimination, so find scoring leaves
    * it out of the dot products only; magnitudes stay over all grams, so
    * retained grams score unchanged, and below the threshold behavior is
    * exactly the reference's. One aggregation over postings per index, on
    * first use, and none when the threshold is <= 0. The list is bounded by
    * the gram vocabulary, so it is collected to the driver.
    */
  lazy val stopGrams: Map[Int, Set[String]] =
    if (conf.maxPostingsPerGram <= 0) Map.empty
    else postings
      .groupBy("gram_size", "gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > conf.maxPostingsPerGram)
      .select("gram_size", "gram")
      .collect()
      .groupBy(_.getInt(0))
      .map { case (n, rows) => n -> rows.map(_.getString(1)).toSet }
}

object IndexBuild {

  /** Batch index build = the reference's `addMany_` fold (Internal.hs:140)
    * as one declarative plan: two shuffles (dedup groupBy, postings
    * groupBy); Catalyst prunes `bytes`/audio columns away because only
    * (idCol, textCol) are selected.
    *
    * `mat(stage, df)` materializes each stage table (parquet checkpoint or
    * localCheckpoint) and its RESULT feeds downstream derivations: members,
    * postings, norms and sigs all derive from the materialized ITEMS
    * (postings/norms are map-side projections of items — see
    * FuzzyPipeline.mapSideStages: storing or chaining them buys nothing,
    * recompute is a cheap parallel map).
    * Deriving from the pre-materialization plans instead would recompute
    * the whole upstream lineage once per table (localCheckpoint and
    * parquet round-trips, unlike .cache(), do not substitute into
    * already-built plans).
    */
  def apply(
      input: DataFrame,
      idCol: String,
      textCol: String,
      conf: FuzzyConf,
      mat: (String, DataFrame) => DataFrame = (_, df) => df): IndexTables = {
    val keyed = input
      .select(col(idCol).cast("string").as("clip_id"), col(textCol).as("original"))
      .withColumn("key", lower(col("original")))

    val items = mat("items", keyed
      .groupBy("key")
      .agg(
        min("clip_id").as("item_id"),
        min_by(col("original"), col("clip_id")).as("original"),
        count(lit(1)).as("n_members"))
      .select("item_id", "key", "original", "n_members"))

    val members = mat("members", keyed
      .select("clip_id", "key")
      .join(items.select("key", "item_id"), Seq("key"))
      .select("clip_id", "item_id"))

    val (postingsPlan, normsPlan) = gramProjections(items, conf)
    val postings = mat("postings", postingsPlan)
    val norms = mat("norms", normsPlan)

    val sigs = mat("sigs", signatures(items, conf))

    IndexTables(conf, items, members, postings, norms, sigs)
  }

  /** Postings + norms as pure map-side projections of an `items` table
    * (item_id, key, ...): one scan, both gram sizes, NO SHUFFLE — gram
    * counts are local to each row (GramCountsExpr scaladoc; the naive
    * explode+groupBy build would shuffle |corpus| x |grams| rows to
    * recount what each row knows). Shared by the batch build above and
    * the streaming state index (StreamDedup.stateIndex), so the two paths
    * cannot drift.
    */
  def gramProjections(items: DataFrame, conf: FuzzyConf): (DataFrame, DataFrame) = {
    val sized = items
      .select(
        col("item_id"),
        explode(array(conf.sizes.map(n =>
          struct(lit(n).as("gram_size"), gf.gramCounts(col("key"), n).as("gc"))): _*)).as("sg"))
      .select(col("item_id"), col("sg.gram_size").as("gram_size"), col("sg.gc").as("gc"))

    val postings = sized
      .select(col("item_id"), col("gram_size"), explode(col("gc")).as("e"))
      .select(col("item_id"), col("gram_size"), col("e.gram").as("gram"), col("e.cnt").as("cnt"))

    // integer sum of squares in one pass, sqrt at the end: the aggregate()
    // HOF form runs in the expression interpreter per element (graft perf
    // note) and this executes once per (item, gram_size) over ~|key| counts
    val magUdf = udf { (cnts: Seq[Int]) =>
      var acc = 0L
      var i = 0
      while (i < cnts.length) { val c = cnts(i).toLong; acc += c * c; i += 1 }
      math.sqrt(acc.toDouble)
    }
    val norms = sized
      .select(col("item_id"), col("gram_size"), magUdf(col("gc.cnt")).as("magnitude"))
    (postings, norms)
  }

  /** MinHash signature + SimHash + LSH band tokens of an `items` table via
    * ONE streaming native pass per row (SigBandsFromKeyExpr: normalize ->
    * window -> md5 fused, the gram array never materializes — the
    * pure-expression sig form re-ran md5s per component, the band-key HOF
    * composition interpreted at ~300us/row was round 2's hottest spot, and
    * the UDF/ShinglesExpr forms allocated per gram occurrence);
    * value-identical to the column expressions and the DuckDB oracle
    * (FunctionsSpec parity). NULL ss = the key has no grams (empty
    * normalized text): no signature, no LSH (all-empty sigs would
    * otherwise bucket together and pair up); byte-identical empties still
    * dedup via the exact pass. Shared by the batch build and the streaming
    * per-batch new-item pass.
    */
  def signatures(items: DataFrame, conf: FuzzyConf): DataFrame = items
    .select(col("item_id"),
      gf.sigBandsFromKey(col("key"), conf.gramHi,
        conf.minhashHashes, conf.minhashBands, conf.rowsPerBand).as("ss"))
    .filter(col("ss").isNotNull)
    .select(col("item_id"), col("ss.sig").as("sig"), col("ss.simhash").as("simhash"),
      col("ss.band_hashes").as("band_hashes"))
}
