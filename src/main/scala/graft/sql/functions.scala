package graft.sql

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}

/** Column-level building blocks for the engine.
  *
  * Everything here composes Spark BUILT-IN expressions (whole-stage codegen,
  * no UDF in the hot path) — per the Catalyst coverage assessment in
  * SURVEY.md §4. Semantics mirror the reference kernels:
  *
  *  - normText / enclosed / shingles <-> `normalized`/`enclosedIn`/`grams`
  *    (`/root/reference/src/Data/FuzzySet/Internal.hs:191-211`,
  *    `Utils.hs:26-30`)
  *  - levNormSim <-> `distance` (`Internal.hs:231-232`)
  *
  * The MinHash/SimHash family uses a PORTABLE hash (md5 prefix -> 60-bit
  * int, Kirsch-Mitzenmacher double hashing mod a 1e9-scale prime) so the
  * DuckDB correctness oracle can reproduce signatures bit-for-bit in plain
  * SQL. All arithmetic stays within signed-64 range: values < P ~ 1e9 and
  * multipliers <= numHashes keep products < 2^63.
  */
object functions {

  /** Modulus for the portable hash family; small enough that
    * k * (h % P) + (h % P) never overflows Long for k <= 4096.
    */
  val HashP: Long = 1000000007L

  /** Reference `normalized` (Internal.hs:204-211): lowercase, keep Unicode
    * alphanumerics (L* and Nd/Nl/No), whitespace (Haskell isSpace: \t-\r
    * plus category Zs ONLY — GHC does not treat Zl/Zp U+2028/U+2029 as
    * space, so they are dropped) and ','.
    */
  private[sql] val NormDropRegex =
    "[^\\p{L}\\p{Nd}\\p{Nl}\\p{No}\\t\\n\\x0B\\f\\r\\p{Zs},]"

  def normText(c: Column): Column =
    F.regexp_replace(F.lower(c), NormDropRegex, "")

  /** `enclosedIn '-'` (Utils.hs:26-27). */
  def enclosed(c: Column): Column = F.concat(F.lit("-"), c, F.lit("-"))

  /** Character n-grams over the normalized, hyphen-enclosed input
    * (Internal.hs:191-197) — the native codegen expression
    * [[ShinglesExpr]] (see its scaladoc for why the built-in
    * transform/sequence/substr composition is ~70x slower).
    */
  def shingles(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ShinglesExpr(org.apache.spark.sql.GraftColumnBridge.expression(c), n))

  /** Reference `gramVector` (Internal.hs:161-164) as a native expression:
    * array<struct<gram, cnt>> computed map-side — see GramCountsExpr for
    * why this keeps the postings build shuffle-free.
    */
  def gramCounts(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      GramCountsExpr(org.apache.spark.sql.GraftColumnBridge.expression(c), n))

  /** array<struct<probe, cosine>>: the key's cosine against every probe of
    * a broadcast [[ProbeIndex]] it shares a gram with (see ProbeDotsExpr).
    */
  def probeDots(key: Column, n: Int, index: org.apache.spark.broadcast.Broadcast[ProbeIndex]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ProbeDotsExpr(org.apache.spark.sql.GraftColumnBridge.expression(key), n, index))

  /** MinHash signature + SimHash + LSH band tokens of a gram-multiset
    * column in one native pass — struct<sig, simhash, band_hashes>. See
    * [[SigBandsExpr]] for why this is not a UDF.
    */
  def sigBands(gramsCol: Column, numHashes: Int, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      SigBandsExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(gramsCol),
        numHashes, bands, rowsPerBand))

  /** [[sigBands]] fused with the shingling itself — one streaming pass over
    * the KEY, the gram array never materializes; NULL for gram-less keys.
    * See [[SigBandsFromKeyExpr]].
    */
  def sigBandsFromKey(keyCol: Column, n: Int, numHashes: Int, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      SigBandsFromKeyExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(keyCol),
        n, numHashes, bands, rowsPerBand))

  /** The pure-built-in composition of the same kernel — kept for the
    * expression-parity tests and as documentation of the declarative form.
    */
  def shinglesBuiltin(c: Column, n: Int): Column = {
    require(n >= 2, "gram size must be at least 2 (Internal.hs:193)")
    val s = enclosed(normText(c))
    F.when(
      F.length(s) >= n,
      F.transform(
        F.sequence(F.lit(1), F.length(s) - (n - 1)),
        i => s.substr(i, F.lit(n)))
    ).otherwise(F.array().cast("array<string>"))
  }

  /** Normalized Levenshtein SIMILARITY (Internal.hs:231-232):
    * 1 - edits/max(len); both-empty => 1.0.
    */
  def levNormSim(a: Column, b: Column): Column = {
    val maxLen = F.greatest(F.length(a), F.length(b))
    F.when(maxLen === 0, F.lit(1.0))
      .otherwise(F.lit(1.0) - F.levenshtein(a, b).cast("double") / maxLen.cast("double"))
  }

  /** 60-bit positive int from 15 hex chars of md5, offset 1 or 17 within the
    * 32-char digest. Portable: DuckDB `('0x' || substr(md5(x), off, 15))::BIGINT`.
    */
  def h60(c: Column, off: Int): Column = {
    require(off == 1 || off == 17)
    F.conv(F.substring(F.md5(c), off, 15), 16, 10).cast("long")
  }

  /** Per-distinct-gram hash pairs (h1, h2) — the md5 work of a MinHash
    * signature, exactly once per gram. MATERIALIZE THIS AS A COLUMN (its
    * own withColumn/select) before feeding it to [[minhashFromHashes]]:
    * if the md5 expression is nested inside the signature lambda instead,
    * Catalyst re-evaluates it for every one of the numHashes outputs
    * (measured 25x slowdown on the index build).
    */
  def gramHashPairs(gramsCol: Column): Column =
    F.transform(
      F.array_distinct(gramsCol),
      g => F.struct((h60(g, 1) % HashP).as("h1"), (h60(g, 17) % HashP).as("h2")))

  /** MinHash signature from a materialized [[gramHashPairs]] column:
    * hash_k(g) = (h1(g) + k * h2(g)) mod P (Kirsch-Mitzenmacher).
    * An EMPTY array folds to Long.MaxValue components (array_min of an
    * empty array is SQL NULL), keeping this form value-identical to
    * PortableHash.sigAndSimhash's fold identity for gram-less rows; a
    * NULL input stays NULL — manufacturing the identity for NULL rows
    * would give them all the same real signature and identical band
    * tokens, one quadratic LSH bucket per band.
    */
  def minhashFromHashes(hashPairs: Column, numHashes: Int): Column =
    F.when(hashPairs.isNotNull,
      F.transform(
        F.sequence(F.lit(0), F.lit(numHashes - 1)),
        k =>
          F.coalesce(
            F.array_min(
              F.transform(hashPairs, h => (h.getField("h1") + k * h.getField("h2")) % HashP)),
            F.lit(Long.MaxValue))))

  /** One-shot convenience for small/query-scale inputs; index builds use
    * the two-step gramHashPairs -> minhashFromHashes split instead.
    */
  def minhashSig(gramsCol: Column, numHashes: Int): Column =
    minhashFromHashes(gramHashPairs(gramsCol), numHashes)

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * components (stderr ~ sqrt(j(1-j)/H)). Native codegen expression
    * (EstJaccardExpr): the zip_with/aggregate HOF form ran in the
    * expression interpreter per component, and a Seq[Long] UDF boxes 2 x H
    * longs per row — both measured GC drivers on the pair-verification
    * gate, which evaluates this once per candidate pair.
    */
  def estJaccard(sigA: Column, sigB: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      EstJaccardExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(sigA),
        org.apache.spark.sql.GraftColumnBridge.expression(sigB)))

  /** LSH band keys: array of `bands` strings "<band>:<sig[b*r]>,...". A band
    * key equality <=> the r signature rows in that band all agree.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    F.transform(
      F.sequence(F.lit(0), F.lit(bands - 1)),
      b =>
        F.concat(
          b.cast("string"),
          F.lit(":"),
          F.array_join(
            F.transform(
              F.slice(sig, b * rowsPerBand + 1, F.lit(rowsPerBand)),
              v => v.cast("string")),
            ",")))

  /** 60-bit SimHash over the gram MULTISET (array repetitions = weights).
    * bit b of h(g) = (h // 2^b) % 2; fingerprint bit b set iff
    * sum_g (2*bit_b(h(g)) - 1) > 0. Built-ins only; DuckDB replicates with
    * list comprehensions + integer division.
    */
  /** Per-occurrence gram hashes (multiset!) — md5 work of SimHash, once
    * per gram occurrence. Materialize as a column like [[gramHashPairs]].
    */
  def gramHashes(gramsCol: Column): Column =
    F.transform(gramsCol, g => h60(g, 1))

  /** SimHash from a materialized [[gramHashes]] column.
    * bit_b(h) = (h mod 2^(b+1)) >= 2^b — exact long arithmetic throughout
    * (shiftright only takes a literal shift; double division would lose
    * bits above 2^53). pow2 literals indexed by the lambda variable.
    */
  def simhashFromHashes(hs: Column): Column = {
    val pow2 = F.array((0 to 60).map(b => F.lit(1L << b)): _*)
    F.aggregate(
      F.sequence(F.lit(0), F.lit(59)),
      F.lit(0L),
      (acc, b) => {
        val p = F.element_at(pow2, b + 1)
        val p2 = F.element_at(pow2, b + 2)
        val balance = F.aggregate(
          hs,
          F.lit(0L),
          (s, h) => s + F.when(h % p2 >= p, 1L).otherwise(-1L))
        acc + F.when(balance > 0, p).otherwise(F.lit(0L))
      })
  }

  /** One-shot convenience for query-scale inputs. */
  def simhash60(gramsCol: Column): Column = simhashFromHashes(gramHashes(gramsCol))

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column = F.bit_count(a.bitwiseXOR(b))

  /** Polynomial rolling-hash document fingerprint over code points:
    * fold(acc = (acc*31 + ascii(ch)) mod P). Portable to DuckDB
    * list_reduce. Deterministic, order-sensitive (unlike set hashes).
    */
  def rollingFingerprint(c: Column): Column =
    F.when(F.length(c) === 0, F.lit(0L)).otherwise(
      F.aggregate(
        F.sequence(F.lit(1), F.length(c)),
        F.lit(0L),
        (acc, i) => (acc * 31 + F.ascii(c.substr(i, F.lit(1)))) % HashP))

  /** Cosine similarity between two float-array columns (dot / (|a|*|b|)),
    * computed in double precision, left-to-right — matches DuckDB
    * list_reduce order for the oracle.
    */
  def cosineSim(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      F.aggregate(
        F.zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        F.lit(0.0),
        (acc, v) => acc + v)
    dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))
  }
}
