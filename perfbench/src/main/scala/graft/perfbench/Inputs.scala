package graft.perfbench

import graft.audio.ClipSynth
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's seeded clip tables: `n` rows of `ClipSynth`'s row plan,
  * taken as `n / 2` (base, partner-slot) row pairs whose base indices are
  * spread over a 1e11-row range by a seeded bijection.
  *
  * Why not `ClipSynth.table(n, seed)`, rows 0 to n-1: whether base b gets a
  * planted partner is the first draw of `java.util.Random(seed * 104729 +
  * b)`, and first draws of consecutive seeds are strongly correlated. Over a
  * few thousand consecutive rows the planted share therefore swings with the
  * seed, from none (seed 14 at 6000 rows) to two thirds of the bases
  * (seed 11), instead of the designed ~20%. Spread-out bases restore ~20%
  * for every seed, so every run plants about 10% duplicate rows. Each row is
  * still exactly `ClipSynth.clipAt(i, seed)`, so ids, ground truth and the
  * audio invariant's expected transcripts are unchanged.
  */
object Inputs {

  private val Bases = 100000000000L // base indices b < 1e11, so clip ids keep 12 digits
  private val Stride = 48271191627L // coprime with 1e11: distinct j give distinct b

  def baseAt(j: Long, seed: Long): Long =
    Math.floorMod(Math.floorMod(seed * 0x9E3779B97F4A7C15L, Bases) + j * Stride, Bases)

  /** Row indices of the n-row table, in table order. */
  def rows(n: Int, seed: Long): IndexedSeq[Long] = {
    require(n % 2 == 0, s"clip count must be even, got $n")
    (0 until n / 2).flatMap { j =>
      val b = baseAt(j, seed)
      Seq(2 * b, 2 * b + 1)
    }
  }

  def table(spark: SparkSession, n: Int, seed: Long, includeAudio: Boolean): DataFrame = {
    import spark.implicits._
    require(n % 2 == 0, s"clip count must be even, got $n")
    spark.range(n / 2)
      .flatMap { j =>
        val b = baseAt(j, seed)
        Seq(ClipSynth.clipAt(2 * b, seed, includeAudio), ClipSynth.clipAt(2 * b + 1, seed, includeAudio))
      }
      .toDF()
  }

  def transcripts(n: Int, seed: Long): IndexedSeq[String] =
    rows(n, seed).map(i => ClipSynth.clipAt(i, seed, includeAudio = false).transcript)

  def clipId(i: Long): String = f"clip_$i%012d"

  /** Planted (base, partner) clip-id pairs of the n-row table, optionally
    * restricted to some duplicate kinds.
    */
  def plantedPairs(n: Int, seed: Long, kinds: Set[String] = Set("exact", "typo", "drop"))
      : Seq[(String, String)] =
    rows(n, seed).filter(_ % 2 == 1).flatMap { i =>
      val c = ClipSynth.clipAt(i, seed, includeAudio = false)
      if (kinds(c.dup_kind) && c.base_idx != i) Some((clipId(c.base_idx), clipId(i))) else None
    }
}
