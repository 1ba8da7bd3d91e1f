package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** Input sizes and operation counts. `full` is what the benchmark
  * measures; `tiny` keeps the self-tests fast.
  */
final case class Sizes(
    dedupClips: Int,
    findClips: Int,
    findProbes: Int,
    streamBatch: Int,
    streamBatches: Int,
    setupReps: Int,
    opsMin: Int)

object Sizes {
  val full: Sizes = Sizes(dedupClips = 6000, findClips = 5000, findProbes = 6,
    streamBatch = 500, streamBatches = 2, setupReps = 3, opsMin = 2)
  val tiny: Sizes = Sizes(dedupClips = 600, findClips = 400, findProbes = 3,
    streamBatch = 150, streamBatches = 2, setupReps = 2, opsMin = 2)
}

/** What one workload run needs. `sessionS` is the Spark session start,
  * which every workload's `setup_s` includes.
  */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    scratch: Path,
    sizes: Sizes,
    tracer: Option[Tracer],
    storage: StorageMeter,
    sessionS: Double) {

  def traced: Boolean = tracer.isDefined

  /** `body` as a span of the traced run; a plain call otherwise. */
  def span[T](name: String)(body: => T)(rows: T => Long): T = tracer match {
    case Some(t) => t.span(name)(body)(rows)
    case None => body
  }

  /** The traced run alternates untraced operations (even `i`) with traced
    * ones (odd `i`), so one process measures both walls warm.
    */
  def tracedOp(i: Int): Boolean = traced && i % 2 == 1

  def dir(rel: String): String = scratch.resolve(rel).toString
}

/** A workload's measured figures: its end-to-end metrics for the timed run,
  * and the ratios the traced run adds to the per-layer spans.
  */
final case class Outcome(endToEnd: Seq[Metric], ratios: Map[String, Double], ops: Ops)

trait Workload {
  def run(ctx: Ctx): Outcome
}

object Workload {
  val all: Map[String, Workload] = Map(
    "dedup_batch" -> DedupBatch,
    "find_lookup" -> FindLookup,
    "stream_ingest" -> StreamIngest)
}

object Run {

  /** Builds the run's inputs `setupReps` times from scratch (blocks left
    * by the previous rep are freed, untimed, before each rep), then warms
    * up once on the last rep's inputs. `setup_s` is the session start plus
    * the median rep plus the warm-up; the last rep's value is what the run
    * measures.
    */
  def setup[T](ctx: Ctx)(rep: Int => T)(warm: T => Unit): (Double, T) = {
    val runs = (0 until ctx.sizes.setupReps).map { r =>
      Blocks.release(ctx.spark)
      val t = Stats.timed(rep(r))
      System.err.println(f"perfbench: set-up $r took ${t._1}%.3f s")
      t
    }
    val value = runs.last._2
    val (warmS, _) = Stats.timed(warm(value))
    System.err.println(f"perfbench: warm-up took $warmS%.3f s")
    (ctx.sessionS + Stats.median(runs.map(_._1)) + warmS, value)
  }

  /** Closed loop, one client: the next operation starts when the previous
    * one returned, until `ctx.seconds` have passed and at least `opsMin`
    * operations ran.
    */
  def loop(ctx: Ctx)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < ctx.sizes.opsMin || Stats.seconds(t0) < ctx.seconds) {
      op(i)
      i += 1
    }
  }

  def endToEnd(ctx: Ctx, setupS: Double, clipsPerS: Double, latencyS: Double, recall: Double)
      : Seq[Metric] = {
    org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("clips_per_s", clipsPerS, "1/s"),
      Metric("latency_p50_s", latencyS, "s"),
      Metric("recall", recall, "ratio"),
      Metric("storage_peak_bytes", ctx.storage.peak.toDouble, "bytes"))
  }
}
