package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerUnpersistRDD}
import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** One run's outcome: the metrics it reports plus the operation counts the
  * error rate is built from. `correct` is false as soon as one output check
  * failed.
  */
final case class Result(metrics: Seq[Metric], attempted: Long, failed: Long, correct: Boolean) {
  def errorRate: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Median, or 0 when every operation failed (the run then reports
    * failure anyway).
    */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wall seconds of `body` together with its value. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    (seconds(t0), v)
  }
}

/** Failure accounting per operation: an operation fails when it throws or
  * when its output check returns false. Spark log lines are never counted —
  * a task still running when the session stops can log an error that is
  * not an operation failure.
  */
final class Ops {
  private var attemptedN = 0L
  private var failedN = 0L
  private var checksOk = true

  def attempted: Long = attemptedN
  def failed: Long = failedN
  def correct: Boolean = checksOk

  /** Runs one operation; returns its wall seconds and its value, or None
    * when it threw (the failure is counted, the run goes on).
    */
  def attempt[T](body: => T): Option[(Double, T)] = {
    attemptedN += 1
    try {
      val r = Stats.timed(body)
      System.err.println(f"perfbench: operation $attemptedN took ${r._1}%.3f s")
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        failedN += 1
        checksOk = false
        System.err.println(s"perfbench: operation failed: $e")
        None
    }
  }

  /** Records the output check of an operation that already counted as
    * attempted: any problem fails the operation once.
    */
  def check(problems: Seq[String]): Unit =
    if (problems.nonEmpty) {
      failedN += 1
      checksOk = false
      problems.foreach(p => System.err.println(s"perfbench: check failed: $p"))
    }
}

/** Peak bytes Spark's block manager holds for cached or checkpointed (RDD)
  * blocks, from `SparkListenerBlockUpdated`: each update replaces the
  * block's previous size and a dropped block reports size 0. Unpersisting
  * a whole RDD removes its blocks without block updates, so
  * `SparkListenerUnpersistRDD` drops them here.
  */
final class StorageMeter extends SparkListener {
  // (rdd id, block name) -> bytes in memory plus on disk
  private val held = scala.collection.mutable.HashMap.empty[(Int, String), Long]
  private var total = 0L
  private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val key = (id.rddId, s"${info.blockManagerId.executorId}/${id.name}")
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      total += now - held.getOrElse(key, 0L)
      if (now == 0L) held.remove(key) else held.update(key, now)
      peakBytes = math.max(peakBytes, total)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = held.keys.filter(_._1 == e.rddId).toList
    gone.foreach(k => total -= held.remove(k).getOrElse(0L))
  }

  /** Starts a new peak window at the bytes held right now. */
  def resetPeak(): Unit = synchronized { peakBytes = total }
  def peak: Long = synchronized { peakBytes }
}

object Blocks {
  def persistedIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Frees every persisted or checkpointed RDD except `keep`. The engine
    * keeps a pipeline's local checkpoints until the pipeline object is
    * garbage collected; releasing them right after each operation makes
    * the held bytes independent of when the JVM happens to collect.
    */
  def release(spark: SparkSession, keep: Set[Int] = Set.empty): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
    PerfbenchBus.drain(spark.sparkContext)
  }
}
