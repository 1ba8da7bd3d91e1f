package graft.perfbench

import graft.conf.FuzzyConf
import graft.streaming.StreamDedup
import org.apache.spark.sql.functions.{col, udf}

import scala.collection.mutable.ArrayBuffer

/** Closed-loop micro-batches through `StreamDedup.processBatch` into a
  * fresh state dir, then one `StreamDedup.labels`. A `foreachBatch`
  * trigger starts the next batch only after the previous one finished, so
  * the loop is closed by construction. Every run ingests all
  * `streamBatches` batches: each batch costs more as state grows, so a
  * time-bounded loop would compare different amounts of state.
  */
object StreamIngest extends Workload {

  /** Which micro-batch row `i` arrives in: a seeded hash, so a planted
    * pair's two rows often arrive in different batches and the second one
    * must be matched against state.
    */
  def batchOf(i: Long, seed: Long, batches: Int): Int = {
    var h = (i + 0x632BE59BD9B4E019L * (seed + 1)) * 0x9E3779B97F4A7C15L
    h ^= h >>> 31
    Math.floorMod(h, batches.toLong).toInt
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val conf = FuzzyConf.default
    val batches = ctx.sizes.streamBatches
    val total = ctx.sizes.streamBatch * batches
    val seed = ctx.seed
    def batchPath(dir: String, b: Int) = s"$dir/batch=$b"
    def ingest(dir: String, b: Int, state: String): Unit =
      StreamDedup.processBatch(spark.read.parquet(batchPath(dir, b)), b, "clip_id", "transcript",
        conf, state)

    val (setupS, input) = Run.setup(ctx) { r =>
      val dir = ctx.dir(s"stream/rep$r/in")
      val batch = udf((id: String) => batchOf(id.stripPrefix("clip_").toLong, seed, batches))
      Inputs.table(spark, total, seed, includeAudio = false)
        .select(col("clip_id"), col("transcript"), batch(col("clip_id")).as("batch"))
        .write.partitionBy("batch").parquet(dir)
      dir
    }(dir => ingest(dir, 0, ctx.dir("stream/warm-state")))
    Blocks.release(spark)

    val batchRows = spark.read.parquet(input).groupBy("batch").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val state = ctx.dir("stream/state")
    val ops = new Ops
    // batch b's cost depends on the state the earlier batches left, so the
    // traced run first ingests every batch untraced into a state of its
    // own, then every batch traced
    val untracedWalls = ArrayBuffer.empty[Double]
    if (ctx.traced) (0 until batches).foreach { b =>
      ops.attempt(ingest(input, b, ctx.dir("stream/untraced-state")))
        .foreach { case (w, _) => untracedWalls += w }
    }
    Blocks.release(spark)
    val walls = ArrayBuffer.empty[Double]
    ctx.storage.resetPeak()
    (0 until batches).foreach { b =>
      ops.attempt(ctx.span("stream.batch")(ingest(input, b, state))(_ => batchRows(b)))
        .foreach { case (w, _) => walls += w }
    }
    val labelled = ops.attempt(ctx.span("stream.labels")(
      StreamDedup.labels(spark, state).collect())(_.length.toLong))

    // planted exact and typo pairs must share a label; drop-kind pairs need
    // the batch substring pass, which streaming leaves to compaction
    val exactPairs = Inputs.plantedPairs(total, seed, Set("exact"))
    val typoPairs = Inputs.plantedPairs(total, seed, Set("typo"))
    val recall = labelled match {
      case Some((_, rows)) =>
        val labels = rows.iterator.map(r => r.getString(0) -> r.getString(1)).toMap
        ops.check(problems(labels, exactPairs, typoPairs))
        Checks.pairRecall(labels, exactPairs ++ typoPairs)
      case None => 0.0
    }

    val wall = walls.sum + labelled.map(_._1).getOrElse(0.0)
    val p50 = Stats.medianOr0(walls.toSeq)
    val ratios = ctx.tracer.map { t =>
      t.drain()
      val inputBytes = (0 until batches).map(b => dirBytes(batchPath(input, b))).sum
      val written = t.spans.filter(_.name == "stream.batch").map(_.bytesWritten).sum
      Map(
        "stream.write_bytes_per_input_byte" -> written.toDouble / math.max(1L, inputBytes),
        "trace.traced_wall_s" -> p50,
        "trace.untraced_wall_s" -> Stats.medianOr0(untracedWalls.toSeq))
    }.getOrElse(Map.empty)
    val e2e = Run.endToEnd(ctx, setupS, if (wall > 0) total / wall else 0.0, p50, recall)
    Outcome(e2e, ratios, ops)
  }

  /** Every planted exact pair must share a label, and at least 99% of the
    * typo pairs (their candidates come from LSH and SimHash).
    */
  def problems(labels: Map[String, String], exact: Seq[(String, String)],
      typo: Seq[(String, String)]): Seq[String] = {
    val exactRecall = Checks.pairRecall(labels, exact)
    val typoRecall = Checks.pairRecall(labels, typo)
    Seq(
      Option.when(exactRecall < 1.0)(s"stream_ingest exact-pair recall $exactRecall < 1"),
      Option.when(typoRecall < 0.99)(s"stream_ingest typo-pair recall $typoRecall < 0.99"))
      .flatten
  }

  private def dirBytes(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => java.nio.file.Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally s.close()
  }
}
