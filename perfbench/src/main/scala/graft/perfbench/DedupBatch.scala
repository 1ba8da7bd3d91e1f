package graft.perfbench

import graft.api.FuzzyPipeline
import graft.audio.Invariant
import graft.conf.FuzzyConf
import graft.stage.{Candidates, Cluster, FindStage, IndexBuild, Scratch}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** The north-rule job, repeated as whole jobs: `Invariant.check` over the
  * audio table, overlapped with `FuzzyPipeline(...).clusters()` over the
  * transcript projection. The transcripts are written once per set-up as
  * parquet; the audio table stays synthesized in the plan, because
  * `Invariant` regenerates each row's clean signal anyway.
  */
object DedupBatch extends Workload {

  private type Labels = Map[String, String]

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val n = ctx.sizes.dedupClips
    val (setupS, input) = Run.setup(ctx) { r =>
      val dir = ctx.dir(s"dedup/rep$r/clips")
      Inputs.table(spark, n, ctx.seed, includeAudio = false)
        .select("clip_id", "transcript")
        .write.parquet(dir)
      dir
    }(dir => job(ctx, dir, n))
    Blocks.release(spark)
    val planted = Inputs.plantedPairs(n, ctx.seed)
    val ops = new Ops
    val jobWalls = ArrayBuffer.empty[Double]
    val passWalls = ArrayBuffer.empty[Double]
    val spanSums = ArrayBuffer.empty[Double]
    val iterations = ArrayBuffer.empty[Double]
    val recalls = ArrayBuffer.empty[Double]

    def checked(labels: Labels, passes: Long): Unit = {
      recalls += Checks.pairRecall(labels, planted)
      ops.check(problems(labels, passes, planted, n))
    }

    ctx.storage.resetPeak()
    Run.loop(ctx) { i =>
      // traced operations are layer-by-layer passes
      ctx.tracer.filter(_ => ctx.tracedOp(i)) match {
        case None =>
          ops.attempt(job(ctx, input, n)).foreach { case (w, (labels, passes)) =>
            jobWalls += w
            checked(labels, passes)
          }
        case Some(t) =>
          ops.attempt(layers(ctx, t, input, n)).foreach { case (w, (labels, passes, iters, sum)) =>
            passWalls += w
            spanSums += sum
            iterations += iters
            checked(labels, passes)
          }
      }
      Blocks.release(spark)
    }

    val jobP50 = Stats.medianOr0(jobWalls.toSeq)
    val ratios = ctx.tracer.map { t =>
      def rows(name: String) = t.spans.filter(_.name == name).map(_.rowsOut).sum.toDouble
      Map(
        "verify.yield" -> rows("verify") / math.max(1.0, rows("cand.fused")),
        "cand.pairs_per_item" -> rows("cand.fused") / math.max(1.0, rows("index.items")),
        "cc.iterations" -> Stats.medianOr0(iterations.toSeq),
        "pipeline.overlap_s" -> (Stats.medianOr0(spanSums.toSeq) - jobP50),
        "trace.traced_wall_s" -> Stats.medianOr0(passWalls.toSeq),
        "trace.untraced_wall_s" -> jobP50)
    }.getOrElse(Map.empty)

    val e2e = Run.endToEnd(ctx, setupS, if (jobP50 > 0) n / jobP50 else 0.0, jobP50,
      if (recalls.isEmpty) 0.0 else recalls.min)
    Outcome(e2e, ratios, ops)
  }

  /** Planted-pair recall must reach 0.99 and every clip must pass the
    * audio invariant.
    */
  def problems(labels: Labels, passes: Long, planted: Seq[(String, String)], n: Int)
      : Seq[String] = {
    val recall = Checks.pairRecall(labels, planted)
    Seq(
      Option.when(recall < 0.99)(s"dedup_batch planted-pair recall $recall < 0.99"),
      Option.when(passes != n)(s"dedup_batch invariant passes $passes != $n clips")).flatten
  }

  private def audioPasses(ctx: Ctx, n: Int): Long =
    Invariant.check(Inputs.table(ctx.spark, n, ctx.seed, includeAudio = true), ctx.seed)
      .filter("pcm_ok and transcript_ok")
      .count()

  private def labelsOf(df: DataFrame, id: String): Labels =
    df.select(col(id), col("component")).collect().iterator
      .map(r => r.getString(0) -> r.getString(1)).toMap

  /** One whole job: the audio invariant on its own thread and scheduler
    * pool, overlapped with clustering on this one. Returns the labels and
    * the invariant's passing-row count.
    */
  def job(ctx: Ctx, input: String, n: Int): (Labels, Long) = {
    val spark = ctx.spark
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val audio = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", "perfbench-audio")
          audioPasses(ctx, n)
        }
      })
      val clusters = FuzzyPipeline(spark, spark.read.parquet(input), "clip_id", "transcript",
        FuzzyConf.default).clusters()
      (labelsOf(clusters, "clip_id"), audio.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    }
  }

  /** The same work as [[job]], one layer at a time on materialized inputs,
    * each call its own span. Returns labels, invariant passes, the
    * connected-components iteration count and the sum of the span walls.
    */
  def layers(ctx: Ctx, t: Tracer, input: String, n: Int): (Labels, Long, Int, Double) = {
    val before = t.spans.size
    val conf = FuzzyConf.default
    val scratch = new Scratch
    def mat(df: DataFrame): DataFrame = df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    val idx = IndexBuild(ctx.spark.read.parquet(input), "clip_id", "transcript", conf,
      (stage, df) =>
        if (Set("items", "members", "sigs")(stage)) t.span(s"index.$stage")(mat(df))(_.count())
        else df)
    val pairs = t.span("cand.fused")(mat(Candidates.fusedPairs(
      idx.sigs, maxHamming = 3, conf.maxBandBucket, conf.saltChunk, conf.maxSaltedBucket,
      scratch)))(_.count())
    val fuzzy = t.span("verify")(mat(FindStage.verifyPairs(pairs, idx, conf.minScore, scratch)))(
      _.count())
    val exact = t.span("cand.exact")(mat(Candidates.exactEdges(idx.members)))(_.count())
    val substr = t.span("cand.substr")(mat(Candidates.substringPairs(
      idx.items, conf.substringPrefixLen, conf.substringMinRatio, conf.maxBandBucket,
      scratch)))(_.count())
    scratch.release()
    val edges = exact.unionByName(fuzzy).unionByName(substr).select("a_id", "b_id")
    val (labels, iters) = t.span("cc") {
      val (labeled, it) = Cluster.connectedComponentsWithStats(
        idx.members.select(col("clip_id").as("id")), edges)
      (labelsOf(labeled, "id"), it)
    }(_._1.size.toLong)
    val passes = t.span("audio")(audioPasses(ctx, n))(identity)
    (labels, passes, iters, t.spans.drop(before).map(_.wallS).sum)
  }
}
