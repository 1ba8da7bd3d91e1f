package graft.perfbench

import graft.api.FuzzyPipeline
import graft.conf.FuzzyConf
import graft.text.FuzzySetRef

import scala.collection.mutable.ArrayBuffer

/** A probe string; `source` is the corpus transcript it was made from
  * (None for unrelated strings).
  */
final case class Probe(id: String, query: String, source: Option[String])

/** Closed-loop lookup requests of `findProbes` probes each through
  * `FuzzyPipeline.findMin(0.33, ...)` against an index built during set-up.
  */
object FindLookup extends Workload {

  val MinScore = 0.33

  /** Request `req`'s probes: equal shares of three kinds, in seeded order
    * and from seeded corpus rows. Exact corpus keys take the exact
    * short-circuit, corpus transcripts with one substituted letter hit at
    * gram size 3, and unrelated letter strings fall through to gram size 2
    * or miss. A fixed mix gives every request the same cascade shape.
    */
  def probes(corpus: IndexedSeq[String], seed: Long, req: Int, k: Int): Seq[Probe] = {
    require(k % 3 == 0, s"findProbes must be a multiple of 3, got $k")
    val rng = new java.util.Random(seed * 1000003L + req)
    def letter(): Char = ('a' + rng.nextInt(26)).toChar
    val kinds = new scala.util.Random(rng.nextLong()).shuffle((0 until k).map(_ % 3))
    kinds.zipWithIndex.map { case (kind, j) =>
      val id = s"r${req}_q$j"
      kind match {
        case 0 =>
          val s = corpus(rng.nextInt(corpus.size))
          Probe(id, s, Some(s))
        case 1 =>
          val s = corpus(rng.nextInt(corpus.size))
          val pos = rng.nextInt(s.length)
          val c = letter()
          Probe(id, s.updated(pos, if (c == s(pos)) ((c - 'a' + 1) % 26 + 'a').toChar else c),
            Some(s))
        case _ =>
          val words = Seq.fill(2 + rng.nextInt(3))(Seq.fill(4 + rng.nextInt(5))(letter()).mkString)
          Probe(id, words.mkString(" "), None)
      }
    }
  }

  def request(p: FuzzyPipeline, ps: Seq[Probe]): Seq[FindRow] = {
    val spark = p.spark
    import spark.implicits._
    p.findMin(MinScore, ps.map(x => (x.id, x.query)).toDF("query_id", "query"))
      .collect().toSeq
      .map(r => FindRow(r.getString(0), r.getDouble(1), r.getString(2),
        r.getAs[Number](3).intValue))
  }

  /** Every probe's rows must equal the reference's on (rounded score,
    * matched, gram size).
    */
  def problems(ref: FuzzySetRef, ps: Seq[Probe], rows: Seq[FindRow]): Seq[String] = {
    val expected = ps.flatMap(x => Checks.oracleRows(ref, x.id, x.query, MinScore))
    Checks.findMismatches(expected, rows)
      .map(q => s"find_lookup rows for probe $q differ from the reference")
  }

  /** Share of probes made from a corpus transcript whose rows return it. */
  def sourceRecall(asked: Seq[Probe], rows: Seq[FindRow]): Double = {
    val sourced = asked.filter(_.source.isDefined)
    if (sourced.isEmpty) 1.0
    else {
      val matched = rows.groupBy(_.queryId).view.mapValues(_.map(_.matched).toSet).toMap
      sourced.count(x => matched.getOrElse(x.id, Set.empty).contains(x.source.get))
        .toDouble / sourced.size
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val n = ctx.sizes.findClips
    val k = ctx.sizes.findProbes
    val corpus = Inputs.transcripts(n, ctx.seed)
    val (setupS, (pipeline, index)) = Run.setup(ctx) { r =>
      val dir = ctx.dir(s"find/rep$r/clips")
      Inputs.table(spark, n, ctx.seed, includeAudio = false)
        .select("clip_id", "transcript")
        .write.parquet(dir)
      val p = FuzzyPipeline(spark, spark.read.parquet(dir), "clip_id", "transcript",
        FuzzyConf.default)
      ctx.span("index.items")(p.index.items.count())(identity)
      (p, Blocks.persistedIds(spark))
    } { case (p, index) =>
      request(p, probes(corpus, ctx.seed, -1, k))
      Blocks.release(spark, index)
    }

    val ops = new Ops
    val walls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    val done = ArrayBuffer.empty[(Seq[Probe], Seq[FindRow])]
    ctx.storage.resetPeak()
    Run.loop(ctx) { i =>
      val ps = probes(corpus, ctx.seed, i, k)
      val traced = ctx.tracedOp(i)
      ops.attempt {
        if (traced) ctx.span("find")(request(pipeline, ps))(_.size.toLong)
        else request(pipeline, ps)
      }.foreach { case (w, rows) =>
        (if (traced) tracedWalls else walls) += w
        done += ((ps, rows))
      }
      Blocks.release(spark, index)
    }

    // every request is checked against the in-memory reference over the
    // same corpus, after the timed loop
    val (checkS, _) = Stats.timed {
      val ref = FuzzySetRef.fromList(corpus)
      done.foreach { case (ps, rows) => ops.check(problems(ref, ps, rows)) }
    }
    System.err.println(f"perfbench: reference check took $checkS%.3f s")
    val asked = done.flatMap(_._1).toSeq
    val rows = done.flatMap(_._2).toSeq
    val p50 = Stats.medianOr0(walls.toSeq)
    val ratios = ctx.tracer.map { t =>
      t.drain()
      val finds = t.spans.filter(_.name == "find")
      Map(
        "find.records_per_result" ->
          finds.map(_.recordsRead).sum.toDouble / math.max(1L, rows.size),
        "trace.traced_wall_s" -> Stats.medianOr0(tracedWalls.toSeq),
        "trace.untraced_wall_s" -> p50)
    }.getOrElse(Map.empty)
    val e2e = Run.endToEnd(ctx, setupS,
      if (walls.isEmpty) 0.0 else walls.size * k / walls.sum, p50, sourceRecall(asked, rows))
    Outcome(e2e, ratios, ops)
  }
}
