package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.api.FuzzyPipeline
import graft.conf.FuzzyConf
import graft.text.FuzzySetRef
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark: tiny runs of every workload report every
  * named metric with its unit, and a corrupted output trips the matching
  * check.
  *
  * {{{
  * cd perfbench && sbt test
  * }}}
  */
class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = Paths.get(sys.props.getOrElse("perfbench.dir", "."))
  private val scratch = Files.createTempDirectory(
    Files.createDirectories(dir.resolve("target")), "perfbench-spec")
  private lazy val spark = Main.session(2, scratch)
  private val seed = 7L

  override def afterAll(): Unit = {
    spark.stop()
    graft.io.TableIO.deleteRecursively(scratch)
  }

  /** (name, unit) pairs a section of BENCHMARK.json declares. */
  private def declared(section: String): Seq[(String, String)] = {
    implicit val formats: Formats = DefaultFormats
    val doc = JsonMethods.parse(new String(Files.readAllBytes(dir.resolve("../BENCHMARK.json")), "UTF-8"))
    (doc \ section).extract[List[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString)
  }

  private def args(workload: String, trace: Boolean) = Main.Args(
    workload, seed, seconds = 0.0, trace, cores = 2,
    scratch.resolve(s"$workload-$trace"), traceOut = None, Sizes.tiny)

  private def ctx(name: String) = Ctx(spark, seed, 0.0, scratch.resolve(name), Sizes.tiny,
    tracer = None, new StorageMeter, sessionS = 0.0)

  test("every seed plants about 10% duplicate rows, each a real ClipSynth row") {
    for (s <- Seq(1L, 7L, 11L, 14L, 42L)) {
      val share = Inputs.plantedPairs(6000, s).size / 6000.0
      assert(share > 0.08 && share < 0.12, s"seed $s plants $share")
    }
    val rows = Inputs.rows(600, seed)
    assert(rows.distinct.size == 600)
    assert(Inputs.table(spark, 600, seed, includeAudio = false).select("clip_id").collect()
      .map(_.getString(0)).toSeq == rows.map(Inputs.clipId))
  }

  test("the metric catalogue is the one BENCHMARK.json declares") {
    val e2e = declared("end_to_end")
    assert(e2e.map(_._1).toSet ==
      Set("setup_s", "clips_per_s", "latency_p50_s", "recall", "storage_peak_bytes"))
    assert(declared("per_layer") == Layers.catalogue.map { case (n, u, _) => n -> u })
  }

  for (workload <- Workload.all.keys.toSeq.sorted) {
    test(s"$workload: a tiny run passes its checks and reports every end-to-end metric") {
      val (r, _) = Main.run(spark, args(workload, trace = false), sessionS = 0.1)
      assert(r.correct && r.failed == 0 && r.attempted >= 2, r)
      assert(r.metrics.map(m => m.name -> m.unit) == declared("end_to_end"))
      assert(r.metrics.forall(m => m.value > 0), r.metrics)
      assert(r.metrics.find(_.name == "recall").get.value == 1.0)
    }

    test(s"$workload: a tiny traced run reports every per-layer metric") {
      val (r, tracer) = Main.run(spark, args(workload, trace = true), sessionS = 0.1)
      assert(r.correct && r.failed == 0, r)
      assert(r.metrics.map(m => m.name -> m.unit) == declared("per_layer"))
      assert(tracer.get.spans.nonEmpty)
      assert(r.metrics.find(_.name == "trace.traced_wall_s").get.value > 0)
    }
  }

  test("dedup_batch: one removed planted edge or one failed invariant row trips the check") {
    val c = ctx("dedup-corrupt")
    val n = c.sizes.dedupClips
    val input = c.dir("clips")
    Inputs.table(spark, n, seed, includeAudio = false).select("clip_id", "transcript")
      .write.parquet(input)
    val (labels, passes) = DedupBatch.job(c, input, n)
    val planted = Inputs.plantedPairs(n, seed)
    assert(planted.size < 100, "one missed pair must cost more than 1% recall")
    assert(DedupBatch.problems(labels, passes, planted, n).isEmpty)
    // the partner of one planted pair loses its edge: it becomes a singleton
    val (_, partner) = planted.head
    assert(DedupBatch.problems(labels.updated(partner, partner), passes, planted, n).nonEmpty)
    assert(DedupBatch.problems(labels, passes - 1, planted, n).nonEmpty)
  }

  test("find_lookup: one altered or missing lookup row trips the reference check") {
    val c = ctx("find-corrupt")
    val n = c.sizes.findClips
    val corpus = Inputs.transcripts(n, seed)
    val input = c.dir("clips")
    Inputs.table(spark, n, seed, includeAudio = false)
      .select("clip_id", "transcript").write.parquet(input)
    val p = FuzzyPipeline(spark, spark.read.parquet(input), "clip_id", "transcript",
      FuzzyConf.default)
    val ps = FindLookup.probes(corpus, seed, 0, 6)
    val rows = FindLookup.request(p, ps)
    val ref = FuzzySetRef.fromList(corpus)
    assert(FindLookup.problems(ref, ps, rows).isEmpty)
    val altered = rows.updated(0, rows.head.copy(score = rows.head.score - 0.01))
    assert(FindLookup.problems(ref, ps, altered).nonEmpty)
    assert(FindLookup.problems(ref, ps, rows.tail).nonEmpty)
  }

  test("stream_ingest: a planted exact or typo pair split across labels trips the check") {
    val total = 2000
    val exact = Inputs.plantedPairs(total, seed, Set("exact"))
    val typo = Inputs.plantedPairs(total, seed, Set("typo"))
    assert(typo.size < 100, "one missed typo pair must cost more than 1% recall")
    val together = (exact ++ typo).flatMap { case (a, b) => Seq(a -> a, b -> a) }.toMap
    assert(StreamIngest.problems(together, exact, typo).isEmpty)
    val (_, e) = exact.head
    assert(StreamIngest.problems(together.updated(e, e), exact, typo).nonEmpty)
    val (_, t) = typo.head
    assert(StreamIngest.problems(together.updated(t, t), exact, typo).nonEmpty)
  }
}
