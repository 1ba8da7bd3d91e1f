package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one seeded workload run against the engine's
  * public API, printing every metric by name and unit and, as the last
  * stdout line, one JSON result object. Exits nonzero when an operation
  * failed or an output check did not hold.
  *
  * {{{
  * Main --workload dedup_batch|find_lookup|stream_ingest --seed N --seconds S
  *      --trace 0|1 --cores C --scratch DIR [--trace-out FILE]
  * }}}
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      cores: Int,
      scratch: Path,
      traceOut: Option[Path],
      sizes: Sizes = Sizes.full)

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).toSeq
    require(kv.forall(_.size == 2), s"arguments come in --name value pairs: ${argv.mkString(" ")}")
    def one(name: String) = kv.collect { case Seq(`name`, v) => v }.lastOption
    def need(name: String) = one(name).getOrElse(throw new IllegalArgumentException(s"missing $name"))
    val workload = need("--workload")
    require(Workload.all.contains(workload), s"unknown workload '$workload'")
    Args(
      workload = workload,
      seed = need("--seed").toLong,
      seconds = need("--seconds").toDouble,
      trace = need("--trace") == "1",
      cores = one("--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      scratch = Paths.get(need("--scratch")).toAbsolutePath,
      traceOut = one("--trace-out").map(Paths.get(_).toAbsolutePath))
  }

  def session(cores: Int, scratch: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir", scratch.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // span and storage accounting read every task and block event
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs one workload in an existing session and returns the metrics the
    * run reports: the end-to-end set, or with tracing the per-layer set.
    */
  def run(spark: SparkSession, a: Args, sessionS: Double): (Result, Option[Tracer]) = {
    val storage = new StorageMeter
    spark.sparkContext.addSparkListener(storage)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    try {
      val ctx = Ctx(spark, a.seed, a.seconds, a.scratch, a.sizes, tracer, storage, sessionS)
      val out = Workload.all(a.workload).run(ctx)
      val metrics = tracer match {
        case Some(t) =>
          t.drain()
          Layers.metrics(t.spans, a.cores, out.ratios)
        case None => out.endToEnd
      }
      (Result(metrics, out.ops.attempted, out.ops.failed, out.ops.correct), tracer)
    } finally {
      spark.sparkContext.removeSparkListener(storage)
      tracer.foreach { t =>
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val t0 = System.nanoTime()
    val spark = session(a.cores, a.scratch)
    val sessionS = Stats.seconds(t0)
    System.err.println(f"perfbench: session started in $sessionS%.3f s")
    val (result, tracer) =
      try run(spark, a, sessionS)
      finally spark.stop()
    tracer.zip(a.traceOut).foreach { case (t, path) => writeTrace(path, a, t) }
    result.metrics.foreach(m => println(s"metric ${a.workload} ${m.name} ${m.value} ${m.unit}"))
    println(s"metric ${a.workload} error_rate ${result.errorRate} ratio")
    println(Json.result(result))
    if (!result.correct || result.failed > 0) sys.exit(1)
  }

  /** Every span of the traced run, one object per occurrence. */
  private def writeTrace(path: Path, a: Args, t: Tracer): Unit = {
    val rows = t.spans.map { s =>
      Json.obj(Seq(
        "span" -> Json.str(s.name),
        "start_s" -> Json.num((s.startNs - t.spans.head.startNs) / 1e9),
        "wall_s" -> Json.num(s.wallS),
        "rows_out" -> Json.num(s.rowsOut.toDouble),
        "jobs" -> Json.num(s.jobs.toDouble),
        "tasks" -> Json.num(s.tasks.toDouble),
        "run_s" -> Json.num(s.runNs / 1e9),
        "gc_s" -> Json.num(s.gcMs / 1e3),
        "plan_s" -> Json.num(s.planMs / 1e3),
        "shuffle_bytes" -> Json.num(s.shuffleBytes.toDouble),
        "spill_bytes" -> Json.num(s.spillBytes.toDouble),
        "records_read" -> Json.num(s.recordsRead.toDouble),
        "bytes_written" -> Json.num(s.bytesWritten.toDouble)))
    }
    val doc = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> Json.num(a.seed.toDouble),
      "cores" -> Json.num(a.cores.toDouble),
      "spans" -> rows.mkString("[\n", ",\n", "\n]")))
    Files.createDirectories(path.getParent)
    Files.write(path, (doc + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** The few JSON shapes the benchmark prints. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(r: Result): String = obj(Seq(
    "correct" -> r.correct.toString,
    "attempted" -> r.attempted.toString,
    "failed" -> r.failed.toString,
    "metrics" -> obj(r.metrics.map(m =>
      m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))))
}
