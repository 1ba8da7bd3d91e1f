package graft.perfbench

/** The per-layer metric catalogue. Every traced run reports all of it; a
  * span its workload never enters reports zeros (that layer did no work),
  * which is itself the "no change on this workload" prediction.
  */
object Layers {
  val spans: Seq[String] = Seq(
    "index.items", "index.members", "index.sigs", "cand.fused", "cand.exact", "cand.substr",
    "verify", "cc", "audio", "find", "stream.batch", "stream.labels")

  /** (suffix, unit, better) of each per-span field. */
  val fields: Seq[(String, String, String)] = Seq(
    ("wall_s", "s", "lower"),
    ("rows_out", "rows", "higher"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("plan_s", "s", "lower"),
    ("shuffle_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("gc_frac", "ratio", "lower"),
    ("busy_frac", "ratio", "higher"))

  /** (name, unit, better) of the ratios and trace-level figures. */
  val ratios: Seq[(String, String, String)] = Seq(
    ("verify.yield", "ratio", "higher"),
    ("cand.pairs_per_item", "ratio", "lower"),
    ("find.records_per_result", "ratio", "lower"),
    ("stream.write_bytes_per_input_byte", "ratio", "lower"),
    ("cc.iterations", "count", "lower"),
    ("pipeline.overlap_s", "s", "higher"),
    ("trace.traced_wall_s", "s", "lower"),
    ("trace.untraced_wall_s", "s", "lower"))

  /** Every per-layer metric name with its unit and direction. */
  def catalogue: Seq[(String, String, String)] =
    spans.flatMap(s => fields.map { case (f, u, b) => (s"$s.$f", u, b) }) ++ ratios

  /** Per-span figures are medians over the span's occurrences (one per
    * request, batch or layer pass); ratios come from the workload.
    */
  def metrics(spans: Seq[Span], cores: Int, ratioValues: Map[String, Double]): Seq[Metric] = {
    val byName = spans.groupBy(_.name)
    def fieldOf(s: Span, f: String): Double = f match {
      case "wall_s" => s.wallS
      case "rows_out" => s.rowsOut.toDouble
      case "jobs" => s.jobs.toDouble
      case "tasks" => s.tasks.toDouble
      case "plan_s" => s.planMs / 1e3
      case "shuffle_bytes" => s.shuffleBytes.toDouble
      case "spill_bytes" => s.spillBytes.toDouble
      case "gc_frac" => s.gcFrac
      case "busy_frac" => s.busyFrac(cores)
    }
    val perSpan = for (name <- this.spans; (f, unit, _) <- fields) yield {
      val occ = byName.getOrElse(name, Nil)
      Metric(s"$name.$f", if (occ.isEmpty) 0.0 else Stats.median(occ.map(fieldOf(_, f))), unit)
    }
    perSpan ++ ratios.map { case (n, unit, _) => Metric(n, ratioValues.getOrElse(n, 0.0), unit) }
  }
}
