package graft.perfbench

import java.nio.file.Paths

/** Training run for the JVM's class-data-sharing archive, made once per
  * build: every workload runs once at tiny size, so the archive holds the
  * classes the timed runs load and their JVMs start without re-parsing
  * them.
  *
  * {{{
  * Train <cores> <scratch dir>
  * }}}
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val Array(cores, scratch) = argv
    val dir = Paths.get(scratch).toAbsolutePath
    val spark = Main.session(cores.toInt, dir)
    try Workload.all.keys.toSeq.sorted.foreach { w =>
      val a = Main.Args(w, seed = 1L, seconds = 0.0, trace = false, cores.toInt, dir.resolve(w),
        traceOut = None, Sizes.tiny)
      val (r, _) = Main.run(spark, a, sessionS = 0.0)
      require(r.correct, s"training run of $w failed its checks")
    } finally spark.stop()
  }
}
