package graft.tools

import graft.audio.ClipSynth
import graft.conf.FuzzyConf
import graft.sql.{functions => gf}
import graft.stage.{Candidates, IndexBuild, Scratch}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dev-only funnel counts + timing for the lev-mode verify stage at
  * flagship scale (test scope — never ships): candidates -> estJaccard
  * gate survivors -> levNormSim >= minScore survivors (with and without
  * the gate), so join-order work on verifyPairs targets measured
  * selectivities. Usage: sbt 'Test/runMain graft.tools.VerifyProbe <cores> <clips>'
  */
object VerifyProbe {
  def main(args: Array[String]): Unit = {
    val cores = if (args.length > 0) args(0).toInt else 32
    val clips = if (args.length > 1) args(1).toLong else 1600000L
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-verifyprobe-$cores")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark-local"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val conf = FuzzyConf()
    val items = IndexBuild(
      ClipSynth.table(spark, clips, includeAudio = false), "clip_id", "transcript", conf).items
      .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
    val sigs = IndexBuild.signatures(items, conf)
      .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
    val scratch = new Scratch
    val pairs = Candidates
      .fusedPairs(sigs, 3, conf.maxBandBucket, conf.saltChunk, conf.maxSaltedBucket, scratch)
      .localCheckpoint(false, StorageLevel.MEMORY_AND_DISK_SER)
    def t[A](name: String)(f: => A): A = {
      System.gc()
      val t0 = System.nanoTime()
      val a = f
      println(f"[vprobe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s -> $a")
      a
    }
    t("pairs")(pairs.count())
    // interleaved A/B: gate joins as SMJ (default) vs shuffle-hash-hinted
    for (rep <- 1 to 3) {
      t(s"gate SMJ rep$rep") {
        pairs.join(sigs.select(col("item_id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
          .join(sigs.select(col("item_id").as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
          .filter(gf.estJaccard(col("a_sig"), col("b_sig")) >= conf.sigGateMinJaccard)
          .count()
      }
      t(s"gate SHJ rep$rep") {
        // join1 builds on the narrow pair side; join2 builds on the b-side
        // sig partition (the streamed intermediate carries a_sig and would
        // be the wider build)
        pairs.hint("shuffle_hash")
          .join(sigs.select(col("item_id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
          .join(sigs.select(col("item_id").as("b_id"), col("sig").as("b_sig")).hint("shuffle_hash"),
            Seq("b_id"))
          .filter(gf.estJaccard(col("a_sig"), col("b_sig")) >= conf.sigGateMinJaccard)
          .count()
      }
    }
    val sa = sigs.select(col("item_id").as("a_id"), col("sig").as("a_sig"))
    val sb = sigs.select(col("item_id").as("b_id"), col("sig").as("b_sig"))
    val ka = items.select(col("item_id").as("a_id"), col("key").as("a_key"))
    val kb = items.select(col("item_id").as("b_id"), col("key").as("b_key"))
    val gated = pairs.join(sa, Seq("a_id")).join(sb, Seq("b_id"))
      .filter(gf.estJaccard(col("a_sig"), col("b_sig")) >= conf.sigGateMinJaccard)
      .select("a_id", "b_id")
    t("gate survivors")(gated.count())
    val leved = pairs.join(ka, Seq("a_id")).join(kb, Seq("b_id"))
      .withColumn("score", gf.levNormSim(col("a_key"), col("b_key")))
      .filter(col("score") >= conf.minScore)
      .select("a_id", "b_id")
    t("lev>=minScore (no gate)")(leved.count())
    // round-5 shape: gate (sig joins over ALL pairs) then keys+lev
    t("gate->lev (round-5 shape)") {
      gated.join(ka, Seq("a_id")).join(kb, Seq("b_id"))
        .withColumn("score", gf.levNormSim(col("a_key"), col("b_key")))
        .filter(col("score") >= conf.minScore).count()
    }
    // what verifyPairs itself plans end to end (incl. its pairs.count)
    t("verifyPairs (engine)") {
      val sc2 = new Scratch
      val n = graft.stage.FindStage.verifyPairs(pairs,
        graft.stage.IndexTables(conf, items, null, null, null, sigs), conf.minScore, sc2)
        .count()
      sc2.release()
      n
    }
    spark.stop()
  }
}
