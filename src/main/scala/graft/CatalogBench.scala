package graft

import graft.core.{ConfiguredCatalog, ConfiguredStream}
import graft.genlog.GenConfig
import graft.streaming.CdcStream
import org.apache.spark.sql.SparkSession

/** Evidence for the concurrent `runCatalogOutcomes` (SURVEY A20, the reference's
  * sequential stream loop re-expressed as overlapped queries): wall time of
  * a 2-stream catalog vs one stream, same per-stream input. Interleaved
  * rounds, best-of — the host's CPU speed drifts (see BENCH.md).
  *
  * On one shared local[32] executor pool the overlap mainly absorbs each
  * stream's driver-side gaps (staging commit, checkpointing, snapshot IO);
  * on a real cluster with executors to spare the overlap approaches full
  * parallelism. Anything measurably under 2× proves the streams no longer
  * serialize. FAIR scheduling keeps one stream's stages from starving the
  * other's.
  */
object CatalogBench {

  private def run(spark: SparkSession, streams: Int, c: GenConfig,
      eventsFor: Int => Long = _ => 0L): Double = {
    val base = java.nio.file.Files.createTempDirectory("graft-catbench").toString
    val cat = ConfiguredCatalog((1 to streams).map(i =>
      ConfiguredStream(s"s$i", c.keyspace, "incremental")))
    val t0 = System.nanoTime()
    CdcStream.runCatalogOutcomes(spark, cat, s => {
      val n = eventsFor(s.name.stripPrefix("s").toInt)
      val cc = if (n > 0) c.copy(numEvents = n, copyRows = n / 10) else c
      CdcStream.RunConfig(cc, s"$base/${s.name}", s"$base/cp/${s.name}", numBuckets = 32)
    }, maxConcurrentStreams = streams)
    val secs = (System.nanoTime() - t0) / 1e9
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    secs
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val events = sys.env.get("SPARK_GRAFT_BENCH_EVENTS").map(_.toLong).getOrElse(3000000L)
    val rounds = sys.env.get("SPARK_GRAFT_ROUNDS").map(_.toInt).getOrElse(2)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = GenConfig(numEvents = events, numShards = 16, numRepos = 2000,
      pathsPerRepo = 100, copyRows = events / 10, contentBlocks = 4)
    run(spark, 1, c.copy(numEvents = events / 10, copyRows = events / 100)) // JIT warm-up
    var best1 = Double.MaxValue
    var best2 = Double.MaxValue
    (1 to rounds).foreach { r =>
      val s1 = run(spark, 1, c)
      val s2 = run(spark, 2, c)
      System.err.println(f"[round $r] one=$s1%.2f two=$s2%.2f")
      best1 = math.min(best1, s1); best2 = math.min(best2, s2)
    }
    val ratio = best2 / best1
    // SKEWED pair: stream 1 = full size, stream 2 = 1/8th. With per-stream
    // FAIR pools the small stream rides along inside the big one's wall —
    // skew ratio ≈ 1×; FIFO would queue the small stream's stages behind
    // the big batch's.
    var bestSkew = Double.MaxValue
    (1 to rounds).foreach { r =>
      val sk = run(spark, 2, c, i => if (i == 1) events else events / 8)
      System.err.println(f"[skew round $r] big+small=$sk%.2f")
      bestSkew = math.min(bestSkew, sk)
    }
    val skewRatio = bestSkew / best1
    println(f"""{"metric":"catalog_concurrency","one_stream_sec":$best1%.2f,"two_stream_sec":$best2%.2f,"ratio_vs_one":$ratio%.2f,"skewed_pair_sec":$bestSkew%.2f,"skew_ratio_vs_one":$skewRatio%.2f,"events_per_stream":$events,"cpus":$cpus}""")
    spark.stop()
  }
}
