package graft.tools

import graft.core.{ChangeEvent, SyncState}
import graft.genlog.{ChangelogGen, GenConfig}
import graft.laketable.LakeTable
import graft.streaming.CdcStream
import org.apache.spark.sql.functions._

/** Resilience soak: one logical stream drained in MANY AvailableNow passes
  * with small micro-batches — each pass is a simulated kill/resume (the
  * binlog head advances between passes via `endSeq`) — with periodic
  * expiry and metrics folds along the way. At the end: per-row sha parity
  * vs the independent oracle, cursor head check, metrics integrity (every
  * batch accounted once), at most two data files per bucket with no
  * compaction, bounded metrics and meta file counts, and no file under
  * data/ that the kept snapshots do not list.
  * Run: `sbt -batch "Test/runMain graft.tools.DriveSoak"`.
  */
object DriveSoak {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").appName("graft-soak")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val c = GenConfig(numEvents = 60000L, numShards = 4, numRepos = 40,
        pathsPerRepo = 20, copyRows = 8000L)
      val base = java.nio.file.Files.createTempDirectory("graft-soak").toString
      val t = new LakeTable(s"$base/t", spark)
      t.create(ChangeEvent.rowSchema, numBuckets = 8)
      val shardTotals = (0 until c.numShards)
        .map(i => graft.genlog.EventGen.totalPerShard(i, c))
      // 12 kill/resume passes; tiny micro-batches → ~100+ batches total
      var batches = 0L
      val stops = (1 to 12).map(i => shardTotals.max * i / 12)
      stops.foreach { head =>
        batches += CdcStream.runAvailableNow(spark, CdcStream.RunConfig(
          c, s"$base/t", s"$base/cp",
          maxEventsPerTrigger = Some(700L),
          endSeq = Some(head),
          expireEvery = Some(20), keepSnapshots = 6,
          numBuckets = 8))
      }
      println(s"soak: ${stops.size} resume passes, $batches micro-batches")
      require(batches >= 80, s"expected a long micro-batch run, got $batches")

      // parity vs the independent oracle
      val want = ChangelogGen.expectedFinalState(spark, c)
        .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
      val got = t.read()
        .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
      require(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        "soak final state diverged from oracle")

      // cursors at the TRUE head: every shard's committed position rank
      // equals its end-of-binlog rank, not just "some cursor exists"
      val st = SyncState.fromJson(t.summaryValue("cursors").get)
      val shards = st.streams(s"${c.keyspace}:repo_content")
      require(shards.size == c.numShards)
      (0 until c.numShards).foreach { i =>
        val name = graft.genlog.EventGen.shardName(c.numShards, i)
        val endRank = graft.genlog.EventGen.catchupPerShard(i, c) +
          graft.genlog.EventGen.copyRankBase(c)
        val got = graft.core.VGtid.rank(shards(name).position)
        require(got == endRank, s"shard $name cursor rank $got != head $endRank")
      }

      // metrics: every batch exactly once through all the folds
      val m = CdcStream.readMetrics(spark, s"$base/t")
      val mBatches = m.select(countDistinct(col("batch_id"))).head().getLong(0)
      val mRows = m.select(sum(col("rows"))).head().getLong(0)
      val totalEvents = shardTotals.sum
      require(mRows == totalEvents, s"metrics rows $mRows != events $totalEvents")
      require(mBatches == batches, s"metrics batches $mBatches != $batches")

      // bounded files: data (bucket-replacing commits) + metrics (tiered folds)
      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val dataFiles = t.currentSnapshot.get.fileCount
      val metricsFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$base/t/metrics")).length
      // the meta dir must stay bounded too: with periodic expiry, the
      // surviving v<N>.json count is O(keepSnapshots), not O(total commits)
      val metaFiles = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$base/t/meta")).length
      println(s"soak: data files=$dataFiles metrics files=$metricsFiles " +
        s"meta files=$metaFiles version=${t.currentVersion.get}")
      graft.laketable.TableFiles.assertSpansNest(t)
      val perBucket = graft.laketable.TableFiles.maxFilesPerBucket(t)
      require(perBucket <= 2, s"a bucket lists $perBucket data files")
      require(metricsFiles <= 40, s"metrics folds failed to bound files: $metricsFiles")
      require(metaFiles <= 40 + 6 * 8,
        s"snapshot expiry failed to bound meta files: $metaFiles")
      // data/ on disk (recursively): only what the kept snapshots list
      val stray = graft.laketable.TableFiles.strayData(t, 6)
      require(stray.isEmpty,
        s"snapshot expiry left unlisted data: ${stray.take(5)} (${stray.size})")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      println("DriveSoak OK")
    } finally spark.stop()
  }
}
