package graft.tools

import graft.core.{ChangeEvent, ConfiguredCatalog, ConfiguredStream, SyncState}
import graft.genlog.{ChangelogGen, EventGen, GenConfig}
import graft.laketable.LakeTable
import graft.streaming.{CdcStream, FaultOnceTransport}
import org.apache.spark.sql.functions._

/** MULTI-STREAM catalog soak: 8 concurrent streams (2 namespaces × 4
  * tables, distinct event volumes) under FAIR scheduler pools, drained in 3
  * kill/resume phases (the binlog head advances between phases; every phase
  * resumes each stream from its own checkpoint mid-drain), with a transient
  * dropped-stream fault injected into one stream mid-soak (absorbed by the
  * per-stream retry loop). Asserts per stream: sha parity vs its
  * independent oracle, cursors at the true head, NO cross-stream cursor
  * bleed (each table carries exactly its own state key + shards), metrics
  * exactly-once (rows sum to the stream's events; one batch id per applied
  * batch), at most two data files per bucket, bounded metrics/meta file
  * counts, no file under data/ that the kept snapshots do not list, and
  * that every stream's
  * jobs ran in its own `graft-<stateKey>` scheduler pool.
  * Run: `sbt -batch "Test/runMain graft.tools.DriveCatalogSoak"`.
  */
object DriveCatalogSoak {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").appName("graft-catalog-soak")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val catalog = ConfiguredCatalog(for {
        ns <- Seq("nsa", "nsb")
        i <- 1 to 4
      } yield ConfiguredStream(s"t$i", ns, "incremental"))
      require(catalog.streams.size == 8)
      val base = java.nio.file.Files.createTempDirectory("graft-catsoak").toString

      // distinct, deterministic volume + seed per stream
      def genFor(s: ConfiguredStream): GenConfig = {
        val idx = catalog.streams.indexOf(s)
        GenConfig(seed = 100L + idx, numEvents = 9000L + 1500L * idx,
          numShards = 2, numRepos = 30, pathsPerRepo = 15, copyRows = 1200L,
          keyspace = s.namespace)
      }
      def dir(s: ConfiguredStream) = s"${s.namespace}__${s.name}"

      // every stream's jobs must run in its OWN fair pool
      val pools = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val p = j.properties.getProperty("spark.scheduler.pool")
          if (p != null && p.startsWith("graft-")) pools.add(p)
        }
      })

      val faultStream = catalog.streams(3)
      val fault = java.nio.file.Paths.get(s"$base/fault-${dir(faultStream)}")
      val applied = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

      // 3 kill/resume phases: head at 40%, 75%, 100% of each stream's binlog
      Seq(0.4, 0.75, 1.0).zipWithIndex.foreach { case (frac, phase) =>
        if (phase == 1) FaultOnceTransport.arm(fault) // dropped stream mid-soak
        val res = CdcStream.runCatalogOutcomes(spark, catalog, s => {
          val c = genFor(s)
          val maxHead = (0 until c.numShards)
            .map(i => EventGen.totalPerShard(i, c)).max
          CdcStream.RunConfig(c, s"$base/${dir(s)}/t", s"$base/${dir(s)}/cp",
            maxEventsPerTrigger = Some(1200L),
            endSeq = if (frac >= 1.0) None else Some((maxHead * frac).toLong),
            expireEvery = Some(16), keepSnapshots = 6,
            numBuckets = 8,
            transportClass =
              if (phase == 1 && s == faultStream) Some(FaultOnceTransport.className) else None)
        }, maxConcurrentStreams = 4, maxRetries = 3)
          .map { case (k, o) => k -> o.batches }
        res.foreach { case (k, v) => applied(k) += v }
        println(s"phase $phase (head ${(frac * 100).toInt}%): " +
          res.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
      require(!java.nio.file.Files.exists(fault), "injected fault was not consumed")

      val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      catalog.streams.foreach { s =>
        val c = genFor(s)
        val t = new LakeTable(s"$base/${dir(s)}/t", spark)
        // per-stream parity vs its own oracle
        val want = ChangelogGen.expectedFinalState(spark, c)
          .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
        val got = t.read()
          .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
        require(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"${s.stateKey}: final state diverged from oracle")
        // cursors: exactly THIS stream's state key, ONLY its keyspace+shards,
        // every shard at the true head — no cross-stream bleed
        val st = SyncState.fromJson(t.summaryValue("cursors").get)
        require(st.streams.keySet == Set(s.stateKey),
          s"${s.stateKey}: cursor state keys bled: ${st.streams.keySet}")
        val shards = st.streams(s.stateKey)
        require(shards.size == c.numShards)
        require(shards.values.forall(_.keyspace == s.namespace),
          s"${s.stateKey}: foreign keyspace in cursors")
        (0 until c.numShards).foreach { i =>
          val name = EventGen.shardName(c.numShards, i)
          val endRank = EventGen.catchupPerShard(i, c) + EventGen.copyRankBase(c)
          val rank = graft.core.VGtid.rank(shards(name).position)
          require(rank == endRank, s"${s.stateKey}/$name: cursor rank $rank != head $endRank")
        }
        // metrics exactly-once per stream
        val m = CdcStream.readMetrics(spark, s"$base/${dir(s)}/t")
        val totalEvents = (0 until c.numShards).map(i => EventGen.totalPerShard(i, c)).sum
        val mRows = m.select(sum(col("rows"))).head().getLong(0)
        val mBatches = m.select(countDistinct(col("batch_id"))).head().getLong(0)
        require(mRows == totalEvents, s"${s.stateKey}: metrics rows $mRows != $totalEvents")
        require(mBatches == applied(s.stateKey),
          s"${s.stateKey}: metrics batches $mBatches != applied ${applied(s.stateKey)}")
        // bounded files after 3 phases of commits/folds/expiry
        val metricsFiles = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$base/${dir(s)}/t/metrics")).length
        val metaFiles = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$base/${dir(s)}/t/meta")).length
        graft.laketable.TableFiles.assertSpansNest(t)
        val perBucket = graft.laketable.TableFiles.maxFilesPerBucket(t)
        require(perBucket <= 2, s"${s.stateKey}: a bucket lists $perBucket data files")
        require(metricsFiles <= 40, s"${s.stateKey}: unbounded metrics files $metricsFiles")
        require(metaFiles <= 40 + 6 * 8, s"${s.stateKey}: unbounded meta files $metaFiles")
        val stray = graft.laketable.TableFiles.strayData(t, 6)
        require(stray.isEmpty,
          s"${s.stateKey}: unlisted data on disk: ${stray.take(5)} (${stray.size})")
      }
      val expectedPools = catalog.streams.map(s => s"graft-${s.stateKey}").toSet
      require(expectedPools.subsetOf(pools.toArray.map(_.toString).toSet),
        s"missing fair pools: ${expectedPools -- pools.toArray.map(_.toString)}")
      val totalBatches = applied.values.sum
      println(s"catalog soak: 8 streams, 3 kill/resume phases, $totalBatches " +
        s"micro-batches, pools=${pools.size}")
      require(totalBatches >= 80, s"expected a long soak, got $totalBatches batches")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      println("DriveCatalogSoak OK")
    } finally spark.stop()
  }
}
