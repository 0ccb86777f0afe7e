package graft.streaming

import graft.SparkSupport
import graft.core.{ChangeEvent, SyncState, VGtid}
import graft.genlog.{ChangelogGen, EventGen, GenConfig}
import graft.laketable.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming end-to-end: micro-batched ingest via the DSv2 source, restart
  * from checkpoint (kill-and-resume), and exactly-once — mirroring the
  * reference's peek / sync / resume-from-state tests
  * (`planetscale_edge_database_test.go:25-157,889-1268,2506-2891`).
  */
class CdcStreamSpec extends AnyFunSuite with SparkSupport {

  private def digest(df: DataFrame): DataFrame =
    df.select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))

  private def assertParity(t: LakeTable, want: DataFrame): Unit = {
    val got = digest(t.read())
    val w = digest(want)
    assert(got.exceptAll(w).isEmpty && w.exceptAll(got).isEmpty && got.count() == w.count())
  }

  test("micro-batched availableNow run reaches oracle; cursors land in snapshot") {
    val c = GenConfig(numEvents = 10000L, numShards = 4, numRepos = 40, pathsPerRepo = 25,
      copyRows = 1000L)
    val base = tmpDir("stream")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 8)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(3000L))
    val batches = CdcStream.runAvailableNow(spark, rc)
    assert(batches > 1, s"expected multiple micro-batches, got $batches")
    assertParity(t, ChangelogGen.expectedFinalState(spark, c))

    // transactional cursors: per-shard positions at the head of the stream
    val st = SyncState.fromJson(t.summaryValue("cursors").get)
    val shards = st.streams(s"${c.keyspace}:repo_content")
    assert(shards.size == c.numShards)
    (0 until c.numShards).foreach { i =>
      val name = ChangelogGen.shardNames(c.numShards)(i)
      val endRank = EventGen.catchupPerShard(i, c) + EventGen.copyRankBase(c)
      assert(VGtid.rank(shards(name).position) == endRank,
        s"shard $name cursor ${shards(name).position} != head rank $endRank")
    }
  }

  test("kill mid-stream and resume from checkpoint: no loss, no duplicates") {
    val c = GenConfig(numEvents = 8000L, numShards = 2, numRepos = 30, pathsPerRepo = 20)
    val base = tmpDir("resume")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)

    // run 1: the binlog "only has" the first 2500 rows per shard (simulated
    // kill: the stream drains to that head and stops)
    val rc1 = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(1000L), endSeq = Some(2500L))
    CdcStream.runAvailableNow(spark, rc1)
    val midVersion = t.currentVersion.get
    assert(midVersion > 0)

    // run 2: same checkpoint, full head now visible → resumes, not restarts
    val rc2 = rc1.copy(endSeq = None)
    CdcStream.runAvailableNow(spark, rc2)
    assertParity(t, ChangelogGen.expectedFinalState(spark, c))

    // run 3: nothing new at the head → peek early-exit, zero new batches
    // (reference TestRead_CanEarlyExitIfNoNewVGtidInPeek)
    val v = t.currentVersion.get
    val applied = CdcStream.runAvailableNow(spark, rc2)
    assert(applied == 0L, s"expected early exit, applied $applied batches")
    assert(t.currentVersion.contains(v))
  }

  test("shard-subset sync (reference `shards` config): only configured shards " +
    "are tailed; cursors scope to them; resume stays scoped; unknown fails loud") {
    val c = GenConfig(numEvents = 8000L, numShards = 4, numRepos = 30, pathsPerRepo = 20)
    val names = ChangelogGen.shardNames(4) // -40, 40-80, 80-c0, c0-
    val base = tmpDir("subset")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)

    // whitespace-padded + blank entry exercise the reference's trim/skip
    val rc1 = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(1500L), endSeq = Some(1200L),
      shardSubset = Some(s" ${names(0)},${names(2)},"))
    CdcStream.runAvailableNow(spark, rc1)
    // resume on the same checkpoint to the full head — still subset-scoped
    CdcStream.runAvailableNow(spark, rc1.copy(endSeq = None))

    // oracle: LWW over ONLY the selected shards' events
    val ev = ChangelogGen.changelog(spark, c)
      .filter(col("shard").isin(names(0), names(2)))
    val keyed = ev.withColumn("_r", coalesce(col("after.repo"), col("before.repo")))
      .withColumn("_p", coalesce(col("after.path"), col("before.path")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_r", "_p").orderBy(col("event_seq").desc)
    val want = keyed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "delete")
      .select(col("after.repo"), col("after.path"), col("after.commit"),
        col("after.lang"), col("after.content"))
    assertParity(t, want)

    // cursors: exactly the selected shards, positioned at their heads
    val st = SyncState.fromJson(t.summaryValue("cursors").get)
    val shards = st.streams(s"${c.keyspace}:repo_content")
    assert(shards.keySet == Set(names(0), names(2)))
    Seq(0, 2).foreach { i =>
      assert(VGtid.rank(shards(names(i)).position) ==
        EventGen.catchupPerShard(i, c) + EventGen.copyRankBase(c))
    }

    // unknown shard name → the reference's loud validation error
    val bad = rc1.copy(checkpoint = s"$base/cp-bad", shardSubset = Some("-40,nope"))
    val e = intercept[Exception](CdcStream.runAvailableNow(spark, bad))
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null &&
      m.contains("shard nope does not exist on the source database")), s"got: $e")
  }

  test("timeout_seconds fences one sync attempt (reference Read step 5b): " +
    "committed batches stand, the next sync resumes to parity") {
    val c = GenConfig(numEvents = 80000L, numShards = 2, numRepos = 40, pathsPerRepo = 20)
    val base = tmpDir("timeout")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(2000L), timeoutSeconds = Some(1L))
    val fenced = CdcStream.runAvailableNow(spark, rc)
    // 40 micro-batches (each a full stage→merge→commit cycle, ≥100 ms even
    // on a fast host) against a 1 s fence: the sync MUST have been cut
    // short (committed-so-far stands, no failure thrown)
    assert(fenced < 40, s"timeout did not fence the sync (applied $fenced batches)")

    // resume WITHOUT the fence: drains the rest from the checkpoint; an
    // abandoned in-flight batch replays exactly-once
    CdcStream.runAvailableNow(spark, rc.copy(timeoutSeconds = None))
    val digest = (df: DataFrame) =>
      df.select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
    val got = digest(t.read())
    val want = digest(ChangelogGen.expectedFinalState(spark, c))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("max_retries (reference spec.json:76-81): a failed sync attempt is " +
    "re-run from the checkpoint; committed work stands; parity after retry") {
    val c = GenConfig(numEvents = 8000L, numShards = 2, numRepos = 30, pathsPerRepo = 20)
    val base = tmpDir("retries")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val fault = java.nio.file.Paths.get(s"$base/fault")
    FaultOnceTransport.arm(fault)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(2000L), transportClass = Some(FaultOnceTransport.className))

    // without a retry loop, the injected dropped-stream fault fails the
    // sync attempt loudly (and is consumed by exactly one reader)
    intercept[Exception](CdcStream.runAvailableNow(spark, rc))
    assert(!java.nio.file.Files.exists(fault), "fault was not consumed")

    // re-arm and run WITH the reference's retry loop: attempt 1 fails,
    // attempt 2 resumes from the checkpoint and drains to parity
    FaultOnceTransport.arm(fault)
    val batches = CdcStream.runWithRetries(spark, rc, maxRetries = 3)
    assert(batches > 0)
    val digest = (df: DataFrame) =>
      df.select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
    val got = digest(t.read())
    val want = digest(ChangelogGen.expectedFinalState(spark, c))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("max_retries exhaustion on a retryable error returns committed " +
    "progress WITHOUT throwing (reference: nil error once syncCount >= " +
    "maxRetries for gRPC statuses — partial sync, not a failure)") {
    val c = GenConfig(numEvents = 8000L, numShards = 2, numRepos = 30, pathsPerRepo = 20)
    val base = tmpDir("retrybudget")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val fault = java.nio.file.Paths.get(s"$base/fault")
    FaultOnceTransport.arm(fault)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(2000L), transportClass = Some(FaultOnceTransport.className))
    // budget of ONE total attempt: the injected fault consumes it → the
    // error is swallowed with committed progress returned, not rethrown
    val partial = CdcStream.runWithRetries(spark, rc, maxRetries = 1)
    assert(partial >= 0L)
    assert(!java.nio.file.Files.exists(fault), "fault was not consumed")
    // the NEXT scheduled sync (reference: Airbyte re-invokes read) resumes
    // from the checkpoint and drains to parity
    CdcStream.runWithRetries(spark, rc, maxRetries = 3)
    assertParity(t, ChangelogGen.expectedFinalState(spark, c))
  }

  test("timeout_seconds × max_retries compose like the reference Read loop: " +
    "each attempt is fenced individually and a fenced attempt re-enters " +
    "from the checkpoint, accumulating progress to parity") {
    val c = GenConfig(numEvents = 20000L, numShards = 2, numRepos = 40, pathsPerRepo = 20)
    val base = tmpDir("timeoutcompose")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    // ~10 micro-batches against a 4 s per-attempt fence (query start +
    // checkpoint replay eat ~1-2 s of each window on a loaded host): a
    // single fenced attempt cannot drain it, so reaching parity in ONE
    // runWithRetries call proves fenced attempts re-enter (the reference
    // continues syncing after DeadlineExceeded, up to max_retries × timeout
    // of progress)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(2000L), timeoutSeconds = Some(4L))
    val batches = CdcStream.runWithRetries(spark, rc, maxRetries = 20)
    assert(batches > 0)
    assertParity(t, ChangelogGen.expectedFinalState(spark, c))
  }

  test("timeout_seconds spec surface: default 300 when unset, below-minimum " +
    "clamped up to 300, valid values pass through (spec.json:83-90)") {
    assert(CdcStream.specTimeoutSeconds(None).contains(300L))
    assert(CdcStream.specTimeoutSeconds(Some(10L)).contains(300L))
    assert(CdcStream.specTimeoutSeconds(Some(300L)).contains(300L))
    assert(CdcStream.specTimeoutSeconds(Some(900L)).contains(900L))
  }

  test("metrics table: one row per (batch, shard) with vgtid range + rows") {
    val c = GenConfig(numEvents = 4000L, numShards = 2, numRepos = 20, pathsPerRepo = 10)
    val base = tmpDir("metrics")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    CdcStream.runAvailableNow(spark, CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(1500L)))
    val m = CdcStream.readMetrics(spark, s"$base/t")
    assert(m.columns.toSet == Set("batch_id", "keyspace", "shard", "vgtid_start",
      "vgtid_end", "rows", "wall_ms", "batch_events_per_sec", "committed_version"))
    // every shard reported in every non-empty batch; rows sum to the stream
    assert(m.select(sum(col("rows"))).head().getLong(0) == c.numEvents)
    assert(m.select(countDistinct(col("batch_id"))).head().getLong(0) > 1)
    assert(m.filter(col("vgtid_end").startsWith("MySQL56/")).count() == m.count())
  }

  test("metrics sidecar: file count stays BOUNDED across 50 micro-batches " +
    "(fold at threshold), rows survive every fold") {
    val c = GenConfig(numEvents = 5000L, numShards = 2, numRepos = 20, pathsPerRepo = 10)
    val base = tmpDir("metricsroll")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp", maxEventsPerTrigger = Some(100L))
    val batches = CdcStream.runAvailableNow(spark, rc)
    assert(batches >= 50, s"expected ≥50 micro-batches, got $batches")
    // the snapshot's metrics list: at most MetricsTierFiles per tier, and
    // the tier-0 threshold was crossed (a fold ran inside a batch commit)
    val listed = t.currentSnapshot.get.metricsFiles
    val tiers = listed.groupBy(_.stripPrefix("metrics/gen").takeWhile(_.isDigit).toInt)
    assert(tiers.values.forall(_.size <= graft.apply.CdcApply.MetricsTierFiles),
      s"metrics list tiers ${tiers.map { case (k, v) => k -> v.size }} exceed the threshold")
    assert(tiers.keySet.exists(_ > 0), s"no fold ran: tiers ${tiers.keySet}")
    assert(listed.size <= 33, s"metrics list holds ${listed.size} files (unbounded growth)")
    // metrics/ after the sync's final expiry: only what kept snapshots list
    val dir = new org.apache.hadoop.fs.Path(s"$base/t/metrics")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
    assert(files <= 33, s"metrics dir accreted $files files (unbounded growth)")
    // no compaction runs: each batch commit replaces every file whose span
    // meets the ranges it touches, so no bucket is held by more than two files
    val perBucket = graft.laketable.TableFiles.maxFilesPerBucket(t)
    assert(perBucket <= 2, s"a bucket lists $perBucket files")
    // data/ likewise: every parquet file (recursively) listed by a kept
    // snapshot, and no batch dir beyond those the kept snapshots reference
    val stray = graft.laketable.TableFiles.strayData(t, rc.keepSnapshots)
    assert(stray.isEmpty, s"data dir holds files no kept snapshot lists: $stray")
    // meta/ holds only the kept snapshot jsons
    val meta = graft.laketable.TableFiles.metaFiles(s"$base/t")
    val cur = t.currentVersion.get
    assert(meta.contains(s"v$cur.json") && meta.size == rc.keepSnapshots &&
      meta.forall(_.matches("""v\d+\.json""")),
      s"meta dir holds $meta")
    // no batch lost through the folds, none repeated
    val m = CdcStream.readMetrics(spark, s"$base/t")
    assert(m.select(sum(col("rows"))).head().getLong(0) == c.numEvents)
    assert(m.select(countDistinct(col("batch_id"))).head().getLong(0) == batches)
    assert(m.groupBy("batch_id", "shard").count().filter(col("count") =!= 1).isEmpty)
  }

  test("metrics writer leaves null optional strings unset instead of failing") {
    val dir = new org.apache.hadoop.fs.Path(tmpDir("metricsnull"))
    val st = graft.core.ShardStats(
      graft.core.ShardCursor(null, "-80", "MySQL56/x:1-5", None), 5L, null, "MySQL56/x:1-5")
    val f = graft.apply.CdcApply.writeMetricsFile(spark, dir, 0,
      graft.apply.CdcApply.metricsRows(7L, Map("-80" -> st), 10L, 3L))
    val r = spark.read.schema(graft.apply.CdcApply.metricsSchema).parquet(f.toString).collect()
    assert(r.length == 1 && r(0).isNullAt(1) && r(0).isNullAt(3))
    assert(r(0).getLong(0) == 7L && r(0).getString(2) == "-80" &&
      r(0).getString(4) == "MySQL56/x:1-5" && r(0).getLong(5) == 5L)
  }

  test("wirePayload source: raw wire strings stream through the DSv2 source and " +
    "land NORMALIZED + TYPED; kill/resume stays exactly-once") {
    val c = GenConfig(numEvents = 4000L, numShards = 2, numRepos = 20, pathsPerRepo = 10,
      copyRows = 400L)
    val base = tmpDir("wiresrc")
    val t = new LakeTable(s"$base/t", spark)
    t.create(graft.core.WireTableSpec.repoProfile.landingSchema, numBuckets = 4)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(1500L), wirePayload = true)
    // kill mid-stream, then resume on the same checkpoint
    CdcStream.runAvailableNow(spark, rc.copy(endSeq = Some(1200L)))
    CdcStream.runAvailableNow(spark, rc)

    val df = t.read()
    val types = df.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    assert(types("verified") == "BOOLEAN" && types("created_at") == "TIMESTAMP_NTZ" &&
      types("updated_at") == "TIMESTAMP" && types("balance") == "DECIMAL(10,2)" &&
      types("stars") == "BIGINT")

    // same key-level final state as the typed stream (same offsets, same LWW
    // winners, same deletes)
    val want = ChangelogGen.expectedFinalState(spark, c).select("repo", "path")
    val got = df.select("repo", "path")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // normalization evidence: enum indexes became labels (out-of-range kept),
    // every generated temporal/decimal wire value parsed, cents in the wire set
    val statuses = df.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("", "active", "inactive", "archived", "4", "5")),
      s"unexpected statuses: $statuses")
    assert(df.filter(col("created_at").isNull || col("verified").isNull ||
      col("balance").isNull).count() == 0)
    val cents = df.select((col("balance") * 100).cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cents.subsetOf(Set(33L, -77L, 1250L, -25L)), s"unexpected cents: $cents")
  }

  test("wirePayload + includeMetadata COMPOSE through the streaming path: " +
    "typed normalized columns AND _graft_* provenance in one table") {
    val c = GenConfig(numEvents = 2000L, numShards = 2, numRepos = 10, pathsPerRepo = 5)
    val base = tmpDir("wiremeta")
    val cat = graft.core.ConfiguredCatalog(Seq(
      graft.core.ConfiguredStream("wm", c.keyspace, "incremental")))
    CdcStream.runCatalog(spark, cat, s =>
      CdcStream.RunConfig(c, s"$base/${s.name}", s"$base/cp/${s.name}", numBuckets = 4,
        wirePayload = true, includeMetadata = true))
    val df = new LakeTable(s"$base/wm", spark).read()
    val types = df.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    assert(types("verified") == "BOOLEAN" && types("balance") == "DECIMAL(10,2)")
    assert(df.columns.toSeq.takeRight(3) ==
      Seq("_graft_vgtid", "_graft_seq", "_graft_extracted_at"))
    assert(df.filter(col("_graft_vgtid").startsWith("MySQL56/")).count() == df.count())
    assert(df.filter(col("verified").isNull).count() == 0)
  }

  test("starting_gtids start the tail mid-binlog; checkpoint beats starting_gtids") {
    val c = GenConfig(numEvents = 6000L, numShards = 2, numRepos = 20, pathsPerRepo = 10)
    val base = tmpDir("startgtid")
    val names = ChangelogGen.shardNames(c.numShards)
    val g0 = s"MySQL56/${EventGen.shardUuid(c.seed, 0)}:1-1000"
    val g1 = s"MySQL56/${EventGen.shardUuid(c.seed, 1)}:1-1500"
    val starting = Map(c.keyspace -> Map(names(0) -> g0, names(1) -> g1))

    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp", startingGtids = starting)
    CdcStream.runAvailableNow(spark, rc)

    // only events past the starting positions were synced
    val m = CdcStream.readMetrics(spark, s"$base/t")
    val expected = (EventGen.catchupPerShard(0, c) - 1000) + (EventGen.catchupPerShard(1, c) - 1500)
    assert(m.select(sum(col("rows"))).head().getLong(0) == expected)

    // final state == batch replay of exactly the skipped-prefix-free stream
    val oracle = new LakeTable(s"$base/oracle", spark)
    oracle.create(ChangeEvent.rowSchema, numBuckets = 4)
    val filtered = ChangelogGen.fullStream(spark, c).filter(
      (col("shard") === names(0) && col("event_seq") > 1000) ||
      (col("shard") === names(1) && col("event_seq") > 1500))
    graft.apply.CdcApply.replayAll(oracle, filtered)
    assertParity(t, oracle.read())

    // run 2 on the same checkpoint with DIFFERENT starting_gtids: checkpoint
    // wins (reference state-beats-starting_gtids) → head unchanged, early exit
    val rc2 = rc.copy(startingGtids = Map(c.keyspace -> Map(names(0) -> "", names(1) -> "")))
    val applied = CdcStream.runAvailableNow(spark, rc2)
    assert(applied == 0L, s"checkpoint should beat starting_gtids, applied $applied")
  }

  test("resume from state: mid-copy LastKnownPk resumes the COPY after the watermark; " +
    "use_gtid_with_table_pks keeps/clears the GTID (database.go:312-314, resume test :2506-2891)") {
    val c = GenConfig(numEvents = 3000L, numShards = 2, numRepos = 20, pathsPerRepo = 10,
      copyRows = 800L)
    val base = tmpDir("pkresume")
    val names = ChangelogGen.shardNames(c.numShards)
    val k = 250L // copy rows already synced per shard
    val state = (0 until c.numShards).map { i =>
      val pk = EventGen.copyEvent(i, k - 1, c, EventGen.sortedPaths(c)).last_pk.get
      names(i) -> graft.core.ShardCursor(c.keyspace, names(i),
        s"MySQL56/${EventGen.shardUuid(c.seed, i)}:1-1", Some(pk))
    }.toMap

    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp", resumeState = state)
    CdcStream.runAvailableNow(spark, rc)
    val m = CdcStream.readMetrics(spark, s"$base/t")
    val expected = (0 until c.numShards).map(i => EventGen.totalPerShard(i, c) - k).sum
    assert(m.select(sum(col("rows"))).head().getLong(0) == expected,
      "copy must resume AFTER the PK watermark, then catch up")

    // option shape mirrors the reference's request building: the watermark
    // clears the GTID unless use_gtid_with_table_pks keeps both
    val optsCleared = CdcStream.sourceOptions(rc)
    assert(optsCleared.contains("startingPks") && !optsCleared.contains("startingGtids"))
    val optsKept = CdcStream.sourceOptions(rc.copy(useGtidWithTablePks = true))
    assert(optsKept.contains("startingPks") && optsKept.contains("startingGtids"))
  }

  test("configured catalog: incremental resumes, full_refresh resets and re-ingests") {
    val c = GenConfig(numEvents = 4000L, numShards = 2, numRepos = 20, pathsPerRepo = 10)
    val base = tmpDir("catalog")
    val cat = graft.core.ConfiguredCatalog(Seq(
      graft.core.ConfiguredStream("a", c.keyspace, "incremental"),
      graft.core.ConfiguredStream("b", c.keyspace, "full_refresh")))
    def rcFor(s: graft.core.ConfiguredStream) =
      CdcStream.RunConfig(c, s"$base/${s.name}", s"$base/cp/${s.name}", numBuckets = 4)

    val r1 = CdcStream.runCatalog(spark, cat, rcFor)
    assert(r1(s"${c.keyspace}:a") > 0 && r1(s"${c.keyspace}:b") > 0)
    // the bucket count reaches the table runCatalog creates
    assert(new LakeTable(s"$base/a", spark).currentSnapshot.get.numBuckets == 4)
    val want = ChangelogGen.expectedFinalState(spark, c)
    assertParity(new LakeTable(s"$base/a", spark), want)
    assertParity(new LakeTable(s"$base/b", spark), want)
    val bVersion1 = new LakeTable(s"$base/b", spark).currentVersion.get

    // second pass: incremental stream early-exits (nothing new); full_refresh
    // stream is reset (cursor + table) and replays everything
    val r2 = CdcStream.runCatalog(spark, cat, rcFor)
    assert(r2(s"${c.keyspace}:a") == 0L,
      s"incremental stream should early-exit, applied ${r2(s"${c.keyspace}:a")}")
    assert(r2(s"${c.keyspace}:b") > 0L, "full_refresh stream should re-ingest")
    val b = new LakeTable(s"$base/b", spark)
    assert(b.currentVersion.get <= bVersion1, "table b should have been rebuilt from scratch")
    assertParity(b, want)
  }

  test("catalog streams run CONCURRENTLY with per-stream state keys; emitted " +
    "state round-trips through a reference-shaped state file (read.go:108,151-184)") {
    val c = GenConfig(numEvents = 3000L, numShards = 2, numRepos = 20, pathsPerRepo = 10)
    val base = tmpDir("catpar")
    val cat = graft.core.ConfiguredCatalog(Seq(
      graft.core.ConfiguredStream("a", c.keyspace, "incremental"),
      graft.core.ConfiguredStream("b", c.keyspace, "incremental"),
      graft.core.ConfiguredStream("c", c.keyspace, "incremental")))
    // track overlap: concurrent streams must be in-flight simultaneously
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    def rcFor(s: graft.core.ConfiguredStream) = {
      val n = inFlight.incrementAndGet()
      maxInFlight.accumulateAndGet(n, math.max)
      Thread.sleep(150) // widen the overlap window
      inFlight.decrementAndGet()
      CdcStream.RunConfig(c, s"$base/${s.name}", s"$base/cp/${s.name}", numBuckets = 4)
    }
    // FAIR-pool isolation: every job a stream submits must carry that
    // stream's own scheduler pool (fair-shared under FAIR mode, so one
    // stream's large batch can't starve siblings)
    val pools = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = j.properties.getProperty("spark.scheduler.pool")
        if (p != null && p.startsWith("graft-")) pools.add(p)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val r1 = CdcStream.runCatalog(spark, cat, rcFor, maxConcurrentStreams = 3)
    assert(r1.values.forall(_ > 0))
    assert(maxInFlight.get() >= 2, s"streams ran sequentially (max in flight ${maxInFlight.get()})")
    // listener events are async; queries are done, give the bus a moment
    org.scalatest.concurrent.Eventually.eventually(
      org.scalatest.concurrent.Eventually.timeout(org.scalatest.time.Span(10,
        org.scalatest.time.Seconds))) {
      assert(Seq("a", "b", "c").forall(n => pools.contains(s"graft-${c.keyspace}:$n")))
    }
    spark.sparkContext.removeSparkListener(listener)
    assert(Seq("a", "b", "c").forall(n => pools.contains(s"graft-${c.keyspace}:$n")),
      s"per-stream scheduler pools not observed on jobs: $pools")
    val want = ChangelogGen.expectedFinalState(spark, c)
    Seq("a", "b", "c").foreach(n => assertParity(new LakeTable(s"$base/$n", spark), want))

    // per-stream state keys: namespace:name, NOT the hardcoded table name —
    // so the emitted state round-trips through SyncState.fromJson
    Seq("a", "b", "c").foreach { n =>
      val st = SyncState.fromJson(new LakeTable(s"$base/$n", spark).summaryValue("cursors").get)
      assert(st.streams.keySet == Set(s"${c.keyspace}:$n"),
        s"stream $n state keys: ${st.streams.keySet}")
      assert(st.streams(s"${c.keyspace}:$n").size == c.numShards)
    }

    // reference-shaped --state file resume: feed stream a's emitted cursors
    // into a FRESH catalog run (no checkpoint) → only the head remains, and
    // the cursors came back through the namespace:name key
    val emitted = SyncState.fromJson(new LakeTable(s"$base/a", spark).summaryValue("cursors").get)
    val cat2 = graft.core.ConfiguredCatalog(Seq(
      graft.core.ConfiguredStream("a", c.keyspace, "incremental")))
    CdcStream.runCatalog(spark, cat2,
      s => CdcStream.RunConfig(c, s"$base/fresh-${s.name}", s"$base/cp2/${s.name}", numBuckets = 4),
      state = emitted)
    // fresh checkpoint + state at head → batch 0 runs (Spark records initial
    // offsets) but ingests NOTHING: the cursors were consumed via the
    // namespace:name key, not reset to blank
    assert(new LakeTable(s"$base/fresh-a", spark).read().count() == 0L,
      "state-file cursors at head must prevent any re-ingest")
  }

  test("include_metadata OPTION (reference spec.json:63): the flag path creates " +
    "the table with _graft_* provenance columns and stamps them at apply time") {
    val c = GenConfig(numEvents = 2000L, numShards = 2, numRepos = 10, pathsPerRepo = 5)
    val base = tmpDir("withmeta")
    val cat = graft.core.ConfiguredCatalog(Seq(
      graft.core.ConfiguredStream("m", c.keyspace, "incremental")))
    CdcStream.runCatalog(spark, cat, s =>
      CdcStream.RunConfig(c, s"$base/${s.name}", s"$base/cp/${s.name}", numBuckets = 4,
        includeMetadata = true))
    val df = new LakeTable(s"$base/m", spark).read()
    assert(df.columns.toSeq.takeRight(3) ==
      Seq("_graft_vgtid", "_graft_seq", "_graft_extracted_at"))
    assert(df.filter(col("_graft_vgtid").startsWith("MySQL56/")).count() == df.count())
    assert(df.filter(col("_graft_seq").isNull || col("_graft_extracted_at").isNull).count() == 0)
    // without the flag: plain schema, no metadata columns
    val cat2 = graft.core.ConfiguredCatalog(Seq(
      graft.core.ConfiguredStream("p", c.keyspace, "incremental")))
    CdcStream.runCatalog(spark, cat2, s =>
      CdcStream.RunConfig(c, s"$base/${s.name}", s"$base/cp/${s.name}", numBuckets = 4))
    assert(!new LakeTable(s"$base/p", spark).read().columns.contains("_graft_vgtid"))
  }

  test("positionForPk surfaces corrupt/foreign watermarks instead of silently skipping rows") {
    val c = GenConfig(numEvents = 100L, numShards = 2, numRepos = 20, pathsPerRepo = 10,
      copyRows = 100L)
    val good = EventGen.copyEvent(0, 5, c, EventGen.sortedPaths(c)).last_pk.get
    assert(EventGen.positionForPk(0, good.repo, good.path, c) == 6L)
    intercept[IllegalArgumentException] {
      EventGen.positionForPk(0, good.repo, "not/a/real/path.xyz", c)
    }
    intercept[IllegalArgumentException] {
      EventGen.positionForPk(0, "bogus-name", good.path, c)
    }
    intercept[IllegalArgumentException] { // repo striped to shard 1, asked of shard 0
      EventGen.positionForPk(0, EventGen.repoName(1), good.path, c)
    }
  }

  test("A19 tablet-type routing: replica tier serves a lagged head; switching " +
    "to primary on the same checkpoint drains the rest (connection.go:43-48)") {
    val c = GenConfig(numEvents = 4000L, numShards = 2, numRepos = 20, pathsPerRepo = 10)
    val base = tmpDir("tablet")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val lag = 500L
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      useReplica = true, replicaLagEvents = lag)
    assert(CdcStream.sourceOptions(rc)("useReplica") == "true")
    CdcStream.runAvailableNow(spark, rc)
    val m = CdcStream.readMetrics(spark, s"$base/t")
    val expected = (0 until c.numShards).map(i => EventGen.totalPerShard(i, c) - lag).sum
    assert(m.select(sum(col("rows"))).head().getLong(0) == expected,
      "replica read must stop `lag` events short of the true head per shard")

    // tier switch: same checkpoint, primary sees the full head → catches up
    val applied = CdcStream.runAvailableNow(spark, rc.copy(useReplica = false))
    assert(applied > 0, "primary should drain the replica lag")
    assertParity(t, ChangelogGen.expectedFinalState(spark, c))

    // rdonly wins over replica (reference precedence)
    val both = CdcStream.sourceOptions(rc.copy(useRdonly = true))
    assert(ChangelogSource.parseOptions(both).tabletType == "rdonly")
  }

  test("batch scan of the source equals the batch generator (same offsets)") {
    val c = GenConfig(numEvents = 5000L, numShards = 4, numRepos = 20, pathsPerRepo = 10,
      copyRows = 400L)
    val viaSource = spark.read.format("graft-changelog")
      .options(CdcStream.sourceOptions(CdcStream.RunConfig(c, "", "")))
      .load()
    val viaGen = ChangelogGen.fullStream(spark, c)
    assert(viaSource.count() == viaGen.count())
    val cols = viaSource.columns.filterNot(_ == "last_pk").map(col).toSeq
    assert(viaSource.select(cols: _*).exceptAll(viaGen.select(cols: _*)).isEmpty)
  }
}
