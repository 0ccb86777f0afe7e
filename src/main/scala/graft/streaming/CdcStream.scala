package graft.streaming

import graft.apply.CdcApply
import graft.genlog.GenConfig
import graft.laketable.LakeTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming CDC ingest driver — the re-imagined `read` verb
  * (`cmd/airbyte-source/read.go:41-138`): tail the changelog source, apply
  * each micro-batch with [[CdcApply]] (LWW dedup → bucketed MERGE), and
  * commit per-shard VGTID cursors in the same lake-table snapshot. Restart
  * resumes from the streaming checkpoint; a replayed batch after a crash
  * between sink-commit and checkpoint-advance is a no-op (idempotent apply)
  * — together: exactly-once.
  */
object CdcStream {

  final case class RunConfig(
      gen: GenConfig,
      tableRoot: String,
      checkpoint: String,
      maxEventsPerTrigger: Option[Long] = None,
      endSeq: Option[Long] = None,
      parityMode: Boolean = false,
      streamId: String = "default",
      // source TABLE name — committed cursors are keyed <keyspace>:<streamName>
      // (reference state key, read.go:108)
      streamName: String = "repo_content",
      // snapshot-expiry cadence: every N batches, drop snapshot metadata
      // older than `keepSnapshots` versions and delete the data and metrics
      // files no kept snapshot lists (superseded files, and what failed,
      // fenced or crashed batches wrote) plus crash-stranded temps. Without
      // this a long-lived stream accretes one v<N>.json and its superseded
      // data files per commit forever. None disables (keep every snapshot /
      // external expiry).
      expireEvery: Option[Int] = Some(32),
      keepSnapshots: Int = 8,
      startingGtids: Map[String, Map[String, String]] = Map.empty,
      numBuckets: Int = 64,
      resumeState: Map[String, graft.core.ShardCursor] = Map.empty,
      useGtidWithTablePks: Boolean = false,
      useReplica: Boolean = false,
      useRdonly: Boolean = false,
      replicaLagEvents: Long = 0L,
      // reference `include_metadata` (spec.json:63): create the table with
      // the _graft_vgtid/_graft_seq/_graft_extracted_at provenance columns
      includeMetadata: Boolean = false,
      // wire-typed stream: the source serves raw MySQL wire strings
      // (repo_profile) and applyBatch normalizes them inside staging
      wirePayload: Boolean = false,
      // reference `shards` config (spec.json:23-28): comma-separated shard
      // names to sync; None = all shards. Validated against live shards by
      // the source (unknown name fails loud).
      shardSubset: Option[String] = None,
      // arbitrary wire table (the discover→read loop): one `tables[]` entry
      // of a discover --columns spec; implies wirePayload. The source serves
      // wire strings shaped to this table, applyBatch normalizes + lands
      // them typed, merge keys = the table's primary-key columns.
      wireTable: Option[graft.core.WireTable] = None,
      // event-supply implementation (the [[ShardEventTransport]] seam):
      // None = the synthetic closed-form changelog; a class name plugs a
      // real VStream/binlog/Kafka tail into the same sync loop
      transportClass: Option[String] = None,
      // reference `timeout_seconds` (spec.json:83-90, Read loop step 5:
      // "End the stream when … the timeout kicks in"): bound one sync
      // attempt's wall time. Batches committed before the fence stand
      // (data + cursors), the query stops cleanly, and the NEXT sync
      // resumes from the checkpoint — a partial sync, never a failure.
      timeoutSeconds: Option[Long] = None,
      // Avro schema registry (north-star "Avro-driven schema evolution"):
      // wire schema_version → Avro record JSON. When a batch's winners
      // carry a version above the applied watermark (summary
      // `wire_schema_version`, default 1), each step's Avro diff is
      // applied to the table as Iceberg-style adds/renames
      // (metadata-only), then the watermark commits. Empty = evolution
      // is external/manual (evolveSchema API), versions ignored.
      schemaRegistry: Map[Int, String] = Map.empty)

  private def startingGtidsJson(g: Map[String, Map[String, String]]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    g.toSeq.sortBy(_._1).foreach { case (ks, shards) =>
      val n = root.putObject(ks)
      shards.toSeq.sortBy(_._1).foreach { case (sh, pos) => n.put(sh, pos) }
    }
    mapper.writeValueAsString(root)
  }

  /** Resume-from-state (the reference's `--state` file): each shard cursor
    * passes the copy-phase resume rule first — a LastKnownPk clears the GTID
    * unless `use_gtid_with_table_pks` (`planetscale_edge_database.go:
    * 312-314`) — then becomes a `startingPks` (mid-copy watermark) or
    * `startingGtids` (binlog position) source option. Checkpoint still wins.
    */
  private def resumeOptions(rc: RunConfig): Map[String, String] = {
    if (rc.resumeState.isEmpty) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val resumed = rc.resumeState.map { case (sh, cur) => sh -> cur.forResume(rc.useGtidWithTablePks) }
    val pks = mapper.createObjectNode()
    val gtids = mapper.createObjectNode()
    val ksNode = gtids.putObject(rc.gen.keyspace)
    resumed.toSeq.sortBy(_._1).foreach { case (sh, cur) =>
      // with use_gtid_with_table_pks both ride along (reference sends the
      // position AND TablePKs in the request); the source prefers the PK
      cur.lastPk.foreach { pk =>
        val n = pks.putObject(sh); n.put("repo", pk.repo); n.put("path", pk.path)
      }
      if (cur.position.nonEmpty) ksNode.put(sh, cur.position)
    }
    val pkOpt: Map[String, String] =
      if (pks.size() > 0) Map("startingPks" -> mapper.writeValueAsString(pks)) else Map.empty
    val gtidOpt: Map[String, String] =
      if (ksNode.size() > 0) Map("startingGtids" -> mapper.writeValueAsString(gtids)) else Map.empty
    pkOpt ++ gtidOpt
  }

  def sourceOptions(rc: RunConfig): Map[String, String] = {
    val c = rc.gen
    Map(
      "seed" -> c.seed.toString,
      "numEvents" -> c.numEvents.toString,
      "numShards" -> c.numShards.toString,
      "numRepos" -> c.numRepos.toString,
      "pathsPerRepo" -> c.pathsPerRepo.toString,
      "keyspace" -> c.keyspace,
      "zipfSkew" -> c.zipfSkew.toString,
      "deleteRatio" -> c.deleteRatio.toString,
      "copyRows" -> c.copyRows.toString,
      "contentBlocks" -> c.contentBlocks.toString) ++
      c.schemaChangeAt.map("schemaChangeAt" -> _.toString) ++
      rc.maxEventsPerTrigger.map("maxEventsPerTrigger" -> _.toString) ++
      rc.endSeq.map("endSeq" -> _.toString) ++
      rc.shardSubset.map("shards" -> _) ++
      rc.wireTable.map("wireTable" -> _.toJson) ++
      rc.transportClass.map("transportClass" -> _) ++
      (if (rc.wirePayload) Map("wirePayload" -> "true") else Map.empty) ++
      (if (rc.useReplica) Map("useReplica" -> "true") else Map.empty) ++
      (if (rc.useRdonly) Map("useRdonly" -> "true") else Map.empty) ++
      (if (rc.replicaLagEvents > 0) Map("replicaLagEvents" -> rc.replicaLagEvents.toString)
       else Map.empty) ++
      (if (rc.startingGtids.nonEmpty)
        Map("startingGtids" -> startingGtidsJson(rc.startingGtids)) else Map.empty) ++
      resumeOptions(rc) // explicit state wins over starting_gtids (read.go:169-180)
  }

  /** Read the metrics table (one row per batch × shard): exactly the files
    * the current snapshot lists, each batch's rows committed atomically with
    * its data and cursors — no de-duplication, and files an in-flight or
    * crashed commit left in metrics/ are never read.
    */
  def readMetrics(spark: SparkSession, tableRoot: String): DataFrame = {
    val files = new LakeTable(tableRoot, spark).currentSnapshot.map(_.metricsFiles).getOrElse(Nil)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], CdcApply.metricsSchema)
    else spark.read.schema(CdcApply.metricsSchema)
      .parquet(files.map(f => new org.apache.hadoop.fs.Path(tableRoot, f).toString): _*)
  }

  /** Deterministic validation failures must surface immediately —
    * re-running the whole sync cannot change them. Spark wraps in-query
    * failures (StreamingQueryException → ForeachBatchUserFuncException →
    * the real cause), so the WHOLE cause chain is inspected — but only the
    * ENGINE'S OWN validation failures are non-retryable: a
    * [[graft.core.GraftValidationException]], or an
    * IllegalArgumentException RAISED BY graft code (a `graft.` frame in its
    * creation stack — every validation `require` in the engine qualifies).
    * An IAE from Spark/Hadoop internals stays retryable: those can signal
    * transient conditions, and permanently failing a sync on them would
    * trade availability for nothing. IllegalStateException is deliberately
    * RETRYABLE — Spark's "query already active" checkpoint guard throws it
    * on the transient deregistration race a retry exists to absorb; the
    * engine's own rare ISEs just surface after the retry budget. Everything
    * else (task/stream/IO failures) is transient, like the reference's
    * gRPC-status handling.
    */
  private def isEngineValidation(t: Throwable): Boolean =
    t.isInstanceOf[graft.core.GraftValidationException] ||
      (t.isInstanceOf[IllegalArgumentException] && {
        // ORIGIN check, not whole-stack: the first non-JDK/non-scala frame
        // of the creation stack decides who raised it. A Hadoop/Spark IAE
        // thrown transitively UNDER a graft call frame (e.g. NetUtils
        // wrapping a DNS blip beneath LakeTable.fs) must stay retryable —
        // only an IAE the engine itself raised (Predef.require in graft
        // code, explicit graft throw) is deterministic validation.
        val origin = t.getStackTrace.find { f =>
          val c = f.getClassName
          !c.startsWith("java.") && !c.startsWith("jdk.") &&
            !c.startsWith("sun.") && !c.startsWith("scala.")
        }
        origin.exists(_.getClassName.startsWith("graft."))
      })

  private[graft] def isRetryable(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
    !chain.exists(isEngineValidation)
  }

  /** One sync attempt's outcome: committed batches and whether the
    * `timeout_seconds` watchdog fenced it (vs draining naturally).
    */
  private final case class SyncAttempt(batches: Long, timedOut: Boolean)

  /** The reference's `timeout_seconds` SPEC surface (`spec.json:83-90`:
    * default 300, minimum 300; the Read loop falls back to 5 minutes when
    * unset, `planetscale_edge_database.go:232-236`): the CLI accepts any
    * configured value but CLAMPS below-minimum values up to 300 with a loud
    * warning, and applies the 300 s default when unset.
    * `RunConfig.timeoutSeconds` itself stays a raw knob — tests fence at
    * 1–4 s deliberately, and programmatic callers may opt out entirely.
    */
  def specTimeoutSeconds(configured: Option[Long]): Option[Long] = configured match {
    case None => Some(300L)
    case Some(t) if t < 300L =>
      System.err.println(
        s"[graft] timeout_seconds=$t is below the spec minimum of 300; clamped to 300")
      Some(300L)
    case some => some
  }

  /** The reference's `max_retries` × `timeout_seconds` sync loop (the Read
    * loop, `planetscale_edge_database.go:240-287` + `spec.json:76-90`):
    * `maxRetries` is the TOTAL sync-attempt budget (spec default 3 ⇒ at
    * most 3 attempts). Each attempt is individually fenced by
    * `rc.timeoutSeconds` — the reference arms one `context.WithTimeout`
    * per `sync` call — and a fenced or transiently-failed attempt re-enters
    * FROM THE CHECKPOINT: batches committed before the cut stand (data +
    * cursors), the replayed in-flight batch is a no-op (idempotence gate),
    * so forward progress accumulates for up to maxRetries × timeout of
    * wall-clock, exactly like the reference's DeadlineExceeded-then-continue
    * behavior.
    *
    * Exhausting the budget on a RETRYABLE error (or on the fence) returns
    * committed progress WITHOUT throwing, after a loud log — the reference
    * returns the advanced cursor with a NIL error once
    * `syncCount >= maxRetries` for gRPC statuses (a partial sync, not a
    * failure; the next scheduled sync resumes). Non-retryable engine
    * validation errors propagate immediately (the reference's non-gRPC
    * branch returns the error). Returns total batches applied ACROSS
    * attempts, derived from the table's committed batch-id delta.
    */
  def runWithRetries(spark: SparkSession, rc: RunConfig, maxRetries: Int = 3): Long =
    runWithRetriesOutcome(spark, rc, maxRetries).batches

  /** Outcome of a retried sync: batches applied across attempts, whether
    * the sync ended PARTIAL (retry/timeout budget exhausted with work
    * possibly left — the reference's nil-error-after-maxRetries case), and
    * the last retryable error message when one caused the exhaustion. A
    * caller with no scheduler above it (the one-shot CLI) must surface
    * `partial` — stderr logs alone would make a fully-failed sync
    * indistinguishable from a successful one.
    */
  final case class SyncOutcome(batches: Long, partial: Boolean, lastError: Option[String])

  def runWithRetriesOutcome(spark: SparkSession, rc: RunConfig,
      maxRetries: Int = 3): SyncOutcome = {
    require(maxRetries >= 1, s"max_retries must be >= 1 (got $maxRetries)")
    val table = new LakeTable(rc.tableRoot, spark)
    def lastBatch: Long =
      table.summaryValue(s"batch:${rc.streamId}").map(_.toLong).getOrElse(-1L)
    val before = lastBatch
    var attempt = 0
    var continueSync = true
    var partial = false
    var lastError: Option[String] = None
    while (continueSync) {
      attempt += 1
      try {
        val a = runOnce(spark, rc)
        if (!a.timedOut) continueSync = false // drained to the peeked head
        else if (attempt >= maxRetries) {
          System.err.println(
            s"[graft] stream ${rc.streamId}: sync fenced by timeout on final " +
              s"attempt $attempt/$maxRetries; returning committed progress (partial sync)")
          partial = true
          continueSync = false
        } else {
          // visible to operators, like the reference's per-sync log lines
          System.err.println(
            s"[graft] stream ${rc.streamId}: sync attempt $attempt/$maxRetries hit " +
              s"the ${rc.timeoutSeconds.getOrElse(0L)}s fence, continuing from checkpoint")
        }
      } catch {
        case e: Exception if isRetryable(e) =>
          if (attempt >= maxRetries) {
            System.err.println(
              s"[graft] stream ${rc.streamId}: retry budget exhausted after " +
                s"$attempt/$maxRetries attempts; returning committed progress " +
                s"(partial sync, reference gRPC semantics): ${e.getMessage}")
            partial = true
            lastError = Some(String.valueOf(e.getMessage))
            continueSync = false
          } else {
            System.err.println(
              s"[graft] stream ${rc.streamId}: sync attempt $attempt/$maxRetries " +
                s"failed, retrying from checkpoint: ${e.getMessage}")
          }
      }
    }
    SyncOutcome(lastBatch - before, partial, lastError)
  }

  /** Stream-driven Avro evolution trigger — derived ENTIRELY from committed
    * snapshot state (`wire_schema_announced`, stamped by the batch commit
    * itself, vs the `wire_schema_version` applied watermark), so it can run
    * after fresh batches, on skipped replays, and at end-of-sync: whatever
    * crash or timeout fence interleaves with the bump batch, some later
    * call observes announced > applied and completes the bump. Each
    * registry step is applied via [[graft.laketable.AvroSchema
    * .evolveIfNeeded]] (idempotent; the FINAL step is strict — a rename
    * whose source and target are both absent there means a misconfigured
    * registry and fails loud instead of silently watermarking past it).
    */
  private def maybeEvolve(table: LakeTable, rc: RunConfig): Unit = {
    if (rc.schemaRegistry.isEmpty) return
    val snap = table.currentSnapshot.getOrElse(return)
    def summaryInt(key: String) = snap.summary.get(key).map(_.toInt).getOrElse(1)
    val announced = summaryInt("wire_schema_announced")
    val applied = summaryInt("wire_schema_version")
    if (announced <= applied) return
    def avro(i: Int) = rc.schemaRegistry.getOrElse(i,
      throw new graft.core.GraftValidationException(
        s"schema_registry has no Avro schema for wire version $i " +
          s"(stream announced $announced)"))
    val evolved = (applied until announced).foldLeft(snap) { (base, v) =>
      graft.laketable.AvroSchema.evolveIfNeeded(table, base, avro(v), avro(v + 1),
        strict = v + 1 == announced)
    }
    table.commit(evolved, Set.empty, Nil, Map("wire_schema_version" -> announced.toString))
  }

  /** Run one `Trigger.AvailableNow` pass: peek the head, drain to it in
    * micro-batches, commit, stop. Returns the number of batches applied.
    * A `timeoutSeconds` fence bounds THIS pass as a whole (single-fence:
    * committed batches stand, the call returns cleanly) — the
    * reference-style continue-after-timeout composition lives in
    * [[runWithRetries]], which re-arms the fence per attempt.
    */
  def runAvailableNow(spark: SparkSession, rc: RunConfig): Long =
    runOnce(spark, rc).batches

  private def runOnce(spark: SparkSession, rc: RunConfig): SyncAttempt = {
    val table = new LakeTable(rc.tableRoot, spark)
    require(table.currentVersion.nonEmpty, "create the lake table first")
    // the COPY-phase PK watermark is (repo, path)-shaped; arbitrary wire
    // tables ingest the catchup stream (copyRows = 0)
    require(rc.wireTable.isEmpty || rc.gen.copyRows == 0L,
      "wireTable streams do not support a COPY phase (set copyRows = 0)")
    // parity mode pins the tracked wire version to 1 (it models the
    // reference's After-only comparison) — an armed registry would be a
    // silent no-op, so reject the combination loudly instead
    if (rc.parityMode && rc.schemaRegistry.nonEmpty)
      throw new graft.core.GraftValidationException(
        "schema_registry is not supported in parity mode (parity pins the " +
          "tracked wire schema version to 1, so evolution would silently never fire)")
    rc.wireTable.foreach(graft.genlog.WireGen.validateKeys)
    var batches = 0L
    val stream = spark.readStream
      .format("graft-changelog")
      .options(sourceOptions(rc))
      .load()
    val q = stream.writeStream
      .option("checkpointLocation", rc.checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // single source scan: cursors + per-shard stats come back from the
        // apply itself (observed by its staged write), not a pre-scan of
        // the batch here
        val res = CdcApply.applyBatch(table, batch, batchId, streamId = rc.streamId,
          conf = CdcApply.ApplyConfig(parityMode = rc.parityMode,
            wireSpec = rc.wireTable.map(_.spec).orElse(
              if (rc.wirePayload) Some(graft.core.WireTableSpec.repoProfile) else None),
            keyColumns = rc.wireTable.map(_.keys).getOrElse(Seq("repo", "path"))),
          streamName = rc.streamName)
        // stream-driven Avro evolution: the batch commit recorded the
        // announced wire version, so the trigger is derivable from committed
        // state — run it after fresh batches for freshness, after skipped
        // replays (a crash between the bump batch's commit and its evolution
        // commits) and at end-of-sync, so NO crash/fence window can strand
        // v2 data under a v1 schema
        maybeEvolve(table, rc)
        if (!res.skipped) {
          batches += 1
          // the batch commit replaced every file of the buckets it touched
          // (a bucket lists at most two), so expiry is the only upkeep:
          // periodic snapshot expiry bounds the META dir (time-travel
          // window = keepSnapshots); a replayed batch skips this branch,
          // which only delays expiry by one cadence
          rc.expireEvery.foreach { k =>
            if (k > 0 && batchId % k == k - 1) table.expireSnapshots(rc.keepSnapshots)
          }
        }
        ()
      }
      .start()
    // reference timeout_seconds: fence this sync attempt's wall time. The
    // watchdog stops the query; batches whose snapshot already committed
    // stand (data + cursors + checkpoint), an in-flight batch is abandoned
    // (its files stay unlisted until a later expiry deletes them, its
    // checkpoint never advances) and replays exactly-once on the next
    // sync. Partial sync, not a failure — the reference ends the VStream
    // the same way (planetscale_edge_database.go:206-209 step 5b).
    val fenced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val watchdog = rc.timeoutSeconds.map { secs =>
      val t = new java.util.Timer("graft-sync-timeout", true)
      t.schedule(new java.util.TimerTask {
        override def run(): Unit = {
          // only count the fence when the query was still RUNNING: a timer
          // that fires a breath after a natural drain must not flag a
          // fully-complete sync as partial (or burn a pointless retry)
          if (q.isActive) {
            fenced.set(true)
            try q.stop() catch { case _: Exception => () }
          }
        }
      }, secs * 1000L)
      t
    }
    try q.awaitTermination()
    finally {
      watchdog.foreach(_.cancel())
      // deregistration from the JVM-global active-checkpoint set can lag
      // awaitTermination; stop() synchronizes it so an immediate restart on
      // the same checkpoint (crash/resume tests, runWithRetries' next
      // attempt, back-to-back syncs) doesn't trip the concurrent-use guard.
      // Runs on the FAILURE path too — a retried attempt must not burn its
      // retry on "query already active". Best-effort: a stop() error must
      // not mask the original failure.
      try q.stop() catch { case _: Exception => () }
    }
    // end-of-sync evolution check: covers the window where the bump batch's
    // checkpoint ADVANCED before the crash (no replay will ever fire
    // foreachBatch for it) and no further events exist — the committed
    // announced-version still drives the bump to completion here
    maybeEvolve(table, rc)
    // end-of-sync expiry: the in-loop cadence can leave up to expireEvery-1
    // commits' metadata behind; one final pass bounds the meta dir to
    // keepSnapshots snapshot jsons between syncs. A fenced sync
    // skips it: the cancelled batch's tasks may still be using the unlisted
    // batch dir the expiry would delete; the next sync's expiry takes it.
    if (batches > 0 && !fenced.get && rc.expireEvery.exists(_ > 0))
      table.expireSnapshots(rc.keepSnapshots)
    SyncAttempt(batches, fenced.get)
  }

  /** The reference's `read` verb over a configured catalog
    * (`cmd/airbyte-source/read.go:103-138` + sync-mode handling
    * `read.go:151-184`): one ingest pass per configured stream. A stream in
    * `incremental` mode resumes from its checkpoint + table cursors (and,
    * when a `--state` file is supplied, from its per-shard cursors — the
    * reference merges the state file with the catalog per stream,
    * `read.go:151-184`); any non-incremental mode (`full_refresh`;
    * `append` = cursor reset) DROPS the stream's checkpoint and lake table,
    * ignores supplied state, and re-ingests from scratch.
    *
    * Streams run as CONCURRENT AvailableNow queries on a bounded pool —
    * each has its own table root + checkpoint, so they share nothing but
    * the SparkSession's executors. This is the parallelism axis the
    * reference's sequential stream loop lacks (SURVEY A20): a 100-table
    * catalog overlaps its 100 ingest passes instead of serializing them,
    * and each stream's own shard×chunk task parallelism still applies
    * inside its batches. Returns batches applied per stream STATE KEY
    * (`<namespace>:<name>` — same-named tables in different namespaces stay
    * distinct).
    */
  def runCatalog(
      spark: SparkSession,
      catalog: graft.core.ConfiguredCatalog,
      rcFor: graft.core.ConfiguredStream => RunConfig,
      state: graft.core.SyncState = graft.core.SyncState.empty,
      maxConcurrentStreams: Int = 4,
      maxRetries: Int = 3): Map[String, Long] =
    runCatalogOutcomes(spark, catalog, rcFor, state, maxConcurrentStreams, maxRetries)
      .map { case (k, o) => k -> o.batches }

  def runCatalogOutcomes(
      spark: SparkSession,
      catalog: graft.core.ConfiguredCatalog,
      rcFor: graft.core.ConfiguredStream => RunConfig,
      state: graft.core.SyncState = graft.core.SyncState.empty,
      maxConcurrentStreams: Int = 4,
      // per-stream retry budget (the reference's max_retries is per Read;
      // spec.json default 3)
      maxRetries: Int = 3): Map[String, SyncOutcome] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    import scala.util.Try
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrentStreams, catalog.streams.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      // each stream's outcome is captured as a Try so ALL in-flight streams
      // finish before the first failure is rethrown — a caller's cleanup
      // never races sibling queries still writing checkpoints/snapshots
      val futures = catalog.streams.map { s =>
        Future { Try {
          // each stream schedules into its OWN pool: under
          // spark.scheduler.mode=FAIR, unconfigured pools fair-share the
          // executors (weight 1 each), so one stream's large batch cannot
          // starve its siblings the way FIFO would. The local property is
          // inherited by the query-execution thread spawned from start().
          // Harmless no-op under the default FIFO scheduler.
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"graft-${s.stateKey}")
          try {
            val rc0 = rcFor(s)
            // supplied state resumes ONLY incremental streams (read.go:169-180)
            val resume =
              if (s.incrementalSyncRequested) state.streams.getOrElse(s.stateKey, Map.empty)
              else Map.empty[String, graft.core.ShardCursor]
            val rc = rc0.copy(gen = rc0.gen.copy(keyspace = s.namespace),
              streamId = s.stateKey, streamName = s.name,
              resumeState = if (rc0.resumeState.nonEmpty) rc0.resumeState else resume)
            val table = new LakeTable(rc.tableRoot, spark)
            if (!s.incrementalSyncRequested) {
              // cursor reset: checkpoint + table state discarded (read.go:169-180)
              table.drop()
              val cpPath = new org.apache.hadoop.fs.Path(rc.checkpoint)
              val fs = cpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
              if (fs.exists(cpPath)) fs.delete(cpPath, true)
            }
            if (table.currentVersion.isEmpty)
              table.create(
                rc.wireTable
                  .map(wt => graft.core.ChangeEvent.landingSchemaFor(wt, rc.includeMetadata))
                  .getOrElse(
                    graft.core.ChangeEvent.landingSchemaFor(rc.wirePayload, rc.includeMetadata)),
                rc.numBuckets)
            // keyed by stateKey (namespace:name): two streams with the same
            // table name in DIFFERENT namespaces must not collapse to one entry
            // (per-stream retry loop — the reference's max_retries is per Read)
            s.stateKey -> runWithRetriesOutcome(spark, rc, maxRetries)
          } finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        } }
      }
      val results = Await.result(Future.sequence(futures), Duration.Inf)
      results.map(_.get).toMap // rethrows the first failure AFTER all settled
    } finally pool.shutdown()
  }
}
