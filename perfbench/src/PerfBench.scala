package perfbench

import graft.HostCanary
import graft.apply.CdcApply
import graft.core.{ChangeEvent, SyncState, VGtid}
import graft.genlog.{ChangelogGen, EventGen, GenConfig}
import graft.laketable.LakeTable
import graft.streaming.{CdcStream, SyntheticTransport}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Warm, long-span CDC ingest benchmark. Drives the engine the way the `read`
  * verb does — `CdcStream.runAvailableNow` with the verb's defaults, changing
  * only the micro-batch size — in one JVM at `local[cpus]`, warms the
  * workload with a fixed amount of work during set-up, then times whole
  * syncs for the requested number of seconds. Every result is checked against
  * `ChangelogGen.expectedFinalState`, the `EventGen` closed-form heads and
  * the metrics sidecar, outside the timed spans; a failed check exits 1.
  *
  * Prints one line `RESULT {name: value, …}` on stdout: the end-to-end
  * metrics, or with `--trace 1` the per-layer metrics (see README.md).
  */
object PerfBench {

  /** A workload: the change log it reads and how the syncs cut it. Every
    * sync drains one micro-batch of `batchEvents` (the read verb's
    * `maxPerTrigger`): `freshTable` syncs load the whole backlog (copy +
    * catch-up) into a new table each time, the others append the next
    * `batchEvents` of the change log to one populated table. `freshTable`
    * set-up starts with a cold sync of a tenth of the backlog: class loading,
    * codegen and first compilations cost about the same at any size, and the
    * first full sync after it is as fast as after a full-size cold sync.
    */
  final case class Workload(gen: GenConfig, batchEvents: Long, freshTable: Boolean,
      warmupSyncs: Int)

  /** Full-table scans timed after the measured syncs. */
  val Scans = 5

  val workloads: Map[String, Workload] = Map(
    "snapshot_load" -> Workload(
      GenConfig(numShards = 4, numRepos = 400, pathsPerRepo = 50, copyRows = 20000L,
        numEvents = 100000L),
      batchEvents = 120000L, freshTable = true, warmupSyncs = 1),
    "steady_upsert" -> Workload(
      GenConfig(numShards = 4, numRepos = 500, pathsPerRepo = 100, copyRows = 50000L,
        numEvents = 1000000000L, zipfSkew = 1.0),
      batchEvents = 10000L, freshTable = false, warmupSyncs = 1))

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      cpus: Int, workDir: String, traceOut: Option[String])

  private def parseArgs(argv: Array[String]): Args = {
    val o = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = o.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      o.get("trace").contains("1"),
      o.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      need("work"), o.get("trace-out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w = workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${a.workload} (have ${workloads.keys.toSeq.sorted.mkString(", ")})"))
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      // the read verb's session: shuffle partitions = cores, UTC, no UI
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (attempted, metrics) =
      try new Run(spark, w, a).execute()
      finally spark.stop()
    val body = metrics.map { case (k, v) => s""""$k":${fmt(v)}""" }.mkString(",")
    println(s"""RESULT {"attempted":$attempted,"failed":0,"metrics":{$body}}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else java.math.BigDecimal.valueOf(v).toPlainString
}

/** Prints `HostCanary.best(2)` in seconds. `run.py` runs it in a JVM of its
  * own with the default compiler, before and after a traced run: under the
  * benchmark JVM's C1-only setting the canary's SHA-256 loop is ~17× slower
  * and would time C1, not the host.
  */
object Canary {
  def main(argv: Array[String]): Unit = println(HostCanary.best(2))
}

/** Outcome of one timed sync. */
final case class SyncRec(label: String, wallNs: Long, io: FsBytes.Io, traced: Boolean,
    span: Long)

final class Run(spark: SparkSession, w: PerfBench.Workload, a: PerfBench.Args) {
  private val gen = w.gen.copy(seed = a.seed)
  private val shards = gen.numShards
  private val perShardBatch = w.batchEvents / shards
  require(perShardBatch * shards == w.batchEvents, "batch size must split evenly over shards")
  private val spans = new Spans
  private val progress = new ProgressRecorder
  private val jobs = new JobRecorder(progress.groupOf)
  private val layers = new LayerSums
  private var tables = 0
  private var table: LakeTable = _
  private var root: String = _
  private var checkpoint: String = _
  // per-shard visible head of the appended-to change log (positions)
  private var head = EventGen.copyPerShard(gen)

  private def fail(msg: String): Nothing = throw new IllegalStateException(s"CHECK FAILED: $msg")

  private def newTable(): Unit = {
    tables += 1
    root = s"${a.workDir}/table$tables"
    checkpoint = s"${a.workDir}/checkpoint$tables"
    table = new LakeTable(root, spark)
    // the read verb's table: repo_content landing schema, 64 buckets
    table.create(ChangeEvent.landingSchemaFor(wirePayload = false, includeMetadata = false),
      numBuckets = 64)
  }

  private def dropTable(): Unit = {
    table.drop()
    val cp = new Path(checkpoint)
    cp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cp, true)
  }

  private def lastBatch: Long = table.summaryValue("batch:default").map(_.toLong).getOrElse(-1L)

  /** Catch-up events consumed per shard (the oracle's `numEvents / shards`). */
  private def catchupPerShard: Long = head - EventGen.copyPerShard(gen)

  /** Configuration the visible change log is generated from. */
  private def visibleGen: GenConfig =
    if (w.freshTable) gen else gen.copy(numEvents = catchupPerShard * shards)

  /** The small backlog of a `freshTable` workload's cold sync. */
  private val coldGen = gen.copy(copyRows = gen.copyRows / 10, numEvents = gen.numEvents / 10)

  private def runConfig(batchEvents: Long, g: GenConfig = gen): CdcStream.RunConfig =
    if (w.freshTable) CdcStream.RunConfig(g, root, checkpoint,
      maxEventsPerTrigger = Some(batchEvents))
    else CdcStream.RunConfig(gen, root, checkpoint,
      maxEventsPerTrigger = Some(batchEvents), endSeq = Some(head))

  /** One `runAvailableNow` pass, timed; instruments attached when traced. */
  private def sync(label: String, traced: Boolean, parent: Long, cold: Boolean): SyncRec = {
    if (!w.freshTable) head += perShardBatch
    val rc = if (cold) runConfig(coldGen.copyRows + coldGen.numEvents, coldGen)
      else runConfig(w.batchEvents)
    val before = lastBatch
    if (traced) {
      progress.currentSync = Some(label)
      spark.streams.addListener(progress)
      spark.sparkContext.addSparkListener(jobs)
    }
    val io0 = FsBytes.now()
    val s0 = spans.nowUs
    val t0 = System.nanoTime()
    val n = CdcStream.runAvailableNow(spark, rc)
    val wall = System.nanoTime() - t0
    val io = FsBytes.now() - io0
    val span = spans.add(parent, "sync", label, s0, spans.nowUs)
    if (traced) detach(label)
    if (n != 1) fail(s"$label committed $n micro-batches, planned 1")
    if (lastBatch - before != 1) fail(s"$label advanced the batch id by ${lastBatch - before}")
    SyncRec(label, wall, io, traced, span)
  }

  /** Wait until the listener buses have delivered this sync's events. */
  private def detach(label: String): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((progress.forGroup(label).isEmpty || jobs.pending > 0) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    spark.streams.removeListener(progress)
    spark.sparkContext.removeSparkListener(jobs)
    progress.currentSync = None
    if (progress.forGroup(label).isEmpty) fail(s"$label: progress event missing")
  }

  // ---- checks (outside the timed spans) -----------------------------------

  private def hashed(df: DataFrame): DataFrame =
    df.select(col("repo"), col("path"), sha2(col("content"), 256).as("h"))

  /** Final table == the window-plan oracle on (repo, path, sha256(content)),
    * both directions, multiplicity included: every oracle row counts +1 and
    * every table row −1 under its key, and each key's net must be 0 — the
    * same verdict as `exceptAll` both ways, in one shuffle.
    */
  private def checkOracle(): Unit = {
    val net = hashed(ChangelogGen.expectedFinalState(spark, visibleGen)).withColumn("d", lit(1L))
      .unionByName(hashed(table.read()).withColumn("d", lit(-1L)))
      .groupBy("repo", "path", "h").agg(sum(col("d")).as("d"))
      .agg(sum(when(col("d") > 0, col("d")).otherwise(0L)),
        sum(when(col("d") < 0, -col("d")).otherwise(0L)))
      .collect()(0)
    val missing = if (net.isNullAt(0)) 0L else net.getLong(0)
    val extra = if (net.isNullAt(1)) 0L else net.getLong(1)
    if (missing != 0 || extra != 0)
      fail(s"table differs from oracle: $missing rows missing, $extra unexpected")
  }

  /** Every shard's committed cursor rank == the rank of its head event. */
  private def checkCursors(): Unit = {
    val c = visibleGen
    val st = SyncState.fromJson(table.summaryValue("cursors").getOrElse(fail("no cursors")))
    val paths = EventGen.sortedPaths(c)
    (0 until shards).foreach { i =>
      val shard = EventGen.shardName(shards, i)
      val h = if (w.freshTable) EventGen.totalPerShard(i, c) else head
      val want = VGtid.rank(EventGen.eventAt(i, h - 1, c, paths).vgtid)
      val cur = st.cursorFor(s"${c.keyspace}:repo_content", shard)
        .getOrElse(fail(s"no cursor for shard $shard"))
      if (VGtid.rank(cur.position) != want)
        fail(s"shard $shard cursor rank ${VGtid.rank(cur.position)}, head rank $want")
    }
  }

  /** The sidecar holds every committed batch once per shard, and its rows
    * sum to the events admitted.
    */
  private def checkSidecar(batches: Long, events: Long): Unit = {
    val rows = spark.read.parquet(s"$root/metrics")
      .groupBy(col("batch_id"), col("shard")).agg(count(lit(1)).as("n"), sum(col("rows")).as("rows"))
      .collect()
    val dup = rows.filter(_.getLong(2) != 1L)
    if (dup.nonEmpty) fail(s"sidecar repeats (batch, shard) ${dup.head.get(0)}/${dup.head.get(1)}")
    val ids = rows.map(_.getLong(0)).toSet
    if (ids != (0L until batches).toSet) fail(s"sidecar batches ${ids.toSeq.sorted} != 0..${batches - 1}")
    val total = rows.map(_.getLong(3)).sum
    if (total != events) fail(s"sidecar rows sum to $total, admitted $events")
  }

  // ---- traced per-batch layers -------------------------------------------

  private def lineage(batchId: Long): (Long, Long) = {
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      table.summaryValue(s"lineage:b$batchId").getOrElse(fail(s"no lineage for batch $batchId")))
    (n.get("upserts").asLong(), n.get("deletes").asLong())
  }

  private def recordLayers(rec: SyncRec, version0: Long): Unit = {
    val wallMs = CdcStream.readMetrics(spark, root).select("batch_id", "wall_ms").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchJobs = jobs.jobs.values.asScala.toSeq.groupBy(_.group)
    progress.forGroup(rec.label).foreach { b =>
      val trig = b.durations.getOrElse("triggerExecution", 0L)
      val add = b.durations.getOrElse("addBatch", 0L)
      val bSpan = spans.add(rec.span, "batch", b.group, b.startMs * 1000L, (b.startMs + trig) * 1000L)
      val js = batchJobs.getOrElse(b.group, Nil)
      js.foreach(j => spans.add(bSpan, s"job:${j.method}", b.group, j.startMs * 1000L, j.endMs * 1000L))
      def wallS(methods: String*) =
        Stats.unionLen(js.filter(j => methods.contains(j.method)).map(j => (j.startMs, j.endMs))) / 1e3
      val rewrite = js.filter(_.method == "LakeTable.writeDataFiles")
      val (ups, dels) = lineage(b.batchId)
      val ev = b.rows.toDouble
      layers.add("streaming.trigger_ms_p50", trig)
      layers.add("streaming.loop_ms_per_batch", trig - add)
      layers.add("streaming.sidecar_ms_per_batch",
        add - wallMs.getOrElse(b.batchId, fail(s"no sidecar wall for batch ${b.batchId}")))
      layers.add("apply.batch_ms_p50", wallMs(b.batchId))
      layers.add("apply.winners", ups + dels)
      layers.add("events", ev)
      layers.add("apply.stage_write_s", wallS("LakeTable.stageWrite"))
      // the staged-stats read: its partition-discovery listing plus the collect
      layers.add("apply.staged_stats_s", wallS("LakeTable.stagedAllDf", "CdcApply.applyBatch"))
      layers.add("apply.survivors_s", wallS("LakeTable.writeDataFiles"))
      layers.add("apply.cpu_s_per_batch", js.map(_.cpuNs).sum / 1e9)
      layers.add("apply.shuffle_bytes", js.map(_.shuffleWrite).sum)
      layers.add("apply.spill_bytes", js.map(_.spill).sum)
      layers.add("apply.gc_s_per_batch", js.map(_.gcMs).sum / 1e3)
      val written = rewrite.map(_.recordsWritten).sum
      // the rewrite's scans read the old files plus the staged keys once
      val read = math.max(0L, rewrite.map(_.recordsRead).sum - ups - dels)
      layers.add("laketable.rows_rewritten_per_batch", written)
      layers.add("rewrite.read", read)
      layers.add("rewrite.removed", read - written)
    }
    layers.add("laketable.bytes_written_per_batch", rec.io.written.toDouble)
    layers.add("laketable.bytes_read_per_batch", rec.io.read.toDouble)
    val v1 = table.currentVersion.get
    def files(v: Long) = table.allFiles(table.snapshot(v)).map(_.path).toSet
    ((version0 + 1) to v1).foreach { v =>
      layers.add("laketable.files_per_commit", (files(v) -- files(v - 1)).size)
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ---- the run --------------------------------------------------------------

  def execute(): (Int, Seq[(String, Double)]) = {
    val runSpan = spans.newId()
    val setupSpan = spans.newId()
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    spans.add(setupSpan, "session", "setup", jvmStartUs, spans.nowUs)

    def oneSync(label: String, traced: Boolean, parent: Long, check: Boolean,
        cold: Boolean = false): SyncRec = {
      if (w.freshTable) { if (table != null) dropTable(); newTable() }
      val v0 = table.currentVersion.get
      val rec = sync(label, traced, parent, cold)
      if (w.freshTable && check) {
        checkCursors()
        checkSidecar(1L, w.batchEvents)
      }
      if (traced) recordLayers(rec, v0)
      rec
    }

    // ---- set-up: process start, session, population, warm-up ----
    if (!w.freshTable) {
      // population: the whole copy phase as one micro-batch
      val p0 = spans.nowUs
      newTable()
      val copy = EventGen.copyPerShard(gen) * shards
      val n = CdcStream.runAvailableNow(spark, runConfig(copy))
      if (n != 1) fail(s"population committed $n micro-batches")
      spans.add(setupSpan, "populate", "setup", p0, spans.nowUs)
    }
    val cold = if (w.freshTable) Seq(oneSync("w0", traced = false, setupSpan, check = false,
      cold = true)) else Nil
    val warmup = cold ++ (1 to w.warmupSyncs).map(i =>
      oneSync(s"w$i", traced = false, setupSpan, check = false))
    val setupEnd = spans.nowUs
    val setupS = (setupEnd - jvmStartUs) / 1e6
    spans.add(runSpan, "setup", "setup", jvmStartUs, setupEnd, setupSpan)

    // ---- measured span: whole syncs for `seconds` ----
    val measured = scala.collection.mutable.ArrayBuffer.empty[SyncRec]
    val m0 = System.nanoTime()
    var k = 0
    val minSyncs = if (a.trace) 2 else 1
    while (measured.size < minSyncs || (System.nanoTime() - m0) / 1e9 < a.seconds) {
      k += 1
      // traced runs alternate instrumented and bare syncs: the bare ones
      // give the run's own tracing overhead
      measured += oneSync(s"s$k", traced = a.trace && k % 2 == 1, runSpan, check = true)
    }

    // ---- scans of the final table ----
    val measuredEnd = spans.nowUs
    def scan() = table.read().agg(count(lit(1)), sum(length(col("content")))).collect()(0)
    val warm = scan()
    val scanS = (1 to PerfBench.Scans).map { _ =>
      val s0 = spans.nowUs
      val (r, s) = timed(scan())
      spans.add(runSpan, "scan", "scan", s0, spans.nowUs)
      if (r.getLong(0) != warm.getLong(0) || r.getLong(1) != warm.getLong(1))
        fail("repeated scans of one snapshot disagree")
      s
    }
    val tableRows = warm.getLong(0)

    // ---- checks ----
    val c0 = spans.nowUs
    checkOracle()
    checkCursors()
    if (!w.freshTable) {
      // population + every sync, one micro-batch each
      val syncs = w.warmupSyncs + measured.size
      checkSidecar(1L + syncs, EventGen.copyPerShard(gen) * shards + syncs * w.batchEvents)
    }
    spans.add(runSpan, "check", "check", c0, spans.nowUs)
    val checkS = (spans.nowUs - c0) / 1e6

    val snap = table.currentSnapshot.get
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tableBytes = table.allFiles(snap).map(f => fs.getFileStatus(new Path(root, f.path)).getLen).sum
    val events = measured.size * w.batchEvents
    val attempted = measured.size
    System.err.println(f"perfbench: ${a.workload} seed=${a.seed} syncs=${measured.size} " +
      f"batches=$attempted events=$events rows=$tableRows setup=$setupS%.2f " +
      f"scans=${(c0 - measuredEnd) / 1e6}%.2f checks=$checkS%.2f warm-up=" +
      warmup.map(r => f"${r.wallNs / 1e9}%.2f").mkString(",") + " measured=" +
      measured.map(r => f"${r.wallNs / 1e9}%.2f").mkString(","))

    // medians over the measured syncs and scans: one sync or scan that hits
    // a busy moment of the host does not move the run's figure
    val e2e = Seq(
      "ingest_events_per_s" -> w.batchEvents / Stats.median(measured.map(_.wallNs / 1e9).toSeq),
      "write_bytes_per_event" -> measured.map(_.io.written).sum.toDouble / events,
      "table_bytes" -> tableBytes.toDouble,
      "scan_s" -> PerfBench.Scans * Stats.median(scanS),
      "setup_s" -> setupS)
    val out =
      if (!a.trace) e2e
      else perLayer(measured.toSeq, scanS, tableRows, snap.fileCount)
    spans.add(0L, "run", "run", jvmStartUs, spans.nowUs, runSpan)
    a.traceOut.foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), spans.toJson)
    }
    (attempted, out)
  }

  private def perLayer(measured: Seq[SyncRec], scanS: Seq[Double], tableRows: Long,
      dataFiles: Int): Seq[(String, Double)] = {
    // one batch's offset range (same GenConfig, offsets from 0): through the
    // batch scan, through the LWW combine, and through the bare generator
    val batchGen = if (w.freshTable) gen else gen.copy(copyRows = 0L, numEvents = w.batchEvents)
    val src = spark.read.format("graft-changelog")
      .options(CdcStream.sourceOptions(CdcStream.RunConfig(batchGen, "", ""))).load()
    val srcS = Stats.median((1 to 3).map(_ => timed(noop(src))._2))
    val lwwS = Stats.median((1 to 3).map(_ =>
      timed(noop(CdcApply.dedupLww(ChangelogGen.fullStream(spark, batchGen))))._2))
    val (genN, genS) = timed {
      val t = new SyntheticTransport(batchGen)
      var n = 0L
      (0 until shards).foreach(i =>
        t.events(i, 0L, EventGen.totalPerShard(i, batchGen)).foreach(_ => n += 1))
      n
    }
    if (genN != w.batchEvents) fail(s"generator served $genN events, expected ${w.batchEvents}")
    val (_, expireS) = timed(table.expireSnapshots(8))
    def rate(rs: Seq[SyncRec]) = rs.size * w.batchEvents / (rs.map(_.wallNs).sum / 1e9)
    val (traced, bare) = measured.partition(_.traced)
    def perEvent(k: String) = layers.sum(k) / layers.sum("events")
    val read = layers.sum("rewrite.read")
    Seq(
      "streaming.source_events_per_s" -> w.batchEvents / srcS,
      "streaming.trigger_ms_p50" -> layers.med("streaming.trigger_ms_p50"),
      "streaming.loop_ms_per_batch" -> layers.med("streaming.loop_ms_per_batch"),
      "streaming.sidecar_ms_per_batch" -> layers.med("streaming.sidecar_ms_per_batch"),
      "apply.batch_ms_p50" -> layers.med("apply.batch_ms_p50"),
      "apply.lww_events_per_s" -> w.batchEvents / lwwS,
      "apply.winners_per_event" -> perEvent("apply.winners"),
      "apply.stage_write_s" -> layers.med("apply.stage_write_s"),
      "apply.staged_stats_s" -> layers.med("apply.staged_stats_s"),
      "apply.survivors_s" -> layers.med("apply.survivors_s"),
      "apply.cpu_s_per_batch" -> layers.med("apply.cpu_s_per_batch"),
      "apply.shuffle_bytes_per_event" -> perEvent("apply.shuffle_bytes"),
      "apply.spill_bytes" -> layers.med("apply.spill_bytes"),
      "apply.gc_s_per_batch" -> layers.med("apply.gc_s_per_batch"),
      "laketable.bytes_written_per_batch" -> layers.med("laketable.bytes_written_per_batch"),
      "laketable.bytes_read_per_batch" -> layers.med("laketable.bytes_read_per_batch"),
      "laketable.rows_rewritten_per_batch" -> layers.med("laketable.rows_rewritten_per_batch"),
      "laketable.rewrite_useful_ratio" -> (if (read > 0) layers.sum("rewrite.removed") / read else 0.0),
      "laketable.files_per_commit" -> layers.med("laketable.files_per_commit"),
      "laketable.data_files" -> dataFiles.toDouble,
      "laketable.scan_rows_per_s" -> tableRows / Stats.median(scanS),
      "laketable.expire_s" -> expireS,
      "genlog.events_per_s" -> genN / genS,
      "jvm.rss_peak_mb" -> Stats.vmHwmMb(),
      "trace.ingest_overhead" -> (rate(bare) / rate(traced) - 1.0))
  }
}
