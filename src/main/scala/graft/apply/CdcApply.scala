package graft.apply

import graft.core.{LastPk, ShardCursor, ShardStats, SyncState, VGtid}
import graft.functions.ShardStatsAgg
import graft.functions.VGtidRankExpr.vgtid_rank
import graft.laketable.{BucketRanges, LakeTable, Snapshot}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Result of applying one micro-batch. `stats` carries per-shard end cursors
  * + lineage, and `upserts`/`deletes` the staged winners per kind, all
  * observed by the staged write itself (the source is scanned once, and
  * nothing the write produced is read back for them).
  */
final case class ApplyResult(
    snapshot: Snapshot,
    upserts: Long,
    deletes: Long,
    skipped: Boolean,
    stats: Map[String, ShardStats] = Map.empty,
    // highest wire schema_version among the batch's winners (observed by
    // the staged write with the cursors — no extra scan); the
    // streaming driver compares it to the applied registry version to
    // trigger Avro-driven evolution. 1 = base / parity mode.
    maxSchemaVersion: Int = 1)

/** Distributed CDC apply: the Spark re-imagining of the reference's
  * single-threaded consume loop (`cmd/internal/planetscale_edge_database.go:
  * 291-462` + the sequential stream×shard loop `cmd/airbyte-source/read.go:
  * 103-138`). One micro-batch of change events → last-writer-wins dedup →
  * bucket-scoped copy-on-write MERGE into the lake table, with per-shard
  * VGTID cursors committed in the same snapshot (exactly-once).
  *
  * Scale notes:
  *  - LWW dedup is one hash aggregate on the merge key ([[dedupLww]]) whose
  *    map-side partial combine leaves one candidate per key per partition
  *    for the single shuffle. Hot repos are handled by that combine, by AQE
  *    skew splitting on the join and by the key carrying `path` (high
  *    cardinality within a hot repo spreads its partitions).
  *  - The MERGE reads back, anti-joins and rewrites only the files whose
  *    bucket ranges the batch touches. That bounds a commit by the batch's
  *    key spread, not by its size: uniform keys touch every range, so such
  *    a batch rewrites the whole table. The batch side of the join is
  *    broadcast when small (AQE decides from runtime stats).
  */
object CdcApply {

  /** Parity mode reproduces the reference's After-image-only semantics
    * (deletes dropped — `planetscale_edge_database.go:398-410`); native mode
    * applies deletes as row removals. `wireSpec` marks the batch as a RAW
    * WIRE-STRING changelog: every after-image column is run through the
    * reference's `parseValue` normalization (`types.go:139-220`) and cast to
    * its typed landing column INSIDE the staging job — normalization is
    * part of the ingest plan (one pass, codegen'd column expressions), not a
    * separate post-pass over the table. `keyColumns` names the merge key in the event
    * payload — in the same order as the table's leading field ids 1..k — so
    * ANY table with a composite PK ingests, not just repo_content; the
    * first key column drives bucketing.
    */
  final case class ApplyConfig(parityMode: Boolean = false,
      wireSpec: Option[graft.core.WireTableSpec] = None,
      keyColumns: Seq[String] = Seq("repo", "path"))

  /** Trailing window of `lineage:b<N>` summary keys retained per stream —
    * older entries are pruned at commit so the snapshot summary stays O(1)
    * over a stream's lifetime (the snapshot's metrics files are the durable
    * per-batch record).
    */
  val lineageKeep: Long = 64L

  private val lineageMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The batch-level facts the batch's metrics rows do not hold: buckets
    * replaced and staged upsert/delete winners. Per-shard positions, rows,
    * wall time and the committed version live in the metrics rows only.
    */
  private[graft] def lineageJson(buckets: Int, upserts: Long, deletes: Long): String = {
    val n = lineageMapper.createObjectNode()
    n.put("buckets", buckets); n.put("upserts", upserts); n.put("deletes", deletes)
    lineageMapper.writeValueAsString(n)
  }

  /** Key names whose canonical `_<name>` column would collide with the
    * dedup/staging internals (`_rank`, `_win`, `_kind`, …) — a collision
    * would silently corrupt the LWW grouping, so fail loud instead.
    */
  private val ReservedKeyNames = Set("rank", "win", "key_events", "kind", "bucket", "payload")

  /** Canonical merge-key columns `_<name>` from the event's after/before
    * images (delete events carry the key only in `before`). `landing` maps
    * each raw key to its canonical (typed) form BEFORE dedup groups on it —
    * for wire streams this is the normalized typed value, so two wire
    * spellings of one logical key ("42"/"042") can never stage two winners.
    */
  private def withKeyCols(events: DataFrame, keys: Seq[String],
      landing: (String, Column) => Column): DataFrame = {
    val bad = keys.filter(ReservedKeyNames.contains)
    require(bad.isEmpty,
      s"key column name(s) ${bad.mkString(", ")} collide with dedup internals " +
        s"(reserved: ${ReservedKeyNames.toSeq.sorted.mkString(", ")})")
    keys.foldLeft(events)((df, k) =>
      df.withColumn(s"_$k", landing(k, coalesce(col(s"after.$k"), col(s"before.$k")))))
  }

  /** Identity key landing (typed streams: the payload key IS canonical). */
  val rawKey: (String, Column) => Column = (_, c) => c

  /** Wire-stream key landing: normalize + typed cast, and FAIL LOUD when a
    * non-null wire key is unrepresentable in the landing type — a silently
    * nulled merge key would escape every later anti-join (NULL ≠ NULL) and
    * accumulate un-updatable duplicate rows. Values get the lands-null
    * contract; KEYS get the PK-integrity contract.
    */
  def wireKey(ws: graft.core.WireTableSpec): (String, Column) => Column = (k, c) => {
    val landed = ws.normalizedLanding(k, c)
    when(c.isNull || landed.isNotNull, landed)
      .otherwise(raise_error(concat(
        lit(s"unrepresentable merge-key value for '$k': "), c.cast("string"))))
  }

  /** LWW dedup: keep the newest event per merge key (default `(repo, path)`;
    * any composite key via `keys`) by (vgtid rank, event_seq) — the
    * north-star's "(vgtid, event_seq) window".
    * Input must carry `vgtid`, `event_seq`, `op`, `before`, `after`.
    *
    * Implementation: ONE `LwwMaxBy` aggregate per key whose buffer is the
    * winning event itself — a hash aggregate with MAP-SIDE partial combine,
    * so the shuffle carries at most one candidate row per key per partition
    * instead of every event. Hot repos (Zipf skew) are absorbed by the
    * map-side combine, the classic skew cure a window formulation lacks.
    */
  def dedupLww(events: DataFrame,
      keys: Seq[String] = Seq("repo", "path"),
      keyLanding: (String, Column) => Column = rawKey): DataFrame = {
    val keyed = withKeyCols(events, keys, keyLanding)
      .withColumn("_rank", vgtid_rank(col("vgtid")))
    val keyCols = keys.map(k => col(s"_$k"))
    val payload = events.columns.map(col) :+ col("_rank")
    // LwwMaxBy (TypedImperativeAggregate) instead of max_by(struct, struct):
    // ObjectHashAggregate-eligible → hash probes, no per-partition sort.
    // `_key_events` (events folded into this key) rides along so per-shard
    // processed-row counts can be recovered from the winners without
    // re-scanning the source (sum of per-key counts = batch rows).
    // The payload struct is PRE-BUILT in the (codegen'd) child projection —
    // inside the aggregate it is a bound reference, so LwwMaxBy's update
    // sees an UnsafeRow and copies winners with one buffer memcpy instead
    // of an interpreted CreateNamedStruct eval + field re-encode per
    // improving row (ObjectHashAggregate evaluates update expressions
    // interpreted).
    keyed
      .withColumn("_payload", struct(payload: _*))
      .groupBy(keyCols: _*)
      .agg(graft.functions.LwwMaxBy.lww_max_by(
        col("_payload"), col("_rank"), col("event_seq")).as("_win"),
        count(lit(1)).as("_key_events"))
      .select(keyCols ++ Seq(col("_win.*"), col("_key_events")): _*)
  }

  /** The [[ShardStatsAgg]] input of one row: a staged winner (its `_rank`
    * and `_key_events`), or in parity mode a raw event (rank recomputed,
    * one event each). Its stats are correct on the winners because within
    * a shard events are totally ordered by `event_seq`: the shard's latest
    * event is the latest for its key, so it always survives dedup — max over
    * winners = max over the batch. Keys never span shards, so per-key
    * `_key_events` sums to the shard's processed rows.
    */
  private def statsRow(rank: Column, keyEvents: Column): Column = ShardStatsAgg.row(
    col("keyspace"), col("shard"), col("vgtid"), rank, col("event_seq"), col("is_copy_phase"),
    col("last_pk.repo"), col("last_pk.path"), keyEvents, col("schema_version"))

  /** One [[ShardStatsAgg]] result row → (shard, stats). Watermark rule
    * (the reference clears LastKnownPk once the copy phase completes): any
    * catch-up event in the shard nulls `last_pk`; otherwise the max-seq COPY
    * row's watermark is kept.
    */
  private def statsFromRow(r: Row, prevState: SyncState,
      streamName: String): (String, ShardStats) = {
    val (ks, shard, vEnd) = (r.getString(0), r.getString(1), r.getString(2))
    val pk = if (r.getBoolean(3)) None
             else for { repo <- Option(r.getString(4)); p <- Option(r.getString(5)) }
                  yield LastPk(repo, p)
    val prevPos = prevState.cursorFor(s"$ks:$streamName", shard).map(_.position).getOrElse("")
    shard -> ShardStats(ShardCursor(ks, shard, vEnd, pk), r.getLong(6), prevPos, vEnd)
  }

  /** Apply one batch. Idempotent: replaying a batch whose id was already
    * committed (crash between sink write and checkpoint advance) is a no-op,
    * which is what makes restart-from-checkpoint exactly-once. Per-shard end
    * cursors and the per-kind counts are observed INSIDE the staging job —
    * an `Observation` in its result stage aggregates the winners as they are
    * written, and the stats inputs are projected away before the files — so
    * the source is scanned exactly once and no staged file is read back for
    * stats. The only read of the staged files is the survivor anti-join's
    * key columns, planned from the written entries.
    *
    * `streamName` is the source TABLE name: committed cursors are keyed
    * `<keyspace>:<streamName>` (the reference's `namespace + ":" + name`
    * state key, `read.go:108`), so multi-stream catalog state round-trips
    * through `SyncState.readState` and reference-shaped `--state` files.
    */
  def applyBatch(
      table: LakeTable,
      events: DataFrame,
      batchId: Long,
      streamId: String = "default",
      conf: ApplyConfig = ApplyConfig(),
      streamName: String = "repo_content"): ApplyResult = {

    val tStart = System.nanoTime()
    val snap = table.currentSnapshot.getOrElse(
      throw new IllegalStateException("LakeTable.create() first"))

    // --- idempotence gate (exactly-once on replay) ---
    val key = s"batch:$streamId"
    val already = snap.summary.get(key).exists(_.toLong >= batchId)
    if (already) return ApplyResult(snap, 0L, 0L, skipped = true)

    val prevState = snap.summary.get("cursors").map(SyncState.fromJson).getOrElse(SyncState.empty)
    val keys = conf.keyColumns
    // wire streams: keys are canonicalized (normalized + typed, fail-loud on
    // unrepresentable) BEFORE dedup, so grouping, bucketing and landing all
    // see one identical typed key value
    val keyLanding = conf.wireSpec.map(wireKey).getOrElse(rawKey)
    val filtered = if (conf.parityMode) events.filter(col("op") =!= "delete") else events
    val deduped = dedupLww(filtered, keys, keyLanding)
    val spark = events.sparkSession

    // --- stage (ONE job: gen/source → LWW combine → range shuffle → parquet),
    // written in place under data/: the upsert files ARE the final data
    // files once the batch commit lists them, so the heavy content bytes are
    // written exactly once per batch.
    // Event payloads speak the table's ORIGINAL (v0) column names; after
    // Avro-driven renames the current snapshot may use different names —
    // map by Iceberg-style field id (rename = metadata only), columns added
    // since v0 fill null.
    // `_<key>` columns are already canonical/typed (keyLanding ran before
    // dedup), so bucketing here hashes the SAME value the survivor rewrite
    // hashes from the typed read path. Both writes split the buckets into
    // the same ranges: one file per range and kind.
    val bucket = snap.bucketOf(col(s"_${keys.head}"))
    val ranges = BucketRanges.forBatch(snap, spark)
    val origById = snap.schemas(0).map(f => f.id -> f.name).toMap
    def nullAs(ddl: String, name: String) =
      lit(null).cast(org.apache.spark.sql.types.DataType.fromDDL(ddl)).as(name)
    val dataCols = snap.currentSchema.map { f =>
      origById.get(f.id) match {
        case Some(orig) if keys.contains(orig) => col(s"_$orig").as(f.name)
        // provenance metadata (reference's _planetscale_metadata analogue):
        // position/sequence of the winning event + extraction timestamp
        case Some("_graft_vgtid")        => col("vgtid").as(f.name)
        case Some("_graft_seq")          => col("event_seq").as(f.name)
        case Some("_graft_extracted_at") => current_timestamp().as(f.name)
        case Some(orig) =>
          // wire-typed stream: reference parseValue normalization + typed
          // landing cast, fused into the staging projection
          val landed = conf.wireSpec match {
            case Some(ws) => ws.normalizedLanding(orig, col(s"after.$orig"))
            case None     => col(s"after.$orig")
          }
          coalesce(landed, nullAs(f.dataType, f.name)).as(f.name)
        case None => nullAs(f.dataType, f.name)
      }
    }
    // --- the per-shard stats and per-kind counts are OBSERVED by the write:
    // the observation sits above the range exchange, in the write's result
    // stage, where Spark applies each task's accumulator update once (a
    // retried task does not count twice). Its `_stats` input rides the
    // shuffle and is projected away before the files, which hold only
    // table columns. ---
    val observation = Observation()
    val staged = ranges.partition(deduped.select(dataCols ++ Seq(
      when(col("op") === "delete", lit("d")).otherwise(lit("u")).as("_kind"),
      bucket.as("_bucket"), statsRow(col("_rank"), col("_key_events")).as("_stats")): _*))
      .observe(observation, ShardStatsAgg.shard_stats(col("_stats")).as("shards"),
        count_if(col("_kind") === "u").as("u"), count_if(col("_kind") === "d").as("d"))
      .drop("_stats")
    val (batchDir, written) = table.stageWrite(staged, ranges, snap.schemaVersion)
    // every file meeting the written ranges is replaced (and read back for
    // its survivors); lineage counts the buckets that covers
    val replaced = ranges.replacedBuckets(snap.files,
      written.map { case (_, e) => ranges.rangeOf(e.lo) }.toSet)
    // a batch with no winners writes no file and has no stats to wait for
    val observed = if (written.isEmpty) Map.empty[String, Any] else observation.get
    val upsertCount = observed.get("u").fold(0L)(_.asInstanceOf[Long])
    val deleteCount = observed.get("d").fold(0L)(_.asInstanceOf[Long])
    // parity mode runs the same aggregate over the raw batch instead, so
    // dropped deletes still advance positions; evolution tracking stays at
    // the base version there — parity mode models the reference's
    // After-only comparison, not live schema changes
    val statsRows: Seq[Row] =
      if (conf.parityMode)
        events.agg(ShardStatsAgg.shard_stats(statsRow(vgtid_rank(col("vgtid")), lit(1L))))
          .head().getSeq[Row](0)
      else observed.get("shards").fold(Seq.empty[Row])(_.asInstanceOf[Seq[Row]])
    val stats = statsRows.map(statsFromRow(_, prevState, streamName)).toMap
    val maxWireSv =
      if (conf.parityMode) 1 else statsRows.map(_.getInt(7)).foldLeft(1)(math.max)
    val cursors = stats.map { case (s, st) => s -> st.cursor }

    // --- prune overwritten/deleted keys out of existing files (only those
    // the commit replaces, so staged files exist whenever old files do;
    // anti-join against the key columns of all of them, both kinds) ---
    // merge key = fields id 1..k (current names survive renames)
    val keyNames = (1 to keys.length).map(id =>
      snap.currentSchema.find(_.id == id).get.name)
    val oldFiles = table.filesInBuckets(snap, replaced)
    val survivorFiles =
      if (oldFiles.isEmpty) Nil
      else {
        val old = table.readFiles(snap, oldFiles)
        val survivors = old
          .join(table.readFiles(snap, written.map(_._2)).select(keyNames.map(col): _*),
            keyNames, "left_anti")
          .withColumn("_bucket", snap.bucketOf(col(keyNames.head)))
        table.writeDataFiles(survivors, ranges, snap.schemaVersion)
      }
    val newFiles = written.collect { case ("u", e) => e } ++ survivorFiles
    // --- the batch's metrics rows (and any tier fold) are written in place
    // under metrics/ and listed by the SAME commit as its data and cursors:
    // exactly-once by construction. `version` is the version this commit
    // lands as: it builds on `snap`, and fails loud if another commit
    // landed since. ---
    val wallMs = (System.nanoTime() - tStart) / 1000000L
    val version = snap.version + 1
    val batchMetrics =
      if (stats.isEmpty) Nil
      else Seq(writeMetricsFile(spark, table.metricsDir, 0,
        metricsRows(batchId, stats, wallMs, version)))
    val (foldFiles, folded) = foldMetrics(spark, table, snap)
    val newMetrics = (batchMetrics ++ foldFiles).map(p => s"metrics/${p.getName}")

    // --- transactional cursor + lineage commit ---
    val merged = cursors.values.foldLeft(prevState) { (st, c) =>
      val stateKey = s"${c.keyspace}:$streamName"
      // never move a cursor backwards (containment order, not lexicographic;
      // blank positions never compare after — reference positionAfter
      // guard), and never REPLACE a valid cursor with a blank one (a batch
      // whose winners carry no position must not regress the shard)
      val keep = st.cursorFor(stateKey, c.shard) match {
        case Some(old) if c.position.isEmpty ||
          VGtid.positionAfter(old.position, c.position) => old
        case _ => c
      }
      st.updated(stateKey, keep)
    }
    val lineage = lineageJson(replaced.size, upsertCount, deleteCount)
    // bounded lineage: retain the trailing window only — the summary map
    // (rewritten every commit) must not grow O(batches) over a stream's
    // lifetime. The metrics files are the durable per-batch record.
    val stale = snap.summary.keysIterator.filter { k =>
      k.startsWith("lineage:b") &&
        k.stripPrefix("lineage:b").toLongOption.exists(_ <= batchId - lineageKeep)
    }.toSet
    // the ANNOUNCED wire schema version rides the batch commit itself
    // (monotone max): the streaming driver's evolution trigger is
    // re-derivable from committed state alone, so a crash anywhere
    // between this commit and the evolution commits can always heal —
    // even when the bump batch is the stream's last and replays as a
    // skip (or never replays because the checkpoint advanced)
    val announcedPrev = snap.summary.get("wire_schema_announced")
      .map(_.toInt).getOrElse(1)
    val announce: Map[String, String] =
      if (math.max(maxWireSv, announcedPrev) > 1)
        Map("wire_schema_announced" -> math.max(maxWireSv, announcedPrev).toString)
      else Map.empty
    val committed = table.commit(snap,
      replacedBuckets = replaced,
      newFiles = newFiles,
      summaryUpdates = Map(
        key -> batchId.toString,
        "cursors" -> merged.toJson,
        s"lineage:b$batchId" -> lineage) ++ announce,
      dropSummaryKeys = stale,
      newMetrics = newMetrics,
      foldedMetrics = folded)
    // the unlisted delete keys go only once their batch has committed: a
    // failed or fenced batch's cancelled tasks may still be using its dir,
    // so that dir is left to expireSnapshots, like a crashed batch's
    table.dropDeleteKeys(batchDir)
    ApplyResult(committed, upsertCount, deleteCount, skipped = false, stats = stats,
      maxSchemaVersion = maxWireSv)
  }

  /** Per-batch metrics rows, one per (batch, shard): shard lineage (vgtid
    * range, rows), the apply wall up to the commit, throughput and the
    * committed version. Numerics are required, strings optional.
    */
  val metricsSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false),
    StructField("keyspace", StringType),
    StructField("shard", StringType),
    StructField("vgtid_start", StringType),
    StructField("vgtid_end", StringType),
    StructField("rows", LongType, nullable = false),
    StructField("wall_ms", LongType, nullable = false),
    StructField("batch_events_per_sec", DoubleType, nullable = false),
    StructField("committed_version", LongType, nullable = false)))

  private lazy val metricsParquet: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
    metricsSchema.fields.foldLeft[Types.GroupBuilder[MessageType]](Types.buildMessage()) {
      (b, f) => b.addField(f.dataType match {
        case LongType   => Types.required(INT64).named(f.name)
        case DoubleType => Types.required(DOUBLE).named(f.name)
        case _          => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(f.name)
      })
    }.named("spark_schema")
  }

  private[graft] def metricsRows(batchId: Long, stats: Map[String, ShardStats],
      wallMs: Long, version: Long): Seq[Row] = {
    val evPerSec = if (wallMs > 0) stats.values.map(_.rows).sum * 1000.0 / wallMs else 0.0
    stats.toSeq.sortBy(_._1).map { case (shard, st) =>
      Row(batchId, st.cursor.keyspace, shard, st.vgtidStart, st.vgtidEnd, st.rows, wallMs,
        evPerSec, version)
    }
  }

  /** Write `rows` ([[metricsSchema]]) as one tier-`tier` parquet file in
    * `dir` — directly with the parquet writer on the driver: the rows are
    * O(shards) per batch, far below the cost of a Spark job. Null strings
    * are left unset, as the optional schema fields declare.
    */
  private[graft] def writeMetricsFile(spark: SparkSession, dir: Path, tier: Int,
      rows: Seq[Row]): Path = {
    val file = new Path(dir, s"gen$tier-${java.util.UUID.randomUUID()}.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
      .withType(metricsParquet)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(metricsParquet)
      metricsSchema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        r.get(i) match {
          case v: Long   => g.add(i, v)
          case v: Double => g.add(i, v)
          case v         => g.add(i, v.toString)
        }
      }
      writer.write(g)
    } finally writer.close()
    file
  }

  /** Files per metrics tier. A tier below the top one that holds this many
    * files in the previous snapshot folds into ONE file of the next tier
    * inside the batch commit — a content-neutral swap of list entries — so
    * each row is rewritten once per tier and the list stays bounded (the top
    * tier, 3, gains a file every 32³ batches).
    */
  val MetricsTierFiles = 32

  private def metricsTier(path: String): Int =
    new Path(path).getName.stripPrefix("gen").takeWhile(_.isDigit).toInt

  /** Write the fold of every full tier: returns the folded files (in
    * metrics/, unlisted until the batch commit) and the list entries they
    * replace.
    */
  private def foldMetrics(spark: SparkSession, table: LakeTable,
      snap: Snapshot): (Seq[Path], Set[String]) = {
    val full = snap.metricsFiles.groupBy(metricsTier).toSeq
      .filter { case (t, files) => t < 3 && files.size >= MetricsTierFiles }
    val out = full.map { case (t, files) =>
      val rows = spark.read.schema(metricsSchema)
        .parquet(files.map(f => new Path(table.root, f).toString): _*).collect()
      writeMetricsFile(spark, table.metricsDir, t + 1, rows.toSeq)
    }
    (out, full.flatMap(_._2).toSet)
  }

  /** Batch replay driver: applies a full changelog DataFrame in one shot
    * (the `Trigger.AvailableNow` degenerate case) — used by parity tests and
    * the benchmark's throughput measurement.
    */
  def replayAll(
      table: LakeTable,
      stream: DataFrame,
      conf: ApplyConfig = ApplyConfig()): ApplyResult =
    applyBatch(table, stream, batchId = 0L, conf = conf)
}
