package graft.laketable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._

/** One immutable data file of a snapshot. `bucket` is the hash-bucket
  * ([[Snapshot.bucketOf]]) of the first merge-key column of the file's rows
  * — the unit of copy-on-write MERGE.
  * `schemaVersion` records which column mapping the file was written under
  * (Iceberg-style field-id rename support).
  */
final case class DataFileEntry(path: String, bucket: Int, rows: Long, schemaVersion: Int)

/** A named, typed column with a stable field id. Renames keep the id. */
final case class FieldDef(id: Int, name: String, dataType: String)

final case class Snapshot(
    version: Long,
    schemaVersion: Int,
    schemas: Map[Int, Seq[FieldDef]],
    numBuckets: Int,
    // every data file of the table at this version
    files: Seq[DataFileEntry],
    summary: Map[String, String],
    // table-relative paths of the files under metrics/ this snapshot lists
    // (per-batch metrics rows, committed with the batch's data and cursors)
    metricsFiles: Seq[String] = Nil) {

  def currentSchema: Seq[FieldDef] = schemas(schemaVersion)

  def sparkSchema: StructType = LakeTable.sparkSchema(currentSchema)

  def fileCount: Int = files.size

  /** The table's one bucketing rule: the bucket of a row is
    * `pmod(xxhash64(k), numBuckets)` of its first merge-key column `k`
    * (field id 1). Both writers of a batch — the staged upserts and the
    * survivor rewrite — bucket through this, so a key lands in one bucket
    * and a commit lists at most two files per bucket.
    */
  def bucketOf(firstKey: Column): Column =
    pmod(xxhash64(firstKey), lit(numBuckets)).cast("int")
}

/** Iceberg-style snapshot table, built from scratch (no Iceberg/Delta runtime
  * exists in this environment): immutable Parquet data files + JSON snapshot
  * metadata + an atomic version-pointer swap. Per-shard VGTID cursors and
  * lineage live in the snapshot `summary` and per-batch metrics files in its
  * `metricsFiles` list, so data, cursors and metrics commit in the SAME atomic
  * operation — the exactly-once mechanism the reference only approximates by
  * emitting STATE after RECORD batches (`cmd/airbyte-source/read.go:131-137`).
  *
  * Layout (works on any Hadoop FileSystem — local, HDFS, S3A):
  *   <root>/data/<uuid>/[_kind=<k>/]_bucket=<b>/part-*.parquet
  *                                       immutable data files, one dir per write
  *   <root>/metrics/gen<T>-<uuid>.parquet immutable metrics files (tier T)
  *   <root>/meta/v<N>.json               snapshot N (schemas, data and metrics
  *                                       file lists, summary)
  *   <root>/meta/version-hint.txt        current version (atomic rename swap)
  * Writers land every file in place; a file is part of the table only once
  * a committed snapshot lists it, so the snapshot commit is the only publish
  * step and [[expireSnapshots]] deletes whatever no kept snapshot lists.
  *
  * Scale design: data files are bucketed by the first merge-key column
  * ([[Snapshot.bucketOf]]) so a MERGE touches only the buckets present in
  * the incoming batch: a micro-batch rewrite is O(affected buckets), which
  * is the whole table when the batch's keys span every bucket. A batch
  * commit replaces every file of each bucket it touches with at most two
  * (its upserts and the bucket's survivors, each written one file per
  * bucket), so no bucket ever lists more than two files and the table needs
  * no compaction: the commit and [[expireSnapshots]] are its whole file
  * lifecycle. The inventory is therefore at most 2 × `numBuckets` entries,
  * which v<N>.json lists inline: every commit writes exactly one snapshot
  * json plus the version hint, O(numBuckets) bytes.
  */
final class LakeTable(val root: String, spark: SparkSession) {
  import LakeTable._

  private val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
  private def fs: FileSystem = new Path(root).getFileSystem(conf)

  private val metaDir = new Path(root, "meta")
  private val dataDir = new Path(root, "data")
  private[graft] val metricsDir = new Path(root, "metrics")
  private val hintFile = new Path(metaDir, "version-hint.txt")

  // ---- snapshot IO -------------------------------------------------------

  def currentVersion: Option[Long] = observedVersion(ignore = None)

  /** Current version as [[currentVersion]], except the crash-recovery
    * listing fallback can IGNORE one version — the snapshot json a write in
    * progress has already renamed into place must not satisfy (or trip) the
    * single-writer guard's reads during that same write.
    */
  private def observedVersion(ignore: Option[Long]): Option[Long] = {
    val f = fs
    if (f.exists(hintFile)) {
      val in = new BufferedReader(new InputStreamReader(f.open(hintFile), StandardCharsets.UTF_8))
      try Some(in.readLine().trim.toLong) finally in.close()
    } else if (!f.exists(metaDir)) None
    else {
      // crash recovery: a failure between hint delete and rename leaves no
      // version-hint — the table is NOT gone; recover from the snapshot
      // listing (max committed v<N>.json)
      val versions = f.listStatus(metaDir).toSeq
        .map(_.getPath.getName)
        .collect { case VersionJsonRe(v) => v.toLong }
        .filterNot(v => ignore.contains(v))
      if (versions.isEmpty) None else Some(versions.max)
    }
  }

  def snapshot(version: Long): Snapshot = {
    val f = fs
    val p = new Path(metaDir, s"v$version.json")
    val in = f.open(p)
    val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
    snapshotFromJson(new String(bytes, StandardCharsets.UTF_8))
  }

  def currentSnapshot: Option[Snapshot] = currentVersion.map(snapshot)

  /** All data files of a snapshot. */
  def allFiles(snap: Snapshot): Seq[DataFileEntry] = snap.files

  private[laketable] def writeSnapshot(s: Snapshot): Unit = {
    val f = fs
    f.mkdirs(metaDir)
    // ---- single-writer guard -------------------------------------------
    // The table contract is single-writer (the streaming driver); a
    // MISCONFIGURED duplicate stream pointed at the same root would
    // otherwise silently interleave last-writer-wins commits and lose data.
    // Every commit expects the observed version to be exactly the one it
    // built on (s.version - 1); the check runs before writing, again right
    // before the pointer swap, and the hint is verified to be OURS after —
    // steady interleaving by a second writer trips one of the three within
    // a commit or two. (A plain-filesystem rename is not a conditional put,
    // so a sub-millisecond photo-finish can still race — this guard detects
    // the practical failure mode, it is not a distributed lock.)
    val expectedPrev: Option[Long] = if (s.version == 0L) None else Some(s.version - 1)
    def guard(stage: String): Unit = {
      val cur = observedVersion(ignore = Some(s.version))
      if (cur != expectedPrev)
        throw new graft.core.GraftValidationException(
          s"concurrent writer detected at $root ($stage): committing " +
            s"v${s.version} expects current version " +
            s"${expectedPrev.map(_.toString).getOrElse("<none>")} but found " +
            s"${cur.map(_.toString).getOrElse("<none>")} — is a second stream " +
            "pointed at this table root?")
    }
    guard("pre-write")
    // snapshot json lands via temp-write + rename: a crash after v<N>.json
    // but before the hint swap leaves a stale orphan that the REPLAYED batch
    // (same content, single writer) simply renames over — no
    // FileAlreadyExists crash-loop on restart
    val p = new Path(metaDir, s"v${s.version}.json")
    val tmpJson = new Path(metaDir, s".v${s.version}.${UUID.randomUUID()}.tmp")
    val out = f.create(tmpJson, true)
    try out.write(snapshotToJson(s).getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (f.exists(p)) f.delete(p, false)
    if (!f.rename(tmpJson, p))
      throw new IllegalStateException(s"failed to write snapshot v${s.version}")
    guard("pre-swap")
    // atomic pointer swap: write tmp hint then rename over the old one
    val tmp = new Path(metaDir, s".version-hint.${UUID.randomUUID()}.tmp")
    val o2 = f.create(tmp, true)
    try o2.write(s.version.toString.getBytes(StandardCharsets.UTF_8)) finally o2.close()
    if (f.exists(hintFile)) f.delete(hintFile, false)
    if (!f.rename(tmp, hintFile))
      throw new IllegalStateException(s"atomic commit failed for v${s.version}")
    // post-swap verification: the hint must still be OURS — if it is not, a
    // concurrent writer swapped in between and one of the two commits has
    // been silently superseded; fail loud so the operator untangles it NOW
    val after = observedVersion(ignore = None)
    if (!after.contains(s.version))
      throw new graft.core.GraftValidationException(
        s"concurrent writer detected at $root (post-swap): committed " +
          s"v${s.version} but the version hint reads " +
          s"${after.map(_.toString).getOrElse("<none>")} — a second writer " +
          "overwrote the commit pointer")
  }

  // ---- create / read -----------------------------------------------------

  def create(schema: StructType, numBuckets: Int,
      props: Map[String, String] = Map.empty): Snapshot = {
    require(currentVersion.isEmpty, s"table already exists at $root")
    val fields = schema.fields.zipWithIndex.map { case (f, i) => FieldDef(i + 1, f.name, f.dataType.sql) }
    val snap = Snapshot(0L, 0, Map(0 -> fields.toSeq), numBuckets, Nil, props)
    fs.mkdirs(dataDir)
    writeSnapshot(snap)
    snap
  }

  /** Read the table at a snapshot (default: current). Files written under an
    * older schema version are re-mapped to current column names by field id
    * (rename = metadata only, Iceberg-style) and missing columns filled null.
    * Each file is read with the schema it was written under, which the
    * snapshot holds, so no scan infers a schema from parquet footers.
    */
  def read(version: Option[Long] = None): DataFrame = {
    val snap = version.map(snapshot).getOrElse(
      currentSnapshot.getOrElse(throw new IllegalStateException(s"no table at $root")))
    readFiles(snap, allFiles(snap))
  }

  private[graft] def readFiles(snap: Snapshot, files: Seq[DataFileEntry]): DataFrame = {
    val cur = snap.currentSchema
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.sparkSchema)
    } else {
      files.groupBy(_.schemaVersion).map { case (sv, group) =>
        val written = snap.schemas(sv)
        val byId = written.map(f => f.id -> f).toMap
        val df = spark.read.schema(sparkSchema(written))
          .parquet(group.map(f => new Path(root, f.path).toString): _*)
        // project written-name → current-name by field id; missing → null
        val cols = cur.map { c =>
          byId.get(c.id) match {
            case Some(w) => col(w.name).cast(DataType.fromDDL(c.dataType)).as(c.name)
            case None    => lit(null).cast(DataType.fromDDL(c.dataType)).as(c.name)
          }
        }
        df.select(cols: _*)
      }.reduce(_.unionByName(_))
    }
  }

  /** Files of the snapshot belonging to the given buckets: the data a
    * merge of those buckets reads back and replaces.
    */
  def filesInBuckets(snap: Snapshot, buckets: Set[Int]): Seq[DataFileEntry] =
    snap.files.filter(f => buckets.contains(f.bucket))

  // ---- write / commit ----------------------------------------------------

  /** Write `df` (must match current schema + a `_bucket` int column) as new
    * data files in place: one parquet directory write under `data/<uuid>/`,
    * partitioned by bucket (one file per bucket when `df` is hash-partitioned
    * on `_bucket`). Returns the entries a commit lists.
    */
  private[graft] def writeDataFiles(df: DataFrame, schemaVersion: Int): Seq[DataFileEntry] = {
    val dir = new Path(dataDir, UUID.randomUUID().toString)
    df.write.partitionBy("_bucket").parquet(dir.toString)
    writtenFiles(dir).map { case (_, bucket, path) =>
      DataFileEntry(path, bucket, -1L, schemaVersion)
    }
  }

  private lazy val rootPrefix = fs.makeQualified(new Path(root)).toUri.getPath + "/"

  /** Table-relative path of `p` (a qualified path under the root). Fails
    * loud otherwise: expiry deletes what it cannot match to a listed path.
    */
  private def relative(p: Path): String = {
    val s = p.toUri.getPath
    require(s.startsWith(rootPrefix), s"$p is not under the table root $root")
    s.stripPrefix(rootPrefix)
  }

  /** Every file under `dir`, recursively. Plain `listStatus`: the local
    * filesystem's `listFiles` forks a process per file for its permissions.
    */
  private def filesUnder(dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.flatMap(st =>
      if (st.isDirectory) filesUnder(st.getPath) else Seq(st.getPath))

  /** `(kind, bucket, path)` of each parquet file a partitioned write left
    * under the data dir `dir`: `kind` from its `_kind=` dir ("" when the
    * write was not partitioned by kind), `path` table-relative.
    */
  private def writtenFiles(dir: Path): Seq[(String, Int, String)] =
    filesUnder(dir).map(relative).filter(_.endsWith(".parquet")).map {
      case p @ WrittenRe(kind, bucket) => (Option(kind).getOrElse(""), bucket.toInt, p)
      case p => throw new IllegalStateException(s"unexpected data file layout: $p")
    }

  /** Write a deduped batch in place under `data/<uuid>/`, one parquet job
    * partitioned by `_kind` ('u' upsert / 'd' delete-key) and `_bucket`.
    * Its upsert files become data files as written once the batch commit
    * lists them; its keys drive the pruning rewrite of existing files.
    * Returns the dir and its [[writtenFiles]] listing.
    */
  private[graft] def stageWrite(df: DataFrame): (Path, Seq[(String, Int, String)]) = {
    val dir = new Path(dataDir, UUID.randomUUID().toString)
    df.write.partitionBy("_kind", "_bucket").parquet(dir.toString)
    (dir, writtenFiles(dir))
  }

  /** BOTH kinds of a [[stageWrite]] batch in one read, `_kind`/`_bucket`
    * recovered as partition columns from the directory layout — the apply
    * derives upsert/delete counts, per-shard cursor stats AND the survivor
    * anti-join's keys from this one DataFrame. `stagedSchema` (the schema
    * of the DataFrame that was just written, WITH `_kind`/`_bucket`) skips
    * footer reads + schema inference — the writer knows exactly what it
    * wrote.
    */
  private[graft] def stagedAllDf(dir: Path, stagedSchema: StructType): DataFrame = {
    // partition columns (_kind/_bucket) go last — the order Spark's
    // partition discovery appends them in
    val parts = Set("_kind", "_bucket")
    val (partCols, dataCols) = stagedSchema.fields.partition(f => parts.contains(f.name))
    spark.read.schema(StructType(dataCols ++ partCols)).parquet(dir.toString)
  }

  /** Delete the unlisted delete-key files of a [[stageWrite]] batch. */
  private[graft] def dropDeleteKeys(dir: Path): Unit = fs.delete(new Path(dir, "_kind=d"), true)

  /** Commit a new snapshot replacing all files in `replacedBuckets` with
    * `newFiles`, merging `summaryUpdates` into the previous summary (keys in
    * `dropSummaryKeys` are removed — bounded-lineage pruning). The metrics
    * list drops `foldedMetrics` and gains `newMetrics`.
    * Single-writer (the streaming driver); the version-hint swap is atomic.
    * Writes one snapshot json listing the whole inventory, O(numBuckets).
    */
  def commit(
      replacedBuckets: Set[Int],
      newFiles: Seq[DataFileEntry],
      summaryUpdates: Map[String, String],
      dropSummaryKeys: Set[String] = Set.empty,
      newMetrics: Seq[String] = Nil,
      foldedMetrics: Set[String] = Set.empty): Snapshot = {
    val prev = currentSnapshot.getOrElse(throw new IllegalStateException("create() first"))
    val snap = prev.copy(
      version = prev.version + 1,
      files = prev.files.filterNot(f => replacedBuckets.contains(f.bucket)) ++ newFiles,
      summary = (prev.summary ++ summaryUpdates) -- dropSummaryKeys,
      metricsFiles = prev.metricsFiles.filterNot(foldedMetrics) ++ newMetrics)
    writeSnapshot(snap)
    snap
  }

  // ---- maintenance ---------------------------------------------------------

  /** Drop snapshot metadata older than the last `keepLast` versions and
    * delete every data and metrics file no kept snapshot lists (time travel
    * window + GC of what failed, fenced or crashed writes left;
    * single-writer: no write is in flight here). A listed file is never
    * deleted.
    */
  def expireSnapshots(keepLast: Int = 3): Unit = {
    val cur = currentVersion.getOrElse(return)
    val f = fs
    val keepFrom = math.max(0L, cur - keepLast + 1)
    // ONE metaDir listing drives everything: which snapshot jsons actually
    // exist (earlier expiries with a smaller window may have deleted part of
    // the keep range — never assume the range is contiguous) and which
    // temp leftovers to sweep. No per-version fs.exists probes — a
    // long-lived table at version 10⁶ must not pay O(lifetime versions)
    // RPCs per maintenance tick.
    val metaListing = f.listStatus(metaDir).toSeq.map(_.getPath)
    val versionsOnDisk = metaListing.map(_.getName)
      .collect { case VersionJsonRe(v) => v.toLong }
    // fail LOUD before deleting anything if the current snapshot json is
    // not in the listing (partial copy, external deletion, inconsistent
    // object-store listing): an empty kept set would otherwise compute an
    // empty referenced set and silently delete every data file
    require(versionsOnDisk.contains(cur),
      s"expireSnapshots: current snapshot v$cur.json missing from $metaDir — refusing to GC")
    val kept = versionsOnDisk.filter(_ >= keepFrom).sorted.map(snapshot)
    val referenced = kept.flatMap(_.files).map(_.path).toSet
    val referencedMetrics = kept.flatMap(_.metricsFiles).toSet
    // delete unlisted data and metrics files: one flat listing per dir; an
    // entry that holds no listed path goes whole (a flat file, or the dir of
    // a superseded or never-committed write), and only dirs that hold a
    // listed path are listed recursively and swept file by file
    Seq(dataDir -> referenced, metricsDir -> referencedMetrics).foreach { case (dir, refs) =>
      val live = refs.map(_.split('/')(1))
      if (f.exists(dir)) f.listStatus(dir).foreach { st =>
        if (!live.contains(st.getPath.getName)) f.delete(st.getPath, true)
        else if (st.isDirectory)
          filesUnder(st.getPath).filterNot(p => refs.contains(relative(p)))
            .foreach(f.delete(_, false))
      }
    }
    // delete temp-write leftovers a crash between create and rename strands
    // (.v*.tmp / .version-hint.*.tmp — single-writer, so no in-flight
    // commit can own one while this maintenance pass runs)
    metaListing.foreach { p =>
      val name = p.getName
      if (name.startsWith(".") && name.endsWith(".tmp")) f.delete(p, false)
    }
    // delete expired snapshot json (only those actually on disk)
    versionsOnDisk.filter(_ < keepFrom).foreach { v =>
      f.delete(new Path(metaDir, s"v$v.json"), false)
    }
  }

  // ---- schema evolution ---------------------------------------------------

  /** Avro-diff-driven evolution: `renames` map old→new name (field id kept),
    * `adds` append new fields with fresh ids. Metadata-only commit — no data
    * files rewritten (old files re-mapped at read time by field id).
    */
  def evolveSchema(renames: Map[String, String], adds: Seq[(String, String)]): Snapshot = {
    val prev = currentSnapshot.getOrElse(throw new IllegalStateException("create() first"))
    val cur = prev.currentSchema
    renames.keys.foreach { o => require(cur.exists(_.name == o), s"rename source missing: $o") }
    adds.foreach { case (n, _) => require(!cur.exists(_.name == n), s"add duplicates column: $n") }
    val renamed = cur.map(f => renames.get(f.name).map(n => f.copy(name = n)).getOrElse(f))
    val maxId = prev.schemas.values.flatten.map(_.id).max
    val added = adds.zipWithIndex.map { case ((n, t), i) => FieldDef(maxId + 1 + i, n, t) }
    val sv = prev.schemaVersion + 1
    val snap = prev.copy(
      version = prev.version + 1,
      schemaVersion = sv,
      schemas = prev.schemas.updated(sv, renamed ++ added))
    writeSnapshot(snap)
    snap
  }

  // ---- convenience --------------------------------------------------------

  def summaryValue(key: String): Option[String] =
    currentSnapshot.flatMap(_.summary.get(key))

  def drop(): Unit = { val f = fs; if (f.exists(new Path(root))) f.delete(new Path(root), true) }
}

object LakeTable {
  private val mapper = new ObjectMapper()
  private val VersionJsonRe = """v(\d+)\.json""".r
  private val WrittenRe = """data/[^/]+/(?:_kind=(\w+)/)?_bucket=(\d+)/[^/]+\.parquet""".r
  private val FormatVersion = 4

  /** The Spark schema of a list of field definitions, in order. */
  def sparkSchema(fields: Seq[FieldDef]): StructType =
    StructType(fields.map(f => StructField(f.name, DataType.fromDDL(f.dataType))))

  def snapshotToJson(s: Snapshot): String = {
    val n = mapper.createObjectNode()
    n.put("formatVersion", FormatVersion)
    n.put("version", s.version)
    n.put("schemaVersion", s.schemaVersion)
    n.put("numBuckets", s.numBuckets)
    val schemas = n.putObject("schemas")
    s.schemas.toSeq.sortBy(_._1).foreach { case (sv, fields) =>
      val arr = schemas.putArray(sv.toString)
      fields.foreach { f =>
        val fn = arr.addObject()
        fn.put("id", f.id); fn.put("name", f.name); fn.put("type", f.dataType)
      }
    }
    val files = n.putArray("files")
    s.files.foreach { f =>
      val fn = files.addObject()
      fn.put("path", f.path); fn.put("bucket", f.bucket)
      fn.put("rows", f.rows); fn.put("schemaVersion", f.schemaVersion)
    }
    val sum = n.putObject("summary")
    s.summary.toSeq.sortBy(_._1).foreach { case (k, v) => sum.put(k, v) }
    val metrics = n.putArray("metrics")
    s.metricsFiles.foreach(metrics.add)
    mapper.writeValueAsString(n)
  }

  def snapshotFromJson(json: String): Snapshot = {
    val n = mapper.readTree(json)
    // fail LOUD on older metadata, never NPE: formatVersion 1 kept the file
    // inventory inline without metrics, formatVersion 2 kept metrics outside
    // the snapshot, formatVersion 3 kept the data files in manifests
    val fv = Option(n.get("formatVersion")).map(_.asInt()).getOrElse(1)
    if (fv != FormatVersion)
      throw new IllegalStateException(
        s"unsupported snapshot formatVersion $fv (this build reads $FormatVersion). " +
          "Rebuild the table.")
    val schemas = n.get("schemas").properties().asScala.map { e =>
      val fields = e.getValue.asInstanceOf[ArrayNode].asScala.map { fn =>
        FieldDef(fn.get("id").asInt(), fn.get("name").asText(), fn.get("type").asText())
      }.toSeq
      e.getKey.toInt -> fields
    }.toMap
    val files = n.get("files").asInstanceOf[ArrayNode].asScala.map { fn =>
      DataFileEntry(fn.get("path").asText(), fn.get("bucket").asInt(),
        fn.get("rows").asLong(), fn.get("schemaVersion").asInt())
    }.toSeq
    val summary = n.get("summary").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    val metrics = n.get("metrics").asInstanceOf[ArrayNode].asScala.map(_.asText()).toSeq
    Snapshot(n.get("version").asLong(), n.get("schemaVersion").asInt(), schemas,
      n.get("numBuckets").asInt(), files, summary, metrics)
  }
}
