package graft.laketable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import java.nio.charset.StandardCharsets
import java.util.UUID
import scala.jdk.CollectionConverters._

/** One immutable data file of a snapshot. Its rows' buckets
  * ([[Snapshot.bucketOf]]) lie in the span `[lo, hi]`: the range of
  * [[BucketRanges]] it was written for, the unit of copy-on-write MERGE.
  * `bytes` is the file's length as its writer listed it, so a scan is
  * planned from the entry alone. `schemaVersion` records which column
  * mapping the file was written under (Iceberg-style field-id rename
  * support).
  *
  * Listed spans are pairwise equal or disjoint: every span is a range of a
  * nesting count ([[BucketRanges.count]]), and a batch commit drops every
  * listed file that overlaps a file the batch wrote
  * ([[DataFileEntry.overlapping]]).
  */
final case class DataFileEntry(path: String, lo: Int, hi: Int, bytes: Long, schemaVersion: Int) {
  def holds(bucket: Int): Boolean = lo <= bucket && bucket <= hi
}

object DataFileEntry {

  /** The files of `listed` whose span overlaps the span of a file of
    * `written`: what a batch that wrote `written` reads back for its
    * survivors and its commit drops. Spans nest, so that set is exact in
    * one pass: a listed span that meets a written range either lies inside
    * it or holds it, and any other listed span meeting it equals it.
    */
  def overlapping(listed: Seq[DataFileEntry], written: Seq[DataFileEntry]): Seq[DataFileEntry] =
    listed.filter(f => written.exists(w => f.lo <= w.hi && w.lo <= f.hi))
}

/** `count` contiguous ranges over a table's `numBuckets` buckets: range `r`
  * holds buckets `[lo(r), hi(r)]`, and range sizes differ by at most one.
  * A range is the unit a data file covers (the bins-and-ranges layout of
  * Megaphone, VLDB 2019): both writers of a batch shuffle one range per task
  * ([[partition]]), so a write makes one file per range and kind, whatever
  * `numBuckets` is. Every listed file span is a range of a count
  * [[BucketRanges.count]] returns, and those counts nest, so two listed
  * spans are equal or disjoint.
  */
final case class BucketRanges(numBuckets: Int, count: Int) {
  require(count >= 1 && count <= numBuckets, s"$count ranges over $numBuckets buckets")

  def lo(r: Int): Int = ((r.toLong * numBuckets + count - 1) / count).toInt
  def hi(r: Int): Int = lo(r + 1) - 1
  def rangeOf(bucket: Int): Int = (bucket.toLong * count / numBuckets).toInt

  /** `df` with its `_bucket` column replaced by the bucket's range `_range`,
    * shuffled so that partition `r` holds exactly range `r`.
    */
  def partition(df: DataFrame): DataFrame =
    df.withColumn("_range", expr(s"CAST(_bucket * $count DIV $numBuckets AS INT)"))
      .drop("_bucket")
      .repartitionById(count, col("_range"))
}

object BucketRanges {

  /** Ranges per write: the session's shuffle parallelism `partitions`
    * rounded up to a power of two, and never more than `numBuckets` (the
    * finest split). Power-of-two counts nest — range `r` of `count` is
    * ranges `2r` and `2r + 1` of `2 × count`, since `lo` rounds up — and
    * every range nests in one of them when the count is `numBuckets`, so
    * when the parallelism changes between batches a new range lies inside
    * one old file span or covers whole ones, and a sparse batch never
    * replaces more than that span.
    */
  def count(numBuckets: Int, partitions: Int): Int =
    math.min(numBuckets, Integer.highestOneBit(math.max(1, partitions) * 2 - 1))

  /** The ranges a batch on `base` writes under `spark`'s
    * `spark.sql.shuffle.partitions`.
    */
  def forBatch(base: Snapshot, spark: SparkSession): BucketRanges =
    BucketRanges(base.numBuckets,
      count(base.numBuckets, spark.conf.get("spark.sql.shuffle.partitions").toInt))
}

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
    * survivor rewrite — bucket through this and write one file per
    * contiguous range of buckets ([[BucketRanges]]), so a key lands in one
    * file and a bucket is held by at most two. `numBuckets` is the finest
    * split a file can cover, not the file count.
    */
  def bucketOf(firstKey: Column): Column =
    pmod(xxhash64(firstKey), lit(numBuckets)).cast("int")
}

/** Iceberg-style snapshot table, built from scratch (no Iceberg/Delta runtime
  * exists in this environment): immutable Parquet data files + JSON snapshot
  * metadata, committed by one no-overwrite rename. Per-shard VGTID cursors and
  * lineage live in the snapshot `summary` and per-batch metrics files in its
  * `metricsFiles` list, so data, cursors and metrics commit in the SAME atomic
  * operation — the exactly-once mechanism the reference only approximates by
  * emitting STATE after RECORD batches (`cmd/airbyte-source/read.go:131-137`).
  *
  * Layout (works on any Hadoop FileSystem — local, HDFS, S3A):
  *   <root>/data/<uuid>/[_kind=<k>/]_range=<r>/part-*.parquet
  *                                       immutable data files, one dir per write
  *   <root>/metrics/gen<T>-<uuid>.parquet immutable metrics files (tier T)
  *   <root>/meta/v<N>.json               snapshot N (schemas, data and metrics
  *                                       file lists, summary); the largest N
  *                                       is the current version
  * Writers land every file in place, with no `_SUCCESS` marker; a file is
  * part of the table only once a committed snapshot lists it, so the
  * snapshot commit — the rename of a temp json onto `v<N>.json`, which fails
  * when `v<N>.json` exists (the Delta Lake log's put-if-absent) — is the
  * only publish step and [[expireSnapshots]] deletes whatever no kept
  * snapshot lists. Each listed entry records the file's length and bucket
  * span, so every scan is planned from the entries alone: no listing, no
  * footer read, no Spark job before an action.
  *
  * Scale design: rows hash into `numBuckets` buckets by the first merge-key
  * column ([[Snapshot.bucketOf]]), and a write makes one file per range and
  * kind: a batch splits the buckets into [[BucketRanges]] contiguous ranges,
  * one per write task (the session's shuffle partitions, rounded up to a
  * power of two). A MERGE touches only the ranges present in the incoming
  * batch: a micro-batch rewrite is O(affected ranges), which is the whole
  * table when the batch's keys span every range. The trade is the sparse
  * batch: a batch touching one bucket rewrites its whole range, so
  * `numBuckets / count` buckets' rows. A batch commit drops the listed
  * files whose span overlaps a written file — spans nest, so that set is
  * exact in one pass — and lists at most two per range (its upserts and
  * the range's survivors), so no bucket is ever held by more than two
  * files and the table needs no compaction: the commit and
  * [[expireSnapshots]] are its whole file lifecycle. The inventory is
  * therefore at most 2 × `numBuckets` entries, which v<N>.json lists inline:
  * every commit writes exactly one snapshot json, O(numBuckets) bytes.
  */
final class LakeTable(val root: String, spark: SparkSession) {
  import LakeTable._

  private val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
  private def fs: FileSystem = new Path(root).getFileSystem(conf)

  private val metaDir = new Path(root, "meta")
  private val dataDir = new Path(root, "data")
  private[graft] val metricsDir = new Path(root, "metrics")

  // ---- snapshot IO -------------------------------------------------------

  /** Every path directly under `meta/`: none when it does not exist yet. */
  private def metaListing(f: FileSystem): Seq[Path] =
    try f.listStatus(metaDir).toSeq.map(_.getPath)
    catch { case _: java.io.FileNotFoundException => Nil }

  private def versionsIn(listing: Seq[Path]): Seq[Long] =
    listing.map(_.getName).collect { case VersionJsonRe(v) => v.toLong }

  /** The committed version: the largest `v<N>.json` in one listing of
    * `meta/` (a json lands complete, by rename). [[expireSnapshots]] bounds
    * that listing.
    */
  def currentVersion: Option[Long] = versionsIn(metaListing(fs)).maxOption

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

  /** Publish snapshot `s`: the one rename of its temp json onto
    * `meta/v<N>.json` is the commit, and it never replaces a json. A commit
    * built on a snapshot that is no longer the current one therefore fails
    * loud: its `v<N>.json` exists (a second writer committed N), or the
    * listing after the rename holds a larger version (N was expired, so the
    * rename landed under the current version and would be ignored). A crash
    * before the rename leaves only a `.v<N>.*.tmp`, which nothing reads and
    * expiry deletes; a crash after it leaves the committed version.
    */
  private def writeSnapshot(s: Snapshot): Unit = {
    val f = fs
    val target = new Path(metaDir, s"v${s.version}.json")
    val tmp = new Path(metaDir, s".v${s.version}.${UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(snapshotToJson(s).getBytes(StandardCharsets.UTF_8)) finally out.close()
    def concurrentWriter(found: String) = new graft.core.GraftValidationException(
      s"concurrent writer detected at $root: committing v${s.version} but $found " +
        "— is a second stream pointed at this table root?")
    // the FileSystem contract fails a rename onto an existing file (HDFS,
    // object stores), but the local filesystem replaces it: probe first
    if (f.exists(target) || !f.rename(tmp, target)) {
      f.delete(tmp, false)
      if (f.exists(target)) throw concurrentWriter(s"v${s.version}.json already exists")
      throw new IllegalStateException(s"failed to publish snapshot v${s.version}")
    }
    val cur = versionsIn(metaListing(f)).maxOption
    if (!cur.contains(s.version)) {
      f.delete(target, false) // below the current version: never read
      throw concurrentWriter(s"the current version is ${cur.getOrElse("<none>")}")
    }
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
    * snapshot holds, over a file index of the snapshot's entries, so
    * building the scan lists nothing and infers no schema: no Spark job runs
    * before an action.
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
        val index = new ListedFiles(qualifiedRoot, group.map(f =>
          new FileStatus(f.bytes, false, 1, f.bytes, 0L, new Path(qualifiedRoot, f.path))))
        val df = GraftBridge.ofRows(spark, LogicalRelation(HadoopFsRelation(index,
          new StructType(), sparkSchema(written), None, new ParquetFileFormat, Map.empty)(spark)))
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

  // ---- write / commit ----------------------------------------------------

  /** Write `df` (must match current schema + a `_bucket` int column) as new
    * data files in place: one parquet directory write under `data/<uuid>/`,
    * one file per range of `ranges`. Returns the entries a commit lists.
    */
  private[graft] def writeDataFiles(df: DataFrame, ranges: BucketRanges,
      schemaVersion: Int): Seq[DataFileEntry] = {
    val dir = new Path(dataDir, UUID.randomUUID().toString)
    ranges.partition(df).write.options(NoSuccessMarker).partitionBy("_range")
      .parquet(dir.toString)
    writtenFiles(dir, ranges, schemaVersion).map(_._2)
  }

  private lazy val qualifiedRoot = fs.makeQualified(new Path(root))
  private lazy val rootPrefix = qualifiedRoot.toUri.getPath + "/"

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
  private def filesUnder(dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap(st => if (st.isDirectory) filesUnder(st.getPath) else Seq(st))

  /** `(kind, entry)` of each parquet file a partitioned write left under
    * the data dir `dir`: `kind` from its `_kind=` dir ("" when the write was
    * not partitioned by kind), the entry's span the range of its `_range=`
    * dir, its path table-relative and its length from the same listing.
    */
  private def writtenFiles(dir: Path, ranges: BucketRanges,
      schemaVersion: Int): Seq[(String, DataFileEntry)] =
    filesUnder(dir).map(st => (relative(st.getPath), st.getLen))
      .filter(_._1.endsWith(".parquet")).map {
        case (p @ WrittenRe(kind, r), len) =>
          (Option(kind).getOrElse(""),
            DataFileEntry(p, ranges.lo(r.toInt), ranges.hi(r.toInt), len, schemaVersion))
        case (p, _) => throw new IllegalStateException(s"unexpected data file layout: $p")
      }

  /** Write a deduped batch (current schema + `_kind` + `_range`, shuffled by
    * [[BucketRanges.partition]]) in place under `data/<uuid>/`, one parquet
    * job partitioned by `_kind` ('u' upsert / 'd' delete-key) and `_range`.
    * Its upsert entries become data files as written once the batch commit
    * lists them; [[readFiles]] over all its entries gives the keys that
    * drive the pruning rewrite of existing files. Returns the dir and its
    * [[writtenFiles]] listing.
    */
  private[graft] def stageWrite(df: DataFrame, ranges: BucketRanges,
      schemaVersion: Int): (Path, Seq[(String, DataFileEntry)]) = {
    val dir = new Path(dataDir, UUID.randomUUID().toString)
    df.write.options(NoSuccessMarker).partitionBy("_kind", "_range").parquet(dir.toString)
    (dir, writtenFiles(dir, ranges, schemaVersion))
  }

  /** Delete the unlisted delete-key files of a [[stageWrite]] batch. */
  private[graft] def dropDeleteKeys(dir: Path): Unit = fs.delete(new Path(dir, "_kind=d"), true)

  /** Commit the snapshot after `base`, listing `base`'s files without the
    * entries of `replaced` (matched by path) plus `newFiles`, and merging
    * `summaryUpdates` into `base`'s summary (keys in `dropSummaryKeys` are
    * removed — bounded-lineage pruning). The metrics list drops
    * `foldedMetrics` and gains `newMetrics`. `base` is the snapshot the
    * caller read and built on, so the commit fails loud when another commit
    * landed since ([[writeSnapshot]]); it becomes the largest `v<N>.json`,
    * one json listing the whole inventory, O(numBuckets).
    */
  def commit(
      base: Snapshot,
      replaced: Seq[DataFileEntry],
      newFiles: Seq[DataFileEntry],
      summaryUpdates: Map[String, String],
      dropSummaryKeys: Set[String] = Set.empty,
      newMetrics: Seq[String] = Nil,
      foldedMetrics: Set[String] = Set.empty): Snapshot = {
    val dropped = replaced.map(_.path).toSet
    val snap = base.copy(
      version = base.version + 1,
      files = base.files.filterNot(f => dropped(f.path)) ++ newFiles,
      summary = (base.summary ++ summaryUpdates) -- dropSummaryKeys,
      metricsFiles = base.metricsFiles.filterNot(foldedMetrics) ++ newMetrics)
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
    val f = fs
    // ONE meta/ listing drives everything: the current version, which
    // snapshot jsons exist (earlier expiries with a smaller window may have
    // deleted part of the keep range — never assume it is contiguous) and
    // which temp leftovers to sweep. No per-version fs.exists probes — a
    // long-lived table at version 10⁶ must not pay O(lifetime versions)
    // RPCs per maintenance tick.
    val listing = metaListing(f)
    val versionsOnDisk = versionsIn(listing)
    val cur = versionsOnDisk.maxOption.getOrElse(return)
    val keepFrom = math.max(0L, cur - keepLast + 1)
    val kept = versionsOnDisk.filter(_ >= keepFrom).sorted.map(snapshot)
    val referenced = kept.flatMap(_.files).map(_.path).toSet
    val referencedMetrics = kept.flatMap(_.metricsFiles).toSet
    // delete expired snapshot jsons (only those actually on disk) before any
    // file they list: a crash part-way leaves every json on disk readable
    versionsOnDisk.filter(_ < keepFrom).foreach { v =>
      f.delete(new Path(metaDir, s"v$v.json"), false)
    }
    // delete unlisted data and metrics files: one flat listing per dir; an
    // entry that holds no listed path goes whole (a flat file, or the dir of
    // a superseded or never-committed write), and only dirs that hold a
    // listed path are listed recursively and swept file by file
    Seq(dataDir -> referenced, metricsDir -> referencedMetrics).foreach { case (dir, refs) =>
      val live = refs.map(_.split('/')(1))
      if (f.exists(dir)) f.listStatus(dir).foreach { st =>
        if (!live.contains(st.getPath.getName)) f.delete(st.getPath, true)
        else if (st.isDirectory)
          filesUnder(st.getPath).map(_.getPath).filterNot(p => refs.contains(relative(p)))
            .foreach(f.delete(_, false))
      }
    }
    // delete the .v<N>.*.tmp a crash between create and rename strands
    // (single-writer, so no in-flight commit can own one while this
    // maintenance pass runs)
    listing.foreach { p =>
      val name = p.getName
      if (name.startsWith(".") && name.endsWith(".tmp")) f.delete(p, false)
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
  private val WrittenRe = """data/[^/]+/(?:_kind=(\w+)/)?_range=(\d+)/[^/]+\.parquet""".r
  private val FormatVersion = 6

  /** Write option: no `_SUCCESS` marker. The snapshot commit is the only
    * publish step, so a marker would only be one more file for expiry.
    */
  private val NoSuccessMarker = Map("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  /** A file index that serves a fixed list of files with their recorded
    * lengths: planning a scan over it makes no filesystem call.
    */
  private final class ListedFiles(root: Path, files: Seq[FileStatus]) extends FileIndex {
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, files.map(FileStatusWithMetadata(_))))
    override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.getLen).sum
    override def partitionSchema: StructType = new StructType()
  }

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
      fn.put("path", f.path); fn.put("lo", f.lo); fn.put("hi", f.hi)
      fn.put("bytes", f.bytes); fn.put("schemaVersion", f.schemaVersion)
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
    // the snapshot, formatVersion 3 kept the data files in manifests,
    // formatVersion 4 recorded no file lengths, formatVersion 5 one bucket
    // per file
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
      DataFileEntry(fn.get("path").asText(), fn.get("lo").asInt(), fn.get("hi").asInt(),
        fn.get("bytes").asLong(), fn.get("schemaVersion").asInt())
    }.toSeq
    val summary = n.get("summary").properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    val metrics = n.get("metrics").asInstanceOf[ArrayNode].asScala.map(_.asText()).toSeq
    Snapshot(n.get("version").asLong(), n.get("schemaVersion").asInt(), schemas,
      n.get("numBuckets").asInt(), files, summary, metrics)
  }
}
