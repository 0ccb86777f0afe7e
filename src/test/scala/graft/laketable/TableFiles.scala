package graft.laketable

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** On-disk and listed views of a local lake table, for checks that GC
  * leaves only what the kept snapshots list and that buckets stay small.
  */
object TableFiles {

  /** Table-relative paths of the parquet files under `<root>/<dir>`,
    * recursively.
    */
  def parquetUnder(root: String, dir: String): Set[String] = {
    val base = Paths.get(root)
    val d = base.resolve(dir)
    if (!Files.exists(d)) Set.empty
    else Using.resource(Files.walk(d))(_.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => base.relativize(p).toString).toSet)
  }

  /** Data-file paths listed by the snapshots an `expireSnapshots(keepLast)`
    * keeps (those of the last `keepLast` versions still on disk).
    */
  def keptDataFiles(t: LakeTable, keepLast: Int): Set[String] = {
    val cur = t.currentVersion.get
    (math.max(0L, cur - keepLast + 1) to cur)
      .filter(v => Files.exists(Paths.get(t.root, "meta", s"v$v.json")))
      .flatMap(v => t.allFiles(t.snapshot(v)).map(_.path)).toSet
  }

  /** Names of the files under `<root>/meta`, without the local
    * filesystem's checksum files.
    */
  def metaFiles(root: String): Set[String] =
    Using.resource(Files.list(Paths.get(root, "meta")))(_.iterator().asScala
      .map(_.getFileName.toString).filterNot(_.endsWith(".crc")).toSet)

  /** The most files of the current snapshot whose span holds one bucket. */
  def maxFilesPerBucket(t: LakeTable): Int = {
    val snap = t.currentSnapshot.get
    (0 until snap.numBuckets).map(b => snap.files.count(_.holds(b))).max
  }

  /** Fails unless every two of `files` have equal or disjoint spans: what
    * makes one overlap pass exact ([[DataFileEntry.overlapping]]).
    */
  def assertSpansNest(files: Seq[DataFileEntry]): Unit = {
    val spans = files.map(f => (f.lo, f.hi)).distinct
    for (a <- spans; b <- spans if a != b && a._1 <= b._2 && b._1 <= a._2)
      throw new AssertionError(s"listed spans $a and $b overlap without being equal")
  }

  /** [[assertSpansNest]] over the files the current snapshot lists. */
  def assertSpansNest(t: LakeTable): Unit = assertSpansNest(t.currentSnapshot.get.files)

  /** What `data/` holds beyond the kept snapshots: every parquet file no kept
    * snapshot lists, and every entry directly under `data/` that no kept
    * snapshot references. Empty after an expiry with the same `keepLast`.
    */
  def strayData(t: LakeTable, keepLast: Int): Seq[String] = {
    val kept = keptDataFiles(t, keepLast)
    val keptTops = kept.map(_.split('/')(1))
    val tops = Option(Paths.get(t.root, "data").toFile.list()).map(_.toSeq).getOrElse(Nil)
      .filterNot(_.startsWith(".")) // local checksum files
    ((parquetUnder(t.root, "data") -- kept).toSeq ++
      tops.filterNot(keptTops).map(n => s"data/$n")).sorted
  }
}
