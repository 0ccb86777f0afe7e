package graft.laketable

import graft.SparkSupport
import graft.core.ChangeEvent
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The manifest-tree scale property: snapshot commit metadata cost is
  * O(affected bucket groups), never O(total files). v<N>.json holds only the
  * manifest LIST; file entries live in immutable per-group manifests that
  * unaffected commits reuse by reference (Iceberg's manifest-list/manifest
  * split). At 100 TB (10⁴–10⁵ data files) this is what keeps a micro-batch
  * commit from serializing the full file inventory on the driver every batch.
  */
class ManifestSpec extends AnyFunSuite with SparkSupport {

  private def syntheticFiles(buckets: Range, perBucket: Int, tag: String): Seq[DataFileEntry] =
    buckets.flatMap(b => (0 until perBucket).map(i =>
      DataFileEntry(s"data/$tag-$b-$i.parquet", b, -1L, 0)))

  private def metaFiles(root: String): Map[String, Long] =
    Files.list(Paths.get(root, "meta")).iterator().asScala
      .map(p => p.getFileName.toString -> Files.size(p)).toMap

  test("commit rewrites only affected bucket groups' manifests; the rest are " +
    "reused by reference — metadata bytes per commit are O(affected), not O(files)") {
    val t = new LakeTable(tmpDir("manifest") + "/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 256, bucketsPerManifest = 16)

    // build a 10,240-file inventory (256 buckets × 40 files)
    t.commit(Set.empty, syntheticFiles(0 until 256, 40, "base"), Map.empty)
    val full = t.currentSnapshot.get
    assert(full.manifests.size == 16 && full.fileCount == 10240)
    val fullInventoryBytes = full.manifests.map { m =>
      Files.size(Paths.get(t.root, m.path))
    }.sum

    // a small batch: replace bucket 7, add one file there
    val before = metaFiles(t.root)
    val snap = t.commit(Set(7), Seq(DataFileEntry("data/new.parquet", 7, -1L, 0)),
      Map("k" -> "v"))
    val after = metaFiles(t.root)

    // 15 of 16 manifests are byte-identical reuses of the previous snapshot's
    val prevByLo = full.manifests.map(m => m.loBucket -> m.path).toMap
    val reused = snap.manifests.count(m => prevByLo.get(m.loBucket).contains(m.path))
    assert(reused == 15, s"expected 15 reused manifests, got $reused")
    assert(snap.manifests.size == 16)
    assert(snap.fileCount == 10240 - 40 + 1)

    // new metadata written this commit: exactly one manifest (group of bucket
    // 7) + v2.json + the version hint — a small fraction of the inventory
    val newNames = after.keySet -- before.keySet
    assert(newNames.count(_.startsWith("m-")) == 1,
      s"expected exactly 1 new manifest, got $newNames")
    val newBytes = newNames.iterator.map(after).sum + after("version-hint.txt")
    assert(newBytes * 8 < fullInventoryBytes,
      s"commit wrote $newBytes metadata bytes vs $fullInventoryBytes full inventory " +
        "— manifest tree must keep commits O(affected buckets)")

    // read paths agree with the tree
    assert(t.filesInBuckets(snap, Set(7)).map(_.path) == Seq("data/new.parquet"))
    assert(t.filesInBuckets(snap, Set(8)).size == 40)
    assert(t.allFiles(snap).size == snap.fileCount)
  }

  test("a group emptied by replacement drops its manifest; refilling recreates it") {
    val t = new LakeTable(tmpDir("manifest") + "/t2", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 32, bucketsPerManifest = 8)
    t.commit(Set.empty, syntheticFiles(0 until 32, 2, "a"), Map.empty)
    assert(t.currentSnapshot.get.manifests.size == 4)
    // wipe group 0 (buckets 0-7)
    t.commit((0 until 8).toSet, Nil, Map.empty)
    val wiped = t.currentSnapshot.get
    assert(wiped.manifests.size == 3 && wiped.manifests.forall(_.loBucket >= 8))
    assert(t.filesInBuckets(wiped, Set(3)).isEmpty)
    // refill one bucket of the dropped group
    t.commit(Set.empty, Seq(DataFileEntry("data/refill.parquet", 3, -1L, 0)), Map.empty)
    val refilled = t.currentSnapshot.get
    assert(refilled.manifests.size == 4)
    assert(t.filesInBuckets(refilled, Set(3)).map(_.path) == Seq("data/refill.parquet"))
  }

  test("expireSnapshots GCs manifests no kept snapshot references") {
    val t = new LakeTable(tmpDir("manifest") + "/t3", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 16, bucketsPerManifest = 4)
    (1 to 6).foreach { i =>
      t.commit((0 until 16).toSet, syntheticFiles(0 until 16, 1, s"g$i"), Map.empty)
    }
    val manifestsOnDisk = metaFiles(t.root).keySet.count(_.startsWith("m-"))
    assert(manifestsOnDisk == 6 * 4, "each full-replace commit wrote 4 manifests")
    t.expireSnapshots(keepLast = 2)
    val keptRefs = (t.currentVersion.get - 1 to t.currentVersion.get)
      .flatMap(v => t.snapshot(v).manifests.map(m => Paths.get(t.root, m.path).getFileName.toString))
      .toSet
    val remaining = metaFiles(t.root).keySet.filter(_.startsWith("m-"))
    assert(remaining == keptRefs, "exactly the kept snapshots' manifests survive")
  }

  test("snapshot json round-trips the manifest list") {
    val s = Snapshot(3L, 1, Map(0 -> Seq(FieldDef(1, "repo", "STRING")),
      1 -> Seq(FieldDef(1, "repository", "STRING"))), 64, 8,
      Seq(ManifestEntry("meta/m-x.json", 0, 8, 12), ManifestEntry("meta/m-y.json", 56, 64, 1)),
      Map("cursors" -> "{}"), Seq("metrics/gen0-a.parquet", "metrics/gen1-b.parquet"))
    assert(LakeTable.snapshotFromJson(LakeTable.snapshotToJson(s)) == s)
    val files = Seq(DataFileEntry("data/a.parquet", 3, 10L, 0))
    assert(LakeTable.manifestFromJson(LakeTable.manifestToJson(files)) == files)
  }

  test("a formatVersion 2 snapshot (metrics outside the snapshot) fails loudly") {
    val s = Snapshot(1L, 0, Map(0 -> Seq(FieldDef(1, "repo", "STRING"))), 8, 1, Nil, Map.empty)
    val n = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(LakeTable.snapshotToJson(s))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    n.put("formatVersion", 2)
    n.remove("metrics")
    val e = intercept[IllegalStateException](LakeTable.snapshotFromJson(n.toString))
    assert(e.getMessage.contains("formatVersion 2") && e.getMessage.contains("Rebuild"))
  }
}
