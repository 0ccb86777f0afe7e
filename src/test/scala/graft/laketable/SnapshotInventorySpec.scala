package graft.laketable

import graft.SparkSupport
import graft.core.ChangeEvent
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** The snapshot's data-file inventory: v<N>.json lists every data file
  * inline, so a commit writes one snapshot json plus the version hint and
  * `meta/` holds nothing else. A batch commit replaces the files of the
  * buckets it names and keeps every other bucket's entries.
  */
class SnapshotInventorySpec extends AnyFunSuite with SparkSupport {

  private def syntheticFiles(buckets: Range, perBucket: Int, tag: String): Seq[DataFileEntry] =
    buckets.flatMap(b => (0 until perBucket).map(i =>
      DataFileEntry(s"data/$tag-$b-$i.parquet", b, -1L, 0)))

  test("a one-bucket commit replaces exactly that bucket") {
    val t = new LakeTable(tmpDir("inventory") + "/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 64)
    t.commit(Set.empty, syntheticFiles(0 until 64, 4, "base"), Map.empty)
    val full = t.currentSnapshot.get
    assert(full.fileCount == 256)

    val before = TableFiles.metaFiles(t.root)
    val snap = t.commit(Set(7), Seq(DataFileEntry("data/new.parquet", 7, -1L, 0)),
      Map("k" -> "v"))
    // the commit's only new metadata file is its snapshot json
    assert(TableFiles.metaFiles(t.root) -- before == Set(s"v${snap.version}.json"))
    assert(snap.fileCount == 256 - 4 + 1)
    assert(t.filesInBuckets(snap, Set(7)).map(_.path) == Seq("data/new.parquet"))
    assert(t.filesInBuckets(snap, (0 until 64).toSet - 7) ==
      full.files.filterNot(_.bucket == 7))
    assert(t.allFiles(snap).size == snap.fileCount)
    // listed compactly: one line, no pretty-printer indentation
    val json = new String(Files.readAllBytes(
      Paths.get(t.root, "meta", s"v${snap.version}.json")), "UTF-8")
    assert(!json.contains('\n'), "snapshot json is pretty-printed")
  }

  test("an emptied bucket refills") {
    val t = new LakeTable(tmpDir("inventory") + "/t2", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 32)
    t.commit(Set.empty, syntheticFiles(0 until 32, 2, "a"), Map.empty)
    t.commit((0 until 8).toSet, Nil, Map.empty)
    val wiped = t.currentSnapshot.get
    assert(wiped.fileCount == 48 && wiped.files.forall(_.bucket >= 8))
    assert(t.filesInBuckets(wiped, Set(3)).isEmpty)
    t.commit(Set.empty, Seq(DataFileEntry("data/refill.parquet", 3, -1L, 0)), Map.empty)
    val refilled = t.currentSnapshot.get
    assert(refilled.fileCount == 49)
    assert(t.filesInBuckets(refilled, Set(3)).map(_.path) == Seq("data/refill.parquet"))
  }

  test("snapshot json round-trips files and metrics") {
    val s = Snapshot(3L, 1, Map(0 -> Seq(FieldDef(1, "repo", "STRING")),
      1 -> Seq(FieldDef(1, "repository", "STRING"))), 64,
      Seq(DataFileEntry("data/a/_bucket=3/part-0.parquet", 3, 10L, 0),
        DataFileEntry("data/b.parquet", 63, -1L, 1)),
      Map("cursors" -> "{}"), Seq("metrics/gen0-a.parquet", "metrics/gen1-b.parquet"))
    assert(LakeTable.snapshotFromJson(LakeTable.snapshotToJson(s)) == s)
  }

  test("formatVersion 2, 3 and 4 snapshots fail loudly") {
    val s = Snapshot(1L, 0, Map(0 -> Seq(FieldDef(1, "repo", "STRING"))), 8, Nil, Map.empty)
    def older(fv: Int)(edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): String = {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(LakeTable.snapshotToJson(s))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      n.put("formatVersion", fv)
      edit(n)
      n.toString
    }
    // formatVersion 2: no metrics list; formatVersion 3: data files in
    // manifests the snapshot references
    val v2 = older(2)(_.remove("metrics"))
    val v3 = older(3) { n =>
      n.remove("files")
      n.put("bucketsPerManifest", 1)
      n.putArray("manifests").addObject()
        .put("path", "meta/m-x.json").put("lo", 0).put("hi", 1).put("fileCount", 1)
    }
    // formatVersion 4: file entries without their lengths
    val v4 = older(4) { n =>
      n.putArray("files").addObject().put("path", "data/a/_bucket=0/part-0.parquet")
        .put("bucket", 0).put("rows", -1L).put("schemaVersion", 0)
    }
    Seq(2 -> v2, 3 -> v3, 4 -> v4).foreach { case (fv, json) =>
      val e = intercept[IllegalStateException](LakeTable.snapshotFromJson(json))
      assert(e.getMessage.contains(s"formatVersion $fv") && e.getMessage.contains("Rebuild"))
    }
  }
}
