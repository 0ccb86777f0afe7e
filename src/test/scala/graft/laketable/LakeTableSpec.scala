package graft.laketable

import graft.SparkSupport
import graft.core.ChangeEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

class LakeTableSpec extends AnyFunSuite with SparkSupport {
  import spark.implicits._

  private def newTable(): LakeTable = {
    val t = new LakeTable(tmpDir("laketable") + "/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    t
  }

  private def someRows(n: Int, repo: String = "repo") =
    (0 until n).map(i => (s"$repo-$i", s"src/f$i.go", "c" * 40, "go", s"content-$i"))
      .toDF("repo", "path", "commit", "lang", "content")

  /** `df` with the `_bucket` column [[LakeTable.writeDataFiles]] expects,
    * by the table's own bucketing rule.
    */
  private def bucketed(t: LakeTable, df: DataFrame): DataFrame =
    df.withColumn("_bucket", t.currentSnapshot.get.bucketOf(col("repo")))

  test("create + commit + read round-trip; empty table reads empty") {
    val t = newTable()
    assert(t.read().count() == 0)
    val df = bucketed(t, someRows(10))
    val files = t.writeDataFiles(df, 0)
    assert(files.nonEmpty && files.forall(_.bucket >= 0))
    t.commit(Set.empty, files, Map("k" -> "v"))
    assert(t.read().count() == 10)
    assert(t.summaryValue("k").contains("v"))
  }

  test("bucketOf keeps the table layout: pmod(xxhash64(first key), numBuckets)") {
    val t = newTable()
    val df = someRows(50)
    val got = df.select(col("repo"), t.currentSnapshot.get.bucketOf(col("repo")).as("b"))
    val want = df.select(col("repo"), pmod(xxhash64(col("repo")), lit(4)).cast("int").as("b"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("single-writer guard: a second committer that built on a stale " +
    "snapshot fails LOUDLY instead of silently interleaving") {
    val root = tmpDir("laketable") + "/t"
    val a = new LakeTable(root, spark)
    a.create(ChangeEvent.rowSchema, numBuckets = 4)
    // writer B reads the table at v0 — the state a misconfigured duplicate
    // stream would hold while writer A commits underneath it
    val b = new LakeTable(root, spark)
    val staleBase = b.currentSnapshot.get

    // writer A commits v1 normally
    val df = bucketed(a, someRows(5))
    a.commit(Set.empty, a.writeDataFiles(df, 0), Map("writer" -> "a"))
    assert(a.currentVersion.contains(1L))

    // writer B then tries to commit ITS v1, built on the stale v0 → the
    // pre-write guard must trip (expected current <none>+1 = 0, found 1)
    val staleCommit = staleBase.copy(version = 1L, summary = Map("writer" -> "b"))
    val e = intercept[graft.core.GraftValidationException](b.writeSnapshot(staleCommit))
    assert(e.getMessage.contains("concurrent writer detected"))
    // writer A's commit is untouched
    assert(a.currentVersion.contains(1L) && a.summaryValue("writer").contains("a"))

    // and the NORMAL single-writer path is unaffected: B re-reads and
    // commits v2 cleanly on top of A's v1
    val df2 = bucketed(b, someRows(3))
    b.commit(Set.empty, b.writeDataFiles(df2, 0), Map("writer" -> "b2"))
    assert(b.currentVersion.contains(2L))
  }

  test("commit replaces only the named buckets") {
    val t = newTable()
    val df = bucketed(t, someRows(20))
    val files = t.writeDataFiles(df, 0)
    t.commit(Set.empty, files, Map.empty)
    val snap = t.currentSnapshot.get
    val bucketsPresent = t.allFiles(snap).map(_.bucket).toSet
    val victim = bucketsPresent.head
    // replace victim bucket with nothing → its rows disappear, others remain
    val expectRemaining = t.readFiles(snap, t.allFiles(snap).filterNot(_.bucket == victim)).count()
    t.commit(Set(victim), Nil, Map.empty)
    assert(t.read().count() == expectRemaining)
  }

  test("version-hint pointer gives time travel") {
    val t = newTable()
    val f1 = t.writeDataFiles(bucketed(t, someRows(5)), 0)
    val v1 = t.commit(Set.empty, f1, Map.empty).version
    val f2 = t.writeDataFiles(bucketed(t, someRows(7)), 0)
    val v2 = t.commit(Set.empty, f2, Map.empty).version
    assert(t.read(Some(v1)).count() == 5)
    assert(t.read(Some(v2)).count() == 12)
    assert(t.currentVersion.contains(v2))
  }

  test("crash-window recovery: missing version-hint recovers from the meta " +
    "listing; a replayed commit renames over an orphaned v<N>.json") {
    val t = newTable()
    val df = bucketed(t, someRows(6))
    t.commit(Set.empty, t.writeDataFiles(df, 0), Map("k" -> "1"))
    assert(t.currentVersion.contains(1L))

    // crash between hint delete and rename: no version-hint on disk —
    // recovery lists meta/v*.json (every committed json is complete, it
    // lands by temp+rename) and takes the max
    val hint = java.nio.file.Paths.get(t.root, "meta", "version-hint.txt")
    val hintBytes = java.nio.file.Files.readAllBytes(hint)
    java.nio.file.Files.delete(hint)
    assert(t.currentVersion.contains(1L), "must recover max committed version from listing")
    assert(t.read().count() == 6)
    java.nio.file.Files.write(hint, hintBytes)

    // crash after v2.json was fully written but before the hint swap: the
    // restart replays the same commit — the rename must overwrite the
    // orphan, not throw FileAlreadyExists in a loop (orphan content is
    // never parsed on this path)
    val orphan = java.nio.file.Paths.get(t.root, "meta", "v2.json")
    java.nio.file.Files.writeString(orphan, "{stale-orphan}")
    val df2 = bucketed(t, someRows(3))
    val snap = t.commit(Set.empty, t.writeDataFiles(df2, 0), Map("k" -> "2"))
    assert(snap.version == 2L && t.currentVersion.contains(2L))
    assert(t.read().count() == 9)
    assert(t.snapshot(2L).summary("k") == "2") // orphan content replaced
  }

  test("expireSnapshots drops old metadata + unreferenced data files") {
    val t = newTable()
    (1 to 5).foreach { i =>
      val f = t.writeDataFiles(bucketed(t, someRows(5)), 0)
      t.commit(if (i > 1) t.allFiles(t.currentSnapshot.get).map(_.bucket).toSet else Set.empty,
        f, Map.empty) // replace everything each time → old files orphan fast
    }
    val cur = t.currentVersion.get
    val rows = t.read().count()
    t.expireSnapshots(keepLast = 2)
    assert(t.read().count() == rows, "current snapshot must survive expiry")
    // superseded files go at the first expiry that no longer keeps them;
    // every file a kept snapshot lists stays
    assert(TableFiles.parquetUnder(t.root, "data") == TableFiles.keptDataFiles(t, 2))
    assert(TableFiles.strayData(t, 2).isEmpty)
    assert(t.read(Some(cur - 1)).count() >= 0)  // kept window still time-travels
    assertThrows[Exception](t.read(Some(0L)))   // expired version gone
    // a LARGER keep window after a smaller one must not crash on the
    // already-deleted versions inside its range (the keep range is not
    // assumed contiguous — earlier expiries may have holes in it)
    t.expireSnapshots(keepLast = 5)
    assert(t.read().count() == rows)
  }

  test("a batch written but never committed leaves read() unchanged, and " +
    "expireSnapshots deletes its dir") {
    val t = newTable()
    t.commit(Set.empty, t.writeDataFiles(bucketed(t, someRows(5)), 0), Map.empty)
    val before = t.read().orderBy("repo", "path").collect().toSeq
    // what a batch killed between its write and its commit leaves:
    // complete parquet of both kinds under data/<uuid>/
    val batch = bucketed(t, someRows(4, "up").withColumn("_kind", lit("u"))
      .unionByName(someRows(4, "del").withColumn("_kind", lit("d"))))
    val (dir, written) = t.stageWrite(batch)
    assert(written.map(_._1).toSet == Set("u", "d"))
    assert(written.forall { case (_, _, p) => Files.exists(Paths.get(t.root, p)) })
    assert(t.read().orderBy("repo", "path").collect().toSeq == before)
    t.expireSnapshots()
    assert(!Files.exists(Paths.get(dir.toString)), "uncommitted batch dir survived")
    assert(t.read().orderBy("repo", "path").collect().toSeq == before)
  }

  test("expireSnapshots keeps the listed files of a data dir and deletes its unlisted ones") {
    val t = newTable()
    val files = t.writeDataFiles(bucketed(t, someRows(20)), 0)
    assert(files.size >= 2 && files.map(_.path.split('/')(1)).distinct.size == 1,
      s"expected one dir of several files: ${files.map(_.path)}")
    val (listed, unlisted) = files.splitAt(1)
    t.commit(Set.empty, listed, Map.empty)
    val rows = t.read().count()
    t.expireSnapshots()
    assert(TableFiles.parquetUnder(t.root, "data") == listed.map(_.path).toSet,
      s"unlisted ${unlisted.map(_.path)} must go, listed ${listed.map(_.path)} must stay")
    assert(TableFiles.strayData(t, 3).isEmpty)
    assert(t.read().count() == rows)
  }

  test("flat data/<uuid>.parquet files of older builds, mixed with the nested " +
    "layout, read, replace and expire with the same row count") {
    val t = newTable()
    // older builds' layout: each data file flat under data/, one per bucket
    val flat = t.writeDataFiles(bucketed(t, someRows(20)).repartition(col("_bucket")), 0).map { e =>
      val name = s"data/${java.util.UUID.randomUUID()}.parquet"
      Files.move(Paths.get(t.root, e.path), Paths.get(t.root, name))
      e.copy(path = name)
    }
    t.commit(Set.empty, flat, Map.empty)
    val crowded = flat.head.bucket
    val nested = t.writeDataFiles(
      bucketed(t, someRows(40, "new")).filter(col("_bucket") === crowded), 0)
    assert(nested.nonEmpty)
    t.commit(Set.empty, nested, Map.empty)
    val rows = t.read().count()
    assert(rows == 20 + t.readFiles(t.currentSnapshot.get, nested).count())
    // rewrite the crowded bucket as one file and commit it in its place,
    // as a batch commit replaces the buckets it touches
    val snap = t.currentSnapshot.get
    val rewritten = t.writeDataFiles(bucketed(t,
      t.readFiles(snap, t.filesInBuckets(snap, Set(crowded)))).repartition(col("_bucket")), 0)
    t.commit(Set(crowded), rewritten, Map.empty)
    assert(TableFiles.maxFilesPerBucket(t) == 1)
    assert(t.read().count() == rows)
    t.expireSnapshots(keepLast = 1)
    assert(t.read().count() == rows)
    val current = t.allFiles(t.currentSnapshot.get).map(_.path).toSet
    val (replaced, kept) = flat.partition(_.bucket == crowded)
    assert(kept.nonEmpty && kept.forall(f => current.contains(f.path)),
      "flat files of untouched buckets stay listed")
    assert(TableFiles.parquetUnder(t.root, "data") == current)
    assert((replaced ++ nested).forall(f => !Files.exists(Paths.get(t.root, f.path))))
  }

  test("schema evolution: rename is metadata-only, add fills null") {
    val t = newTable()
    val files = t.writeDataFiles(bucketed(t, someRows(6)), 0)
    t.commit(Set.empty, files, Map.empty)
    // rename content→body (field id kept), add stars:int
    t.evolveSchema(renames = Map("content" -> "body"), adds = Seq("stars" -> "INT"))
    val df = t.read()
    assert(df.columns.toSeq == Seq("repo", "path", "commit", "lang", "body", "stars"))
    assert(df.filter($"body".startsWith("content-")).count() == 6) // old files readable
    assert(df.filter($"stars".isNull).count() == 6)
    // new writes under the evolved schema coexist with old files
    val snap = t.currentSnapshot.get
    val newRows = Seq(("r-new", "p-new", "c" * 40, "go", "body-new", 5))
      .toDF("repo", "path", "commit", "lang", "body", "stars")
    val nf = t.writeDataFiles(bucketed(t, newRows), snap.schemaVersion)
    t.commit(Set.empty, nf, Map.empty)
    val all = t.read()
    assert(all.count() == 7)
    assert(all.filter($"stars" === 5).count() == 1)
    // rename source validation
    assertThrows[IllegalArgumentException](t.evolveSchema(Map("nope" -> "x"), Nil))
  }
}
