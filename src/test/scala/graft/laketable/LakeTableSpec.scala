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

  /** The ranges a batch on `t` writes in this session: one per bucket of a
    * 4-bucket table at 4 shuffle partitions.
    */
  private def ranges(t: LakeTable): BucketRanges =
    BucketRanges.forBatch(t.currentSnapshot.get, spark)

  /** `df` written as data files of `t`, one per range. */
  private def write(t: LakeTable, df: DataFrame, schemaVersion: Int = 0): Seq[DataFileEntry] =
    t.writeDataFiles(bucketed(t, df), ranges(t), schemaVersion)

  test("create + commit + read round-trip; empty table reads empty") {
    val t = newTable()
    assert(t.read().count() == 0)
    val files = write(t, someRows(10))
    assert(files.nonEmpty && files.forall(f => 0 <= f.lo && f.lo <= f.hi && f.hi < 4))
    t.commit(t.currentSnapshot.get, Set.empty, files, Map("k" -> "v"))
    assert(t.read().count() == 10)
    assert(t.summaryValue("k").contains("v"))
  }

  test("read() on a 64-bucket table of more than 32 files submits no job before an action") {
    val t = new LakeTable(tmpDir("laketable") + "/t64", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 64)
    t.commit(t.currentSnapshot.get, Set.empty,
      t.writeDataFiles(bucketed(t, someRows(400)), BucketRanges(64, 64), 0), Map.empty)
    assert(t.currentSnapshot.get.fileCount > 32)
    val sc = spark.sparkContext
    sc.setJobGroup("read-plan", "building read()")
    val df = try t.read() finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("read-plan").isEmpty,
      "building the scan ran a Spark job (file listing or schema inference)")
    assert(df.count() == 400)
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
    // stream holds while writer A commits underneath it
    val b = new LakeTable(root, spark)
    val staleBase = b.currentSnapshot.get
    val bFiles = write(b, someRows(3, "b"))

    // writer A commits v1 while B's batch runs
    val aFiles = write(a, someRows(5, "a"))
    a.commit(a.currentSnapshot.get, Set.empty, aFiles, Map("writer" -> "a"))
    val aRows = a.read().orderBy("repo", "path").collect().toSeq
    assert(a.currentVersion.contains(1L) && aRows.size == 5)

    // B's commit builds on v0, so it targets v1, which exists
    val e = intercept[graft.core.GraftValidationException](
      b.commit(staleBase, Set(0, 1, 2, 3), bFiles, Map("writer" -> "b")))
    assert(e.getMessage.contains("concurrent writer detected"))
    // writer A's v1 is untouched: content, summary and no stray temp
    assert(a.currentVersion.contains(1L) && a.summaryValue("writer").contains("a"))
    assert(a.read().orderBy("repo", "path").collect().toSeq == aRows)
    assert(TableFiles.metaFiles(root) == Set("v0.json", "v1.json"))

    // and the normal single-writer path is unaffected: B re-reads and
    // commits v2 cleanly on top of A's v1
    b.commit(b.currentSnapshot.get, Set.empty, bFiles, Map("writer" -> "b2"))
    assert(b.currentVersion.contains(2L) && b.read().count() == 8)
  }

  test("single-writer guard: a commit whose target version was expired fails " +
    "LOUDLY and the current version stands") {
    val t = newTable()
    val v0 = t.currentSnapshot.get
    (1 to 5).foreach { i =>
      t.commit(t.currentSnapshot.get, Set.empty,
        write(t, someRows(2, s"r$i")), Map("writer" -> s"$i"))
    }
    t.expireSnapshots(keepLast = 2)
    assert(!TableFiles.metaFiles(t.root).contains("v1.json"))
    val rows = t.read().orderBy("repo", "path").collect().toSeq
    // built on the in-memory v0: its v1.json is gone, so the rename lands,
    // but a commit below the current version would be ignored
    val e = intercept[graft.core.GraftValidationException](
      t.commit(v0, Set(0, 1, 2, 3), Nil, Map("writer" -> "stale")))
    assert(e.getMessage.contains("concurrent writer detected"))
    assert(t.currentVersion.contains(5L) && t.summaryValue("writer").contains("5"))
    assert(t.read().orderBy("repo", "path").collect().toSeq == rows)
    assert(TableFiles.metaFiles(t.root) == Set("v4.json", "v5.json"))
  }

  test("commit replaces only the named buckets") {
    val t = newTable()
    t.commit(t.currentSnapshot.get, Set.empty, write(t, someRows(20)), Map.empty)
    val snap = t.currentSnapshot.get
    val victim = t.allFiles(snap).head.lo
    // replace victim bucket with nothing → its rows disappear, others remain
    val expectRemaining = t.readFiles(snap, t.allFiles(snap).filterNot(_.holds(victim))).count()
    t.commit(t.currentSnapshot.get, Set(victim), Nil, Map.empty)
    assert(t.read().count() == expectRemaining)
  }

  test("snapshot versions give time travel") {
    val t = newTable()
    val f1 = write(t, someRows(5))
    val v1 = t.commit(t.currentSnapshot.get, Set.empty, f1, Map.empty).version
    val f2 = write(t, someRows(7))
    val v2 = t.commit(t.currentSnapshot.get, Set.empty, f2, Map.empty).version
    assert(t.read(Some(v1)).count() == 5)
    assert(t.read(Some(v2)).count() == 12)
    assert(t.currentVersion.contains(v2))
  }

  // a stray temp json is never read and expiry deletes it; a v<N>.json on
  // disk is the committed version
  test("crash states: a stray temp json is never read; v<N>.json commits") {
    val t = newTable()
    val s1 = t.commit(t.currentSnapshot.get, Set.empty,
      write(t, someRows(6)), Map("k" -> "1"))
    assert(t.currentVersion.contains(1L))

    // a crash between writing v2's temp json and its rename: the temp (even
    // a truncated one) is not a version, and the replayed batch commits v2
    val stray = Paths.get(t.root, "meta", ".v2.0123-crashed.tmp")
    Files.writeString(stray, "{truncat")
    assert(t.currentVersion.contains(1L) && t.read().count() == 6)
    val s2 = t.commit(s1, Set.empty, write(t, someRows(3, "b")),
      Map("k" -> "2"))
    assert(s2.version == 2L && t.currentVersion.contains(2L) && t.read().count() == 9)
    t.expireSnapshots()
    assert(!Files.exists(stray), "expiry left the stray temp json")
    assert(TableFiles.metaFiles(t.root) == Set("v0.json", "v1.json", "v2.json"))

    // a crash right after the rename: v3.json on disk is the commit, so the
    // replay of the same batch built on v2 fails loud instead of landing twice
    val s3 = t.commit(s2, Set.empty, Nil, Map("k" -> "3"))
    assert(t.currentVersion.contains(3L) && t.summaryValue("k").contains("3"))
    intercept[graft.core.GraftValidationException](t.commit(s2, Set.empty, Nil, Map("k" -> "3")))
    assert(t.snapshot(3L) == s3 && t.read().count() == 9)
  }

  test("expireSnapshots drops old metadata + unreferenced data files") {
    val t = newTable()
    (1 to 5).foreach { i =>
      val f = write(t, someRows(5))
      val cur = t.currentSnapshot.get
      t.commit(cur, if (i > 1) (0 until 4).toSet else Set.empty,
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
    t.commit(t.currentSnapshot.get, Set.empty, write(t, someRows(5)),
      Map.empty)
    val before = t.read().orderBy("repo", "path").collect().toSeq
    // what a batch killed between its write and its commit leaves:
    // complete parquet of both kinds under data/<uuid>/
    val batch = bucketed(t, someRows(4, "up").withColumn("_kind", lit("u"))
      .unionByName(someRows(4, "del").withColumn("_kind", lit("d"))))
    val (dir, written) = t.stageWrite(ranges(t).partition(batch), ranges(t), 0)
    assert(written.map(_._1).toSet == Set("u", "d"))
    assert(written.forall { case (_, e) => Files.exists(Paths.get(t.root, e.path)) })
    assert(t.read().orderBy("repo", "path").collect().toSeq == before)
    t.expireSnapshots()
    assert(!Files.exists(Paths.get(dir.toString)), "uncommitted batch dir survived")
    assert(t.read().orderBy("repo", "path").collect().toSeq == before)
  }

  test("expireSnapshots keeps the listed files of a data dir and deletes its unlisted ones") {
    val t = newTable()
    val files = write(t, someRows(20))
    assert(files.size >= 2 && files.map(_.path.split('/')(1)).distinct.size == 1,
      s"expected one dir of several files: ${files.map(_.path)}")
    val (listed, unlisted) = files.splitAt(1)
    t.commit(t.currentSnapshot.get, Set.empty, listed, Map.empty)
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
    val flat = write(t, someRows(20)).map { e =>
      val name = s"data/${java.util.UUID.randomUUID()}.parquet"
      Files.move(Paths.get(t.root, e.path), Paths.get(t.root, name))
      e.copy(path = name)
    }
    t.commit(t.currentSnapshot.get, Set.empty, flat, Map.empty)
    val crowded = flat.head.lo
    val nested = t.writeDataFiles(
      bucketed(t, someRows(40, "new")).filter(col("_bucket") === crowded), ranges(t), 0)
    assert(nested.nonEmpty)
    t.commit(t.currentSnapshot.get, Set.empty, nested, Map.empty)
    val rows = t.read().count()
    assert(rows == 20 + t.readFiles(t.currentSnapshot.get, nested).count())
    // rewrite the crowded bucket as one file and commit it in its place,
    // as a batch commit replaces the buckets it touches
    val snap = t.currentSnapshot.get
    val rewritten = write(t, t.readFiles(snap, t.filesInBuckets(snap, Set(crowded))))
    t.commit(snap, Set(crowded), rewritten, Map.empty)
    assert(TableFiles.maxFilesPerBucket(t) == 1)
    assert(t.read().count() == rows)
    t.expireSnapshots(keepLast = 1)
    assert(t.read().count() == rows)
    val current = t.allFiles(t.currentSnapshot.get).map(_.path).toSet
    val (replaced, kept) = flat.partition(_.holds(crowded))
    assert(kept.nonEmpty && kept.forall(f => current.contains(f.path)),
      "flat files of untouched buckets stay listed")
    assert(TableFiles.parquetUnder(t.root, "data") == current)
    assert((replaced ++ nested).forall(f => !Files.exists(Paths.get(t.root, f.path))))
  }

  test("schema evolution: rename is metadata-only, add fills null") {
    val t = newTable()
    val files = write(t, someRows(6))
    t.commit(t.currentSnapshot.get, Set.empty, files, Map.empty)
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
    val nf = write(t, newRows, snap.schemaVersion)
    t.commit(snap, Set.empty, nf, Map.empty)
    val all = t.read()
    assert(all.count() == 7)
    assert(all.filter($"stars" === 5).count() == 1)
    // rename source validation
    assertThrows[IllegalArgumentException](t.evolveSchema(Map("nope" -> "x"), Nil))
  }
}
