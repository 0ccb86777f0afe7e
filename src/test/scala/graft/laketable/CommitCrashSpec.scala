package graft.laketable

import graft.SparkSupport
import graft.core.ChangeEvent
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Crash-point sweep over the commit protocol: a process that dies at any
  * mutating filesystem call under `meta/` of create → commit → commit →
  * expireSnapshots, before the call or right after it, leaves a table that
  * a fresh handle reads at the version before or after the interrupted
  * step, that takes the next commit, and that one expiry cleans.
  */
class CommitCrashSpec extends AnyFunSuite with SparkSupport {
  import spark.implicits._

  private def rows(prefix: String, n: Int): DataFrame =
    (0 until n).map(i => (s"$prefix-$i", s"src/f$i.go", "c" * 40, "go", s"content-$i"))
      .toDF("repo", "path", "commit", "lang", "content")
      .withColumn("_bucket", pmod(xxhash64(col("repo")), lit(4)).cast("int"))

  private def repos(t: LakeTable): Set[String] = t.read().select("repo").as[String].collect().toSet

  private def crashFsTable(): (String, LakeTable) = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.${CrashAtFs.Scheme}.impl", classOf[CrashAtFs].getName)
    conf.setBoolean(s"fs.${CrashAtFs.Scheme}.impl.disable.cache", true)
    val dir = tmpDir("commitcrash") + "/t"
    (dir, new LakeTable(s"${CrashAtFs.Scheme}://$dir", spark))
  }

  test("a stale commit fails loud where rename replaces an existing file") {
    val (_, a) = crashFsTable()
    a.create(ChangeEvent.rowSchema, numBuckets = 4)
    val v0 = a.currentSnapshot.get
    val v1 = a.commit(v0, Set.empty, Nil, Map("writer" -> "a"))
    val e = intercept[graft.core.GraftValidationException](
      a.commit(v0, Set.empty, Nil, Map("writer" -> "b")))
    assert(e.getMessage.contains("concurrent writer detected"))
    assert(a.currentSnapshot.contains(v1))
  }

  test("a crash at any meta/ call of create, commit and expiry leaves the " +
    "version before or after that step, readable, committable and expirable") {
    val batches = Seq(rows("a", 6), rows("b", 4))
    // the table's repos at each version: v2 replaces every bucket
    val expected = Map(0L -> Set.empty[String],
      1L -> batches(0).select("repo").as[String].collect().toSet,
      2L -> batches(1).select("repo").as[String].collect().toSet)

    /** Run the protocol on a new table with the fault armed at `k`; returns
      * the table dir and the index of the step that crashed (-1: none).
      */
    def run(k: Int, after: Boolean): (String, Int) = {
      val (dir, t) = crashFsTable()
      // data files land with the fault disarmed: only meta/ is under test
      val files = batches.map(new LakeTable(dir, spark).writeDataFiles(_, BucketRanges(4, 4), 0))
      val protocol: Seq[() => Unit] = Seq(
        () => t.create(ChangeEvent.rowSchema, numBuckets = 4),
        () => t.commit(t.currentSnapshot.get, Set.empty, files(0), Map("b" -> "1")),
        () => t.commit(t.currentSnapshot.get, Set(0, 1, 2, 3), files(1), Map("b" -> "2")),
        () => t.expireSnapshots(keepLast = 1))
      CrashAtFs.arm(k, after)
      try (dir, protocol.indexWhere { step =>
        try { step(); false } catch { case _: CrashAtFs.Crash => true }
      }) finally CrashAtFs.disarm()
    }

    val (clean, none) = run(0, after = false)
    val calls = CrashAtFs.calls.get
    // two per commit (its temp json and the rename), two expired jsons
    assert(none == -1 && calls == 8, s"$calls meta/ calls")
    assert(new LakeTable(clean, spark).currentVersion.contains(2L))

    val before = Seq(None, Some(0L), Some(1L), Some(2L))
    val after = Seq(Some(0L), Some(1L), Some(2L), Some(2L))
    for (k <- 1 to calls; crashAfter <- Seq(false, true)) {
      val (dir, step) = run(k, crashAfter)
      val at = s"crash ${if (crashAfter) "after" else "before"} call $k (step $step)"
      assert(step >= 0, s"$at: no crash")
      val t = new LakeTable(dir, spark)
      val v = t.currentVersion
      assert(v == before(step) || v == after(step), s"$at: version $v")
      v.foreach(ver => assert(repos(t) == expected(ver), s"$at: rows of v$ver"))
      // every snapshot json on disk is readable: all the files it lists exist
      val jsons = if (v.isEmpty) Set.empty[String] else TableFiles.metaFiles(dir)
      jsons.collect { case s"v$n.json" => n.toLong }.foreach { n =>
        assert(t.snapshot(n).files.forall(f => Files.exists(Paths.get(dir, f.path))),
          s"$at: v$n.json lists a deleted file")
      }
      // the retried step: a commit on the current snapshot (create first
      // when no version was published)
      if (v.isEmpty) t.create(ChangeEvent.rowSchema, numBuckets = 4)
      val base = t.currentSnapshot.get
      val retried = t.commit(base, Set.empty, Nil, Map("retry" -> "1"))
      assert(t.currentVersion.contains(base.version + 1) && retried.version == base.version + 1)
      t.expireSnapshots(keepLast = 2)
      val meta = TableFiles.metaFiles(dir)
      assert(!meta.exists(_.endsWith(".tmp")), s"$at: expiry left a temp: $meta")
      assert(TableFiles.keptDataFiles(t, 2).forall(p => Files.exists(Paths.get(dir, p))),
        s"$at: expiry deleted a listed file")
      assert(t.currentVersion.contains(retried.version) &&
        repos(t) == expected(base.version), s"$at: after retry and expiry")
    }
  }
}
