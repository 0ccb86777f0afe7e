package graft.apply

import graft.SparkSupport
import graft.core.ChangeEvent
import graft.genlog.{ChangelogGen, GenConfig}
import graft.laketable.{BucketRanges, DataFileEntry, LakeTable, TableFiles}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One data file per range and kind: the ranges a batch writes follow the
  * session's shuffle partitions, and changing them between batches keeps
  * every key in one file and every bucket in at most two.
  */
class RangeLayoutSpec extends AnyFunSuite with SparkSupport {

  // uniform keys over 200 repos: every batch below touches all 16 buckets
  private val c = GenConfig(numEvents = 10000L, numShards = 2, numRepos = 200,
    pathsPerRepo = 10, zipfSkew = 1.0)
  private val Buckets = 16

  /** A session of its own with these write settings. */
  private def session(partitions: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    s
  }

  /** Catch-up events `from < event_seq <= to` of every shard, in session `s`. */
  private def events(s: SparkSession, from: Long, to: Long): DataFrame =
    ChangelogGen.changelog(s, c).filter(col("event_seq") > from && col("event_seq") <= to)

  private def bucketsOf(t: LakeTable, ev: DataFrame): Set[Int] =
    ev.select(t.currentSnapshot.get.bucketOf(coalesce(col("after.repo"), col("before.repo"))))
      .distinct().collect().map(_.getInt(0)).toSet

  private def digest(df: DataFrame): DataFrame =
    df.select(col("repo"), col("path"), col("commit"), sha2(col("content"), 256).as("sha"))

  private def assertOracle(t: LakeTable, perShard: Long): Unit = {
    val got = digest(t.read())
    val want = digest(ChangelogGen.expectedFinalState(spark,
      c.copy(numEvents = perShard * c.numShards)))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"table differs from the oracle after $perShard events per shard")
  }

  private def lineageBuckets(t: LakeTable, batchId: Long): Int =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(t.summaryValue(s"lineage:b$batchId").get).get("buckets").asInt()

  test("batches under 4, 3, 8, 2 and 16 shuffle partitions keep read() exact, " +
    "one file per range and kind, and each bucket in at most 2 files") {
    val t = new LakeTable(tmpDir("ranges") + "/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = Buckets)
    // 3 partitions round up to 4 ranges; 16 is one range per bucket
    Seq(4 -> 4, 3 -> 4, 8 -> 8, 2 -> 2, 16 -> 16).zipWithIndex.foreach {
      case ((partitions, want), i) =>
      val s = session(partitions)
      assert(BucketRanges.forBatch(t.currentSnapshot.get, s) == BucketRanges(Buckets, want))
      val ranges = BucketRanges(Buckets, want)
      val ev = events(s, i * 1000L, (i + 1) * 1000L)
      assert(bucketsOf(t, ev) == (0 until Buckets).toSet, "batch misses a bucket")
      val r = CdcApply.applyBatch(t, ev, batchId = i.toLong)
      assert(!r.skipped)
      assertOracle(t, (i + 1) * 1000L)
      // the batch touched every bucket: every listed file is this batch's,
      // one per range and kind, spanning exactly its range
      val snap = t.currentSnapshot.get
      val spans = (0 until want).map(k => (ranges.lo(k), ranges.hi(k))).toSet
      assert(snap.files.map(f => (f.lo, f.hi)).toSet == spans)
      assert(snap.fileCount <= 2 * want, s"${snap.fileCount} files over $want ranges")
      assert(TableFiles.maxFilesPerBucket(t) <= 2)
      assert(lineageBuckets(t, i.toLong) == Buckets)
    }
  }

  /** Apply the events `1000 × batchId < event_seq <= 1000 × (batchId + 1)`
    * whose keys all hash to bucket `b`, under `partitions` shuffle
    * partitions. Checks that the rows of every other bucket are untouched,
    * that no key is listed twice and that no bucket is held by more than two
    * files; returns the spans of the files the commit replaced and of those
    * it added.
    */
  private def oneBucketBatch(t: LakeTable, partitions: Int, b: Int,
      batchId: Long): (Set[(Int, Int)], Set[(Int, Int)]) = {
    val base = t.currentSnapshot.get
    val before = t.read().withColumn("_b", base.bucketOf(col("repo"))).cache()
    val ev = events(session(partitions), batchId * 1000L, (batchId + 1) * 1000L)
      .filter(base.bucketOf(coalesce(col("after.repo"), col("before.repo"))) === b)
    assert(bucketsOf(t, ev) == Set(b))
    assert(!CdcApply.applyBatch(t, ev, batchId).skipped)
    val snap = t.currentSnapshot.get
    val after = t.read()
    val others = before.filter(col("_b") =!= b).drop("_b")
    val othersAfter = after.filter(base.bucketOf(col("repo")) =!= b)
    assert(others.exceptAll(othersAfter).isEmpty && othersAfter.exceptAll(others).isEmpty,
      "rows of another bucket changed")
    assert(after.groupBy("repo", "path").count().filter(col("count") > 1).isEmpty)
    assert(after.filter(base.bucketOf(col("repo")) === b).count() > 0)
    assert(TableFiles.maxFilesPerBucket(t) <= 2)
    before.unpersist()
    def spans(fs: Seq[DataFileEntry]) = fs.map(f => (f.lo, f.hi)).toSet
    (spans(base.files.filterNot(snap.files.contains)), spans(snap.files.filterNot(base.files.contains)))
  }

  test("a batch whose keys all hash to one bucket replaces only the files whose " +
    "span holds that bucket") {
    val t = new LakeTable(tmpDir("ranges") + "/t1", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = Buckets)
    CdcApply.applyBatch(t, events(session(4), 0L, 1000L), batchId = 0L)
    // four ranges of four buckets: bucket 6 lies in [4, 7]
    assert(t.currentSnapshot.get.files.exists(_.holds(6)))
    assert(oneBucketBatch(t, 4, 6, 1L) == (Set((4, 7)), Set((4, 7))))
    assert(lineageBuckets(t, 1L) == 4)
  }

  test("a one-bucket batch right after the range count changes replaces only the " +
    "old file span or the new range that holds the bucket") {
    val t = new LakeTable(tmpDir("ranges") + "/t2", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = Buckets)
    CdcApply.applyBatch(t, events(session(4), 0L, 1000L), batchId = 0L)
    // 4 → 8 ranges: bucket 6's range [6, 7] lies inside the old span [4, 7],
    // whose survivors land in the new ranges [4, 5] and [6, 7]
    assert(oneBucketBatch(t, 8, 6, 1L) == (Set((4, 7)), Set((4, 5), (6, 7))))
    assert(lineageBuckets(t, 1L) == 4)
    // 8 → 2 ranges: bucket 9's range [8, 15] covers the old spans [8, 11]
    // and [12, 15] and grows no further
    assert(oneBucketBatch(t, 2, 9, 2L) == (Set((8, 11), (12, 15)), Set((8, 15))))
    assert(lineageBuckets(t, 2L) == 8)
    // 2 → 16 ranges over mixed spans: bucket 0 lies in the old span [0, 3]
    assert(oneBucketBatch(t, 16, 0, 3L) == (Set((0, 3)), (0 to 3).map(b => (b, b)).toSet))
    assert(lineageBuckets(t, 3L) == 4)
    assert(t.currentSnapshot.get.files.map(f => (f.lo, f.hi)).toSet ==
      Set((0, 0), (1, 1), (2, 2), (3, 3), (4, 5), (6, 7), (8, 15)))
  }
}
