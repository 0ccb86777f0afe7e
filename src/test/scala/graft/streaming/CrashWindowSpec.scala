package graft.streaming

import graft.SparkSupport
import graft.core.ChangeEvent
import graft.genlog.{ChangelogGen, GenConfig}
import graft.laketable.LakeTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The exactly-once crash window: a failure AFTER the lake-table commit but
  * BEFORE the streaming checkpoint advances means the next run REPLAYS the
  * last micro-batch. Simulated by deleting the checkpoint's newest commit
  * marker (exactly the state Spark leaves behind in that window) — the replay
  * must hit the snapshot's batch-id idempotence gate and be a no-op. A
  * batch's metrics rows commit in the same snapshot, so they need no repair
  * on any of these paths.
  */
class CrashWindowSpec extends AnyFunSuite with SparkSupport {

  test("replayed last batch after simulated crash is a no-op; parity holds") {
    val c = GenConfig(numEvents = 6000L, numShards = 2, numRepos = 20, pathsPerRepo = 10)
    val base = tmpDir("crash")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(2000L))
    CdcStream.runAvailableNow(spark, rc)
    val version = t.currentVersion.get
    val rows = t.read().count()
    def metrics() = CdcStream.readMetrics(spark, s"$base/t")
      .orderBy("batch_id", "shard").collect().toSeq
    val metricsBefore = metrics()

    // crash window: data+cursors committed, checkpoint commit marker lost
    val commits = Paths.get(s"$base/cp/commits")
    val last = Files.list(commits).toArray.map(_.toString)
      .filterNot(_.endsWith(".crc")).maxBy(p => p.split("/").last.toLong)
    Files.delete(Paths.get(last))
    // also the local-FS checksum shadow, as a real crash would never have
    // written either
    val crc = Paths.get(last).getParent.resolve("." + Paths.get(last).getFileName + ".crc")
    Files.deleteIfExists(crc)

    // restart: Spark replays the last batch; apply must skip it
    CdcStream.runAvailableNow(spark, rc)
    assert(t.currentVersion.contains(version),
      s"replayed batch advanced the table: ${t.currentVersion} vs $version")
    assert(t.read().count() == rows)

    // and the final state still matches the independent oracle
    val digest = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
    val got = digest(t.read())
    val want = digest(ChangelogGen.expectedFinalState(spark, c))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // the metrics rows committed with each batch: every committed
    // (batch, shard) exactly once — no reader de-duplication — unchanged by
    // the replay, and summing to the stream
    val m = metrics()
    assert(m == metricsBefore, "the replay changed the metrics rows")
    val keys = m.map(r => (r.getLong(0), r.getString(2)))
    assert(keys.distinct == keys, s"a (batch, shard) repeats: $keys")
    val lastBatch = t.summaryValue("batch:default").get.toLong
    assert(keys.map(_._1).toSet == (0L to lastBatch).toSet)
    assert(m.map(_.getLong(5)).sum == c.numEvents)
  }

  test("a truncated, footerless parquet file in metrics/ (a crash mid-write) " +
    "is never read, and expireSnapshots deletes it") {
    val c = GenConfig(numEvents = 4000L, numShards = 2, numRepos = 20, pathsPerRepo = 10)
    val base = tmpDir("crashtrunc")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(2000L))
    CdcStream.runAvailableNow(spark, rc)
    val listed = t.currentSnapshot.get.metricsFiles
    assert(listed.nonEmpty)
    val before = CdcStream.readMetrics(spark, s"$base/t")
      .orderBy("batch_id", "shard").collect().toSeq

    // what a writer killed mid-file leaves: parquet magic, no footer
    val truncated = Paths.get(s"$base/t/metrics/part-direct-crashed.parquet")
    Files.write(truncated, "PAR1\u0000\u0001".getBytes("UTF-8"))
    val during = CdcStream.readMetrics(spark, s"$base/t")
      .orderBy("batch_id", "shard").collect().toSeq
    assert(during == before, "the unlisted file changed what readMetrics returns")

    t.expireSnapshots(rc.keepSnapshots)
    assert(!Files.exists(truncated), "expireSnapshots left the unlisted metrics file")
    assert(listed.forall(p => Files.exists(Paths.get(s"$base/t", p))))
    assert(CdcStream.readMetrics(spark, s"$base/t").count() == before.size)
  }
}
