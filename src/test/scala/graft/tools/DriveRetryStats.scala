package graft.tools

import graft.apply.{CdcApply, StatsOracle}
import graft.core.ChangeEvent
import graft.genlog.{ChangelogGen, GenConfig}
import graft.laketable.{FailFirstCreateFs, LakeTable}
import graft.streaming.CdcStream
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.util.concurrent.atomic.AtomicInteger

/** The observed stats count a retried task once. At `local[4,2]` (one
  * retry per task) the first create of an upsert file fails, so one write
  * task of the staged write dies and is retried; the committed per-shard
  * rows, cursors and kind counts must still equal [[StatsOracle]]'s.
  *
  *   sbt "Test/runMain graft.tools.DriveRetryStats"
  */
object DriveRetryStats {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4,2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[FailFirstCreateFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failedTasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    })
    val c = GenConfig(numEvents = 20000L, numShards = 4, numRepos = 40, pathsPerRepo = 20,
      deleteRatio = 0.2, copyRows = 2000L)
    val root = java.nio.file.Files.createTempDirectory("retry-stats").toString + "/t"
    val t = new LakeTable(root, spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 8)
    val events = ChangelogGen.fullStream(spark, c)
    val want = StatsOracle.expected(events, parityMode = false)

    FailFirstCreateFs.armed.set(true)
    val res = CdcApply.replayAll(t, events)
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (failedTasks.get == 0 && System.nanoTime() < deadline) Thread.sleep(20)

    val committedRows = CdcStream.readMetrics(spark, root).filter(col("batch_id") === 0L)
      .select("shard", "rows").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lineage = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(t.summaryValue("lineage:b0").get)
    val cursors = graft.core.SyncState.fromJson(t.summaryValue("cursors").get)
      .streams(s"${c.keyspace}:repo_content")
    val tableRows = t.read().count()
    val wantRows = ChangelogGen.expectedFinalState(spark, c).count()
    println(s"injected create failures: ${FailFirstCreateFs.failures.get}; failed tasks: " +
      s"${failedTasks.get}; shards ${committedRows.size}/${want.stats.size}; " +
      s"upserts ${lineage.get("upserts").asLong()}/${want.upserts}; " +
      s"deletes ${lineage.get("deletes").asLong()}/${want.deletes}; " +
      s"table rows $tableRows/$wantRows (committed/oracle)")
    val ok = FailFirstCreateFs.failures.get == 1 && failedTasks.get >= 1 &&
      StatsOracle.reported(res) == want &&
      committedRows == want.stats.map { case (s, st) => s -> st.rows } &&
      cursors == want.stats.map { case (s, st) => s -> st.cursor } &&
      lineage.get("upserts").asLong() == want.upserts &&
      lineage.get("deletes").asLong() == want.deletes &&
      tableRows == wantRows
    println(s"retried-task stats :: ${if (ok) "PASS" else "FAIL"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
