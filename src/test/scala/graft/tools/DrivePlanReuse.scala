package graft.tools

import graft.apply.CdcApply
import graft.core.ChangeEvent
import graft.genlog.{ChangelogGen, GenConfig}
import graft.laketable.LakeTable
import org.apache.spark.sql.SparkSession

/** Confirms the single-scan claim on a REAL applyBatch: exactly one of the
  * batch's jobs reads the changelog source (the staging write), and that
  * job contains exactly one dedup aggregation exchange. The per-shard
  * stats and kind counts are observed by that write, not read back: a
  * replay into an empty table (no survivor rewrite) runs no job that scans
  * staged parquet.
  */
object DrivePlanReuse {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = GenConfig(numEvents = 20000L, numShards = 2, numRepos = 20, pathsPerRepo = 10,
      copyRows = 2000L)
    val root = java.nio.file.Files.createTempDirectory("reuse").toString + "/t"
    val t = new LakeTable(root, spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)

    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    })
    val res = CdcApply.replayAll(t, ChangelogGen.fullStream(spark, c))
    Thread.sleep(3000) // listener delivery is async
    // AQE plan strings append the "Initial Plan" duplicate — count only the
    // executed (final) section
    val snap = plans.synchronized(plans.toVector).map(_.split("== Initial Plan ==")(0))
    val sourceJobs = snap.filter(_.contains("Range ("))
    val stagingDedups = sourceJobs.map(p =>
      "hashpartitioning\\(_repo".r.findAllIn(p).size)
    val stagedScans = snap.filter(_.contains("FileScan parquet"))
    println(s"captured plans: ${snap.size}; jobs scanning the source: ${sourceJobs.size}; " +
      s"dedup exchanges in them: ${stagingDedups.mkString(",")}; " +
      s"jobs scanning staged parquet: ${stagedScans.size}")
    val ok = sourceJobs.size == 1 && stagingDedups == Vector(1) && stagedScans.isEmpty &&
      res.stats.nonEmpty
    println(s"single-source-scan, stats observed :: ${if (ok) "PASS" else "FAIL"}")
    if (!ok) (sourceJobs ++ stagedScans).foreach(p =>
      println(p.linesIterator.map(_.take(120)).take(40).mkString("\n")))
    spark.stop()
  }
}
