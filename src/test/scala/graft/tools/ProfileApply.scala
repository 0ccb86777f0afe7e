package graft.tools
import graft.apply.CdcApply
import graft.core.ChangeEvent
import graft.genlog.{ChangelogGen, GenConfig}
import graft.laketable.{BucketRanges, LakeTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
object ProfileApply {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("CPUS", "32")
    val events = sys.env.getOrElse("EVENTS", "10000000").toLong
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIR_OVERRIDE", "/dev/shm/spark-local"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = GenConfig(numEvents = events, numShards = 16, numRepos = 2000,
      pathsPerRepo = 100, copyRows = events / 10, contentBlocks = 4)
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"STEP $label: ${(System.nanoTime()-t0)/1e9}%.2f s"); r
    }
    // warmup
    { val root = java.nio.file.Files.createTempDirectory("pw").toString + "/t"
      val t = new LakeTable(root, spark); t.create(ChangeEvent.rowSchema, 4)
      CdcApply.replayAll(t, ChangelogGen.fullStream(spark, c.copy(numEvents=20000, copyRows=2000))); t.drop() }
    val root = java.nio.file.Files.createTempDirectory("pa").toString + "/t"
    val table = new LakeTable(root, spark)
    val snap0 = table.create(ChangeEvent.rowSchema, 64)
    val last = CdcApply.dedupLww(ChangelogGen.fullStream(spark, c)).cache()
    val agg = time("agg+cache-materialize") {
      last.agg(sum(when(col("op") =!= "delete", 1L).otherwise(0L)),
        sum(when(col("op") === "delete", 1L).otherwise(0L)),
        collect_set(snap0.bucketOf(col("_repo")))).head()
    }
    val upserts = last.filter(col("op") =!= "delete").select(col("after.*"))
    val merged = upserts.withColumn("_bucket", snap0.bucketOf(col("repo")))
    val files = time("repartition+parquet-write") {
      table.writeDataFiles(merged, BucketRanges.forBatch(snap0, spark), 0)
    }
    println("  files=" + files.size)
    time("commit") { table.commit(snap0, agg.getSeq[Int](2).toSet, files, Map("x"->"y")) }
    table.drop(); spark.stop()
  }
}
