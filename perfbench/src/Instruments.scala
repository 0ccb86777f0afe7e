package perfbench

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Bytes moved through the Hadoop `file:` filesystem since JVM start — data,
  * stage, manifests, snapshots, metrics sidecar and streaming checkpoint all
  * go through it. The counters are process-global and cost nothing to read.
  */
object FsBytes {
  final case class Io(read: Long, written: Long) {
    def -(o: Io): Io = Io(read - o.read, written - o.written)
  }

  def now(): Io = {
    // one Statistics object per scheme may be listed under several classes
    val stats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .foldLeft(List.empty[FileSystem.Statistics])((acc, s) => if (acc.exists(_ eq s)) acc else s :: acc)
    Io(stats.map(_.getBytesRead).sum, stats.map(_.getBytesWritten).sum)
  }
}

/** One timed interval of the traced run. `group` ties together the spans of
  * one sync (`s<k>`) or one micro-batch (`s<k>/b<id>`); times are epoch
  * microseconds so benchmark, job and progress spans share one clock.
  */
final case class Span(id: Long, parent: Long, name: String, group: String,
    startUs: Long, endUs: Long)

/** In-memory span store, written as JSON when the run ends. */
final class Spans {
  private val ids = new AtomicLong(0)
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val nanoBase = System.nanoTime()
  private val epochUsBase = System.currentTimeMillis() * 1000L

  def nowUs: Long = epochUsBase + (System.nanoTime() - nanoBase) / 1000L

  /** A fresh span id, for a span whose children are recorded before it. */
  def newId(): Long = ids.incrementAndGet()

  def add(parent: Long, name: String, group: String, startUs: Long, endUs: Long,
      id: Long = newId()): Long = {
    buf.add(Span(id, parent, name, group, startUs, endUs))
    id
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  /** Self time: a span's duration minus the part its children cover. */
  def selfUs(s: Span, children: Seq[Span]): Long =
    (s.endUs - s.startUs) - Stats.unionLen(children.map(c =>
      (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))

  def toJson: String = {
    val spans = all
    val byParent = spans.groupBy(_.parent)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    spans.foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("name", s.name)
      n.put("group", s.group); n.put("start_us", s.startUs); n.put("end_us", s.endUs)
      n.put("self_us", selfUs(s, byParent.getOrElse(s.id, Nil)))
    }
    m.writerWithDefaultPrettyPrinter().writeValueAsString(arr)
  }
}

/** A Spark job seen by [[JobRecorder]], with its tasks' metrics summed. */
final class JobRec(val group: String, val method: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var cpuNs, gcMs, shuffleWrite, spill, recordsRead, recordsWritten = 0L
}

/** Attributes every Spark job of a streaming micro-batch to the
  * `LakeTable` / `CdcApply` method that submitted it, and sums its tasks'
  * metrics. Streaming jobs all carry the query's `start()` call site, so the
  * method is read off the stream thread's stack at job start: `runJob` is
  * synchronous, and that thread waits inside the submitting method for as
  * long as the job runs.
  */
final class JobRecorder(runToGroup: String => Option[String]) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()
  private val threads = new ConcurrentHashMap[String, Thread]()
  private val Engine = Set("graft.laketable.LakeTable", "graft.apply.CdcApply$",
    "graft.streaming.CdcStream$")
  private val Anon = """\$anonfun\$([A-Za-z0-9_]+?)\$.*""".r

  private def streamThread(runId: String): Option[Thread] =
    Option(threads.get(runId)).orElse {
      val t = Thread.getAllStackTraces.keySet.asScala.find(t =>
        t.getName.startsWith("stream execution thread") && t.getName.contains(runId))
      t.foreach(threads.put(runId, _))
      t
    }

  /** Innermost engine frame of a thread that is waiting inside Spark; a
    * thread already back in engine code means the job ended before this
    * listener saw it start, and the job stays unattributed.
    */
  private def callSite(t: Thread): String = {
    val st = t.getStackTrace
    val i = st.indexWhere(f => Engine.contains(f.getClassName))
    if (i < 0 || !st.take(i).exists(_.getClassName.startsWith("org.apache.spark."))) "unattributed"
    else {
      val cls = st(i).getClassName.stripSuffix("$").split('.').last
      val m = st(i).getMethodName match { case Anon(n) => n; case n => n }
      s"$cls.$m"
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val runId = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    for (r <- runId; b <- batch; g <- runToGroup(r)) {
      val rec = new JobRec(s"$g/b$b", streamThread(r).map(callSite).getOrElse("unattributed"), e.time)
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, rec))
      jobs.put(e.jobId, rec)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = stageToJob.get(e.stageId)
    val m = e.taskMetrics
    if (rec != null && m != null) rec.synchronized {
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      rec.recordsRead += m.inputMetrics.recordsRead
      rec.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  def pending: Int = jobs.values.asScala.count(_.endMs < 0)
}

/** Per-batch `durationMs` from the streaming progress events. */
final case class BatchProgress(group: String, batchId: Long, startMs: Long,
    rows: Long, durations: Map[String, Long])

final class ProgressRecorder extends StreamingQueryListener {
  @volatile var currentSync: Option[String] = None
  val runToSync = new ConcurrentHashMap[String, String]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  // QueryStartedEvent reaches listeners synchronously on the starting
  // thread, so the sync that is running right now owns the new run id
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    currentSync.foreach(s => runToSync.put(e.runId.toString, s))

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Option(runToSync.get(p.runId.toString)).foreach { s =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      if (p.numInputRows > 0)
        batches.add(BatchProgress(s"$s/b${p.batchId}", p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows, d))
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  def groupOf(runId: String): Option[String] = Option(runToSync.get(runId))

  def forGroup(prefix: String): Seq[BatchProgress] =
    batches.asScala.filter(_.group.startsWith(prefix + "/")).toSeq.sortBy(_.batchId)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Length of the union of [start, end) intervals. */
  def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Mutable accumulator for the per-layer values of traced batches. */
final class LayerSums {
  private val perBatch = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  def add(k: String, v: Double): Unit = perBatch.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  def med(k: String): Double = Stats.median(perBatch.getOrElse(k, Nil).toSeq)
  def sum(k: String): Double = perBatch.getOrElse(k, Nil).sum
}
