package graft.streaming

import graft.core.ChangeEvent
import graft.genlog.GenConfig

import java.nio.file.{Files, Path, Paths}

/** A transient dropped-stream fault, plugged in through `transportClass`:
  * the synthetic changelog, except that the first reader to open an event
  * range while the marker file of [[FaultOnceTransport.arm]] exists deletes
  * it and throws — like a VStream that drops or hits DeadlineExceeded. The
  * atomic delete lets exactly one reader fail; the retried sync finds the
  * marker gone and proceeds. The marker path is taken when the source builds
  * the transport on the driver and ships with it to the tasks.
  */
class FaultOnceTransport(c: GenConfig) extends ShardEventTransport {
  private val inner = new SyntheticTransport(c)
  private val marker: Option[String] = FaultOnceTransport.marker

  override def head(shardIdx: Int): Long = inner.head(shardIdx)

  override def events(shardIdx: Int, from: Long, to: Long): Iterator[ChangeEvent] = {
    marker.foreach { m =>
      if (Files.deleteIfExists(Paths.get(m)))
        throw new RuntimeException(s"injected transient stream fault ($m)")
    }
    inner.events(shardIdx, from, to)
  }
}

object FaultOnceTransport {
  @volatile private var marker: Option[String] = None

  /** `transportClass` value that selects this transport. */
  val className: String = classOf[FaultOnceTransport].getName

  /** Create the marker file `m`: the next source built with this transport
    * fails one reader.
    */
  def arm(m: Path): Unit = {
    Files.createFile(m)
    marker = Some(m.toString)
  }
}
