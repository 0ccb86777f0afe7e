package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.ChangeEvent
import graft.genlog.{ChangelogGen, EventGen, GenConfig, WireChangeEvent, WireGen}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** DSv2 micro-batch source over the synthetic sharded changelog — the
  * Spark-native VStream tail (reference A1–A4, `cmd/internal/
  * planetscale_edge_database.go:291-505`):
  *
  *  - one (or more, chunked) input partition per shard — the reference's
  *    sequential stream×shard loop (`read.go:103-138`) becomes task
  *    parallelism;
  *  - offsets = per-shard positions, JSON-serialized into the checkpoint
  *    (cursor serde semantics of `types.go:112-137`);
  *  - `latestOffset()` is the peek (A2: open at "current", read head);
  *  - admission control (`maxEventsPerTrigger`) bounds each batch the way the
  *    reference fences syncs with a stop position (A4);
  *  - Trigger.AvailableNow ≈ one Airbyte `read` invocation: peek once, drain
  *    to that head, stop.
  *
  * The `endSeq` option caps the visible head below the true total — it
  * simulates "the binlog only has this much yet" for kill/resume tests.
  */
class ChangelogSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-changelog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    if (options.containsKey("wireTable"))
      ChangelogSource.wireSchemaFor(graft.core.WireTable.fromJson(options.get("wireTable")))
    else if (options.getBoolean("wirePayload", false)) ChangelogSource.wireSchema
    else ChangelogSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChangelogTable(ChangelogSource.parseOptions(properties.asScala.toMap))
}

object ChangelogSource {
  val schema: StructType = ExpressionEncoder[ChangeEvent]().schema

  /** `wirePayload=true`: the SAME offset space and sync semantics, but the
    * payloads are raw MySQL wire strings (`repo_profile` — enum indexes,
    * set bitmasks, zero/fractional datetimes, bare decimals) that
    * `CdcApply` normalizes inside the staging projection. This is the
    * reference's actual input shape: values reach `parseValue` as strings
    * (`types.go:139-164`).
    */
  val wireSchema: StructType = ExpressionEncoder[WireChangeEvent]().schema

  /** Envelope schema for an ARBITRARY wire table (the discover→read loop):
    * same envelope as [[WireChangeEvent]], payload struct = the table's
    * ordered columns, every value a raw wire string.
    */
  def wireSchemaFor(wt: graft.core.WireTable): StructType = {
    val payload = StructType(wt.orderedColumns.map(c =>
      org.apache.spark.sql.types.StructField(c.name,
        org.apache.spark.sql.types.StringType, nullable = true)))
    StructType(ChangeEvent.schema.fields.map {
      case f if f.name == "before" || f.name == "after" => f.copy(dataType = payload)
      case f => f
    })
  }

  final case class SourceOptions(
      gen: GenConfig,
      maxEventsPerTrigger: Long,
      endSeq: Option[Long],
      startingGtids: Map[String, String],
      startingPks: Map[String, (String, String)],
      tabletType: String,
      replicaLagEvents: Long,
      wirePayload: Boolean,
      // shard-subset selection (reference `shards` config): the validated
      // shard indexes this source tails; all shards when unconfigured
      selectedShards: Seq[Int],
      // arbitrary wire table (discover→read loop): the source serves wire
      // strings shaped to THIS table's columns instead of repo_profile
      wireTable: Option[graft.core.WireTable],
      // event supply — the transport seam ([[ShardEventTransport]]): heads
      // and event ranges come ONLY from here; a real VStream/Kafka tail is
      // one `transportClass` option away
      transport: ShardEventTransport)

  /** The reference's `shards` option (`spec.json:23-28`, validation
    * `planetscale_connection.go:66-83`): a comma-separated list of shard
    * names to sync; blank entries skipped, names trimmed, every configured
    * name validated against the LIVE shard set — an unknown shard fails
    * loud with the reference's error, and a valid subset REPLACES the full
    * enumeration (offsets, cursors, and partition planning all scope to it).
    */
  private[graft] def parseShardSubset(configured: String, numShards: Int): Seq[Int] = {
    val live = (0 until numShards).map(i => EventGen.shardName(numShards, i) -> i).toMap
    val picked = configured.split(",").toSeq
      .filter(_.nonEmpty).map(_.trim) // reference order: skip-blank, then trim
      .map { name =>
        live.getOrElse(name,
          throw new graft.core.GraftValidationException(
            s"shard $name does not exist on the source database"))
      }
    picked.distinct.sorted
  }

  /** A19 tablet-type routing precedence (`planetscale_connection.go:43-48`,
    * `planetscale_edge_database.go:221-226`): `use_rdonly` wins over
    * `use_replica` wins over the default primary.
    */
  def tabletTypeFor(useReplica: Boolean, useRdonly: Boolean): String =
    if (useRdonly) "rdonly"
    else if (useReplica) "replica"
    else "primary"

  /** The head a given tablet tier serves: `endSeq` caps the true head (the
    * binlog only has this much yet — kill/resume tests), and a non-primary
    * tier lags it by `lagEvents` of replication delay, floored at 0. Offsets
    * are tier-independent, so switching tiers on one checkpoint resumes.
    */
  def routedHead(total: Long, endSeq: Option[Long], tabletType: String,
      lagEvents: Long): Long = {
    val capped = endSeq.map(e => math.min(total, e)).getOrElse(total)
    if (tabletType == "primary") capped
    else math.max(0L, capped - lagEvents)
  }

  /** `startingGtids` option: the reference's `starting_gtids` JSON
    * (`{"<keyspace>": {"<shard>": "<gtid>"}}`, README.md:160-197) — entries
    * for this source's keyspace become per-shard initial positions. A
    * checkpoint always beats this (Spark only calls `initialOffset()` when
    * the checkpoint is empty — the reference's state-beats-starting_gtids
    * precedence, `read_test.go:15-115`).
    */
  private def parseStartingGtids(json: String, keyspace: String): Map[String, String] = {
    val root = new ObjectMapper().readTree(json)
    Option(root.get(keyspace)).map { ks =>
      ks.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)
  }

  def parseOptions(opts: Map[String, String]): SourceOptions = {
    def l(k: String, d: Long) = opts.get(k).map(_.toLong).getOrElse(d)
    def i(k: String, d: Int) = opts.get(k).map(_.toInt).getOrElse(d)
    def dd(k: String, d: Double) = opts.get(k).map(_.toDouble).getOrElse(d)
    val gen = GenConfig(
      seed = l("seed", 42L),
      numEvents = l("numEvents", 100000L),
      numShards = i("numShards", 4),
      numRepos = i("numRepos", 100),
      pathsPerRepo = i("pathsPerRepo", 50),
      keyspace = opts.getOrElse("keyspace", "ks"),
      zipfSkew = dd("zipfSkew", 2.0),
      deleteRatio = dd("deleteRatio", 0.05),
      copyRows = l("copyRows", 0L),
      contentBlocks = i("contentBlocks", 8),
      schemaChangeAt = opts.get("schemaChangeAt").map(_.toLong))
    SourceOptions(
      gen,
      maxEventsPerTrigger = l("maxEventsPerTrigger", Long.MaxValue),
      endSeq = opts.get("endSeq").map(_.toLong),
      startingGtids = opts.get("startingGtids")
        .map(parseStartingGtids(_, opts.getOrElse("keyspace", "ks")))
        .getOrElse(Map.empty),
      startingPks = opts.get("startingPks").map { json =>
        val root = new ObjectMapper().readTree(json)
        root.properties().asScala.map { e =>
          e.getKey -> (e.getValue.get("repo").asText(), e.getValue.get("path").asText())
        }.toMap
      }.getOrElse(Map.empty),
      tabletType = tabletTypeFor(
        useReplica = opts.get("useReplica").exists(_.toBoolean),
        useRdonly = opts.get("useRdonly").exists(_.toBoolean)),
      replicaLagEvents = l("replicaLagEvents", 0L),
      wirePayload = opts.get("wirePayload").exists(_.toBoolean) ||
        opts.contains("wireTable"),
      selectedShards = opts.get("shards").filter(_.trim.nonEmpty)
        .map(parseShardSubset(_, i("numShards", 4)))
        .getOrElse(0 until i("numShards", 4)),
      wireTable = opts.get("wireTable").map { json =>
        val wt = graft.core.WireTable.fromJson(json)
        // driver-side, once: an unsupported key shape must fail HERE with a
        // clear message, not per-row inside retried executor tasks
        WireGen.validateKeys(wt)
        wt
      },
      transport = ShardEventTransport.forConfig(gen, opts.get("transportClass")))
  }
}

class ChangelogTable(opts: ChangelogSource.SourceOptions) extends Table with SupportsRead {
  override def name(): String = s"graft_changelog(${opts.gen.keyspace})"
  override def schema(): StructType = opts.wireTable match {
    case Some(wt) => ChangelogSource.wireSchemaFor(wt)
    case None if opts.wirePayload => ChangelogSource.wireSchema
    case None => ChangelogSource.schema
  }
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema()
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ChangelogMicroBatchStream(opts)
        override def toBatch: Batch = new ChangelogBatch(opts)
      }
    }
}

/** Per-shard positions (rows consumed from the unified copy+catchup space). */
case class ChangelogOffset(positions: Map[Int, Long]) extends Offset {
  override def json(): String = {
    val m = new ObjectMapper().createObjectNode()
    positions.toSeq.sortBy(_._1).foreach { case (s, p) => m.put(s.toString, p) }
    m.toString
  }
}

object ChangelogOffset {
  def fromJson(s: String): ChangelogOffset = {
    val n = new ObjectMapper().readTree(s)
    ChangelogOffset(n.properties().asScala.map(e => e.getKey.toInt -> e.getValue.asLong()).toMap)
  }
}

class ChangelogMicroBatchStream(opts: ChangelogSource.SourceOptions)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  private val c = opts.gen

  /** Head of the binlog per shard, from the transport's peek (A2). A
    * non-primary tablet tier (A19: `use_replica`/`use_rdonly` route the
    * VStream to a replica, `planetscale_edge_database.go:507-519`) serves a
    * LAGGED head — replication delay expressed in events; offsets are
    * tier-independent, so switching tiers on the same checkpoint resumes.
    */
  private def head(shardIdx: Int): Long =
    ChangelogSource.routedHead(opts.transport.head(shardIdx), opts.endSeq,
      opts.tabletType, opts.replicaLagEvents)

  private def fullHead: ChangelogOffset =
    ChangelogOffset(opts.selectedShards.map(i => i -> head(i)).toMap)

  @volatile private var availableNowHead: Option[ChangelogOffset] = None

  /** A13 initial state: blank per-shard positions, overridden per shard by
    * `startingPks` (COPY-phase watermark resume, which wins — the reference
    * clears the GTID when a LastKnownPk is present unless
    * `use_gtid_with_table_pks`) or `startingGtids` (post-copy binlog
    * position). Called by Spark only when the checkpoint has no committed
    * offset — state beats starting_gtids.
    */
  override def initialOffset(): Offset =
    ChangelogOffset(opts.selectedShards.map { i =>
      val shard = EventGen.shardName(c.numShards, i)
      val pos = opts.startingPks.get(shard) match {
        case Some((repo, path)) => EventGen.positionForPk(i, repo, path, c)
        case None => opts.startingGtids.get(shard)
          .map(g => EventGen.positionForGtid(i, g, c)).getOrElse(0L)
      }
      i -> pos
    }.toMap)

  override def deserializeOffset(json: String): Offset = ChangelogOffset.fromJson(json)

  override def latestOffset(): Offset = fullHead

  override def reportLatestOffset(): Offset = fullHead

  override def getDefaultReadLimit: ReadLimit =
    if (opts.maxEventsPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(opts.maxEventsPerTrigger)

  override def prepareForTriggerAvailableNow(): Unit = {
    // peek once; drain to this head and stop (one Airbyte `read` invocation)
    availableNowHead = Some(fullHead)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ChangelogOffset].positions
    val target = availableNowHead.getOrElse(fullHead).positions
    val maxRows = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _              => Long.MaxValue
    }
    if (maxRows == Long.MaxValue) ChangelogOffset(target)
    else {
      // spread the row budget across the SELECTED shards (MinimizeSkew analogue)
      val perShard = math.max(1L, maxRows / math.max(1, opts.selectedShards.size))
      ChangelogOffset(target.map { case (s, t) =>
        s -> math.min(t, from.getOrElse(s, 0L) + perShard)
      })
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ChangelogOffset].positions
    val to = end.asInstanceOf[ChangelogOffset].positions
    ChangelogPlanner.plan(c, opts.selectedShards, from, to)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangelogReaderFactory(c, opts.transport, opts.wirePayload, opts.wireTable)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Bounded (batch) scan over the same offset space — full replay as a batch. */
class ChangelogBatch(opts: ChangelogSource.SourceOptions) extends Batch {
  private val c = opts.gen
  override def planInputPartitions(): Array[InputPartition] = {
    val from = opts.selectedShards.map(_ -> 0L).toMap
    val to = opts.selectedShards.map(i => i -> opts.transport.head(i)).toMap
    ChangelogPlanner.plan(c, opts.selectedShards, from, to)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ChangelogReaderFactory(c, opts.transport, opts.wirePayload, opts.wireTable)
}

object ChangelogPlanner {
  /** Events per input partition: a chunk of one shard's range. */
  val RowsPerPartition = 250000L

  /** One partition per shard-chunk: shard-level parallelism (A12/A20) plus
    * chunking so a big catch-up doesn't serialize into one long task.
    */
  def plan(c: GenConfig, shards: Seq[Int], from: Map[Int, Long],
      to: Map[Int, Long]): Array[InputPartition] =
    shards.flatMap { s =>
      val f = from.getOrElse(s, 0L)
      val t = to.getOrElse(s, 0L)
      if (t <= f) Nil
      else (f until t by RowsPerPartition).map { chunkStart =>
        ChangelogInputPartition(s, chunkStart, math.min(t, chunkStart + RowsPerPartition), c)
      }
    }.toArray
}

case class ChangelogInputPartition(shardIdx: Int, from: Long, to: Long, c: GenConfig)
    extends InputPartition

/** Reader factory — consumes event supply ONLY through the
  * [[ShardEventTransport]] seam (the reference's sync loop likewise consumes
  * only the `VitessClient` interface); this factory owns just the
  * row ENCODING (typed / wire / generic-wire envelope).
  */
class ChangelogReaderFactory(c: GenConfig, transport: ShardEventTransport,
    wirePayload: Boolean = false,
    wireTable: Option[graft.core.WireTable] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ChangelogInputPartition]
    new PartitionReader[InternalRow] {
      // one serializer closure chosen at construction (no per-row branching)
      private val encode: ChangeEvent => InternalRow = wireTable match {
        case Some(wt) => ChangelogReaderFactory.genericWireEncoder(wt, p.c)
        case None if wirePayload =>
          val ser = ExpressionEncoder[WireChangeEvent]().createSerializer()
          e => ser(WireGen.fromEvent(e))
        case None =>
          val ser = ExpressionEncoder[ChangeEvent]().createSerializer()
          e => ser(e)
      }
      private val it = transport.events(p.shardIdx, p.from, p.to)
      private var row: InternalRow = _
      override def next(): Boolean =
        it.hasNext && { row = encode(it.next()); true }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}

object ChangelogReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  /** Serializer for an arbitrary wire table: hand-built InternalRows (no
    * per-row encoder reflection) shaped to [[ChangelogSource.wireSchemaFor]].
    * ALL type dispatch — key shape, MySQL-DDL parsing, enum/set labels — is
    * hoisted into per-column closures at construction; the per-row path is
    * one mix64 per column plus formatting. Key values are injective in the
    * event identity ([[WireGen.keyGens]]); value columns derive closed-form
    * from the column TYPE ([[WireGen.valueGen]]).
    */
  private[streaming] def genericWireEncoder(
      wt: graft.core.WireTable, c: GenConfig): ChangeEvent => InternalRow = {
    // path → original generator index (pathName enumeration order)
    val pathIdx: Map[String, Int] =
      (0 until c.pathsPerRepo).map(i => EventGen.pathName(i)._1 -> i).toMap
    val keyGens = WireGen.keyGens(wt, pathIdx, c.pathsPerRepo)
    val valGens = wt.orderedColumns.drop(wt.keys.size).map(WireGen.valueGen).toArray
    val nKeys = keyGens.size
    def utf(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
    def payload(r: graft.core.RepoFile, keysOnly: Boolean): GenericInternalRow = {
      val vals = new Array[Any](nKeys + valGens.length)
      var i = 0
      while (i < nKeys) { vals(i) = utf(keyGens(i)(r.repo, r.path)); i += 1 }
      if (!keysOnly) {
        val h0 = EventGen.mix64(r.commit.hashCode.toLong << 32 ^ r.repo.hashCode ^ r.path.hashCode)
        while (i < vals.length) { vals(i) = utf(valGens(i - nKeys)(h0)); i += 1 }
      }
      new GenericInternalRow(vals)
    }
    e =>
      new GenericInternalRow(Array[Any](
        utf(e.keyspace), utf(e.shard), utf(e.vgtid), e.event_seq, utf(e.op),
        e.before.map(payload(_, keysOnly = true)).orNull,
        e.after.map(payload(_, keysOnly = false)).orNull,
        e.is_copy_phase,
        e.last_pk.map(pk =>
          new GenericInternalRow(Array[Any](utf(pk.repo), utf(pk.path)))).orNull,
        e.schema_version))
  }
}
