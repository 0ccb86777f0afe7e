package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

/** One shard's running stats: the end position by (rank, seq), whether any
  * catch-up row was seen, the last PK of the max-seq copy row (`pkSeq` is
  * `Long.MinValue` until a copy row arrives), processed rows and the highest
  * schema version.
  */
final class ShardAcc(var rank: Long, var seq: Long, var vgtid: UTF8String,
    var catchup: Boolean, var pkSeq: Long, var pkRepo: UTF8String, var pkPath: UTF8String,
    var rows: Long, var maxSv: Int) {

  def merge(o: ShardAcc): Unit = {
    if (o.rank > rank || (o.rank == rank && o.seq > seq)) { rank = o.rank; seq = o.seq; vgtid = o.vgtid }
    catchup ||= o.catchup
    if (o.pkSeq > pkSeq) { pkSeq = o.pkSeq; pkRepo = o.pkRepo; pkPath = o.pkPath }
    rows += o.rows
    maxSv = math.max(maxSv, o.maxSv)
  }
}

/** Per-(keyspace, shard) batch stats as ONE aggregate, on the [[LwwMaxBy]]
  * pattern: its buffer is a hash map from shard to [[ShardAcc]], so a
  * global aggregate — or an `observe` on the staged write — yields every
  * shard's cursor inputs in one pass with no group-by exchange.
  *
  * `row` is a struct laid out as [[ShardStatsAgg.inputType]]: keyspace,
  * shard, vgtid, rank, seq, is-copy, last-PK repo and path (nullable), the
  * events the row stands for, and its schema version. The result is an
  * array of [[ShardStatsAgg.shardType]] sorted by (keyspace, shard).
  */
case class ShardStatsAgg(
    row: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[(UTF8String, UTF8String), ShardAcc]]
  with UnaryLike[Expression] {

  type Buf = mutable.HashMap[(UTF8String, UTF8String), ShardAcc]

  override def child: Expression = row
  override def dataType: DataType = ArrayType(ShardStatsAgg.shardType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = row.dataType match {
    case st: StructType if st.map(f => f.name -> f.dataType) ==
        ShardStatsAgg.inputType.map(f => f.name -> f.dataType) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shard_stats expects ${ShardStatsAgg.inputType.simpleString}, got ${t.simpleString}")
  }

  override def createAggregationBuffer(): Buf = mutable.HashMap.empty

  private def str(r: InternalRow, i: Int): UTF8String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).clone()

  private def add(b: Buf, key: (UTF8String, UTF8String), acc: ShardAcc): Unit =
    b.get(key) match {
      case Some(cur) => cur.merge(acc)
      case None => b.update(key, acc)
    }

  override def update(b: Buf, input: InternalRow): Buf = {
    val r = row.eval(input).asInstanceOf[InternalRow]
    if (r != null) {
      val (seq, copy) = (r.getLong(4), r.getBoolean(5))
      add(b, (str(r, 0), str(r, 1)), new ShardAcc(r.getLong(3), seq, str(r, 2), !copy,
        if (copy) seq else Long.MinValue, if (copy) str(r, 6) else null,
        if (copy) str(r, 7) else null, r.getLong(8), r.getInt(9)))
    }
    b
  }

  override def merge(b: Buf, other: Buf): Buf = {
    other.foreach { case (k, o) => add(b, k, o) }
    b
  }

  override def eval(b: Buf): Any =
    new GenericArrayData(b.toSeq.sortBy { case ((ks, sh), _) => (ks.toString, sh.toString) }
      .map { case ((ks, sh), a) =>
        InternalRow(ks, sh, a.vgtid, a.catchup, a.pkRepo, a.pkPath, a.rows, a.maxSv)
      }.toArray[Any])

  override def serialize(b: Buf): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    def put(s: UTF8String): Unit =
      if (s == null) out.writeInt(-1) else { out.writeInt(s.numBytes()); out.write(s.getBytes) }
    out.writeInt(b.size)
    b.foreach { case ((ks, sh), a) =>
      put(ks); put(sh); out.writeLong(a.rank); out.writeLong(a.seq); put(a.vgtid)
      out.writeBoolean(a.catchup); out.writeLong(a.pkSeq); put(a.pkRepo); put(a.pkPath)
      out.writeLong(a.rows); out.writeInt(a.maxSv)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    def get(): UTF8String = in.readInt() match {
      case -1 => null
      case n => val a = new Array[Byte](n); in.readFully(a); UTF8String.fromBytes(a)
    }
    val b = createAggregationBuffer()
    (0 until in.readInt()).foreach { _ =>
      val key = (get(), get())
      b.update(key, new ShardAcc(in.readLong(), in.readLong(), get(), in.readBoolean(),
        in.readLong(), get(), get(), in.readLong(), in.readInt()))
    }
    b
  }

  override def withNewMutableAggBufferOffset(offset: Int): ShardStatsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ShardStatsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): ShardStatsAgg =
    copy(row = newChild)
}

object ShardStatsAgg {
  /** The per-row input layout. */
  val inputType: StructType = StructType(Seq(
    StructField("keyspace", StringType, nullable = false),
    StructField("shard", StringType, nullable = false),
    StructField("vgtid", StringType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("copy", BooleanType, nullable = false),
    StructField("pk_repo", StringType),
    StructField("pk_path", StringType),
    StructField("events", LongType, nullable = false),
    StructField("schema_version", IntegerType, nullable = false)))

  /** One shard of the result. `last_pk_*` are the max-seq copy row's PK. */
  val shardType: StructType = StructType(Seq(
    StructField("keyspace", StringType, nullable = false),
    StructField("shard", StringType, nullable = false),
    StructField("vgtid_end", StringType, nullable = false),
    StructField("catchup", BooleanType, nullable = false),
    StructField("last_pk_repo", StringType),
    StructField("last_pk_path", StringType),
    StructField("rows", LongType, nullable = false),
    StructField("max_schema_version", IntegerType, nullable = false)))

  /** `cols`, in [[inputType]] order, as one input row. */
  def row(cols: Column*): Column =
    org.apache.spark.sql.functions.struct(
      cols.zip(inputType.fieldNames).map { case (c, n) => c.as(n) }: _*)

  /** Column API: `shard_stats(row)`. */
  def shard_stats(row: Column): Column =
    GraftBridge.column(ShardStatsAgg(GraftBridge.expression(row)).toAggregateExpression())
}
