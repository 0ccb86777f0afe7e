package graft.apply

import graft.{PropSupport, SparkSupport}
import graft.core.ChangeEvent
import graft.laketable.{LakeTable, TableFiles}
import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The apply's per-shard stats and per-kind counts are observed by the
  * staged write. These pit them against [[StatsOracle]] over generated
  * batches, and pin what the staged write leaves on disk.
  */
class ObservedStatsSpec extends AnyFunSuite with SparkSupport with PropSupport {

  private val shardNames = Seq("-40", "40-80", "80-")

  /** One generated batch: per shard, a copy prefix (PK-ordered inserts,
    * some with a null watermark) then catch-up inserts, updates and
    * deletes over a few keys of that shard, at schema version 1 or 2.
    */
  private val batchGen: Gen[Seq[Row]] = for {
    shards <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 3))
    perShard <- Gen.listOfN(shards, for {
      copy <- Gen.frequency(2 -> Gen.const(0), 3 -> Gen.choose(1, 6))
      catchup <- Gen.frequency(2 -> Gen.const(0), 3 -> Gen.choose(1, 8))
      nullPk <- Gen.listOfN(copy, Gen.frequency(1 -> true, 3 -> false))
      ops <- Gen.listOfN(catchup, Gen.frequency(2 -> "insert", 2 -> "update", 1 -> "delete"))
      keys <- Gen.listOfN(catchup, Gen.choose(0, 4))
      sv <- Gen.listOfN(copy + catchup, Gen.frequency(3 -> 1, 1 -> 2))
    } yield (nullPk, ops.zip(keys), sv))
  } yield perShard.zipWithIndex.flatMap { case ((nullPk, changes, sv), s) =>
    val shard = shardNames(s)
    def row(k: Int, seq: Long) = Row(s"r$s-$k", s"p$k.go", "c", "go", s"v$seq")
    val copyRows = nullPk.zipWithIndex.map { case (nul, i) =>
      val seq = i + 1L
      StatsOracle.event("ks", shard, s"MySQL56/u$s:1-1", seq, "insert", None,
        Some(row(i, seq)), copy = true,
        if (nul) None else Some((s"r$s-$i", s"p$i.go")), sv(i))
    }
    val changeRows = changes.zipWithIndex.map { case ((op, k), i) =>
      val seq = nullPk.size + i + 1L
      StatsOracle.event("ks", shard, s"MySQL56/u$s:1-${seq + 10}", seq, op,
        if (op == "insert") None else Some(row(k, seq - 1)),
        if (op == "delete") None else Some(row(k, seq)), copy = false, None, sv(nullPk.size + i))
    }
    copyRows ++ changeRows
  }

  /** Which of the required shapes a batch exercises. */
  private def shapes(rows: Seq[Row]): Set[String] = {
    val byShard = rows.groupBy(_.getString(1))
    Set(
      Some("empty").filter(_ => rows.isEmpty),
      Some("several shards").filter(_ => byShard.size > 1),
      Some("copy only").filter(_ => rows.nonEmpty && rows.forall(_.getBoolean(7))),
      Some("copy + catch-up").filter(_ => byShard.values.exists(rs =>
        rs.exists(_.getBoolean(7)) && rs.exists(!_.getBoolean(7)))),
      Some("deletes").filter(_ => rows.exists(_.getString(4) == "delete")),
      Some("null last_pk").filter(_ => rows.exists(r => r.getBoolean(7) && r.isNullAt(8))),
      Some("schema version 1").filter(_ => rows.nonEmpty && rows.forall(_.getInt(9) == 1)),
      Some("schema version 2").filter(_ => rows.exists(_.getInt(9) == 2))
    ).flatten
  }

  private def checkAgainstOracle(parityMode: Boolean): Unit = {
    val seen = scala.collection.mutable.Set.empty[String]
    val root = tmpDir("observed")
    var n = 0
    // keep every shuffle partition a task of its own, so the observed
    // aggregate merges per-task buffers as it does on large batches
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try forAllSeeded(30)(batchGen) { rows =>
      n += 1
      seen ++= shapes(rows)
      val events = spark.createDataFrame(rows.asJava, ChangeEvent.schema)
      val t = new LakeTable(s"$root/t$n", spark)
      t.create(ChangeEvent.rowSchema, numBuckets = 4)
      val res = CdcApply.applyBatch(t, events, batchId = 0L,
        conf = CdcApply.ApplyConfig(parityMode = parityMode))
      assert(StatsOracle.reported(res) == StatsOracle.expected(events, parityMode),
        s"batch: ${rows.mkString("; ")}")
    } finally spark.conf.unset(coalesce)
    assert(seen == Set("several shards", "copy only", "copy + catch-up",
      "deletes", "null last_pk", "schema version 1", "schema version 2", "empty"),
      s"generated batches covered only ${seen.toSeq.sorted}")
  }

  test("observed stats match the group-by oracle over generated batches (native)") {
    checkAgainstOracle(parityMode = false)
  }

  test("observed stats match the group-by oracle over generated batches (parity)") {
    checkAgainstOracle(parityMode = true)
  }

  private def appliedTable(name: String): LakeTable = {
    val c = graft.genlog.GenConfig(numEvents = 3000L, numShards = 2, numRepos = 20,
      pathsPerRepo = 10, deleteRatio = 0.2, copyRows = 200L)
    val t = new LakeTable(tmpDir(name) + "/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val res = CdcApply.replayAll(t, graft.genlog.ChangelogGen.fullStream(spark, c))
    assert(res.upserts > 0 && res.deletes > 0)
    t
  }

  test("a batch's upsert files hold only table columns") {
    val t = appliedTable("footers")
    val files = t.allFiles(t.currentSnapshot.get)
    assert(files.nonEmpty)
    files.foreach { f =>
      val cols = spark.read.parquet(s"${t.root}/${f.path}").columns.toSeq
      assert(cols == ChangeEvent.rowSchema.fieldNames.toSeq, s"${f.path} holds $cols")
    }
  }

  test("applyBatch leaves no _SUCCESS marker under data/") {
    val t = appliedTable("success")
    val markers = scala.util.Using.resource(Files.walk(Paths.get(t.root, "data")))(
      _.iterator().asScala.filter(_.getFileName.toString == "_SUCCESS").toSeq)
    assert(markers.isEmpty, s"markers: $markers")
    assert(TableFiles.parquetUnder(t.root, "data").nonEmpty)
  }
}
