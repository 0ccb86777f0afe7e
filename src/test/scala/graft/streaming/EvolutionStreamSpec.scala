package graft.streaming

import graft.SparkSupport
import graft.core.ChangeEvent
import graft.genlog.{ChangelogGen, GenConfig}
import graft.laketable.{AvroSchema, LakeTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** STREAM-DRIVEN Avro schema evolution (north-star: "Avro-driven schema
  * evolution mapped to Iceberg column adds/renames"): the binlog announces a
  * schema bump via the events' `schema_version`; when the first v2 winners
  * land, the configured Avro registry's diff (rename `lang`→`language` via
  * alias + add `size_bytes`) is applied to the lake table as metadata-only
  * commits and the `wire_schema_version` watermark records it. Rows written
  * before AND after the bump read back under the new names (field-id
  * mapping), replays re-trigger nothing, and final-state parity holds
  * through the change.
  */
class EvolutionStreamSpec extends AnyFunSuite with SparkSupport {

  // the canonical pair SparkEntry's driver query uses — shared so the spec
  // always covers exactly what the oracled query runs
  private val avroV1 = AvroSchema.repoContentV1
  private val avroV2 = AvroSchema.repoContentV2

  private def digest(df: DataFrame): DataFrame =
    df.select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))

  test("mid-stream schema_version bump drives Avro evolution: rename keeps " +
    "old rows' values under the new name, added column fills null, parity " +
    "holds, watermark commits; pre-bump syncs leave the schema untouched") {
    val c = GenConfig(numEvents = 6000L, numShards = 2, numRepos = 20,
      pathsPerRepo = 10, schemaChangeAt = Some(3000L))
    val base = tmpDir("evostream")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(1500L),
      schemaRegistry = Map(1 -> avroV1, 2 -> avroV2))

    // phase 1: drain only PRE-BUMP events (global ids < 3000 ⇒ per-shard
    // head 1500) — no v2 winner has landed, so the schema must not move
    CdcStream.runAvailableNow(spark, rc.copy(endSeq = Some(1250L)))
    assert(t.read().columns.toSeq == Seq("repo", "path", "commit", "lang", "content"))
    assert(t.summaryValue("wire_schema_version").isEmpty)

    // phase 2: drain to the true head — v2 events arrive mid-stream and
    // trigger the registry diff
    CdcStream.runAvailableNow(spark, rc)
    assert(t.read().columns.toSeq ==
      Seq("repo", "path", "commit", "language", "content", "size_bytes"))
    assert(t.summaryValue("wire_schema_version").contains("2"))

    // parity through the change, and the RENAMED column serves every row's
    // value — including rows whose files were written before the bump
    val want = ChangelogGen.expectedFinalState(spark, c)
    val got = t.read()
    assert(digest(got).exceptAll(digest(want)).isEmpty &&
      digest(want).exceptAll(digest(got)).isEmpty)
    val wantLang = want.select(col("repo"), col("path"), col("lang").as("language"))
    val gotLang = got.select(col("repo"), col("path"), col("language"))
    assert(gotLang.exceptAll(wantLang).isEmpty && wantLang.exceptAll(gotLang).isEmpty)
    // the source never delivered the added column — null everywhere
    assert(got.filter(col("size_bytes").isNotNull).count() == 0)

    // replay safety: an empty follow-up sync applies nothing and re-runs no
    // evolution; direct re-application of the registry step is a no-op
    val v = t.currentVersion.get
    assert(CdcStream.runAvailableNow(spark, rc) == 0L)
    assert(AvroSchema.evolveIfNeeded(t, t.currentSnapshot.get, avroV1, avroV2).version == v)
    assert(t.currentVersion.contains(v))
  }

  test("stranded bump heals: the bump batch committed (announced version " +
    "recorded) but evolution never ran and no further events exist — an " +
    "EMPTY follow-up sync completes the bump from committed state alone") {
    val c = GenConfig(numEvents = 3000L, numShards = 2, numRepos = 20,
      pathsPerRepo = 10, schemaChangeAt = Some(1500L))
    val base = tmpDir("evostrand")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    val rc = CdcStream.RunConfig(c, s"$base/t", s"$base/cp",
      maxEventsPerTrigger = Some(1000L))
    // model the worst window: the whole drain ran with the evolution
    // trigger never firing (registry absent ≈ crash/fence right after
    // every batch commit), so v2 data sits under the v1 schema with only
    // the ANNOUNCED version in the snapshot
    CdcStream.runAvailableNow(spark, rc)
    assert(t.summaryValue("wire_schema_announced").contains("2"))
    assert(t.summaryValue("wire_schema_version").isEmpty)
    assert(t.read().columns.toSeq == Seq("repo", "path", "commit", "lang", "content"))

    // the next sync has NOTHING to drain — the end-of-sync check still
    // observes announced > applied and completes the bump
    val applied = CdcStream.runAvailableNow(spark,
      rc.copy(schemaRegistry = Map(1 -> avroV1, 2 -> avroV2)))
    assert(applied == 0L)
    assert(t.read().columns.toSeq ==
      Seq("repo", "path", "commit", "language", "content", "size_bytes"))
    assert(t.summaryValue("wire_schema_version").contains("2"))
  }

  test("strict final-step guard: a registry whose rename matches NO column " +
    "of the table fails loud instead of silently watermarking past it") {
    val base = tmpDir("evostrict")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    // a registry describing a DIFFERENT table: its v1 names a column the
    // table never had, so the v1→v2 rename (lng→language) matches nothing
    val typoV1 = avroV1.replace("\"name\":\"lang\"", "\"name\":\"lng\"")
    val typoV2 = avroV2.replace("\"aliases\":[\"lang\"]", "\"aliases\":[\"lng\"]")
    val e = intercept[graft.core.GraftValidationException](
      AvroSchema.evolveIfNeeded(t, t.currentSnapshot.get, typoV1, typoV2, strict = true))
    assert(e.getMessage.contains("schema registry mismatch"))
    // non-strict (intermediate step) tolerates it — chained renames need
    // both-absent tolerance there (only the pending add is applied)
    AvroSchema.evolveIfNeeded(t, t.currentSnapshot.get, typoV1, typoV2, strict = false)
  }

  test("evolveIfNeeded applies only the PENDING part of a bump (partial " +
    "crash window: rename landed, add did not)") {
    val base = tmpDir("evopartial")
    val t = new LakeTable(s"$base/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    // simulate the torn state: rename applied, add missing
    t.evolveSchema(Map("lang" -> "language"), Nil)
    val snap = AvroSchema.evolveIfNeeded(t, t.currentSnapshot.get, avroV1, avroV2)
    assert(snap.currentSchema.map(_.name) ==
      Seq("repo", "path", "commit", "language", "content", "size_bytes"))
    // and a second call is a complete no-op
    assert(AvroSchema.evolveIfNeeded(t, t.currentSnapshot.get, avroV1, avroV2).version ==
      snap.version)
  }
}
