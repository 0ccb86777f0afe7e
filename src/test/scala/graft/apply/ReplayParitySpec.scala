package graft.apply

import graft.SparkSupport
import graft.core.ChangeEvent
import graft.genlog.{ChangelogGen, GenConfig}
import graft.laketable.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end replay parity: apply the full synthetic changelog through the
  * engine and assert the final table equals the independent oracle row-for-row
  * by (repo, path, sha256(content)) — the per-row invariant from
  * BASELINE.json `input_hint`. Mirrors the reference's copy→catchup replay
  * tests (`planetscale_edge_database_test.go:2170-2493`).
  */
class ReplayParitySpec extends AnyFunSuite with SparkSupport {

  private def digest(df: DataFrame): DataFrame =
    df.select(col("repo"), col("path"), col("commit"), col("lang"),
      sha2(col("content"), 256).as("sha"))

  /** Window-formulated LWW over the default `(repo, path)` key: the
    * reference-semantics oracle the aggregate dedup is checked against.
    */
  private def dedupLwwWindow(events: DataFrame): DataFrame = {
    val keyed = events
      .withColumn("_repo", coalesce(col("after.repo"), col("before.repo")))
      .withColumn("_path", coalesce(col("after.path"), col("before.path")))
      .withColumn("_rank", graft.functions.VGtidRankExpr.vgtid_rank(col("vgtid")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_repo"), col("_path"))
      .orderBy(col("_rank").desc, col("event_seq").desc)
    keyed.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  private def assertParity(table: LakeTable, expected: DataFrame): Unit = {
    val got = digest(table.read())
    val want = digest(expected)
    assert(got.count() == want.count(), "row count mismatch")
    assert(got.exceptAll(want).isEmpty, "engine rows not in oracle")
    assert(want.exceptAll(got).isEmpty, "oracle rows not in engine")
  }

  test("single-batch replay reaches oracle state (catch-up only)") {
    val c = GenConfig(numEvents = 20000L, numShards = 4, numRepos = 60, pathsPerRepo = 40)
    val t = new LakeTable(tmpDir("replay") + "/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 8)
    val stream = ChangelogGen.changelog(spark, c)
    val res = CdcApply.replayAll(t, stream)
    assert(!res.skipped && res.upserts > 0)
    assertParity(t, ChangelogGen.expectedFinalState(spark, c))
  }

  test("copy phase + catch-up replay reaches oracle state") {
    val c = GenConfig(numEvents = 15000L, numShards = 4, numRepos = 60,
      pathsPerRepo = 40, copyRows = 3000L)
    val t = new LakeTable(tmpDir("replay") + "/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 8)
    val res = CdcApply.replayAll(t, ChangelogGen.fullStream(spark, c))
    assert(!res.skipped)
    assertParity(t, ChangelogGen.expectedFinalState(spark, c))
  }

  test("multi-batch apply + idempotent replay of a committed batch") {
    val c = GenConfig(numEvents = 12000L, numShards = 2, numRepos = 40, pathsPerRepo = 30)
    val t = new LakeTable(tmpDir("replay") + "/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 8)
    val all = ChangelogGen.changelog(spark, c).cache()
    val cut = 6000L
    val b1 = all.filter(col("event_seq") <= cut)
    val b2 = all.filter(col("event_seq") > cut)

    val r1 = CdcApply.applyBatch(t, b1, batchId = 1L)
    assert(!r1.skipped)
    // crash-replay of batch 1 after commit → no-op, version unchanged
    val v = t.currentVersion.get
    val r1b = CdcApply.applyBatch(t, b1, batchId = 1L)
    assert(r1b.skipped && t.currentVersion.contains(v))

    val r2 = CdcApply.applyBatch(t, b2, batchId = 2L)
    assert(!r2.skipped)
    assertParity(t, ChangelogGen.expectedFinalState(spark, c))

    // cursors committed transactionally with the data
    val cur = t.summaryValue("cursors")
    assert(cur.exists(_.contains("MySQL56/")))

    // lineage holds the batch-level counts and is pruned to a trailing
    // window: a commit at batch 100 drops lineage:b1/b2 (1, 2 ≤ 100 -
    // lineageKeep) — the summary map stays O(1) over a stream's lifetime,
    // never O(batches). Per-shard rows live in the metrics rows (event_seq
    // is per-shard, so b2 above is empty — b1 carries the stats).
    val lineage = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(t.summaryValue("lineage:b1").get)
    import scala.jdk.CollectionConverters._
    assert(lineage.fieldNames().asScala.toSet == Set("buckets", "upserts", "deletes"))
    assert(lineage.get("upserts").asLong() == r1.upserts &&
      lineage.get("deletes").asLong() == r1.deletes && r1.upserts > 0)
    assert(lineage.get("buckets").asInt() > 0 && lineage.get("buckets").asInt() <= 8)
    val shardRows = graft.streaming.CdcStream.readMetrics(spark, t.root)
      .filter(col("batch_id") === 1L).select("shard", "rows").collect()
    assert(shardRows.length == c.numShards && shardRows.map(_.getLong(1)).sum > 0)
    assert(shardRows.forall(r => r1.stats(r.getString(0)).rows == r.getLong(1)))
    val r3 = CdcApply.applyBatch(t, b2.limit(0), batchId = 100L)
    assert(!r3.skipped)
    val keys = t.currentSnapshot.get.summary.keySet
    assert(!keys.contains("lineage:b1") && !keys.contains("lineage:b2"),
      "old lineage keys must be pruned from the summary")
    assert(keys.contains("lineage:b100"))
    all.unpersist()
  }

  test("single-scan stats: per-shard cursors/rows derived from the staged winners; " +
    "copy→catchup boundary clears the PK watermark (A6, database.go:383-393)") {
    val c = GenConfig(numEvents = 2000L, numShards = 2, numRepos = 10, pathsPerRepo = 5,
      copyRows = 400L)
    import graft.genlog.EventGen

    // mid-copy batch only: every shard cursor carries the max-seq LASTPK
    val t1 = new LakeTable(tmpDir("wm") + "/t1", spark)
    t1.create(ChangeEvent.rowSchema, numBuckets = 4)
    val midCopy = ChangelogGen.fullStream(spark, c).filter(col("is_copy_phase"))
    val r1 = CdcApply.replayAll(t1, midCopy)
    assert(r1.stats.size == c.numShards)
    (0 until c.numShards).foreach { i =>
      val name = ChangelogGen.shardNames(c.numShards)(i)
      val want = EventGen.copyEvent(i, EventGen.copyPerShard(c) - 1, c,
        EventGen.sortedPaths(c)).last_pk
      assert(r1.stats(name).cursor.lastPk == want, s"shard $name watermark")
      assert(r1.stats(name).rows == EventGen.copyPerShard(c))
    }

    // batch spanning the copy→catchup boundary: watermark cleared, cursor at
    // the max CATCH-UP position (a stale mid-COPY pk must not survive)
    val t2 = new LakeTable(tmpDir("wm") + "/t2", spark)
    t2.create(ChangeEvent.rowSchema, numBuckets = 4)
    val full = ChangelogGen.fullStream(spark, c)
    val r2 = CdcApply.replayAll(t2, full)
    assert(r2.stats.values.forall(_.cursor.lastPk.isEmpty), "watermark must clear post-copy")
    (0 until c.numShards).foreach { i =>
      val name = ChangelogGen.shardNames(c.numShards)(i)
      val endRank = EventGen.catchupPerShard(i, c) + EventGen.copyRankBase(c)
      assert(graft.core.VGtid.rank(r2.stats(name).cursor.position) == endRank)
    }
    assert(r2.stats.values.map(_.rows).sum == full.count())
  }

  test("dedupLww (max_by combine) ≡ dedupLwwWindow (reference window shape)") {
    val c = GenConfig(numEvents = 10000L, numShards = 4, numRepos = 30, pathsPerRepo = 20,
      copyRows = 1000L)
    val ev = ChangelogGen.fullStream(spark, c)
    val cols = Seq("_repo", "_path", "vgtid", "event_seq", "op").map(col)
    val a = CdcApply.dedupLww(ev).select(cols: _*)
    val b = dedupLwwWindow(ev).select(cols: _*)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // per-key event counts sum to the batch (cursor/lineage input)
    val n1 = CdcApply.dedupLww(ev).select(sum(col("_key_events"))).head().getLong(0)
    assert(n1 == ev.count())
  }

  test("metadata injection: winning event's vgtid/seq stamped per row " +
    "(reference _planetscale_metadata, database_test.go:642-886)") {
    val c = GenConfig(numEvents = 3000L, numShards = 2, numRepos = 10, pathsPerRepo = 5)
    val t = new LakeTable(tmpDir("meta") + "/t", spark)
    t.create(ChangeEvent.rowSchemaWithMeta, numBuckets = 4)
    CdcApply.replayAll(t, ChangelogGen.changelog(spark, c))
    val df = t.read()
    assert(df.columns.contains("_graft_vgtid") && df.columns.contains("_graft_seq"))
    assert(df.filter(col("_graft_vgtid").startsWith("MySQL56/")).count() == df.count())
    assert(df.filter(col("_graft_extracted_at").isNull).count() == 0)
    // the stamped position is the WINNING (max) event per key: re-derive via
    // the window oracle and compare seq stamps
    val want = dedupLwwWindow(ChangelogGen.changelog(spark, c))
      .filter(col("op") =!= "delete")
      .select(col("_repo").as("repo"), col("_path").as("path"), col("event_seq"))
    val got = df.select(col("repo"), col("path"), col("_graft_seq").as("event_seq"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("parity mode drops deletes (reference After-image-only semantics)") {
    val c = GenConfig(numEvents = 8000L, numShards = 2, numRepos = 30,
      pathsPerRepo = 20, deleteRatio = 0.2)
    val t = new LakeTable(tmpDir("replay") + "/t", spark)
    t.create(ChangeEvent.rowSchema, numBuckets = 4)
    CdcApply.replayAll(t, ChangelogGen.changelog(spark, c),
      CdcApply.ApplyConfig(parityMode = true))
    // oracle for parity mode: last non-delete event per key always survives
    val ev = ChangelogGen.changelog(spark, c).filter(col("op") =!= "delete")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("after.repo", "after.path").orderBy(col("event_seq").desc)
    val want = ev.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select("after.*")
    assertParity(t, want)
  }
}
