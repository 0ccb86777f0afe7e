package graft.genlog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, seeded, fully-distributed generator of the sharded
  * changelog (FIXTURES.md §2) — the synthetic analogue of the Vitess VStream
  * the reference tails (`cmd/internal/planetscale_edge_database.go:291-462`).
  *
  * All row content is produced by the pure, offset-addressable [[EventGen]]
  * (event k of shard i is a closed-form function of the seed), so the same
  * changelog is served identically by this batch generator, by the DSv2
  * micro-batch source, and at any parallelism — scale-invariant from 10^4 to
  * 10^10 events with no driver-side state.
  */
final case class GenConfig(
    seed: Long = 42L,
    numEvents: Long = 100000L,
    numShards: Int = 4,
    numRepos: Int = 100,
    pathsPerRepo: Int = 50,
    keyspace: String = "ks",
    zipfSkew: Double = 2.0,
    deleteRatio: Double = 0.05,
    copyRows: Long = 0L,
    contentBlocks: Int = 8,
    // source-side schema change: catch-up events with GLOBAL id >= this
    // carry schema_version = 2 (the payload SHAPE stays v1 — MySQL keeps
    // delivering rows under the old column layout until the reader's
    // registry maps the bump to Avro-driven adds/renames on the table)
    schemaChangeAt: Option[Long] = None)

object ChangelogGen {

  /** Vitess-style shard range names: 4 shards → -40, 40-80, 80-c0, c0-
    * (shape of `planetscale_connection_test.go:41-46`).
    */
  def shardNames(n: Int): IndexedSeq[String] =
    if (n == 1) Vector("-")
    else if (256 % n == 0) {
      val step = 256 / n
      (0 until n).map { i =>
        val lo = if (i == 0) "" else f"${i * step}%02x"
        val hi = if (i == n - 1) "" else f"${(i + 1) * step}%02x"
        s"$lo-$hi"
      }
    } else (0 until n).map(i => s"shard$i")

  /** Deterministic per-shard server UUID (binlog writer identity). */
  def shardUuid(seed: Long, shardIdx: Int): String = {
    val h1 = EventGen.mix64(seed ^ EventGen.mix64(shardIdx.toLong)) & 0xffffffffL
    val h2 = EventGen.mix64(seed * 31 + shardIdx) & 0xffffffffL
    f"$h1%08x-${h2 & 0xffff}%04x-11eb-${(h1 >> 8) & 0xffff}%04x-$h2%08x$h1%04x".take(36)
  }

  /** The catch-up changelog as a DataFrame (schema = ChangeEvent).
    *
    * Expression-based ([[GenExprs.changelog]]): value-identical to the
    * encoder formulation over [[EventGen]] (spec-asserted row-for-row in
    * `GenExprsParitySpec`) but whole-stage codegen'd and COLUMN-PRUNABLE —
    * a consumer that only needs keys and ordering columns never pays for
    * the sha256-based content strings.
    */
  def changelog(spark: SparkSession, c: GenConfig): DataFrame =
    GenExprs.changelog(spark, c)

  /** COPY-phase rows: the initial table snapshot, streamed in PK order per
    * shard with LASTPK watermarks (VStream COPY analogue). All carry the
    * copy-start position (rank 1) so any catch-up event LWW-beats them.
    * Expression-based; its encoder oracle is in `GenExprsParitySpec`.
    */
  def copyPhase(spark: SparkSession, c: GenConfig): DataFrame =
    GenExprs.copyPhase(spark, c)

  /** Full stream for a replay: copy phase (if any) followed by catch-up. */
  def fullStream(spark: SparkSession, c: GenConfig): DataFrame =
    if (c.copyRows > 0) copyPhase(spark, c).unionByName(changelog(spark, c))
    else changelog(spark, c)

  /** The oracle: expected final table state after applying the full stream —
    * last writer per (repo, path) wins by (vgtid rank, event_seq); a final
    * delete removes the row. Computed by an independent plan (global window,
    * no bucketing/merge machinery) for parity tests.
    */
  def expectedFinalState(spark: SparkSession, c: GenConfig): DataFrame = {
    val ev = fullStream(spark, c)
    val keyed = ev.withColumn("_repo", coalesce(col("after.repo"), col("before.repo")))
      .withColumn("_path", coalesce(col("after.path"), col("before.path")))
    val rank = when(col("is_copy_phase"), lit(1L))
      .otherwise(col("event_seq") + lit(EventGen.copyRankBase(c)))
    val w = Window.partitionBy("_repo", "_path").orderBy(rank.desc, col("event_seq").desc)
    keyed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "delete")
      .select(col("after.repo"), col("after.path"), col("after.commit"),
        col("after.lang"), col("after.content"))
  }
}
