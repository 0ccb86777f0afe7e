package graft.apply

import graft.core.{LastPk, ShardCursor, ShardStats}
import graft.functions.VGtidRankExpr.vgtid_rank
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The group-by oracle for the apply's observed stats: the batch's LWW
  * winners (native mode) or its raw events (parity mode) projected to
  * per-row provenance, then one `groupBy(keyspace, shard)` with built-in
  * `max_by`/`max`/`sum` aggregates — the formulation the engine used before
  * it observed the stats in the staged write.
  */
object StatsOracle {

  /** What the apply must report for a batch applied to an empty table. */
  final case class Expected(stats: Map[String, ShardStats], upserts: Long, deletes: Long,
      maxSchemaVersion: Int)

  private val provenance = Seq(
    col("keyspace").as("_s_keyspace"), col("shard").as("_s_shard"),
    col("vgtid").as("_s_vgtid"), col("_rank").as("_s_rank"),
    col("event_seq").as("_s_seq"), col("is_copy_phase").as("_s_copy"),
    col("last_pk.repo").as("_s_pk_repo"), col("last_pk.path").as("_s_pk_path"),
    col("_key_events").as("_s_key_events"),
    col("schema_version").as("_s_schema_ver"))

  private def statsFromStaged(rows: DataFrame): DataFrame =
    rows.groupBy(col("_s_keyspace"), col("_s_shard")).agg(
      max_by(col("_s_vgtid"), struct(col("_s_rank"), col("_s_seq"))).as("_s_vend"),
      max(when(col("_s_copy"), lit(0)).otherwise(lit(1))).as("_s_catchup"),
      max_by(col("_s_pk_repo"),
        when(col("_s_copy"), col("_s_seq")).otherwise(lit(-1L))).as("_s_pk_repo2"),
      max_by(col("_s_pk_path"),
        when(col("_s_copy"), col("_s_seq")).otherwise(lit(-1L))).as("_s_pk_path2"),
      sum(col("_s_key_events")).as("_s_rows"),
      max(col("_s_schema_ver")).as("_s_max_sv"),
      sum(when(col("_kind") === "u", lit(1L)).otherwise(lit(0L))).as("_n_u"),
      sum(when(col("_kind") === "d", lit(1L)).otherwise(lit(0L))).as("_n_d"))

  /** The oracle for `events` (the `(repo, path)` key) applied as one batch. */
  def expected(events: DataFrame, parityMode: Boolean): Expected = {
    val filtered = if (parityMode) events.filter(col("op") =!= "delete") else events
    val winners = CdcApply.dedupLww(filtered).select(provenance :+
      when(col("op") === "delete", lit("d")).otherwise(lit("u")).as("_kind"): _*)
    val staged = statsFromStaged(winners).collect()
    val statsRows =
      if (!parityMode) staged
      else statsFromStaged(events.withColumn("_rank", vgtid_rank(col("vgtid")))
        .withColumn("_key_events", lit(1L)).select(provenance :+ lit("e").as("_kind"): _*))
        .collect()
    val stats = statsRows.map { r =>
      val pk = if (r.getInt(3) == 1) None
               else for { repo <- Option(r.getString(4)); p <- Option(r.getString(5)) }
                    yield LastPk(repo, p)
      r.getString(1) -> ShardStats(ShardCursor(r.getString(0), r.getString(1), r.getString(2), pk),
        r.getLong(6), "", r.getString(2))
    }.toMap
    val maxSv = if (parityMode) 1 else statsRows.map(_.getInt(7)).foldLeft(1)(math.max)
    Expected(stats, staged.map(_.getLong(8)).sum, staged.map(_.getLong(9)).sum, maxSv)
  }

  /** What the apply reported, in the oracle's shape. */
  def reported(r: ApplyResult): Expected =
    Expected(r.stats, r.upserts, r.deletes, r.maxSchemaVersion)

  /** A batch's rows in [[graft.core.ChangeEvent.schema]] order. */
  def event(keyspace: String, shard: String, vgtid: String, seq: Long, op: String,
      before: Option[Row], after: Option[Row], copy: Boolean, lastPk: Option[(String, String)],
      schemaVersion: Int): Row =
    Row(keyspace, shard, vgtid, seq, op, before.orNull, after.orNull, copy,
      lastPk.map { case (r, p) => Row(r, p) }.orNull, schemaVersion)
}
