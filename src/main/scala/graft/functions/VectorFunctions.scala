package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity primitives: cosine via codegen'd array folds, exact
  * brute-force top-k as the correctness baseline, and an LSH-bucketed
  * approximate variant as the scale path (candidates only join within a
  * hyperplane-sign bucket, so the cross product never materializes).
  */
object VectorFunctions {

  /** Compiled cosine ([[CosineSimExpr]]): the values, accumulation order,
    * zero-norm guard and NULLs of the higher-order-function form
    * `dot(a, b) / (norm(a) * norm(b))` (its oracle in `CompiledExprParitySpec`),
    * one codegen'd loop per pair instead of ~3×dim interpreted lambda calls.
    */
  def cosine(a: Column, b: Column): Column = VectorExprs.cosineCol(a, b)

  /** Exact brute-force cosine top-k: broadcast the (small) query set against
    * the corpus; rank per query. The baseline every ANN variant is scored
    * against. `queries`/`corpus` need (id long, vec array<float/double>).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("id").as("query_id"), col("vec").as("qv")))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Deterministic ±1 hyperplanes for [[signBucket]], computed ONCE on the
    * driver (splitmix64 over (seed, bit, dim index) — pure Scala, no Spark),
    * embedded as array literals in the plan. Shared with the DuckDB oracle
    * builder so `sim_knn_lsh` mirrors the exact algorithm.
    */
  def planeSigns(dim: Int, bits: Int, seed: Long): IndexedSeq[Seq[Double]] =
    (0 until bits).map { b =>
      (0 until dim).map { i =>
        if ((graft.genlog.EventGen.mix64(seed ^ (b.toLong << 32) ^ i.toLong) & 1L) == 0L)
          1.0 else -1.0
      }
    }

  /** Random-hyperplane sign bucket (SimHash-for-vectors): `bits` pseudo-random
    * hyperplanes, deterministic from `seed`; vectors agreeing on every sign
    * land in one bucket. At scale the corpus is bucketed once (and could be
    * written bucket-partitioned); queries probe only their own bucket —
    * a ~2^bits-fold join reduction instead of a full cross product.
    *
    * The planes are PRECOMPUTED driver-side ([[planeSigns]]) and ride as
    * array literals — the per-row cost is `bits` dot products, with zero
    * hash evaluations (the round-2 version rebuilt each plane per row via
    * `xxhash64`, ~dim×bits×tables hashes per row).
    */
  def signBucket(vec: Column, dim: Int, bits: Int, seed: Long): Column =
    VectorExprs.signBucketCol(vec, planeSigns(dim, bits, seed))

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer scale path
    * alongside [[lshTopK]]: every corpus vector is assigned to its nearest
    * centroid cell ONCE (a 16-row broadcast against the corpus — the linear
    * IVF assignment cost), queries probe only their `nprobe` nearest cells,
    * and exact cosine ranks the candidates. Cells partition the corpus, so a
    * (query, neighbor) candidate appears at most once — no pair dedup. At
    * rest the corpus would be written partitioned by `cell` for probe-side
    * partition pruning. Centroids here are a deterministic seed set (in
    * production: k-means over a sample); that determinism is what lets the
    * driver's DuckDB oracle mirror the whole algorithm.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val cent = broadcast(centroids.select(col("id").as("cent_id"), col("vec").as("cvec")))
    def cells(df: DataFrame, idCol: String, vecCol: String, n: Int): DataFrame = {
      val w = Window.partitionBy(idCol)
        .orderBy(col("_cos_c").desc, col("cent_id").asc)
      df.crossJoin(cent)
        .withColumn("_cos_c", cosine(col(vecCol), col("cvec")))
        .withColumn("_crank", row_number().over(w))
        .filter(col("_crank") <= n)
        .select(col(idCol), col(vecCol), col("cent_id").as("cell"))
    }
    val corpusCells = cells(
      corpus.select(col("id").as("neighbor_id"), col("vec").as("cv")),
      "neighbor_id", "cv", 1)
    val queryCells = cells(
      queries.select(col("id").as("query_id"), col("vec").as("qv")),
      "query_id", "qv", nprobe)
    val scored = queryCells.join(corpusCells.hint("shuffle_hash"), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs at a cosine threshold — the
    * embedding leg of the dedup family. Sign-bucket LSH generates candidates
    * (pairs colliding in ANY of `tables` hashes; never an all-pairs product),
    * exact cosine verifies. Scoring precedes the pair dedup so the dedup
    * shuffle carries `(a_id, b_id, cos)` scalars, not vectors. At a high
    * threshold (θ small) per-table collision (1-θ/π)^bits is near 1, so a
    * handful of tables yields effectively-exhaustive recall (verified against
    * the brute-force oracle on this corpus) while random pairs collide at
    * ~0.5^bits per table.
    */
  def nearDupPairs(corpus: DataFrame, dim: Int, threshold: Double,
      bits: Int = 8, tables: Int = 8, seed: Long = 11L): DataFrame = {
    def buckets(vec: Column): Column = array((0 until tables).map { t =>
      signBucket(vec, dim, bits, seed + t * 104729L) * tables + t
    }: _*)
    val side = corpus.select(col("id"), col("vec"),
      explode(buckets(col("vec"))).as("bucket"))
    side.select(col("bucket"), col("id").as("a_id"), col("vec").as("a_vec"))
      .join(side.select(col("bucket"), col("id").as("b_id"), col("vec").as("b_vec"))
        .hint("shuffle_hash"), Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosine(col("a_vec"), col("b_vec")))
      .select(col("a_id"), col("b_id"), col("cos"))
      .dropDuplicates("a_id", "b_id")
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"))
  }

  /** Multi-table LSH approximate top-k: `tables` independent sign-bucket
    * hashes; a corpus vector is a candidate if it shares the query's bucket
    * in ANY table (standard L-tables LSH: recall grows with L while each
    * probe still touches ~corpus/2^bits rows). Candidates are ranked by
    * exact cosine. Recall verified against [[bruteForceTopK]] in tests.
    *
    * Scale shape: the bucket join is a plain equi-join — AQE broadcasts a
    * small query set at runtime and falls back to a shuffle join for a large
    * one (no hard-coded broadcast of either side); at rest the corpus would
    * be written partitioned by its bucket column so probes prune partitions.
    * Scoring happens BEFORE the candidate dedup so the dedup shuffle carries
    * `(query_id, neighbor_id, cos)` scalars, never the embedding arrays
    * (cosine is deterministic per pair, and a pair repeats at most `tables`
    * times — recompute is cheaper than shuffling vectors at 100 TB).
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bits: Int = 4, tables: Int = 8, seed: Long = 7L): DataFrame = {
    def buckets(vec: Column): Column = array((0 until tables).map { t =>
      signBucket(vec, dim, bits, seed + t * 7919L) * tables + t
    }: _*)
    val q = queries.select(col("id").as("query_id"), col("vec").as("qv"),
      explode(buckets(col("vec"))).as("bucket"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cv"),
      explode(buckets(col("vec"))).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }
}
