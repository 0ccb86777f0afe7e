package graft.functions

import graft.SparkSupport
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-6 optimization parity: every compiled expression that replaced an
  * interpreted HOF / string formulation must produce BIT-IDENTICAL results —
  * the driver's DuckDB oracles hash-match whole result sets, so "close" is a
  * regression.
  */
class CompiledExprParitySpec extends AnyFunSuite with SparkSupport {
  import spark.implicits._

  // ---- the higher-order-function oracles of the compiled vector exprs ----

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Oracle for [[VectorFunctions.cosine]]. */
  private def cosineHof(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** Oracle for [[VectorFunctions.signBucket]]. */
  private def signBucketHof(vec: Column, dim: Int, bits: Int, seed: Long): Column = {
    val planes = VectorFunctions.planeSigns(dim, bits, seed)
    val buckets = (0 until bits).map { b =>
      val proj = aggregate(
        zip_with(vec, typedlit(planes(b)), (x, h) => x.cast("double") * h),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    buckets.reduce(_ + _)
  }

  /** `got` and `want` agree row for row (NULLs included), both on a local
    * relation (interpreted eval) and on an RDD-backed copy (generated code).
    */
  private def assertSameBothPaths(df: DataFrame, got: Column, want: Column,
      label: String): Unit =
    Seq(df, spark.createDataFrame(df.rdd, df.schema)).foreach { d =>
      val g = d.select($"id", got.as("v"))
      val w = d.select($"id", want.as("v"))
      assert(g.except(w).isEmpty && w.except(g).isEmpty, label)
    }

  private def vec(seed: Long, dim: Int, float: Boolean): Seq[Double] =
    (0 until dim).map { i =>
      val h = graft.genlog.EventGen.h01(seed * 131L + i, 7L, 3L) * 2.0 - 1.0
      if (float) h.toFloat.toDouble else h
    }

  test("CosineSimExpr == HOF cosine, bit-for-bit (double and float arrays, " +
    "zero vectors, identical vectors)") {
    val rows = (0 until 200).map { i =>
      (i.toLong, vec(i, 64, float = false), vec(i + 7, 64, float = false))
    } ++ Seq(
      (900L, Seq.fill(64)(0.0), vec(1, 64, float = false)),
      (901L, Seq.fill(64)(0.0), Seq.fill(64)(0.0)),
      (902L, vec(5, 64, float = false), vec(5, 64, float = false)))
    val df = rows.toDF("id", "a", "b")
    val got = df.select($"id", VectorFunctions.cosine($"a", $"b").as("c"))
    val want = df.select($"id", cosineHof($"a", $"b").as("c"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)

    // float arrays (the sim_knn_* queries pass raw parquet array<float>)
    val fdf = rows.map { case (id, a, b) =>
      (id, a.map(_.toFloat), b.map(_.toFloat)) }.toDF("id", "a", "b")
    val fGot = fdf.select($"id", VectorFunctions.cosine($"a", $"b").as("c"))
    val fWant = fdf.select($"id", cosineHof($"a", $"b").as("c"))
    assert(fGot.except(fWant).isEmpty && fWant.except(fGot).isEmpty)
  }

  test("CosineSimExpr == HOF cosine on null slots and ragged arrays " +
    "(NULL where the oracle is NULL, 0.0 where a norm is zero)") {
    val rows: Seq[(Long, Seq[Option[Double]], Seq[Option[Double]])] = Seq(
      (0L, Seq(Some(1.0), None, Some(2.0)), Seq(Some(1.0), Some(1.0), Some(1.0))),
      (1L, Seq(Some(1.0), Some(2.0)), Seq(None, None)),
      (2L, Seq(Some(0.0), None), Seq(Some(0.0), Some(0.0))),
      (3L, Seq(Some(1.0), Some(2.0), Some(3.0)), Seq(Some(1.0), Some(2.0))),
      (4L, Seq(Some(0.0), Some(0.0)), Seq(Some(1.0), Some(2.0), Some(3.0))),
      (5L, Seq(), Seq(Some(1.0), Some(2.0))),
      (6L, Seq(), Seq()),
      (7L, Seq(Some(1.0), Some(2.0), Some(3.0)), Seq(Some(3.0), Some(2.0), Some(1.0))),
      (8L, Seq(Some(0.5)), Seq(Some(-0.5), None)))
    val df = rows.toDF("id", "a", "b")
    assertSameBothPaths(df, VectorFunctions.cosine($"a", $"b"), cosineHof($"a", $"b"),
      "double")
    val fdf = df.select($"id", $"a".cast("array<float>").as("a"),
      $"b".cast("array<float>").as("b"))
    assertSameBothPaths(fdf, VectorFunctions.cosine($"a", $"b"), cosineHof($"a", $"b"),
      "float")
    // the oracle really is NULL on the null-slot and ragged rows
    val nulls = df.select($"id", cosineHof($"a", $"b").as("v")).filter($"v".isNull)
      .select($"id").as[Long].collect().toSet
    assert(nulls == Set(0L, 1L, 2L, 3L, 8L))
  }

  test("JaccardHashesExpr == array_intersect/array_union jaccardPermille on " +
    "null slots and duplicates (a null is one set element, never the value 0)") {
    val rows: Seq[(Long, Seq[Option[Long]], Seq[Option[Long]])] = Seq(
      (0L, Seq(Some(1L), Some(2L), None), Seq(Some(1L), None)),
      (1L, Seq(Some(1L), None), Seq(Some(1L))),
      (2L, Seq(None), Seq(Some(0L))),
      (3L, Seq(None, None), Seq(None)),
      (4L, Seq(Some(0L), None), Seq(Some(0L))),
      (5L, Seq(Some(3L), Some(3L), Some(4L)), Seq(Some(3L))),
      (6L, Seq(), Seq()),
      (7L, Seq(), Seq(None)))
    val df = rows.toDF("id", "a", "b")
    assertSameBothPaths(df, TextFunctions.jaccardHashesPermille($"a", $"b"),
      TextFunctions.jaccardPermille($"a", $"b"), "jaccard")
  }

  test("SignBucketExpr == HOF signBucket across the query seeds/shapes") {
    val df = (0 until 300).map(i => (i.toLong, vec(i, 64, float = false)))
      .toDF("id", "v")
    for ((bits, seed) <- Seq((8, 11L), (8, 11L + 104729L), (4, 7L), (4, 7L + 7 * 7919L))) {
      val got = df.select($"id", VectorFunctions.signBucket($"v", 64, bits, seed).as("b"))
      val want = df.select($"id", signBucketHof($"v", 64, bits, seed).as("b"))
      assert(got.except(want).isEmpty && want.except(got).isEmpty, s"bits=$bits seed=$seed")
    }
  }

  test("ShingleHashesExpr == tokenHash over ShinglesExpr strings AS A SET " +
    "(incl. short-text edge and multi-byte codepoints; the fused walk emits " +
    "sorted-distinct order, which no consumer observes)") {
    val texts = Seq("", "short", "a" * 19, "a" * 20, "the quick brown fox jumps",
      "héllo wörld ünïcode text with enough length for shingles",
      ("lorem ipsum dolor sit amet " * 20).trim)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val viaStrings = df.select($"id",
      sort_array(transform(TextFunctions.shingles($"t", 20),
        s => GraftBridgeTestHook.tokenHashCol(s))).as("h"))
    val direct = df.select($"id",
      sort_array(TextFunctions.shingleHashes($"t", 20)).as("h"))
    assert(direct.except(viaStrings).isEmpty && viaStrings.except(direct).isEmpty)
  }

  test("MinHashFromHashesExpr(shingleHashes) == MinHashExpr(shingles): " +
    "signatures and band keys bit-identical") {
    val texts = (0 until 50).map(i =>
      (i.toLong, s"document $i " + ("token" + i + " ") * 30))
    val df = texts.toDF("id", "t")
    val viaStrings = df.select($"id",
      TextFunctions.lshBandKeys(
        TextFunctions.minhashSignature(TextFunctions.shingles($"t", 20), 32),
        16, 2).as("bands"))
    val viaHashes = df.select($"id",
      TextFunctions.lshBandKeys(
        TextFunctions.minhashFromHashes(TextFunctions.shingleHashes($"t", 20), 32),
        16, 2).as("bands"))
    assert(viaHashes.except(viaStrings).isEmpty && viaStrings.except(viaHashes).isEmpty)
  }

  test("compiled text counts == regex/replace formulations on edge cases " +
    "(tabs, newlines, unicode, empties, needle-at-edges)") {
    val texts = Seq(
      "", " ", "  ", "\t", "\tfoo", "foo\t", " foo bar ", "foo  bar\tbaz\nqux",
      "the and of is the", " the the ", "héllo wörld the ünïcode and",
      "punct.,!?;: mix.", "1234 5678", "\n\r\f", "a",
      "the quick brown fox; it is, the best of dogs! maybe?",
      ("the lorem and ipsum of dolor is sit " * 12).trim + "\t")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    import TextFunctions._
    def check(label: String, got: org.apache.spark.sql.Column,
        want: org.apache.spark.sql.Column): Unit = {
      val g = df.select($"id", got.as("v"))
      val w = df.select($"id", want.as("v"))
      assert(g.except(w).isEmpty && w.except(g).isEmpty, label)
    }
    check("alpha", alphaCount($"t"), alphaCountRegex($"t"))
    check("space", spaceCount($"t"), spaceCountRegex($"t"))
    check("punct", punctCount($"t"), punctCountRegex($"t"))
    check("tokens", tokenCount($"t"), tokenCountRegex($"t"))
    check("nonWsLen",
      (length($"t") - TextCountExprs.classCount($"t", TextCountExprs.ClassRegexWs)).cast("int"),
      length(regexp_replace($"t", "\\s+", "")))
    for (needle <- Seq(" the ", " and ", "a", "foo", " de5 ", "xyzzy-not-there"))
      check(s"occ[$needle]", occurrences($"t", needle), occurrencesReplace($"t", needle))
  }

  test("JaccardHashesExpr over hashed shingles == string-set jaccardPermille " +
    "(collision-free corpus)") {
    val texts = (0 until 40).map { i =>
      val words = (0 until 40).map(j => s"w${(i * 7 + j) % 60}")
      (i.toLong, words.mkString(" "))
    }
    val df = texts.toDF("id", "t")
    val a = df.select($"id".as("a_id"),
      TextFunctions.shingles($"t", 20).as("a_sh"),
      TextFunctions.shingleHashes($"t", 20).as("a_hh"))
    val b = df.select(($"id" + 1000).as("b_id"),
      TextFunctions.shingles(concat($"t", lit(" extra suffix words")), 20).as("b_sh"),
      TextFunctions.shingleHashes(concat($"t", lit(" extra suffix words")), 20).as("b_hh"))
    val pairs = a.crossJoin(b)
    val got = pairs.select($"a_id", $"b_id",
      TextFunctions.jaccardHashesPermille($"a_hh", $"b_hh").as("j"))
    val want = pairs.select($"a_id", $"b_id",
      TextFunctions.jaccardPermille($"a_sh", $"b_sh").as("j"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }
}

/** Test-only bridge for calling tokenHash as a column (keeps the production
  * surface free of a string-hash Column API nothing else needs).
  */
object GraftBridgeTestHook {
  import org.apache.spark.sql.Column
  def tokenHashCol(s: Column): Column = {
    val u = udf((x: String) =>
      SimHash64Expr.tokenHash(org.apache.spark.unsafe.types.UTF8String.fromString(x)))
    u(s)
  }
}
