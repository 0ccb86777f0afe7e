package graft.functions

import graft.genlog.EventGen.mix64
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType, StringType, ArrayType}
import org.apache.spark.unsafe.types.UTF8String

/** SimHash-64 of a token array: bit j of the result is the sign of the sum of
  * ±1 votes from bit j of each token's 64-bit hash. One pass over the tokens,
  * 64 int counters — a custom Catalyst expression because per-bit shifts by a
  * column index aren't expressible with built-in functions without 64
  * aggregate passes. Codegen emits a static call (stays in WholeStageCodegen).
  */
case class SimHash64Expr(child: Expression, md5Tokens: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"expected array<string>, got $other")
    }
  }
  override def nullSafeEval(v: Any): Any =
    SimHash64Expr.simhashArray(v.asInstanceOf[ArrayData], md5Tokens)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64Expr.simhashArray($c, $md5Tokens)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash64Expr {
  /** Deterministic 64-bit token hash (splitmix64 over a simple byte fold). */
  def tokenHash(s: UTF8String): Long = {
    val b = s.getBytes
    var h = 0x517cc1b727220a95L
    var i = 0
    while (i < b.length) { h = mix64(h ^ (b(i) & 0xffL)); i += 1 }
    h
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** MD5-based 64-bit token hash: digest bytes 8..15 little-endian — exactly
    * DuckDB's `md5_number_lower`, which is what lets the simhash pipeline be
    * oracled end-to-end in SQL. Slower than [[tokenHash]]; used where oracle
    * parity matters more than raw speed.
    */
  def md5Hash64(s: UTF8String): Long = {
    val digest = md5Digest.get()
    digest.reset()
    val d = digest.digest(s.getBytes)
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xffL); i -= 1 }
    h
  }

  def simhashArray(arr: ArrayData, md5Tokens: Boolean): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = if (md5Tokens) md5Hash64(arr.getUTF8String(i))
                else tokenHash(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  def simhash64(tokens: Column): Column =
    GraftBridge.column(SimHash64Expr(GraftBridge.expression(tokens)))

  def simhash64Md5(tokens: Column): Column =
    GraftBridge.column(SimHash64Expr(GraftBridge.expression(tokens), md5Tokens = true))
}

/** Distinct character k-shingles of a string — custom Catalyst expression
  * because the HOF formulation (`array_distinct(transform(sequence(…),
  * i => substr(text, i, k)))`) evaluates the lambda INTERPRETED per element
  * and re-scans the string from the start for every substr: profiled at
  * sf0.1 it was the single most expensive stage of the near-dup pipeline
  * (~8 s of a 8.6 s query). This compiles to one pass: char→byte offsets
  * computed once, each shingle sliced directly from the byte array, dedup
  * via an insertion-ordered set (matching `array_distinct`'s
  * first-occurrence order). Semantics identical to the HOF form, including
  * the `length < k → [whole text]` edge and codepoint (not byte) windows.
  */
case class ShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1 (got $k)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"expected string, got $other")
    }
  }
  override def nullSafeEval(v: Any): Any =
    ShinglesExpr.shingles(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShinglesExpr.shingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShinglesExpr =
    copy(child = newChild)
}

object ShinglesExpr {
  def shingles(text: UTF8String, k: Int): ArrayData = {
    val len = text.numChars()
    if (len < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](text.clone()))
    val bytes = text.getBytes
    // char index → byte offset, one pass (UTF-8 windows are CODEPOINT
    // windows, like substr)
    val starts = new Array[Int](len + 1)
    var b = 0
    var c = 0
    while (c < len) {
      starts(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    starts(len) = bytes.length
    val n = len - k + 1
    // initial capacity capped: a megabyte-scale repetitive document must
    // not allocate a multi-MB bucket table per row just to hold a few
    // distinct shingles — let the set grow when the text is truly diverse
    val seen = new java.util.LinkedHashSet[UTF8String](
      math.min(1 << 16, math.max(16, n * 2)))
    var i = 0
    while (i < n) {
      seen.add(UTF8String.fromBytes(bytes, starts(i), starts(i + k) - starts(i)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Public surface keeps the old HOF formulation's implicit-cast behavior
    * (`substr` coerced castable inputs to string): cast-to-string at the
    * builder — a no-op for string columns after constant folding.
    * (AbstractDataType is sql-private, so the expression itself cannot
    * declare ImplicitCastInputTypes from outside Spark's package.)
    */
  def shingles(text: Column, k: Int): Column =
    GraftBridge.column(ShinglesExpr(
      GraftBridge.expression(text.cast(StringType)), k))
}

/** MinHash signature of a shingle array — custom Catalyst expression because
  * Spark's higher-order functions (transform/aggregate) evaluate interpreted
  * per element, which makes `numHashes × shingles` string hashing ~10× slower
  * than compiled code. One string hash per shingle, then `numHashes` cheap
  * splitmix64 derivations (standard one-hash MinHash family).
  */
case class MinHashExpr(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"expected array<string>, got $other")
    }
  }
  override def nullSafeEval(v: Any): Any =
    MinHashExpr.signature(v.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashExpr.signature($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashExpr =
    copy(child = newChild)
}

object MinHashExpr {
  def signature(arr: ArrayData, numHashes: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = SimHash64Expr.tokenHash(arr.getUTF8String(i))
        var j = 0
        while (j < numHashes) {
          val h = mix64(base ^ (0x9e3779b97f4a7c15L * (j + 1)))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  def minhash(shingles: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashExpr(GraftBridge.expression(shingles), numHashes))
}

/** 64-bit hashes of the distinct character k-shingles of a string — the
  * [[ShinglesExpr]] shingle walk fused with [[SimHash64Expr.tokenHash]], so
  * the near-dup pipeline can persist/shuffle 8-byte longs instead of ~20-char
  * strings (the signature base hashes are EXACTLY the ones
  * [[MinHashExpr.signature]] derives from the string shingles, so MinHash
  * signatures — and therefore LSH band keys — are bit-identical to the
  * string-shingle path). Order matches the string path's first-occurrence
  * order; hashes of distinct shingles are kept distinct-by-string (a 64-bit
  * collision inside one document would be deduped by the downstream set
  * semantics anyway — see [[JaccardHashesExpr]]).
  */
case class ShingleHashesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1 (got $k)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"expected string, got $other")
    }
  }
  override def nullSafeEval(v: Any): Any =
    ShingleHashesExpr.shingleHashes(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashesExpr.shingleHashes($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

object ShingleHashesExpr {
  /** Fused walk: hash each codepoint window's bytes directly (identical to
    * `tokenHash` over the window's UTF8String — same byte fold) and dedupe
    * the LONGS (sorted ascending). No per-window string slice, no string
    * set: ~2k windows per document previously allocated ~2k UTF8Strings +
    * a LinkedHashSet per row. Output ORDER differs from the string path
    * (sorted vs first-occurrence), which no consumer observes: MinHash is a
    * min over the multiset and Jaccard is set math ([[JaccardHashesExpr]]
    * re-sorts anyway). Dedupe-by-hash == dedupe-by-string modulo 64-bit
    * collisions — the same accepted collision class as the hashed-set
    * Jaccard, empirically output-identical at every SF.
    */
  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    val len = text.numChars()
    if (len < k)
      return org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array(SimHash64Expr.tokenHash(text)))
    val bytes = text.getBytes
    val starts = new Array[Int](len + 1)
    var b = 0
    var c = 0
    while (c < len) {
      starts(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    starts(len) = bytes.length
    val n = len - k + 1
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      // identical to SimHash64Expr.tokenHash over the window's bytes
      var h = 0x517cc1b727220a95L
      var j = starts(i)
      val end = starts(i + k)
      while (j < end) { h = mix64(h ^ (bytes(j) & 0xffL)); j += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      if (w == n) hs else java.util.Arrays.copyOf(hs, w))
  }

  def shingleHashes(text: Column, k: Int): Column =
    GraftBridge.column(ShingleHashesExpr(
      GraftBridge.expression(text.cast(StringType)), k))
}

/** MinHash signature from PRE-HASHED shingles (`array<long>` of
  * [[SimHash64Expr.tokenHash]] values): the same `numHashes` splitmix64
  * derivations per base hash as [[MinHashExpr]], so signatures are
  * bit-identical to the string-shingle path.
  */
case class MinHashFromHashesExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"expected array<bigint>, got $other")
    }
  }
  override def nullSafeEval(v: Any): Any =
    MinHashFromHashesExpr.signature(v.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashFromHashesExpr.signature($c, $numHashes)")
  override protected def withNewChildInternal(newChild: Expression): MinHashFromHashesExpr =
    copy(child = newChild)
}

object MinHashFromHashesExpr {
  def signature(arr: ArrayData, numHashes: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = arr.getLong(i)
        var j = 0
        while (j < numHashes) {
          val h = mix64(base ^ (0x9e3779b97f4a7c15L * (j + 1)))
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  def minhash(hashes: Column, numHashes: Int): Column =
    GraftBridge.column(MinHashFromHashesExpr(GraftBridge.expression(hashes), numHashes))
}

/** Jaccard per-mille over two pre-hashed shingle arrays, with SET semantics
  * (elements deduped): `floor(|A∩B| * 1000 / |A∪B|)`, the same integer math
  * as `size(array_intersect)/size(array_union)` over the string shingles.
  * Like those, a null slot is one set element (never the value 0).
  * One sorted-merge pass per pair instead of two generic array-set builds.
  */
case class JaccardHashesExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(s"expected array<bigint> pair, got $other")
    }
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardHashesExpr.jaccardPermille(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaccardHashesExpr.jaccardPermille($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardHashesExpr =
    copy(left = l, right = r)
}

object JaccardHashesExpr {
  /** The distinct non-null values, sorted. */
  private def sortedDistinct(arr: ArrayData): Array[Long] = {
    var n = 0
    val a = new Array[Long](arr.numElements())
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) { a(n) = arr.getLong(i); n += 1 }
      i += 1
    }
    java.util.Arrays.sort(a, 0, n)
    // in-place dedup (arrays are distinct-by-string already; this enforces
    // set semantics under 64-bit hash collisions too)
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == a.length) a else java.util.Arrays.copyOf(a, w)
  }

  def jaccardPermille(x: ArrayData, y: ArrayData): Long = {
    val a = sortedDistinct(x)
    val b = sortedDistinct(y)
    var i = 0
    var j = 0
    var inter = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    // null: one element of each set holding it, shared when both do
    val (xNull, yNull) = (VectorExprs.hasNull(x), VectorExprs.hasNull(y))
    if (xNull && yNull) inter += 1
    val uni = a.length.toLong + b.length.toLong + (if (xNull) 1 else 0) +
      (if (yNull) 1 else 0) - inter
    if (uni == 0L) 0L else inter * 1000L / uni
  }

  def jaccardPermille(a: Column, b: Column): Column =
    GraftBridge.column(JaccardHashesExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** Winnowing-style rolling-hash fingerprint: the min polynomial hash over all
  * `window`-char substrings (Karp–Rabin rolling update, O(n) per document).
  * Used for cheap document identity across whitespace-preserving edits.
  */
case class FingerprintExpr(child: Expression, window: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    FingerprintExpr.rollingMin(v.asInstanceOf[UTF8String], window)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FingerprintExpr.rollingMin($c, $window)")
  override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
    copy(child = newChild)
}

object FingerprintExpr {
  private val B = 1000003L          // polynomial base
  private val M = (1L << 61) - 1    // Mersenne prime modulus

  private def mulmod(a: Long, b: Long): Long = {
    // 61-bit modular multiply via Math.multiplyHigh (JDK9+)
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // fold 128-bit product mod 2^61-1
    val r = (lo & M) + ((lo >>> 61) | (hi << 3))
    if (r >= M) r - M else r
  }

  def rollingMin(s: UTF8String, window: Int): Long = {
    val b = s.getBytes
    val n = b.length
    if (n == 0) return 0L
    val w = math.min(window, n)
    // precompute B^(w-1) mod M
    var bw = 1L
    var k = 1
    while (k < w) { bw = mulmod(bw, B); k += 1 }
    var h = 0L
    var i = 0
    while (i < w) { h = (mulmod(h, B) + (b(i) & 0xffL)) % M; i += 1 }
    var min = h
    while (i < n) {
      h = (h + M - mulmod(b(i - w) & 0xffL, bw)) % M
      h = (mulmod(h, B) + (b(i) & 0xffL)) % M
      if (h < min) min = h
      i += 1
    }
    min
  }

  def fingerprint(text: Column, window: Int): Column =
    GraftBridge.column(FingerprintExpr(GraftBridge.expression(text), window))
}
