package graft.genlog

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** The changelog generator as NATIVE Catalyst expressions — value-identical
  * to the [[EventGen]] closed forms (spec-asserted row-for-row), but:
  *
  *  - no `Dataset.map` encoder boundary: rows materialize inside
  *    whole-stage codegen instead of closure → case class → encoder;
  *  - COLUMN PRUNING works: a pass that only needs the merge key and
  *    ordering columns never computes the sha256-based `content`/`commit`
  *    strings at all — with the opaque closure, every pass paid for every
  *    column.
  *
  * Only `mix64` needs a custom expression (its multiplies wrap 64-bit, which
  * ANSI-mode built-in arithmetic would reject); everything else is built-in:
  * `sha2` IS [[EventGen.sha256Hex]], `conv` is the hex parse, `pow`/casts
  * match the scala math bit-for-bit.
  */
object GenExprs {

  /** splitmix64 finalizer as an expression (wrapping 64-bit arithmetic). */
  case class Mix64Expr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes() = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case LongType => TypeCheckResult.TypeCheckSuccess
        case other => TypeCheckResult.TypeCheckFailure(s"expected bigint, got $other")
      }
    }
    override def nullSafeEval(v: Any): Any = EventGen.mix64(v.asInstanceOf[Long])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.genlog.EventGen.mix64($c)")
    override protected def withNewChildInternal(newChild: Expression): Mix64Expr =
      copy(child = newChild)
  }

  private def mix64(c: Column): Column =
    GraftBridge.column(Mix64Expr(GraftBridge.expression(c)))

  /** Exact long division for non-negative a < 2^53: (a - a%b) is exactly
    * divisible, and IEEE division of exactly-divisible longs in that range
    * is exact (Column./ is double division, so a bare `a / b` would yield
    * DoubleType and rounding).
    */
  private def longDiv(a: Column, b: Long): Column =
    ((a - pmod(a, lit(b))) / lit(b)).cast("long")

  // DDL-parsed struct types have nullable children — match the encoder
  // formulation's schema exactly (Dataset[ChangeEvent].toDF marks every
  // nested field nullable)
  private val rowTypeNullable = DataType.fromDDL(
    "struct<repo:string,path:string,commit:string,lang:string,content:string>")
  private val pkTypeNullable = DataType.fromDDL("struct<repo:string,path:string>")

  /** h64(id, seed, salt) with the (seed, salt) part folded driver-side. */
  private def h64(id: Column, seed: Long, salt: Long): Column =
    mix64(id.bitwiseXOR(lit(EventGen.mix64(seed ^ EventGen.mix64(salt)))))

  /** uniform [0,1) — same >>> 11 / 2^53 mapping as [[EventGen.h01]]. */
  private def h01(id: Column, seed: Long, salt: Long): Column =
    shiftrightunsigned(h64(id, seed, salt), 11).cast("double") /
      lit((1L << 53).toDouble)

  private def repoName(repoIdx: Column): Column =
    concat(lit("repo-"),
      when(repoIdx >= 1000, repoIdx.cast("string"))
        .otherwise(lpad(repoIdx.cast("string"), 4, "0")))

  /** `EventGen.content` as ONE compiled expression. A built-in formulation
    * (`sha2` + `conv` + `repeat`) is value-identical but ~10× slower: Spark's
    * `Sha2` constructs a fresh MessageDigest per call, and subexpression
    * elimination does not factor the digest out of the conditional `after`
    * struct, so the hash ran several times per event. This calls the same
    * ThreadLocal-digest closed form the encoder path used.
    */
  case class ContentExpr(repo: Expression, path: Expression, ver: Expression,
      seed: Long, contentBlocks: Int)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
      with org.apache.spark.sql.catalyst.trees.TernaryLike[Expression] {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def first: Expression = repo
    override def second: Expression = path
    override def third: Expression = ver
    override def nullSafeEval(r: Any, p: Any, v: Any): Any =
      GenExprs.contentStr(r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        p.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        v.asInstanceOf[Long], seed, contentBlocks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (r, p, v) =>
        s"graft.genlog.GenExprs.contentStr($r, $p, $v, ${seed}L, $contentBlocks)")
    override protected def withNewChildrenInternal(r: Expression, p: Expression,
        v: Expression): ContentExpr = copy(repo = r, path = p, ver = v)
  }

  /** `EventGen.commitId` as one compiled expression (same rationale). */
  case class CommitExpr(repo: Expression, path: Expression, ver: Expression, seed: Long)
      extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
      with org.apache.spark.sql.catalyst.trees.TernaryLike[Expression] {
    override def dataType: DataType = org.apache.spark.sql.types.StringType
    override def first: Expression = repo
    override def second: Expression = path
    override def third: Expression = ver
    override def nullSafeEval(r: Any, p: Any, v: Any): Any =
      GenExprs.commitStr(r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        p.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        v.asInstanceOf[Long], seed)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (r, p, v) =>
        s"graft.genlog.GenExprs.commitStr($r, $p, $v, ${seed}L)")
    override protected def withNewChildrenInternal(r: Expression, p: Expression,
        v: Expression): CommitExpr = copy(repo = r, path = p, ver = v)
  }

  def contentStr(repo: org.apache.spark.unsafe.types.UTF8String,
      path: org.apache.spark.unsafe.types.UTF8String,
      ver: Long, seed: Long, contentBlocks: Int): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      EventGen.content(repo.toString, path.toString, ver, seed, contentBlocks))

  def commitStr(repo: org.apache.spark.unsafe.types.UTF8String,
      path: org.apache.spark.unsafe.types.UTF8String,
      ver: Long, seed: Long): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      EventGen.commitId(repo.toString, path.toString, ver, seed))

  private def contentCol(repo: Column, path: Column, ver: Column, c: GenConfig): Column =
    GraftBridge.column(ContentExpr(GraftBridge.expression(repo),
      GraftBridge.expression(path), GraftBridge.expression(ver), c.seed, c.contentBlocks))

  private def commitCol(repo: Column, path: Column, ver: Column, seed: Long): Column =
    GraftBridge.column(CommitExpr(GraftBridge.expression(repo),
      GraftBridge.expression(path), GraftBridge.expression(ver), seed))

  // NOTE: no `.cast` to a nullable struct here — a struct-level Cast forces
  // the whole struct (content included) through an extra conversion per row
  // and measured ~10× slower than the bare CreateNamedStruct; nested-field
  // nullability flags differ from the encoder formulation (false vs true)
  // but carry no value semantics for any consumer (spec-asserted value
  // equality modulo nullability).
  private def repoFile(repo: Column, path: Column, commit: Column, lang: Column,
      content: Column): Column =
    struct(repo.as("repo"), path.as("path"), commit.as("commit"),
      lang.as("lang"), content.as("content"))

  private val nullPk = lit(null).cast(pkTypeNullable)

  private def langsExt: (Seq[String], Seq[String]) = {
    val langs = Seq("scala" -> "scala", "go" -> "go", "python" -> "py",
      "rust" -> "rs", "javascript" -> "js")
    (langs.map(_._1), langs.map(_._2))
  }

  /** `value` masked to NULL when `cond` is false — value-equivalent to
    * `when(cond, value)` but the value expression is evaluated
    * UNCONDITIONALLY and only the null bit depends on `cond`. For
    * struct-typed values this sidesteps the conditional-struct codegen path
    * (CaseWhen/If route struct results through boxed globals + split branch
    * methods; measured ~6× slower than a straight-line struct build). Only
    * correct when evaluating `value` on masked-out rows is safe (pure
    * generator expressions here), and a good trade only when masked rows
    * are a small fraction (deletes ≈ 5%).
    */
  case class NullMaskExpr(cond: Expression, value: Expression)
      extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
    override def left: Expression = cond
    override def right: Expression = value
    override def dataType: DataType = value.dataType
    override def nullable: Boolean = true
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
      val c = cond.eval(input)
      if (c == null || !c.asInstanceOf[Boolean]) null else value.eval(input)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      import org.apache.spark.sql.catalyst.expressions.codegen.Block._
      import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      val c = cond.genCode(ctx)
      val v = value.genCode(ctx)
      ev.copy(code =
        code"""
          ${c.code}
          ${v.code}
          boolean ${ev.isNull} = ${c.isNull} || !${c.value} || ${v.isNull};
          ${CodeGenerator.javaType(dataType)} ${ev.value} = ${v.value};
        """)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): NullMaskExpr =
      copy(cond = l, value = r)
  }

  private def maskedStruct(cond: Column, value: Column): Column =
    GraftBridge.column(NullMaskExpr(GraftBridge.expression(cond),
      GraftBridge.expression(value)))

  /** Catch-up changelog — the expression twin of
    * `spark.range(numEvents).map(EventGen.catchupEvent)`.
    */
  def changelog(spark: SparkSession, c: GenConfig): DataFrame = {
    val (langNames, langExts) = langsExt
    val shards = ChangelogGen.shardNames(c.numShards)
    val uuids = (0 until c.numShards).map(i => ChangelogGen.shardUuid(c.seed, i))
    val rps = EventGen.reposPerShard(c)

    val id = col("id")
    val shardIdx = (id % c.numShards).cast("int")
    val k = longDiv(id, c.numShards) // matches k = id / numShards
    val seq = k + 1
    val local = least(lit(rps - 1),
      (lit(rps) * pow(h01(id, c.seed, 1), lit(c.zipfSkew))).cast("int"))
    val repoIdx = shardIdx + lit(c.numShards) * local
    val repo = repoName(repoIdx)
    val pIdx = least((lit(c.pathsPerRepo) * h01(id, c.seed, 2)).cast("int"),
      lit(c.pathsPerRepo - 1))
    val path = concat(lit("src/dir"), (pIdx % 7).cast("string"), lit("/file"),
      pIdx.cast("string"), lit("."), element_at(typedlit(langExts), pIdx % 5 + 1))
    val lang = element_at(typedlit(langNames), pIdx % 5 + 1)
    val isDelete = h01(id, c.seed, 3) < c.deleteRatio
    val isInsert = !isDelete && (h01(id, c.seed, 4) < 0.3)
    val op = when(isDelete, graft.core.ChangeEvent.OpDelete)
      .when(isInsert, graft.core.ChangeEvent.OpInsert)
      .otherwise(graft.core.ChangeEvent.OpUpdate)
    // maskedStruct, NOT when(cond, struct): value-identical, but the struct
    // is built unconditionally (straight-line codegen) and only the null bit
    // is conditional — conditional-struct codegen measured ~6× slower, and
    // deletes (the masked rows whose content is computed then discarded)
    // are only ~deleteRatio of the stream
    val after = maskedStruct(!isDelete, repoFile(repo, path,
      commitCol(repo, path, id, c.seed), lang, contentCol(repo, path, id, c)))
    val before = maskedStruct(!isInsert,
      repoFile(repo, path, lit(""), lit(""), lit("")))
    val rankBase = EventGen.copyRankBase(c)
    val vgtid = concat(lit("MySQL56/"), element_at(typedlit(uuids), shardIdx + 1),
      lit(":1-"), (seq + rankBase).cast("string"))
    val schemaVer = c.schemaChangeAt match {
      case Some(at) => when(id >= at, lit(2)).otherwise(lit(1))
      case None     => lit(1)
    }
    spark.range(c.numEvents).select(
      lit(c.keyspace).as("keyspace"),
      element_at(typedlit(shards), shardIdx + 1).as("shard"),
      vgtid.as("vgtid"),
      seq.as("event_seq"),
      op.as("op"),
      before.as("before"),
      after.as("after"),
      lit(false).as("is_copy_phase"),
      nullPk.as("last_pk"),
      schemaVer.as("schema_version"))
  }

  /** COPY phase — the expression twin of
    * `spark.range(cp * numShards).map(EventGen.copyEvent)`.
    */
  def copyPhase(spark: SparkSession, c: GenConfig): DataFrame = {
    require(c.copyRows > 0)
    val shards = ChangelogGen.shardNames(c.numShards)
    val uuids = (0 until c.numShards).map(i => ChangelogGen.shardUuid(c.seed, i))
    val paths = EventGen.sortedPaths(c)
    val pathArr = paths.map(_._1)
    val langArr = paths.map(_._2)
    val p = paths.length
    val cp = EventGen.copyPerShard(c)

    val id = col("id")
    val shardIdx = (id % c.numShards).cast("int")
    val k = longDiv(id, c.numShards)
    val localRepo = longDiv(k, p).cast("int")
    val repoIdx = shardIdx + lit(c.numShards) * localRepo
    val repo = repoName(repoIdx)
    val pathIdx = (k % p).cast("int")
    val path = element_at(typedlit(pathArr), pathIdx + 1)
    val lang = element_at(typedlit(langArr), pathIdx + 1)
    val verM1 = lit(-1L)
    val after = repoFile(repo, path, commitCol(repo, path, verM1, c.seed), lang,
      contentCol(repo, path, verM1, c))
    spark.range(cp * c.numShards).select(
      lit(c.keyspace).as("keyspace"),
      element_at(typedlit(shards), shardIdx + 1).as("shard"),
      concat(lit("MySQL56/"), element_at(typedlit(uuids), shardIdx + 1),
        lit(":1-1")).as("vgtid"),
      (k + 1).as("event_seq"),
      lit(graft.core.ChangeEvent.OpInsert).as("op"),
      lit(null).cast(rowTypeNullable).as("before"),
      after.as("after"),
      lit(true).as("is_copy_phase"),
      struct(repo.as("repo"), path.as("path")).as("last_pk"),
      lit(1).as("schema_version"))
  }
}
