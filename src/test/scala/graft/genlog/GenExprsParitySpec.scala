package graft.genlog

import graft.SparkSupport
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The expression-based changelog generator must be ROW-IDENTICAL to the
  * encoder/closure formulation: the driver's oracles re-derive contents,
  * cursors and hashes from the closed forms, so a single differing byte in
  * any generated column is a correctness regression.
  */
class GenExprsParitySpec extends AnyFunSuite with SparkSupport {

  private def assertSame(a: DataFrame, b: DataFrame, label: String): Unit = {
    // types modulo nullability flags: the expression formulation marks
    // always-present nested fields non-nullable (a struct-level cast to the
    // encoder's all-nullable shape measured ~10× slower per row and carries
    // no value semantics)
    import org.apache.spark.sql.types._
    def norm(dt: DataType): DataType = dt match {
      case s: StructType =>
        StructType(s.fields.map(f => StructField(f.name, norm(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(norm(a.elementType), containsNull = true)
      case m: MapType => MapType(norm(m.keyType), norm(m.valueType), valueContainsNull = true)
      case other => other
    }
    assert(a.schema.fields.map(f => (f.name, norm(f.dataType))).toSeq ==
      b.schema.fields.map(f => (f.name, norm(f.dataType))).toSeq, s"$label schema")
    assert(a.count() == b.count(), s"$label count")
    assert(a.except(b).isEmpty && b.except(a).isEmpty, s"$label rows")
  }

  /** Encoder formulation of the catch-up changelog: the semantics oracle
    * for the expression generator (the closed forms, in one place).
    */
  private def changelogViaEncoder(c: GenConfig): DataFrame = {
    import spark.implicits._
    spark.range(c.numEvents)
      .map { id => EventGen.catchupEvent((id % c.numShards).toInt, id / c.numShards, c) }
      .toDF()
  }

  /** Encoder formulation of the COPY phase (oracle for [[GenExprs.copyPhase]]). */
  private def copyPhaseViaEncoder(c: GenConfig): DataFrame = {
    import spark.implicits._
    require(c.copyRows > 0)
    val cp = EventGen.copyPerShard(c)
    spark.range(cp * c.numShards)
      .mapPartitions { it =>
        val paths = EventGen.sortedPaths(c)
        it.map(id => EventGen.copyEvent((id % c.numShards).toInt, id / c.numShards, c, paths))
      }
      .toDF()
  }

  private val configs = Seq(
    "base" -> GenConfig(numEvents = 4000L, numShards = 2, numRepos = 20, pathsPerRepo = 10),
    "copy+skew" -> GenConfig(numEvents = 3000L, numShards = 4, numRepos = 30,
      pathsPerRepo = 7, copyRows = 900L, zipfSkew = 1.3, contentBlocks = 3),
    "schema-bump" -> GenConfig(numEvents = 2500L, numShards = 2, numRepos = 20,
      pathsPerRepo = 10, schemaChangeAt = Some(1200L)),
    "odd-shards" -> GenConfig(numEvents = 1700L, numShards = 3, numRepos = 5,
      pathsPerRepo = 4, copyRows = 120L, deleteRatio = 0.2, seed = 99L),
    "more-repos-than-events" -> GenConfig(numEvents = 300L, numShards = 16,
      numRepos = 2000, pathsPerRepo = 100, copyRows = 64L))

  test("expression changelog == encoder changelog, row-for-row, across configs") {
    configs.foreach { case (label, c) =>
      assertSame(ChangelogGen.changelog(spark, c),
        changelogViaEncoder(c), s"catchup/$label")
    }
  }

  test("expression copyPhase == encoder copyPhase, row-for-row, across configs") {
    configs.filter(_._2.copyRows > 0).foreach { case (label, c) =>
      assertSame(ChangelogGen.copyPhase(spark, c),
        copyPhaseViaEncoder(c), s"copy/$label")
    }
  }

  test("expression generator matches the DSv2 source's EventGen rows (the two " +
    "serving paths must stay one changelog)") {
    import spark.implicits._
    val c = GenConfig(numEvents = 1000L, numShards = 2, numRepos = 10,
      pathsPerRepo = 5, copyRows = 200L)
    val viaEventGen = spark.range(EventGen.copyPerShard(c) * c.numShards)
      .mapPartitions { it =>
        val paths = EventGen.sortedPaths(c)
        it.map(id => EventGen.eventAt((id % c.numShards).toInt, id / c.numShards, c, paths))
      }.toDF()
    assertSame(ChangelogGen.copyPhase(spark, c), viaEventGen, "eventAt copy")
  }
}
