package graft.laketable

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Avro-driven schema evolution (north-star requirement): table schemas are
  * declared as Avro record JSON; a version bump is diffed into Iceberg-style
  * column ADDs and RENAMEs applied to the lake table (metadata-only commits).
  *
  * Rename-vs-add disambiguation (SURVEY.md §7.4 "hard part") uses Avro's own
  * mechanism: a renamed field carries its previous name in `aliases`; a new
  * field without a matching alias is an ADD.
  */
final case class AvroField(name: String, avroType: String, aliases: Set[String])

object AvroSchema {
  private val mapper = new ObjectMapper()

  /** Parse the fields of an Avro record schema JSON. Union types like
    * ["null","string"] take their non-null branch (nullable column).
    */
  def parse(json: String): Seq[AvroField] = {
    val root = mapper.readTree(json)
    require(root.get("type").asText() == "record", "expected an Avro record schema")
    root.get("fields").elements().asScala.map { f =>
      val t = f.get("type")
      val typeStr =
        if (t.isTextual) t.asText()
        else if (t.isArray)
          t.elements().asScala.map(_.asText()).filterNot(_ == "null").toSeq.headOption
            .getOrElse("string")
        else "string"
      val aliases = Option(f.get("aliases")).map(_.elements().asScala.map(_.asText()).toSet)
        .getOrElse(Set.empty[String])
      AvroField(f.get("name").asText(), typeStr, aliases)
    }.toSeq
  }

  def avroTypeToDdl(t: String): String = t match {
    case "string"  => "STRING"
    case "int"     => "INT"
    case "long"    => "BIGINT"
    case "float"   => "FLOAT"
    case "double"  => "DOUBLE"
    case "boolean" => "BOOLEAN"
    case "bytes"   => "BINARY"
    case other     => throw new IllegalArgumentException(s"unsupported Avro type: $other")
  }

  /** Diff two Avro schema versions → (renames old→new, adds (name, ddlType)).
    * A new-named field whose `aliases` contain an existing old name is a
    * RENAME (field id preserved downstream); otherwise an ADD.
    */
  def diff(oldFields: Seq[AvroField], newFields: Seq[AvroField])
      : (Map[String, String], Seq[(String, String)]) = {
    val oldNames = oldFields.map(_.name).toSet
    val kept = newFields.filter(f => oldNames.contains(f.name)).map(_.name).toSet
    val incoming = newFields.filterNot(f => oldNames.contains(f.name))
    val renames = incoming.flatMap { f =>
      f.aliases.intersect(oldNames -- kept).headOption.map(_ -> f.name)
    }.toMap
    val adds = incoming.filterNot(f => renames.values.toSet.contains(f.name))
      .map(f => f.name -> avroTypeToDdl(f.avroType))
    (renames, adds)
  }

  /** Apply an Avro version bump to a lake table. */
  def evolve(table: LakeTable, oldJson: String, newJson: String): Snapshot = {
    val (renames, adds) = diff(parse(oldJson), parse(newJson))
    table.evolveSchema(renames, adds)
  }

  /** IDEMPOTENT evolution for the streaming trigger: renames whose source
    * column is already gone (and target present) and adds already present
    * are dropped from the diff; a fully-applied bump is a no-op with no
    * commit. This is what makes a replayed crash window safe — a sync that
    * died between applying the evolution and recording the watermark can
    * re-run the step without tripping `evolveSchema`'s rename-source-missing
    * validation or duplicating columns.
    *
    * `strict` (the trigger sets it on a bump's FINAL step): a rename whose
    * source AND target are BOTH absent fails loud — on the final step
    * nothing later could have renamed the target away, so both-absent can
    * only mean the registry describes a different table (a typo'd alias
    * would otherwise no-op silently and the watermark would advance past
    * the mistake forever). Intermediate steps tolerate both-absent: a
    * chained rename (a→b in step 1, b→c in step 2) legitimately leaves
    * step 1's replay with neither name present.
    *
    * `cur` is the table's current snapshot as the caller read it; the
    * result is `cur` itself when nothing is pending, else the evolved one.
    */
  def evolveIfNeeded(table: LakeTable, cur: Snapshot, oldJson: String, newJson: String,
      strict: Boolean = false): Snapshot = {
    val (renames, adds) = diff(parse(oldJson), parse(newJson))
    val names = cur.currentSchema.map(_.name).toSet
    if (strict) renames.foreach { case (from, to) =>
      if (!names.contains(from) && !names.contains(to))
        throw new graft.core.GraftValidationException(
          s"schema registry mismatch: rename $from -> $to matches no column of " +
            s"the table (has: ${cur.currentSchema.map(_.name).mkString(", ")}) — " +
            "does the registry describe this table?")
      // both present is just as wrong on the final step: applying the
      // rename is impossible (duplicate column) and skipping it would
      // silently leave the data under the old field id/name while the
      // watermark claims the new version
      if (names.contains(from) && names.contains(to))
        throw new graft.core.GraftValidationException(
          s"schema registry conflict: rename $from -> $to but the table has " +
            s"BOTH columns — resolve the duplicate before the stream can evolve")
    }
    val pendingRenames = renames.filter { case (from, to) =>
      names.contains(from) && !names.contains(to)
    }
    val pendingAdds = adds.filterNot { case (n, _) => names.contains(n) }
    if (pendingRenames.isEmpty && pendingAdds.isEmpty) cur
    else table.evolveSchema(pendingRenames, pendingAdds)
  }

  /** Canonical Avro pair for the `repo_content` landing schema — v1 is the
    * created table's exact shape; v2 is the reference evolution exercise
    * (alias-disambiguated rename `lang`→`language` + nullable `size_bytes`
    * add). Shared by the driver query and the streaming spec so the two
    * can never silently diverge.
    */
  val repoContentV1: String =
    """{"type":"record","name":"repo_content","fields":[
      {"name":"repo","type":"string"},{"name":"path","type":"string"},
      {"name":"commit","type":"string"},{"name":"lang","type":"string"},
      {"name":"content","type":"string"}]}"""
  val repoContentV2: String =
    """{"type":"record","name":"repo_content","fields":[
      {"name":"repo","type":"string"},{"name":"path","type":"string"},
      {"name":"commit","type":"string"},
      {"name":"language","type":"string","aliases":["lang"]},
      {"name":"content","type":"string"},
      {"name":"size_bytes","type":["null","long"]}]}"""
}
