package graft

import graft.core.ConfiguredStream
import graft.streaming.CdcStream
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The `spec` and `read` verbs' option surface (no Spark session). */
class MainSpec extends AnyFunSuite {

  test("spec lists every option read accepts") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Main.main(Array("spec")))
    val props = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.toString("UTF-8"))
      .get("connectionSpecification").get("properties")
    val names = props.fieldNames().asScala.toSet
    assert(names == Set(
      "table", "checkpoint", "catalog", "state", "starting_gtids",
      // genlog source
      "events", "shards", "repos", "paths", "copyRows", "seed", "keyspace",
      "schema_change_at",
      "maxPerTrigger", "parity", "buckets", "include_metadata", "wire",
      "sync_shards", "use_gtid_with_table_pks", "use_replica", "use_rdonly",
      "replica_lag", "stream_concurrency", "wire_columns", "wire_table",
      "timeout_seconds", "max_retries", "schema_registry", "expire_every",
      "keep_snapshots"))
  }

  test("catalog read config carries the replica options") {
    val o = Map("use_replica" -> "true", "use_rdonly" -> "true", "replica_lag" -> "7",
      "buckets" -> "8")
    val rc = Main.catalogRunConfig(Main.readRunConfig(o, "/t", "/cp"),
      ConfiguredStream("s", "ks", "incremental"))
    assert(rc.useReplica && rc.useRdonly && rc.replicaLagEvents == 7L && rc.numBuckets == 8)
    assert(rc.tableRoot == "/t/ks__s" && rc.checkpoint == "/cp/ks__s")
    val src = CdcStream.sourceOptions(rc)
    assert(src.get("useReplica").contains("true") && src.get("useRdonly").contains("true") &&
      src.get("replicaLagEvents").contains("7"))
  }
}
