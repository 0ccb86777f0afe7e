package graft

import graft.core.{ChangeEvent, SyncState}
import graft.genlog.{ChangelogGen, GenConfig}
import graft.laketable.LakeTable
import graft.streaming.CdcStream
import org.apache.spark.sql.SparkSession

/** `spark-submit` entry point with the reference's four verbs
  * (`cmd/airbyte-source/root.go:11-24`, README.md:31-37), re-shaped for a
  * lake-table engine:
  *
  *   spec                         — print the option spec (JSON)
  *   check    --table <root>      — validate table/source reachability
  *   discover --table <root>      — print the catalog (schema + shards)
  *   read     --table <root> --checkpoint <dir> [genlog options…]
  *                                — run one AvailableNow ingest pass
  *
  * Options are `--key value` pairs; genlog options: --events --shards
  * --repos --paths --copyRows --seed --maxPerTrigger --parity.
  */
object Main {

  private def parseArgs(args: Array[String]): (String, Map[String, String]) = {
    require(args.nonEmpty, "usage: graft.Main <spec|check|discover|read> [--key value…]")
    val verb = args.head
    val opts = args.tail.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    (verb, opts)
  }

  /** Under spark-submit the master comes from the launcher; standalone runs
    * (sbt runMain, plain java) fall back to local[*].
    */
  private def session(): SparkSession = {
    val b = SparkSession.builder()
      .appName("graft-cdc")
      .config("spark.sql.session.timeZone", "UTC")
    val withMaster =
      if (sys.props.contains("spark.master") || sys.env.contains("MASTER")) b
      else b.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString))
    withMaster.getOrCreate()
  }

  /** `{"<keyspace>": {"<shard>": "<gtid>"}}` — the reference's starting_gtids
    * JSON shape (`planetscale_connection.go:85-113`, README.md:160-197).
    */
  private def parseStartingGtids(json: String): Map[String, Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    root.properties().asScala.map { e =>
      e.getKey -> e.getValue.properties().asScala.map(s => s.getKey -> s.getValue.asText()).toMap
    }.toMap
  }

  /** `--schema_registry <file>`: {"<wire version>": <Avro record JSON>, …}
    * — arms stream-driven evolution (shared by the single-stream and
    * catalog paths; in catalog mode it applies to every stream).
    */
  private def parseSchemaRegistry(o: Map[String, String]): Map[Int, String] =
    o.get("schema_registry").map { path =>
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8"))
      import scala.jdk.CollectionConverters._
      root.properties().asScala.map(e => e.getKey.toInt -> e.getValue.toString).toMap
    }.getOrElse(Map.empty[Int, String])

  private def genConfig(o: Map[String, String]): GenConfig = GenConfig(
    seed = o.getOrElse("seed", "42").toLong,
    numEvents = o.getOrElse("events", "100000").toLong,
    numShards = o.getOrElse("shards", "4").toInt,
    numRepos = o.getOrElse("repos", "100").toInt,
    pathsPerRepo = o.getOrElse("paths", "50").toInt,
    keyspace = o.getOrElse("keyspace", "ks"),
    copyRows = o.getOrElse("copyRows", "0").toLong,
    // synthetic source-side schema change: catch-up events with global id
    // >= N announce schema_version 2 (pair with --schema_registry)
    schemaChangeAt = o.get("schema_change_at").map(_.toLong))

  /** The `RunConfig` of a `read` into table `root` with checkpoint `cp`:
    * every option the single-stream and the catalog path both honor. The
    * single-stream path then sets its resume state, wire table and stream
    * name; the catalog path gives each stream its own dirs
    * ([[catalogRunConfig]]).
    */
  private[graft] def readRunConfig(o: Map[String, String], root: String,
      cp: String): CdcStream.RunConfig =
    CdcStream.RunConfig(genConfig(o), root, cp,
      // bounded by DEFAULT at the CLI: with an unbounded single micro-batch,
      // the per-attempt timeout fence could cut the same giant batch forever
      // with zero committed progress — batch boundaries are what make a
      // fenced sync PARTIAL instead of empty
      maxEventsPerTrigger = Some(o.getOrElse("maxPerTrigger", "500000").toLong),
      parityMode = o.get("parity").exists(_.toBoolean),
      startingGtids = o.get("starting_gtids").map(path =>
        parseStartingGtids(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")))
        .getOrElse(Map.empty[String, Map[String, String]]),
      numBuckets = o.getOrElse("buckets", "64").toInt,
      useGtidWithTablePks = o.get("use_gtid_with_table_pks").exists(_.toBoolean),
      useReplica = o.get("use_replica").exists(_.toBoolean),
      useRdonly = o.get("use_rdonly").exists(_.toBoolean),
      replicaLagEvents = o.getOrElse("replica_lag", "0").toLong,
      includeMetadata = o.get("include_metadata").exists(_.toBoolean),
      wirePayload = o.get("wire").exists(_.toBoolean),
      // --sync_shards: the reference's `shards` config (comma-separated
      // shard names; --shards is the genlog COUNT flag)
      shardSubset = o.get("sync_shards"),
      schemaRegistry = parseSchemaRegistry(o),
      // spec surface: default 300 s, minimum 300 (clamped loud)
      timeoutSeconds = CdcStream.specTimeoutSeconds(o.get("timeout_seconds").map(_.toLong)),
      expireEvery = Some(o.getOrElse("expire_every", "32").toInt),
      keepSnapshots = o.getOrElse("keep_snapshots", "8").toInt)

  /** One catalog stream's `RunConfig`: `base` with per-stream dirs keyed
    * namespace__name, so same-named tables in different namespaces get
    * distinct tables + checkpoints. Every other option applies to every
    * stream of the catalog.
    */
  private[graft] def catalogRunConfig(base: CdcStream.RunConfig,
      s: graft.core.ConfiguredStream): CdcStream.RunConfig = {
    val dir = s"${s.namespace}__${s.name}"
    base.copy(tableRoot = s"${base.tableRoot}/$dir", checkpoint = s"${base.checkpoint}/$dir")
  }

  /** `read`'s options as JSON-schema properties, in the order `spec` prints
    * them: every option either path of `read` honors.
    */
  private val readOptions: Seq[(String, String)] = Seq(
    "table" -> """{"type":"string","description":"lake table root (any Hadoop FileSystem URI)"}""",
    "checkpoint" -> """{"type":"string","description":"streaming checkpoint dir"}""",
    "events" -> """{"type":"integer"}""",
    "shards" -> """{"type":"integer"}""",
    "repos" -> """{"type":"integer"}""",
    "paths" -> """{"type":"integer"}""",
    "copyRows" -> """{"type":"integer"}""",
    "seed" -> """{"type":"integer"}""",
    "keyspace" -> """{"type":"string","description":"source keyspace (namespace for stream state keys)"}""",
    "maxPerTrigger" -> """{"type":"integer","default":500000,"description":"micro-batch size bound in events (default 500000); batch boundaries are the commit points a fenced/partial sync keeps"}""",
    "buckets" -> """{"type":"integer","default":64,"description":"hash buckets of a table this read creates: the finest split a data file covers, not the file count (a batch writes one file per contiguous range of buckets and kind; a bucket is held by at most 2 files); existing tables keep their stored value"}""",
    "parity" -> """{"type":"boolean","description":"reference After-image-only parity mode (drop deletes)"}""",
    "include_metadata" -> """{"type":"boolean","description":"land per-row provenance columns (_graft_vgtid, _graft_seq, _graft_extracted_at)"}""",
    "state" -> """{"type":"string","description":"SyncState JSON file; merged per stream in --catalog mode (incremental only)"}""",
    "use_gtid_with_table_pks" -> """{"type":"boolean","description":"keep a shard's GTID position when --state resumes its COPY from a last known PK"}""",
    "catalog" -> """{"type":"string","description":"configured catalog JSON file: one table and checkpoint per stream under --table/--checkpoint, each stream's sync_mode honored"}""",
    "stream_concurrency" -> """{"type":"integer","description":"max concurrent streams in --catalog mode"}""",
    "wire" -> """{"type":"boolean","description":"source serves raw MySQL wire strings (repo_profile); values are normalized and typed during apply"}""",
    "sync_shards" -> """{"type":"string","description":"comma separated list of shards you'd like to sync, by default all shards are synced"}""",
    "starting_gtids" -> """{"type":"string","description":"JSON file {\"<keyspace>\": {\"<shard>\": \"<gtid>\"}}: start each shard's tail at that position (a checkpoint wins)"}""",
    "use_replica" -> """{"type":"boolean","description":"read from REPLICA tablets"}""",
    "use_rdonly" -> """{"type":"boolean","description":"read from RDONLY tablets (wins over use_replica)"}""",
    "replica_lag" -> """{"type":"integer","default":0,"description":"synthetic source knob: events a REPLICA/RDONLY tier lags the primary head"}""",
    "wire_columns" -> """{"type":"string","description":"column-spec JSON file (same file discover --columns reads); the selected table's wire stream is ingested with typed landing"}""",
    "wire_table" -> """{"type":"string","description":"table name to pick from --wire_columns (default: first table)"}""",
    "timeout_seconds" -> """{"type":"integer","default":300,"minimum":300,"description":"timeout in seconds for ONE sync attempt (default 300; values below 300 are clamped up, matching the reference spec); fenced attempts re-enter from the checkpoint up to max_retries total attempts, committed batches stand"}""",
    "max_retries" -> """{"type":"integer","default":3,"description":"TOTAL sync attempts per read (default 3, minimum 1); when the budget is exhausted on retryable errors the sync returns committed progress and SYNC_SUMMARY carries partial:true (reference nil-error semantics)"}""",
    "schema_registry" -> """{"type":"string","description":"JSON file mapping wire schema versions to Avro record schemas ({\"1\": {...}, \"2\": {...}}); when stream events announce a newer schema_version, each step's Avro diff (alias renames + adds) is applied to the table and watermarked (also in --catalog mode, applied per stream)"}""",
    "schema_change_at" -> """{"type":"integer","description":"synthetic source knob: catch-up events with global id >= N announce schema_version 2 (pair with schema_registry)"}""",
    "expire_every" -> """{"type":"integer","description":"expire snapshot metadata every N batches (0 disables; default 32)"}""",
    "keep_snapshots" -> """{"type":"integer","description":"time-travel window: snapshots retained by expiry (default 8)"}""")

  def main(args: Array[String]): Unit = {
    val (verb, o) = parseArgs(args)
    verb match {
      case "spec" =>
        println(readOptions.map { case (k, v) => s""""$k":$v""" }.mkString(
          """{"documentationUrl":"BENCH.md","connectionSpecification":{"type":"object",""" +
            """"required":["table","checkpoint"],"properties":{""", ",", "}}}"))

      case "check" =>
        val spark = session()
        try {
          val root = o.getOrElse("table", sys.error("--table required"))
          val t = new LakeTable(root, spark)
          val status = t.currentVersion match {
            case Some(v) => s"""{"status":"SUCCEEDED","table":"$root","version":$v}"""
            case None    => s"""{"status":"SUCCEEDED","table":"$root","version":null,"note":"table absent; read will create it"}"""
          }
          println(status)
        } catch {
          case e: Exception =>
            println(s"""{"status":"FAILED","message":"${e.getMessage}"}""")
        } finally spark.stop()

      case "discover" if o.contains("columns") =>
        // arbitrary-table discovery from a column-spec file (the
        // information_schema triple the reference queries) — golden-compared
        // catalog, no table required (reference discover over any database,
        // e2e full-catalog test `cmd/e2e/e2e_test.go:35-56`)
        val spec = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(o("columns"))), "UTF-8")
        val tables = graft.core.Discover.parseColumnSpec(spec)
        val shards = ChangelogGen.shardNames(o.getOrElse("shards", "4").toInt)
        println(graft.core.Discover.catalogJson(
          tables,
          keyspace = o.getOrElse("keyspace", "ks"),
          shards = shards,
          treatTinyIntAsBoolean = !o.get("do_not_treat_tiny_int_as_boolean").exists(_.toBoolean),
          includeMetadata = o.get("include_metadata").exists(_.toBoolean)))

      case "discover" =>
        val spark = session()
        try {
          val root = o.getOrElse("table", sys.error("--table required"))
          val t = new LakeTable(root, spark)
          val c = genConfig(o)
          val shards = ChangelogGen.shardNames(c.numShards).mkString("\",\"")
          // source-side MySQL column types of the repo_content stream → JSON
          // schema via TypeMap (reference discover, `getStreamForTable` +
          // `getJsonSchemaType`, planetscale_edge_database.go:97-191);
          // tinyint(1)→boolean honors do_not_treat_tiny_int_as_boolean
          val treatTiny = !o.get("do_not_treat_tiny_int_as_boolean").exists(_.toBoolean)
          val mysqlCols = Seq(
            ("repo", "varchar(255)", "NO"), ("path", "varchar(512)", "NO"),
            ("commit", "char(40)", "NO"), ("lang", "varchar(16)", "YES"),
            ("content", "longtext", "YES"))
          val jsonSchema = mysqlCols.map { case (n, ty, nul) =>
            val p = graft.core.TypeMap.jsonSchemaType(ty, treatTiny, nul)
            val extra =
              (if (p.airbyteType.nonEmpty) s""","airbyte_type":"${p.airbyteType}"""" else "") +
              (if (p.customFormat.nonEmpty) s""","format":"${p.customFormat}"""" else "")
            s""""$n":{"type":[${p.jsonTypes.map("\"" + _ + "\"").mkString(",")}]$extra}"""
          }.mkString("{", ",", "}")
          t.currentSnapshot match {
            case Some(snap) =>
              val fields = snap.currentSchema
                .map(f => s"""{"id":${f.id},"name":"${f.name}","type":"${f.dataType}"}""")
                .mkString(",")
              val cursors = snap.summary.getOrElse("cursors", "{}")
              println(s"""{"streams":[{"name":"repo_content","namespace":"${c.keyspace}","schema":[$fields],"json_schema":$jsonSchema,"primary_keys":[["repo"],["path"]],"supported_sync_modes":["full_refresh","incremental"],"source_defined_cursor":true,"shards":["$shards"],"version":${snap.version},"cursors":$cursors}]}""")
            case None =>
              println(s"""{"streams":[{"name":"repo_content","namespace":"${c.keyspace}","schema":null,"json_schema":$jsonSchema,"supported_sync_modes":["full_refresh","incremental"],"source_defined_cursor":true,"shards":["$shards"]}]}""")
          }
        } finally spark.stop()

      case "read" =>
        val spark = session()
        try {
          val root = o.getOrElse("table", sys.error("--table required"))
          val cp = o.getOrElse("checkpoint", sys.error("--checkpoint required"))
          val base = readRunConfig(o, root, cp)
          o.get("catalog") match {
            case Some(catPath) =>
              // multi-stream configured catalog (reference read.go:103-138):
              // per-stream table + checkpoint, sync_mode honored; a --state
              // file is merged per stream (incremental only — read.go:151-184).
              // --wire_columns is a single-stream option: a catalog names its
              // own tables — combining the two would silently apply one
              // table's spec to every stream, so fail loud instead
              require(!o.contains("wire_columns"),
                "--wire_columns is not supported with --catalog (the catalog names its streams)")
              val catalog = graft.core.ConfiguredCatalog.fromJson(
                new String(java.nio.file.Files.readAllBytes(
                  java.nio.file.Paths.get(catPath)), "UTF-8"))
              val catalogState = o.get("state").map { path =>
                SyncState.fromJson(new String(java.nio.file.Files.readAllBytes(
                  java.nio.file.Paths.get(path)), "UTF-8"))
              }.getOrElse(SyncState.empty)
              val t0 = System.nanoTime()
              val outcomes = CdcStream.runCatalogOutcomes(spark, catalog,
                catalogRunConfig(base, _),
                state = catalogState,
                maxConcurrentStreams = o.getOrElse("stream_concurrency", "4").toInt,
                maxRetries = math.max(1, o.getOrElse("max_retries", "3").toInt))
              val secs = (System.nanoTime() - t0) / 1e9
              val anyPartial = outcomes.values.exists(_.partial)
              val per = catalog.streams.map { s =>
                val t = new LakeTable(catalogRunConfig(base, s).tableRoot, spark)
                val oc = outcomes(s.stateKey)
                s"""{"stream":"${s.name}","namespace":"${s.namespace}","sync_mode":"${s.syncMode}","batches":${oc.batches},"partial":${oc.partial},"table_rows":${t.read().count()},"state":${t.summaryValue("cursors").getOrElse("{}")}}"""
              }.mkString(",")
              // "partial":true = some stream exhausted its retry/timeout
              // budget and stopped with committed progress (reference
              // nil-error semantics) — machine-readable, scripts MUST check
              println(f"""{"type":"SYNC_SUMMARY","seconds":$secs%.1f,"partial":$anyPartial,"streams":[$per]}""")
            case None =>
              val t = new LakeTable(root, spark)
              // --wire_columns <spec.json> [--wire_table <name>]: discover
              // output drives ingest (the reference's discover→read loop) —
              // the SAME column-spec file `discover --columns` consumes
              // selects the wire table; merge keys = its primary_keys
              val wireTable = o.get("wire_columns").map { path =>
                val spec = new String(java.nio.file.Files.readAllBytes(
                  java.nio.file.Paths.get(path)), "UTF-8")
                val tables = graft.core.Discover.parseColumnSpec(spec)
                require(tables.nonEmpty, s"no tables in $path")
                val pick = o.get("wire_table")
                  .map(n => tables.find(_.name == n).getOrElse(
                    sys.error(s"table '$n' not found in $path " +
                      s"(has: ${tables.map(_.name).mkString(", ")})")))
                  .getOrElse(tables.head)
                graft.core.WireTable.from(pick)
              }
              // --include_metadata: land the _graft_* provenance columns
              // (reference include_metadata, spec.json:63 +
              // planetscale_edge_database.go:560-574); --wire: the source
              // serves raw wire strings, the table lands the normalized
              // TYPED repo_profile schema; the two COMPOSE
              if (t.currentVersion.isEmpty) t.create(
                wireTable.map(wt => ChangeEvent.landingSchemaFor(wt, base.includeMetadata))
                  .getOrElse(ChangeEvent.landingSchemaFor(base.wirePayload, base.includeMetadata)),
                base.numBuckets)
              // --state <file>: SyncState JSON (the reference's state file);
              // per-shard cursors resume the stream, PK watermarks resume the
              // COPY phase (position cleared unless --use_gtid_with_table_pks)
              val resumeState = o.get("state").map { path =>
                val json = new String(java.nio.file.Files.readAllBytes(
                  java.nio.file.Paths.get(path)), "UTF-8")
                SyncState.fromJson(json).streams.values.flatten.toMap
              }.getOrElse(Map.empty[String, graft.core.ShardCursor])
              // a wire table implies wirePayload (source and apply both
              // take the table's spec over the repo_profile default)
              val rc = base.copy(resumeState = resumeState, wireTable = wireTable,
                streamName = wireTable.map(_.name).getOrElse("repo_content"))
              val t0 = System.nanoTime()
              // reference max_retries (spec.json:76-81): TOTAL sync-attempt
              // budget; exhaustion on retryable errors = partial sync
              val outcome = CdcStream.runWithRetriesOutcome(spark, rc,
                maxRetries = math.max(1, o.getOrElse("max_retries", "3").toInt))
              val secs = (System.nanoTime() - t0) / 1e9
              val rows = t.read().count()
              val cursors = t.summaryValue("cursors").getOrElse("{}")
              // Jackson-quoted: correct escaping for newlines/control chars
              // too — Spark exception messages are routinely multi-line, and
              // a raw newline here would break both the JSON and the
              // last-line-is-JSON contract exactly when partial is reported
              val errJson = outcome.lastError
                .map(m => s""","last_error":${
                  new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m)}""")
                .getOrElse("")
              // "partial":true = budget exhausted, committed progress stands
              // (reference nil-error semantics) — scripts MUST check this
              println(f"""{"type":"SYNC_SUMMARY","batches":${outcome.batches},"partial":${outcome.partial}$errJson,"seconds":$secs%.1f,"table_rows":$rows,"version":${t.currentVersion.get},"state":$cursors}""")
          }
        } finally spark.stop()

      case other =>
        System.err.println(s"unknown verb: $other (expected spec|check|discover|read)")
        sys.exit(2)
    }
  }
}
