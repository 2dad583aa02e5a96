package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableCatalog` exposing the engine's custom connectors as
  * SQL-managed tables:
  *
  * {{{
  *   spark.sql.catalog.graft           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  *
  *   CREATE TABLE graft.db.plays USING paged OPTIONS (pages '4', pageSize '100')
  *   CREATE TABLE graft.db.log (id BIGINT, msg STRING) USING audit
  *   INSERT INTO graft.db.log SELECT ...
  *   SELECT * FROM graft.db.log
  *   SELECT * FROM graft.db.log VERSION AS OF 2   -- epoch time travel
  *   DROP TABLE graft.db.log
  * }}}
  *
  * Metadata is one JSON file per table under `<warehouse>/_catalog/`
  * (schema via StructType.json — the public round-trip encoding), data
  * under `<warehouse>/<ns>/<table>/` with the audit sink's manifest-driven
  * two-phase commit. `loadTable(ident, version)` pins an [[AuditTable]] to
  * an epoch, which is what makes SQL `VERSION AS OF` resolve through the
  * `_EPOCHS` log. The catalog itself holds no state beyond the files: a
  * second session (or a 1000-executor cluster sharing the warehouse path)
  * sees the same tables.
  *
  * Reference scope: the reference manages its warehouse tables by name
  * through an external metastore (spark_jobs/playback_pipeline_curated.py:
  * 211-215, BigQuery table ids); this is that surface rebuilt on Spark's
  * own catalog plugin API, zero external services.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with GraftStagingSupport with ProcedureCatalog with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {
  private var catalogName: String = _
  private var warehouse: java.nio.file.Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft_warehouse")
    warehouse = java.nio.file.Paths.get(wh)
    java.nio.file.Files.createDirectories(warehouse.resolve("_catalog"))
  }

  override def name(): String = catalogName

  /** Opt in to CHECK constraint DDL and column DEFAULT values (Spark
    * gates both surfaces on catalog capabilities). Defaults ride the
    * schema's field metadata (CURRENT_DEFAULT / EXISTS_DEFAULT), which
    * this catalog round-trips verbatim through the stored schema json;
    * the audit readers apply existence defaults to rows written before
    * the column was added. */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  private def metaFile(ident: Identifier): java.nio.file.Path =
    warehouse.resolve("_catalog")
      .resolve((ident.namespace() :+ ident.name()).mkString(".") + ".json")

  private def dataDir(ident: Identifier): java.nio.file.Path =
    ident.namespace().foldLeft(warehouse)(_.resolve(_)).resolve(ident.name())

  // --- TableCatalog --------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val prefix = namespace.mkString(".") + (if (namespace.nonEmpty) "." else "")
    val listing = java.nio.file.Files.list(warehouse.resolve("_catalog"))
    try listing.iterator().asScala
      .map(_.getFileName.toString)
      .filter(f => f.endsWith(".json") && f.startsWith(prefix) &&
        !f.stripPrefix(prefix).stripSuffix(".json").contains("."))
      .map(f => Identifier.of(namespace, f.stripPrefix(prefix).stripSuffix(".json")))
      .toArray
    finally listing.close()
  }

  override def tableExists(ident: Identifier): Boolean =
    java.nio.file.Files.exists(metaFile(ident))

  override def loadTable(ident: Identifier): Table = loadTable(ident, None)

  /** SQL `VERSION AS OF v` arrives here; only audit (epoch-logged) tables
    * support it. */
  override def loadTable(ident: Identifier, version: String): Table =
    loadTable(ident, Some(version.toLong))

  /** SQL `TIMESTAMP AS OF t` (Spark hands micros since the Unix epoch).
    * PURE-STREAMING tables resolve to the greatest epoch whose recorded
    * commit time is at or before `t`, then pin exactly like `VERSION AS
    * OF` (epoch commit times live in `_EPOCHS`). MIXED tables — any
    * batch `_TXN` append or delta-DML history — pin by COMMIT TIME
    * instead: the scan reconstructs `t` across all three vintage axes
    * (epochs, txn appends, delete vectors), so a travel instant strictly
    * between a batch append and the next epoch SEES the append. History
    * that cannot be placed on the commit-time axis refuses loudly. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    loadTable(ident, None, asOfMillis = Some(timestamp / 1000L))
  }

  private def loadTable(ident: Identifier, version: Option[Long],
      asOfMillis: Option[Long] = None): Table = {
    val f = metaFile(ident)
    if (!java.nio.file.Files.exists(f))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val meta = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    val provider = """"provider":"([^"]+)"""".r.findFirstMatchIn(meta)
      .map(_.group(1)).getOrElse("audit")
    // anchor on the LAST "schema": — writeMeta escapes property values, so
    // an escaped value can never contain the bare token, but the schema is
    // also always serialized last, making lastIndexOf doubly safe
    val schemaJson = meta.substring(meta.lastIndexOf("\"schema\":") + 9,
      meta.lastIndexOf('}')) // schema object runs to the outer closing brace
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    def prop(k: String): Option[String] =
      ("\"prop_" + k + """":"((?:[^"\\]|\\.)*)"""").r.findFirstMatchIn(meta)
        .map(m => GraftCatalog.unescape(m.group(1)))
    val partCol = """"partcols":"([^"]+)"""".r.findFirstMatchIn(meta)
      .map(_.group(1))
    val colMap = GraftCatalog.parseColMap(meta)
    val checks = GraftCatalog.parseChecks(meta)
    provider match {
      case "paged" =>
        require(version.isEmpty, "paged tables carry no version log")
        new PagedTable(prop("pages").map(_.toInt).getOrElse(1),
          prop("pagesize").map(_.toInt).getOrElse(100))
      case "audit" | "" =>
        val path = dataDir(ident).toString
        // repartition_table crash healing: the data dir's `_PARTSPEC`
        // replica (written into the staged tree, atomic with the swap)
        // is authoritative — if a crash landed between the dir swap and
        // the catalog meta update, reconcile the stored spec now rather
        // than misread the new layout through the old one
        val specFile = java.nio.file.Paths.get(path).resolve("_PARTSPEC")
        val partCol0 =
          if (!java.nio.file.Files.exists(specFile)) partCol
          else {
            val onDisk = new String(
              java.nio.file.Files.readAllBytes(specFile), "UTF-8").trim
            // compare PARSED specs, not raw text: a cosmetic spelling
            // difference ('day, region' vs 'day,region') must not fire a
            // metadata write on the read path
            if (partCol.exists(p => AuditPartition.parseSpecs(p) ==
              AuditPartition.parseSpecs(onDisk))) partCol
            else {
              updatePartitionSpec(
                (ident.namespace() :+ ident.name()).mkString("."), onDisk)
              Some(onDisk)
            }
          }
        // mirror generation/identity specs into `graft.*` metadata keys
        // that survive Spark's v2-column round trip — `spark.table(...)
        // .schema` would otherwise show plain columns (Spark moves its
        // own spec keys into Column attributes and strips them)
        val schemaM = GraftCatalog.withSpecMirror(schema)
        asOfMillis match {
          case Some(ms) =>
            // partitioned dirs hold per-directory manifests for STREAMING
            // epoch files too — "mixed" means un-epoch'd entries (batch
            // txn appends) or delete vectors, not any manifest at all
            val partMixed = partCol0.exists { pc =>
              AuditPartition.listDirsByCols(path,
                AuditPartition.parseSpecs(pc).map(_.col))
                .exists { case (_, d) =>
                  // FOLDED entries count: a per-dir base checkpoint
                  // tombstones the batch vintages it compacted, but they
                  // are still history the commit-time pin must resolve
                  AuditBase.readManifest(d.toString).exists(e =>
                    AuditScan.epochOf(e.file).isEmpty) ||
                    (AuditDeletes.exists(d.toString) &&
                      (AuditDeletes.count(d.toString) > 0 ||
                        AuditDeletes.foldedRows(d.toString) > 0))
                }
            }
            if (partMixed || (partCol0.isEmpty && AuditScan.isMixed(path)))
              // mixed table (either layout): commit-time pin across
              // epochs, txn appends and delete vectors
              // (AuditScan.planTimePinned / planTimePinnedPartitioned)
              new AuditTable(path, schemaM, None, partCol0, colMap, checks,
                pinnedMillis = Some(ms))
            else
              // pure-streaming: epoch pin (works through base checkpoints)
              new AuditTable(path, schemaM,
                Some(AuditScan.epochAt(path, ms)), partCol0, colMap, checks)
          case None =>
            new AuditTable(path, schemaM, version, partCol0, colMap, checks)
        }
      case other =>
        throw new IllegalArgumentException(s"graft catalog: unknown provider $other")
    }
  }

  /** CREATE TABLE with CHECK constraints (Spark 4 DSv2 constraints API):
    * enforced CHECKs are stored in the table metadata and served back
    * through [[AuditTable.constraints]], where Spark's analyzer injects
    * write-time validation into every INSERT / streaming write / DML.
    * PRIMARY KEY / UNIQUE / FOREIGN KEY are refused loudly — this format
    * will not silently record an informational constraint it cannot
    * enforce. */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val checks = info.constraints().toSeq.map(GraftCatalog.asCheck)
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    require(!viewExists(ident),
      s"graft catalog: a VIEW named $ident already exists")
    val provider = Option(info.properties().get(TableCatalog.PROP_PROVIDER))
      .getOrElse("audit").toLowerCase
    // validate the provider BEFORE any metadata write: an unknown
    // provider must not leave an orphan _catalog entry behind
    require(provider == "audit" || provider == "paged",
      s"graft catalog supports USING audit|paged, got $provider")
    require(checks.isEmpty || provider == "audit",
      "graft catalog: only audit tables support CHECK constraints")
    // encode generation expressions / identity specs into field metadata
    // (Spark's own conversion keeps only comment+default; the stored
    // schema json round-trips the extra metadata to the write path)
    val schema = GraftCatalog.v2ColumnsToSchema(info.columns())
    require(!org.apache.spark.sql.catalyst.util.GeneratedColumn
      .hasGeneratedColumns(schema) || provider == "audit",
      "graft catalog: only audit tables support generated columns")
    require(!org.apache.spark.sql.catalyst.util.IdentityColumn
      .hasIdentityColumns(schema) || provider == "audit",
      "graft catalog: only audit tables support identity columns")
    val partCol = GraftCatalog.identityPartCol(info.partitions(), schema)
    require(partCol.isEmpty || provider == "audit",
      "graft catalog: only audit tables can be partitioned")
    java.nio.file.Files.createDirectories(dataDir(ident))
    writeMeta(ident, provider, schema, info.properties(), partCol,
      checks = checks)
    loadTable(ident)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    require(!viewExists(ident),
      s"graft catalog: a VIEW named $ident already exists")
    val provider = Option(properties.get(TableCatalog.PROP_PROVIDER))
      .getOrElse("audit").toLowerCase
    require(provider == "audit" || provider == "paged",
      s"graft catalog supports USING audit|paged, got $provider")
    val partCol = GraftCatalog.identityPartCol(partitions, schema)
    require(partCol.isEmpty || provider == "audit",
      "graft catalog: only audit tables can be partitioned")
    java.nio.file.Files.createDirectories(dataDir(ident))
    writeMeta(ident, provider, schema, properties, partCol)
    loadTable(ident)
  }

  /** Serialize and write the metadata file (shared by create + staged
    * publish). OPTIONS may arrive both bare and under the option. prefix —
    * normalize every form to prop_<lowercased-key> and dedup. */
  private[sources] def writeMeta(ident: Identifier, provider: String,
      schema: StructType, properties: JMap[String, String],
      partCol: Option[String] = None,
      colMap: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil,
      checks: Seq[(String, String)] = Nil): Unit = {
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL)
    // property values are user input (OPTIONS / TBLPROPERTIES / COMMENT):
    // escape them, or a quote/backslash corrupts the metadata file and a
    // value containing the literal schema token shifts schema extraction
    val props = properties.asScala.toSeq.collect {
      case (k, v) if k.startsWith(TableCatalog.OPTION_PREFIX) =>
        s""""prop_${k.stripPrefix(TableCatalog.OPTION_PREFIX).toLowerCase}":"${GraftCatalog.escape(v)}""""
      case (k, v) if !reserved.contains(k) =>
        s""""prop_${k.toLowerCase}":"${GraftCatalog.escape(v)}""""
    }.distinct
    val effectiveSchema =
      if (provider == "paged") PagedSource.schema else schema
    // column name mapping (RENAME/DROP without rewrite): current→storage
    // pairs, plus storage names RETIRED by forced drops (a re-added column
    // of the same name must get a FRESH storage name, never the old data)
    val mapJson =
      if (colMap.isEmpty) Seq.empty
      else Seq(s""""colmap":{${colMap.toSeq.sorted.map { case (c, st) =>
        s""""${GraftCatalog.escape(c)}":"${GraftCatalog.escape(st)}""""
      }.mkString(",")}}""")
    val retiredJson =
      if (retired.isEmpty) Seq.empty
      else Seq(s""""retired":[${retired.map(r =>
        s""""${GraftCatalog.escape(r)}"""").mkString(",")}]""")
    // enforced CHECK constraints: (name, predicate SQL in CURRENT names)
    val checksJson =
      if (checks.isEmpty) Seq.empty
      else Seq(s""""checks":[${checks.map { case (n, sql) =>
        s"""{"name":"${GraftCatalog.escape(n)}","sql":"${GraftCatalog.escape(sql)}"}"""
      }.mkString(",")}]""")
    val meta = (Seq(s""""provider":"$provider"""") ++
      partCol.map(c => s""""partcols":"$c"""") ++ props ++
      mapJson ++ retiredJson ++ checksJson ++
      Seq(s""""schema":${effectiveSchema.json}""")).mkString("{", ",", "}")
    // tmp + atomic move: metadata is re-written on live paths (spec
    // crash-heal fires from loadTable) — a concurrent reader must see
    // old-or-new bytes, never a torn file
    CommitPrimitives.io.replace(metaFile(ident), meta.getBytes("UTF-8"))
    // replicate the colmap into the data dir (`_COLMAP`) so the PATH
    // surface — change-feed reads included — translates renamed columns
    // without this catalog's metadata file
    if (provider != "paged" && java.nio.file.Files.isDirectory(dataDir(ident)))
      AuditNameMap.writeColMapFile(dataDir(ident), colMap)
  }

  /** Hidden staging directory beside the table's data dir. */
  private[sources] def stagingDirFor(ident: Identifier): java.nio.file.Path =
    ident.namespace().foldLeft(warehouse)(_.resolve(_))
      .resolve("." + ident.name() + ".staged." +
        java.util.UUID.randomUUID().toString.take(8))

  /** Publish a staged CTAS/RTAS. Crash-safe by construction: the OLD data
    * directory is renamed aside (one atomic move), the stage renamed into
    * place (a second atomic move), metadata written, and only then the
    * displaced directory deleted — a crash at any point leaves either the
    * old table recoverable (displaced dir + old metadata) or the new table
    * fully published; the old data is never destroyed before the new data
    * is in place. The read window between the two renames is a
    * missing-directory (empty) read, not a torn mix of old and new files;
    * closing even that window would need an indirection pointer this
    * single-writer-DDL format doesn't carry (concurrent DDL on one table
    * is out of scope, as for any filesystem-renamed catalog). */
  private[sources] def publishStaged(ident: Identifier, schema: StructType,
      properties: JMap[String, String], stageDir: java.nio.file.Path,
      replace: Boolean, partCol: Option[String] = None): Unit = {
    if (!replace && tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    val data = dataDir(ident)
    java.nio.file.Files.createDirectories(data.getParent)
    val displaced = data.resolveSibling(
      "." + ident.name() + ".old." + java.util.UUID.randomUUID().toString.take(8))
    val hadOld = java.nio.file.Files.exists(data)
    if (hadOld)
      java.nio.file.Files.move(data, displaced,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(stageDir, data,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    writeMeta(ident, "audit", schema, properties, partCol)
    if (hadOld) deleteTree(displaced)
  }

  /** Schema evolution without data rewrite. ADD COLUMN (top-level,
    * nullable — committed rows null-fill), RENAME COLUMN and DROP COLUMN
    * are pure METADATA edits via the name-mapping layer: the jsonl
    * payload stays keyed by each column's STORAGE name (its name at ADD
    * time), `colmap` translates current→storage on every read and write,
    * and a forced DROP retires the storage name so a later re-ADD of the
    * same name gets a FRESH storage key (old data can never resurrect).
    * DROP is destructive to readability, so it errors loudly unless the
    * table property `graft.allow-column-drop=true` is set. Type changes
    * stay a loud error (they would need a data rewrite). Rename/drop on
    * PARTITIONED tables is refused — directory names embed the partition
    * column. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val f = metaFile(ident)
    if (!java.nio.file.Files.exists(f))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val meta = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    val schemaJson = meta.substring(meta.lastIndexOf("\"schema\":") + 9,
      meta.lastIndexOf('}'))
    val schema0 = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    val provider = """"provider":"([^"]+)"""".r.findFirstMatchIn(meta)
      .map(_.group(1)).getOrElse("audit")
    val partCol = """"partcols":"([^"]+)"""".r.findFirstMatchIn(meta)
      .map(_.group(1))
    var props: Map[String, String] = GraftCatalog.parseProps(meta)
    var colMap: Map[String, String] = GraftCatalog.parseColMap(meta)
    var retired: Seq[String] = GraftCatalog.parseRetired(meta)
    var checks: Seq[(String, String)] = GraftCatalog.parseChecks(meta)
    def storageOf(sc: StructType, c: String): String = colMap.getOrElse(c, c)
    // a CHECK referencing a renamed/dropped column would break every
    // subsequent write at analysis — refuse the DDL while referenced
    // (conservative word match on the stored predicate SQL)
    def requireNotChecked(what: String, c: String): Unit =
      checks.find(_._2.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(c)}\\b.*"))
        .foreach { case (n, sql) => throw new IllegalArgumentException(
          s"graft catalog: $what of column $c is blocked by CHECK " +
            s"constraint $n ($sql) — DROP CONSTRAINT $n first") }
    // RENAME/DROP of NON-partition columns works on partitioned tables
    // too (the colmap is table-level metadata; per-directory files keep
    // their storage keys like any other file) — only the PARTITION column
    // itself is immovable: directory names embed it
    def requireNotPartitionCol(what: String, c: String): Unit =
      partCol.toSeq.flatMap(AuditPartition.parseSpecs(_).map(_.col)).foreach(pc =>
        require(pc != c,
          s"graft catalog: $what of partition column $c is unsupported " +
            "(directory names embed the partition column)"))
    // a generation expression referencing a renamed/dropped column would
    // break every subsequent write — refuse, same guard as CHECKs. The
    // check PARSES the stored SQL and compares attribute references with
    // the session resolver (not a text regex: SQL identifiers are
    // case-insensitive, and a column name inside a string literal must
    // not spuriously block legal DDL)
    def requireNotGenerated(what: String, c: String): Unit = {
      val spark = org.apache.spark.sql.SparkSession.active
      val resolver = spark.sessionState.conf.resolver
      schema0.fields.foreach { f =>
        org.apache.spark.sql.catalyst.util.GeneratedColumn
          .getGenerationExpression(f).foreach { g =>
            val refs = spark.sessionState.sqlParser.parseExpression(g)
              .collect {
                case a: org.apache.spark.sql.catalyst.analysis
                  .UnresolvedAttribute => a.nameParts.head
              }
            require(!refs.exists(resolver(_, c)),
              s"graft catalog: $what of column $c is blocked by the " +
                s"generation expression of ${f.name} ($g)")
          }
      }
    }
    val newSchema = changes.foldLeft(schema0) {
      case (sc, add: TableChange.AddColumn) =>
        require(add.fieldNames.length == 1,
          "graft catalog: nested ADD COLUMN unsupported")
        require(add.isNullable || add.defaultValue() != null,
          "graft catalog: added columns must be nullable or carry a " +
            "DEFAULT (existing rows have no value)")
        val name = add.fieldNames.head
        require(!sc.fieldNames.contains(name),
          s"graft catalog: column $name already exists")
        // a storage name may be occupied by an older column (renamed away
        // or force-dropped): mint a fresh one so old bytes stay invisible
        val used = sc.fieldNames.map(storageOf(sc, _)).toSet ++ retired
        if (used.contains(name)) {
          val fresh = Iterator.from(2).map(i => s"$name#$i")
            .dropWhile(used.contains).next()
          colMap += (name -> fresh)
        }
        // ADD COLUMN ... DEFAULT v: both the current default (applied by
        // Spark to later INSERTs that omit the column) and the existence
        // default (applied by the readers to rows that PREDATE the
        // column) ride the field metadata, Spark's own convention
        val meta = Option(add.defaultValue()).map { dv =>
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              .CURRENT_DEFAULT_COLUMN_METADATA_KEY, dv.getSql)
            .putString(org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              .EXISTS_DEFAULT_COLUMN_METADATA_KEY, dv.getSql)
            .build()
        }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
        sc.add(org.apache.spark.sql.types.StructField(
          name, add.dataType, nullable = add.isNullable, metadata = meta))
      case (sc, ren: TableChange.RenameColumn) =>
        require(ren.fieldNames.length == 1,
          "graft catalog: nested RENAME COLUMN unsupported")
        requireNotPartitionCol("RENAME COLUMN", ren.fieldNames.head)
        requireNotChecked("RENAME COLUMN", ren.fieldNames.head)
        requireNotGenerated("RENAME COLUMN", ren.fieldNames.head)
        val from = ren.fieldNames.head
        val to = ren.newName
        require(sc.fieldNames.contains(from),
          s"graft catalog: no such column $from")
        require(!sc.fieldNames.contains(to),
          s"graft catalog: column $to already exists")
        val storage = storageOf(sc, from)
        colMap -= from
        if (storage != to) colMap += (to -> storage)
        StructType(sc.fields.map(fl =>
          if (fl.name == from) fl.copy(name = to) else fl))
      case (sc, del: TableChange.DeleteColumn) =>
        require(del.fieldNames.length == 1,
          "graft catalog: nested DROP COLUMN unsupported")
        requireNotPartitionCol("DROP COLUMN", del.fieldNames.head)
        requireNotChecked("DROP COLUMN", del.fieldNames.head)
        requireNotGenerated("DROP COLUMN", del.fieldNames.head)
        val name = del.fieldNames.head
        if (!sc.fieldNames.contains(name)) {
          require(del.ifExists, s"graft catalog: no such column $name")
          sc
        } else {
          require(props.get("graft.allow-column-drop").contains("true"),
            s"graft catalog: DROP COLUMN $name would make committed data " +
              "unreadable — set TBLPROPERTIES " +
              "('graft.allow-column-drop'='true') on the table to force it")
          retired = (retired :+ storageOf(sc, name)).distinct
          colMap -= name
          StructType(sc.fields.filterNot(_.name == name))
        }
      // ALTER COLUMN ... SET/DROP DEFAULT: changes the CURRENT default
      // only (what future INSERTs fill in); the existence default —
      // what pre-column rows read — is immutable history
      case (sc, upd: TableChange.UpdateColumnDefaultValue) =>
        require(upd.fieldNames.length == 1,
          "graft catalog: nested ALTER COLUMN unsupported")
        val name = upd.fieldNames.head
        require(sc.fieldNames.contains(name),
          s"graft catalog: no such column $name")
        StructType(sc.fields.map { fl =>
          if (fl.name != name) fl
          else {
            val b = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(fl.metadata)
            val key = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              .CURRENT_DEFAULT_COLUMN_METADATA_KEY
            Option(upd.newCurrentDefault()) match {
              case Some(dv) => b.putString(key, dv.getSql)
              case None     => b.remove(key)
            }
            fl.copy(metadata = b.build())
          }
        })
      // ALTER COLUMN ... TYPE: WIDENING-ONLY integral changes. The JSON
      // storage is type-directed at read — old files' literals re-parse
      // in the new type with no rewrite — and the bloom filters hash the
      // NUMERIC VALUE (int and long identically), so file-skipping
      // metadata stays valid across the widening. Anything lossy
      // (narrowing, long→double past 2^53, cross-family) is refused.
      case (sc, upd: TableChange.UpdateColumnType) =>
        require(upd.fieldNames.length == 1,
          "graft catalog: nested ALTER COLUMN unsupported")
        val name = upd.fieldNames.head
        val fl = sc.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"graft catalog: no such column $name"))
        def rank(dt: org.apache.spark.sql.types.DataType): Int = dt match {
          case org.apache.spark.sql.types.ByteType    => 1
          case org.apache.spark.sql.types.ShortType   => 2
          case org.apache.spark.sql.types.IntegerType => 3
          case org.apache.spark.sql.types.LongType    => 4
          case _                                      => -1
        }
        require(rank(fl.dataType) > 0 && rank(upd.newDataType()) > 0 &&
          rank(fl.dataType) < rank(upd.newDataType()),
          s"graft catalog: ALTER COLUMN $name TYPE supports WIDENING " +
            s"integral changes only (${fl.dataType.simpleString} -> " +
            s"${upd.newDataType().simpleString} refused)")
        partCol.toSeq.flatMap(AuditPartition.parseSpecs(_).map(_.col))
          .foreach(pc => require(pc != name,
            s"graft catalog: cannot change the type of partition column " +
              s"$name (directory tokens embed its typed values)"))
        require(org.apache.spark.sql.catalyst.util.IdentityColumn
          .getIdentityInfo(fl).isEmpty,
          s"graft catalog: identity column $name must stay BIGINT")
        StructType(sc.fields.map(f =>
          if (f.name == name) f.copy(dataType = upd.newDataType()) else f))
      // ALTER COLUMN ... SET/DROP NOT NULL: relaxing is free; tightening
      // validates the existing rows first (ENFORCED semantics, like
      // ADD CONSTRAINT)
      case (sc, upd: TableChange.UpdateColumnNullability) =>
        require(upd.fieldNames.length == 1,
          "graft catalog: nested ALTER COLUMN unsupported")
        val name = upd.fieldNames.head
        require(sc.fieldNames.contains(name),
          s"graft catalog: no such column $name")
        if (!upd.nullable()) {
          val spark = org.apache.spark.sql.SparkSession.active
          val full = (this.name() +: ident.namespace() :+ ident.name())
            .map(p => s"`$p`").mkString(".")
          val nulls = spark.table(full)
            .filter(org.apache.spark.sql.functions.col(name).isNull).count()
          require(nulls == 0L,
            s"graft catalog: cannot SET NOT NULL on $name — $nulls " +
              "existing row(s) are null")
        }
        StructType(sc.fields.map(f =>
          if (f.name == name) f.copy(nullable = upd.nullable()) else f))
      case (sc, upd: TableChange.UpdateColumnComment) =>
        require(upd.fieldNames.length == 1,
          "graft catalog: nested ALTER COLUMN unsupported")
        val name = upd.fieldNames.head
        require(sc.fieldNames.contains(name),
          s"graft catalog: no such column $name")
        StructType(sc.fields.map(f =>
          if (f.name == name) f.withComment(upd.newComment()) else f))
      // ALTER COLUMN ... FIRST/AFTER: REFUSED. Schema order is a STORAGE
      // invariant here — the single-pass line parser reads keys in write
      // order (what buys its speed), and every committed vintage was
      // written in its schema order, so a reorder would need per-vintage
      // order tracking on the hot path. Presentation order belongs in a
      // view; refusing loudly beats silently nulling displaced columns.
      case (_, upd: TableChange.UpdateColumnPosition) =>
        throw new UnsupportedOperationException(
          s"graft catalog: ALTER COLUMN ${upd.fieldNames.mkString(".")} " +
            "FIRST/AFTER is unsupported — schema order is the storage " +
            "write order (single-pass parser); create a VIEW for a " +
            "different presentation order")
      case (sc, set: TableChange.SetProperty) =>
        props += (set.property.toLowerCase -> set.value); sc
      case (sc, rm: TableChange.RemoveProperty) =>
        props -= rm.property.toLowerCase; sc
      // ALTER TABLE ADD CONSTRAINT <name> CHECK (<expr>): Spark validates
      // the EXISTING rows before this call (ENFORCED semantics) and every
      // later write revalidates through Table.constraints()
      case (sc, add: TableChange.AddConstraint) =>
        val (n, sql) = GraftCatalog.asCheck(add.constraint())
        require(!checks.exists(_._1.equalsIgnoreCase(n)),
          s"graft catalog: constraint $n already exists")
        checks = checks :+ (n, sql)
        sc
      case (sc, drop: TableChange.DropConstraint) =>
        val existed = checks.exists(_._1.equalsIgnoreCase(drop.name()))
        require(existed || drop.ifExists(),
          s"graft catalog: no such constraint ${drop.name()}")
        checks = checks.filterNot(_._1.equalsIgnoreCase(drop.name()))
        sc
      case (_, other) => throw new UnsupportedOperationException(
        s"graft catalog: unsupported table change $other")
    }
    val jProps = new java.util.HashMap[String, String]
    props.foreach { case (k, v) => jProps.put(k, v) }
    writeMeta(ident, provider, newSchema, jProps, partCol, colMap, retired,
      checks)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val existed = tableExists(ident)
    if (existed) {
      java.nio.file.Files.delete(metaFile(ident))
      val data = dataDir(ident)
      deleteTree(data)
    }
    existed
  }

  // --- ViewCatalog ---------------------------------------------------------
  // SQL views (CREATE/ALTER/DROP/SHOW VIEWS, SELECT through them): the
  // definition — query text, the catalog+namespace it resolves in, the
  // analysis-time schema, column aliases/comments, properties — persists
  // as a sidecar `.view` file beside the table metadata. Spark re-parses
  // the stored SQL against the stored resolution context at read time
  // (the standard lazy-view contract).

  private def viewFile(ident: Identifier): java.nio.file.Path =
    warehouse.resolve("_catalog")
      .resolve((ident.namespace() :+ ident.name()).mkString(".") + ".view")

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val prefix = ns.mkString(".") + (if (ns.nonEmpty) "." else "")
    val listing = java.nio.file.Files.list(warehouse.resolve("_catalog"))
    try listing.iterator().asScala
      .map(_.getFileName.toString)
      .filter(f => f.endsWith(".view") && f.startsWith(prefix) &&
        !f.stripPrefix(prefix).stripSuffix(".view").contains("."))
      .map(f => Identifier.of(ns, f.stripPrefix(prefix).stripSuffix(".view")))
      .toArray
    finally listing.close()
  }

  override def viewExists(ident: Identifier): Boolean =
    java.nio.file.Files.exists(viewFile(ident))

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View = {
    val f = viewFile(ident)
    if (!java.nio.file.Files.exists(f))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val lines = java.nio.file.Files.readAllLines(f).asScala.toSeq
    def vals(tag: String): Seq[String] = lines.collect {
      case l if l.startsWith(tag + "\t") =>
        GraftCatalog.unescape(l.substring(tag.length + 1))
    }
    def one(tag: String): String = vals(tag).headOption.getOrElse(
      throw new IllegalStateException(s"graft view ${ident}: missing $tag"))
    val comments: Seq[String] = lines.collect {
      case l if l.startsWith("comment\t") => l.substring(8)
    }.map {
      case "-" => null
      case s   => GraftCatalog.unescape(s.stripPrefix("+"))
    }
    val props = lines.collect {
      case l if l.startsWith("prop\t") =>
        val rest = l.substring(5)
        val cut = rest.indexOf('\t')
        (GraftCatalog.unescape(rest.substring(0, cut)),
          GraftCatalog.unescape(rest.substring(cut + 1)))
    }.toMap
    GraftView(
      viewName = (ident.namespace() :+ ident.name()).mkString("."),
      sql = one("sql"),
      catalog = one("catalog"),
      namespace = vals("ns").toArray,
      viewSchema = org.apache.spark.sql.types.DataType
        .fromJson(one("schema")).asInstanceOf[StructType],
      qcols = vals("qcol").toArray,
      aliases = vals("alias").toArray,
      comments = comments.toArray,
      props = props)
  }

  private def writeView(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.ViewInfo,
      props: Map[String, String]): Unit = {
    def esc(s: String) = GraftCatalog.escape(s)
    val body =
      Seq("graft-view\t1", s"sql\t${esc(info.sql())}",
        s"catalog\t${esc(info.currentCatalog())}") ++
        info.currentNamespace().toSeq.map(n => s"ns\t${esc(n)}") ++
        Option(info.queryColumnNames()).toSeq.flatten.map(c => s"qcol\t${esc(c)}") ++
        Option(info.columnAliases()).toSeq.flatten.map(a => s"alias\t${esc(a)}") ++
        Option(info.columnComments()).toSeq.flatten.map {
          case null => "comment\t-"
          case c    => s"comment\t+${esc(c)}"
        } ++
        props.toSeq.sortBy(_._1).map { case (k, v) =>
          s"prop\t${esc(k)}\t${esc(v)}" } ++
        Seq(s"schema\t${esc(info.schema().json)}")
    // ATOMIC publish: write a tmp sidecar and move it over the target —
    // a crash mid-(re)definition never loses or corrupts the view, and a
    // concurrent reader sees either the old or the new definition whole
    CommitPrimitives.io.replace(viewFile(ident),
      body.mkString("\n").getBytes("UTF-8"))
  }

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(ident)
    require(!tableExists(ident),
      s"graft catalog: a TABLE named $ident already exists")
    writeView(ident, info, info.properties().asScala.toMap)
    loadView(ident)
  }

  /** Atomic view REDEFINITION (CREATE OR REPLACE / ALTER VIEW AS): one
    * sidecar write replacing the old definition — never a drop+create
    * window where a crash loses the view or a reader sees neither. */
  def replaceView(info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val ident = info.ident()
    require(!tableExists(ident),
      s"graft catalog: a TABLE named $ident already exists")
    writeView(ident, info, info.properties().asScala.toMap)
    loadView(ident)
  }

  override def alterView(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View = {
    val v = loadView(ident).asInstanceOf[GraftView]
    val props = changes.foldLeft(v.props) {
      case (p, set: org.apache.spark.sql.connector.catalog.ViewChange.SetProperty) =>
        p + (set.property() -> set.value())
      case (p, rm: org.apache.spark.sql.connector.catalog.ViewChange.RemoveProperty) =>
        p - rm.property()
      case (_, other) => throw new UnsupportedOperationException(
        s"graft catalog: unsupported view change $other")
    }
    writeView(ident,
      new org.apache.spark.sql.connector.catalog.ViewInfo(ident, v.sql,
        v.catalog, v.namespace, v.viewSchema, v.qcols, v.aliases, v.comments,
        props.asJava),
      props)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    java.nio.file.Files.deleteIfExists(viewFile(ident))

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(newIdent)
    // single-key rename: one winner claims the old name (a racing rename
    // of the same view observes NoSuchFile). The viewExists pre-checks
    // are best-effort (TOCTOU): on POSIX, rename(2) replaces a target
    // re-created between the check and the move — concurrent DDL naming
    // the SAME target view is last-writer-wins here, not an error; the
    // object-store impl's create-if-absent surfaces that race as
    // FileAlreadyExists instead. View DDL is a human-rate path; the
    // format's single-winner guarantees live in the table commit
    // protocol, not in catalog renames.
    CommitPrimitives.io.renameClaim(viewFile(oldIdent), viewFile(newIdent))
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog: RENAME unsupported")

  // --- SupportsNamespaces (minimal single-level namespaces) ----------------

  override def listNamespaces(): Array[Array[String]] = {
    val listing = java.nio.file.Files.list(warehouse.resolve("_catalog"))
    try listing.iterator().asScala
      .map(_.getFileName.toString.stripSuffix(".json"))
      .filter(_.contains("."))
      .map(_.split('.').init.toArray).toSeq.distinct.toArray
    finally listing.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length <= 1

  override def loadNamespaceMetadata(namespace: Array[String])
      : JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = () // namespaces are implicit

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog: ALTER NAMESPACE unsupported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    listTables(namespace).isEmpty || cascade && {
      listTables(namespace).foreach(dropTable); true
    }

  // --- ProcedureCatalog (CALL graft.system.optimize / vacuum) --------------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    (ident.namespace().toSeq, ident.name().toLowerCase) match {
      case (Seq("system"), "optimize") => GraftProcedures.optimize(this)
      case (Seq("system"), "vacuum")   => GraftProcedures.vacuum(this)
      case (Seq("system"), "history")  => GraftProcedures.history(this)
      case (Seq("system"), "sync_identity") =>
        GraftProcedures.syncIdentity(this)
      case (Seq("system"), "restore") => GraftProcedures.restore(this)
      case (Seq("system"), "repartition_table") =>
        GraftProcedures.repartitionTable(this)
      case (Seq("system"), "maintenance_plan") =>
        GraftProcedures.maintenancePlan(this)
      case (Seq("system"), "maintenance_apply") =>
        GraftProcedures.maintenanceApply(this)
      case _ => throw new RuntimeException(
        s"graft catalog: no such procedure $ident (available: " +
          GraftProcedures.Names.map("system." + _).mkString(", ") + ")")
    }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.Names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // --- FunctionCatalog (the engine's cross-engine hash in SQL) -------------

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftFunctions.Names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    (ident.namespace().toSeq, ident.name().toLowerCase) match {
      case (Seq("system"), "hex_hash")   => GraftFunctions.hexHash
      case (Seq("system"), "hex_bucket") => GraftFunctions.hexBucket
      // Spark resolves a table's bucket(n, col) partition transform by
      // loading "bucket" from the table catalog's EMPTY namespace
      // (V2ExpressionUtils.loadV2FunctionOpt) — this binding is what
      // makes two bucket-partitioned audit tables SPJ-compatible
      case (Seq(), "bucket") => GraftFunctions.bucketTransform
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }

  /** Maintenance-procedure target resolution: `<ns>.<table>` → (data path,
    * table schema). Only unpartitioned audit tables qualify — partitioned
    * tables carry per-partition manifests and no epoch log. */
  private[sources] def resolveAuditTable(name: String): (String, StructType) = {
    val (path, schema, part) = resolveAuditTableFull(name)
    require(part.isEmpty,
      s"graft maintenance: this operation needs an unpartitioned table; " +
        s"$name is partitioned")
    (path, schema)
  }

  /** current→storage column map of an audit table (for procedures whose
    * column arguments arrive in current names). */
  private[sources] def resolveAuditColMap(name: String): Map[String, String] = {
    val parts = name.split('.')
    val ident = Identifier.of(parts.init, parts.last)
    loadTable(ident) match {
      case a: AuditTable => a.columnMap
      case _ => Map.empty
    }
  }

  private[sources] def resolveAuditTableFull(name: String)
      : (String, StructType, Option[String]) = {
    val parts = name.split('.')
    require(parts.length >= 2 && parts.forall(_.nonEmpty),
      s"graft maintenance: table must be <namespace>.<name>, got '$name'")
    val ident = Identifier.of(parts.init, parts.last)
    loadTable(ident) match {
      // maintenance reads and rewrites PHYSICAL bytes through the raw
      // provider: it must speak STORAGE column names (the name-mapping
      // layer translates only at the catalog-table boundary)
      case a: AuditTable => (a.dataPath, a.storageNamedSchema, a.partitionColumn)
      case other => throw new NotAnAuditTableException(
        s"graft maintenance: $name is not an audit table (${other.name()})")
    }
  }

  /** Replace the stored `PARTITIONED BY` spec — the metadata half of
    * `CALL system.repartition_table` (called under the maintenance
    * lease, AFTER the data-dir swap). Everything else in the metadata
    * file round-trips unchanged. */
  private[sources] def updatePartitionSpec(name: String, newSpec: String): Unit = {
    val parts = name.split('.')
    val ident = Identifier.of(parts.init, parts.last)
    val f = metaFile(ident)
    require(java.nio.file.Files.exists(f),
      s"graft catalog: no table $name to update")
    val meta = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    val schemaJson = meta.substring(meta.lastIndexOf("\"schema\":") + 9,
      meta.lastIndexOf('}'))
    val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType]
    val provider = """"provider":"([^"]+)"""".r.findFirstMatchIn(meta)
      .map(_.group(1)).getOrElse("audit")
    val jProps = new java.util.HashMap[String, String]
    GraftCatalog.parseProps(meta).foreach { case (k, v) => jProps.put(k, v) }
    writeMeta(ident, provider, schema, jProps, Some(newSpec),
      GraftCatalog.parseColMap(meta), GraftCatalog.parseRetired(meta),
      GraftCatalog.parseChecks(meta))
  }
}

/** A stored SQL view served back to Spark's view resolution. */
final case class GraftView(viewName: String, sql: String, catalog: String,
    namespace: Array[String], viewSchema: StructType, qcols: Array[String],
    aliases: Array[String], comments: Array[String],
    props: Map[String, String])
    extends org.apache.spark.sql.connector.catalog.View {
  import scala.jdk.CollectionConverters._
  override def name(): String = viewName
  override def query(): String = sql
  override def currentCatalog(): String = catalog
  override def currentNamespace(): Array[String] = namespace
  override def schema(): StructType = viewSchema
  override def queryColumnNames(): Array[String] = qcols
  override def columnAliases(): Array[String] = aliases
  override def columnComments(): Array[String] = comments
  override def properties(): java.util.Map[String, String] = props.asJava
}

/** A named table exists but is not an audit-provider table (view, other
  * provider). Typed so wildcard maintenance can SKIP it structurally
  * instead of substring-matching the message (ADVICE r20). */
final class NotAnAuditTableException(msg: String)
  extends IllegalArgumentException(msg)

object GraftCatalog {
  /** Mirror generation/identity specs into engine-namespaced metadata
    * keys (`graft.generated_always_as`, `graft.identity.*`) that SURVIVE
    * Spark's v2-column round trip: Spark moves its own spec keys into
    * `Column.generationExpression()` / `identityColumnSpec()` and strips
    * them from field metadata, so `spark.table(...).schema` showed a
    * plain column. Unknown keys pass through untouched — a user can
    * introspect the specs straight off the relation schema. Applied at
    * LOAD time only; the stored schema keeps Spark's canonical keys. */
  private[sources] def withSpecMirror(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      val gen = org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f)
      val id = org.apache.spark.sql.catalyst.util.IdentityColumn
        .getIdentityInfo(f)
      if (gen.isEmpty && id.isEmpty) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        gen.foreach(b.putString("graft.generated_always_as", _))
        id.foreach { sp =>
          b.putLong("graft.identity.start", sp.getStart)
          b.putLong("graft.identity.step", sp.getStep)
          b.putBoolean("graft.identity.allow_explicit_insert",
            sp.isAllowExplicitInsert)
        }
        f.copy(metadata = b.build())
      }
    })

  /** PARTITIONED BY validation: at most ONE transform — `identity(col)`
    * (Hive-style value directories) or `bucket(n, col)` (hash-bucket
    * directories; SPJ-eligible because the catalog's FunctionCatalog
    * serves the `bucket` V2 function Spark resolves the transform
    * against) — over an existing long/int/string column. Anything else
    * is refused loudly rather than silently flattened. */
  /** v2 Column[] → StructType, keeping generation-expression and
    * identity-column metadata (Spark's `v2ColumnsToStructType` encodes
    * only comment + default value). */
  private[sources] def v2ColumnsToSchema(
      cols: Array[org.apache.spark.sql.connector.catalog.Column])
      : StructType = {
    val base = org.apache.spark.sql.GraftSqlShim.v2ColumnsToStructType(cols)
    StructType(base.fields.zip(cols).map { case (f, c) =>
      val gen = Option(c.generationExpression())
      val id = Option(c.identityColumnSpec())
      if (gen.isEmpty && id.isEmpty) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        gen.foreach(g => mb.putString(org.apache.spark.sql.catalyst.util
          .GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY, g))
        id.foreach { s =>
          mb.putLong(org.apache.spark.sql.catalyst.util.IdentityColumn
            .IDENTITY_INFO_START, s.getStart)
          mb.putLong(org.apache.spark.sql.catalyst.util.IdentityColumn
            .IDENTITY_INFO_STEP, s.getStep)
          mb.putBoolean(org.apache.spark.sql.catalyst.util.IdentityColumn
            .IDENTITY_INFO_ALLOW_EXPLICIT_INSERT, s.isAllowExplicitInsert)
        }
        f.copy(metadata = mb.build())
      }
    })
  }

  private[sources] def identityPartCol(partitions: Array[Transform],
      schema: StructType): Option[String] = {
    if (partitions.isEmpty) return None
    val specs = partitions.toSeq.map(t => transformSpec(t, schema))
    require(specs.map(_.col).distinct.size == specs.size,
      "graft catalog: duplicate partition column in " +
        specs.map(_.col).mkString(","))
    Some(AuditPartition.serializeSpecs(specs))
  }

  /** One PARTITIONED BY transform → its serialized per-level spec. */
  private def transformSpec(t: Transform, schema: StructType)
      : AuditPartition.Spec = {
    require(t.references.length == 1 &&
      t.references.head.fieldNames.length == 1,
      s"graft catalog: single-column partition transforms only, got $t")
    val col = t.references.head.fieldNames.head
    require(schema.fieldNames.contains(col),
      s"graft catalog: partition column $col not in schema")
    t.name match {
      case "identity" => AuditPartition.Spec(col, None)
      case "bucket" =>
        val n = t.arguments.collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_]
            if lit.value.isInstanceOf[Number] =>
            lit.value.asInstanceOf[Number].intValue
        }.getOrElse(throw new IllegalArgumentException(
          s"graft catalog: bucket transform needs a literal count, got $t"))
        require(n > 0, s"graft catalog: bucket count must be positive, got $n")
        AuditPartition.Spec(col, Some(n))
      case other => throw new IllegalArgumentException(
        s"graft catalog: only identity(col) / bucket(n, col) partitioning " +
          s"is supported, got $other")
    }
  }

  /** JSON string escaping for metadata property values (same discipline as
    * the audit sink's writer: backslash, quote, control chars). */
  private val PropRe = """"prop_([a-z0-9_.-]+)":"((?:[^"\\]|\\.)*)"""".r
  private val PairRe = """"((?:[^"\\]|\\.)*)":"((?:[^"\\]|\\.)*)"""".r
  private val ColMapRe = """"colmap":\{((?:[^{}]*))\}""".r
  private val ChecksRe = """"checks":\[(.*?)\](?=,")""".r
  private val CheckEntryRe =
    """\{"name":"((?:[^"\\]|\\.)*)","sql":"((?:[^"\\]|\\.)*)"\}""".r

  /** (name, predicate SQL) pairs of the stored CHECK constraints. */
  private[sources] def parseChecks(meta: String): Seq[(String, String)] =
    ChecksRe.findFirstMatchIn(meta).toSeq.flatMap(m =>
      CheckEntryRe.findAllMatchIn(m.group(1)).map(e =>
        (unescape(e.group(1)), unescape(e.group(2)))).toSeq)

  /** Accept only enforced CHECK constraints; anything else is refused
    * loudly (an informational PK/FK/UNIQUE this engine cannot enforce
    * must never be silently recorded). */
  private[sources] def asCheck(
      c: org.apache.spark.sql.connector.catalog.constraints.Constraint)
      : (String, String) = c match {
    case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
      require(ck.predicateSql() != null && ck.predicateSql().nonEmpty,
        s"graft catalog: CHECK constraint ${ck.name()} carries no predicate SQL")
      (ck.name(), ck.predicateSql())
    case other => throw new UnsupportedOperationException(
      s"graft catalog: only CHECK constraints are supported (cannot " +
        s"enforce ${other.toDDL()})")
  }
  private val RetiredRe = """"retired":\[((?:[^\]]*))\]""".r
  private val StrRe = """"((?:[^"\\]|\\.)*)"""".r

  private[sources] def parseProps(meta: String): Map[String, String] =
    PropRe.findAllMatchIn(meta)
      .map(m => (m.group(1), unescape(m.group(2)))).toMap

  /** current→storage column map from a metadata file (empty = identity). */
  private[sources] def parseColMap(meta: String): Map[String, String] =
    ColMapRe.findFirstMatchIn(meta).map(_.group(1)) match {
      case None => Map.empty
      case Some(body) => PairRe.findAllMatchIn(body)
        .map(m => (unescape(m.group(1)), unescape(m.group(2)))).toMap
    }

  /** Storage names retired by forced DROP COLUMN. */
  private[sources] def parseRetired(meta: String): Seq[String] =
    RetiredRe.findFirstMatchIn(meta).map(_.group(1)) match {
      case None => Seq.empty
      case Some(body) => StrRe.findAllMatchIn(body)
        .map(m => unescape(m.group(1))).toSeq
    }

  private[sources] def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '"'  => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private[sources] def unescape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' if i + 1 < s.length =>
          s.charAt(i + 1) match {
            case '\\' => sb.append('\\'); i += 2
            case '"'  => sb.append('"'); i += 2
            case 'n'  => sb.append('\n'); i += 2
            case 'r'  => sb.append('\r'); i += 2
            case 't'  => sb.append('\t'); i += 2
            case 'u'  =>
              sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case other => sb.append(other); i += 2
          }
        case c => sb.append(c); i += 1
      }
    }
    sb.toString
  }
}

/** Oracle-checked queries over the catalog and the audit table format.
  *
  * Scratch rules: every fixture [[register]]s its own catalog `graft_X`,
  * whose warehouse is the fixed path `<java.io.tmpdir>/graft_catalog_X_wh`,
  * and drops and recreates its tables at query start, so repeated runs
  * (bench min-of-2) stay deterministic. Streaming checkpoints and other
  * build-time scratch go through [[graft.sources.withScratch]]; scratch a
  * returned frame still reads lives under the fixture's warehouse. */
object CatalogApi {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Register catalog `name` (`graft_X`) over its warehouse
    * `<java.io.tmpdir>/graft_catalog_X_wh` and return that path. Spark
    * caches a catalog plugin by name, so each fixture keeps its own. */
  def register(spark: SparkSession, name: String): java.nio.file.Path = {
    val wh = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_catalog_${name.stripPrefix("graft_")}_wh")
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh.toString)
    wh
  }

  /** The catalog's full SQL DDL/DML surface in one pass: CREATE TABLE →
    * INSERT INTO (aggregate of lineitem) → UPDATE (row-level rewrite) →
    * DELETE (metadata path) → SELECT back. The DuckDB oracle restates the
    * same pipeline as pure SELECT algebra over lineitem, so the hash gate
    * proves the DDL/DML round trip preserves exact values. */
  def catalogDml(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_q")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li")
    spark.sql("DROP TABLE IF EXISTS graft_q.db.flags")
    spark.sql(
      """CREATE TABLE graft_q.db.flags (
        |  l_returnflag STRING, l_linestatus STRING,
        |  n_rows BIGINT, sum_qty BIGINT) USING audit""".stripMargin)
    spark.sql(
      """INSERT INTO graft_q.db.flags
        |SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM graft_cat_li
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    spark.sql("UPDATE graft_q.db.flags SET sum_qty = 0 WHERE l_returnflag = 'R'")
    spark.sql("DELETE FROM graft_q.db.flags WHERE n_rows < 1000")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, n_rows, sum_qty
        |FROM graft_q.db.flags
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  val catalogDmlSql: String =
    """WITH g AS (
      |  SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |  FROM lineitem
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus, n_rows,
      |       CASE WHEN l_returnflag = 'R' THEN 0 ELSE sum_qty END AS sum_qty
      |FROM g
      |WHERE n_rows >= 1000
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Partitioned audit table, oracle-checked end to end: CREATE …
    * PARTITIONED BY routes an INSERT into per-value directories, then a
    * partition-predicate read opens ONLY the matching directory (the spec
    * asserts the pruning; this query hash-checks the values) and rolls up.
    * The DuckDB oracle restates the same pipeline as pure SELECT algebra. */
  def auditPartition(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qp")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li2")
    spark.sql("DROP TABLE IF EXISTS graft_qp.db.psales")
    spark.sql(
      """CREATE TABLE graft_qp.db.psales (
        |  l_returnflag STRING, l_linestatus STRING, okey BIGINT, qty BIGINT)
        |USING audit PARTITIONED BY (l_returnflag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qp.db.psales
        |SELECT l_returnflag, l_linestatus, l_orderkey,
        |       CAST(l_quantity AS BIGINT)
        |FROM graft_cat_li2 WHERE l_orderkey % 7 = 0""".stripMargin)
    spark.sql(
      """SELECT l_linestatus, count(*) AS n_rows, sum(qty) AS sum_qty,
        |       min(okey) AS min_okey, max(okey) AS max_okey
        |FROM graft_qp.db.psales
        |WHERE l_returnflag = 'R'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)
  }

  val auditPartitionSql: String =
    """SELECT l_linestatus, count(*) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey
      |FROM lineitem
      |WHERE l_orderkey % 7 = 0 AND l_returnflag = 'R'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  /** Storage-partitioned join, oracle-checked: two audit tables partitioned
    * on the same column join on that column with ZERO join-side exchanges
    * (KeyGroupedPartitioning + spark.sql.sources.v2.bucketing.enabled; the
    * spec asserts the exchange-free plan, this query hash-checks the
    * values). This is the DSv2 analogue of a co-located bucketed join —
    * at 100 TB it removes BOTH shuffles from the fact-to-fact join. */
  def auditSpj(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qs")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li3")
    spark.sql("DROP TABLE IF EXISTS graft_qs.db.spj_l")
    spark.sql("DROP TABLE IF EXISTS graft_qs.db.spj_r")
    spark.sql(
      """CREATE TABLE graft_qs.db.spj_l USING audit PARTITIONED BY (l_returnflag)
        |AS SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |   FROM graft_cat_li3 GROUP BY l_returnflag, l_linestatus""".stripMargin)
    spark.sql(
      """CREATE TABLE graft_qs.db.spj_r USING audit PARTITIONED BY (l_returnflag)
        |AS SELECT l_returnflag, count(*) AS flag_rows,
        |          sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS flag_cents
        |   FROM graft_cat_li3 GROUP BY l_returnflag""".stripMargin)
    spark.sql(
      """SELECT l.l_returnflag, l.l_linestatus, l.n_rows, l.sum_qty,
        |       r.flag_rows, r.flag_cents
        |FROM graft_qs.db.spj_l l
        |JOIN graft_qs.db.spj_r r ON l.l_returnflag = r.l_returnflag
        |ORDER BY l.l_returnflag, l.l_linestatus""".stripMargin)
  }

  val auditSpjSql: String =
    """WITH l AS (
      |  SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
      |r AS (
      |  SELECT l_returnflag, count(*) AS flag_rows,
      |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS flag_cents
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l.l_returnflag, l.l_linestatus, l.n_rows, l.sum_qty,
      |       r.flag_rows, r.flag_cents
      |FROM l JOIN r ON l.l_returnflag = r.l_returnflag
      |ORDER BY l.l_returnflag, l.l_linestatus""".stripMargin

  /** Delta-granular MERGE, oracle-checked: the table takes an aggregate of
    * lineitem, then MERGE updates every matched group and inserts a
    * sentinel group — through the [[AuditDeltaOperation]] path (one path
    * for both layouts; this table is the zero-level one), so the
    * original files stay in place and only delete vectors + the changed
    * rows are written (the spec proves the mechanics; this hash-checks
    * the values), then a modulo DELETE routes through delta too. */
  def catalogMergeDelta(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qm")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li4")
    spark.sql("DROP TABLE IF EXISTS graft_qm.db.mflags")
    spark.sql(
      """CREATE TABLE graft_qm.db.mflags (
        |  l_returnflag STRING, l_linestatus STRING,
        |  n_rows BIGINT, sum_qty BIGINT) USING audit""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qm.db.mflags
        |SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       sum(CAST(l_quantity AS BIGINT)) AS sum_qty
        |FROM graft_cat_li4
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    spark.sql(
      """MERGE INTO graft_qm.db.mflags t
        |USING (
        |  SELECT l_linestatus, count(*) AS ls_rows
        |  FROM graft_cat_li4 GROUP BY l_linestatus
        |  UNION ALL SELECT 'Z' AS l_linestatus, 999 AS ls_rows
        |) s
        |ON t.l_linestatus = s.l_linestatus
        |WHEN MATCHED THEN UPDATE SET t.sum_qty = t.sum_qty + s.ls_rows
        |WHEN NOT MATCHED THEN INSERT
        |  (l_returnflag, l_linestatus, n_rows, sum_qty)
        |  VALUES ('Z', s.l_linestatus, 0, s.ls_rows)""".stripMargin)
    spark.sql("DELETE FROM graft_qm.db.mflags WHERE n_rows % 2 = 1")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, n_rows, sum_qty
        |FROM graft_qm.db.mflags
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  val catalogMergeDeltaSql: String =
    """WITH t AS (
      |  SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
      |s AS (
      |  SELECT l_linestatus, count(*) AS ls_rows
      |  FROM lineitem GROUP BY l_linestatus),
      |merged AS (
      |  SELECT t.l_returnflag, t.l_linestatus, t.n_rows,
      |         t.sum_qty + s.ls_rows AS sum_qty
      |  FROM t JOIN s ON t.l_linestatus = s.l_linestatus
      |  UNION ALL
      |  SELECT 'Z', 'Z', CAST(0 AS BIGINT), CAST(999 AS BIGINT))
      |SELECT l_returnflag, l_linestatus, n_rows, sum_qty
      |FROM merged
      |WHERE n_rows % 2 = 0
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** PARTITIONED delta MERGE/UPDATE/DELETE, oracle-checked — the
    * partitioned twin of [[catalogMergeDelta]]: the summary table is
    * PARTITIONED BY its join key, so the MERGE's matched updates land as
    * per-directory delete-vector + txn-append pairs (no file rewritten,
    * no table truncation — the round-11 group copy-on-write this
    * replaced), the not-matched arm creates a brand-new partition
    * directory, and the delta DELETE (modulo predicate — refused by the
    * strict metadata converter) removes rows via vectors. The final
    * SELECT must read identically through the vectors. */
  def catalogMergePart(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qmp")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li5")
    spark.sql("DROP TABLE IF EXISTS graft_qmp.db.pflags")
    spark.sql(
      """CREATE TABLE graft_qmp.db.pflags (
        |  l_returnflag STRING, l_linestatus STRING,
        |  n_rows BIGINT, sum_qty BIGINT)
        |USING audit PARTITIONED BY (l_linestatus)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qmp.db.pflags
        |SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       sum(CAST(l_quantity AS BIGINT)) AS sum_qty
        |FROM graft_cat_li5
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    spark.sql(
      """MERGE INTO graft_qmp.db.pflags t
        |USING (
        |  SELECT l_linestatus, count(*) AS ls_rows
        |  FROM graft_cat_li5 GROUP BY l_linestatus
        |  UNION ALL SELECT 'Z' AS l_linestatus, 999 AS ls_rows
        |) s
        |ON t.l_linestatus = s.l_linestatus
        |WHEN MATCHED THEN UPDATE SET t.sum_qty = t.sum_qty + s.ls_rows
        |WHEN NOT MATCHED THEN INSERT
        |  (l_returnflag, l_linestatus, n_rows, sum_qty)
        |  VALUES ('Z', s.l_linestatus, 0, s.ls_rows)""".stripMargin)
    // modulo predicate → strict V2→V1 converter refuses the metadata
    // path → row-level DELTA delete (per-directory vectors)
    spark.sql("DELETE FROM graft_qmp.db.pflags WHERE n_rows % 2 = 1")
    spark.sql(
      """SELECT l_returnflag, l_linestatus, n_rows, sum_qty
        |FROM graft_qmp.db.pflags
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  // the same MERGE through the same delta path as catalogMergeDelta, on a
  // partitioned table — same oracle restatement
  val catalogMergePartSql: String = catalogMergeDeltaSql

  /** Change feed, oracle-checked: four streamed epochs + a delta MERGE +
    * a delta DELETE produce a deterministic event history — insert events
    * per epoch, delta inserts, and delete events carrying the ORIGINAL row
    * values. The rollup per (change type, commit epoch) is rebuilt by the
    * DuckDB oracle from the paged source's row formulas, so the feed's
    * event semantics (not just its counts) are hash-checked. */
  def auditCdf(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qc")
    spark.sql("DROP TABLE IF EXISTS graft_qc.db.cdf")
    spark.sql("CREATE TABLE graft_qc.db.cdf (id BIGINT, v BIGINT) USING audit")
    withScratch("graft_qc_ckpt") { ckpt =>
      val q = PagedSource.stream(spark, 4, 100, 1)
        .select(col("id"), col("duration_ms").as("v"))
        .writeStream.format(classOf[JsonAuditSink].getName)
        .option("path", wh.resolve("db").resolve("cdf").toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.sql(
      """MERGE INTO graft_qc.db.cdf t
        |USING (SELECT * FROM VALUES (5L, 111L), (17L, 111L), (1000L, 222L)
        |       AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("DELETE FROM graft_qc.db.cdf WHERE id % 100 = 3 AND id < 400")
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_epoch",
        org.apache.spark.sql.types.LongType)))
    spark.read.schema(cdfSchema).format(classOf[JsonAuditSink].getName)
      .option("path", wh.resolve("db").resolve("cdf").toString)
      .option("changeFeed", "true").load()
      .groupBy(col("_change_type").as("change_type"),
        coalesce(col("_commit_epoch"), lit(-1L)).as("commit_epoch"))
      .agg(count(lit(1)).as("n_events"), sum(col("id")).as("sum_id"),
        sum(col("v")).as("sum_v"))
      .orderBy(col("change_type"), col("commit_epoch"))
  }

  /** INCREMENTAL batch CDC, oracle-checked: stream four epochs, then a
    * downstream-style pull with `startingEpoch => 2` — exactly the
    * epochs 2..3 events arrive, pulled twice at different horizons to
    * prove the idempotent-pull shape (rows restated deterministically
    * by the oracle; the source formula is [[PagedSource]]'s). */
  def cdfIncremental(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qci")
    spark.sql("DROP TABLE IF EXISTS graft_qci.db.inc")
    spark.sql("CREATE TABLE graft_qci.db.inc (id BIGINT, v BIGINT) USING audit")
    withScratch("graft_qci_ckpt") { ckpt =>
      val q = PagedSource.stream(spark, 4, 100, 1)
        .select(col("id"), col("duration_ms").as("v"))
        .writeStream.format(classOf[JsonAuditSink].getName)
        .option("path", wh.resolve("db").resolve("inc").toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_commit_epoch",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType)))
    def pull(e: Long) = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", wh.resolve("db").resolve("inc").toString)
      .option("changeFeed", "true")
      .option("startingEpoch", e.toString).load()
    pull(2L).select(lit("since2").as("pull"), col("_commit_epoch"),
        col("id"), col("v"))
      .unionAll(pull(3L).select(lit("since3").as("pull"),
        col("_commit_epoch"), col("id"), col("v")))
      .groupBy(col("pull"), col("_commit_epoch").as("commit_epoch"))
      .agg(count(lit(1)).as("n_events"), sum(col("id")).as("sum_id"),
        sum(col("v")).as("sum_v"))
      .orderBy(col("pull"), col("commit_epoch"))
  }

  val cdfIncrementalSql: String = {
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) // 100 AS ep,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS v
      |  FROM range(400) t(r)
      |), pulls AS (
      |  SELECT 'since2' AS pull, ep, id, v FROM src WHERE ep >= 2
      |  UNION ALL
      |  SELECT 'since3', ep, id, v FROM src WHERE ep >= 3
      |)
      |SELECT pull, CAST(ep AS BIGINT) AS commit_epoch,
      |       count(*) AS n_events, CAST(sum(id) AS BIGINT) AS sum_id,
      |       CAST(sum(v) AS BIGINT) AS sum_v
      |FROM pulls GROUP BY pull, ep
      |ORDER BY pull, commit_epoch""".stripMargin
  }

  /** COMPACTED-TABLE TIME TRAVEL, oracle-checked: a mixed table (batch
    * insert + delta UPDATE) is OPTIMIZEd into a base checkpoint, then
    * extended — travel instants BEFORE the compaction must resolve from
    * the base BY ORIGIN (the folded manifest tombstones retain each
    * batch vintage's commit time; origin-keyed vectors apply
    * time-filtered): (pre) before the UPDATE sees originals only,
    * (upd) after it sees the updated state, (now) sees everything, and
    * (cur) the plain read must agree with (now). */
  def auditTravelCompacted(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qtc")
    spark.sql("DROP TABLE IF EXISTS graft_qtc.db.tc")
    spark.sql("CREATE TABLE graft_qtc.db.tc (id BIGINT, v BIGINT) " +
      "USING audit")
    spark.sql("INSERT INTO graft_qtc.db.tc SELECT id, id FROM range(100)")
    Thread.sleep(8)
    val path = wh.resolve("db").resolve("tc").toString
    val tA = AuditBase.readManifest(path).flatMap(_.ts).max
    Thread.sleep(8)
    spark.sql("UPDATE graft_qtc.db.tc SET v = 999 WHERE id % 10 = 3")
    Thread.sleep(8)
    val tU = System.currentTimeMillis()
    spark.sql("CALL graft_qtc.system.optimize(table => 'db.tc', " +
      "target_file_count => 2)")
    Thread.sleep(8)
    spark.sql("INSERT INTO graft_qtc.db.tc SELECT id + 500, id FROM range(20)")
    Thread.sleep(8)
    val tNow = System.currentTimeMillis()
    require(tA < tU && tU < tNow, s"commit ordering tie ($tA, $tU, $tNow)")
    def sliceAt(label: String, ms: Long): DataFrame = spark.sql(
      s"""SELECT '$label' AS grp, count(*) AS n, sum(v) AS sum_v
         |FROM graft_qtc.db.tc TIMESTAMP AS OF timestamp_millis($ms)"""
        .stripMargin)
    sliceAt("pre", tA)
      .unionAll(sliceAt("upd", tU))
      .unionAll(sliceAt("tnow", tNow))
      .unionAll(spark.sql(
        """SELECT 'cur' AS grp, count(*) AS n, sum(v) AS sum_v
          |FROM graft_qtc.db.tc""".stripMargin))
      .orderBy(col("grp"))
  }

  val auditTravelCompactedSql: String =
    """WITH pre AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) AS v
      |  FROM range(100) t(r)),
      |upd AS (
      |  SELECT id, CASE WHEN id % 10 = 3 THEN 999 ELSE v END AS v FROM pre),
      |now_state AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT CAST(t.r AS BIGINT) + 500, CAST(t.r AS BIGINT)
      |  FROM range(20) t(r))
      |SELECT 'pre' AS grp, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v
      |FROM pre
      |UNION ALL SELECT 'upd', count(*), CAST(sum(v) AS BIGINT) FROM upd
      |UNION ALL SELECT 'tnow', count(*), CAST(sum(v) AS BIGINT) FROM now_state
      |UNION ALL SELECT 'cur', count(*), CAST(sum(v) AS BIGINT) FROM now_state
      |ORDER BY grp""".stripMargin

  /** POST-FOLD TIME TRAVEL, oracle-checked: a batch table takes delta
    * DELETEs, VACUUM folds their vectors (physically blanking the rows —
    * the point of no return for PRE-fold instants), a second DELETE lands
    * after the fold, and `TIMESTAMP AS OF` still answers exactly for
    * instants at/after the fold watermark: the `fold` slice (pinned
    * between the folded and the post-fold DELETE) sees the first delete
    * applied and the second not. Routine maintenance must not destroy the
    * time-travel feature for the whole post-fold future; pre-watermark
    * instants refuse loudly (AuditTravelFoldedSpec). */
  def auditTravelFolded(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qtf")
    spark.sql("DROP TABLE IF EXISTS graft_qtf.db.tf")
    spark.sql("CREATE TABLE graft_qtf.db.tf (id BIGINT, v BIGINT) USING audit")
    spark.sql("INSERT INTO graft_qtf.db.tf SELECT id, id FROM range(100)")
    Thread.sleep(8)
    spark.sql("DELETE FROM graft_qtf.db.tf WHERE id % 10 = 3")
    val path = wh.resolve("db").resolve("tf").toString
    // the pin must sit at/after every first-delete stamp (stamps can run
    // ahead of the wall clock under the monotonic floor) — maxVisibleTs
    // IS the fold watermark the upcoming VACUUM will record
    val tFold = AuditBase.maxVisibleTs(path)
    spark.sql("CALL graft_qtf.system.vacuum(table => 'db.tf')")
    require(AuditDeletes.foldedRows(path) == 10L,
      s"expected the VACUUM to fold 10 vectors, " +
        s"got ${AuditDeletes.foldedRows(path)}")
    Thread.sleep(8)
    spark.sql("DELETE FROM graft_qtf.db.tf WHERE id % 10 = 7")
    val tPost = AuditBase.maxVisibleTs(path)
    require(tFold < tPost, s"commit ordering tie ($tFold, $tPost)")
    def sliceAt(label: String, ms: Long): DataFrame = spark.sql(
      s"""SELECT '$label' AS grp, count(*) AS n, sum(v) AS sum_v
         |FROM graft_qtf.db.tf TIMESTAMP AS OF timestamp_millis($ms)"""
        .stripMargin)
    sliceAt("fold", tFold)
      .unionAll(sliceAt("post", tPost))
      .unionAll(spark.sql(
        """SELECT 'cur' AS grp, count(*) AS n, sum(v) AS sum_v
          |FROM graft_qtf.db.tf""".stripMargin))
      .orderBy(col("grp"))
  }

  val auditTravelFoldedSql: String =
    """WITH base AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) AS v
      |  FROM range(100) t(r)),
      |fold_state AS (SELECT * FROM base WHERE id % 10 <> 3),
      |post_state AS (SELECT * FROM fold_state WHERE id % 10 <> 7)
      |SELECT 'cur' AS grp, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v
      |FROM post_state
      |UNION ALL SELECT 'fold', count(*), CAST(sum(v) AS BIGINT) FROM fold_state
      |UNION ALL SELECT 'post', count(*), CAST(sum(v) AS BIGINT) FROM post_state
      |ORDER BY grp""".stripMargin

  /** RETENTION-AWARE VACUUM, oracle-checked: two delta DELETEs straddle
    * an `older_than` cutoff. The VACUUM folds ONLY the pre-cutoff
    * vectors (the round-17 retention contract: the fold watermark stays
    * under the advertised horizon), so `TIMESTAMP AS OF` keeps
    * answering at the cutoff (first delete applied, second not), after
    * both, and at the current state — while the in-window vectors stay
    * positional (AuditRetentionFoldSpec pins the refusal half and the
    * crash-recovery intents). */
  def auditTravelRetained(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qtr")
    spark.sql("DROP TABLE IF EXISTS graft_qtr.db.tr")
    spark.sql("CREATE TABLE graft_qtr.db.tr (id BIGINT, v BIGINT) USING audit")
    spark.sql("INSERT INTO graft_qtr.db.tr SELECT id, id FROM range(100)")
    spark.sql("DELETE FROM graft_qtr.db.tr WHERE id % 10 = 3")
    val path = wh.resolve("db").resolve("tr").toString
    val tCut = AuditBase.maxVisibleTs(path) + 1L
    spark.sql("DELETE FROM graft_qtr.db.tr WHERE id % 10 = 7")
    val tNow = AuditBase.maxVisibleTs(path)
    spark.sql("CALL graft_qtr.system.vacuum(table => 'db.tr', " +
      s"older_than => timestamp_millis($tCut))")
    require(AuditDeletes.foldedRows(path) == 10L &&
      AuditDeletes.entries(path).size == 10,
      s"expected exactly the pre-cutoff vectors folded, got " +
        s"${AuditDeletes.foldedRows(path)} folded / " +
        s"${AuditDeletes.entries(path).size} positional")
    def sliceAt(label: String, ms: Long): DataFrame = spark.sql(
      s"""SELECT '$label' AS grp, count(*) AS n, sum(v) AS sum_v
         |FROM graft_qtr.db.tr TIMESTAMP AS OF timestamp_millis($ms)"""
        .stripMargin)
    sliceAt("cut", tCut)
      .unionAll(sliceAt("post", tNow))
      .unionAll(spark.sql(
        """SELECT 'cur' AS grp, count(*) AS n, sum(v) AS sum_v
          |FROM graft_qtr.db.tr""".stripMargin))
      .orderBy(col("grp"))
  }

  /** PARTITION-FILTERED OPTIMIZE, oracle-checked: only flag=1 compacts
    * (`partition_filter`); the other directories keep their live files
    * and history. The frame proves per-flag groups, a pruned read on
    * the compacted partition, post-compaction appends landing live in
    * ALL dirs, and commit-time travel to the pre-append instant — all
    * restated by DuckDB from the generation arithmetic.
    * AuditPartialOptimizeSpec pins the raced-append and mixed-boundary
    * RESTORE halves. */
  def auditPartOptimizeWhere(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qpow")
    spark.sql("DROP TABLE IF EXISTS graft_qpow.db.tw")
    spark.sql(
      """CREATE TABLE graft_qpow.db.tw (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    spark.sql("INSERT INTO graft_qpow.db.tw SELECT id, id % 3 " +
      "FROM range(120)")
    spark.sql("DELETE FROM graft_qpow.db.tw WHERE id % 12 = 5")
    val path = wh.resolve("db").resolve("tw").toString
    spark.sql("CALL graft_qpow.system.optimize(table => 'db.tw', " +
      "target_file_count => 2, partition_filter => 'flag=1')")
    require(AuditBase.read(
      wh.resolve("db/tw/flag=1").toString).isDefined &&
      AuditBase.read(wh.resolve("db/tw/flag=0").toString).isEmpty &&
      AuditBase.read(wh.resolve("db/tw/flag=2").toString).isEmpty,
      "partition_filter must compact exactly flag=1")
    def dirMax: Long = AuditPartition.listDirsByCols(path, Seq("flag"))
      .map { case (_, dd) => AuditBase.maxVisibleTs(dd.toString) }.max
    val tMid = dirMax
    spark.sql("INSERT INTO graft_qpow.db.tw SELECT id + 1000, id % 3 " +
      "FROM range(30)")
    spark.sql(
      s"""SELECT 'cur' AS grp, flag, count(*) AS n, sum(id) AS sum_id
         |FROM graft_qpow.db.tw GROUP BY flag""".stripMargin)
      .unionAll(spark.sql(
        s"""SELECT 'mid' AS grp, flag, count(*) AS n, sum(id) AS sum_id
           |FROM graft_qpow.db.tw
           |TIMESTAMP AS OF timestamp_millis($tMid) GROUP BY flag"""
          .stripMargin))
      .unionAll(spark.sql(
        """SELECT 'prune' AS grp, flag, count(*) AS n, sum(id) AS sum_id
          |FROM graft_qpow.db.tw WHERE flag = 1 GROUP BY flag"""
          .stripMargin))
      .orderBy(col("grp"), col("flag"))
  }

  val auditPartOptimizeWhereSql: String =
    """WITH first AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(120) t(r)),
      |mid_state AS (SELECT * FROM first WHERE id % 12 <> 5),
      |cur_state AS (
      |  SELECT * FROM mid_state
      |  UNION ALL
      |  SELECT CAST(t.r AS BIGINT) + 1000, CAST(t.r AS BIGINT) % 3
      |  FROM range(30) t(r))
      |SELECT 'cur' AS grp, flag, count(*) AS n,
      |       CAST(sum(id) AS BIGINT) AS sum_id
      |FROM cur_state GROUP BY flag
      |UNION ALL SELECT 'mid', flag, count(*), CAST(sum(id) AS BIGINT)
      |FROM mid_state GROUP BY flag
      |UNION ALL SELECT 'prune', flag, count(*), CAST(sum(id) AS BIGINT)
      |FROM cur_state WHERE flag = 1 GROUP BY flag
      |ORDER BY grp, flag""".stripMargin

  /** RANGE/IN `partition_filter` (round 18): "compact the last N days"
    * is ONE call — one lease, one raced-append window — instead of N.
    * A day-partitioned table is compacted with a bounded range selector
    * (`day >= 3, day <= 5`) then an IN-list (`day IN (0,6)`); the frame
    * proves per-day counts/sums current, at a mixed-boundary travel
    * instant, and under a pruned range read. */
  def auditPartOptimizeRange(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qpor")
    spark.sql("DROP TABLE IF EXISTS graft_qpor.db.tr")
    spark.sql(
      """CREATE TABLE graft_qpor.db.tr (id BIGINT, day BIGINT)
        |USING audit PARTITIONED BY (day)""".stripMargin)
    spark.sql("INSERT INTO graft_qpor.db.tr SELECT id, id % 7 " +
      "FROM range(140)")
    spark.sql("DELETE FROM graft_qpor.db.tr WHERE id % 10 = 3")
    val path = wh.resolve("db").resolve("tr").toString
    spark.sql("CALL graft_qpor.system.optimize(table => 'db.tr', " +
      "target_file_count => 2, partition_filter => " +
      "'day >= 3, day <= 5')")
    spark.sql("CALL graft_qpor.system.optimize(table => 'db.tr', " +
      "target_file_count => 1, partition_filter => 'day IN (0,6)')")
    val based = (0L to 6L).filter(dd => AuditBase.read(
      wh.resolve(s"db/tr/day=$dd").toString).isDefined).toSet
    require(based == Set(0L, 3L, 4L, 5L, 6L),
      s"range+IN selectors must compact exactly days 0,3,4,5,6 — got $based")
    val tMid = AuditPartition.listDirsByCols(path, Seq("day"))
      .map { case (_, dd) => AuditBase.maxVisibleTs(dd.toString) }.max
    spark.sql("INSERT INTO graft_qpor.db.tr SELECT id + 1000, id % 7 " +
      "FROM range(35)")
    spark.sql(
      """SELECT 'cur' AS grp, day, count(*) AS n, sum(id) AS sum_id
        |FROM graft_qpor.db.tr GROUP BY day""".stripMargin)
      .unionAll(spark.sql(
        s"""SELECT 'mid' AS grp, day, count(*) AS n, sum(id) AS sum_id
           |FROM graft_qpor.db.tr
           |TIMESTAMP AS OF timestamp_millis($tMid) GROUP BY day"""
          .stripMargin))
      .unionAll(spark.sql(
        """SELECT 'range' AS grp, day, count(*) AS n, sum(id) AS sum_id
          |FROM graft_qpor.db.tr WHERE day BETWEEN 3 AND 5 GROUP BY day"""
          .stripMargin))
      .orderBy(col("grp"), col("day"))
  }

  val auditPartOptimizeRangeSql: String =
    """WITH first AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 7 AS day
      |  FROM range(140) t(r)),
      |mid_state AS (SELECT * FROM first WHERE id % 10 <> 3),
      |cur_state AS (
      |  SELECT * FROM mid_state
      |  UNION ALL
      |  SELECT CAST(t.r AS BIGINT) + 1000, CAST(t.r AS BIGINT) % 7
      |  FROM range(35) t(r))
      |SELECT 'cur' AS grp, day, count(*) AS n,
      |       CAST(sum(id) AS BIGINT) AS sum_id
      |FROM cur_state GROUP BY day
      |UNION ALL SELECT 'mid', day, count(*), CAST(sum(id) AS BIGINT)
      |FROM mid_state GROUP BY day
      |UNION ALL SELECT 'range', day, count(*), CAST(sum(id) AS BIGINT)
      |FROM cur_state WHERE day BETWEEN 3 AND 5 GROUP BY day
      |ORDER BY grp, day""".stripMargin

  /** PLAN → APPLY round trip, oracle-checked: the worst-case composite
    * maintenance state (two fragmented dirs + a vector backlog turned
    * into a CRASHED fold on flag=1) is healed by ONE
    * `CALL system.maintenance_apply`. The result frame pins the EXACT
    * executed CALL strings (VACUUM for the crashed fold strictly first,
    * then one IN-list-batched OPTIMIZE over both flagged dirs — N dirs,
    * one lease), the re-plan converging to all-"none", and the final
    * per-partition counts/sums — all restated by the DuckDB oracle from
    * the generation arithmetic, so a heal that lost a row, skipped a
    * target, or emitted a different recommendation hash-fails. */
  def maintenanceApplyQ(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qma")
    spark.sql("DROP TABLE IF EXISTS graft_qma.db.t")
    spark.sql(
      """CREATE TABLE graft_qma.db.t (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    // REPARTITION(1): exactly one initial file per dir regardless of the
    // session's shuffle partitioning — the plan thresholds below then
    // flag deterministically (flag 0/2: 10 live files; flag 1: 1)
    spark.sql("INSERT INTO graft_qma.db.t " +
      "SELECT /*+ REPARTITION(1) */ id, id % 3 FROM range(90)")
    (0 until 9).foreach { i =>
      spark.sql(s"INSERT INTO graft_qma.db.t VALUES (${1000 + i}, 0)")
      spark.sql(s"INSERT INTO graft_qma.db.t VALUES (${2000 + i}, 2)")
    }
    spark.sql("DELETE FROM graft_qma.db.t WHERE id % 10 = 3")
    // crash flag=1's fold: fold the table, then restore that dir's
    // entries with pending intents — the mid-fold state OPTIMIZE
    // refuses through and the plan prioritizes
    val d1 = wh.resolve("db").resolve("t").resolve("flag=1").toString
    val pre = AuditDeletes.entriesWithTs(d1)
    spark.sql("CALL graft_qma.system.vacuum(table => 'db.t')")
    AuditDeletes.replace(d1, pre, Map.empty, foldIntents = pre)
    val applied = spark.sql("CALL graft_qma.system.maintenance_apply(" +
      "table => 'db.t', vector_threshold => 2)").collect().toSeq.map(r =>
      (s"call/${r.getInt(0)}/${r.getString(2)}",
        s"${r.getString(1)} :: ${r.getString(3)}", 1L, 0L))
    val planNone = spark.sql("CALL graft_qma.system.maintenance_plan(" +
      "table => 'db.t', vector_threshold => 2)").collect()
      .count(_.getString(5) == "none").toLong
    import spark.implicits._
    (applied ++ Seq(("plan/none", "", planNone, 0L)))
      .toDF("grp", "detail", "n", "sum_id")
      .unionAll(spark.sql(
        """SELECT concat('cur/', CAST(flag AS STRING)) AS grp,
          |       '' AS detail, count(*) AS n, sum(id) AS sum_id
          |FROM graft_qma.db.t GROUP BY flag""".stripMargin))
      .orderBy(col("grp"), col("detail"))
  }

  val maintenanceApplySql: String =
    """WITH first AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(90) t(r)
      |  UNION ALL SELECT CAST(t.r AS BIGINT) + 1000, 0 FROM range(9) t(r)
      |  UNION ALL SELECT CAST(t.r AS BIGINT) + 2000, 2 FROM range(9) t(r)),
      |cur AS (SELECT * FROM first WHERE id % 10 <> 3)
      |SELECT 'call/1/VACUUM' AS grp,
      |       'flag=1 :: CALL graft_qma.system.vacuum(table => ''db.t'', partition_filter => ''flag=1'')' AS detail,
      |       CAST(1 AS BIGINT) AS n, CAST(0 AS BIGINT) AS sum_id
      |UNION ALL
      |SELECT 'call/1/OPTIMIZE',
      |       '2 dirs :: CALL graft_qma.system.optimize(table => ''db.t'', target_file_count => 1, partition_filter => ''flag IN (0,2)'')',
      |       CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'call/2/none',
      |       '(plan) :: converged: every target healthy',
      |       CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'plan/none', '', CAST(3 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'cur/' || CAST(flag AS VARCHAR), '', count(*),
      |       CAST(sum(id) AS BIGINT)
      |FROM cur GROUP BY flag
      |ORDER BY grp, detail""".stripMargin

  /** BYTE-AWARE PLANNER round trip, oracle-checked (round 20): manifest
    * lines now carry per-file byte sizes, so the planner can tell
    * 10×tiny fragments from 10×big files — a distinction file counts
    * can't make. The fixture builds exactly that state (2×400-row files
    * + 10 single-row fragments = 12 files, under a max_live_files=20
    * policy), and the frame pins: the count-only plan reading healthy,
    * the byte-aware plan naming the fragment merge, a live_bytes sanity
    * band (sizes are format-dependent, so the oracle checks the band
    * bit, not raw bytes), the apply's exact executed CALL +
    * convergence, the post-heal plan, and the final count/sum restated
    * from the generation arithmetic. */
  def maintenancePlanBytesQ(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    register(spark, "graft_qmb")
    spark.sql("DROP TABLE IF EXISTS graft_qmb.db.b")
    spark.sql("CREATE TABLE graft_qmb.db.b (id BIGINT, v BIGINT) USING audit")
    spark.sql("INSERT INTO graft_qmb.db.b " +
      "SELECT /*+ REPARTITION(1) */ id, id % 7 FROM range(400)")
    spark.sql("INSERT INTO graft_qmb.db.b " +
      "SELECT /*+ REPARTITION(1) */ id + 400, id % 7 FROM range(400)")
    (0 until 10).foreach(i => spark.sql(
      s"INSERT INTO graft_qmb.db.b VALUES (${1000 + i}, 0)"))
    def planRow(args: String) = spark.sql(
      s"CALL graft_qmb.system.maintenance_plan(table => 'db.b'$args)").head
    val r0 = planRow(", max_live_files => 20")
    val r1 = planRow(", max_live_files => 20, small_file_bytes => 500")
    // 810 one-line JSON rows: ≥10 and ≤200 bytes each is format-safe
    val bytesSane = !r0.isNullAt(7) &&
      r0.getLong(7) > 810L * 10 && r0.getLong(7) < 810L * 200
    val applied = spark.sql("CALL graft_qmb.system.maintenance_apply(" +
      "table => 'db.b', max_live_files => 20, small_file_bytes => 500)")
      .collect().toSeq.map(r =>
        (s"call/${r.getInt(0)}/${r.getString(2)}",
          s"${r.getString(1)} :: ${r.getString(3)}", 1L, 0L))
    val r2 = planRow(", max_live_files => 20, small_file_bytes => 500")
    import spark.implicits._
    (Seq(
      ("plan/count_only", s"${r0.getString(5)} :: ${r0.getString(6)}",
        r0.getInt(1).toLong, 0L),
      ("plan/bytes", s"${r1.getString(5)} :: ${r1.getString(6)}",
        r1.getInt(1).toLong, 0L),
      ("plan/bytes_sane", "", if (bytesSane) 1L else 0L, 0L),
      ("plan/after", s"${r2.getString(5)} :: ${r2.getString(6)}",
        r2.getInt(1).toLong, 0L)) ++ applied)
      .toDF("grp", "detail", "n", "sum_id")
      .unionAll(spark.sql(
        """SELECT 'cur' AS grp, '' AS detail, count(*) AS n,
          |       sum(id) AS sum_id
          |FROM graft_qmb.db.b""".stripMargin))
      .orderBy(col("grp"), col("detail"))
  }

  val maintenancePlanBytesSql: String =
    """WITH first AS (
      |  SELECT CAST(t.r AS BIGINT) AS id FROM range(800) t(r)
      |  UNION ALL SELECT CAST(t.r AS BIGINT) + 1000 FROM range(10) t(r))
      |SELECT 'call/1/OPTIMIZE' AS grp,
      |       '(table) :: CALL graft_qmb.system.optimize(table => ''db.b'', target_file_count => 1)' AS detail,
      |       CAST(1 AS BIGINT) AS n, CAST(0 AS BIGINT) AS sum_id
      |UNION ALL
      |SELECT 'call/2/none', '(plan) :: converged: every target healthy',
      |       CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'plan/count_only', 'none :: healthy',
      |       CAST(12 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'plan/bytes',
      |       'OPTIMIZE :: merge 10 fragment files (< 500 bytes each)',
      |       CAST(12 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'plan/bytes_sane', '', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'plan/after', 'none :: healthy',
      |       CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'cur', '', count(*), CAST(sum(id) AS BIGINT) FROM first
      |ORDER BY grp, detail""".stripMargin

  val auditTravelRetainedSql: String =
    """WITH base AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) AS v
      |  FROM range(100) t(r)),
      |cut_state AS (SELECT * FROM base WHERE id % 10 <> 3),
      |post_state AS (SELECT * FROM cut_state WHERE id % 10 <> 7)
      |SELECT 'cur' AS grp, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v
      |FROM post_state
      |UNION ALL SELECT 'cut', count(*), CAST(sum(v) AS BIGINT) FROM cut_state
      |UNION ALL SELECT 'post', count(*), CAST(sum(v) AS BIGINT) FROM post_state
      |ORDER BY grp""".stripMargin

  /** PARTITION-SPEC EVOLUTION, oracle-checked: a day-partitioned table
    * with delta-DML history is rewritten to a region-partitioned layout
    * by `CALL system.repartition_table` (staged sibling tree + atomic
    * swap). The result frame proves (pre) the answer captured BEFORE the
    * call, (post) the same groups re-read from the NEW layout, (prune) a
    * partition-pruned read on the new column, and (__meta__) the new
    * directory count and total rows the procedure reported — all
    * restated by the DuckDB oracle from the generation arithmetic, so a
    * swap that lost or duplicated a single row hash-fails. */
  def catalogRepartition(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    register(spark, "graft_qrp")
    spark.sql("DROP TABLE IF EXISTS graft_qrp.db.r")
    spark.sql("CREATE TABLE graft_qrp.db.r (id BIGINT, day BIGINT, " +
      "region BIGINT, v BIGINT) USING audit PARTITIONED BY (day)")
    spark.sql("INSERT INTO graft_qrp.db.r " +
      "SELECT id, id % 5, id % 3, id * 2 FROM range(300)")
    spark.sql("UPDATE graft_qrp.db.r SET v = 111 WHERE id % 50 = 7")
    val groupSql = "SELECT region, count(*) AS n, sum(v) AS sum_v " +
      "FROM graft_qrp.db.r GROUP BY region"
    // materialize the PRE answer before the swap (lazy frames would
    // re-read the new layout and prove nothing)
    val pre = spark.sql(groupSql).collect().toSeq.map(r =>
      (s"pre/${r.getLong(0)}", r.getLong(1), r.getLong(2)))
    val res = spark.sql("CALL graft_qrp.system.repartition_table(" +
      "table => 'db.r', spec => 'region')").head
    val meta = Seq(("__meta__", res.getInt(2).toLong, res.getLong(3)))
    import spark.implicits._
    (pre ++ meta).toDF("grp", "n", "sum_v")
      .unionAll(spark.sql(groupSql).select(
        concat(lit("post/"), col("region").cast("string")).as("grp"),
        col("n"), col("sum_v")))
      .unionAll(spark.sql(
        """SELECT 'prune' AS grp, count(*) AS n, sum(v) AS sum_v
          |FROM graft_qrp.db.r WHERE region = 1""".stripMargin))
      .orderBy(col("grp"))
  }

  val catalogRepartitionSql: String =
    """WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS region,
      |         CASE WHEN t.r % 50 = 7 THEN 111 ELSE CAST(t.r AS BIGINT) * 2
      |         END AS v
      |  FROM range(300) t(r)),
      |g AS (
      |  SELECT region, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v
      |  FROM src GROUP BY region)
      |SELECT 'pre/' || CAST(region AS VARCHAR) AS grp, n, sum_v FROM g
      |UNION ALL
      |SELECT 'post/' || CAST(region AS VARCHAR), n, sum_v FROM g
      |UNION ALL
      |SELECT 'prune', n, sum_v FROM g WHERE region = 1
      |UNION ALL
      |SELECT '__meta__', 3, 300
      |ORDER BY grp""".stripMargin

  /** MIXED-HISTORY incremental batch CDC, oracle-checked: a table whose
    * history interleaves streaming epochs, an OCC batch append and
    * row-level DML is pulled incrementally with
    * `option("startingTimestamp", t)` — the COMMIT-TIME axis all three
    * logs now carry — at three instants: after wave 1 (must emit the
    * batch append + wave 2 + the DML events, each EXACTLY once), after
    * the batch append (wave 2 + DML), and after wave 2 (the DML's four
    * delete/insert pairs only). Every event must carry a non-null
    * `_commit_ts`, the value a puller checkpoints (`max + 1`) for the
    * next exactly-once window. This closes the round-14 gap where a
    * mixed table refused incremental pulls outright. */
  def cdfIncrementalMixed(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qcim")
    spark.sql("DROP TABLE IF EXISTS graft_qcim.db.inc")
    spark.sql("CREATE TABLE graft_qcim.db.inc (id BIGINT, v BIGINT) " +
      "USING audit")
    withScratch("graft_qcim_ckpt") { ckpt =>
      def wave(pages: Int): Unit = {
        val w = PagedSource.stream(spark, pages, 100, 1)
          .selectExpr("id", "id AS v")
          .writeStream.option("checkpointLocation", ckpt.toString)
          .outputMode("append").toTable("graft_qcim.db.inc")
        try w.processAllAvailable() finally w.stop()
      }
      wave(2) // epochs 0-1: ids 0..199
      Thread.sleep(8)
      spark.sql("INSERT INTO graft_qcim.db.inc " +
        "SELECT id + 1000, id + 1000 FROM range(50)")
      Thread.sleep(8)
      wave(4) // epochs 2-3: ids 200..399
    }
    Thread.sleep(8)
    // vectors + replacement rows, ONE commit ts for the statement
    spark.sql("UPDATE graft_qcim.db.inc SET v = 999 " +
      "WHERE id % 100 = 7 AND id < 400")
    val path = wh.resolve("db").resolve("inc").toString
    val tsByEpoch = AuditScan.epochTimestamps(path)
    val tBatch = AuditBase.readManifest(path).flatMap(_.ts).min
    require(tsByEpoch(1L) < tBatch && tBatch < tsByEpoch(2L),
      s"commit times not strictly ordered (${tsByEpoch(1L)}, $tBatch, " +
        s"${tsByEpoch(2L)}) — ms-clock tie")
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_ts",
        org.apache.spark.sql.types.LongType)))
    def pull(label: String, sinceMs: Long) = spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", path)
      .option("changeFeed", "true")
      .option("startingTimestamp", sinceMs.toString).load()
      .select(lit(label).as("pull"), col("_change_type").as("change_type"),
        col("id"), col("v"), col("_commit_ts"))
    pull("sinceW1", tsByEpoch(1L) + 1)
      .unionAll(pull("sinceBatch", tBatch + 1))
      .unionAll(pull("sinceW2", tsByEpoch(3L) + 1))
      .groupBy(col("pull"), col("change_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("id")).as("sum_id"),
        sum(col("v")).as("sum_v"),
        // every event must carry its commit ts (what a puller checkpoints)
        count(col("_commit_ts")).as("n_ts"))
      .orderBy(col("pull"), col("change_type"))
  }

  val cdfIncrementalMixedSql: String =
    """WITH w2 AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) AS v
      |  FROM range(200, 400) t(r)),
      |b AS (
      |  SELECT CAST(t.r AS BIGINT) + 1000 AS id, CAST(t.r AS BIGINT) + 1000 AS v
      |  FROM range(50) t(r)),
      |dml_del AS (
      |  SELECT id, v FROM (VALUES (7, 7), (107, 107), (207, 207),
      |                            (307, 307)) AS m(id, v)),
      |dml_ins AS (SELECT id, 999 AS v FROM dml_del),
      |ev AS (
      |  SELECT 'sinceW1' AS pull, 'insert' AS change_type, id, v FROM b
      |  UNION ALL SELECT 'sinceW1', 'insert', id, v FROM w2
      |  UNION ALL SELECT 'sinceW1', 'insert', id, v FROM dml_ins
      |  UNION ALL SELECT 'sinceW1', 'delete', id, v FROM dml_del
      |  UNION ALL SELECT 'sinceBatch', 'insert', id, v FROM w2
      |  UNION ALL SELECT 'sinceBatch', 'insert', id, v FROM dml_ins
      |  UNION ALL SELECT 'sinceBatch', 'delete', id, v FROM dml_del
      |  UNION ALL SELECT 'sinceW2', 'insert', id, v FROM dml_ins
      |  UNION ALL SELECT 'sinceW2', 'delete', id, v FROM dml_del
      |)
      |SELECT pull, change_type, count(*) AS n_events,
      |       CAST(sum(id) AS BIGINT) AS sum_id,
      |       CAST(sum(v) AS BIGINT) AS sum_v,
      |       count(*) AS n_ts
      |FROM ev GROUP BY pull, change_type
      |ORDER BY pull, change_type""".stripMargin

  val auditCdfSql: String = {
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS v
      |  FROM range(400) t(r)
      |),
      |ev AS (
      |  SELECT 'insert' AS change_type, id // 100 AS commit_epoch, id, v FROM src
      |  UNION ALL
      |  SELECT 'insert', CAST(-1 AS BIGINT), id, v
      |  FROM (VALUES (5, 111), (17, 111), (1000, 222)) AS m(id, v)
      |  UNION ALL
      |  SELECT 'delete', CAST(-1 AS BIGINT), id, v FROM src
      |  WHERE id IN (5, 17) OR id % 100 = 3
      |)
      |SELECT change_type, commit_epoch, count(*) AS n_events,
      |       CAST(sum(id) AS BIGINT) AS sum_id, CAST(sum(v) AS BIGINT) AS sum_v
      |FROM ev
      |GROUP BY change_type, commit_epoch
      |ORDER BY change_type, commit_epoch""".stripMargin
  }

  /** OPTIMIZE + VACUUM, oracle-checked: four streamed epochs + delta
    * MERGE/DELETE, then `CALL system.optimize` (compaction into 2 sorted
    * base files) and `CALL system.vacuum` (reclaim epoch files, retain the
    * 2 newest versions). The final read unions the CURRENT state with a
    * RETAINED `VERSION AS OF` — both now served entirely from the
    * origin-tagged base checkpoint — and the DuckDB oracle rebuilds both
    * from the paged source's row formulas, so the hash gate proves
    * maintenance changed the LAYOUT and nothing else. (The spec covers the
    * expiry error, file counts, and sort order.) */
  def auditOptimize(spark: SparkSession, d: String): DataFrame = {
    val wh = register(spark, "graft_qv")
    spark.sql("DROP TABLE IF EXISTS graft_qv.db.optt")
    spark.sql("CREATE TABLE graft_qv.db.optt (id BIGINT, v BIGINT) USING audit")
    withScratch("graft_qv_ckpt") { ckpt =>
      val q = PagedSource.stream(spark, 4, 100, 1)
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("duration_ms").as("v"))
        .writeStream.format(classOf[JsonAuditSink].getName)
        .option("path", wh.resolve("db").resolve("optt").toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.sql(
      """MERGE INTO graft_qv.db.optt t
        |USING (SELECT * FROM VALUES (5L, 111L), (17L, 111L), (1000L, 222L)
        |       AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("DELETE FROM graft_qv.db.optt WHERE id % 100 = 3 AND id < 400")
    spark.sql(
      "CALL graft_qv.system.optimize(table => 'db.optt', " +
        "target_file_count => 2, sort_by => 'id')")
    spark.sql("CALL graft_qv.system.vacuum(table => 'db.optt', retain_last => 2)")
    spark.sql(
      """SELECT 'current' AS src, count(*) AS n_rows,
        |       sum(id) AS sum_id, sum(v) AS sum_v
        |FROM graft_qv.db.optt
        |UNION ALL
        |SELECT 'asof2' AS src, count(*) AS n_rows,
        |       sum(id) AS sum_id, sum(v) AS sum_v
        |FROM graft_qv.db.optt VERSION AS OF 2
        |ORDER BY src""".stripMargin)
  }

  /** GROUPED metadata count, oracle-checked: `GROUP BY <partition col>`
    * with COUNT(*) answers one row per partition directory from its
    * manifest — zero data files opened (the spec asserts the
    * AuditGroupCountScan plan; this gate hash-checks the counts). At
    * 100 TB this is the "row counts per partition" dashboard query as a
    * pure metadata lookup. */
  def auditGroupCount(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qg")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li6")
    spark.sql("DROP TABLE IF EXISTS graft_qg.db.gsales")
    spark.sql(
      """CREATE TABLE graft_qg.db.gsales (okey BIGINT, l_returnflag STRING)
        |USING audit PARTITIONED BY (l_returnflag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qg.db.gsales
        |SELECT l_orderkey, l_returnflag FROM graft_cat_li6""".stripMargin)
    spark.sql(
      """SELECT l_returnflag, count(*) AS n_rows
        |FROM graft_qg.db.gsales
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  val auditGroupCountSql: String =
    """SELECT l_returnflag, count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** OPTIMIZE zorder_by, oracle-checked: after multi-dimensional
    * clustering, a conjunctive range slice over BOTH curve columns prunes
    * files via the `_STATS` zone maps (the spec asserts the pruning; this
    * query hash-checks the answers are layout-invariant). At 100 TB this
    * is the difference between "predicates on the second column scan the
    * whole table" (lexicographic sort) and "any clustered column prunes". */
  def auditZorder(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qz")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li4")
    spark.sql("DROP TABLE IF EXISTS graft_qz.db.zsales")
    spark.sql(
      """CREATE TABLE graft_qz.db.zsales (okey BIGINT, pkey BIGINT, qty BIGINT)
        |USING audit""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qz.db.zsales
        |SELECT l_orderkey, l_partkey, CAST(l_quantity AS BIGINT)
        |FROM graft_cat_li4""".stripMargin)
    spark.sql(
      "CALL graft_qz.system.optimize(table => 'db.zsales', " +
        "target_file_count => 16, zorder_by => 'okey,pkey')")
    spark.sql(
      """SELECT okey % 10 AS g, count(*) AS n_rows,
        |       CAST(sum(qty) AS BIGINT) AS sum_qty,
        |       min(pkey) AS min_pkey, max(okey) AS max_okey
        |FROM graft_qz.db.zsales
        |WHERE okey >= 1000 AND okey < 3000 AND pkey >= 500 AND pkey < 1500
        |GROUP BY 1
        |ORDER BY g""".stripMargin)
  }

  val auditZorderSql: String =
    """SELECT l_orderkey % 10 AS g, count(*) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       min(l_partkey) AS min_pkey, max(l_orderkey) AS max_okey
      |FROM lineitem
      |WHERE l_orderkey >= 1000 AND l_orderkey < 3000
      |  AND l_partkey >= 500 AND l_partkey < 1500
      |GROUP BY 1
      |ORDER BY g""".stripMargin

  /** PARTITIONED multi-dimensional clustering, oracle-checked: the same
    * z-order rewrite as [[auditZorder]] on a PARTITIONED table —
    * `CALL optimize(zorder_by, bloom_by)` range-clusters every
    * `rflag=<token>` directory into z-tiled files (tight per-file bounds
    * in BOTH dimensions, per-dir `_STATS` + blooms), and the final query
    * combines partition pruning with zone-map file skipping inside the
    * surviving directories. */
  def auditPartZorder(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qpz")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li6")
    spark.sql("DROP TABLE IF EXISTS graft_qpz.db.pzsales")
    spark.sql(
      """CREATE TABLE graft_qpz.db.pzsales (
        |  okey BIGINT, pkey BIGINT, qty BIGINT, rflag STRING)
        |USING audit PARTITIONED BY (rflag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qpz.db.pzsales
        |SELECT l_orderkey, l_partkey, CAST(l_quantity AS BIGINT), l_returnflag
        |FROM graft_cat_li6""".stripMargin)
    spark.sql(
      "CALL graft_qpz.system.optimize(table => 'db.pzsales', " +
        "target_file_count => 12, zorder_by => 'okey,pkey', " +
        "bloom_by => 'okey')")
    spark.sql(
      """SELECT rflag, okey % 10 AS g, count(*) AS n_rows,
        |       CAST(sum(qty) AS BIGINT) AS sum_qty,
        |       min(pkey) AS min_pkey, max(okey) AS max_okey
        |FROM graft_qpz.db.pzsales
        |WHERE rflag IN ('A', 'R')
        |  AND okey >= 1000 AND okey < 3000 AND pkey >= 500 AND pkey < 1500
        |GROUP BY rflag, okey % 10
        |ORDER BY rflag, g""".stripMargin)
  }

  val auditPartZorderSql: String =
    """SELECT l_returnflag AS rflag, l_orderkey % 10 AS g, count(*) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       min(l_partkey) AS min_pkey, max(l_orderkey) AS max_okey
      |FROM lineitem
      |WHERE l_returnflag IN ('A', 'R')
      |  AND l_orderkey >= 1000 AND l_orderkey < 3000
      |  AND l_partkey >= 500 AND l_partkey < 1500
      |GROUP BY 1, 2
      |ORDER BY rflag, g""".stripMargin

  /** Enforced CHECK constraints, oracle-checked: a constrained table
    * accepts conforming writes, REJECTS a violating batch INSERT and a
    * violating delta UPDATE (both loudly, with nothing published — the
    * staged two-phase commit aborts clean), keeps enforcing through a
    * partitioned layout, and the final state equals the conforming
    * writes alone. ALTER-time validation is covered too: adding a
    * constraint the existing rows violate fails, after a cleanup DELETE
    * it sticks. */
  def catalogCheck(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qchk")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li8")
    spark.sql("DROP TABLE IF EXISTS graft_qchk.db.ck")
    spark.sql(
      """CREATE TABLE graft_qchk.db.ck (
        |  okey BIGINT, qty BIGINT, flag STRING,
        |  CONSTRAINT qty_pos CHECK (qty > 0))
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qchk.db.ck
        |SELECT l_orderkey, CAST(l_quantity AS BIGINT), l_returnflag
        |FROM graft_cat_li8 WHERE l_orderkey <= 1000""".stripMargin)
    // the rejection check is NARROW: only a failure whose cause chain
    // names the constraint machinery counts as "correctly rejected" — an
    // OOM or an analysis typo must PROPAGATE, never read as a pass
    def rejectedAsViolation(what: String)(body: => Unit): Unit = {
      val wasRejected =
        try { body; false }
        catch {
          // Throwable, not NonFatal: every non-constraint failure is rethrown
          case t: Throwable =>
            def chain(x: Throwable): Seq[Throwable] =
              if (x == null) Seq.empty else x +: chain(x.getCause)
            if (chain(t).flatMap(e => Option(e.getMessage)).exists(m =>
              m.toLowerCase.contains("constraint") ||
                m.toLowerCase.contains("check"))) true
            else throw t
        }
      require(wasRejected, s"audit CHECK: $what must be rejected")
    }
    // a violating batch must be rejected WHOLE — nothing publishes
    rejectedAsViolation("violating INSERT") {
      spark.sql(
        """INSERT INTO graft_qchk.db.ck
          |SELECT l_orderkey, CAST(l_quantity AS BIGINT) - 100, l_returnflag
          |FROM graft_cat_li8 WHERE l_orderkey <= 200""".stripMargin)
    }
    // a violating delta UPDATE is rejected the same way
    rejectedAsViolation("violating UPDATE") {
      spark.sql("UPDATE graft_qchk.db.ck SET qty = -1 WHERE okey % 7 = 0")
    }
    // ALTER-time validation: existing rows have qty <= 60, so CHECK
    // (qty < 50) must fail; after deleting the offenders it sticks and
    // keeps enforcing
    rejectedAsViolation("ADD CONSTRAINT over violating rows") {
      spark.sql("ALTER TABLE graft_qchk.db.ck " +
        "ADD CONSTRAINT qty_small CHECK (qty < 50)")
    }
    spark.sql("DELETE FROM graft_qchk.db.ck WHERE qty % 1000 >= 50")
    spark.sql("ALTER TABLE graft_qchk.db.ck " +
      "ADD CONSTRAINT qty_small CHECK (qty < 50)")
    spark.sql(
      """SELECT flag, count(*) AS n_rows, CAST(sum(qty) AS BIGINT) AS sum_qty
        |FROM graft_qchk.db.ck
        |GROUP BY flag ORDER BY flag""".stripMargin)
  }

  val catalogCheckSql: String =
    """SELECT l_returnflag AS flag, count(*) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey <= 1000 AND CAST(l_quantity AS BIGINT) < 50
      |GROUP BY 1 ORDER BY flag""".stripMargin

  /** SQL VIEWS through the catalog, oracle-checked: a view over a
    * partitioned audit table resolves LAZILY (rows appended after CREATE
    * VIEW are visible through it), applies its declared column aliases,
    * and composes with views-over-views. The oracle restates the final
    * aggregate from the base data. */
  def catalogView(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qvw")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li10")
    spark.sql("DROP VIEW IF EXISTS graft_qvw.db.flagged")
    spark.sql("DROP VIEW IF EXISTS graft_qvw.db.base")
    spark.sql("DROP TABLE IF EXISTS graft_qvw.db.sales")
    spark.sql(
      """CREATE TABLE graft_qvw.db.sales (okey BIGINT, qty BIGINT, rflag STRING)
        |USING audit PARTITIONED BY (rflag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qvw.db.sales
        |SELECT l_orderkey, CAST(l_quantity AS BIGINT), l_returnflag
        |FROM graft_cat_li10 WHERE l_orderkey <= 2000""".stripMargin)
    // the view is created BEFORE the second wave lands — lazy resolution
    // must surface the later rows through it
    spark.sql(
      """CREATE VIEW graft_qvw.db.base (k, q, f) AS
        |SELECT okey, qty, rflag FROM graft_qvw.db.sales WHERE qty > 10
        |""".stripMargin)
    spark.sql(
      """CREATE VIEW graft_qvw.db.flagged AS
        |SELECT f, count(*) AS n_rows, CAST(sum(q) AS BIGINT) AS sum_q
        |FROM graft_qvw.db.base GROUP BY f
        |""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qvw.db.sales
        |SELECT l_orderkey, CAST(l_quantity AS BIGINT), l_returnflag
        |FROM graft_cat_li10
        |WHERE l_orderkey > 2000 AND l_orderkey <= 4000""".stripMargin)
    spark.sql(
      "SELECT f, n_rows, sum_q FROM graft_qvw.db.flagged ORDER BY f")
  }

  val catalogViewSql: String =
    """SELECT l_returnflag AS f, count(*) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q
      |FROM lineitem
      |WHERE l_orderkey <= 4000 AND CAST(l_quantity AS BIGINT) > 10
      |GROUP BY 1 ORDER BY f""".stripMargin

  /** Column DEFAULT values, oracle-checked: CREATE-time defaults fill
    * omitted INSERT columns, ADD COLUMN ... DEFAULT backfills rows that
    * predate the column with the EXISTENCE default on read (no data
    * rewrite — the readers fill absence), ALTER COLUMN SET DEFAULT
    * changes future INSERTs only, and predicates/DML evaluate against
    * the backfilled values. The oracle restates the vintage walk. */
  def catalogDefault(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qdf")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li9")
    spark.sql("DROP TABLE IF EXISTS graft_qdf.db.df")
    spark.sql(
      """CREATE TABLE graft_qdf.db.df (
        |  okey BIGINT, qty BIGINT DEFAULT 1)
        |USING audit""".stripMargin)
    // vintage 1: qty omitted → CREATE-time default 1
    spark.sql(
      """INSERT INTO graft_qdf.db.df (okey)
        |SELECT l_orderkey FROM graft_cat_li9 WHERE l_orderkey <= 400""".stripMargin)
    // vintage 2: a column added WITH a default — every vintage-1 row
    // backfills src=10 on read; later inserts default to 20 after the
    // SET DEFAULT
    spark.sql("ALTER TABLE graft_qdf.db.df ADD COLUMN src BIGINT DEFAULT 10")
    spark.sql("ALTER TABLE graft_qdf.db.df ALTER COLUMN src SET DEFAULT 20")
    spark.sql(
      """INSERT INTO graft_qdf.db.df (okey, qty)
        |SELECT l_orderkey, CAST(l_quantity AS BIGINT)
        |FROM graft_cat_li9
        |WHERE l_orderkey > 400 AND l_orderkey <= 800""".stripMargin)
    // DML filters evaluate against the backfill: kill part of vintage 1
    spark.sql("DELETE FROM graft_qdf.db.df WHERE src = 10 AND okey % 4 = 1")
    spark.sql(
      """SELECT src, count(*) AS n_rows, CAST(sum(qty) AS BIGINT) AS sum_qty,
        |       CAST(sum(okey) AS BIGINT) AS sum_okey
        |FROM graft_qdf.db.df
        |GROUP BY src ORDER BY src""".stripMargin)
  }

  val catalogDefaultSql: String =
    """WITH v1 AS (
      |  SELECT l_orderkey AS okey, CAST(1 AS BIGINT) AS qty,
      |         CAST(10 AS BIGINT) AS src
      |  FROM lineitem WHERE l_orderkey <= 400
      |), v2 AS (
      |  SELECT l_orderkey AS okey, CAST(l_quantity AS BIGINT) AS qty,
      |         CAST(20 AS BIGINT) AS src
      |  FROM lineitem WHERE l_orderkey > 400 AND l_orderkey <= 800
      |), kept AS (
      |  SELECT * FROM v1 WHERE NOT (okey % 4 = 1)
      |  UNION ALL SELECT * FROM v2
      |)
      |SELECT src, count(*) AS n_rows, CAST(sum(qty) AS BIGINT) AS sum_qty,
      |       CAST(sum(okey) AS BIGINT) AS sum_okey
      |FROM kept GROUP BY src ORDER BY src""".stripMargin

  /** RUNTIME partition pruning (DPP), oracle-checked: a date-partitioned
    * fact joined to a small filtered dimension — the dimension's
    * surviving keys are only known at execution, when Spark plants them
    * into the audit scan as IN predicates over the partition column
    * ([[AuditScan]]'s SupportsRuntimeFiltering) and whole directories
    * drop before any file opens. The hash gate proves pruning never
    * changes the join's answer. */
  def auditDpp(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qdpp")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li7")
    graft.Tables.nation(spark, d).createOrReplaceTempView("graft_cat_nat7")
    spark.sql("DROP TABLE IF EXISTS graft_qdpp.db.fact")
    spark.sql(
      """CREATE TABLE graft_qdpp.db.fact (okey BIGINT, day BIGINT, qty BIGINT)
        |USING audit PARTITIONED BY (day)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qdpp.db.fact
        |SELECT l_orderkey, l_orderkey % 10, CAST(l_quantity AS BIGINT)
        |FROM graft_cat_li7""".stripMargin)
    spark.sql(
      """SELECT f.day, count(*) AS n_rows, CAST(sum(f.qty) AS BIGINT) AS sum_qty
        |FROM graft_qdpp.db.fact f
        |JOIN (SELECT DISTINCT n_nationkey % 10 AS day FROM graft_cat_nat7
        |      WHERE n_regionkey = 1) dim
        |  ON f.day = dim.day
        |GROUP BY f.day
        |ORDER BY f.day""".stripMargin)
  }

  val auditDppSql: String =
    """SELECT l_orderkey % 10 AS day, count(*) AS n_rows,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey % 10 IN (
      |  SELECT DISTINCT n_nationkey % 10 FROM nation WHERE n_regionkey = 1)
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** MULTI-LEVEL partitioning end-to-end: a `(y, m)`-partitioned audit
    * table (the reference's own `{year}/{month}/{day}` zone layout,
    * main.py:41-46, lifted into the catalog-managed format), loaded from
    * lineitem, DML'd inside specific leaves (an in-place delta UPDATE
    * and a delta DELETE), then read through a DPP join whose dim narrows
    * the INNER level at runtime — directories outside the surviving
    * `m` values never open. The hash gate proves routing, per-leaf
    * delete vectors, and per-level pruning all compose. */
  def auditMultiPart(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qmp")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li8")
    graft.Tables.nation(spark, d).createOrReplaceTempView("graft_cat_nat8")
    spark.sql("DROP TABLE IF EXISTS graft_qmp.db.fact")
    spark.sql(
      """CREATE TABLE graft_qmp.db.fact (okey BIGINT, y BIGINT, m BIGINT,
        |  qty BIGINT) USING audit PARTITIONED BY (y, m)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qmp.db.fact
        |SELECT l_orderkey, l_orderkey % 2, l_orderkey % 3,
        |       CAST(l_quantity AS BIGINT)
        |FROM graft_cat_li8""".stripMargin)
    // delta UPDATE inside one leaf (y=0/m=1); no partition move
    spark.sql(
      """UPDATE graft_qmp.db.fact SET qty = qty + 1000
        |WHERE y = 0 AND m = 1 AND okey < 100""".stripMargin)
    // delta DELETE in another leaf (modulo predicate → row-level path)
    spark.sql(
      "DELETE FROM graft_qmp.db.fact WHERE y = 1 AND m = 2 AND okey % 7 = 0")
    // DPP: the dim restricts m to {0, 1} at runtime → m=2 leaves pruned
    spark.sql(
      """SELECT f.y, f.m, count(*) AS n_rows,
        |       CAST(sum(f.qty) AS BIGINT) AS sum_qty
        |FROM graft_qmp.db.fact f
        |JOIN (SELECT DISTINCT n_nationkey % 3 AS m FROM graft_cat_nat8
        |      WHERE n_nationkey < 2) dim
        |  ON f.m = dim.m
        |GROUP BY f.y, f.m
        |ORDER BY f.y, f.m""".stripMargin)
  }

  val auditMultiPartSql: String =
    """WITH fact AS (
      |  SELECT l_orderkey AS okey, l_orderkey % 2 AS y, l_orderkey % 3 AS m,
      |         CAST(l_quantity AS BIGINT) AS qty
      |  FROM lineitem
      |), upd AS (
      |  SELECT okey, y, m,
      |         CASE WHEN y = 0 AND m = 1 AND okey < 100
      |              THEN qty + 1000 ELSE qty END AS qty
      |  FROM fact
      |  WHERE NOT (y = 1 AND m = 2 AND okey % 7 = 0)
      |)
      |SELECT y, m, count(*) AS n_rows, CAST(sum(qty) AS BIGINT) AS sum_qty
      |FROM upd
      |WHERE m IN (SELECT DISTINCT n_nationkey % 3 FROM nation
      |            WHERE n_nationkey < 2)
      |GROUP BY y, m
      |ORDER BY y, m""".stripMargin

  /** Streaming ingestion into a PARTITIONED audit table, oracle-checked:
    * micro-batch epochs route rows into `flag=<token>` directories with
    * per-partition manifests (the spec asserts the layout, replay
    * retraction, and that pruning/metadata counts keep working; this
    * hash gate proves the streamed content is exactly-once and
    * partition-complete). */
  def auditStreamPart(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qsp")
    spark.sql("DROP TABLE IF EXISTS graft_qsp.db.pstream")
    spark.sql(
      """CREATE TABLE graft_qsp.db.pstream (id BIGINT, flag BIGINT, dur BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    withScratch("graft_qsp_ckpt") { ckpt =>
      val q = PagedSource.stream(spark, 4, 100, 1)
        .select(org.apache.spark.sql.functions.col("id"),
          (org.apache.spark.sql.functions.col("id") % 3).as("flag"),
          org.apache.spark.sql.functions.col("duration_ms").as("dur"))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").toTable("graft_qsp.db.pstream")
      try q.processAllAvailable() finally q.stop()
    }
    spark.sql(
      """SELECT flag, count(*) AS n_rows, sum(dur) AS sum_dur,
        |       min(id) AS lo_id, max(id) AS hi_id
        |FROM graft_qsp.db.pstream
        |WHERE flag IN (0, 2)
        |GROUP BY flag
        |ORDER BY flag""".stripMargin)
  }

  val auditStreamPartSql: String = {
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS dur
      |  FROM range(400) t(r)
      |)
      |SELECT flag, count(*) AS n_rows, CAST(sum(dur) AS BIGINT) AS sum_dur,
      |       min(id) AS lo_id, max(id) AS hi_id
      |FROM src
      |WHERE flag IN (0, 2)
      |GROUP BY flag
      |ORDER BY flag""".stripMargin
  }

  /** PARTITIONED streaming TAIL, oracle-checked: epochs stream INTO a
    * partitioned audit table (rows routed across `flag=<token>` dirs),
    * then a second streaming query SUBSCRIBES to the table — the
    * table-level `_EPOCHS` log is the offset axis and each epoch's files
    * are resolved manifest-driven across the partition directories
    * ([[AuditMicroBatchStream]]). The hash gate proves the
    * tailed content is exactly-once and partition-complete: grouped
    * totals from the SUBSCRIBER equal DuckDB's restatement of the source
    * formulas. This closes the loop the partitioned streaming write
    * opened — a partitioned audit table is now a write-AND-read
    * streaming bus, same as the unpartitioned form. */
  def auditPartTail(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    register(spark, "graft_qpt")
    spark.sql("DROP TABLE IF EXISTS graft_qpt.db.ptail")
    spark.sql(
      """CREATE TABLE graft_qpt.db.ptail (id BIGINT, flag BIGINT, dur BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    withScratch("graft_qpt_wckpt") { wckpt =>
      spark.catalog.dropTempView("graft_qpt_mem")
      // SUBSCRIBE FIRST, then write: the two streaming lifecycles overlap
      // instead of running back to back (this query's cost is fixed
      // choreography, not data volume — see BENCH notes), and the tail
      // proving multi-epoch resolution needs only two writer epochs
      val tail = spark.readStream.table("graft_qpt.db.ptail")
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("dur")).as("sum_dur"),
          min(col("id")).as("lo_id"), max(col("id")).as("hi_id"))
      val q = tail.writeStream.outputMode("complete")
        .format("memory").queryName("graft_qpt_mem").start()
      val w = PagedSource.stream(spark, 4, 100, 2)
        .select(col("id"), (col("id") % 3).as("flag"),
          col("duration_ms").as("dur"))
        .writeStream
        .option("checkpointLocation", wckpt.toString)
        .outputMode("append").toTable("graft_qpt.db.ptail")
      try {
        try w.processAllAvailable() finally w.stop()
        q.processAllAvailable()
      } finally q.stop()
    }
    spark.table("graft_qpt_mem").orderBy("flag")
  }

  val auditPartTailSql: String = {
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS dur
      |  FROM range(400) t(r)
      |)
      |SELECT flag, count(*) AS n_rows, CAST(sum(dur) AS BIGINT) AS sum_dur,
      |       min(id) AS lo_id, max(id) AS hi_id
      |FROM src
      |GROUP BY flag
      |ORDER BY flag""".stripMargin
  }

  /** PARTITIONED TIME TRAVEL, oracle-checked: `VERSION AS OF e` on a
    * PARTITIONED audit table reconstructs the table as of streaming
    * epoch e — per-directory manifests carry the epoch-named files, so a
    * pinned read keeps only `part-e<=v` entries in every partition and
    * excludes batch txn appends, exactly the unpartitioned semantics —
    * including under DML: partitioned delta DML appends vectors and txn
    * files without ever rewriting an epoch file, so pinned reads keep
    * resolving pre-DML history; only the retroactive metadata DELETE
    * (the compliance hard-delete, same contract on both layouts)
    * rewrites history in place.
    * The result tags the pinned aggregate ('v1') beside the current one
    * ('cur'), so the oracle proves BOTH that history resolves and that
    * the un-pinned read still sees the post-pin batch INSERT. */
  def auditPartTravel(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    register(spark, "graft_qptt")
    spark.sql("DROP TABLE IF EXISTS graft_qptt.db.pt")
    spark.sql(
      """CREATE TABLE graft_qptt.db.pt (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    withScratch("graft_qptt_ckpt") { ckpt =>
      val w = PagedSource.stream(spark, 4, 100, 1)
        .select(col("id"), (col("id") % 3).as("flag"))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").toTable("graft_qptt.db.pt")
      try w.processAllAvailable() finally w.stop()
    }
    // a batch (txn) append AFTER the epochs: visible current, never pinned
    spark.sql("INSERT INTO graft_qptt.db.pt VALUES (9000, 1), (9001, 2)")
    spark.sql(
      """SELECT 'v1' AS at, flag, count(*) AS n, sum(id) AS sum_id
        |FROM graft_qptt.db.pt VERSION AS OF 1
        |GROUP BY flag
        |UNION ALL
        |SELECT 'cur' AS at, flag, count(*) AS n, sum(id) AS sum_id
        |FROM graft_qptt.db.pt
        |GROUP BY flag
        |ORDER BY at, flag""".stripMargin)
  }

  val auditPartTravelSql: String =
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(400) t(r)
      |), cur AS (
      |  SELECT id, flag FROM src
      |  UNION ALL SELECT 9000, 1 UNION ALL SELECT 9001, 2
      |)
      |SELECT 'v1' AS at, flag, count(*) AS n,
      |       CAST(sum(id) AS BIGINT) AS sum_id
      |FROM src WHERE id < 200 GROUP BY flag
      |UNION ALL
      |SELECT 'cur' AS at, flag, count(*) AS n,
      |       CAST(sum(id) AS BIGINT) AS sum_id
      |FROM cur GROUP BY flag
      |ORDER BY at, flag""".stripMargin

  /** PARTITIONED POST-FOLD TIME TRAVEL, oracle-checked: the partitioned
    * analog of [[auditTravelFolded]] — per-directory vector folds stamp
    * their watermarks, and `TIMESTAMP AS OF` keeps answering at/after
    * them (per-dir refusals for earlier instants are spec-pinned in
    * AuditTravelFoldedSpec). */
  def auditPartTravelFolded(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qptf")
    spark.sql("DROP TABLE IF EXISTS graft_qptf.db.tf")
    spark.sql(
      """CREATE TABLE graft_qptf.db.tf (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    spark.sql("INSERT INTO graft_qptf.db.tf SELECT id, id % 3 " +
      "FROM range(120)")
    spark.sql("DELETE FROM graft_qptf.db.tf WHERE id % 12 = 5")
    val path = wh.resolve("db").resolve("tf").toString
    def dirMax: Long = AuditPartition.listDirsByCols(path, Seq("flag"))
      .map { case (_, dd) => AuditBase.maxVisibleTs(dd.toString) }.max
    val tFold = dirMax // >= every per-dir fold watermark-to-be
    spark.sql("CALL graft_qptf.system.vacuum(table => 'db.tf')").collect()
    Thread.sleep(8)
    spark.sql("DELETE FROM graft_qptf.db.tf WHERE id % 12 = 7")
    val tPost = dirMax
    require(tFold < tPost, s"commit ordering tie ($tFold, $tPost)")
    def sliceAt(label: String, ms: Long): DataFrame = spark.sql(
      s"""SELECT '$label' AS grp, flag, count(*) AS n, sum(id) AS sum_id
         |FROM graft_qptf.db.tf TIMESTAMP AS OF timestamp_millis($ms)
         |GROUP BY flag""".stripMargin)
    sliceAt("fold", tFold)
      .unionAll(sliceAt("post", tPost))
      .unionAll(spark.sql(
        """SELECT 'cur' AS grp, flag, count(*) AS n, sum(id) AS sum_id
          |FROM graft_qptf.db.tf GROUP BY flag""".stripMargin))
      .orderBy(col("grp"), col("flag"))
  }

  val auditPartTravelFoldedSql: String =
    """WITH base AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(120) t(r)),
      |fold_state AS (SELECT * FROM base WHERE id % 12 <> 5),
      |post_state AS (SELECT * FROM fold_state WHERE id % 12 <> 7)
      |SELECT 'cur' AS grp, flag, count(*) AS n,
      |       CAST(sum(id) AS BIGINT) AS sum_id
      |FROM post_state GROUP BY flag
      |UNION ALL SELECT 'fold', flag, count(*), CAST(sum(id) AS BIGINT)
      |FROM fold_state GROUP BY flag
      |UNION ALL SELECT 'post', flag, count(*), CAST(sum(id) AS BIGINT)
      |FROM post_state GROUP BY flag
      |ORDER BY grp, flag""".stripMargin

  /** PARTITIONED TRAVEL ACROSS A COMPACTION, oracle-checked: a
    * partitioned table with streamed epochs AND delta DML is compacted
    * by the per-directory-base partitioned OPTIMIZE, then takes a
    * post-compaction batch INSERT — and `TIMESTAMP AS OF` still answers
    * exactly at (pre) an instant before the DML, (upd) between the DML
    * and the compaction, and (tnow) after the post-compaction insert:
    * base rows resolve by ORIGIN per directory (epoch origins via the
    * root stamps, batch origins via the folded tombstones' retained ts,
    * vectors ts-filtered against origin ids). The 'prune' slice repeats
    * the pre instant under a partition predicate, proving travel
    * composes with static partition pruning (plan-audited in
    * AuditPartBaseSpec). */
  def auditPartTravelCompacted(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qptc")
    spark.sql("DROP TABLE IF EXISTS graft_qptc.db.pc")
    spark.sql(
      """CREATE TABLE graft_qptc.db.pc (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    withScratch("graft_qptc_ckpt") { ckpt =>
      val w = PagedSource.stream(spark, 3, 100, 1)
        .select(col("id"), (col("id") % 3).as("flag"))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").toTable("graft_qptc.db.pc")
      try w.processAllAvailable() finally w.stop()
    }
    val path = wh.resolve("db").resolve("pc").toString
    val tPre = AuditScan.epochTimestamps(path).values.max
    Thread.sleep(8)
    spark.sql("UPDATE graft_qptc.db.pc SET id = id + 10000 " +
      "WHERE id % 100 = 7")
    def dirMax: Long = AuditPartition.listDirsByCols(path, Seq("flag"))
      .map { case (_, dd) => AuditBase.maxVisibleTs(dd.toString) }.max
    val tUpd = dirMax
    require(tPre < tUpd, s"commit ordering tie ($tPre, $tUpd)")
    Thread.sleep(8)
    spark.sql("CALL graft_qptc.system.optimize(table => 'db.pc', " +
      "target_file_count => 3)")
    spark.sql("INSERT INTO graft_qptc.db.pc VALUES (9000, 1), (9001, 2)")
    val tNow = dirMax
    require(tUpd < tNow, s"commit ordering tie ($tUpd, $tNow)")
    def sliceAt(label: String, ms: Long, where: String = ""): DataFrame =
      spark.sql(
        s"""SELECT '$label' AS grp, flag, count(*) AS n, sum(id) AS sum_id
           |FROM graft_qptc.db.pc TIMESTAMP AS OF timestamp_millis($ms)
           |$where GROUP BY flag""".stripMargin)
    sliceAt("pre", tPre)
      .unionAll(sliceAt("upd", tUpd))
      .unionAll(sliceAt("tnow", tNow))
      .unionAll(sliceAt("prune", tPre, "WHERE flag = 1"))
      .unionAll(spark.sql(
        """SELECT 'cur' AS grp, flag, count(*) AS n, sum(id) AS sum_id
          |FROM graft_qptc.db.pc GROUP BY flag""".stripMargin))
      .orderBy(col("grp"), col("flag"))
  }

  val auditPartTravelCompactedSql: String =
    """WITH pre AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(300) t(r)),
      |upd AS (
      |  SELECT CASE WHEN id % 100 = 7 THEN id + 10000 ELSE id END AS id,
      |         flag FROM pre),
      |now_state AS (
      |  SELECT * FROM upd
      |  UNION ALL SELECT 9000, 1 UNION ALL SELECT 9001, 2)
      |SELECT 'pre' AS grp, flag, count(*) AS n,
      |       CAST(sum(id) AS BIGINT) AS sum_id
      |FROM pre GROUP BY flag
      |UNION ALL SELECT 'upd', flag, count(*), CAST(sum(id) AS BIGINT)
      |FROM upd GROUP BY flag
      |UNION ALL SELECT 'tnow', flag, count(*), CAST(sum(id) AS BIGINT)
      |FROM now_state GROUP BY flag
      |UNION ALL SELECT 'prune', flag, count(*), CAST(sum(id) AS BIGINT)
      |FROM pre WHERE flag = 1 GROUP BY flag
      |UNION ALL SELECT 'cur', flag, count(*), CAST(sum(id) AS BIGINT)
      |FROM now_state GROUP BY flag
      |ORDER BY grp, flag""".stripMargin

  /** PARTITIONED CHANGE FEED THROUGH COMPACTION + VACUUM, oracle-checked:
    * a partitioned table with streamed epochs, a batch append and delta
    * DELETEs is compacted (per-dir bases) and VACUUMed (folded originals
    * reclaimed) — and a FRESH full-history feed still emits every insert
    * and delete event exactly once, replayed from the bases by origin
    * (delete events carry the ORIGINAL row values back). The grouped
    * event counts and id sums are restated by DuckDB from the
    * generation arithmetic, so one lost or duplicated event hash-fails. */
  def cdfPartCompacted(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qpcc")
    spark.sql("DROP TABLE IF EXISTS graft_qpcc.db.pc")
    spark.sql(
      """CREATE TABLE graft_qpcc.db.pc (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    withScratch("graft_qpcc_ckpt") { ckpt =>
      val w = PagedSource.stream(spark, 2, 100, 1)
        .select(col("id"), (col("id") % 3).as("flag"))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").toTable("graft_qpcc.db.pc")
      try w.processAllAvailable() finally w.stop()
    }
    spark.sql("INSERT INTO graft_qpcc.db.pc VALUES (9000, 1), (9001, 2)")
    spark.sql("DELETE FROM graft_qpcc.db.pc WHERE id % 100 = 3")
    spark.sql("CALL graft_qpcc.system.optimize(table => 'db.pc', " +
      "target_file_count => 2)")
    spark.sql("CALL graft_qpcc.system.vacuum(table => 'db.pc')").collect()
    val path = wh.resolve("db").resolve("pc").toString
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("flag",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType)))
    spark.read.schema(cdfSchema)
      .format(classOf[JsonAuditSink].getName)
      .option("path", path).option("partitionby", "flag")
      .option("changeFeed", "true").load()
      .groupBy(col("_change_type").as("ct"), col("flag"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"))
      .orderBy(col("ct"), col("flag"))
  }

  val cdfPartCompactedSql: String =
    """WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(200) t(r)
      |  UNION ALL SELECT 9000, 1 UNION ALL SELECT 9001, 2),
      |ev AS (
      |  SELECT 'insert' AS ct, id, flag FROM src
      |  UNION ALL
      |  SELECT 'delete', id, flag FROM src WHERE id % 100 = 3)
      |SELECT ct, flag, count(*) AS n, CAST(sum(id) AS BIGINT) AS sum_id
      |FROM ev GROUP BY ct, flag
      |ORDER BY ct, flag""".stripMargin

  /** ALTER COLUMN TYPE widening, oracle-checked: an INT column takes a
    * wave of values, widens to BIGINT with NO file rewrite (old literals
    * re-parse in the new type), then takes values beyond INT range; a
    * selective filter still skips via the pre-widening stats/blooms
    * (value-identical hashing for int/long). The oracle restates both
    * waves in BIGINT from lineitem. */
  def catalogWiden(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qwd")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li11")
    spark.sql("DROP TABLE IF EXISTS graft_qwd.db.w")
    spark.sql(
      """CREATE TABLE graft_qwd.db.w (okey INT, qty INT, flag STRING)
        |USING audit""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qwd.db.w
        |SELECT CAST(l_orderkey AS INT), CAST(l_quantity AS INT),
        |       l_returnflag
        |FROM graft_cat_li11 WHERE l_orderkey <= 2000""".stripMargin)
    spark.sql("ALTER TABLE graft_qwd.db.w ALTER COLUMN okey TYPE BIGINT")
    spark.sql("ALTER TABLE graft_qwd.db.w ALTER COLUMN qty TYPE BIGINT")
    // post-widening wave with values far beyond INT range
    spark.sql(
      """INSERT INTO graft_qwd.db.w
        |SELECT l_orderkey + 90000000000, CAST(l_quantity AS BIGINT),
        |       l_returnflag
        |FROM graft_cat_li11
        |WHERE l_orderkey > 2000 AND l_orderkey <= 3000""".stripMargin)
    spark.sql(
      """SELECT flag, count(*) AS n_rows,
        |       sum(qty) AS sum_qty, sum(okey) AS sum_okey
        |FROM graft_qwd.db.w GROUP BY flag ORDER BY flag""".stripMargin)
  }

  val catalogWidenSql: String =
    """WITH w AS (
      |  SELECT CAST(l_orderkey AS BIGINT) AS okey,
      |         CAST(l_quantity AS BIGINT) AS qty,
      |         l_returnflag AS flag
      |  FROM lineitem WHERE l_orderkey <= 2000
      |  UNION ALL
      |  SELECT CAST(l_orderkey + 90000000000 AS BIGINT),
      |         CAST(l_quantity AS BIGINT), l_returnflag
      |  FROM lineitem WHERE l_orderkey > 2000 AND l_orderkey <= 3000)
      |SELECT flag, count(*) AS n_rows,
      |       CAST(sum(qty) AS BIGINT) AS sum_qty,
      |       CAST(sum(okey) AS BIGINT) AS sum_okey
      |FROM w GROUP BY flag ORDER BY flag""".stripMargin

  /** `TIMESTAMP AS OF`, oracle-checked: stream three epochs, then pin
    * the table at the LAST epoch's recorded commit time — the pinned
    * state must equal the full streamed state (commit times are
    * inclusive), which the oracle restates deterministically. Wall-clock
    * values themselves are nondeterministic, so the meta row restates
    * the INVARIANTS: every epoch carries a commit time, and the times
    * are non-decreasing in epoch order. Boundary semantics (mid-stream
    * pins, before-first errors, tie-breaks) are spec'd exactly in
    * GraftCatalogSpec over a handcrafted epoch log. */
  def auditTravelTs(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qts")
    spark.sql("DROP TABLE IF EXISTS graft_qts.db.tt")
    spark.sql("CREATE TABLE graft_qts.db.tt (id BIGINT, flag BIGINT) " +
      "USING audit")
    withScratch("graft_qts_ckpt") { ckpt =>
      val w = PagedSource.stream(spark, 3, 100, 1)
        .select(col("id"), (col("id") % 3).as("flag"))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").toTable("graft_qts.db.tt")
      try w.processAllAvailable() finally w.stop()
    }
    val path = wh.resolve("db").resolve("tt").toString
    val tsByEpoch = AuditScan.epochTimestamps(path)
    val ordered = tsByEpoch.toSeq.sortBy(_._1).map(_._2)
    val monotonic = if (ordered.zip(ordered.drop(1)).forall {
      case (a, b) => a <= b }) 1L else 0L
    val tLast = tsByEpoch.values.max
    spark.sql(
      s"""SELECT CAST(flag AS STRING) AS grp, count(*) AS n,
         |       sum(id) AS sum_id
         |FROM graft_qts.db.tt TIMESTAMP AS OF timestamp_millis($tLast)
         |GROUP BY flag
         |UNION ALL
         |SELECT '__meta__', ${tsByEpoch.size}L, ${monotonic}L
         |ORDER BY grp""".stripMargin)
  }

  val auditTravelTsSql: String =
    """WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(300) t(r))
      |SELECT CAST(flag AS VARCHAR) AS grp, count(*) AS n,
      |       CAST(sum(id) AS BIGINT) AS sum_id
      |FROM src GROUP BY flag
      |UNION ALL
      |SELECT '__meta__', 3, 1
      |ORDER BY grp""".stripMargin

  /** MIXED-TABLE TIME TRAVEL, oracle-checked: a table whose history
    * interleaves streaming epochs, an OCC batch `_TXN` append and
    * row-level DML is reconstructed at four instants on the COMMIT-TIME
    * axis — (w1) after the first streaming wave only; (w1b) strictly
    * BETWEEN the batch append and the next epoch, which must SEE the
    * append (the vintage the epoch-only axis silently dropped); (w2)
    * after the second wave but before any DML (delete vectors committed
    * later must NOT apply, replacement rows must not appear); and
    * (tnow) after UPDATE+DELETE, which must equal the current state
    * (vectors and replacement rows from the SAME statement appear
    * together — they share one commit timestamp). Commit times are read
    * back from the table's own logs; strict ordering is asserted so a
    * clock-resolution tie fails loudly instead of flaking. */
  def auditTravelMixed(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qtm")
    spark.sql("DROP TABLE IF EXISTS graft_qtm.db.tt")
    spark.sql("CREATE TABLE graft_qtm.db.tt (id BIGINT, flag BIGINT) " +
      "USING audit")
    withScratch("graft_qtm_ckpt") { ckpt =>
      def wave(pages: Int): Unit = {
        val w = PagedSource.stream(spark, pages, 100, 1)
          .select(col("id"), (col("id") % 3).as("flag"))
          .writeStream
          .option("checkpointLocation", ckpt.toString)
          .outputMode("append").toTable("graft_qtm.db.tt")
        try w.processAllAvailable() finally w.stop()
      }
      wave(2) // epochs 0-1: ids 0..199
      Thread.sleep(8)
      // batch txn append between the waves: ids 1000..1099
      spark.sql("INSERT INTO graft_qtm.db.tt " +
        "SELECT id + 1000, (id + 1000) % 3 FROM range(100)")
      Thread.sleep(8)
      wave(4) // epochs 2-3 (checkpointed resume): ids 200..399
    }
    Thread.sleep(8)
    // row-level DML: vectors on epoch files + replacement txn append...
    spark.sql("UPDATE graft_qtm.db.tt SET flag = 9 " +
      "WHERE id % 100 = 7 AND id < 400")
    // ...and vectors on the batch append's file (the modulo keeps the
    // predicate off the retroactive metadata-DELETE path, which would
    // physically rewrite history instead of appending vectors)
    spark.sql("DELETE FROM graft_qtm.db.tt " +
      "WHERE id % 1000 >= 90 AND id >= 1000")
    Thread.sleep(8)
    val path = wh.resolve("db").resolve("tt").toString
    val tsByEpoch = AuditScan.epochTimestamps(path)
    // the INSERT's commit time = the OLDEST batch vintage on record
    val tBatch = AuditBase.readManifest(path).flatMap(_.ts).min
    val tNow = System.currentTimeMillis()
    require(tsByEpoch(1L) < tBatch && tBatch < tsByEpoch(2L) &&
      tsByEpoch(3L) < tNow,
      s"commit times not strictly ordered (${tsByEpoch(1L)}, $tBatch, " +
        s"${tsByEpoch(2L)}, ${tsByEpoch(3L)}, $tNow) — ms-clock tie")
    def sliceAt(label: String, ms: Long): DataFrame = spark.sql(
      s"""SELECT concat('$label/', CAST(flag AS STRING)) AS grp,
         |       count(*) AS n, sum(id) AS sum_id
         |FROM graft_qtm.db.tt TIMESTAMP AS OF timestamp_millis($ms)
         |GROUP BY flag""".stripMargin)
    sliceAt("w1", tsByEpoch(1L))
      .unionAll(sliceAt("w1b", tBatch))
      .unionAll(sliceAt("w2", tsByEpoch(3L)))
      .unionAll(sliceAt("tnow", tNow))
      .unionAll(spark.sql(
        """SELECT concat('cur/', CAST(flag AS STRING)) AS grp,
          |       count(*) AS n, sum(id) AS sum_id
          |FROM graft_qtm.db.tt GROUP BY flag""".stripMargin))
      .orderBy(col("grp"))
  }

  val auditTravelMixedSql: String =
    """WITH w1 AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(200) t(r)),
      |b AS (
      |  SELECT CAST(t.r AS BIGINT) + 1000 AS id,
      |         (CAST(t.r AS BIGINT) + 1000) % 3 AS flag
      |  FROM range(100) t(r)),
      |w2 AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(200, 400) t(r)),
      |pre AS (SELECT * FROM w1 UNION ALL SELECT * FROM b
      |        UNION ALL SELECT * FROM w2),
      |cur AS (
      |  SELECT id,
      |         CASE WHEN id % 100 = 7 AND id < 400 THEN 9 ELSE flag END AS flag
      |  FROM pre WHERE id < 1090)
      |SELECT 'w1/' || CAST(flag AS VARCHAR) AS grp, count(*) AS n,
      |       CAST(sum(id) AS BIGINT) AS sum_id
      |FROM w1 GROUP BY flag
      |UNION ALL
      |SELECT 'w1b/' || CAST(flag AS VARCHAR), count(*),
      |       CAST(sum(id) AS BIGINT)
      |FROM (SELECT * FROM w1 UNION ALL SELECT * FROM b) GROUP BY flag
      |UNION ALL
      |SELECT 'w2/' || CAST(flag AS VARCHAR), count(*),
      |       CAST(sum(id) AS BIGINT)
      |FROM pre GROUP BY flag
      |UNION ALL
      |SELECT 'tnow/' || CAST(flag AS VARCHAR), count(*),
      |       CAST(sum(id) AS BIGINT)
      |FROM cur GROUP BY flag
      |UNION ALL
      |SELECT 'cur/' || CAST(flag AS VARCHAR), count(*),
      |       CAST(sum(id) AS BIGINT)
      |FROM cur GROUP BY flag
      |ORDER BY grp""".stripMargin

  /** PARTITIONED CDC REPLICATION, oracle-checked: a partitioned replica
    * is maintained EXCLUSIVELY from the partitioned table's change feed.
    * The feed's axes are the per-directory APPEND-ONLY logs — manifest
    * entries are insert events, per-directory delete-vector entries
    * (partitioned delta DML) are delete events carrying the original row
    * values — and every event carries its dir-qualified `(_file, _pos)`
    * row id, so the apply step is the same order-free SURVIVOR FOLD the
    * unpartitioned replica uses. The tail is STOPPED across the later
    * waves and restarted from its checkpoint, proving the per-directory
    * offsets resume exactly even when one micro-batch spans multiple
    * commits; the last wave is a MERGE (which MOVES one row across
    * partitions and updates another) plus a delta DELETE that kills a row
    * the MERGE just updated — the replica, itself a partitioned audit
    * table maintained through partitioned delta MERGE, must equal the
    * source's final state. */
  def cdfReplicaPart(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qrpp")
    spark.sql("DROP TABLE IF EXISTS graft_qrpp.db.src")
    spark.sql("DROP TABLE IF EXISTS graft_qrpp.db.rep")
    spark.sql(
      """CREATE TABLE graft_qrpp.db.src (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    spark.sql(
      """CREATE TABLE graft_qrpp.db.rep (id BIGINT, flag BIGINT)
        |USING audit PARTITIONED BY (flag)""".stripMargin)
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("flag",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_pos",
        org.apache.spark.sql.types.LongType)))
    withScratch("graft_qrpp_ckpt") { ckpt =>
      def startTail() = spark.readStream.schema(cdfSchema)
        .format(classOf[JsonAuditSink].getName)
        .option("path", wh.resolve("db").resolve("src").toString)
        .option("partitionby", "flag")
        .option("changeFeed", "true").load()
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // survivor fold keyed on the dir-qualified (_file, _pos) row id:
          // an insert tombstoned later in the same batch is dead; a key's
          // net effect is its surviving insert or a delete of the key
          val ins = batch.filter(col("_change_type") === "insert")
            .select(col("id"), col("flag"), col("_file"), col("_pos"))
          val del = batch.filter(col("_change_type") === "delete")
            .select(col("id"), col("_file"), col("_pos"))
          val surv = ins.join(del, Seq("_file", "_pos"), "left_anti")
            .groupBy(col("id"))
            .agg(max(col("flag")).as("flag"), lit(true).as("up"))
          batch.select(col("id")).distinct()
            .join(surv, Seq("id"), "left_outer")
            .createOrReplaceTempView("cdf_part_batch")
          batch.sparkSession.sql(
            """MERGE INTO graft_qrpp.db.rep t
              |USING (SELECT id, flag, coalesce(up, false) AS up
              |       FROM cdf_part_batch) s
              |ON t.id = s.id
              |WHEN MATCHED AND NOT s.up THEN DELETE
              |WHEN MATCHED AND s.up THEN UPDATE SET t.flag = s.flag
              |WHEN NOT MATCHED AND s.up THEN INSERT (id, flag)
              |  VALUES (s.id, s.flag)
              |""".stripMargin)
          ()
        }
        .start()
      // wave 1: streaming epochs land while the tail is LIVE
      withScratch("graft_qrpp_wckpt") { wckpt =>
        val w = PagedSource.stream(spark, 2, 100, 1)
          .select(col("id"), (col("id") % 3).as("flag"))
          .writeStream
          .option("checkpointLocation", wckpt.toString)
          .outputMode("append").toTable("graft_qrpp.db.src")
        val tail = startTail()
        try {
          try w.processAllAvailable() finally w.stop()
          tail.processAllAvailable()
        } finally tail.stop()
      }
      // wave 2: two OCC batch appends commit while the tail is DOWN; the
      // restarted tail's first batch spans BOTH commits
      spark.sql("INSERT INTO graft_qrpp.db.src VALUES (9000, 0), (9001, 1)")
      spark.sql("INSERT INTO graft_qrpp.db.src VALUES (9002, 2), (9003, 0)")
      val tail2 = startTail()
      try tail2.processAllAvailable() finally tail2.stop()
      // wave 3, tail DOWN again: partitioned delta DML — the MERGE moves
      // id=5 to a NEW partition (flag 111) and id=9000 to flag 7, inserts
      // id=10000; the DELETE then kills id=5 (whose fresh insert must lose
      // to the later tombstone) and id=7 (the modulo keeps the predicate
      // off the metadata path, so it lands as delete-vector events)
      spark.sql(
        """MERGE INTO graft_qrpp.db.src t
          |USING (SELECT * FROM VALUES (5L, 111L), (9000L, 7L), (10000L, 1L)
          |       AS s(id, flag)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.flag = s.flag
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.sql("DELETE FROM graft_qrpp.db.src WHERE id % 1000 IN (5, 7)")
      val tail3 = startTail()
      try tail3.processAllAvailable() finally tail3.stop()
    }
    spark.sql("SELECT id, flag FROM graft_qrpp.db.rep ORDER BY id")
  }

  val cdfReplicaPartSql: String =
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(200) t(r)
      |), merged AS (
      |  SELECT id, flag FROM src
      |  UNION ALL SELECT 9000, 0 UNION ALL SELECT 9001, 1
      |  UNION ALL SELECT 9002, 2 UNION ALL SELECT 9003, 0
      |  UNION ALL SELECT 10000, 1
      |), updated AS (
      |  SELECT id, CASE WHEN id = 9000 THEN 7 ELSE flag END AS flag
      |  FROM merged WHERE id NOT IN (5, 7)
      |)
      |SELECT id, flag FROM updated ORDER BY id""".stripMargin

  /** COLUMN RENAME/DROP (name-mapping layer), oracle-checked end to end:
    * write → RENAME COLUMN (pure metadata; files keep the storage key) →
    * append under the new name → DML through the new name → forced DROP
    * + re-ADD of another column (fresh storage key, old bytes stay
    * buried) — and the final SELECT reads ONE coherent column across all
    * vintages. The oracle restates the final state from first
    * principles. */
  def catalogRename(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qren")
    spark.sql("DROP TABLE IF EXISTS graft_qren.db.t")
    spark.sql(
      "CREATE TABLE graft_qren.db.t (id BIGINT, v BIGINT, junk BIGINT) USING audit")
    spark.sql(
      "INSERT INTO graft_qren.db.t SELECT id, id * 10, 777 FROM range(0, 200)")
    // rename: metadata-only; committed files stay keyed by storage name "v"
    spark.sql("ALTER TABLE graft_qren.db.t RENAME COLUMN v TO score")
    spark.sql(
      "INSERT INTO graft_qren.db.t SELECT id, id * 10, 777 FROM range(200, 300)")
    // DML through the renamed column (delta path translates the filters)
    spark.sql("DELETE FROM graft_qren.db.t WHERE score % 100 = 30 AND id < 300")
    spark.sql(
      """MERGE INTO graft_qren.db.t t
        |USING (SELECT 7L AS id, 111L AS score) s
        |ON t.id = s.id WHEN MATCHED THEN UPDATE SET t.score = s.score
        |""".stripMargin)
    // forced drop + re-add: the re-added column must read NULL for every
    // pre-drop row (fresh storage key), then accept new writes
    spark.sql("ALTER TABLE graft_qren.db.t SET TBLPROPERTIES " +
      "('graft.allow-column-drop'='true')")
    spark.sql("ALTER TABLE graft_qren.db.t DROP COLUMN junk")
    spark.sql("ALTER TABLE graft_qren.db.t ADD COLUMN junk BIGINT")
    spark.sql("INSERT INTO graft_qren.db.t VALUES (1000, 5, 42)")
    spark.sql(
      """SELECT id, score, junk FROM graft_qren.db.t ORDER BY id""")
  }

  val catalogRenameSql: String =
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) * 10 AS score
      |  FROM range(300) t(r)
      |), kept AS (
      |  SELECT id, CASE WHEN id = 7 THEN 111 ELSE score END AS score
      |  FROM src WHERE NOT (score % 100 = 30)
      |)
      |SELECT id, score, CAST(NULL AS BIGINT) AS junk FROM kept
      |UNION ALL SELECT 1000, 5, 42
      |ORDER BY id""".stripMargin

  /** PARTITIONED column RENAME/DROP, oracle-checked: the same vintage
    * walk as [[catalogRename]] on a PARTITIONED table — rename a
    * non-partition column (pure metadata; per-directory files keep the
    * storage key), append under the new name, run partitioned delta DML
    * through it, compact with partitioned OPTIMIZE (the stage-and-swap
    * must carry the replicated `_COLMAP` across), then force-DROP and
    * re-ADD another column (fresh storage key per directory). The final
    * SELECT reads one coherent column across every vintage and every
    * partition directory. */
  def catalogRenamePart(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qrnp")
    spark.sql("DROP TABLE IF EXISTS graft_qrnp.db.t")
    spark.sql(
      """CREATE TABLE graft_qrnp.db.t (id BIGINT, v BIGINT, junk BIGINT,
        |  flag BIGINT) USING audit PARTITIONED BY (flag)""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qrnp.db.t
        |SELECT id, id * 10, 777, id % 3 FROM range(0, 200)""".stripMargin)
    // rename: metadata-only; files in every partition dir keep key "v"
    spark.sql("ALTER TABLE graft_qrnp.db.t RENAME COLUMN v TO score")
    spark.sql(
      """INSERT INTO graft_qrnp.db.t
        |SELECT id, id * 10, 777, id % 3 FROM range(200, 300)""".stripMargin)
    // partitioned DELTA DML through the renamed column (modulo predicate
    // stays off the metadata path; vectors land per directory)
    spark.sql(
      "DELETE FROM graft_qrnp.db.t WHERE score % 100 = 30 AND id < 300")
    spark.sql(
      """MERGE INTO graft_qrnp.db.t t
        |USING (SELECT 7L AS id, 111L AS score) s
        |ON t.id = s.id WHEN MATCHED THEN UPDATE SET t.score = s.score
        |""".stripMargin)
    // compaction swaps the whole directory tree; the colmap must survive
    spark.sql("CALL graft_qrnp.system.optimize(table => 'db.t', " +
      "target_file_count => 2, sort_by => 'score')").collect()
    spark.sql("ALTER TABLE graft_qrnp.db.t SET TBLPROPERTIES " +
      "('graft.allow-column-drop'='true')")
    spark.sql("ALTER TABLE graft_qrnp.db.t DROP COLUMN junk")
    spark.sql("ALTER TABLE graft_qrnp.db.t ADD COLUMN junk BIGINT")
    spark.sql("INSERT INTO graft_qrnp.db.t VALUES (1000, 5, 1, 42)")
    // the final read crosses: pre-rename files, post-rename appends,
    // delete vectors folded by OPTIMIZE, and the re-keyed junk column
    spark.sql(
      """SELECT id, score, junk, flag FROM graft_qrnp.db.t
        |ORDER BY id""".stripMargin)
  }

  val catalogRenamePartSql: String =
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) * 10 AS score,
      |         CAST(t.r AS BIGINT) % 3 AS flag
      |  FROM range(300) t(r)
      |), kept AS (
      |  SELECT id, CASE WHEN id = 7 THEN 111 ELSE score END AS score, flag
      |  FROM src WHERE NOT (score % 100 = 30)
      |)
      |SELECT id, score, CAST(NULL AS BIGINT) AS junk, flag FROM kept
      |UNION ALL SELECT 1000, 5, 42, 1
      |ORDER BY id""".stripMargin

  val auditOptimizeSql: String = {
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS v
      |  FROM range(400) t(r)
      |),
      |current_state AS (
      |  SELECT id, CASE WHEN id IN (5, 17) THEN 111 ELSE v END AS v
      |  FROM src WHERE NOT (id % 100 = 3)
      |  UNION ALL SELECT 1000, 222
      |)
      |SELECT 'current' AS src, count(*) AS n_rows,
      |       CAST(sum(id) AS BIGINT) AS sum_id, CAST(sum(v) AS BIGINT) AS sum_v
      |FROM current_state
      |UNION ALL
      |SELECT 'asof2' AS src, count(*) AS n_rows,
      |       CAST(sum(id) AS BIGINT) AS sum_id, CAST(sum(v) AS BIGINT) AS sum_v
      |FROM src WHERE id < 300
      |ORDER BY src""".stripMargin
  }

  /** Incremental materialized-view maintenance from the change feed,
    * oracle-checked: the CDF events (inserts +, deletes −, an UPDATE being
    * its delete/insert pair) FOLD into a grouped aggregate without ever
    * re-reading the table — `sum(±v)`/`count(±1)` per group — and the
    * DuckDB oracle restates the same groups from the CURRENT table state,
    * so the hash gate proves the feed's event algebra reconstructs the
    * table exactly. This is the consumption pattern the change feed
    * exists for at 100 TB: a downstream aggregate pays for the DELTA, not
    * for a snapshot re-scan. */
  def cdfIncrementalMv(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qmv")
    spark.sql("DROP TABLE IF EXISTS graft_qmv.db.mv")
    spark.sql("CREATE TABLE graft_qmv.db.mv (id BIGINT, v BIGINT) USING audit")
    withScratch("graft_qmv_ckpt") { ckpt =>
      val q = PagedSource.stream(spark, 4, 100, 1)
        .select(col("id"), col("duration_ms").as("v"))
        .writeStream.format(classOf[JsonAuditSink].getName)
        .option("path", wh.resolve("db").resolve("mv").toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.sql(
      """MERGE INTO graft_qmv.db.mv t
        |USING (SELECT * FROM VALUES (8L, 400L), (212L, 400L), (2000L, 500L)
        |       AS s(id, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("DELETE FROM graft_qmv.db.mv WHERE id % 50 = 7 AND id < 400")
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType)))
    val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    spark.read.schema(cdfSchema).format(classOf[JsonAuditSink].getName)
      .option("path", wh.resolve("db").resolve("mv").toString)
      .option("changeFeed", "true").load()
      .groupBy(pmod(col("id"), lit(10L)).as("k"))
      .agg(sum(sign).as("n_rows"), sum(sign * col("v")).as("sum_v"),
        sum(sign * col("id")).as("sum_id"))
      // a group whose ±fold nets to zero has NO rows in the base table —
      // the fold must drop it, as a base-table GROUP BY would
      .filter(col("n_rows") > 0)
      .orderBy(col("k"))
  }

  val cdfIncrementalMvSql: String = {
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS v
      |  FROM range(400) t(r)
      |),
      |current_state AS (
      |  SELECT id,
      |         CASE WHEN id IN (8, 212) THEN 400 ELSE v END AS v
      |  FROM src WHERE NOT (id % 50 = 7)
      |  UNION ALL SELECT 2000, 500
      |)
      |SELECT id % 10 AS k, count(*) AS n_rows,
      |       CAST(sum(v) AS BIGINT) AS sum_v,
      |       CAST(sum(id) AS BIGINT) AS sum_id
      |FROM current_state
      |GROUP BY 1
      |ORDER BY k""".stripMargin
  }

  /** DSv2 catalog FUNCTIONS, oracle-checked: `graft.system.hex_hash` /
    * `hex_bucket` called by qualified name from plain SQL, grouped by the
    * bucket function and aggregated over hash values — the DuckDB oracle
    * recomputes every hash with the md5 twin ([[graft.functions.Hashing
    * .hexHashSql]]), so the FunctionCatalog binding, null handling, and
    * value semantics are all hash-gated. */
  def catalogFunc(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qf")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li5")
    spark.sql(
      """SELECT graft_qf.system.hex_bucket(k, 8) AS bucket,
        |       count(*) AS n_rows,
        |       min(graft_qf.system.hex_hash(k)) AS min_h,
        |       max(graft_qf.system.hex_hash(k)) AS max_h,
        |       sum(pmod(graft_qf.system.hex_hash(k), 1000000)) AS sum_hmod
        |FROM (SELECT l_returnflag || ':' || CAST(l_orderkey AS STRING) AS k
        |      FROM graft_cat_li5)
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin)
  }

  val catalogFuncSql: String = {
    val h = graft.functions.Hashing.hexHashSql("k")
    s"""WITH src AS (
      |  SELECT l_returnflag || ':' || CAST(l_orderkey AS VARCHAR) AS k
      |  FROM lineitem)
      |SELECT $h % 8 AS bucket, count(*) AS n_rows,
      |       min($h) AS min_h, max($h) AS max_h,
      |       CAST(sum($h % 1000000) AS BIGINT) AS sum_hmod
      |FROM src
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin
  }

  /** BUCKET-partitioned storage-partitioned join, oracle-checked: two
    * audit tables `PARTITIONED BY (bucket(8, okey))` (CTAS routes rows by
    * the shared hash) join on okey with zero join-side exchanges — the
    * catalog's V2 `bucket` function is what Spark resolves the reported
    * transform against (spec asserts the exchange-free plan; this query
    * hash-checks the values). Bucketing is the layout for HIGH-CARDINALITY
    * keys where identity dirs would explode: at 100 TB this is the
    * co-located fact-to-fact join with a bounded directory count. */
  def auditBucket(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qbk")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li6")
    graft.Tables.orders(spark, d).createOrReplaceTempView("graft_cat_ord6")
    spark.sql("DROP TABLE IF EXISTS graft_qbk.db.bkt_l")
    spark.sql("DROP TABLE IF EXISTS graft_qbk.db.bkt_o")
    spark.sql(
      """CREATE TABLE graft_qbk.db.bkt_l
        |USING audit PARTITIONED BY (bucket(8, okey))
        |AS SELECT l_orderkey AS okey,
        |          CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |   FROM graft_cat_li6 WHERE l_orderkey % 5 = 0
        |   GROUP BY l_orderkey""".stripMargin)
    spark.sql(
      """CREATE TABLE graft_qbk.db.bkt_o
        |USING audit PARTITIONED BY (bucket(8, okey))
        |AS SELECT o_orderkey AS okey,
        |          CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |   FROM graft_cat_ord6 WHERE o_orderkey % 5 = 0""".stripMargin)
    spark.sql(
      """SELECT pmod(l.okey, 7) AS g, count(*) AS n_rows,
        |       sum(l.qty) AS sum_qty, sum(o.cents) AS sum_cents
        |FROM graft_qbk.db.bkt_l l
        |JOIN graft_qbk.db.bkt_o o ON l.okey = o.okey
        |GROUP BY 1
        |ORDER BY g""".stripMargin)
  }

  val auditBucketSql: String =
    """WITH a AS (
      |  SELECT l_orderkey AS okey,
      |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem WHERE l_orderkey % 5 = 0 GROUP BY 1),
      |b AS (
      |  SELECT o_orderkey AS okey,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders WHERE o_orderkey % 5 = 0)
      |SELECT a.okey % 7 AS g, count(*) AS n_rows,
      |       CAST(sum(a.qty) AS BIGINT) AS sum_qty,
      |       CAST(sum(b.cents) AS BIGINT) AS sum_cents
      |FROM a JOIN b ON a.okey = b.okey
      |GROUP BY 1
      |ORDER BY g""".stripMargin

  /** CONCURRENT multi-writer ingestion, oracle-checked: four threads
    * INSERT disjoint slices into one audit table SIMULTANEOUSLY. Each
    * commit publishes as an immutable `_TXN/<v>.json` via put-if-absent
    * (hard-link CAS) — under the old read-modify-write manifest two
    * racing commits would silently drop one side's rows, which the
    * rollup oracle would catch as a hash mismatch. The query SELF-AUDITS
    * that all four commits landed as four distinct txn versions (no
    * consolidation has run), then aggregates through the logical
    * manifest. At scale this is the difference between "one Spark job
    * may write a table" and "any number of jobs may append": the
    * contended window is one createLink syscall, not the whole commit. */
  def auditOcc(spark: SparkSession, d: String): DataFrame = {
    val wh = register(spark, "graft_qocc")
    spark.sql("DROP TABLE IF EXISTS graft_qocc.db.occt")
    spark.sql(
      "CREATE TABLE graft_qocc.db.occt (id BIGINT, g BIGINT, v BIGINT) USING audit")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 4).map { i =>
      new Thread(() =>
        try spark.sql(
          s"""INSERT INTO graft_qocc.db.occt
            |SELECT id, id % 7 AS g, id * 3 AS v
            |FROM range(${i * 500L}, ${(i + 1) * 500L})""".stripMargin)
        // Throwable: a worker's fatal error must reach the main thread's require
        catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    require(failures.isEmpty, s"concurrent INSERT failed: ${failures.peek()}")
    val txnDir = wh.resolve("db").resolve("occt").resolve("_TXN")
    val versions = {
      val l = java.nio.file.Files.list(txnDir)
      try {
        val b = Seq.newBuilder[String]
        val it = l.iterator()
        while (it.hasNext) b += it.next().getFileName.toString
        b.result().filter(_.endsWith(".json")).sorted
      } finally l.close()
    }
    require(versions == (1 to 4).map(v => s"$v.json"),
      s"expected 4 OCC txn commits, got $versions")
    spark.sql(
      """SELECT g, count(*) AS n_rows, sum(v) AS sum_v,
        |       min(id) AS lo_id, max(id) AS hi_id
        |FROM graft_qocc.db.occt
        |GROUP BY g
        |ORDER BY g""".stripMargin)
  }

  val auditOccSql: String =
    """SELECT id % 7 AS g, count(*) AS n_rows,
      |       CAST(sum(id * 3) AS BIGINT) AS sum_v,
      |       min(id) AS lo_id, max(id) AS hi_id
      |FROM (SELECT CAST(t.r AS BIGINT) AS id FROM range(2000) t(r))
      |GROUP BY 1
      |ORDER BY g""".stripMargin

  /** STREAMING CDC REPLICATION, oracle-checked end to end: a replica
    * audit table is maintained EXCLUSIVELY by tailing the source table's
    * change feed — the capstone proof that the CDF is a sufficient
    * interface (inserts + tombstones) to keep a downstream copy
    * consistent through INSERT, MERGE and DELETE, without ever reading
    * the source table itself.
    *
    * The apply recipe is the scale-sane CDC standard: each micro-batch
    * of change events is FOLDED per key (a MERGE emits delete(old) +
    * insert(new) for the same id inside one commit — net effect is an
    * upsert; a bare tombstone is a delete), then applied in one
    * `MERGE INTO replica` statement. No collect, no driver loop: the
    * fold is a hash aggregate and the apply is the delta row-level
    * operation, so the replica pays O(changes) per batch, never a
    * snapshot rescan. The stream runs LIVE across three DML waves
    * (initial load, MERGE upserts, retention DELETE) — each wave's
    * events arrive as new offsets on the already-running tail. */
  def cdfReplica(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qrep")
    spark.sql("DROP TABLE IF EXISTS graft_qrep.db.src")
    spark.sql("DROP TABLE IF EXISTS graft_qrep.db.rep")
    spark.sql("CREATE TABLE graft_qrep.db.src (id BIGINT, v BIGINT) USING audit")
    spark.sql("CREATE TABLE graft_qrep.db.rep (id BIGINT, v BIGINT) USING audit")
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_pos",
        org.apache.spark.sql.types.LongType)))
    withScratch("graft_qrep_ckpt") { ckpt =>
      def startTail() = spark.readStream.schema(cdfSchema)
        .format(classOf[JsonAuditSink].getName)
        .option("path", wh.resolve("db").resolve("src").toString)
        .option("changeFeed", "true").load()
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // SURVIVOR fold — exact even when one micro-batch spans MULTIPLE
          // source commits (checkpoint recovery, slow trigger): events are
          // keyed by the (_file, _pos) row id the feed carries, and row ids
          // are never reused, so the fold is order-free. An insert whose
          // row id is tombstoned later in the same batch is dead; a key's
          // net effect is its surviving insert (upsert — at most one, the
          // source is key-unique) or, with none, a delete of the key.
          val ins = batch.filter(col("_change_type") === "insert")
            .select(col("id"), col("v"), col("_file"), col("_pos"))
          val del = batch.filter(col("_change_type") === "delete")
            .select(col("id"), col("_file"), col("_pos"))
          val surv = ins.join(del, Seq("_file", "_pos"), "left_anti")
            .groupBy(col("id"))
            .agg(max(col("v")).as("v"), lit(true).as("up"))
          batch.select(col("id")).distinct()
            .join(surv, Seq("id"), "left_outer")
            .createOrReplaceTempView("cdf_batch")
          batch.sparkSession.sql(
            """MERGE INTO graft_qrep.db.rep t
              |USING (SELECT id, v, coalesce(up, false) AS up FROM cdf_batch) s
              |ON t.id = s.id
              |WHEN MATCHED AND NOT s.up THEN DELETE
              |WHEN MATCHED AND s.up THEN UPDATE SET t.v = s.v
              |WHEN NOT MATCHED AND s.up THEN INSERT (id, v) VALUES (s.id, s.v)
              |""".stripMargin)
          ()
        }
        .start()
      val tail = startTail()
      try {
        // wave 1: initial load (batch INSERT → insert events)
        spark.sql(
          s"""INSERT INTO graft_qrep.db.src
            |SELECT id,
            |       ${PagedSource.DurBase}L +
            |         pmod(${sparkHexHashSql("concat('dur:', CAST(id AS STRING))")},
            |              ${PagedSource.DurSpan}L) AS v
            |FROM range(0, 400)""".stripMargin)
        tail.processAllAvailable()
      } finally tail.stop()
      // waves 2 and 3 commit while the tail is DOWN, so the restarted
      // stream's first micro-batch SPANS both commits — the case the
      // survivor fold exists for. id=5 is updated by the MERGE and then
      // deleted in the same batch: its fresh insert must lose to the later
      // tombstone, which a naive "any insert wins" fold gets wrong.
      spark.sql(
        """MERGE INTO graft_qrep.db.src t
          |USING (SELECT * FROM VALUES (5L, 111L), (17L, 111L), (1000L, 222L)
          |       AS s(id, v)) s
          |ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      spark.sql(
        "DELETE FROM graft_qrep.db.src WHERE (id % 100 = 3 AND id < 400) OR id = 5")
      val tail2 = startTail()
      try tail2.processAllAvailable() finally tail2.stop()
    }
    // the replica must BE the source's final state — hash the whole thing
    spark.sql(
      """SELECT id, v FROM graft_qrep.db.rep ORDER BY id""")
  }

  /** Spark-side spelling of the cross-engine hash for SQL-string use. */
  private def sparkHexHashSql(expr: String): String =
    s"CAST(conv(substring(md5($expr), 1, 15), 16, 10) AS BIGINT)"

  val cdfReplicaSql: String = {
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS v
      |  FROM range(400) t(r)
      |), merged AS (
      |  SELECT id, CASE WHEN id IN (5, 17) THEN 111 ELSE v END AS v FROM src
      |  UNION ALL
      |  SELECT CAST(1000 AS BIGINT), CAST(222 AS BIGINT)
      |)
      |SELECT id, CAST(v AS BIGINT) AS v FROM merged
      |WHERE NOT ((id % 100 = 3 AND id < 400) OR id = 5)
      |ORDER BY id""".stripMargin
  }

  /** SELF-MAINTAINING MATERIALIZED VIEW, end to end: a summary table is
    * derived EXCLUSIVELY from the base audit table's change feed (±fold
    * of insert/tombstone events — it pays for the deltas, never a
    * snapshot rescan), registered with [[graft.plans.MvRewriteRule]],
    * and then a plain aggregate over the BASE table is answered from the
    * summary by the optimizer — maintenance and rewriting composed. The
    * rewrite path here matches a DSv2 relation (the catalog audit
    * table), not a parquet directory: MVs summarize catalog tables too.
    * Self-audits that the optimized plan scans the summary, then the
    * oracle proves the rewritten answer IS the base-table answer after
    * all three DML waves. min/max are deliberately absent from this MV:
    * they are not maintainable from a ±fold under deletes — the
    * registration only claims what the maintenance can keep exact. */
  def mvE2e(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wh = register(spark, "graft_qe2e")
    spark.sql("DROP TABLE IF EXISTS graft_qe2e.db.base")
    spark.sql(
      "CREATE TABLE graft_qe2e.db.base (id BIGINT, g BIGINT, v BIGINT) USING audit")
    spark.sql(
      s"""INSERT INTO graft_qe2e.db.base
        |SELECT id, pmod(id, 5L) AS g,
        |       ${PagedSource.DurBase}L +
        |         pmod(${sparkHexHashSql("concat('dur:', CAST(id AS STRING))")},
        |              ${PagedSource.DurSpan}L) AS v
        |FROM range(0, 400)""".stripMargin)
    // a small extra group (g=7) that the retention DELETE will FULLY
    // empty: the maintained summary must drop it (a zero-count group has
    // no base rows, and a rewritten count(*)/sum must not resurrect it)
    spark.sql(
      """INSERT INTO graft_qe2e.db.base
        |SELECT id, 7L AS g, id * 10 AS v FROM range(500, 503)""".stripMargin)
    spark.sql(
      """MERGE INTO graft_qe2e.db.base t
        |USING (SELECT * FROM VALUES (9L, 4L, 900L), (2000L, 0L, 800L)
        |       AS s(id, g, v)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.g = s.g
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(
      """DELETE FROM graft_qe2e.db.base
        |WHERE (id % 100 = 9 AND id < 400) OR g = 7""".stripMargin)
    // maintain the summary FROM THE FEED (±fold), never scanning the base
    val cdfSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("g",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType)))
    val sign = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    // the returned frame reads the summary: a fixed path the next run overwrites
    val mvDir = wh.resolve("mv").toString
    spark.read.schema(cdfSchema).format(classOf[JsonAuditSink].getName)
      .option("path", wh.resolve("db").resolve("base").toString)
      .option("changeFeed", "true").load()
      .groupBy(col("g"))
      .agg(sum(sign).as("mv_cnt"), sum(sign * col("v")).as("mv_sum_v"))
      // drop groups whose ±fold nets to ZERO rows: they no longer exist
      // in the base table, and keeping them would make the rewritten
      // count(*) emit a 0-row group the base aggregate would not return
      .filter(col("mv_cnt") > 0)
      .write.mode("overwrite").parquet(mvDir)
    val mv = graft.plans.MvRewriteRule.MvDef(
      basePath = wh.resolve("db").resolve("base").toString,
      groupCols = Seq("g"),
      cnt = "mv_cnt",
      sums = Map("v" -> "mv_sum_v"),
      mins = Map.empty, maxs = Map.empty,
      mvPlan = s => s.read.parquet(mvDir).queryExecution.analyzed)
    graft.plans.MvRewriteRule.register(spark, mv)
    try {
      val q = spark.table("graft_qe2e.db.base")
        .groupBy(col("g"))
        .agg(count(lit(1)).as("cnt_rows"), sum(col("v")).as("sum_v"))
        .orderBy("g")
      val scans = q.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
      }.flatten
      require(scans.exists(_.contains(mvDir)),
        s"mv rewrite over the DSv2 base did not fire — plan scans: $scans")
      q
    } finally graft.plans.MvRewriteRule.unregister(spark, mv.basePath)
  }

  val mvE2eSql: String = {
    val dur = graft.functions.Hashing.hexHashSql("'dur:' || CAST(t.r AS VARCHAR)")
    s"""WITH src AS (
      |  SELECT CAST(t.r AS BIGINT) AS id, CAST(t.r AS BIGINT) % 5 AS g,
      |         ${PagedSource.DurBase} + $dur % ${PagedSource.DurSpan} AS v
      |  FROM range(400) t(r)
      |), merged AS (
      |  SELECT id, CASE WHEN id = 9 THEN 4 ELSE g END AS g,
      |         CASE WHEN id = 9 THEN 900 ELSE v END AS v
      |  FROM src
      |  UNION ALL
      |  SELECT CAST(2000 AS BIGINT), CAST(0 AS BIGINT), CAST(800 AS BIGINT)
      |)
      |SELECT g, count(*) AS cnt_rows, CAST(sum(v) AS BIGINT) AS sum_v
      |FROM merged
      |WHERE NOT (id % 100 = 9 AND id < 400)
      |GROUP BY g
      |ORDER BY g""".stripMargin
  }

  /** GENERATED + IDENTITY columns, oracle-checked end to end: CREATE
    * TABLE with a `GENERATED ALWAYS AS` column and a `GENERATED ALWAYS
    * AS IDENTITY (START WITH 100 INCREMENT BY 7)` column, two INSERT
    * waves, a delta MERGE (updates keep each row's identity, inserts
    * allocate fresh ones), and a delta DELETE. Identity VALUES are
    * inherently nondeterministic (per-commit block base × task id), so
    * the result restates the INVARIANTS as deterministic aggregates:
    * `uniq_ids` (count distinct — the oracle emits the group size, so
    * any collision hash-mismatches) and `step_ok` (min over
    * `(id-100) % 7 = 0 AND id >= 100` — the oracle emits 1). The
    * generated column's VALUES flow through the whole DML sequence and
    * are hash-checked exactly via `sum_qty2`. */
  def catalogIdentity(spark: SparkSession, d: String): DataFrame = {
    register(spark, "graft_qid")
    graft.Tables.lineitem(spark, d).createOrReplaceTempView("graft_cat_li5")
    spark.sql("DROP TABLE IF EXISTS graft_qid.db.ident")
    spark.sql(
      """CREATE TABLE graft_qid.db.ident (
        |  flag STRING, ls STRING, n_rows BIGINT,
        |  qty2 BIGINT GENERATED ALWAYS AS (n_rows * 2),
        |  id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100
        |    INCREMENT BY 7)) USING audit""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qid.db.ident (flag, ls, n_rows)
        |SELECT l_returnflag, l_linestatus, count(*)
        |FROM graft_cat_li5 GROUP BY l_returnflag, l_linestatus""".stripMargin)
    spark.sql(
      """INSERT INTO graft_qid.db.ident (flag, ls, n_rows)
        |SELECT 'W', l_linestatus, count(*)
        |FROM graft_cat_li5 GROUP BY l_linestatus""".stripMargin)
    spark.sql(
      """MERGE INTO graft_qid.db.ident t
        |USING (
        |  SELECT l_linestatus AS ls, count(*) AS delta
        |  FROM graft_cat_li5 GROUP BY l_linestatus
        |  UNION ALL SELECT 'Z1', 111 UNION ALL SELECT 'Z2', 222
        |) s
        |ON t.ls = s.ls AND t.flag = 'W'
        |WHEN MATCHED THEN UPDATE SET t.n_rows = t.n_rows + s.delta
        |WHEN NOT MATCHED THEN INSERT (flag, ls, n_rows)
        |  VALUES ('Z', s.ls, s.delta)""".stripMargin)
    spark.sql("DELETE FROM graft_qid.db.ident WHERE n_rows % 3 = 1")
    spark.sql(
      """SELECT flag, count(*) AS n_groups,
        |       sum(n_rows) AS sum_rows, sum(qty2) AS sum_qty2,
        |       count(DISTINCT id) AS uniq_ids,
        |       CAST(min(CASE WHEN id >= 100 AND (id - 100) % 7 = 0
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS step_ok
        |FROM graft_qid.db.ident GROUP BY flag
        |UNION ALL
        |SELECT '__ALL__', count(*), sum(n_rows), sum(qty2),
        |       count(DISTINCT id),
        |       CAST(min(CASE WHEN id >= 100 AND (id - 100) % 7 = 0
        |                     THEN 1 ELSE 0 END) AS BIGINT)
        |FROM graft_qid.db.ident
        |ORDER BY flag""".stripMargin)
  }

  val catalogIdentitySql: String =
    """WITH w1 AS (
      |  SELECT l_returnflag AS flag, l_linestatus AS ls,
      |         count(*) AS n_rows
      |  FROM lineitem GROUP BY 1, 2),
      |w2 AS (
      |  SELECT 'W' AS flag, l_linestatus AS ls, count(*) AS n_rows
      |  FROM lineitem GROUP BY 2),
      |base AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2),
      |src AS (
      |  SELECT l_linestatus AS ls, count(*) AS delta
      |  FROM lineitem GROUP BY 1
      |  UNION ALL SELECT 'Z1', 111 UNION ALL SELECT 'Z2', 222),
      |merged AS (
      |  SELECT b.flag, b.ls,
      |         b.n_rows + COALESCE(CASE WHEN b.flag = 'W' THEN s.delta END,
      |                             0) AS n_rows
      |  FROM base b LEFT JOIN src s ON b.ls = s.ls
      |  UNION ALL
      |  SELECT 'Z', s.ls, s.delta FROM src s
      |  WHERE NOT EXISTS (SELECT 1 FROM base b
      |                    WHERE b.ls = s.ls AND b.flag = 'W')),
      |survivors AS (SELECT * FROM merged WHERE n_rows % 3 <> 1)
      |SELECT flag, count(*) AS n_groups,
      |       CAST(sum(n_rows) AS BIGINT) AS sum_rows,
      |       CAST(sum(n_rows * 2) AS BIGINT) AS sum_qty2,
      |       count(*) AS uniq_ids, CAST(1 AS BIGINT) AS step_ok
      |FROM survivors GROUP BY flag
      |UNION ALL
      |SELECT '__ALL__', count(*), CAST(sum(n_rows) AS BIGINT),
      |       CAST(sum(n_rows * 2) AS BIGINT), count(*), CAST(1 AS BIGINT)
      |FROM survivors
      |ORDER BY flag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q_catalog_dml" -> (catalogDml _),
      "q_catalog_identity" -> (catalogIdentity _),
      "q_audit_occ" -> (auditOcc _),
      "q_mv_e2e" -> (mvE2e _),
      "q_cdf_replica" -> (cdfReplica _),
      "q_cdf_mv" -> (cdfIncrementalMv _),
      "q_catalog_func" -> (catalogFunc _),
      "q_audit_bucket" -> (auditBucket _),
      "q_audit_cdf" -> (auditCdf _),
      "q_cdf_incremental" -> (cdfIncremental _),
      "q_cdf_incremental_mixed" -> (cdfIncrementalMixed _),
      "q_catalog_repartition" -> (catalogRepartition _),
      "q_audit_partition" -> (auditPartition _),
      "q_audit_spj" -> (auditSpj _),
      "q_audit_optimize" -> (auditOptimize _),
      "q_audit_zorder" -> (auditZorder _),
      "q_audit_part_zorder" -> (auditPartZorder _),
      "q_audit_dpp" -> (auditDpp _),
      "q_audit_multipart" -> (auditMultiPart _),
      "q_catalog_check" -> (catalogCheck _),
      "q_catalog_default" -> (catalogDefault _),
      "q_catalog_view" -> (catalogView _),
      "q_audit_stream_part" -> (auditStreamPart _),
      "q_audit_part_tail" -> (auditPartTail _),
      "q_audit_part_travel" -> (auditPartTravel _),
      "q_audit_travel_ts" -> (auditTravelTs _),
      "q_audit_travel_mixed" -> (auditTravelMixed _),
      "q_audit_travel_compacted" -> (auditTravelCompacted _),
      "q_audit_travel_folded" -> (auditTravelFolded _),
      "q_audit_travel_retained" -> (auditTravelRetained _),
      "q_audit_part_optimize_where" -> (auditPartOptimizeWhere _),
      "q_audit_part_optimize_range" -> (auditPartOptimizeRange _),
      "q_audit_part_travel_compacted" -> (auditPartTravelCompacted _),
      "q_cdf_part_compacted" -> (cdfPartCompacted _),
      "q_audit_part_travel_folded" -> (auditPartTravelFolded _),
      "q_catalog_widen" -> (catalogWiden _),
      "q_cdf_replica_part" -> (cdfReplicaPart _),
      "q_catalog_merge_part" -> (catalogMergePart _),
      "q_catalog_rename" -> (catalogRename _),
      "q_catalog_rename_part" -> (catalogRenamePart _),
      "q_audit_gcount" -> (auditGroupCount _),
      "q_maintenance_apply" -> (maintenanceApplyQ _),
      "q_maintenance_plan_bytes" -> (maintenancePlanBytesQ _),
      "q_catalog_merge_delta" -> (catalogMergeDelta _))
  val oracles: Map[String, String] =
    Map("q_catalog_dml" -> catalogDmlSql,
      "q_catalog_identity" -> catalogIdentitySql,
      "q_audit_occ" -> auditOccSql,
      "q_mv_e2e" -> mvE2eSql,
      "q_cdf_replica" -> cdfReplicaSql,
      "q_cdf_mv" -> cdfIncrementalMvSql,
      "q_catalog_func" -> catalogFuncSql,
      "q_audit_bucket" -> auditBucketSql,
      "q_audit_cdf" -> auditCdfSql,
      "q_cdf_incremental" -> cdfIncrementalSql,
      "q_cdf_incremental_mixed" -> cdfIncrementalMixedSql,
      "q_catalog_repartition" -> catalogRepartitionSql,
      "q_audit_partition" -> auditPartitionSql,
      "q_audit_spj" -> auditSpjSql,
      "q_audit_optimize" -> auditOptimizeSql,
      "q_audit_zorder" -> auditZorderSql,
      "q_audit_part_zorder" -> auditPartZorderSql,
      "q_audit_dpp" -> auditDppSql,
      "q_audit_multipart" -> auditMultiPartSql,
      "q_catalog_check" -> catalogCheckSql,
      "q_catalog_default" -> catalogDefaultSql,
      "q_catalog_view" -> catalogViewSql,
      "q_audit_stream_part" -> auditStreamPartSql,
      "q_audit_part_tail" -> auditPartTailSql,
      "q_audit_part_travel" -> auditPartTravelSql,
      "q_audit_travel_ts" -> auditTravelTsSql,
      "q_audit_travel_mixed" -> auditTravelMixedSql,
      "q_audit_travel_compacted" -> auditTravelCompactedSql,
      "q_audit_travel_folded" -> auditTravelFoldedSql,
      "q_audit_travel_retained" -> auditTravelRetainedSql,
      "q_audit_part_optimize_where" -> auditPartOptimizeWhereSql,
      "q_audit_part_optimize_range" -> auditPartOptimizeRangeSql,
      "q_audit_part_travel_compacted" -> auditPartTravelCompactedSql,
      "q_cdf_part_compacted" -> cdfPartCompactedSql,
      "q_audit_part_travel_folded" -> auditPartTravelFoldedSql,
      "q_catalog_widen" -> catalogWidenSql,
      "q_cdf_replica_part" -> cdfReplicaPartSql,
      "q_catalog_merge_part" -> catalogMergePartSql,
      "q_catalog_rename" -> catalogRenameSql,
      "q_catalog_rename_part" -> catalogRenamePartSql,
      "q_audit_gcount" -> auditGroupCountSql,
      "q_maintenance_apply" -> maintenanceApplySql,
      "q_maintenance_plan_bytes" -> maintenancePlanBytesSql,
      "q_catalog_merge_delta" -> catalogMergeDeltaSql)
}

/** Atomic CTAS / RTAS: the staging half of the catalog. The staged table
  * writes its data into a hidden sibling directory; only
  * `commitStagedChanges` — which runs after the WHOLE query succeeded —
  * publishes metadata and moves the directory into place, and
  * `abortStagedChanges` deletes the stage. A failed `CREATE TABLE AS
  * SELECT` therefore leaves NO table behind, and a failed `REPLACE TABLE
  * AS SELECT` leaves the old table untouched — the same
  * stage-then-publish discipline the audit sink's own two-phase commit
  * uses, lifted one level up to DDL. */
trait GraftStagingSupport extends StagingTableCatalog { self: GraftCatalog =>

  override def stageCreate(ident: Identifier,
      info: TableInfo): StagedTable = {
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    stagedTable(ident, info, replace = false)
  }

  override def stageReplace(ident: Identifier,
      info: TableInfo): StagedTable = {
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    stagedTable(ident, info, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable =
    stagedTable(ident, info, replace = true)

  private def stagedTable(ident: Identifier, info: TableInfo,
      replace: Boolean): StagedTable = {
    val provider = Option(info.properties().get(TableCatalog.PROP_PROVIDER))
      .getOrElse("audit").toLowerCase
    require(provider == "audit",
      "graft catalog: CTAS/RTAS supports USING audit only " +
        "(paged is a generated, read-only source)")
    val partCol = GraftCatalog.identityPartCol(info.partitions(), info.schema())
    new StagedAuditTable(self, ident, info.schema(), info.properties(), replace,
      partCol)
  }
}

final class StagedAuditTable(catalog: GraftCatalog, ident: Identifier,
    stagedSchema: StructType, properties: JMap[String, String],
    replace: Boolean, partCol: Option[String] = None)
    extends StagedTable with SupportsWrite {
  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}

  private val stageDir = catalog.stagingDirFor(ident)
  java.nio.file.Files.createDirectories(stageDir)

  override def name(): String = s"graft_staged(${ident})"
  override def schema(): StructType = stagedSchema
  override def capabilities(): java.util.Set[TableCapability] = {
    // RTAS plans an overwrite-by-true on the staged table; truncating the
    // freshly-created empty stage is a no-op, so claim it
    val s = new java.util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_WRITE)
    s.add(TableCapability.TRUNCATE)
    s
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val levels = AuditPartition.levelsOf(
      partCol.toSeq.flatMap(AuditPartition.parseSpecs), stagedSchema)
    new AuditWriteBuilder(stageDir.toString, info.schema(),
      info.options().asScala.map { case (k, v) => (k.toLowerCase, v) }.toMap,
      levels)
  }

  override def commitStagedChanges(): Unit =
    catalog.publishStaged(ident, stagedSchema, properties, stageDir, replace,
      partCol)

  override def abortStagedChanges(): Unit = deleteTree(stageDir)
}
