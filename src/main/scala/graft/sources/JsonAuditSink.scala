package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 custom SINK with the atomic two-phase commit protocol —
  * the write-side counterpart of [[PagedSource]].
  *
  * Every task's [[DataWriter]] streams rows into a UNIQUELY-NAMED staged
  * file (task attempt id in the name: speculative or retried attempts can
  * never collide); its commit message carries the staged name + row count
  * back to the driver. Only `BatchWrite.commit` — which runs once, after
  * ALL tasks succeeded — renames staged files into place and publishes a
  * `_MANIFEST` json with per-file counts; `abort` deletes the stage. A
  * reader that trusts the manifest therefore never observes a partial
  * write: exactly the commit discipline every lakehouse table format
  * builds on, in its minimal form (and the contract q_stream_merge's
  * versioned-swap emulates one level up).
  *
  * Payload is JSON-lines over long/double/string/boolean/timestamp
  * columns, so a round trip through `spark.read.schema(...).json` proves
  * the sink byte-exact. Mode("overwrite") engages SupportsTruncate:
  * commit clears prior committed files before publishing the new set.
  */
class JsonAuditSink extends TableProvider {
  // write-only: schema comes from the DataFrame being written — external
  // metadata support makes Spark pass that schema into getTable
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    // `partitionby` (an identity column or `bucket(n,col)`) gives the
    // PATH-BASED surface the same partitioned layout the catalog serves —
    // and is what lets partitioned OPTIMIZE stage its rewrite as a
    // sibling directory tree before the atomic swap
    val path = properties.get("path")
    // a `_COLMAP` replicated into the data dir by the catalog (column
    // RENAME/DROP) makes path-based reads — the change feed included —
    // translate current names without the catalog metadata file. The
    // caller's schema speaks CURRENT names either way. Skipped for
    // maintenance stage writes (rawcolumns): their schema is already
    // storage-named.
    val colMap =
      if (path != null && !properties.containsKey("rawcolumns"))
        AuditNameMap.readColMapFile(path)
      else Map.empty[String, String]
    new AuditTable(path, schema,
      partCol = Option(properties.get("partitionby")),
      colMap = colMap.filter { case (c, _) => schema.fieldNames.contains(c) })
  }
}

/** Hive-style MULTI-LEVEL partitioning for the audit format:
  * `<table>/<c1>=<t1>/…/<cK>=<tK>/` nested directories, each LEAF with
  * its OWN `_MANIFEST` — the per-partition metadata that makes
  * partition-predicate reads open only the matching directories and
  * partition-sliced COUNT(*) stay metadata-only. Tokens are URL-encoded
  * (filename-safe, lossless for strings), `__NULL__` encodes a null
  * partition value. This lifts the reference's only layout idea —
  * `{year}/{month}/{day}` date-partitioned zone directories
  * (main.py:41-46, spark_jobs/playback_pipeline.py:254-262) — into the
  * table format itself. Throughout the format, a partition directory is
  * identified by its RELATIVE PATH string `c1=t1/…/cK=tK` (the
  * "relDir"): single-level tables keep their exact round-12 layout
  * (`col=token`), and relDirs are what commit messages, CDF offsets and
  * dir-qualified `(_file,_pos)` row ids carry. */
private[sources] object AuditPartition {
  val NullToken = "__NULL__"

  def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType => true
    case _ => false
  }

  /** One partition level: identity(col) or bucket(n, col). Serialized
    * into the catalog metadata as `col` / `bucket(n,col)`, levels joined
    * with `,`. */
  final case class Spec(col: String, bucket: Option[Int]) {
    def serialized: String = bucket.fold(col)(n => s"bucket($n,$col)")
  }
  private val BucketRe = """bucket\((\d+),([^)]+)\)""".r
  def parseSpec(s: String): Spec = s match {
    case BucketRe(n, c) => Spec(c, Some(n.toInt))
    case c              => Spec(c, None)
  }

  /** Parse a serialized multi-level spec: top-level commas separate
    * levels; commas INSIDE `bucket(n,col)` do not split. */
  def parseSpecs(s: String): Seq[Spec] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result().trim; cur.clear()
      case c => cur += c
    }
    out += cur.result().trim
    out.toSeq.filter(_.nonEmpty).map(parseSpec)
  }
  def serializeSpecs(specs: Seq[Spec]): String =
    specs.map(_.serialized).mkString(",")

  /** One partition level BOUND to its column type — what the scan/write
    * plumbing threads around (empty seq = unpartitioned). */
  final case class Level(col: String, dt: DataType, bucket: Option[Int])

  def levelsOf(specs: Seq[Spec], schema: StructType): Seq[Level] =
    specs.map { s =>
      require(schema.fieldNames.contains(s.col),
        s"audit partition column ${s.col} not in schema")
      require(supported(schema(s.col).dataType),
        s"audit partition column ${s.col} must be long/int/string")
      Level(s.col, schema(s.col).dataType, s.bucket)
    }

  /** Relative directory path of a partition combo: `c1=t1/…/cK=tK`. */
  def relDirOf(levels: Seq[Level], tokens: Seq[String]): String =
    levels.zip(tokens).map { case (l, t) => s"${l.col}=$t" }.mkString("/")

  /** Bare token of level `i` within a relDir (the `=`-suffix of its i-th
    * path component). */
  def componentToken(relDir: String, i: Int): String = {
    val comp = relDir.split('/')(i)
    comp.substring(comp.indexOf('=') + 1)
  }

  /** Does a leaf dir survive the per-level restrictions? `allowed` maps a
    * level index to its permitted tokens (absent = unrestricted);
    * `exclNull` lists levels whose null-token dir is excluded. */
  def survives(relDir: String, allowed: Map[Int, Set[String]],
      exclNull: Set[Int]): Boolean =
    allowed.forall { case (li, toks) =>
      toks.contains(componentToken(relDir, li)) } &&
      !exclNull.exists(li => componentToken(relDir, li) == NullToken)

  /** Canonical string form of a partition value — the ONE form the bucket
    * hash is computed over, shared by the write router, the pruning path,
    * and the catalog `bucket` V2 function (SPJ compatibility depends on
    * all three agreeing). */
  def valueString(v: Any): String = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.toString
    case other => other.toString
  }

  /** Bucket index of a non-null value (hexHash keeps it oracle-checkable:
    * DuckDB recomputes the same md5-prefix hash). */
  def bucketOf(v: Any, n: Int): Int =
    java.lang.Math.floorMod(
      graft.functions.Hashing.hexHashLocal(valueString(v)), n.toLong).toInt

  /** Directory token for a row's partition value under the spec. */
  def tokenFor(v: Any, bucket: Option[Int]): String =
    if (v == null) NullToken
    else bucket match {
      case Some(n) => bucketOf(v, n).toString
      case None    => encode(v)
    }

  /** Partition value → filename-safe token (lossless round trip). */
  def encode(v: Any): String = v match {
    case null => NullToken
    case s: org.apache.spark.unsafe.types.UTF8String =>
      java.net.URLEncoder.encode(s.toString, "UTF-8")
    case s: String => java.net.URLEncoder.encode(s, "UTF-8")
    case other => other.toString
  }

  /** Token → typed partition value in InternalRow representation. */
  def decode(token: String, dt: DataType): Any =
    if (token == NullToken) null
    else dt match {
      case LongType    => token.toLong
      case IntegerType => token.toInt
      case StringType  => org.apache.spark.unsafe.types.UTF8String
        .fromString(java.net.URLDecoder.decode(token, "UTF-8"))
      case other => throw new UnsupportedOperationException(
        s"audit partition column type $other")
    }

  /** LEAF partition directories of the table, as (relDir, dirPath)
    * ascending by relDir. Recurses one listing per level: a level-i
    * directory must be named `<levels(i).col>=<token>` — anything else
    * (metadata files, staging) is skipped. */
  def listDirs(path: String, levels: Seq[Level])
      : Seq[(String, java.nio.file.Path)] =
    listDirsByCols(path, levels.map(_.col))

  /** Same, keyed by column names only (maintenance paths hold the
    * serialized spec, not a schema-bound Level seq). */
  def listDirsByCols(path: String, cols: Seq[String])
      : Seq[(String, java.nio.file.Path)] = {
    def children(dir: java.nio.file.Path, col: String)
        : Seq[(String, java.nio.file.Path)] = {
      if (!java.nio.file.Files.isDirectory(dir)) return Seq.empty
      val prefix = col + "="
      val listing = java.nio.file.Files.list(dir)
      try listing.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(prefix))
        .map(p => (p.getFileName.toString, p))
        .toSeq
      finally listing.close()
    }
    var acc: Seq[(String, java.nio.file.Path)] =
      Seq(("", java.nio.file.Paths.get(path)))
    cols.foreach { c =>
      acc = acc.flatMap { case (rel, d) =>
        children(d, c).map { case (name, p) =>
          (if (rel.isEmpty) name else s"$rel/$name", p)
        }
      }
    }
    acc.sortBy(_._1)
  }

  /** (file, rows) entries of one partition directory's manifest, PLUS any
    * unconsolidated per-directory OCC txn appends. Partition dirs reuse
    * the table-level `_TXN` put-if-absent discipline (the manifest format
    * is shared, so [[AuditBase.readManifest]] applies verbatim): readers
    * see txn commits immediately, and every read-modify-write of a
    * partition `_MANIFEST` must call `AuditBase.consolidate(dir)` first. */
  def manifestEntries(dir: java.nio.file.Path): Seq[(String, Long)] =
    AuditBase.readManifest(dir.toString)
      .collect { case e if !e.folded => (e.file, e.rows) }

  /** Rewrite a partition dir's manifest, PRESERVING its txn floor (a
    * plain header would resurrect crash-leftover folded txn files).
    * Delegates to the table-level writer — one format, one writer. */
  def writeManifest(dir: java.nio.file.Path, entries: Seq[(String, Long)]): Unit =
    AuditBase.writeManifest(dir.toString,
      entries.map { case (f, r) => AuditBase.ManifestEntry(f, r, folded = false) })
}

final class AuditTable(path: String, writeSchema: StructType,
    pinnedVersion: Option[Long] = None, partCol: Option[String] = None,
    colMap: Map[String, String] = Map.empty,
    // enforced CHECK constraints: (name, predicate SQL in CURRENT names)
    checks: Seq[(String, String)] = Nil,
    // TIMESTAMP AS OF pin on a MIXED table (batch/DML history): commit-
    // time millis — resolves epochs, txn appends AND delete vectors
    pinnedMillis: Option[Long] = None)
    extends Table with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  require(path != null, "graft-audit-sink requires .option(\"path\", ...)")
  // name mapping works on partitioned tables for NON-partition columns;
  // partition columns themselves are immovable (directory names embed
  // them), so they must never appear in the map — the catalog refuses
  // the DDL, this guards the invariant at the table boundary too
  for (pc <- partCol.toSeq.flatMap(AuditPartition.parseSpecs(_).map(_.col)))
    require(!colMap.contains(pc) && !colMap.valuesIterator.contains(pc),
      s"audit: partition column $pc cannot be renamed or remapped " +
        "(directory names embed the partition column)")
  // storage-named twin of the Spark-facing schema: same field order and
  // types, names as physically written in the jsonl payload
  private val storageSchema = AuditNameMap.toStorage(writeSchema, colMap)
  private val partSpecs: Seq[AuditPartition.Spec] =
    partCol.toSeq.flatMap(AuditPartition.parseSpecs)
  private val partLevels: Seq[AuditPartition.Level] =
    AuditPartition.levelsOf(partSpecs, writeSchema)

  // --- SupportsPartitionManagement (SHOW PARTITIONS / ADD / DROP) ---------
  // Partition DDL over the directory layout: partitions normally come and
  // go with the data (dynamic routing), but the management surface makes
  // them inspectable (SHOW PARTITIONS) and lets operators pre-create or
  // retire whole partitions (ALTER TABLE ADD/DROP PARTITION — a DROP is
  // the O(1) retention delete every date-partitioned pipeline wants).
  // Identity partitioning only: a bucket dir's identifier is a hash
  // bucket, not a value, so value-addressed DDL would be a lie.
  private def mgmtLevels: Seq[AuditPartition.Level] = {
    require(partLevels.nonEmpty && partLevels.forall(_.bucket.isEmpty),
      "audit partition management needs an identity-partitioned table")
    partLevels
  }
  private def identRelDir(ident: InternalRow): String = {
    val ls = mgmtLevels
    AuditPartition.relDirOf(ls, ls.zipWithIndex.map { case (l, i) =>
      AuditPartition.tokenFor(
        if (ident.isNullAt(i)) null else ident.get(i, l.dt), None)
    })
  }
  override def partitionSchema(): StructType =
    StructType(mgmtLevels.map(l => StructField(l.col, l.dt, nullable = true)))
  override def partitionExists(ident: InternalRow): Boolean =
    java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(path).resolve(identRelDir(ident)))
  override def createPartition(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit = {
    val d = java.nio.file.Paths.get(path).resolve(identRelDir(ident))
    if (java.nio.file.Files.isDirectory(d))
      throw new org.apache.spark.sql.catalyst.analysis
        .PartitionsAlreadyExistException(name(), ident, partitionSchema())
    java.nio.file.Files.createDirectories(d)
    AuditPartition.writeManifest(d, Seq.empty)
  }
  override def dropPartition(ident: InternalRow): Boolean = {
    val d = java.nio.file.Paths.get(path).resolve(identRelDir(ident))
    if (!java.nio.file.Files.isDirectory(d)) return false
    deleteTree(d)
    // drop empty intermediate level dirs left behind (multi-level): a
    // parent with no remaining children is layout debris, not a partition
    var parent = d.getParent
    val root = java.nio.file.Paths.get(path)
    while (parent != null && parent != root &&
        parent.startsWith(root) && {
          val l = java.nio.file.Files.list(parent)
          try !l.iterator().hasNext finally l.close()
        }) {
      java.nio.file.Files.deleteIfExists(parent)
      parent = parent.getParent
    }
    true
  }
  override def replacePartitionMetadata(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "audit partitions carry no custom metadata")
  override def loadPartitionMetadata(ident: InternalRow)
      : java.util.Map[String, String] = {
    val d = java.nio.file.Paths.get(path).resolve(identRelDir(ident))
    if (!java.nio.file.Files.isDirectory(d))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchPartitionException(name(), ident, partitionSchema())
    // live rows: the same metadata count the COUNT(*) pushdown answers
    val rows = AuditScan.dirFiles(identRelDir(ident), d, None)
      .rows(current = true)
    java.util.Map.of("files",
      AuditPartition.manifestEntries(d).size.toString, "rows", rows.toString)
  }
  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    val ls = mgmtLevels
    require(names.length == ident.numFields)
    // a partial ident names a SUBSET of the partition fields (SHOW
    // PARTITIONS t PARTITION(c=v)): match each named field's token
    val wantByLevel: Map[Int, String] = names.zipWithIndex.map {
      case (n, i) =>
        val li = ls.indexWhere(_.col == n)
        require(li >= 0, s"audit: unknown partition field $n")
        (li, AuditPartition.tokenFor(
          if (ident.isNullAt(i)) null else ident.get(i, ls(li).dt), None))
    }.toMap
    AuditPartition.listDirs(path, ls).collect {
      case (relDir, _) if wantByLevel.forall { case (li, tok) =>
          AuditPartition.componentToken(relDir, li) == tok } =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          ls.indices.map(i => AuditPartition.decode(
            AuditPartition.componentToken(relDir, i), ls(i).dt)).toArray)
    }.toArray
  }
  override def name(): String = s"graft_audit_sink($path)"
  override def schema(): StructType = writeSchema

  /** Enforced CHECK constraints (Spark 4 DSv2 constraints): served back
    * to the analyzer, which injects row validation into every INSERT,
    * streaming write, and DML against this table — a violating row fails
    * the write LOUDLY before anything publishes (the staged two-phase
    * commit aborts clean). Enforcement happens ABOVE the connector in
    * CURRENT column names, so it composes with the rename map for free. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    checks.map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog.constraints
          .Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray
  override def partitioning(): Array[Transform] =
    partSpecs.toArray.map {
      case AuditPartition.Spec(c, Some(n)) =>
        org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
      case AuditPartition.Spec(c, None) =>
        org.apache.spark.sql.connector.expressions.Expressions.identity(c)
    }
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  /** `_epoch` metadata column: which two-phase-committed epoch a row landed
    * in (null for batch-committed files). `SELECT *, _epoch FROM t` is the
    * audit question this table exists to answer. `_file`/`_pos` are the
    * STABLE ROW ID (committed file name + line position) that powers the
    * delta-granular DML path: positions never move because delta DML only
    * ever appends files and delete-vector entries — files are rewritten
    * solely by the retroactive metadata DELETE, which refuses to run while
    * vectors reference them. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_epoch"
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = true
        override def comment(): String =
          "streaming commit epoch this row was published in (null for batch commits)"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "committed file this row lives in"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "line position of this row within _file"
      }) ++
      // one `_orig_<col>` per GENERATED ALWAYS identity column: the
      // column's ORIGINAL stored value. Metadata columns are preserved
      // on update (PRESERVE_ON_UPDATE defaults true), so a delta UPDATE's
      // `meta` row carries the pre-assignment value — the comparison
      // that lets the writer reject explicit identity assignments.
      writeSchema.fields.toSeq.flatMap { f =>
        org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f)
          .filter(!_.isAllowExplicitInsert).map { _ =>
            new org.apache.spark.sql.connector.catalog.MetadataColumn {
              override def name(): String = "_orig_" + f.name
              override def dataType(): org.apache.spark.sql.types.DataType =
                f.dataType
              override def isNullable: Boolean = true
              override def comment(): String =
                s"original stored value of identity column ${f.name}"
            }
          }
      }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // generated/identity columns: resolve + bind the fill specs ON THE
    // DRIVER (this is driver code); the batch write wraps its writers
    val genSpecs: Option[GeneratedWrite.Specs] =
      if (GeneratedWrite.hasAny(writeSchema) &&
          info.schema().length == writeSchema.length)
        Some(GeneratedWrite.specsOf(
          org.apache.spark.sql.SparkSession.active, writeSchema))
      else None
    new AuditWriteBuilder(path, AuditNameMap.toStorage(info.schema(), colMap),
      info.options().asScala.map { case (k, v) => (k.toLowerCase, v) }.toMap,
      partLevels, Option(info.queryId()), genSpecs)
  }

  /** Row-level DELETE (SQL `DELETE FROM graft.db.t WHERE ...` through the
    * catalog): copy-on-write — every committed file is rewritten without
    * the matching rows, manifests updated in place. The rewrite covers
    * epoch files too, so the delete is RETROACTIVE across `versionAsOf`
    * history (a hard delete: the compliance semantics you actually want
    * from an audit table — history must not resurrect purged rows).
    * `canDeleteWhere` claims only predicates this table can evaluate
    * EXACTLY (3-valued logic, null never matches); anything else is
    * refused so Spark errors instead of a partial delete. */
  /** V2-predicate overrides of the `SupportsDelete` bridge. Spark's
    * default V2→V1 conversion is LOSSY: a predicate it cannot convert is
    * weakened or dropped (observed: `(id % 100 = 3 AND id < 400) OR
    * id = 5` reaching the v1 `canDeleteWhere` as just `EqualTo(id,5)`),
    * and `deleteWhere` then deletes the WRONG row set — there is no
    * post-check on a destructive op. These overrides convert STRICTLY:
    * any inconvertible node refuses the metadata path entirely, routing
    * the DELETE to the exact row-level delta rewrite instead. */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean = {
    val v1 = predicates.map(AuditV2Filters.toV1)
    v1.forall(_.isDefined) && canDeleteWhere(v1.flatten)
  }
  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Unit = {
    val v1 = predicates.map(AuditV2Filters.toV1)
    require(v1.forall(_.isDefined),
      s"audit delete: inconvertible predicate in ${predicates.mkString(", ")} — " +
        "canDeleteWhere should have refused this metadata delete")
    deleteWhere(v1.flatten)
  }

  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(f => AuditDelete.supported(storageSchema,
      AuditNameMap.mapFilter(f, colMap))) &&
      // SCALE GUARD: this path rewrites files on the driver — surgical and
      // cheap at metadata scale, wrong for a huge table. The manifests
      // give the row count for free; past the bound, canDeleteWhere=false
      // routes the delete to Spark's DISTRIBUTED row-level rewrite instead.
      AuditDelete.tableRows(path, partLevels) <= AuditDelete.MaxDriverRewriteRows &&
      // a compacted table routes predicate deletes to the delta path: the
      // retroactive rewrite would have to rebuild per-epoch history from
      // the base. TRUNCATE (AlwaysTrue — also how truncateTable() probes
      // this method) still clears everything — see deleteWhere.
      (AuditBase.read(path).isEmpty || filters.forall(
        _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])) &&
      // PARTITIONED tables route every predicate DELETE to the delta
      // (vector) path too: the per-directory logs stay pure-append, so a
      // live change-feed tail consumes the DELETE as delete events
      // instead of tripping the in-place-rewrite detector, and no
      // manifest fold happens under concurrent OCC appends. The in-place
      // machinery below remains for TRUNCATE (wholesale, by design) and
      // O(1) whole-partition retirement stays ALTER TABLE DROP PARTITION.
      (partLevels.isEmpty || filters.forall(
        _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
    AuditDelete.deleteWhere(path, storageSchema,
      filters.map(AuditNameMap.mapFilter(_, colMap)), partLevels)

  /** SQL UPDATE / MERGE INTO (and DELETE with predicates the metadata path
    * can't translate): DELTA-granular through one [[AuditDeltaOperation]]
    * on BOTH layouts. Replacement rows route into their partition
    * directories (an UPDATE may MOVE a row across partitions; an
    * unpartitioned table's one directory is the root) and delete vectors
    * append per directory, keyed by the `(_file, _pos)` row id — no
    * committed file is ever rewritten, so epoch lineage and `VERSION AS
    * OF` survive DML on either layout, and the change feed emits true
    * update/delete events. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    // GENERATED columns recompute inside the delta writers (an UPDATE
    // that changes a referenced column moves the generated value too);
    // IDENTITY columns keep a row's scan-carried value on UPDATE and
    // allocate for MERGE-inserted rows from a per-commit block the
    // DeltaWrite reserves at build time (same discipline as INSERT).
    val genSpecs: Option[GeneratedWrite.Specs] =
      if (GeneratedWrite.hasAny(writeSchema))
        Some(GeneratedWrite.specsOf(
          org.apache.spark.sql.SparkSession.active, writeSchema))
      else None
    // GENERATED ALWAYS identity columns ride the METADATA projection
    // (`_orig_<col>`, preserved-on-update) so the delta writer can
    // compare each UPDATE row's new value against the row's ORIGINAL and
    // reject explicit assignments — schema field order, matching the
    // order FillingDeltaWriterFactory reads the `meta` row back.
    val lockedIdCols: Seq[String] = writeSchema.fields.toSeq.flatMap { f =>
      org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f)
        .filter(!_.isAllowExplicitInsert).map(_ => f.name)
    }
    () => new AuditDeltaOperation(path, storageSchema, info.command(),
      partLevels, colMap, genSpecs, lockedIdCols)
  }

  /** Read-back (and TIME TRAVEL) over the sink's own commit metadata: the
    * `_EPOCHS` manifest the streaming two-phase commit publishes is a
    * version log, so `option("versionAsOf", e)` reconstructs the table as
    * of epoch `e` — only part files of manifest-listed epochs ≤ e are
    * planned. Without the option the scan reads everything committed
    * (batch `_MANIFEST` files + all epochs). Listing is manifest-driven,
    * never a blind directory glob: a reader can never observe a staged or
    * uncommitted file, completing the lakehouse loop the two-phase commit
    * started. */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder = {
    // CHANGE FEED read: option("changeFeed","true") with a read schema of
    // the data columns + _change_type (+ optional _commit_epoch) — every
    // committed row arrives as an 'insert' event and every delete-vector
    // entry as a 'delete' event carrying the original row values, batch
    // AND streaming (the streaming tail turns delta DML into a true CDF).
    if (Option(options.get("changeFeed")).exists(_.toBoolean)) {
      require(writeSchema.fieldNames.contains("_change_type"),
        "audit changeFeed: the read schema must include _change_type STRING " +
          "(and may include _commit_epoch BIGINT)")
      // partitioned tables feed from the per-directory logs: every
      // manifest entry (streaming epoch or OCC txn append) is an insert
      // event and every per-directory delete-vector entry (partitioned
      // delta DML) a delete event; the tail fails loudly on manifest
      // shrink, consumed-entry row drift, or a vanished directory.
      // startingEpoch: incremental batch CDC — plan only epochs >= e.
      // startingTimestamp (millis): the COMMIT-TIME axis, resolved
      // natively across all three logs on BOTH layouts (epochs, txn
      // appends, delete vectors each filter by their recorded commit
      // time — mixed histories pull each event exactly once).
      val startTs = Option(options.get("startingTimestamp")).map(_.toLong)
      val startEpoch = Option(options.get("startingEpoch")).map(_.toLong)
      if (partLevels.nonEmpty)
        return new AuditPartitionedCdfScan(path, writeSchema, partLevels,
          AuditNameMap.toStorage(writeSchema, colMap), startEpoch,
          startMillis = if (startEpoch.isDefined) None else startTs)
      else
        return new AuditCdfScan(path, writeSchema,
          AuditNameMap.toStorage(writeSchema, colMap), startEpoch,
          startMillis = if (startEpoch.isDefined) None else startTs)
    }
    val version = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(pinnedVersion) // catalog `VERSION AS OF` pins via loadTable
    // catalog `TIMESTAMP AS OF` on a mixed table pins by commit time;
    // the path-based surface can pass millis directly
    val asOfMillis = Option(options.get("timestampAsOfMillis")).map(_.toLong)
      .orElse(pinnedMillis)
    // OPTIMIZE's rewrite scan: full row history, delete vectors NOT applied
    val includeDeleted = Option(options.get("includeDeleted")).exists(_.toBoolean)
    // compaction snapshot pin: only epochs <= snapshotMaxEpoch and batch
    // files named in snapshotFiles are planned, so commits landing while
    // the compaction job runs are neither folded nor duplicated
    val snapMaxEpoch = Option(options.get("snapshotMaxEpoch")).map(_.toLong)
    val snapFiles = Option(options.get("snapshotFiles"))
      .map(_.split(",").filter(_.nonEmpty).toSet)
    new AuditScanBuilder(path, storageSchema, version, partLevels,
      includeDeleted = includeDeleted,
      snapMaxEpoch = snapMaxEpoch, snapFiles = snapFiles, nameMap = colMap,
      asOfMillis = asOfMillis)
  }

  private[sources] def dataPath: String = path
  private[sources] def partitionColumn: Option[String] = partCol
  /** Storage-named schema + current→storage map, for maintenance code
    * that reads/writes through the raw provider (OPTIMIZE, VACUUM). */
  private[sources] def storageNamedSchema: StructType = storageSchema
  private[sources] def columnMap: Map[String, String] = colMap
}

/** Scan builder: required-column pruning doubles as the metadata-column
  * hook — when Spark appends `_epoch` to the required schema, the reader
  * fills it from the partition's epoch instead of the json payload.
  *
  * On PARTITIONED tables it additionally pushes partition predicates:
  * EqualTo / In / IsNull on the partition column are claimed EXACTLY (all
  * rows of a directory share the value and tokens round-trip losslessly),
  * so the scan opens only matching directories — and, because no residual
  * remains, a partition-sliced COUNT(*) still takes the metadata-only
  * path. Anything else stays residual: pruning can never change answers. */
final class AuditScanBuilder(path: String, writeSchema: StructType,
    versionAsOf: Option[Long],
    partLevels: Seq[AuditPartition.Level] = Nil,
    // the row-level COW rewrite scan must read EVERY partition (its write
    // truncates the whole table) — it disables partition-filter pushdown
    allowPartFilters: Boolean = true,
    includeDeleted: Boolean = false,
    snapMaxEpoch: Option[Long] = None,
    snapFiles: Option[Set[String]] = None,
    // current→storage column name map (RENAME without rewrite): Spark
    // pushes pruning/filters in CURRENT names; everything below this
    // boundary speaks STORAGE names (writeSchema here is storage-named)
    nameMap: Map[String, String] = Map.empty,
    // DML (row-level-operation) scans FORCE the partition columns to
    // survive column pruning: a MERGE branch that projects only the
    // row id would otherwise gate `filterAttributes` off — and at
    // 100 TB a selective MERGE that can't runtime-prune opens every
    // directory on the target side. Reading K extra small columns per
    // matched row is noise next to that. Plain reads never force.
    keepPartCols: Boolean = false,
    // mixed-table TIMESTAMP AS OF pin (commit-time millis): epochs, txn
    // appends and delete vectors all resolve on the commit-time axis
    asOfMillis: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {
  import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNull}
  private var required: StructType = writeSchema
  // the pruned schema in CURRENT names — what Scan.readSchema must return
  private var requiredOut: StructType = AuditNameMap.toStorage(
    writeSchema, nameMap.map(_.swap))
  private var metadataCount = false
  private var accepted: Array[Filter] = Array.empty
  /** Allowed partition TOKENS per LEVEL after pushed predicates; a level
    * absent from the map is unrestricted. */
  private var allowedTokens: Map[Int, Set[String]] = Map.empty
  /** Levels whose null-token directory is excluded (IsNotNull claims). */
  private var excludeNull: Set[Int] = Set.empty
  /** Per-partition row cap from a pushed LIMIT / sorted-base TopN. */
  private var pushedCap: Option[Int] = None
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // partition columns are never renamed, so the current-named and
    // storage-named spellings agree and one writeSchema field serves both
    val out =
      if (!keepPartCols) requiredSchema
      else StructType(requiredSchema.fields ++
        partLevels.map(_.col)
          .filterNot(requiredSchema.fieldNames.contains)
          .map(writeSchema(_)))
    requiredOut = out
    // `_orig_<cur>` metadata fields translate their BASE name (nameMap
    // keys are plain column names, so toStorage would leave them alone)
    val mapped = StructType(out.fields.map { f =>
      if (f.name.startsWith("_orig_")) {
        val base = f.name.stripPrefix("_orig_")
        f.copy(name = "_orig_" + nameMap.getOrElse(base, base))
      } else f
    })
    required = AuditNameMap.toStorage(mapped, nameMap)
  }

  /** PARTIAL limit pushdown: each partition stops after n surviving rows
    * (Spark applies the final global limit). Any scan can claim this —
    * a LIMIT 10 over a huge table reads ~10 rows per file instead of
    * everything. */
  override def pushLimit(limit: Int): Boolean = {
    pushedCap = Some(limit); true
  }
  override def isPartiallyPushed: Boolean = true

  /** PARTIAL TopN pushdown — the sorted-base synergy: when the table is a
    * `sort_by` base checkpoint (and nothing unsorted is planned beside
    * it), each base file is internally ascending on the sort column, so
    * its first n surviving rows ARE its top-n and the per-partition cap
    * is exact. Claimed only for a single ascending-nulls-first order on
    * exactly that column; Spark still merges (partial contract). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    val ok = partLevels.isEmpty && versionAsOf.isEmpty &&
      asOfMillis.isEmpty && !includeDeleted &&
      orders.length == 1 && {
        val o = orders.head
        o.direction == SortDirection.ASCENDING &&
          o.nullOrdering == NullOrdering.NULLS_FIRST &&
          (o.expression match {
            case r: NamedReference => r.fieldNames.length == 1 &&
              AuditBase.read(path).exists(b =>
                // _BASE records the STORAGE sort column; the reference
                // carries the CURRENT name — translate before comparing
                b.sortBy.contains(nameMap.getOrElse(
                  r.fieldNames.head, r.fieldNames.head)) &&
                  AuditBase.readManifest(path).forall(_.folded) &&
                  AuditScan.committedEpochs(path).forall(_ <= b.throughEpoch))
            case _ => false
          })
      }
    if (ok) pushedCap = Some(limit)
    ok
  }

  /** Conjuncts remembered for ZONE-MAP file skipping (`_STATS`): they are
    * never claimed — every data filter stays residual, so a skip can only
    * remove files whose every row the residual would drop anyway. */
  private var skipFilters: Seq[Filter] = Nil

  override def pushFilters(filters0: Array[Filter]): Array[Filter] = {
    val mapped = filters0.map(AuditNameMap.mapFilter(_, nameMap))
    if (allowPartFilters) skipFilters = mapped.toSeq
    // residuals (and pushedFilters) go back in Spark's ORIGINAL objects
    // (it maps them to catalyst expressions by value); the storage-named
    // twins above only feed the zone-map skip, whose _STATS keys are
    // storage names — so prunability is DECIDED on the mapped twin but
    // RECORDED against the original (partition columns themselves are
    // never mapped, so their twins are value-equal anyway)
    if (partLevels.isEmpty || !allowPartFilters) return filters0
    def levelOf(c: String): Int = partLevels.indexWhere(_.col == c)
    def restrict(li: Int, tokens: Set[String]): Unit =
      allowedTokens += (li ->
        allowedTokens.get(li).fold(tokens)(_ intersect tokens))
    // prunable filters paired with the LEVEL they restrict — a bucket
    // level keeps its predicate residual (a bucket dir holds every value
    // hashing there), an identity level consumes it (dirs hold exactly
    // the predicate's value)
    val prunable = filters0.zip(mapped).flatMap {
      case (orig, EqualTo(c, v)) if levelOf(c) >= 0 && v != null =>
        val li = levelOf(c)
        restrict(li, Set(AuditPartition.tokenFor(v, partLevels(li).bucket)))
        Some((orig, li))
      case (orig, In(c, vs)) if levelOf(c) >= 0 && vs.forall(_ != null) =>
        val li = levelOf(c)
        restrict(li,
          vs.map(AuditPartition.tokenFor(_, partLevels(li).bucket)).toSet)
        Some((orig, li))
      case (orig, IsNull(c)) if levelOf(c) >= 0 =>
        restrict(levelOf(c), Set(AuditPartition.NullToken))
        Some((orig, levelOf(c)))
      // identity dirs hold exact values, so dropping the null-token
      // dir GUARANTEES IsNotNull — claiming it keeps the residual set
      // empty and the metadata COUNT(*) pushdown available under the
      // not-null inference Catalyst adds beside every equality
      case (orig, org.apache.spark.sql.sources.IsNotNull(c)) if levelOf(c) >= 0 =>
        excludeNull += levelOf(c)
        Some((orig, levelOf(c)))
      case _ => None
    }
    accepted = prunable.collect {
      case (orig, li) if partLevels(li).bucket.isEmpty => orig
    }
    filters0.filterNot(accepted.contains)
  }
  override def pushedFilters(): Array[Filter] = accepted

  /** Metadata-only COUNT(*): the manifests already carry exact per-file
    * row counts (kept current by append, truncate, and both delete
    * paths), so an ungrouped COUNT(*) is answered from `_MANIFEST` +
    * `_EPOCHS` without opening a single data file — the classic
    * table-format count. COMPLETE pushdown is claimed (the driver-side
    * sum IS the answer; an empty table correctly yields one row of 0).
    *
    * Ungrouped MIN/MAX over integral columns additionally answer from
    * the `_STATS` zone maps (Iceberg-style metadata min/max) — but ONLY
    * when the bounds are provably EXACT: current read, no delete vectors
    * outstanding in a surviving directory (a vector could hide the
    * extreme row; the metadata DELETE recomputes bounds during its
    * rewrite, so those stay exact), and every planned file carries a
    * stats line for every asked column. Anything else — grouping other
    * than a grouped count, other aggregates, count over a column (null
    * semantics need the data) — is refused, row-level. */
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAggs(aggregation).isDefined ||
      groupedCountLevels(aggregation).isDefined

  /** GROUPED metadata count: `GROUP BY <identity partition cols>` with
    * only COUNT(*) aggregates answers one row per surviving group of
    * partition directories straight from their metadata — the
    * partitioned analogue of the ungrouped metadata count. Returns the
    * identity-level indices grouped by, when pushable: every grouping
    * expression is a distinct IDENTITY partition level (bucket tokens do
    * not determine the column value, so bucket levels refuse). A subset
    * of the levels is fine — counts aggregate across the unmentioned
    * levels' directories. */
  private def groupedCountLevels(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[Int]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.CountStar
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (includeDeleted || versionAsOf.isDefined || partLevels.isEmpty)
      return None
    if (aggregation.aggregateExpressions.isEmpty ||
        !aggregation.aggregateExpressions.forall(_.isInstanceOf[CountStar]))
      return None
    val lis = aggregation.groupByExpressions.toSeq.map {
      case r: NamedReference if r.fieldNames.length == 1 =>
        partLevels.indexWhere(l =>
          l.col == r.fieldNames.head && l.bucket.isEmpty)
      case _ => -1
    }
    if (lis.nonEmpty && lis.forall(_ >= 0) && lis.distinct == lis) Some(lis)
    else None
  }

  /** Parse + validate the aggregation into metadata-answerable specs. */
  private def metadataAggs(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[Seq[AuditMetaAgg]] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (aggregation.groupByExpressions.nonEmpty || includeDeleted) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        // Spark's references carry CURRENT names; writeSchema and the
        // `_STATS` keys below are STORAGE-named — translate first, or a
        // RENAME+re-ADD could answer min/max from the OLD column's bounds
        val storageName =
          nameMap.getOrElse(r.fieldNames.head, r.fieldNames.head)
        writeSchema.find(f => f.name == storageName &&
          AuditStats.statable(f.dataType) &&
          // a column with an existence default has VALUES the write-time
          // stats never saw (rows predating the column) — its zone-map
          // bounds cannot answer min/max exactly
          !f.metadata.contains(org.apache.spark.sql.catalyst.util
            .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY))
      case _ => None
    }
    val specs = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(AuditMetaAgg("count", None))
      case m: Min => colOf(m.column).map(f => AuditMetaAgg("min", Some(f)))
      case m: Max => colOf(m.column).map(f => AuditMetaAgg("max", Some(f)))
      case _ => None
    }
    if (specs.exists(_.isEmpty)) return None
    // a PINNED count on a compacted partitioned table needs an origin
    // scan of the per-dir base rows (epoch <= v) — not metadata-answerable
    if (versionAsOf.isDefined && partLevels.nonEmpty &&
        AuditPartition.listDirs(path, partLevels).exists { case (_, d) =>
          AuditBase.read(d.toString).isDefined })
      return None
    val wantsMinMax = specs.flatten.exists(_.op != "count")
    if (wantsMinMax) {
      // exactness gate for the stats-answered aggregates
      if (versionAsOf.isDefined) return None
      // every surviving directory must carry NO outstanding delete
      // vectors and a stats line for every file a current read opens
      val exact = AuditPartition.listDirs(path, partLevels).forall {
        case (relDir, dir) =>
          !AuditPartition.survives(relDir, allowedTokens, excludeNull) || {
            // POSITIONAL vectors refuse (one could hide the extreme row);
            // FOLDED summaries do not — the fold physically blanked the
            // rows AND recomputed the touched files' stats (the VACUUM
            // invariant since round 16). That invariant only holds for
            // STAMPED folds: a watermark-less summary is a pre-upgrade
            // fold that blanked rows WITHOUT recomputing stats — its
            // superset bounds can claim a physically deleted row's value,
            // so it refuses here exactly as it refuses time travel.
            AuditDeletes.entries(dir.toString).isEmpty &&
              AuditDeletes.foldWatermark(dir.toString).isDefined && {
                val d = AuditScan.dirFiles(relDir, dir, None)
                val st = AuditStats.read(dir.toString)
                // a stats LINE with a column absent means no non-null
                // values — it contributes no bound, which is exactly SQL
                // min/max null semantics; a file with NO line is unknown
                // and refuses the claim
                (d.baseFiles.map(_._1) ++ d.dataFiles).forall(st.contains)
              }
          }
      }
      if (!exact) return None
    }
    Some(specs.flatten)
  }

  private var pushedMetaAggs: Option[Seq[AuditMetaAgg]] = None
  private var pushedGroupCounts = 0
  private var pushedGroupLevels: Seq[Int] = Nil

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    // a time-pinned read reconstructs past state row-by-row; the
    // manifest counts describe the PRESENT — never claim them
    if (asOfMillis.nonEmpty) false
    else metadataAggs(aggregation) match {
      case Some(specs) => pushedMetaAggs = Some(specs); true
      case None => groupedCountLevels(aggregation) match {
        case Some(lis) =>
          pushedGroupLevels = lis
          pushedGroupCounts = aggregation.aggregateExpressions.length; true
        case None => false
      }
    }

  override def build(): org.apache.spark.sql.connector.read.Scan =
    pushedMetaAggs match {
      case Some(specs) =>
        new AuditCountScan(path, versionAsOf, partLevels, allowedTokens, specs,
          excludeNull)
      case None if pushedGroupCounts > 0 =>
        new AuditGroupCountScan(path, partLevels, pushedGroupLevels,
          allowedTokens, excludeNull, pushedGroupCounts)
      case None =>
        new AuditScan(path, writeSchema, required, versionAsOf, partLevels,
          allowedTokens, includeDeleted, skipFilters,
          pushedCap.map(_.toLong).getOrElse(Long.MaxValue),
          snapMaxEpoch, snapFiles, excludeNull, outSchema = Some(requiredOut),
          asOfMillis = asOfMillis)
    }
}

/** One metadata-answerable aggregate: `count` (manifests) or `min`/`max`
  * over a statable column (zone maps). */
final case class AuditMetaAgg(op: String, field: Option[StructField])

/** One row per surviving GROUP of partition directories: (grouped level
  * values, COUNT(*)) read from the per-partition metadata — zero data
  * files opened. The COMPLETE-pushdown grouped count for identity
  * partition levels; grouping by a SUBSET of the levels sums across the
  * unmentioned levels' directories. */
final class AuditGroupCountScan(path: String,
    partLevels: Seq[AuditPartition.Level],
    groupLevels: Seq[Int],
    allowedTokens: Map[Int, Set[String]] = Map.empty,
    excludeNull: Set[Int] = Set.empty,
    nCounts: Int = 1)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read._

  override def readSchema(): StructType = StructType(
    groupLevels.map(li =>
      StructField(partLevels(li).col, partLevels(li).dt, nullable = true)) ++
      (0 until nCounts).map(i =>
        StructField(s"count_$i", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"AuditGroupCountScan $path (metadata-only count group by " +
      s"${groupLevels.map(partLevels(_).col).mkString(",")})" +
      (if (allowedTokens.nonEmpty)
        allowedTokens.toSeq.sortBy(_._1).map { case (li, ts) =>
          s" ${partLevels(li).col}=${ts.toSeq.sorted.mkString("|")}"
        }.mkString(" partitions:", ",", "")
      else "")

  override def planInputPartitions(): Array[InputPartition] =
    AuditPartition.listDirs(path, partLevels).collect {
      case (relDir, dir)
        if AuditPartition.survives(relDir, allowedTokens, excludeNull) =>
        (groupLevels.map(AuditPartition.componentToken(relDir, _)),
          AuditScan.dirFiles(relDir, dir, None).rows(current = true))
    }.groupBy(_._1).toSeq.sortBy(_._1.mkString("/"))
      .map { case (toks, dirs) => (toks, dirs.map(_._2).sum) }
      .collect { // an empty group is no group at all in SQL semantics
        case (toks, n) if n > 0 =>
          AuditCountPartition(
            toks.zip(groupLevels).map { case (t, li) =>
              AuditPartition.decode(t, partLevels(li).dt) } ++
              Seq.fill(nCounts)(n))
            : InputPartition
      }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    AuditCountPartition.ReaderFactory
}

/** The manifest-count scan: one partition, one row, zero data files read.
  * The count sums only the SURVIVING directories' metadata — a
  * partition-sliced COUNT(*) stays metadata-only. */
final class AuditCountScan(path: String, versionAsOf: Option[Long],
    partLevels: Seq[AuditPartition.Level] = Nil,
    allowedTokens: Map[Int, Set[String]] = Map.empty,
    aggs: Seq[AuditMetaAgg] = Seq(AuditMetaAgg("count", None)),
    excludeNull: Set[Int] = Set.empty)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read._

  private def survivingDirs: Seq[(String, java.nio.file.Path)] =
    AuditPartition.listDirs(path, partLevels).filter { case (relDir, _) =>
      AuditPartition.survives(relDir, allowedTokens, excludeNull) }

  override def readSchema(): StructType =
    StructType(aggs.map {
      case AuditMetaAgg("count", _) =>
        StructField("count", LongType, nullable = false)
      case AuditMetaAgg(op, Some(f)) =>
        StructField(s"$op(${f.name})", f.dataType, nullable = true)
      case other => throw new IllegalStateException(s"meta agg $other")
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"AuditCountScan $path (metadata-only " +
      aggs.map(a => a.field.fold(a.op)(f => s"${a.op}(${f.name})"))
        .mkString(",") + ")" +
      versionAsOf.map(v => s" versionAsOf=$v").getOrElse("") +
      (if (allowedTokens.nonEmpty)
        s" partitions=${survivingDirs.map(_._1).mkString(",")}" else "")

  /** Zone-map MIN/MAX across the current-read file set (the pushdown
    * gate already proved every one of these files has exact bounds). */
  private def statValue(dirs: Seq[AuditScan.DirFiles], op: String,
      f: StructField): Any = {
    val bounds: Seq[(Long, Long)] = dirs.flatMap { d =>
      val st = AuditStats.read(d.dir.toString)
      (d.baseFiles.map(_._1) ++ d.dataFiles)
        .flatMap(file => st.get(file).flatMap(_.ints.get(f.name)))
    }
    if (bounds.isEmpty) null
    else {
      val v = if (op == "min") bounds.map(_._1).min else bounds.map(_._2).max
      f.dataType match {
        case IntegerType => v.toInt
        case _           => v
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    AuditBase.checkNotExpired(path, versionAsOf) // VACUUM's retention bound
    val dirs = survivingDirs.map { case (relDir, dir) =>
      AuditScan.dirFiles(relDir, dir, versionAsOf) }
    Array(AuditCountPartition(aggs.map {
      case AuditMetaAgg("count", _)   =>
        dirs.map(_.rows(current = versionAsOf.isEmpty)).sum
      case AuditMetaAgg(op, Some(f))  => statValue(dirs, op, f)
      case other => throw new IllegalStateException(s"meta agg $other")
    }))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    AuditCountPartition.ReaderFactory
}

final case class AuditCountPartition(vals: Seq[Any])
    extends org.apache.spark.sql.connector.read.InputPartition

private[sources] object AuditCountPartition {
  import org.apache.spark.sql.connector.read._

  /** Emits each partition's precomputed values as its one row. */
  object ReaderFactory extends PartitionReaderFactory {
    override def createReader(partition: InputPartition)
        : PartitionReader[InternalRow] = {
      val vals = partition.asInstanceOf[AuditCountPartition].vals
      new PartitionReader[InternalRow] {
        private var emitted = false
        override def next(): Boolean =
          if (emitted) false else { emitted = true; true }
        override def get(): InternalRow =
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(vals.toArray)
        override def close(): Unit = ()
      }
    }
  }
}

/** Metadata-driven scan over both layouts: each surviving directory's
  * files come from [[AuditScan.dirFiles]], planned as one InputPartition
  * per file on a zero-level table and one per directory on a partitioned
  * one. Also the STREAMING-TAIL source ([[AuditMicroBatchStream]], both
  * layouts): the `_EPOCHS` commit log doubles as an offset log, so a
  * downstream job can subscribe to the table and receive each committed
  * epoch as a micro-batch — the write-side two-phase commit becomes an
  * end-to-end exactly-once bus. */
final class AuditScan(path: String, writeSchema: StructType,
    required: StructType, versionAsOf: Option[Long],
    partLevels: Seq[AuditPartition.Level] = Nil,
    allowedTokens: Map[Int, Set[String]] = Map.empty,
    includeDeleted: Boolean = false,
    skipFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    rowCap: Long = Long.MaxValue,
    snapMaxEpoch: Option[Long] = None,
    snapFiles: Option[Set[String]] = None,
    excludeNull: Set[Int] = Set.empty,
    // current-named pruned schema for Spark (readSchema); `required` is
    // its storage-named twin the readers parse with. None = identical.
    outSchema: Option[StructType] = None,
    // mixed-table TIMESTAMP AS OF: commit-time millis pin across epochs,
    // txn appends and delete vectors (see planTimePinned)
    asOfMillis: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {
  import org.apache.spark.sql.connector.read._

  // --- RUNTIME partition pruning (DPP) --------------------------------
  // A selective join against a partitioned audit table plants IN/=
  // predicates over a partition column at EXECUTION time; directories
  // outside the value set are dropped before a single file opens. At
  // 100 TB this is the difference between "join reads one day" and
  // "join reads the table" whenever the partition values only become
  // known at runtime (dim-filtered joins, subquery results). Identity
  // AND bucket levels prune (values map to tokens through the same
  // tokenFor the write router uses); null literals match no equi-join
  // row, so dropping the null directory is correct. Multi-level tables
  // prune per LEVEL: a runtime filter on any partition column narrows
  // that level's component independently.
  private var runtimeTokens: Map[Int, Set[String]] = Map.empty
  private[sources] var runtimeFilterApi: Option[String] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // partition columns are never renamed (current name == storage) —
    // but each must have SURVIVED column pruning: Spark resolves these
    // references against the scan's (pruned) output and THROWS on a
    // miss (seen on a MERGE's delete-branch scan, which projects only
    // the row id), rather than skipping the scan for DPP
    partLevels.collect {
      case l if readSchema().fieldNames.contains(l.col) =>
        org.apache.spark.sql.connector.expressions.Expressions.column(l.col)
    }.toArray

  private def restrictRuntime(li: Int, tokens: Set[String], api: String): Unit = {
    runtimeTokens += (li ->
      runtimeTokens.get(li).fold(tokens)(_ intersect tokens))
    runtimeFilterApi = Some(api)
  }

  /** NATIVE V2 predicate path — Spark's DPP calls this overload; shapes
    * the parser does not understand delegate to the v1 bridge below so
    * the two paths can never disagree on what prunes. */
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference}
    if (partLevels.isEmpty) return
    def partLevel(e: Expression): Int = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        partLevels.indexWhere(_.col == r.fieldNames.head)
      case _ => -1
    }
    def litToken(li: Int, e: Expression): Option[Option[String]] = e match {
      // Some(None) = a null literal (matches nothing — contributes no
      // token); None = not a literal (unparseable)
      case l: Literal[_] =>
        Some(Option(l.value).map(v =>
          AuditPartition.tokenFor(v, partLevels(li).bucket)))
      case _ => None
    }
    val unhandled = predicates.filterNot { p =>
      (p.name, p.children().toSeq) match {
        case ("IN", ref +: vals) if partLevel(ref) >= 0 && vals.nonEmpty =>
          val li = partLevel(ref)
          val toks = vals.map(litToken(li, _))
          toks.forall(_.isDefined) && {
            restrictRuntime(li, toks.flatMap(_.get).toSet, "v2-native")
            true
          }
        case ("=", Seq(a, b)) if partLevel(a) >= 0 || partLevel(b) >= 0 =>
          val li = math.max(partLevel(a), partLevel(b))
          litToken(li, if (partLevel(a) >= 0) b else a).exists { t =>
            restrictRuntime(li, t.toSet, "v2-native")
            true
          }
        case _ => false
      }
    }
    if (unhandled.nonEmpty)
      super.filter(unhandled) // default v1-converting bridge → below
  }

  /** v1 bridge fallback. Unparseable shapes prune nothing (safe). */
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    if (partLevels.isEmpty) return
    def levelOf(c: String): Int = partLevels.indexWhere(_.col == c)
    filters.foreach {
      case EqualTo(c, v) if levelOf(c) >= 0 && v != null =>
        val li = levelOf(c)
        restrictRuntime(li,
          Set(AuditPartition.tokenFor(v, partLevels(li).bucket)), "v1")
      case In(c, vs) if levelOf(c) >= 0 =>
        val li = levelOf(c)
        restrictRuntime(li,
          vs.iterator.filter(_ != null)
            .map(AuditPartition.tokenFor(_, partLevels(li).bucket)).toSet, "v1")
      case _ => ()
    }
  }

  /** Planning-consistent statistics: `sizeInBytes` totals exactly the
    * files this scan will open — after partition pruning AND zone-map
    * skipping — so a range-sliced read of a big table correctly offers
    * itself for broadcast while the unfiltered read stays shuffle-sided
    * (the same CBO contract the paged source reports; at scale this is
    * what turns "filtered fact ⋈ fact" into a broadcast join instead of
    * two full shuffles). `numRows` is reported only when every planned
    * file's count is metadata-known (base/manifest entries); epoch files
    * at a zero-level root track rows per EPOCH, not per file, and pinned
    * reads filter base rows by origin, so such a scan reports size only
    * rather than guessing. */
  override def estimateStatistics(): Statistics = {
    def sizeOf(p: java.nio.file.Path): Long =
      try java.nio.file.Files.size(p) catch { case _: Exception => 0L }
    val current = versionAsOf.isEmpty
    val plans = dirPlans()
    // (file path, rows when metadata-known)
    val files: Seq[(java.nio.file.Path, Option[Long])] = plans.flatMap { p =>
      p.base.map { case (f, r) => (p.dir.resolve(f), Option.when(current)(r)) } ++
        p.data.map { case (f, r) => (p.dir.resolve(f), r) }
    }
    val bytes = files.map(f => sizeOf(f._1)).sum
    val rows: Option[Long] =
      if (files.forall(_._2.isDefined)) {
        val deleted =
          if (current && !includeDeleted)
            plans.map(p => AuditDeletes.count(p.dir.toString)).sum
          else 0L
        Some(math.max(0L, files.flatMap(_._2).sum - deleted))
      } else None
    new Statistics {
      override def sizeInBytes: java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows: java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  /** Sorted-scan reporting: after `OPTIMIZE ... sort_by => c` every base
    * file is internally sorted on c, and each file is one input
    * partition — so a read planning ONLY base files has a true
    * per-partition ordering and declares it, letting Spark elide the
    * sort below sort-merge joins, sort-aggregates, and
    * sortWithinPartitions. Any live batch file or post-base epoch
    * withdraws the claim (their rows are unsorted), as does column
    * pruning that drops c. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    val claim = for {
      _ <- Option.when(partLevels.isEmpty && versionAsOf.isEmpty)(())
      b <- AuditBase.read(path)
      s <- b.sortBy
      if required.fieldNames.contains(s)
      if AuditBase.readManifest(path).forall(_.folded)
      if AuditScan.committedEpochs(path).forall(_ <= b.throughEpoch)
    } yield {
      // _BASE records the STORAGE column name; Spark resolves the claim
      // against readSchema's CURRENT names — translate positionally
      val outName = outSchema
        .map(o => o(required.fieldIndex(s)).name).getOrElse(s)
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(outName),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    }
    claim.toArray
  }

  override def readSchema(): StructType = outSchema.getOrElse(required)
  override def toBatch: Batch = this
  override def description(): String =
    s"AuditScan $path" + versionAsOf.map(v => s" versionAsOf=$v").getOrElse("") +
      (if (rowCap != Long.MaxValue) s" rowCap=$rowCap" else "") +
      (if (partLevels.nonEmpty)
        s" partitionBy=${partLevels.map(_.col).mkString(",")} " +
          s"dirs=${survivingDirs.map(_._1).mkString(",")}"
      else "")

  /** Partition dirs surviving the STATICALLY pushed partition predicates
    * (pinned once: outputPartitioning's numPartitions must equal
    * planInputPartitions' length under one listing). */
  private lazy val listedDirs: Seq[(String, java.nio.file.Path)] =
    AuditPartition.listDirs(path, partLevels)
      .filter { case (relDir, _) =>
        AuditPartition.survives(relDir, allowedTokens, excludeNull) }

  /** …further narrowed by RUNTIME filters (applied at use time: Spark
    * re-plans input partitions after calling `filter`, and re-groups the
    * reported key-grouped partitioning over the survivors). */
  private def survivingDirs: Seq[(String, java.nio.file.Path)] =
    if (runtimeTokens.isEmpty) listedDirs
    else listedDirs.filter { case (relDir, _) =>
      AuditPartition.survives(relDir, runtimeTokens, Set.empty) }

  /** One InputPartition per partition DIRECTORY (all its manifest files),
    * each carrying its decoded key — the [[HasPartitionKey]] +
    * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * contract that licenses storage-partitioned joins: two audit tables
    * partitioned on the same column co-locate by construction and join
    * with ZERO exchanges (spark.sql.sources.v2.bucketing.enabled). A real
    * deployment would split large partitions by file and let Spark's
    * partition grouping re-cluster them; one-group-per-dir is the honest
    * granularity while a directory is one task's worth of data. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (partLevels.nonEmpty) {
      val exprs: Array[org.apache.spark.sql.connector.expressions.Expression] =
        partLevels.map { l =>
          (l.bucket match {
            case Some(n) =>
              org.apache.spark.sql.connector.expressions.Expressions.bucket(n, l.col)
            case None =>
              org.apache.spark.sql.connector.expressions.Expressions.identity(l.col)
          }): org.apache.spark.sql.connector.expressions.Expression
        }.toArray
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        exprs, survivingDirs.size)
    } else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  /** ZONE-MAP skip: a file whose `_STATS` bounds prove every row fails
    * the pushed conjuncts is dropped from planning without being opened
    * (the conjuncts stay residual, so a skip can never change answers).
    * Each directory carries its own `_STATS`. */
  private def skipperOf(dir: java.nio.file.Path): String => Boolean =
    if (skipFilters.isEmpty) _ => false
    else {
      val st = AuditStats.read(dir.toString)
      f => st.get(f).exists(
        AuditStats.canSkip(_, skipFilters, statableCols, strCols))
    }
  private lazy val skippable: String => Boolean =
    skipperOf(java.nio.file.Paths.get(path))
  // columns with an EXISTENCE DEFAULT are excluded: for them, "no stats
  // line entry" means "rows predate the column and hold the default",
  // NOT "all null" — the all-null refutation would wrongly skip files
  private def noExistsDefault(f: StructField): Boolean =
    !f.metadata.contains(org.apache.spark.sql.catalyst.util
      .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY)
  private lazy val statableCols: Set[String] =
    writeSchema.fields.collect {
      case f if AuditStats.statable(f.dataType) && noExistsDefault(f) => f.name
    }.toSet
  private lazy val strCols: Set[String] =
    writeSchema.fields.collect {
      case f if AuditStats.strStatable(f.dataType) && noExistsDefault(f) => f.name
    }.toSet

  /** Shared time-pin refusal: history that cannot be placed on the
    * commit-time axis fails loudly rather than silently excluding. */
  private def timePinRefuse(what: String): Nothing =
    throw new IllegalArgumentException(
      s"audit TIMESTAMP AS OF: $what at $path — this history cannot be " +
        "placed on the commit-time axis, and a time-travel read refuses " +
        "rather than silently excluding vintages")

  /** PARTITIONED mixed-table TIMESTAMP AS OF: the same three-axis
    * resolution as [[planTimePinned]], applied per partition directory
    * (per-dir manifests carry batch commit times, per-dir vector logs
    * carry DML commit times, the root `_EPOCHS` log carries epoch
    * times). Composes with static partition pruning (survivingDirs)
    * and the per-directory zone maps. */
  private def planTimePinnedPartitioned(t: Long): Array[InputPartition] = {
    val stamped = AuditScan.epochTimestamps(path)
    val unstamped = AuditScan.committedEpochs(path)
      .filterNot(stamped.contains)
    if (unstamped.nonEmpty)
      timePinRefuse(s"epoch(s) ${unstamped.take(3).mkString(", ")} carry " +
        "no commit time (pre-upgrade history)")
    // loud before-first-commit, like the unpartitioned path: a travel
    // instant older than every stamped vintage must refuse, not answer
    // an empty table that never existed
    val minTs = (stamped.values ++
      AuditPartition.listDirs(path, partLevels).flatMap { case (_, dd) =>
        AuditBase.readManifest(dd.toString).flatMap(_.ts)
      }).minOption
    if (minTs.forall(_ > t))
      throw new IllegalArgumentException(
        s"audit TIMESTAMP AS OF: no commit at or before $t ms at $path" +
          minTs.fold("")(m => s" (earliest timestamped commit: $m)"))
    survivingDirs.map { case (relDir, dir) =>
      val skip = skipperOf(dir)
      val base = AuditBase.read(dir.toString)
      val baseThrough = base.map(_.throughEpoch).getOrElse(Long.MinValue)
      val allEntries = AuditBase.readManifest(dir.toString)
      val entries = allEntries.filterNot(_.folded)
      entries.foreach { e =>
        if (AuditScan.epochOf(e.file).isEmpty && e.ts.isEmpty)
          timePinRefuse(s"batch append ${e.file} in partition $relDir " +
            "carries no commit time (pre-upgrade history)")
      }
      // COMPACTED directory (per-dir base checkpoint): base rows resolve
      // by ORIGIN — epoch origins via the root epoch stamps, batch
      // origins via the folded manifest tombstones' retained commit ts
      // (a tombstone without one is pre-upgrade history: refuse loudly).
      // Folded EPOCH tombstones need no ts — their vintage is the root
      // log's. Mirrors the unpartitioned q_audit_travel_compacted path.
      val foldedTs: Map[String, Long] = allEntries.collect {
        case e if e.folded && AuditScan.epochOf(e.file).isEmpty =>
          (e.file, e.ts.getOrElse(timePinRefuse(
            s"folded batch append ${e.file} in partition $relDir " +
              "carries no commit time (pre-upgrade history)")))
      }.toMap
      val vecs = AuditDeletes.entriesWithTs(dir.toString)
      // VACUUM-folded vectors: physically blanked rows cannot be unwound,
      // but for an instant AT/AFTER the fold watermark every folded
      // delete is provably visible — the blanking is then exactly the
      // right answer, and travel proceeds (post-fold vectors ts-filter
      // as usual). Refuse only pre-watermark instants and unstamped folds.
      if (AuditDeletes.foldedRows(dir.toString) > 0)
        AuditDeletes.foldWatermark(dir.toString) match {
          case None => timePinRefuse(s"partition $relDir has VACUUM-" +
            "folded delete vectors without a fold watermark (pre-upgrade " +
            "fold) — pre-fold deleted rows are physically gone")
          case Some(wm) if t < wm => timePinRefuse(s"instant $t ms " +
            s"predates partition $relDir's VACUUM vector-fold watermark " +
            s"($wm ms) — deletes folded at/before it are physically " +
            "applied and cannot be unwound")
          case Some(_) => () // t >= watermark: every folded delete visible
        }
      if (vecs.exists(_._3.isEmpty))
        timePinRefuse(s"delete vector(s) in partition $relDir carry no " +
          "commit time (pre-upgrade history)")
      def visibleAt(e: AuditBase.ManifestEntry): Boolean =
        AuditScan.epochOf(e.file) match {
          // epoch rows at/under the base's throughEpoch are served from
          // the base (a live epoch entry <= through would double-count)
          case Some(ep) => ep > baseThrough && stamped.get(ep).exists(_ <= t)
          case None     => e.ts.exists(_ <= t)
        }
      val files = entries.filter(visibleAt).map(_.file)
        .filterNot(skip).map(f => dir.resolve(f).toString)
      val dirVectors = vecs
        .collect { case (f, pp, Some(ts)) if ts <= t => (f, pp) }
        .groupBy(_._1).map { case (f, ps) => (f, ps.map(_._2).toSet) }
      val baseFiles = base.toSeq.flatMap(_.files.collect {
        case (f, _) if !skip(f) => dir.resolve(f).toString
      })
      AuditDirPartition(files, relDir, partLevels,
        vectors = dirVectors,
        baseFiles = baseFiles,
        originTsCut = Some(t),
        epochTs = stamped,
        fileTs = foldedTs): InputPartition
    }.toArray
  }

  /** Mixed-table TIMESTAMP AS OF plan: the state at wall-clock `t` is
    * (streaming epochs committed at/before t) + (txn batch appends
    * committed at/before t) with EXACTLY the delete vectors committed
    * at/before t applied — an UPDATE's delete and its replacement row
    * share one commit ts, so a travel instant sees the whole statement
    * or none of it. Refuses loudly whenever part of the history cannot
    * be placed on the commit-time axis (pre-commit-time vintages,
    * unstamped VACUUM folds, instants before a fold watermark or the
    * retention bound): silently excluding a vintage would misanswer the
    * audit question the feature exists for. */
  private def planTimePinned(t: Long): Array[InputPartition] = {
    val dir = java.nio.file.Paths.get(path)
    def refuse(what: String): Nothing = timePinRefuse(what)
    val base = AuditBase.read(path)
    val stamped = AuditScan.epochTimestamps(path)
    val unstamped = AuditScan.committedEpochs(path)
      .filterNot(stamped.contains)
    if (unstamped.nonEmpty)
      refuse(s"epoch(s) ${unstamped.take(3).mkString(", ")} carry no " +
        "commit time (pre-upgrade history)")
    val allEntries = AuditBase.readManifest(path)
    val manifest = allEntries.filterNot(_.folded)
    if (manifest.exists(_.ts.isEmpty))
      refuse("batch append(s) carry no commit time (pre-upgrade history)")
    val vecs = AuditDeletes.entriesWithTs(path)
    // VACUUM-folded vectors: for an instant AT/AFTER the fold watermark
    // (max folded-entry commit ts, stamped into the fold summary) every
    // folded delete is provably visible — the in-place blanking is then
    // exactly right and travel proceeds; post-fold positional vectors
    // ts-filter below as usual. Refuse only pre-watermark instants and
    // unstamped (pre-upgrade) folds — routine maintenance must not
    // destroy time travel for the whole post-fold future.
    if (AuditDeletes.foldedRows(path) > 0)
      AuditDeletes.foldWatermark(path) match {
        case None => refuse("delete vectors were folded (VACUUM) without " +
          "a fold watermark (pre-upgrade fold) — pre-fold deleted rows " +
          "are physically gone")
        case Some(wm) if t < wm => refuse(s"instant $t ms predates the " +
          s"VACUUM vector-fold watermark ($wm ms) — deletes folded " +
          "at/before it are physically applied and cannot be unwound")
        case Some(_) => ()
      }
    if (vecs.exists(_._3.isEmpty))
      refuse("delete vector(s) carry no commit time (pre-upgrade history)")
    // VACUUM expiry bound for time pins: expired epochs carry no ts, so
    // the cut must sit AT or AFTER the earliest retained epoch's commit
    // — inside the window every expired-origin row is provably visible
    base.filter(_.expiredThrough >= 0L).foreach { b =>
      val earliestRetained = AuditScan.committedEpochs(path)
        .filter(_ > b.expiredThrough).minOption.flatMap(stamped.get)
      if (earliestRetained.forall(_ > t))
        throw new IllegalArgumentException(
          s"audit TIMESTAMP AS OF: $t ms at $path is expired — VACUUM " +
            s"retained only epochs > ${b.expiredThrough}" +
            earliestRetained.fold("")(e =>
              s" (earliest retained commit: $e ms)"))
    }
    // loud before-first-commit (folded entries count — their retained ts
    // IS the vintage); with expired epochs the retention bound above
    // already established t is inside the window
    val minTs = (stamped.values ++ allEntries.flatMap(_.ts)).minOption
    if (base.forall(_.expiredThrough < 0L) && minTs.forall(_ > t))
      throw new IllegalArgumentException(
        s"audit TIMESTAMP AS OF: no commit at or before $t ms at $path" +
          minTs.fold("")(m => s" (earliest timestamped commit: $m)"))
    val baseThrough = base.map(_.throughEpoch).getOrElse(Long.MinValue)
    val wanted = stamped.collect {
      case (e, ts) if ts <= t && e > baseThrough => e }.toSet
    val epochFiles = AuditScan.epochFiles(path, wanted)
      .map { case (f, e) => (f, Some(e)) }
    val batchFiles = manifest.collect {
      case e if e.ts.exists(_ <= t) => (e.file, None: Option[Long]) }
    val vectors: Map[String, Set[Long]] =
      vecs.collect { case (f, p, Some(ts)) if ts <= t => (f, p) }
        .groupBy(_._1).map { case (f, ps) => (f, ps.map(_._2).toSet) }
    // COMPACTED history resolves from the base by ORIGIN: a base row is
    // visible iff its origin vintage was committed at or before the cut
    // (folded manifest tombstones retain batch commit times; epoch
    // times come from the log; expired epochs are inside the window by
    // the bound above). Origin-keyed vectors apply time-filtered.
    val foldedTs: Map[String, Long] = allEntries.collect {
      case e if e.folded && e.ts.isDefined => (e.file, e.ts.get) }.toMap
    val baseParts: Seq[InputPartition] = base.toSeq.flatMap { b =>
      b.files.collect { case (f, _) if !skippable(f) =>
        AuditBasePartition(dir.resolve(f).toString,
          vectors = vectors,
          originTsCut = Some(t),
          epochTs = stamped,
          fileTs = foldedTs,
          expiredThrough = b.expiredThrough): InputPartition
      }
    }
    (baseParts ++ (batchFiles ++ epochFiles).collect {
      case (f, e) if !skippable(f) =>
        AuditFilePartition(dir.resolve(f).toString, e,
          vectors.getOrElse(f, Set.empty).toSeq.sorted): InputPartition
    }).toArray
  }

  /** Each surviving directory's share of a current or `VERSION AS OF`
    * read, after zone-map skipping: the plan opens exactly these files
    * and the statistics total exactly these files. */
  private def dirPlans(): Seq[AuditScan.DirPlan] =
    survivingDirs.map { case (relDir, dir) =>
      val d = AuditScan.dirFiles(relDir, dir, versionAsOf)
      val skip = skipperOf(dir)
      // root epoch files track rows per EPOCH, not per file: rows unknown.
      // The compaction snapshot pins epochs <= snapMaxEpoch and the batch
      // files named in snapFiles (OPTIMIZE's own rewrite scan).
      val data = d.live.map { case (f, r) => (f, Some(r): Option[Long]) } ++
        d.epochFiles.map { case (f, _) => (f, None) }
      AuditScan.DirPlan(relDir, dir, d.baseFiles.filterNot(b => skip(b._1)),
        data.filter { case (f, _) =>
          !skip(f) && (AuditScan.epochOf(f) match {
            case Some(e) => snapMaxEpoch.forall(e <= _)
            case None    => snapFiles.forall(_.contains(f))
          })
        })
    }

  override def planInputPartitions(): Array[InputPartition] = {
    asOfMillis match {
      case Some(t) if partLevels.isEmpty  => return planTimePinned(t)
      case Some(t) => return planTimePinnedPartitioned(t)
      case None    => ()
    }
    AuditBase.checkNotExpired(path, versionAsOf) // VACUUM's retention bound
    // base files serve the epochs <= throughEpoch and the folded batch
    // files by ORIGIN (see AuditBase): current reads drop origin-vector-
    // deleted rows, pinned reads keep epoch origins <= v. Delete vectors
    // apply to CURRENT reads only — pinned reads reconstruct pure epoch
    // history (delta DML never retro-edits it).
    val pinned = versionAsOf.isDefined
    def vectorsOf(p: AuditScan.DirPlan): Map[String, Set[Long]] =
      if (!pinned && !includeDeleted) AuditDeletes.read(p.dir.toString)
      else Map.empty
    val plans = dirPlans()
    // packaging only differs per layout: a partitioned read keeps one
    // partition per surviving directory (possibly empty, base files read
    // inside it) so KeyGroupedPartitioning holds; a zero-level read
    // plans one partition per file
    if (partLevels.nonEmpty)
      plans.map { p =>
        AuditDirPartition(p.data.map(f => p.dir.resolve(f._1).toString),
          p.relDir, partLevels,
          vectors = vectorsOf(p),
          baseFiles = p.base.map(b => p.dir.resolve(b._1).toString),
          baseMaxEpoch = versionAsOf,
          baseEpochOriginOnly = pinned): InputPartition
      }.toArray
    else plans.flatMap { p =>
      val vectors = vectorsOf(p)
      p.base.map { case (f, _) =>
        AuditBasePartition(p.dir.resolve(f).toString, maxEpoch = versionAsOf,
          epochOriginOnly = pinned, vectors = vectors): InputPartition
      } ++ p.data.map { case (f, _) =>
        AuditFilePartition(p.dir.resolve(f).toString, AuditScan.epochOf(f),
          vectors.getOrElse(f, Set.empty).toSeq.sorted): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AuditReaderFactory(writeSchema, required, rowCap)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new AuditMicroBatchStream(path, writeSchema, required, partLevels)
}

/** DELETE VECTORS: `_DELETES` holds one json line per delta-deleted row —
  * `{"file":"part-...","pos":N}` — the minimal positional delete file of
  * the big table formats. Delta DML appends here instead of rewriting
  * data files, which is what keeps (a) an UPDATE of 10 rows writing ~10
  * rows instead of the whole table, and (b) epoch history intact: pinned
  * (`VERSION AS OF`) reads reconstruct pure epoch state and ignore
  * vectors, so DML never retro-edits history (the retroactive compliance
  * path remains the metadata DELETE, which refuses to run while vectors
  * exist and so never invalidates a position). At 100 TB the one-line-per
  * -row encoding would become a compressed bitmap per file (Puffin-style);
  * the contract — append-only vectors, never moving a committed row — is
  * the part that scales. */
private[sources] object AuditDeletes {
  // `,"ts":millis` (the DML commit time) is optional: pre-round-15
  // vector lines carry none — the TIMESTAMP AS OF axis refuses them
  private val LineRe = """\{"file":"([^"]+)","pos":(\d+)(?:,"ts":(\d+))?\}""".r
  // VACUUM's vector-retention summary: n rows of `file` were delta-
  // deleted and have been FOLDED — physically blanked in place — so no
  // positional entry is needed anymore. Counts still subtract them.
  // `,"ts":millis` is the fold's WATERMARK: the max commit ts among the
  // folded entries — a TIMESTAMP AS OF at/after it sees every folded
  // delete as visible (the physical blanking is then exactly right), so
  // time travel survives VACUUM for post-watermark instants. Absent when
  // any folded entry predated commit stamps (travel refuses, as before).
  // `,"absorbed":a` marks a rows of the summary as ABSORBED by a later
  // base checkpoint: the compaction scan skipped the blanked rows, so
  // the base physically excludes them and counts must stop subtracting
  // them (a pre-compaction fold otherwise double-subtracts — found by
  // AuditChaosSpec pseed 7). foldedRows/foldWatermark ignore absorption:
  // the fold GENERATION axis stays monotonic and travel keeps refusing
  // pre-watermark instants.
  private val FoldRe =
    """\{"file":"([^"]+)","folded":(\d+)(?:,"ts":(\d+))?(?:,"absorbed":(\d+))?\}""".r
  // FOLD-INTENT marker: VACUUM is ABOUT TO physically blank these
  // (file, pos) rows. Written BEFORE any data file is touched, removed
  // by the same atomic replace that installs the fold summaries — so a
  // crash mid-fold leaves the intent behind and (a) time travel refuses
  // pre-watermark instants instead of silently omitting half-blanked
  // rows, and (b) the next VACUUM completes exactly this fold (intent
  // keys override its own retention cutoff: blanking already started,
  // the point of no return). The positional twins STAY until the final
  // replace, so current reads/counts never double-subtract.
  private val IntentRe =
    """\{"foldintent":"([^"]+)","pos":(\d+)(?:,"ts":(\d+))?\}""".r
  // ABSORB-INTENT marker: a base publish with snapshot instant <ts> is
  // in flight. Written by the SAME atomic replace that precedes the
  // `_BASE` pointer swap, honored only once a base with exactly that
  // snapshot ts exists — so absorption and the base it depends on
  // become effective together even though they live in two files:
  //   * crash BEFORE the swap: no base carries the ts, the marker is
  //     inert, explicit `absorbed` fields keep counting (no rows were
  //     physically excluded — nothing to absorb);
  //   * crash AFTER the swap, before the post-publish finalize: the
  //     marker matches the live base and every summary present when it
  //     was written counts as fully absorbed — exactly what the
  //     compaction scan's skip of blanked rows made true.
  // Any later fold rewrite resolves the marker through [[absorbed]]
  // (valid → materialized as explicit fields, stale → dropped), so the
  // marker never outlives the next `_DELETES` rewrite.
  private val AbsorbIntentRe = """\{"absorbintent":(\d+)\}""".r

  def file(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path).resolve("_DELETES")

  def exists(path: String): Boolean = java.nio.file.Files.exists(file(path))

  def read(path: String): Map[String, Set[Long]] =
    if (!exists(path)) Map.empty
    else java.nio.file.Files.readAllLines(file(path)).asScala.collect {
      case LineRe(f, p, _) => (f, p.toLong)
    }.groupBy(_._1).map { case (f, ps) => (f, ps.map(_._2).toSet) }

  /** Folded-summary entries: file → rows already blanked in place. */
  def folded(path: String): Map[String, Long] =
    if (!exists(path)) Map.empty
    else java.nio.file.Files.readAllLines(file(path)).asScala.collect {
      case FoldRe(f, n, _, _) => (f, n.toLong)
    }.groupBy(_._1).map { case (f, ns) => (f, ns.map(_._2).sum) }

  /** Folded summaries with their fold WATERMARK (max folded-entry commit
    * ts; None when the fold predates stamps or folded unstamped entries)
    * — the post-fold half of the TIMESTAMP AS OF axis. */
  def foldedWithTs(path: String): Map[String, (Long, Option[Long])] =
    if (!exists(path)) Map.empty
    else java.nio.file.Files.readAllLines(file(path)).asScala.collect {
      case FoldRe(f, n, ts, _) => (f, n.toLong, Option(ts).map(_.toLong))
    }.groupBy(_._1).map { case (f, es) =>
      // multiple summaries per file merge conservatively: sum the counts,
      // take the max watermark ONLY when every summary carries one
      (f, (es.map(_._2).sum,
        if (es.exists(_._3.isEmpty)) None else Some(es.map(_._3.get).max)))
    }

  /** The pending absorb-intent's base snapshot ts, if any
    * ([[AbsorbIntentRe]]). BOUNDED head read: the marker sits directly
    * after the fold-summary prefix by the [[replace]] write order (and
    * appends only ever add positional lines at the tail), so streaming
    * stops at the first non-summary line — file-count-sized, never
    * row-count-sized. */
  def absorbIntentTs(path: String): Option[Long] = {
    if (!exists(path)) return None
    val lines = java.nio.file.Files.lines(file(path))
    try {
      val it = lines.iterator()
      while (it.hasNext) it.next() match {
        case FoldRe(_, _, _, _) => () // the bounded summaries prefix
        case AbsorbIntentRe(t)  => return Some(t.toLong)
        case _                  => return None // past the marker slot
      }
      None
    } finally lines.close()
  }

  /** True when the pending absorb-intent's base publish COMPLETED: the
    * dir's live `_BASE` carries exactly the intent's snapshot instant
    * (snapshot instants are sequencer-claimed, hence unique — a stale
    * intent from a crashed-before-swap publish can never match a later
    * base). */
  private def absorbIntentValid(path: String): Boolean =
    absorbIntentTs(path).exists(t =>
      AuditBase.read(path).flatMap(_.ts).contains(t))

  /** Per-file EFFECTIVE absorbed row counts of the fold summaries (rows
    * a later base checkpoint physically excluded — see [[FoldRe]]). A
    * valid absorb-intent grants FULL absorption to every summary (its
    * base publish completed; the finalize that would have written the
    * explicit fields crashed); a stale intent grants nothing. */
  def absorbed(path: String): Map[String, Long] =
    if (!exists(path)) Map.empty
    else if (absorbIntentValid(path)) folded(path)
    else java.nio.file.Files.readAllLines(file(path)).asScala.collect {
      case FoldRe(f, _, _, a) if a != null => (f, a.toLong)
    }.groupBy(_._1).map { case (f, as) => (f, as.map(_._2).sum) }

  /** Pending fold intents: (file, pos, commit ts) rows a crashed VACUUM
    * may have HALF-blanked (see [[IntentRe]]). Empty in steady state. */
  def intents(path: String): Seq[(String, Long, Option[Long])] =
    if (!exists(path)) Seq.empty
    else java.nio.file.Files.readAllLines(file(path)).asScala.collect {
      case IntentRe(f, p, ts) => (f, p.toLong, Option(ts).map(_.toLong))
    }.toSeq

  /** BOUNDED intent existence check for hot gates (every OPTIMIZE start
    * probes every selected dir): by the [[replace]] write order, intent
    * lines precede every positional line and appends only add positional
    * — so the steady-state (no-intent) answer is decided at the first
    * positional line, after the file-count-sized summaries prefix,
    * never a row-count-sized read. */
  def hasIntents(path: String): Boolean = {
    if (!exists(path)) return false
    val lines = java.nio.file.Files.lines(file(path))
    try {
      val it = lines.iterator()
      while (it.hasNext) it.next() match {
        case FoldRe(_, _, _, _)  => () // summaries prefix
        case AbsorbIntentRe(_)   => () // optional marker slot
        case IntentRe(_, _, _)   => return true
        case _                   => return false // first positional line
      }
      false
    } finally lines.close()
  }

  /** The log's overall fold watermark: Some(maxTs) when every fold
    * summary is stamped (no folds → Some(-1), always satisfiable);
    * None when any fold lost its vintage (travel must refuse). A
    * PENDING intent counts like a completed fold — its rows may
    * already be blanked, so travel before its stamp must refuse. */
  def foldWatermark(path: String): Option[Long] = {
    val fs = foldedWithTs(path).values.map(_._2) ++
      intents(path).map(_._3)
    if (fs.isEmpty) Some(-1L)
    else if (fs.exists(_.isEmpty)) None
    else Some(fs.map(_.get).max)
  }

  /** Total rows ever folded out of this log — a MONOTONIC fold
    * generation (every fold adds its entries' count; nothing ever
    * subtracts). The change feed checkpoints it: positional indices are
    * meaningless across a fold REGARDLESS of where in the log the folded
    * entries sat, so any advance past the checkpointed value is a loud
    * restart — not just the shrink-below-consumed-offset case the
    * length guard alone can see. */
  def foldedRows(path: String): Long =
    // pending intents count: their rows may already be blanked, so every
    // gate keyed on "has this log folded?" (travel, ts-CDC, RESTORE,
    // the feed's fold-generation detector) must fire during the window
    folded(path).values.sum + intents(path).size

  /** Total delta-deleted rows: positional entries + folded summaries
    * (the exact amount every current-state count must subtract). */
  def count(path: String): Long = {
    if (!exists(path)) return 0L
    // SINGLE pass (this runs on hot planning paths — metadata count,
    // partition listings): positional entries count 1 each; summary
    // terms accumulate net of explicit absorption; the absorb-intent ts
    // is noted in the same pass. A VALID intent (its base publish
    // completed but the finalize crashed — see [[AbsorbIntentRe]])
    // makes every summary fully absorbed; a stale one grants nothing.
    var positional = 0L
    var foldedNet = 0L
    var intentTs: Option[Long] = None
    java.nio.file.Files.readAllLines(file(path)).asScala.foreach {
      case LineRe(_, _, _) => positional += 1L
      // absorbed rows are physically absent from the base checkpoint —
      // they already stopped counting; subtract only the remainder
      case FoldRe(_, n, _, a) =>
        foldedNet += n.toLong - Option(a).map(_.toLong).getOrElse(0L)
      case AbsorbIntentRe(t) => intentTs = Some(t.toLong)
      case _ => ()
    }
    val fullAbsorb = foldedNet > 0L && intentTs.exists(t =>
      AuditBase.read(path).flatMap(_.ts).contains(t))
    positional + (if (fullAbsorb) 0L else foldedNet)
  }

  /** Vector entries in FILE ORDER (the append order — the CDF offset axis). */
  def entries(path: String): Seq[(String, Long)] =
    if (!exists(path)) Seq.empty
    else java.nio.file.Files.readAllLines(file(path)).asScala.collect {
      case LineRe(f, p, _) => (f, p.toLong)
    }.toSeq

  /** Commit ts of the LAST positional entry — the log's maximum stamp
    * (appends carry monotonic commit times), read from a BOUNDED tail so
    * the per-commit monotonic-stamp floor never scans a row-count-sized
    * log. -1 when absent/unstamped (legacy history predates stamps). */
  def lastTs(path: String): Long = {
    val f = file(path)
    if (!java.nio.file.Files.exists(f)) return -1L
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.READ)
    try {
      val size = ch.size()
      if (size == 0L) return -1L
      val cap = math.min(size, 64L * 1024).toInt
      val buf = java.nio.ByteBuffer.allocate(cap)
      ch.position(size - cap)
      var read = 0
      while (read < cap) {
        val r = ch.read(buf); if (r < 0) read = cap else read += r
      }
      new String(buf.array(), 0, buf.position(), "UTF-8")
        .split('\n').reverseIterator.collectFirst {
          case LineRe(_, _, ts) if ts != null => ts.toLong
        }.getOrElse(-1L)
    } finally ch.close()
  }

  /** Vector entries with their DML commit time (None on pre-commit-time
    * history) — the delete half of the TIMESTAMP AS OF axis. */
  def entriesWithTs(path: String): Seq[(String, Long, Option[Long])] =
    if (!exists(path)) Seq.empty
    else java.nio.file.Files.readAllLines(file(path)).asScala.collect {
      case LineRe(f, p, ts) => (f, p.toLong, Option(ts).map(_.toLong))
    }.toSeq

  /** Append new vector entries (dedup against the existing set: a replayed
    * task attempt or an idempotent MERGE must not double-count). */
  def append(path: String, entries: Seq[(String, Long)],
      ts: Option[Long] = None): Unit = {
    if (entries.isEmpty) return
    val prior = read(path)
    val fresh = entries.distinct.filterNot { case (f, p) =>
      prior.get(f).exists(_.contains(p))
    }
    if (fresh.isEmpty) return
    // the optional commit ts shares the DML commit's txn timestamp, so
    // a travel instant sees an UPDATE's delete and its replacement row
    // appear (or not) TOGETHER
    val suffix = ts.map(t => s""","ts":$t""").getOrElse("")
    CommitPrimitives.io.appendBounded(file(path),
      fresh.map { case (n, p) => s"""{"file":"$n","pos":$p$suffix}""" + "\n" }
        .mkString.getBytes("UTF-8"))
  }

  def clear(path: String): Unit =
    java.nio.file.Files.deleteIfExists(file(path))

  /** Atomically REPLACE the vector log with the given positional entries
    * + folded summaries (VACUUM's vector retention — the one writer that
    * may shrink this log; it holds the maintenance lease). Fold summaries
    * are written FIRST — a log invariant ([[headFoldWatermark]] relies on
    * it: appends only ever add positional lines, so the summaries stay a
    * bounded prefix). */
  def replace(path: String, positional: Seq[(String, Long, Option[Long])],
      foldedSums: Map[String, (Long, Option[Long])],
      foldIntents: Seq[(String, Long, Option[Long])] = Nil,
      absorbedSums: Map[String, Long] = Map.empty,
      absorbIntent: Option[Long] = None): Unit = {
    if (positional.isEmpty && foldedSums.isEmpty && foldIntents.isEmpty) {
      clear(path); return
    }
    val f = file(path)
    // order: summaries, absorb-intent, fold-intents, positional —
    // summaries stay a bounded prefix for headFoldWatermark, and
    // appends only add positional. Callers that do NOT pass
    // absorbIntent drop any pending marker — correct, because they all
    // resolve it first through [[absorbed]] (valid → materialized as
    // explicit fields in absorbedSums, stale → nothing to keep).
    val body =
      foldedSums.toSeq.sortBy(_._1).map { case (n, (c, wm)) =>
        val a = absorbedSums.getOrElse(n, 0L)
        s"""{"file":"$n","folded":$c${wm.map(t => s""","ts":$t""")
          .getOrElse("")}${if (a > 0) s""","absorbed":${math.min(a, c)}"""
          else ""}}""" + "\n" }.mkString +
        absorbIntent.map(t => s"""{"absorbintent":$t}""" + "\n")
          .getOrElse("") +
        foldIntents.map { case (n, p, ts) =>
          s"""{"foldintent":"$n","pos":$p${ts.map(t => s""","ts":$t""")
            .getOrElse("")}}""" + "\n" }.mkString +
        positional.map { case (n, p, ts) =>
          s"""{"file":"$n","pos":$p${ts.map(t => s""","ts":$t""")
            .getOrElse("")}}""" + "\n" }.mkString
    CommitPrimitives.io.replace(f, body.getBytes("UTF-8"))
  }

  /** Mark every fold summary fully ABSORBED — called at base-checkpoint
    * publish (OPTIMIZE, both layouts): the compaction scan skipped the
    * blanked rows, so from this snapshot on the base physically excludes
    * them and counts must not subtract them again. Positional entries
    * and pending intents ride through untouched; foldedRows and the
    * watermark are unchanged (axis + travel semantics keep holding). */
  def markAbsorbed(path: String): Unit = {
    val sums = foldedWithTs(path)
    if (sums.isEmpty) return
    replace(path, entriesWithTs(path), sums, intents(path),
      absorbedSums = sums.map { case (f, (n, _)) => (f, n) })
  }

  /** Resolve a pending absorb-intent NOW (the VACUUM-side finalize): a
    * VALID intent (its base publish completed) materializes as explicit
    * absorbed fields; a STALE one (crashed before the swap) drops. The
    * marker is behaviorally invisible either way — [[absorbed]] already
    * resolves it on every read — but it lingers as a `recovery` row in
    * `system.history` until some fold or OPTIMIZE rewrites the log, so
    * VACUUM finalizes it even when nothing folds. Bounded head read
    * when no marker is pending; caller holds the maintenance lease. */
  def finalizeAbsorbIntent(path: String): Boolean =
    absorbIntentTs(path) match {
      case None => false
      case Some(_) =>
        replace(path, entriesWithTs(path), foldedWithTs(path),
          intents(path), absorbedSums = absorbed(path))
        true
    }

  /** Record that a base publish with snapshot instant `snapTs` is ABOUT
    * to swap `_BASE` in ([[AbsorbIntentRe]]) — called immediately before
    * the pointer swap at both OPTIMIZE commit sites, so a crash between
    * the swap and the post-publish [[markAbsorbed]] finalize cannot
    * leave a published base whose physically-excluded fold rows keep
    * subtracting (double-count). Prior valid intents are resolved into
    * explicit fields first (via [[absorbed]]); prior stale ones drop. */
  def markAbsorbPending(path: String, snapTs: Long): Unit = {
    val sums = foldedWithTs(path)
    if (sums.isEmpty) return
    replace(path, entriesWithTs(path), sums, intents(path),
      absorbedSums = absorbed(path), absorbIntent = Some(snapTs))
  }

  /** Max fold watermark readable from the log's HEAD — fold summaries are
    * a prefix by the [[replace]] invariant, so this streams lines only
    * until the first non-summary line (bounded by the FILE count, never
    * the row count). -1 when there are no stamped summaries. Feeds
    * [[AuditBase.maxVisibleTs]]: after a fold empties the positional
    * tail, the watermark may exceed every other visible stamp, and the
    * monotonic-stamp floor must not re-issue a stamp at or below it. */
  def headFoldWatermark(path: String): Long = {
    val f = file(path)
    if (!java.nio.file.Files.exists(f)) return -1L
    val lines = java.nio.file.Files.lines(f)
    try {
      val it = lines.iterator()
      var max = -1L
      var go = true
      while (go && it.hasNext) it.next() match {
        case FoldRe(_, _, ts, _) => if (ts != null) max = math.max(max, ts.toLong)
        case _ => go = false
      }
      max
    } finally lines.close()
  }
}

private[sources] object AuditScan {
  private val EpochRe = """\{"epoch":(-?\d+),.*""".r
  private val PartRe = """part-e(-?\d+)-\d+\.jsonl""".r

  // `,"ts":millis` is optional: pre-round-14 logs carry no commit time
  private val EpochRowsRe =
    """\{"epoch":(-?\d+),"files":\d+,"rows":(\d+)(?:,"ts":\d+)?\}""".r
  private val EpochTsRe =
    """\{"epoch":(-?\d+),"files":\d+,"rows":\d+,"ts":(\d+)\}""".r

  /** epoch → committed rows, from the `_EPOCHS` log. */
  def epochRowsByEpoch(path: String): Map[Long, Long] = {
    val epochsFile = java.nio.file.Paths.get(path).resolve("_EPOCHS")
    if (!java.nio.file.Files.exists(epochsFile)) return Map.empty
    java.nio.file.Files.readAllLines(epochsFile).asScala.collect {
      case EpochRowsRe(e, r) => (e.toLong, r.toLong)
    }.toMap
  }

  /** epoch → commit wall-clock millis (lines that carry "ts" — an epoch
    * REPLAY refreshes its line, so the recorded time is the time of the
    * last SUCCESSFUL commit, the one whose files are live). */
  def epochTimestamps(path: String): Map[Long, Long] = {
    val epochsFile = java.nio.file.Paths.get(path).resolve("_EPOCHS")
    if (!java.nio.file.Files.exists(epochsFile)) return Map.empty
    java.nio.file.Files.readAllLines(epochsFile).asScala.collect {
      case EpochTsRe(e, ts) => (e.toLong, ts.toLong)
    }.toMap
  }

  /** `TIMESTAMP AS OF` resolution: the greatest epoch committed at or
    * before `millis`. Loud when the table has no timestamped epoch
    * history at or before that point — silently returning "latest" (or
    * "empty") would misanswer an auditing query, the one use case the
    * feature exists for. */
  def epochAt(path: String, millis: Long): Long = {
    val stamped = epochTimestamps(path)
    val all = committedEpochs(path)
    if (all.isEmpty)
      throw new IllegalArgumentException(
        s"audit TIMESTAMP AS OF: table at $path has no epoch history " +
          "(only streaming commits are time-travelable)")
    val eligible = stamped.collect { case (e, ts) if ts <= millis => e }
    if (eligible.isEmpty) {
      // legacy epochs (no ts) exist but nothing provably <= millis
      throw new IllegalArgumentException(
        s"audit TIMESTAMP AS OF: no epoch committed at or before " +
          s"$millis ms at $path (earliest timestamped commit: " +
          s"${if (stamped.isEmpty) "none — pre-ts history" else stamped.values.min.toString})")
    }
    eligible.max
  }

  /** Does the table (directory) carry any batch/DML history — manifest
    * entries (live or folded) or delete vectors? A MIXED table's
    * `TIMESTAMP AS OF` must resolve on the commit-time axis across all
    * three vintage kinds; a pure-streaming table keeps the epoch pin. */
  def isMixed(path: String): Boolean =
    AuditBase.readManifest(path).nonEmpty || (AuditDeletes.exists(path) &&
      (AuditDeletes.count(path) > 0 || AuditDeletes.foldedRows(path) > 0))

  /** Epochs recorded in `_EPOCHS`, ascending (the stream's offset axis). */
  def committedEpochs(path: String): Seq[Long] = {
    val epochsFile = java.nio.file.Paths.get(path).resolve("_EPOCHS")
    if (java.nio.file.Files.exists(epochsFile))
      java.nio.file.Files.readAllLines(epochsFile).asScala.collect {
        case EpochRe(e) => e.toLong
      }.toSeq.sorted
    else Seq.empty
  }

  /** Epoch a part file belongs to, when it is a streaming-epoch file. */
  def epochOf(fileName: String): Option[Long] = fileName match {
    case PartRe(e) => Some(e.toLong)
    case _         => None
  }

  /** Visibility of a manifest entry under a pinned (VERSION AS OF) read:
    * streaming-epoch files are visible iff epoch <= v; batch txn appends
    * carry no epoch and are excluded from pinned reads entirely. An
    * un-pinned read sees everything. */
  def epochVisible(fileName: String, versionAsOf: Option[Long]): Boolean =
    versionAsOf match {
      case None    => true
      case Some(v) => epochOf(fileName).exists(_ <= v)
    }

  /** Committed part files of the given epochs, with their epoch. */
  def epochFiles(path: String, wanted: Set[Long]): Seq[(String, Long)] = {
    val dir = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isDirectory(dir)) return Seq.empty
    val listing = java.nio.file.Files.list(dir)
    try listing.iterator().asScala.map(_.getFileName.toString).collect {
      case f @ PartRe(e) if wanted.contains(e.toLong) => (f, e.toLong)
    }.toSeq.sortBy(_._1)
    finally listing.close()
  }

  /** The files one directory of an audit table holds for a read pinned at
    * `pin` (None = current state). `base` is the directory's `_BASE`
    * checkpoint; `live` its live manifest entries (file, rows) visible at
    * the pin, epoch entries only above the base's throughEpoch (epochs at
    * or under it are served from the base by origin). Only the ROOT of a
    * zero-level table (relDir `""`) records streamed epochs outside its
    * manifest, in the `_EPOCHS` log: `epochFiles` are the listed files
    * (file, epoch) of its committed epochs visible at the pin and above
    * the base, `epochRows` every visible epoch's rows from its `_EPOCHS`
    * line, base-held epochs included. */
  final case class DirFiles(dir: java.nio.file.Path,
      base: Option[AuditBase.Info], live: Seq[(String, Long)],
      epochFiles: Seq[(String, Long)], epochRows: Map[Long, Long]) {
    def baseThrough: Long = base.fold(Long.MinValue)(_.throughEpoch)
    def baseFiles: Seq[(String, Long)] = base.toSeq.flatMap(_.files)
    /** Every non-base file a read of the directory opens. */
    def dataFiles: Seq[String] = live.map(_._1) ++ epochFiles.map(_._1)

    /** Metadata-only row count. Current: base rows (vector-deleted rows
      * are in the base by construction) + live rows + the rows of epochs
      * above the base − the directory's delete vectors. Pinned: live rows
      * + every visible epoch's `_EPOCHS` rows, vectors ignored (pinned
      * reads reconstruct pure epoch history); a pinned count over a
      * partition directory's base needs an origin scan and is refused by
      * the pushdown gate before it gets here. */
    def rows(current: Boolean): Long =
      if (current)
        baseFiles.map(_._2).sum + live.map(_._2).sum +
          epochRows.collect { case (e, r) if e > baseThrough => r }.sum -
          AuditDeletes.count(dir.toString)
      else live.map(_._2).sum + epochRows.values.sum
  }

  def dirFiles(relDir: String, dir: java.nio.file.Path,
      pin: Option[Long]): DirFiles = {
    val base = AuditBase.read(dir.toString)
    val through = base.fold(Long.MinValue)(_.throughEpoch)
    val live = AuditBase.readManifest(dir.toString).collect {
      case e if !e.folded && epochVisible(e.file, pin) &&
        epochOf(e.file).forall(_ > through) => (e.file, e.rows)
    }
    val epochRows =
      if (relDir.nonEmpty) Map.empty[Long, Long]
      else epochRowsByEpoch(dir.toString).filter { case (e, _) =>
        pin.forall(e <= _) }
    DirFiles(dir, base, live,
      if (epochRows.isEmpty) Seq.empty
      else epochFiles(dir.toString, epochRows.keySet.filter(_ > through)),
      epochRows)
  }

  /** One directory's planned read: its base files (file, rows) and data
    * files (file, rows where the metadata knows them). */
  final case class DirPlan(relDir: String, dir: java.nio.file.Path,
      base: Seq[(String, Long)], data: Seq[(String, Option[Long])])

  /** One directory's share of a streaming-tail slice of epochs: the slice
    * files still on disk (file, epoch), and the slice epochs recorded here
    * whose files are gone (reclaimed by OPTIMIZE + VACUUM) — those replay
    * from the directory's base by origin. A partition directory records
    * its epochs as manifest entries, folded tombstones included (OPTIMIZE
    * leaves the files on disk until VACUUM); the root of a zero-level
    * table records every committed epoch in `_EPOCHS`, so a slice epoch
    * with no listed file is gone there (or had no rows). */
  def epochSlice(relDir: String, dir: java.nio.file.Path, slice: Set[Long])
      : (Seq[(String, Long)], Set[Long]) =
    if (relDir.isEmpty) {
      val onDisk = epochFiles(dir.toString, slice)
      (onDisk, slice -- onDisk.map(_._2))
    } else {
      val recorded = AuditBase.readManifest(dir.toString).flatMap(e =>
        epochOf(e.file).filter(slice.contains).map((e.file, _)))
      val (onDisk, gone) = recorded.partition { case (f, _) =>
        java.nio.file.Files.exists(dir.resolve(f)) }
      (onDisk, gone.map(_._2).toSet)
    }
}

final case class AuditFilePartition(file: String, epoch: Option[Long],
    deleted: Seq[Long] = Nil)
    extends org.apache.spark.sql.connector.read.InputPartition

/** One base-checkpoint file (origin-tagged rows — see [[AuditBase]]).
  * Exactly one of the three filter configurations is active per read:
  * current (vectors, by ORIGIN row id), pinned (`maxEpoch` +
  * `epochOriginOnly`), or an epoch-tail slice (`epochFilter`). */
final case class AuditBasePartition(file: String,
    epochFilter: Option[Set[Long]] = None,
    maxEpoch: Option[Long] = None,
    epochOriginOnly: Boolean = false,
    vectors: Map[String, Set[Long]] = Map.empty,
    // COMMIT-TIME pin: a row is kept iff its ORIGIN was committed at or
    // before the cut — epoch origins via epochTs (expired epochs are
    // always visible: the plan-time bound guarantees the cut is inside
    // the retention window), batch origins via fileTs (the folded
    // manifest tombstones retain each entry's commit ts). A missing
    // lookup throws loudly — never a silent exclusion.
    originTsCut: Option[Long] = None,
    epochTs: Map[Long, Long] = Map.empty,
    fileTs: Map[String, Long] = Map.empty,
    expiredThrough: Long = -1L,
    // PER-DIRECTORY bases (partitioned OPTIMIZE): origin `_ofile` values
    // are plain names within the dir; `filePrefix` (the relDir + "/")
    // re-qualifies the `_file` metadata column so row ids stay unique
    // table-wide, matching the partitioned scan contract.
    filePrefix: String = "")
    extends org.apache.spark.sql.connector.read.InputPartition

/** One LEAF partition DIRECTORY of a partitioned audit table;
  * `partitionKey` exposes one value per level — the decoded value
  * (identity) or the bucket INDEX — so Spark can key-group for SPJ.
  * `relDir` (the `c1=t1/…/cK=tK` relative path) prefixes the `_file`
  * metadata column so row ids are unique TABLE-wide — the partitioned
  * delta-DML path keys its per-directory delete vectors by that id;
  * `vectors` are the directory's outstanding vector entries, keyed by
  * the PLAIN file name within the directory. */
final case class AuditDirPartition(files: Seq[String], relDir: String,
    levels: Seq[AuditPartition.Level],
    vectors: Map[String, Set[Long]] = Map.empty,
    // PER-DIRECTORY BASE CHECKPOINT (partitioned OPTIMIZE): the dir's
    // base-* files are read INSIDE this partition (not as separate
    // InputPartitions) so the KeyGroupedPartitioning contract — one
    // partition per surviving dir — and storage-partitioned joins
    // survive compaction. Origin filters mirror AuditBasePartition:
    // current reads drop origin-vector-deleted rows, VERSION AS OF pins
    // epoch origins <= v, TIMESTAMP AS OF cuts by origin commit time.
    baseFiles: Seq[String] = Nil,
    baseMaxEpoch: Option[Long] = None,
    baseEpochOriginOnly: Boolean = false,
    originTsCut: Option[Long] = None,
    epochTs: Map[Long, Long] = Map.empty,
    fileTs: Map[String, Long] = Map.empty)
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      levels.zipWithIndex.map { case (l, i) =>
        val token = AuditPartition.componentToken(relDir, i)
        if (l.bucket.isDefined) {
          if (token == AuditPartition.NullToken) null else Int.box(token.toInt)
        } else AuditPartition.decode(token, l.dt)
      }.toArray[Any])
}

/** Tail the `_EPOCHS` commit log as a micro-batch stream, on both
  * layouts: offset = number of committed epochs consumed. The table-level
  * log is the one offset axis (every streaming commit writes exactly one
  * line per epoch); each slice resolves per directory through
  * [[AuditScan.epochSlice]] — an epoch's part files sit in the root of a
  * zero-level table, or in the partition directories its rows routed to.
  * Epoch files carry their epoch in the name (`part-e<epoch>-NNNNN.jsonl`,
  * disjoint from the batch writer's `part-x<gen>-NNNNN.jsonl` namespace),
  * and replay retraction rewrites an epoch's full file set before its
  * `_EPOCHS` line lands, so the offset → file mapping is stable across
  * restarts — the standard replayable-source contract, derived entirely
  * from the sink's own metadata. OPTIMIZE preserves the epoch log: a
  * running tail resumes across a compaction, reading epoch files while
  * they are on disk and replaying epochs whose files VACUUM reclaimed from
  * the directory's base by origin (epochFilter) — the same exactly-once
  * accounting either way. */
final class AuditMicroBatchStream(path: String, writeSchema: StructType,
    required: StructType, partLevels: Seq[AuditPartition.Level] = Nil)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  import org.apache.spark.sql.connector.read._

  private def epochs: Seq[Long] = AuditScan.committedEpochs(path)

  override def initialOffset(): Offset = PagedOffset(0)
  override def latestOffset(): Offset = PagedOffset(epochs.size)
  override def deserializeOffset(json: String): Offset =
    PagedOffset(json.trim.toInt)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val eps = epochs
    val from = start.asInstanceOf[PagedOffset].page
    // Offsets index the sorted epoch log. TRUNCATE and the row-level
    // UPDATE/MERGE rewrite DELETE epochs; a checkpoint whose offset
    // exceeds the surviving log would silently plan empty slices and let
    // newly committed epochs re-use consumed indices. That violates the
    // replayable-source contract, so fail loudly instead.
    require(from <= eps.size,
      s"audit stream: restored offset $from exceeds the epoch log length " +
        s"${eps.size} at $path — the table's epochs were truncated, " +
        "rewritten, or folded by OPTIMIZE since the checkpoint; restart " +
        "from a fresh checkpoint")
    val slice = eps.slice(from, end.asInstanceOf[PagedOffset].page).toSet
    AuditPartition.listDirs(path, partLevels).flatMap { case (relDir, dir) =>
      val (onDisk, gone) = AuditScan.epochSlice(relDir, dir, slice)
      onDisk.map { case (f, e) =>
        AuditFilePartition(dir.resolve(f).toString, Some(e)): InputPartition
      } ++ (if (gone.isEmpty) Seq.empty
        else AuditBase.read(dir.toString).toSeq.flatMap(_.files.map {
          case (bf, _) => AuditBasePartition(dir.resolve(bf).toString,
            epochFilter = Some(gone)): InputPartition
        }))
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new AuditReaderFactory(writeSchema, required)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** CHANGE-DATA-FEED scan: the table's full mutation history as events.
  * Every committed row is an `insert` event (epoch-stamped when it landed
  * via the streaming commit) and every delete-vector entry is a `delete`
  * event carrying the ORIGINAL row values read back from its (file, pos)
  * id — so `inserts − deletes`, applied keyed on (file, pos), reconstructs
  * the current table exactly (the spec replays the stream and proves it).
  *
  * The offset axis is the triple of the format's three APPEND-ONLY logs:
  * (epochs committed, batch files committed, delete-vector entries). Delta
  * DML only ever appends to these, which is precisely what makes the tail
  * replayable; the RETROACTIVE metadata DELETE rewrites files instead —
  * an open changelog detects the shrunken logs and fails loudly rather
  * than replaying drifted history. */
final class AuditCdfScan(path: String, fullSchema: StructType,
    parseSchema0: StructType = null, startEpoch: Option[Long] = None,
    startMillis: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read._

  // storage-named twin used by the readers (column RENAME mapping);
  // fullSchema keeps the Spark-facing current names
  private val parseSchema =
    if (parseSchema0 == null) fullSchema else parseSchema0

  override def build(): Scan = this
  override def readSchema(): StructType = fullSchema
  override def toBatch: Batch = this
  override def description(): String = s"AuditCdfScan $path (change feed)"

  override def planInputPartitions(): Array[InputPartition] =
    (startEpoch, startMillis) match {
    case (None, None) => AuditCdf.partitionsFor(path,
      AuditScan.committedEpochs(path),
      AuditBase.readManifest(path),
      AuditDeletes.entriesWithTs(path),
      epochTs = AuditScan.epochTimestamps(path))
    // INCREMENTAL batch CDC ("changes since epoch e", the daily
    // downstream-job pattern — no streaming infra needed). On a PURE
    // streaming history: plan exactly the epochs >= e. On a MIXED table
    // (batch txn appends / delta-DML vectors, which carry no epoch),
    // the epoch bound TRANSLATES onto the commit-time axis: "changes
    // committed at or after epoch e's commit instant" — every event
    // then filters by its recorded stamp, exactly once per window
    // (commit stamps are sequencer-unique). Pre-commit-time epochs
    // cannot be placed on that axis and refuse loudly, pointing at
    // startingTimestamp.
    case (Some(e), _) =>
      val mixed = AuditBase.readManifest(path).nonEmpty ||
        AuditDeletes.entries(path).nonEmpty ||
        AuditDeletes.foldedRows(path) > 0
      if (mixed) {
        AuditScan.committedEpochs(path).filter(_ >= e).minOption match {
          case None => Array.empty // nothing committed at/after epoch e
          case Some(e0) =>
            val t = AuditScan.epochTimestamps(path).getOrElse(e0,
              throw new IllegalArgumentException(
                s"audit changeFeed startingEpoch: epoch $e0 at $path " +
                  "carries no commit time (pre-upgrade history) — the " +
                  "epoch bound cannot be placed on this mixed table's " +
                  "commit-time axis; use startingTimestamp"))
            tsPartitions(t)
        }
      } else
        AuditCdf.partitionsFor(path,
          AuditScan.committedEpochs(path).filter(_ >= e), Nil, Nil,
          epochTs = AuditScan.epochTimestamps(path))
    // MIXED-HISTORY incremental batch CDC: "changes committed at or
    // after instant t", resolved on the COMMIT-TIME axis all three logs
    // now carry — epochs, txn appends and delete vectors each filter by
    // their recorded commit millis, so a pull on a table interleaving
    // batch appends (and DML) with epochs emits each event EXACTLY once
    // per window. Consumers checkpoint `max(_commit_ts) + 1`. History
    // that cannot be placed on the axis refuses loudly.
    case (None, Some(t)) => tsPartitions(t)
  }

  private def tsPartitions(t: Long): Array[InputPartition] = {
    def refuse(what: String): Nothing = throw new IllegalArgumentException(
      s"audit changeFeed startingTimestamp: $what at $path — those " +
        "events cannot be placed on the commit-time axis; use the " +
        "streaming change feed")
    val stamped = AuditScan.epochTimestamps(path)
    val unstampedE = AuditScan.committedEpochs(path)
      .filterNot(stamped.contains)
    if (unstampedE.nonEmpty)
      refuse("epoch(s) carry no commit time (pre-upgrade history)")
    val manifest = AuditBase.readManifest(path)
    // folded (base-checkpointed) entries resolve through the base by
    // ORIGIN — their tombstones retain the commit time, so the events
    // still carry `_commit_ts`; only a fold of UNKNOWN time refuses
    if (manifest.exists(e => e.folded && e.ts.isEmpty))
      refuse("batch history of unknown commit time was folded into a " +
        "base checkpoint (pre-upgrade OPTIMIZE)")
    if (manifest.exists(e => !e.folded && e.ts.isEmpty))
      refuse("batch append(s) carry no commit time (pre-upgrade history)")
    val vecs = AuditDeletes.entriesWithTs(path)
    if (AuditDeletes.foldedRows(path) > 0)
      refuse("delete vectors were folded (VACUUM vector retention)")
    if (vecs.exists(_._3.isEmpty))
      refuse("delete vector(s) carry no commit time (pre-upgrade history)")
    AuditCdf.partitionsFor(path,
      stamped.collect { case (e, ts) if ts >= t => e }.toSeq.sorted,
      manifest.filter(_.ts.exists(_ >= t)),
      vecs.filter(_._3.exists(_ >= t)),
      epochTs = stamped)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AuditCdfReaderFactory(parseSchema)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new AuditCdfStream(path, parseSchema)
}

/** CHANGE-DATA-FEED over a PARTITIONED audit table. The feed's axes are
  * the per-directory APPEND-ONLY logs: every manifest entry — a
  * streaming epoch file or an OCC txn append — is an `insert` event
  * (epoch-stamped when the file name carries one), and every
  * per-directory delete-vector entry (partitioned delta DML) is a
  * `delete` event carrying the ORIGINAL row values, so updates and
  * deletes flow to CDC consumers exactly as on the unpartitioned feed.
  * Events carry the dir-qualified `(_file, _pos)` row id for exact
  * replay. The one non-append mutation left — the retroactive metadata
  * DELETE, which rewrites files in place — is DETECTED: the streaming
  * offset records the row count under every consumed manifest entry, and
  * a tail that observes those rows change (or a manifest shrink, or a
  * vanished directory) fails loudly instead of replaying drifted
  * history. */
final class AuditPartitionedCdfScan(path: String, fullSchema: StructType,
    partLevels: Seq[AuditPartition.Level], parseSchema0: StructType = null,
    startEpoch: Option[Long] = None,
    startMillis: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch {
  import org.apache.spark.sql.connector.read._

  private val parseSchema =
    if (parseSchema0 == null) fullSchema else parseSchema0

  override def build(): Scan = this
  override def readSchema(): StructType = fullSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"AuditPartitionedCdfScan $path (change feed)"

  override def planInputPartitions(): Array[InputPartition] = {
    val epochTs = AuditScan.epochTimestamps(path)
    startMillis.foreach { _ =>
      val unstamped = AuditScan.committedEpochs(path)
        .filterNot(epochTs.contains)
      require(unstamped.isEmpty,
        s"audit changeFeed startingTimestamp: $path has epochs without " +
          "recorded commit times (pre-upgrade history)")
    }
    AuditPartition.listDirs(path, partLevels).flatMap { case (relDir, pdir) =>
      val all = AuditBase.readManifest(pdir.toString)
      val entries = all.filterNot(_.folded)
      val folded = all.filter(_.folded)
      // startingEpoch (incremental batch CDC): only epoch-stamped
      // entries >= e; un-epoch'd events refuse (see AuditCdfScan)
      startEpoch.foreach { _ =>
        require(all.forall(e => AuditScan.epochOf(e.file).isDefined),
          s"audit changeFeed startingEpoch: partition $relDir of $path " +
            "has batch txn appends, which carry no epoch; use " +
            "startingTimestamp (commit-time axis) or the streaming " +
            "change feed")
        require(AuditDeletes.entries(pdir.toString).isEmpty &&
          AuditDeletes.foldedRows(pdir.toString) == 0L,
          s"audit changeFeed startingEpoch: partition $relDir of $path " +
            "has delta-DML delete vectors, which carry no epoch; use " +
            "startingTimestamp (commit-time axis) or the streaming " +
            "change feed")
      }
      startMillis.foreach { _ =>
        all.foreach(e => require(
          AuditScan.epochOf(e.file).isDefined || e.ts.isDefined,
          s"audit changeFeed startingTimestamp: batch append ${e.file} " +
            s"in partition $relDir carries no commit time (pre-upgrade " +
            "history); use the streaming change feed"))
        require(AuditDeletes.foldedRows(pdir.toString) == 0L,
          s"audit changeFeed startingTimestamp: partition $relDir has " +
            "VACUUM-folded delete vectors — their commit side is unknown")
      }
      def entryTs(e: AuditBase.ManifestEntry): Option[Long] =
        AuditScan.epochOf(e.file).flatMap(epochTs.get).orElse(e.ts)
      def inWindow(e: AuditBase.ManifestEntry): Boolean =
        startEpoch.forall(se => AuditScan.epochOf(e.file).exists(_ >= se)) &&
          startMillis.forall(t => entryTs(e).exists(_ >= t))
      val vecs = AuditDeletes.entriesWithTs(pdir.toString)
      startMillis.foreach(_ => require(vecs.forall(_._3.isDefined),
        s"audit changeFeed startingTimestamp: delete vector(s) in " +
          s"partition $relDir carry no commit time (pre-upgrade " +
          "history); use the streaming change feed"))
      val delGroups = vecs.filter { case (_, _, ts) =>
        startMillis.forall(t => ts.exists(_ >= t)) && startEpoch.isEmpty
      }.groupBy(d => (d._1, d._3)).toSeq
        .sortBy { case ((f, ts), _) => (f, ts.getOrElse(Long.MinValue)) }
      // delete events read the original row values back from (file, pos):
      // from the original file while it exists, from the BASE by origin
      // once VACUUM reclaimed it
      val (delOnDisk, delGone) = delGroups.partition { case ((f, _), _) =>
        java.nio.file.Files.exists(pdir.resolve(f)) }
      // FOLDED history (per-dir base checkpoint) replays from the base by
      // ORIGIN — insert events for compacted epochs/batch appends, with
      // `_commit_ts` from the root stamps / tombstone ts, so a fresh feed
      // over a compacted partitioned table still emits the full history
      // (the unpartitioned feed's contract, now on both layouts)
      val foldedInWindow = folded.filter(inWindow)
      val goneEpochs = foldedInWindow
        .flatMap(e => AuditScan.epochOf(e.file)).toSet
      val goneBatch = foldedInWindow.collect {
        case e if AuditScan.epochOf(e.file).isEmpty => e.file }.toSet
      val foldedTs: Map[String, Long] = folded.collect {
        case e if AuditScan.epochOf(e.file).isEmpty && e.ts.isDefined =>
          (e.file, e.ts.get) }.toMap
      val goneDelTs: Map[(String, Long), Long] = delGone.flatMap {
        case ((df, ts), ps) => ts.toSeq.flatMap(v =>
          ps.map { case (_, pos, _) => ((df, pos), v) })
      }.toMap
      val baseParts: Seq[InputPartition] =
        if (goneEpochs.isEmpty && goneBatch.isEmpty && delGone.isEmpty)
          Seq.empty
        else AuditBase.read(pdir.toString).toSeq.flatMap(_.files.map {
          case (bf, _) => AuditCdfBasePartition(
            pdir.resolve(bf).toString, goneEpochs, goneBatch,
            delGone.groupBy(_._1._1).map { case (df, gs) =>
              (df, gs.flatMap(_._2.map(_._2)).toSet) },
            epochTs = epochTs, fileTs = foldedTs, delTs = goneDelTs,
            filePrefix = s"$relDir/"): InputPartition
        })
      entries.filter(inWindow).map { e =>
        AuditCdfPartition(pdir.resolve(e.file).toString,
          AuditScan.epochOf(e.file), None,
          relName = Some(s"$relDir/${e.file}"),
          commitTs = entryTs(e)): InputPartition
      } ++ delOnDisk.map { case ((f, ts), ps) =>
        AuditCdfPartition(pdir.resolve(f).toString, None,
          Some(ps.map(_._2).sorted),
          relName = Some(s"$relDir/$f"),
          commitTs = ts): InputPartition
      } ++ baseParts
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AuditCdfReaderFactory(parseSchema)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new AuditPartitionedCdfStream(path, parseSchema, partLevels)
}

/** Offset of the partitioned change feed, PER DIRECTORY (a single global
  * counter would shift when a new directory sorts into the middle of the
  * token order): `entries` manifest entries consumed, `rows` the exact
  * row total under those entries at consumption time (the in-place-
  * rewrite detector — manifests only ever APPEND entries, so this prefix
  * sum is constant unless a retroactive metadata DELETE rewrote consumed
  * files), and `dels` delete-vector entries consumed. */
final case class AuditPartCdfOffset(
    dirs: Map[String, AuditPartCdfOffset.DirOff])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    dirs.toSeq.sortBy(_._1)
      .map { case (t, o) =>
        val folds = if (o.folds < 0L) "" else s":${o.folds}"
        val mfolds =
          if (o.folds < 0L || o.mfolds < 0L) "" else s":${o.mfolds}"
        s""""${AuditRowJson.esc(t)}":"${o.entries}:${o.rows}:${o.dels}$folds$mfolds"""" }
      .mkString("{", ",", "}")
}

private[sources] object AuditPartCdfOffset {
  /** rows = -1 marks a legacy (round-11) checkpoint offset that carried
    * no row count: the rewrite detector is skipped for that directory's
    * already-consumed prefix, everything else resumes exactly. folds is
    * the directory's monotonic fold generation ([[AuditDeletes
    * .foldedRows]]) at consumption time; -1 marks a pre-round-14
    * checkpoint without the axis (that detector skipped too). mfolds is
    * the MANIFEST fold generation (tombstoned entries — a per-dir base
    * checkpoint shifts every later live-entry index); -1 legacy. */
  final case class DirOff(entries: Int, rows: Long, dels: Int,
      folds: Long = -1L, mfolds: Long = -1L)
  val Zero: DirOff = DirOff(0, 0L, 0)

  private val EntryRe =
    (""""((?:[^"\\]|\\.)*)":""" +
      """(?:"(\d+):(-?\d+):(\d+)(?::(-?\d+))?(?::(-?\d+))?"|(\d+))""").r
  def parse(json: String): AuditPartCdfOffset = AuditPartCdfOffset(
    EntryRe.findAllMatchIn(json).map { m =>
      val tok = m.group(1).replace("\\\"", "\"").replace("\\\\", "\\")
      val off =
        if (m.group(7) != null) DirOff(m.group(7).toInt, -1L, 0)
        else DirOff(m.group(2).toInt, m.group(3).toLong, m.group(4).toInt,
          if (m.group(5) == null) -1L else m.group(5).toLong,
          if (m.group(6) == null) -1L else m.group(6).toLong)
      (tok, off)
    }.toMap)
}

final class AuditPartitionedCdfStream(path: String, fullSchema: StructType,
    partLevels: Seq[AuditPartition.Level])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Offset keys are relDirs; a legacy (single-level round-12) checkpoint
    * stored BARE tokens — normalize by prefixing the level-0 column
    * (tokens are URL-encoded, so a raw `=` never appears in one). */
  private def normKey(k: String): String =
    if (k.contains('=')) k else s"${partLevels.head.col}=$k"

  private def now(): AuditPartCdfOffset = AuditPartCdfOffset(
    AuditPartition.listDirs(path, partLevels).map { case (relDir, pdir) =>
      // entries axis = ALL manifest entries, folded tombstones INCLUDED:
      // a per-dir base checkpoint folds entries IN PLACE (order and
      // per-entry rows preserved in the tombstones), so this axis is
      // STABLE across a partitioned OPTIMIZE — a running tail survives
      // the compaction, resolving tombstoned entries from the base by
      // origin. dels stays POSITIONAL (a vector fold shrinks it and the
      // folds detector restarts the tail loudly — vector retention is
      // the one axis that genuinely renumbers).
      val all = AuditBase.readManifest(pdir.toString)
      (relDir, AuditPartCdfOffset.DirOff(all.size, all.map(_.rows).sum,
        AuditDeletes.entries(pdir.toString).size,
        AuditDeletes.foldedRows(pdir.toString),
        // fold count: kept to tell a round-15 LIVE-axis checkpoint
        // (mfolds = -1) from the fold-stable axis above
        all.count(_.folded).toLong))
    }.toMap)

  override def initialOffset(): Offset = AuditPartCdfOffset(Map.empty)
  override def latestOffset(): Offset = now()
  override def deserializeOffset(json: String): Offset = {
    val parsed = AuditPartCdfOffset.parse(json)
    AuditPartCdfOffset(parsed.dirs.map { case (k, v) => (normKey(k), v) })
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[AuditPartCdfOffset].dirs
      .map { case (k, v) => (normKey(k), v) }
    val en = end.asInstanceOf[AuditPartCdfOffset].dirs
      .map { case (k, v) => (normKey(k), v) }
    val dirs = AuditPartition.listDirs(path, partLevels).toMap
    // a directory the tail ALREADY CONSUMED from must still exist: DROP
    // PARTITION / TRUNCATE under a live tail removes it from the END
    // offset entirely, which would otherwise be a silent skip of
    // published history — the contract is a loud error, never drift
    s.foreach { case (relDir, from) =>
      if ((from.entries > 0 || from.dels > 0) && !dirs.contains(relDir))
        throw new IllegalStateException(
          s"audit changeFeed: partition dir $relDir vanished at $path " +
            "after the feed consumed from it — the partition was dropped " +
            "or the table truncated; restart the feed from a fresh checkpoint")
    }
    en.toSeq.sortBy(_._1).flatMap { case (relDir, until) =>
      val pdir = dirs.getOrElse(relDir, throw new IllegalStateException(
        s"audit changeFeed: partition dir $relDir vanished at $path — " +
          "the table was truncated or its partition dropped; restart the feed"))
      val all = AuditBase.readManifest(pdir.toString)
      val from = s.getOrElse(relDir, AuditPartCdfOffset.Zero)
      // AXIS disambiguation: a round-15 checkpoint (mfolds = -1) counted
      // LIVE entries — identical to the fold-stable all-entries axis
      // only while the dir has never folded; after a fold it cannot be
      // translated and restarts loudly. Fold-axis checkpoints
      // (mfolds >= 0) survive the fold: entries keep their positions.
      if (from.mfolds < 0L && (from.entries > 0 || from.dels > 0))
        require(all.forall(!_.folded),
          s"audit changeFeed: manifest entries of $relDir at $path were " +
            "folded (partitioned OPTIMIZE base checkpoint) after this " +
            "pre-fold-axis feed checkpointed — entry offsets no longer " +
            "align; restart the feed from a fresh checkpoint")
      require(from.entries <= all.size && until.entries <= all.size,
        s"audit changeFeed: restored offset ${from.entries}..${until.entries} " +
          s"exceeds the manifest length ${all.size} for $relDir at " +
          s"$path — the directory was rewritten (epoch replay after a " +
          "crash); restart the feed from a fresh checkpoint")
      // in-place-rewrite detector: the retroactive metadata DELETE keeps
      // entry COUNTS but changes entry ROWS — a consumed prefix whose row
      // sum moved means already-emitted history was rewritten under us
      // (folding preserves per-entry rows in the tombstones, so the sum
      // is fold-invariant)
      if (from.rows >= 0L)
        require(all.take(from.entries).map(_.rows).sum == from.rows,
          s"audit changeFeed: already-consumed entries of $relDir at " +
            s"$path changed row counts (retroactive metadata DELETE " +
            "rewrote published history in place); restart the feed from " +
            "a fresh checkpoint")
      val dels = AuditDeletes.entries(pdir.toString)
      require(from.dels <= dels.size && until.dels <= dels.size,
        s"audit changeFeed: restored vector offset ${from.dels}..${until.dels} " +
          s"exceeds the delete log length ${dels.size} for $relDir at " +
          s"$path — the vectors were folded (metadata DELETE or OPTIMIZE); " +
          "restart the feed from a fresh checkpoint")
      // fold-generation detector: a fold shifts EVERY later positional
      // index wherever in the log the folded entries sat — the length
      // guard above only sees shrink below the consumed offset. The
      // generation is monotonic, so any change past the checkpoint is a
      // fold. Only checked for dirs the start offset KNOWS (a dir first
      // consumed now may legitimately carry pre-existing folds).
      if (from.folds >= 0L)
        require(AuditDeletes.foldedRows(pdir.toString) == from.folds,
          s"audit changeFeed: delete vectors of $relDir at $path were " +
            "folded (VACUUM vector retention) after this feed " +
            "checkpointed — positional offsets no longer align; restart " +
            "the feed from a fresh checkpoint")
      // slice over the fold-stable axis: live entries (and folded ones
      // whose original file still exists) read directly; entries whose
      // file VACUUM reclaimed replay from the dir's base by origin
      val slice = all.slice(from.entries, until.entries)
      val (onDisk, gone) = slice.partition(e =>
        java.nio.file.Files.exists(pdir.resolve(e.file)))
      val goneEpochs = gone.flatMap(e => AuditScan.epochOf(e.file)).toSet
      val goneBatch = gone.collect {
        case e if AuditScan.epochOf(e.file).isEmpty => e.file }.toSet
      val goneTs: Map[String, Long] = gone.collect {
        case e if AuditScan.epochOf(e.file).isEmpty && e.ts.isDefined =>
          (e.file, e.ts.get) }.toMap
      // delete events read original row values back from (file, pos):
      // from the original file while it exists, from the BASE by origin
      // once VACUUM reclaimed it (folded original or base-superseded
      // epoch file) — same split as the batch AuditPartitionedCdfScan,
      // so the feed's "survives compaction+VACUUM" contract holds on
      // the streaming path too
      val delGroups = dels.slice(from.dels, until.dels)
        .groupBy(_._1).toSeq.sortBy(_._1)
      val (delOnDisk, delGone) = delGroups.partition { case (f, _) =>
        java.nio.file.Files.exists(pdir.resolve(f)) }
      val baseParts: Seq[InputPartition] =
        if (goneEpochs.isEmpty && goneBatch.isEmpty && delGone.isEmpty)
          Seq.empty
        else AuditBase.read(pdir.toString).toSeq.flatMap(_.files.map {
          case (bf, _) => AuditCdfBasePartition(
            pdir.resolve(bf).toString, goneEpochs, goneBatch,
            delGone.map { case (f, ps) => (f, ps.map(_._2).toSet) }.toMap,
            epochTs = AuditScan.epochTimestamps(path), fileTs = goneTs,
            filePrefix = s"$relDir/"): InputPartition
        })
      onDisk.map { e =>
        AuditCdfPartition(pdir.resolve(e.file).toString,
          AuditScan.epochOf(e.file), None,
          relName = Some(s"$relDir/${e.file}")): InputPartition
      } ++ baseParts ++ delOnDisk.map { case (f, ps) =>
          AuditCdfPartition(pdir.resolve(f).toString, None,
            Some(ps.map(_._2).sorted),
            relName = Some(s"$relDir/$f")): InputPartition
        }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AuditCdfReaderFactory(fullSchema)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] object AuditCdf {
  /** CDF partitions for a slice of the three logs: epoch files and batch
    * files become insert partitions, delete entries group per file.
    * History whose original files were folded into a base checkpoint
    * (OPTIMIZE) or reclaimed (VACUUM) resolves from the base by ORIGIN —
    * the feed's events, offsets, and (file, pos) replay keys are identical
    * either way, so a running changelog tail survives maintenance. */
  def partitionsFor(path: String, epochs: Seq[Long],
      batchEntries: Seq[AuditBase.ManifestEntry],
      deletes: Seq[(String, Long, Option[Long])],
      epochTs: Map[Long, Long] = Map.empty)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val dir = java.nio.file.Paths.get(path)
    val base = AuditBase.read(path)
    val onDisk = AuditScan.epochFiles(path, epochs.toSet)
    val liveEpochSet =
      if (base.isEmpty) epochs.toSet else onDisk.map(_._2).toSet
    val goneEpochs = epochs.filterNot(liveEpochSet.contains)
    val goneBatch = batchEntries.collect { case e if e.folded => e.file }
    // one partition per (file, commit ts): a file's vector entries from
    // DIFFERENT DML statements carry different commit times, and the
    // `_commit_ts` column must report each event's own
    val delGroups = deletes.groupBy(d => (d._1, d._3)).toSeq
      .sortBy { case ((f, ts), _) => (f, ts.getOrElse(Long.MinValue)) }
    val (liveDel, goneDel) = delGroups.partition { case ((f, _), _) =>
      base.isEmpty || java.nio.file.Files.exists(dir.resolve(f))
    }
    val inserts =
      onDisk.filter { case (_, e) => liveEpochSet.contains(e) }
        .map { case (f, e) =>
          AuditCdfPartition(dir.resolve(f).toString, Some(e), None,
            commitTs = epochTs.get(e))
        } ++ batchEntries.collect {
          case e if !e.folded =>
            AuditCdfPartition(dir.resolve(e.file).toString, None, None,
              commitTs = e.ts)
        }
    val dels = liveDel.map { case ((f, ts), ps) =>
      AuditCdfPartition(dir.resolve(f).toString, None,
        Some(ps.map(_._2).sorted), commitTs = ts)
    }
    val foldedTs: Map[String, Long] = batchEntries.collect {
      case e if e.folded && e.ts.isDefined => (e.file, e.ts.get) }.toMap
    val goneDelTs: Map[(String, Long), Long] = goneDel.flatMap {
      case ((df, ts), ps) => ts.toSeq.flatMap(v =>
        ps.map { case (_, pos, _) => ((df, pos), v) })
    }.toMap
    val baseParts: Seq[AuditCdfBasePartition] =
      if (goneEpochs.isEmpty && goneBatch.isEmpty && goneDel.isEmpty) Seq.empty
      else base.toSeq.flatMap(_.files.map { case (f, _) =>
        AuditCdfBasePartition(dir.resolve(f).toString, goneEpochs.toSet,
          goneBatch.toSet,
          goneDel.groupBy(_._1._1).map { case (df, gs) =>
            (df, gs.flatMap(_._2.map(_._2)).toSet) },
          epochTs = epochTs, fileTs = foldedTs, delTs = goneDelTs)
      })
    (inserts ++ dels ++ baseParts)
      .toArray[org.apache.spark.sql.connector.read.InputPartition]
  }
}

final case class AuditCdfPartition(file: String, epoch: Option[Long],
    deletePositions: Option[Seq[Long]],
    // `_file` value when it must differ from the plain file name — the
    // partitioned feed dir-qualifies it (`col=token/part-…`) so
    // (file, pos) replay keys are unique table-wide
    relName: Option[String] = None,
    // commit wall-clock millis of the events in this slice (`_commit_ts`
    // metadata column) — what an incremental ts-puller checkpoints
    commitTs: Option[Long] = None)
    extends org.apache.spark.sql.connector.read.InputPartition

/** Base-resolved slice of the change feed: one base file scanned for rows
  * whose ORIGIN falls in the requested epochs / folded batch files /
  * delete-vector entries. A row can yield both its insert event and a
  * delete event in the same slice. */
final case class AuditCdfBasePartition(file: String, epochs: Set[Long],
    batchOrigins: Set[String], deletes: Map[String, Set[Long]],
    // commit-time lookups so base-resolved events carry `_commit_ts`
    // like live-file events do: epoch origins via epochTs, folded batch
    // origins via fileTs, delete events via delTs keyed (file, pos).
    // A missing lookup yields null (pre-upgrade history).
    epochTs: Map[Long, Long] = Map.empty,
    fileTs: Map[String, Long] = Map.empty,
    delTs: Map[(String, Long), Long] = Map.empty,
    // partitioned feeds dir-qualify `_file` (col=token/part-…) so
    // (file, pos) replay keys stay unique table-wide
    filePrefix: String = "")
    extends org.apache.spark.sql.connector.read.InputPartition

final class AuditCdfReaderFactory(fullSchema: StructType)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  private val metaCols =
    Set("_change_type", "_commit_epoch", "_commit_ts", "_file", "_pos")
  private val dataSchema = StructType(fullSchema.filterNot(f => metaCols(f.name)))

  override def createReader(partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    partition match {
      case bp: AuditCdfBasePartition => return baseReader(bp)
      case _ => ()
    }
    val p = partition.asInstanceOf[AuditCdfPartition]
    val changeType = org.apache.spark.unsafe.types.UTF8String.fromString(
      if (p.deletePositions.isDefined) "delete" else "insert")
    val fileName = org.apache.spark.unsafe.types.UTF8String.fromString(
      p.relName.getOrElse(
        java.nio.file.Paths.get(p.file).getFileName.toString))
    val srcIdx = fullSchema.fields.map {
      case f if f.name == "_change_type"  => -1
      case f if f.name == "_commit_epoch" => -2
      case f if f.name == "_file"         => -3
      case f if f.name == "_pos"          => -4
      case f if f.name == "_commit_ts"    => -5
      case f => dataSchema.fieldIndex(f.name)
    }
    val absent = AuditJson.absentFill(dataSchema)
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val all = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(p.file), java.nio.charset.StandardCharsets.UTF_8)
      // events carry their (file, pos) row id so a replay can key exactly
      private val lines: Iterator[(Long, String)] = p.deletePositions match {
        case Some(ps) => ps.iterator.map(pos => (pos, all.get(pos.toInt)))
        case None     => all.iterator().asScala.zipWithIndex
          .map { case (l, i) => (i.toLong, l) }
      }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (!lines.hasNext) false
        else {
          var (pos, line) = lines.next()
          if (p.deletePositions.isDefined)
            // a positional delete entry pointing at a VACUUM-blanked line
            // means a fold crashed between blanking and the vector
            // replace — rerun VACUUM; emitting nothing here would
            // silently drop a published delete event
            require(line.nonEmpty,
              s"audit changeFeed: delete entry at $pos of ${p.file} points " +
                "at a folded (blank) row — an interrupted VACUUM vector " +
                "fold; rerun VACUUM, then restart the feed")
          else
            // insert path: blank lines are folded tombstones, skip them
            while (line.isEmpty && lines.hasNext) {
              val n = lines.next(); pos = n._1; line = n._2
            }
          if (line.isEmpty) return false
          val full = AuditJson.parseLine(line, dataSchema, absent)
          val vals = new Array[Any](srcIdx.length)
          var i = 0
          while (i < srcIdx.length) {
            vals(i) = srcIdx(i) match {
              case -1 => changeType
              case -2 => p.epoch.map(Long.box).orNull
              case -3 => fileName
              case -4 => pos
              case -5 => p.commitTs.map(Long.box).orNull
              case s  =>
                if (full.isNullAt(s)) null
                else full.get(s, dataSchema(s).dataType)
            }
            i += 1
          }
          row = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(vals)
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }

  /** Events re-derived from a base file by row origin — identical
    * `_change_type`/`_commit_epoch`/`_file`/`_pos`/values to what the
    * original file would have produced. */
  private def baseReader(p: AuditCdfBasePartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val baseSchema = AuditBase.baseSchema(dataSchema)
    val absent: Array[Any] = AuditJson.absentFill(dataSchema) match {
      case null => null
      case a    => a ++ Array[Any](null, null, null)
    }
    val n = dataSchema.length
    val insertTag = org.apache.spark.unsafe.types.UTF8String.fromString("insert")
    val deleteTag = org.apache.spark.unsafe.types.UTF8String.fromString("delete")
    val srcIdx = fullSchema.fields.map {
      case f if f.name == "_change_type"  => -1
      case f if f.name == "_commit_epoch" => -2
      case f if f.name == "_file"         => -3
      case f if f.name == "_pos"          => -4
      // base-resolved history predates commit-time stamping of its
      // original files — `_commit_ts` is null here (ts-pulls refuse
      // folded history anyway; only full pulls reach this reader)
      case f if f.name == "_commit_ts"    => -5
      case f => dataSchema.fieldIndex(f.name)
    }
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val lines = java.nio.file.Files.lines(
        java.nio.file.Paths.get(p.file), java.nio.charset.StandardCharsets.UTF_8)
      private val it = lines.iterator()
      private val pending = scala.collection.mutable.Queue.empty[InternalRow]
      private var row: InternalRow = _
      private def emit(full: InternalRow, tag: org.apache.spark.unsafe.types.UTF8String,
          epoch: java.lang.Long, of: org.apache.spark.unsafe.types.UTF8String,
          op: Long, commitTs: java.lang.Long): Unit = {
        val vals = new Array[Any](srcIdx.length)
        var i = 0
        while (i < srcIdx.length) {
          vals(i) = srcIdx(i) match {
            case -1 => tag
            case -2 => epoch
            case -3 => of
            case -4 => op
            case -5 => commitTs // null on pre-upgrade vintages
            case s  =>
              if (full.isNullAt(s)) null
              else full.get(s, dataSchema(s).dataType)
          }
          i += 1
        }
        pending.enqueue(
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals))
      }
      private def qualified(of: org.apache.spark.unsafe.types.UTF8String) =
        if (p.filePrefix.isEmpty) of
        else org.apache.spark.unsafe.types.UTF8String
          .fromString(p.filePrefix + of.toString)
      override def next(): Boolean = {
        while (pending.isEmpty && it.hasNext) {
          val line = it.next()
          // blank lines: VACUUM base-vector fold tombstones (rows gone,
          // positions never shift)
          if (line.nonEmpty) {
          val full = AuditJson.parseLine(line, baseSchema, absent)
          val oe: java.lang.Long =
            if (full.isNullAt(n)) null else Long.box(full.getLong(n))
          val of = full.getUTF8String(n + 1)
          val op = full.getLong(n + 2)
          val insertHit = (oe != null && p.epochs.contains(oe)) ||
            (oe == null && p.batchOrigins.contains(of.toString))
          if (insertHit) emit(full, insertTag, oe, qualified(of), op,
            (if (oe != null) p.epochTs.get(oe.longValue)
             else p.fileTs.get(of.toString)).map(Long.box).orNull)
          if (p.deletes.get(of.toString).exists(_.contains(op)))
            emit(full, deleteTag, null, qualified(of), op,
              p.delTs.get((of.toString, op)).map(Long.box).orNull)
          }
        }
        if (pending.isEmpty) false
        else { row = pending.dequeue(); true }
      }
      override def get(): InternalRow = row
      override def close(): Unit = lines.close()
    }
  }
}

/** Offset over the three append-only logs: epochs : batchFiles : deletes
  * (+ `r`, the exact row total under the consumed epoch lines and batch
  * entries at consumption time — the in-place-rewrite detector: a
  * retroactive metadata DELETE keeps the log LENGTHS but changes entry
  * row counts, which length-only offsets cannot see. `r` = -1 marks a
  * legacy checkpoint without the axis; the detector is skipped, all
  * other accounting resumes exactly). */
final case class AuditCdfOffset(e: Int, b: Int, d: Long, r: Long = -1L,
    f: Long = -1L)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    if (r < 0L) s"$e:$b:$d"
    else if (f < 0L) s"$e:$b:$d:$r"
    else s"$e:$b:$d:$r:$f"
}

final class AuditCdfStream(path: String, fullSchema: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.connector.read.streaming.Offset

  /** Exact rows under the first `e` (sorted) epochs + first `b` manifest
    * body lines. Folded tombstones carry their ORIGINAL rows and
    * `_EPOCHS` survives OPTIMIZE/VACUUM untouched, so this prefix sum is
    * constant across maintenance — only an in-place rewrite moves it. */
  private def rowsUnder(e: Int, b: Int): Long = {
    val byEpoch = AuditScan.epochRowsByEpoch(path)
    AuditScan.committedEpochs(path).take(e).map(byEpoch.getOrElse(_, 0L)).sum +
      AuditBase.readManifest(path).take(b).map(_.rows).sum
  }

  // the batch axis counts ALL manifest body lines — folded tombstones
  // included — so offsets stay stable across OPTIMIZE's manifest fold
  private def now(): AuditCdfOffset = {
    val e = AuditScan.committedEpochs(path).size
    val b = AuditBase.readManifest(path).size
    // d axis = POSITIONAL entries only (folded summaries are not
    // replayable; a VACUUM fold shrinks this log → loud restart)
    AuditCdfOffset(e, b, AuditDeletes.entries(path).size.toLong,
      rowsUnder(e, b), AuditDeletes.foldedRows(path))
  }

  override def initialOffset(): Offset =
    // a PRE-EXISTING fold (before this feed ever consumed anything) is
    // fine — pin the fold generation at first start, detect advances
    AuditCdfOffset(0, 0, 0L, 0L, AuditDeletes.foldedRows(path))
  override def latestOffset(): Offset = now()
  override def deserializeOffset(json: String): Offset =
    json.trim.split(':') match {
      case Array(e, b, d)    => AuditCdfOffset(e.toInt, b.toInt, d.toLong)
      case Array(e, b, d, r) => AuditCdfOffset(e.toInt, b.toInt, d.toLong, r.toLong)
      case Array(e, b, d, r, f) =>
        AuditCdfOffset(e.toInt, b.toInt, d.toLong, r.toLong, f.toLong)
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[AuditCdfOffset]
    val en = end.asInstanceOf[AuditCdfOffset]
    val epochs = AuditScan.committedEpochs(path)
    val batch = AuditBase.readManifest(path)
    val dels = AuditDeletes.entries(path)
    // the changelog contract holds only while the logs are append-only: a
    // retroactive metadata DELETE (or TRUNCATE) shrinks them, and replaying
    // across that boundary would emit drifted history — fail loudly
    require(s.e <= epochs.size && s.b <= batch.size && s.d <= dels.size,
      s"audit changeFeed: restored offset ${s.json()} exceeds the current " +
        s"logs (${epochs.size}:${batch.size}:${dels.size}) at $path — the " +
        "table was truncated or retroactively deleted; restart the feed")
    // in-place-rewrite detector (see AuditCdfOffset.r)
    if (s.r >= 0L)
      require(rowsUnder(s.e, s.b) == s.r,
        s"audit changeFeed: already-consumed commits at $path changed row " +
          "counts (retroactive metadata DELETE rewrote published history " +
          "in place); restart the feed from a fresh checkpoint")
    // fold-generation detector: a VACUUM vector fold shifts EVERY later
    // positional index — detectable regardless of where in the log the
    // folded entries sat (the length guard above only sees shrink below
    // the consumed offset). Monotonic, so != means a fold happened.
    if (s.f >= 0L)
      require(AuditDeletes.foldedRows(path) == s.f,
        s"audit changeFeed: delete vectors at $path were folded (VACUUM " +
          "vector retention) after this feed checkpointed — positional " +
          "offsets no longer align; restart the feed from a fresh checkpoint")
    AuditCdf.partitionsFor(path,
      epochs.slice(s.e, en.e),
      batch.slice(s.b, en.b),
      AuditDeletes.entriesWithTs(path).slice(s.d.toInt, en.d.toInt),
      epochTs = AuditScan.epochTimestamps(path))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new AuditCdfReaderFactory(fullSchema)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final class AuditReaderFactory(writeSchema: StructType, required: StructType,
    rowCap: Long = Long.MaxValue)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def createReader(partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    partition match {
      case p: AuditBasePartition => return baseReader(p)
      case p: AuditDirPartition if p.baseFiles.nonEmpty =>
        // a compacted partition directory reads its live files THEN its
        // base files, all inside ONE InputPartition (KeyGrouped contract)
        val prefix = if (p.relDir.isEmpty) "" else p.relDir + "/"
        val live = createReader(p.copy(baseFiles = Nil))
        val bases = p.baseFiles.map(f => () => baseReader(AuditBasePartition(
          f, maxEpoch = p.baseMaxEpoch,
          epochOriginOnly = p.baseEpochOriginOnly,
          vectors = p.vectors, originTsCut = p.originTsCut,
          epochTs = p.epochTs, fileTs = p.fileTs,
          filePrefix = prefix)))
        return chainReaders((() => live) +: bases)
      case _ => ()
    }
    // (file paths, epoch, fixed vector for the single-file case,
    //  per-file vectors + `_file` prefix for the directory case;
    //  dir reads derive each file's `_epoch` from its name)
    val (files, epoch, fixedDeleted, dirVectors, filePrefix, deriveEpoch) =
      partition match {
        case p: AuditFilePartition =>
          (Seq(p.file), p.epoch, p.deleted.toSet,
            Map.empty[String, Set[Long]], "", false)
        case p: AuditDirPartition  =>
          (p.files, None, Set.empty[Long], p.vectors,
            if (p.relDir.isEmpty) "" else p.relDir + "/", true)
      }
    // map each required field to its write-schema index, or a negative
    // sentinel for the metadata columns (_epoch/_file/_pos);
    // `_orig_<col>` reads the same stored value as <col> (identity
    // originals for the delta-DML metadata projection)
    val srcIdx = required.fields.map {
      case f if f.name == "_epoch" => -1
      case f if f.name == "_file"  => -2
      case f if f.name == "_pos"   => -3
      case f if f.name.startsWith("_orig_") =>
        writeSchema.fieldIndex(f.name.stripPrefix("_orig_"))
      case f => writeSchema.fieldIndex(f.name)
    }
    val absent = AuditJson.absentFill(writeSchema)
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val fileIt = files.iterator
      private var lines: java.util.stream.Stream[String] = _
      private var it: java.util.Iterator[String] = java.util.Collections.emptyIterator()
      private var fileName: org.apache.spark.unsafe.types.UTF8String = _
      private var pos = -1L // line position within the current file
      private var deleted: Set[Long] = fixedDeleted
      private var curEpoch: Option[Long] = epoch
      private var row: InternalRow = _
      private def advanceFile(): Boolean =
        if (!fileIt.hasNext) false
        else {
          if (lines != null) lines.close()
          val p = java.nio.file.Paths.get(fileIt.next())
          val plain = p.getFileName.toString
          fileName = org.apache.spark.unsafe.types.UTF8String
            .fromString(filePrefix + plain)
          if (dirVectors.nonEmpty)
            deleted = dirVectors.getOrElse(plain, Set.empty)
          // dir reads: a partition dir mixes epoch and batch files, so
          // `_epoch` comes from the file name (part-e<epoch>-*.jsonl)
          if (deriveEpoch) curEpoch = AuditScan.epochOf(plain)
          pos = -1L
          lines = java.nio.file.Files.lines(p,
            java.nio.charset.StandardCharsets.UTF_8)
          it = lines.iterator()
          true
        }
      private var emitted = 0L // pushed LIMIT/TopN partition cap
      override def next(): Boolean = {
        if (emitted >= rowCap) return false
        emitted += 1
        var line: String = null
        do {
          while (!it.hasNext) if (!advanceFile()) return false
          line = it.next()
          pos += 1
          // blank lines are VACUUM-folded tombstones: physically dead
          // rows whose positions still count (surviving rows never shift)
        } while (deleted.contains(pos) || line.isEmpty)
        val full = AuditJson.parseLine(line, writeSchema, absent)
        val vals = new Array[Any](srcIdx.length)
        var i = 0
        while (i < srcIdx.length) {
          vals(i) = srcIdx(i) match {
            case -1 => curEpoch.map(Long.box).orNull
            case -2 => fileName
            case -3 => pos
            case s  =>
              if (full.isNullAt(s)) null
              else full.get(s, writeSchema(s).dataType)
          }
          i += 1
        }
        row = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(vals)
        true
      }
      override def get(): InternalRow = row
      override def close(): Unit = if (lines != null) lines.close()
    }
  }

  /** Sequential concatenation of readers (a compacted partition dir's
    * live files + its base files as ONE partition). Readers are created
    * lazily so at most one file stream is open at a time. */
  private def chainReaders(
      mk: Seq[() => org.apache.spark.sql.connector.read.PartitionReader[InternalRow]])
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val remaining = mk.iterator
      private var cur: org.apache.spark.sql.connector.read
        .PartitionReader[InternalRow] = _
      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            if (!remaining.hasNext) return false
            cur = remaining.next()()
          }
          if (cur.next()) return true
          cur.close(); cur = null
        }
        false
      }
      override def get(): InternalRow = cur.get()
      override def close(): Unit = if (cur != null) cur.close()
    }

  /** Reader over a base-checkpoint file: rows carry their origin
    * (`_oepoch`/`_ofile`/`_opos`) as trailing json fields. The metadata
    * columns surface the ORIGIN coordinates — the row id a row was first
    * committed under is its id forever, which is what keeps delete
    * vectors valid across any number of re-compactions. */
  private def baseReader(p: AuditBasePartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val baseSchema = AuditBase.baseSchema(writeSchema)
    val n = writeSchema.length // origin fields sit at n, n+1, n+2
    val srcIdx = required.fields.map {
      case f if f.name == "_epoch" => -1
      case f if f.name == "_file"  => -2
      case f if f.name == "_pos"   => -3
      case f if f.name.startsWith("_orig_") =>
        writeSchema.fieldIndex(f.name.stripPrefix("_orig_"))
      case f => writeSchema.fieldIndex(f.name)
    }
    // columns added AFTER compaction are absent from base lines too —
    // but never the trailing origin fields, which compaction always
    // materializes (keys absent mid-line parse correctly either way)
    val absent: Array[Any] = AuditJson.absentFill(writeSchema) match {
      case null => null
      case a    => a ++ Array[Any](null, null, null)
    }
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val lines = java.nio.file.Files.lines(
        java.nio.file.Paths.get(p.file), java.nio.charset.StandardCharsets.UTF_8)
      private val it = lines.iterator()
      private var row: InternalRow = _
      private var emitted = 0L // pushed LIMIT/TopN partition cap
      override def next(): Boolean = {
        if (emitted >= rowCap) return false
        emitted += 1
        while (it.hasNext) {
          val line = it.next()
          // blank lines are VACUUM-folded tombstones (base-origin vector
          // retention): physically dead rows, positions never shift
          if (line.isEmpty) { /* skip */ }
          else {
          val full = AuditJson.parseLine(line, baseSchema, absent)
          val oe: java.lang.Long =
            if (full.isNullAt(n)) null else Long.box(full.getLong(n))
          val of = full.getUTF8String(n + 1)
          val op = full.getLong(n + 2)
          def visibleAtCut(cut: Long): Boolean =
            if (oe != null) {
              if (oe <= p.expiredThrough) true
              else p.epochTs.get(oe).map(_ <= cut).getOrElse(
                throw new IllegalArgumentException(
                  s"audit TIMESTAMP AS OF: base row origin epoch $oe " +
                    "carries no commit time (pre-upgrade history) — " +
                    "refusing rather than silently excluding"))
            } else p.fileTs.get(of.toString).map(_ <= cut).getOrElse(
              throw new IllegalArgumentException(
                s"audit TIMESTAMP AS OF: base row origin file $of " +
                  "carries no commit time (pre-upgrade fold) — " +
                  "refusing rather than silently excluding"))
          val keep =
            p.epochFilter.forall(s => oe != null && s.contains(oe)) &&
              p.maxEpoch.forall(v => oe != null && oe <= v) &&
              (!p.epochOriginOnly || oe != null) &&
              p.originTsCut.forall(visibleAtCut) &&
              !p.vectors.get(of.toString).exists(_.contains(op))
          if (keep) {
            val vals = new Array[Any](srcIdx.length)
            var i = 0
            while (i < srcIdx.length) {
              vals(i) = srcIdx(i) match {
                case -1 => oe
                case -2 =>
                  if (p.filePrefix.isEmpty) of
                  else org.apache.spark.unsafe.types.UTF8String
                    .fromString(p.filePrefix + of.toString)
                case -3 => op
                case s  =>
                  if (full.isNullAt(s)) null
                  else full.get(s, writeSchema(s).dataType)
              }
              i += 1
            }
            row = new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(vals)
            return true
          }
          }
        }
        false
      }
      override def get(): InternalRow = row
      override def close(): Unit = lines.close()
    }
  }
}

/** DELTA-granular row-level operations ([[org.apache.spark.sql.connector
  * .write.SupportsDelta]]) on BOTH layouts: UPDATE / MERGE /
  * fallback-DELETE write ONLY the changed rows. An unpartitioned table is
  * the zero-level layout — its one directory is the table root (relDir
  * `""`). The scan's row id is `(_file, _pos)`, unique table-wide: `_file`
  * is dir-qualified (`col=token/part-….jsonl`) on a partitioned table and
  * a plain name on a zero-level one. Spark's WriteDelta plan calls
  * `delete`/`update`/`insert` per matched row, and commit publishes the
  * replacement/new rows as ordinary per-directory OCC txn appends (a row
  * routes by its — possibly NEW — partition value, so an UPDATE can move
  * a row across partitions) plus one per-directory delete-vector entry per
  * removed row id. No committed file is ever rewritten, so an UPDATE of
  * 10 rows costs ~10 rows at any table size, `VERSION AS OF` keeps
  * resolving pre-DML epochs, and the change feed emits true update/delete
  * events. */
final class AuditDeltaOperation(path: String, schema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    partLevels: Seq[AuditPartition.Level],
    nameMap: Map[String, String] = Map.empty,
    genSpecs: Option[GeneratedWrite.Specs] = None,
    lockedIdCols: Seq[String] = Nil)
    extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {
  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new AuditScanBuilder(path, schema, None, partLevels,
      nameMap = nameMap, keepPartCols = true)
  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"),
      org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))
  // GENERATED ALWAYS identity columns cannot ride rowId (row-id attrs
  // must be non-nullable) — instead each one's ORIGINAL stored value
  // rides the metadata projection as `_orig_<col>` (metadata columns are
  // preserved-on-update by default, so the `meta` row the delta writer
  // receives carries pre-assignment values even when the UPDATE assigns
  // the column). FillingDeltaWriterFactory compares and rejects.
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    lockedIdCols.toArray.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions
        .column("_orig_" + c))
  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite = {
        val storage = AuditNameMap.toStorage(info.schema(), nameMap)
        // a pure DELETE writes no rows: its write schema is EMPTY, so a
        // partitioned table has no partition columns to route by (and no
        // insert); a zero-level table routes everything to the root
        val routable = partLevels.forall(l =>
          storage.fieldNames.contains(l.col))
        new AuditDeltaWrite(path, storage, partLevels, routable,
          genSpecs.filter(_.fieldTypes.length == storage.length))
      }
    }
}

final class AuditDeltaWrite(path: String, schema: StructType,
    partLevels: Seq[AuditPartition.Level], routable: Boolean,
    genSpecs: Option[GeneratedWrite.Specs] = None)
    extends org.apache.spark.sql.connector.write.DeltaWrite {
  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = {
    val inner = new AuditDeltaBatchWrite(path, schema, partLevels, routable)
    genSpecs.fold(inner: org.apache.spark.sql.connector.write.DeltaBatchWrite) {
      s =>
        // MERGE-inserted rows need identity values: reserve one commit
        // block here on the driver, exactly like the INSERT path
        val idBase =
          if (s.ids.nonEmpty) GeneratedWrite.reserveBlock(path) else 0L
        new GeneratedWrite.FillingDeltaBatchWrite(inner, s, idBase,
          GeneratedWrite.Reserver(path))
    }
  }
}

final case class AuditDeltaCommitMessage(
    // inserted rows: (partition relDir, staged name, rows, column stats)
    entries: Seq[(String, String, Long, AuditStats.FileStats)],
    // deleted row ids: (file, pos) — dir-qualified on a partitioned table
    deletes: Seq[(String, Long)])
  extends WriterCommitMessage

final class AuditDeltaWriterFactory(path: String, schema: StructType,
    partLevels: Seq[AuditPartition.Level], routable: Boolean,
    stageSub: String)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new AuditDeltaWriter(path, schema, partLevels, routable,
      partitionId, taskId, stageSub)
}

/** Per-task delta writer: inserts stage through the one routing
  * [[AuditDataWriter]] (one staged file per partition relDir; a
  * zero-level table has the one relDir `""`); deleted row ids buffer as
  * (file, pos) pairs in the commit message (metadata-sized: one pair per
  * changed row, not per table row). */
final class AuditDeltaWriter(path: String, schema: StructType,
    partLevels: Seq[AuditPartition.Level], routable: Boolean,
    partitionId: Int, taskId: Long, stageSub: String)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  private val inserts = new AuditDataWriter(path, schema, partLevels,
    partitionId, taskId, stageSub = stageSub)
  private val deletes = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    deletes += ((id.getUTF8String(0).toString, id.getLong(1)))

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def insert(row: InternalRow): Unit = {
    require(routable,
      "audit partitioned delta: insert without the partition columns in " +
        "the write schema")
    inserts.write(row)
  }

  override def commit(): WriterCommitMessage =
    AuditDeltaCommitMessage(inserts.commit().entries, deletes.toSeq)

  override def abort(): Unit = inserts.abort()

  override def close(): Unit = ()
}

/** Delta commit: per touched directory (the root alone on a zero-level
  * table), publish the inserted rows as an ordinary OCC txn append
  * (`_TXN` put-if-absent — DML may race concurrent appends) and append
  * the directory's delete-vector entries. Two metadata appends per
  * directory, zero data file rewrites. Inserts publish BEFORE deletes: a
  * crash in between duplicates the updated rows rather than losing them. */
final class AuditDeltaBatchWrite(path: String, schema: StructType,
    partLevels: Seq[AuditPartition.Level], routable: Boolean)
    extends org.apache.spark.sql.connector.write.DeltaBatchWrite {
  // commit-unique staging subdir: DML is single-writer vs other DML but
  // is ALLOWED to race OCC appends, so its end-of-commit cleanup must
  // only touch its own staged files
  private val stageSub = "d-" + java.util.UUID.randomUUID.toString.take(12)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new AuditDeltaWriterFactory(path, schema, partLevels, routable, stageSub)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    // DML is single-writer vs other maintenance: the `_MAINT_LOCK` lease
    // ENFORCES it — a racing OPTIMIZE/VACUUM/DML is rejected loudly
    AuditMaintLock.withLease(path, "delta-dml") { commitLocked(messages) }

  private def commitLocked(messages: Array[WriterCommitMessage]): Unit = {
    AuditMaintLock.verifyCurrent(path, "delta DML publish")
    val dir = java.nio.file.Paths.get(path)
    val stage = dir.resolve("_staging").resolve(stageSub)
    val msgs = messages.toSeq.map(_.asInstanceOf[AuditDeltaCommitMessage])
    val insertGroups = msgs.flatMap(_.entries).groupBy(_._1).toSeq.sortBy(_._1)
    // deletes: split a dir-qualified row id back into (dir, plain file);
    // a zero-level table's ids are plain names in the root
    val deleteGroups = msgs.flatMap(_.deletes).map { case (rel, pos) =>
      if (partLevels.isEmpty) ("", (rel, pos))
      else {
        val cut = rel.lastIndexOf('/')
        require(cut > 0, s"audit partitioned delta: row id file $rel is " +
          "not dir-qualified — scan/write contract violation")
        (rel.substring(0, cut), (rel.substring(cut + 1), pos))
      }
    }.groupBy(_._1).toSeq.sortBy(_._1)
    // ONE commit timestamp for the whole DML statement (all directories,
    // inserts AND delete vectors): a travel instant sees the statement's
    // effects appear together or not at all. CLAIMED through the root
    // sequencer — unique table-wide, so a concurrent OCC append in ANY
    // directory (touched or not) can never tie it, even inside one
    // millisecond; the CDC max+1 checkpoint is exactly-once across the
    // race. The floor still covers the root epoch log and every touched
    // directory (pre-sequencer history included).
    val touched = (insertGroups.map(_._1) ++ deleteGroups.map(_._1)).distinct
    val commitMs = AuditSeq.next(path, math.max(System.currentTimeMillis(),
      (AuditScan.epochTimestamps(path).values.foldLeft(-1L)(math.max) +:
        touched.map(d => AuditBase.maxVisibleTs(dir.resolve(d).toString)))
        .max + 1L))
    // inserts: per-directory OCC txn append, same as the batch writer;
    // commitTxn may bump a dir PAST commitMs if an append raced in —
    // that dir's vectors take the bumped stamp so the dir stays
    // internally consistent
    val dirTs = insertGroups.map { case (relDir, entries) =>
      relDir -> AuditBatchWrite.publishTxn(path, stage, relDir, entries,
        commitMs)
    }.toMap
    deleteGroups.foreach { case (dirName, pairs) =>
      AuditDeletes.append(dir.resolve(dirName).toString, pairs.map(_._2),
        ts = Some(dirTs.getOrElse(dirName, commitMs)))
    }
    deleteTree(stage)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteTree(
      java.nio.file.Paths.get(path).resolve("_staging").resolve(stageSub))
}

/** COLUMN NAME MAPPING (RENAME/DROP without data rewrite). The jsonl
  * payload is keyed by each column's STORAGE name — the name it had when
  * first added — which never changes; the catalog schema carries the
  * CURRENT names plus a current→storage map. A rename is a pure metadata
  * edit (O(1) vs table size, the Iceberg/Delta-name-mapping posture);
  * reads and writes translate at the table boundary, and everything
  * below (readers, writers, stats, delete evaluation) speaks storage
  * names. Spark-facing schemas (Table.schema, Scan.readSchema) keep
  * current names; rows are positional, so only name LOOKUPS translate. */
private[sources] object AuditNameMap {
  import org.apache.spark.sql.sources._

  /** `_COLMAP`: the current→storage map REPLICATED INTO THE DATA DIR by
    * the catalog whenever it changes, so the PATH-BASED surface (spark
    * .read.format(...).option("path", ...), including change-feed reads
    * over a catalog table's directory) translates renamed columns without
    * access to the catalog metadata file. Absent file = empty map; plain
    * path tables (never renamed) are unaffected. */
  private val ColMapEntryRe = """"((?:[^"\\]|\\.)*)":"((?:[^"\\]|\\.)*)"""".r

  private def unesc(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  def writeColMapFile(dataDir: java.nio.file.Path,
      m: Map[String, String]): Unit = {
    val f = dataDir.resolve("_COLMAP")
    if (m.isEmpty) { java.nio.file.Files.deleteIfExists(f); return }
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = m.toSeq.sorted
      .map { case (c, st) => s""""${esc(c)}":"${esc(st)}"""" }
      .mkString("{", ",", "}")
    // metadata whole-file replace — the `replace` commit primitive
    // (single-writer: only the catalog's ALTER path rewrites _COLMAP)
    CommitPrimitives.io.replace(f, body.getBytes("UTF-8"))
  }

  def readColMapFile(path: String): Map[String, String] = {
    val f = java.nio.file.Paths.get(path).resolve("_COLMAP")
    if (!java.nio.file.Files.exists(f)) return Map.empty
    val body = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    ColMapEntryRe.findAllMatchIn(body)
      .map(m => (unesc(m.group(1)), unesc(m.group(2)))).toMap
  }

  /** Rename schema fields current→storage (identity for unmapped). */
  def toStorage(schema: StructType, m: Map[String, String]): StructType =
    if (m.isEmpty) schema
    else StructType(schema.fields.map(f => f.copy(name = m.getOrElse(f.name, f.name))))

  /** Rename every attribute reference inside a V1 filter tree. */
  def mapFilter(f: Filter, m: Map[String, String]): Filter = {
    if (m.isEmpty) return f
    def c(n: String) = m.getOrElse(n, n)
    f match {
      case EqualTo(a, v)            => EqualTo(c(a), v)
      case EqualNullSafe(a, v)      => EqualNullSafe(c(a), v)
      case GreaterThan(a, v)        => GreaterThan(c(a), v)
      case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(c(a), v)
      case LessThan(a, v)           => LessThan(c(a), v)
      case LessThanOrEqual(a, v)    => LessThanOrEqual(c(a), v)
      case In(a, vs)                => In(c(a), vs)
      case IsNull(a)                => IsNull(c(a))
      case IsNotNull(a)             => IsNotNull(c(a))
      case StringStartsWith(a, v)   => StringStartsWith(c(a), v)
      case StringEndsWith(a, v)     => StringEndsWith(c(a), v)
      case StringContains(a, v)     => StringContains(c(a), v)
      case And(l, r)                => And(mapFilter(l, m), mapFilter(r, m))
      case Or(l, r)                 => Or(mapFilter(l, m), mapFilter(r, m))
      case Not(x)                   => Not(mapFilter(x, m))
      case other                    => other // AlwaysTrue/AlwaysFalse
    }
  }
}

/** STRICT V2-Predicate → V1-Filter conversion for destructive paths.
  * Unlike Spark's default bridge, any node this cannot represent EXACTLY
  * yields None for the whole predicate — never a weakened or partial
  * filter. Scan pushdown can afford lossy conversion (the engine
  * re-evaluates the original expression post-scan); a metadata DELETE
  * cannot (the filter IS the operation). */
private[sources] object AuditV2Filters {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse, AlwaysTrue, And => V2And, Not => V2Not, Or => V2Or, Predicate => V2Predicate}
  import org.apache.spark.sql.sources._

  private def column(e: V2Expr): Option[String] = e match {
    case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames()(0))
    case _ => None
  }

  /** Catalyst-internal literal → external Scala value (UTF8String →
    * String etc.), the representation the V1 Filter API carries. */
  private def literal(e: V2Expr): Option[Any] = e match {
    case l: V2Literal[_] =>
      Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .convertToScala(l.value, l.dataType))
    case _ => None
  }

  def toV1(p: V2Predicate): Option[Filter] = p match {
    case _: AlwaysTrue  => Some(org.apache.spark.sql.sources.AlwaysTrue)
    case _: AlwaysFalse => Some(org.apache.spark.sql.sources.AlwaysFalse)
    case and: V2And =>
      for (l <- toV1(and.left()); r <- toV1(and.right())) yield And(l, r)
    case or: V2Or =>
      for (l <- toV1(or.left()); r <- toV1(or.right())) yield Or(l, r)
    case not: V2Not => toV1(not.child()).map(Not)
    case _ =>
      val kids = p.children()
      def binary(mk: (String, Any) => Filter,
          flip: (String, Any) => Filter): Option[Filter] =
        if (kids.length != 2) None
        else (column(kids(0)), literal(kids(1)),
            column(kids(1)), literal(kids(0))) match {
          case (Some(c), Some(v), _, _) => Some(mk(c, v))
          case (_, _, Some(c), Some(v)) => Some(flip(c, v))
          case _ => None
        }
      p.name() match {
        case "="   => binary(EqualTo, EqualTo)
        case "<=>" => binary(EqualNullSafe, EqualNullSafe)
        case "<>"  => binary((c, v) => Not(EqualTo(c, v)),
                             (c, v) => Not(EqualTo(c, v)))
        case ">"   => binary(GreaterThan, LessThan)
        case ">="  => binary(GreaterThanOrEqual, LessThanOrEqual)
        case "<"   => binary(LessThan, GreaterThan)
        case "<="  => binary(LessThanOrEqual, GreaterThanOrEqual)
        case "IS_NULL" if kids.length == 1 => column(kids(0)).map(IsNull)
        case "IS_NOT_NULL" if kids.length == 1 => column(kids(0)).map(IsNotNull)
        case "STARTS_WITH" if kids.length == 2 =>
          for (c <- column(kids(0)); v <- literal(kids(1))
               if v.isInstanceOf[String])
            yield StringStartsWith(c, v.asInstanceOf[String])
        case "IN" if kids.length >= 2 =>
          val vs = kids.tail.map(literal)
          for (c <- column(kids(0)) if vs.forall(_.isDefined))
            yield In(c, vs.map(_.get).toArray)
        case _ => None
      }
  }
}

private[sources] object AuditDelete {
  import org.apache.spark.sql.sources._

  /** Above this, deletes route to the distributed row-level rewrite. */
  val MaxDriverRewriteRows: Long = 10L * 1000 * 1000

  /** Total committed rows, straight from the manifests (no data read). */
  def tableRows(path: String,
      partLevels: Seq[AuditPartition.Level] = Nil): Long = {
    if (partLevels.nonEmpty)
      return AuditPartition.listDirs(path, partLevels)
        .map { case (_, d) => AuditPartition.manifestEntries(d).map(_._2).sum }.sum
    // `,"ts":millis` is optional: pre-round-14 logs carry no commit time.
    // (Anchoring on the full epoch-line shape, not a bare `"rows":N}`
    // suffix, keeps streamed rows counted after the ts field was added —
    // otherwise the ≤10M-row driver-rewrite guard silently under-counts.)
    AuditBase.readManifest(path).collect { case e if !e.folded => e.rows }.sum +
      AuditScan.epochRowsByEpoch(path).values.sum
  }

  def supported(schema: StructType, f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In |
         _: IsNull | _: IsNotNull =>
      f.references.length == 1 && schema.fieldNames.contains(f.references.head)
    case And(l, r) => supported(schema, l) && supported(schema, r)
    case Or(l, r)  => supported(schema, l) && supported(schema, r)
    case Not(x)    => supported(schema, x)
    // TRUNCATE TABLE / unconditional deletes arrive as AlwaysTrue
    case _: AlwaysTrue | _: AlwaysFalse => true
    case _         => false
  }

  /** SQL 3VL: None = unknown (null operand). A row is deleted only when
    * the whole conjunction is Some(true). */
  private def eval(f: Filter, v: String => Any): Option[Boolean] = {
    def cmp(c: String, x: Any)(op: Int => Boolean): Option[Boolean] =
      Option(v(c)).map {
        case l: Long   => op(java.lang.Long.compare(l, x.asInstanceOf[Number].longValue))
        case i: Int    => op(java.lang.Long.compare(i.toLong, x.asInstanceOf[Number].longValue))
        case d: Double => op(java.lang.Double.compare(d, x.asInstanceOf[Number].doubleValue))
        case b: Boolean => op(java.lang.Boolean.compare(b, x.asInstanceOf[Boolean]))
        // Spark orders strings by UTF-8 binary (code-point) comparison;
        // java.lang.String.compareTo is UTF-16 code-unit order, which
        // disagrees for supplementary chars vs U+E000..U+FFFF — a silent
        // divergence between what a WHERE clause selects and what this
        // path would delete. Compare exactly as Spark does.
        case s: String => op(
          org.apache.spark.unsafe.types.UTF8String.fromString(s).compareTo(
            org.apache.spark.unsafe.types.UTF8String.fromString(x.toString)))
        case other => throw new UnsupportedOperationException(s"delete cmp on $other")
      }
    f match {
      case EqualTo(c, x)            => cmp(c, x)(_ == 0)
      case GreaterThan(c, x)        => cmp(c, x)(_ > 0)
      case GreaterThanOrEqual(c, x) => cmp(c, x)(_ >= 0)
      case LessThan(c, x)           => cmp(c, x)(_ < 0)
      case LessThanOrEqual(c, x)    => cmp(c, x)(_ <= 0)
      case In(c, xs)                =>
        if (v(c) == null) None
        else {
          val nonNull = xs.filter(_ != null)
          if (nonNull.exists(x => cmp(c, x)(_ == 0).contains(true))) Some(true)
          // SQL IN with a null in the list: no match → UNKNOWN, not false
          else if (nonNull.length != xs.length) None
          else Some(false)
        }
      case IsNull(c)    => Some(v(c) == null)
      case IsNotNull(c) => Some(v(c) != null)
      case And(l, r) => (eval(l, v), eval(r, v)) match {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), Some(true))            => Some(true)
        case _                                   => None
      }
      case Or(l, r) => (eval(l, v), eval(r, v)) match {
        case (Some(true), _) | (_, Some(true)) => Some(true)
        case (Some(false), Some(false))        => Some(false)
        case _                                 => None
      }
      case Not(x) => eval(x, v).map(!_)
      case _: AlwaysTrue  => Some(true)
      case _: AlwaysFalse => Some(false)
      case other => throw new UnsupportedOperationException(s"delete filter $other")
    }
  }

  def deleteWhere(path: String, schema: StructType, filters: Array[Filter],
      partLevels: Seq[AuditPartition.Level] = Nil): Unit =
    // maintenance single-writer rule, ENFORCED by the `_MAINT_LOCK` lease
    AuditMaintLock.withLease(path, "metadata-delete") {
      deleteWhereLocked(path, schema, filters, partLevels)
    }

  private def deleteWhereLocked(path: String, schema: StructType,
      filters: Array[Filter],
      partLevels: Seq[AuditPartition.Level]): Unit = {
    val dir = java.nio.file.Paths.get(path)
    // fold OCC txn appends in before any in-place file rewrite or
    // manifest read-modify-write (appends may race DML freely)
    if (partLevels.isEmpty) AuditBase.consolidate(path)
    // compacted table: canDeleteWhere routed predicate deletes to the
    // delta path, but TRUNCATE TABLE reaches here directly — clear the
    // base checkpoint and every log wholesale
    if (partLevels.isEmpty && AuditBase.read(path).isDefined) {
      require(filters.forall(_.isInstanceOf[AlwaysTrue]),
        "audit: retroactive metadata DELETE on a compacted (OPTIMIZEd) " +
          "table is unsupported — predicate deletes take the delta path")
      AuditBase.clearLeaf(path)
      return
    }
    // TRUNCATE reaches this path DIRECTLY (TruncatableTable.truncateTable
    // does not consult canDeleteWhere), so delete vectors may exist here:
    // fold them into the rewrite — a compacted file keeps neither
    // filter-matched nor vector-deleted rows — then clear the vector file,
    // since compaction shifted every surviving position.
    val rootVectors = AuditDeletes.read(path)
    // rows predating an ADD COLUMN ... DEFAULT evaluate the delete
    // predicate against their existence default, matching the read path
    val absent = AuditJson.absentFill(schema)
    def keep(line: String): Boolean = {
      val row = AuditJson.parseLine(line, schema, absent)
      val byName: String => Any = { name =>
        val i = schema.fieldIndex(name)
        if (row.isNullAt(i)) null
        else schema(i).dataType match {
          case org.apache.spark.sql.types.StringType => row.getUTF8String(i).toString
          case org.apache.spark.sql.types.BooleanType => row.getBoolean(i)
          case org.apache.spark.sql.types.DoubleType => row.getDouble(i)
          // parseLine boxes Int for IntegerType — a blind getLong would CCE
          case org.apache.spark.sql.types.IntegerType => row.getInt(i)
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType => row.getLong(i)
          case other => throw new UnsupportedOperationException(
            s"audit delete: unsupported column type $other")
        }
      }
      // delete iff the conjunction is definitely TRUE
      !filters.forall(f => eval(f, byName).contains(true))
    }
    // bounds are recomputed per rewritten file so the zone maps stay
    // EXACT through the metadata delete — which is what licenses the
    // MIN/MAX metadata pushdown to keep claiming afterwards
    val newStats = scala.collection.mutable.Map
      .empty[String, AuditStats.FileStats]
    def rewrite(file: java.nio.file.Path,
        vectors: Map[String, Set[Long]] = rootVectors): Long = {
      val gone = vectors.getOrElse(file.getFileName.toString, Set.empty)
      val lines = java.nio.file.Files.readAllLines(file,
        java.nio.charset.StandardCharsets.UTF_8).asScala
      val kept = lines.zipWithIndex.collect {
        // blank lines are VACUUM-folded tombstones (already dead)
        case (l, pos) if l.nonEmpty && !gone.contains(pos.toLong) && keep(l) => l
      }
      val acc = new AuditStats.Acc(schema)
      kept.foreach(l => acc.update(AuditJson.parseLine(l, schema)))
      newStats(file.getFileName.toString) = acc.result
      val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp,
        kept.map(_ + "\n").mkString.getBytes("UTF-8"))
      CommitPrimitives.io.publishData(tmp, file, replaceExisting = true)
      kept.size.toLong
    }
    // partitioned table: rewrite inside each partition dir, refresh its
    // own manifest (per-partition metadata stays exact through deletes)
    if (partLevels.nonEmpty) {
      AuditPartition.listDirs(path, partLevels).foreach { case (_, pdir) =>
        newStats.clear() // per-DIR stats: file names repeat across dirs
        // DML is single-writer vs maintenance but may race OCC appends:
        // fold live txns in before rewriting files + manifest in place
        AuditBase.consolidate(pdir.toString)
        // compacted dir (per-dir base checkpoint): only TRUNCATE reaches
        // the partitioned in-place path (canDeleteWhere routes predicate
        // deletes to the delta path) — the base and every folded
        // original die wholesale; purged bytes must not linger anywhere
        val dirBase = AuditBase.read(pdir.toString)
        if (dirBase.isDefined || AuditBase.readManifest(pdir.toString)
            .exists(_.folded)) {
          require(filters.forall(
            _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]),
            "audit: retroactive metadata DELETE on a compacted " +
              "partition is unsupported — predicate deletes take the " +
              "delta path")
          dirBase.foreach(_.files.foreach { case (f, _) =>
            java.nio.file.Files.deleteIfExists(pdir.resolve(f))
          })
          AuditBase.readManifest(pdir.toString).foreach { e =>
            if (e.folded)
              java.nio.file.Files.deleteIfExists(pdir.resolve(e.file))
          }
          java.nio.file.Files.deleteIfExists(pdir.resolve("_BASE"))
        }
        // fold the directory's outstanding delete vectors (partitioned
        // delta DML) into the rewrite, then clear them — compaction
        // shifted every surviving position, same as the unpartitioned path
        val dirVectors = AuditDeletes.read(pdir.toString)
        val updated = AuditPartition.manifestEntries(pdir)
          .map { case (f, _) => (f, rewrite(pdir.resolve(f), dirVectors)) }
        AuditPartition.writeManifest(pdir, updated)
        AuditDeletes.clear(pdir.toString)
        AuditStats.retain(pdir.toString, f => !newStats.contains(f))
        AuditStats.append(pdir.toString, newStats.toSeq)
      }
      return
    }
    // batch manifest: rewrite files, refresh per-file counts — via
    // readManifest so the optional commit ts survives (the rewrite
    // refreshes ROWS; it must not move a file's vintage on the
    // TIMESTAMP AS OF axis). The caller consolidated txns already.
    val manifestFile = dir.resolve("_MANIFEST")
    if (java.nio.file.Files.exists(manifestFile)) {
      val entries = AuditBase.readManifest(path).filterNot(_.folded)
      val updated = entries.map(e =>
        e.copy(rows = rewrite(dir.resolve(e.file))))
      AuditBase.writeManifest(path, updated)
      // preserves the OCC txn floor (atomic tmp+move)
    }
    // epoch files: rewrite, refresh per-epoch row totals in _EPOCHS
    val epochsFile = dir.resolve("_EPOCHS")
    // capture the optional commit ts so the rewrite preserves it (it is
    // the TIMESTAMP AS OF axis — refreshing rows must not move time)
    val epochRe =
      """\{"epoch":(-?\d+),"files":(\d+),"rows":\d+((?:,"ts":\d+)?)\}""".r
    if (java.nio.file.Files.exists(epochsFile)) {
      val partRe = """part-e(-?\d+)-\d+\.jsonl""".r
      val byEpoch = {
        val listing = java.nio.file.Files.list(dir)
        try listing.iterator().asScala.map(_.getFileName.toString).collect {
          case f @ partRe(e) => (e.toLong, f)
        }.toSeq.groupBy(_._1)
        finally listing.close()
      }
      val newLines = java.nio.file.Files.readAllLines(epochsFile).asScala.map {
        case epochRe(e, nf, ts) =>
          val rows = byEpoch.getOrElse(e.toLong, Seq.empty)
            .map { case (_, f) => rewrite(dir.resolve(f)) }.sum
          s"""{"epoch":$e,"files":$nf,"rows":$rows$ts}"""
        case other => other
      }
      CommitPrimitives.io.replace(epochsFile,
        newLines.map(_ + "\n").mkString.getBytes("UTF-8"))
    }
    AuditStats.retain(path, f => !newStats.contains(f))
    AuditStats.append(path, newStats.toSeq)
    AuditDeletes.clear(path) // folded into the rewrite above
  }
}

/** Minimal parser for the sink's OWN jsonl output — fields arrive in
  * schema order with the writer's restricted type set (long/int/double/
  * boolean/string/timestamp-as-µs-long), so this is a linear scan, not a
  * general JSON parser. Timestamps parse straight into the long micros
  * InternalRow representation. */
private[sources] object AuditJson {
  /** Existence-default fill values for fields ABSENT from a line (rows
    * written before the field's ADD COLUMN ... DEFAULT): InternalRow-
    * representation values per field, or null when the schema carries no
    * existence defaults (the common case — zero overhead). An explicitly
    * stored `"f":null` stays null; only ABSENCE fills the default. */
  def absentFill(schema: StructType): Array[Any] =
    if (org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .hasExistenceDefaultValues(schema))
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .existenceDefaultValues(schema).asInstanceOf[Array[Any]]
    else null

  def parseLine(line: String, schema: StructType,
      absent: Array[Any] = null): InternalRow = {
    def fillAbsent(f: Int): Any = if (absent == null) null else absent(f)
    val vals = new Array[Any](schema.length)
    var i = 0 // char cursor
    def expect(c: Char): Unit = {
      require(i < line.length && line.charAt(i) == c,
        s"audit jsonl: expected '$c' at $i in $line")
      i += 1
    }
    expect('{')
    var f = 0
    while (f < schema.length) {
      // schema evolution: a line written under an OLDER schema ends early —
      // every remaining (added) column reads its existence default (null
      // without one)
      if (i < line.length && line.charAt(i) == '}') {
        while (f < schema.length) { vals(f) = fillAbsent(f); f += 1 }
      } else {
      if (f > 0) expect(',')
      expect('"')
      var nameEnd = line.indexOf('"', i)
      // NAME-MAPPING vintages: a line written before a (forced) DROP
      // carries the dropped column's storage key — keys of SURVIVING
      // columns always appear in schema order (order never changes; adds
      // append), so an unexpected key is a dropped vintage's and its
      // value is skipped. A '}' mid-skip means every remaining schema
      // field post-dates this line (null-fill via the loop head).
      var key = line.substring(i, nameEnd)
      while (key != schema(f).name) {
        // a key that IS a schema field can only legally arrive AHEAD of
        // the cursor: the line predates columns added between f and that
        // key (e.g. a base line's origin fields after a post-compaction
        // ADD COLUMN) — the skipped-over fields are absent and fill
        // their existence default. A key BEHIND the cursor is corruption
        // (the sink writes in schema order) — stay loud.
        val g = schema.fieldNames.indexOf(key)
        if (g >= 0) {
          require(g > f,
            s"audit jsonl: field ${schema(f).name} out of order in $line")
          while (f < g) { vals(f) = fillAbsent(f); f += 1 }
        }
        if (key == schema(f).name) {
          // jumped to the key's position — parse its value normally
        } else {
        i = nameEnd + 1
        require(i < line.length && line.charAt(i) == ':',
          s"audit jsonl: expected ':' at $i in $line")
        i += 1
        if (i < line.length && line.charAt(i) == '"') { // string value
          i += 1
          var done = false
          while (!done) {
            line.charAt(i) match {
              case '"'  => done = true; i += 1
              case '\\' => i += 2
              case _    => i += 1
            }
          }
        } else { // null / number / boolean
          var e = i
          while (e < line.length &&
            { val c = line.charAt(e); c != ',' && c != '}' }) e += 1
          i = e
        }
        if (i < line.length && line.charAt(i) == '}') {
          // dropped key was the last: remaining schema fields post-date
          // this line — existence default (null without one)
          var g = f
          while (g < schema.length) { vals(g) = fillAbsent(g); g += 1 }
          return new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(vals)
        }
        expect(',')
        expect('"')
        nameEnd = line.indexOf('"', i)
        key = line.substring(i, nameEnd)
        }
      }
      i = nameEnd + 1
      expect(':')
      if (line.startsWith("null", i)) { vals(f) = null; i += 4 }
      else schema(f).dataType match {
        case StringType =>
          expect('"')
          // fast path: no escapes before the closing quote → slice once
          var q = i
          while (q < line.length &&
            { val c = line.charAt(q); c != '"' && c != '\\' }) q += 1
          if (q < line.length && line.charAt(q) == '"') {
            vals(f) = org.apache.spark.unsafe.types.UTF8String
              .fromString(line.substring(i, q))
            i = q + 1
          } else {
          val sb = new java.lang.StringBuilder(math.min(line.length - i, 64))
          sb.append(line, i, q)
          i = q
          var done = false
          while (!done) {
            line.charAt(i) match {
              case '"'  => done = true; i += 1
              case '\\' =>
                line.charAt(i + 1) match {
                  case '\\' => sb.append('\\'); i += 2
                  case '"'  => sb.append('"'); i += 2
                  case 'n'  => sb.append('\n'); i += 2
                  case 'r'  => sb.append('\r'); i += 2
                  case 't'  => sb.append('\t'); i += 2
                  case 'u'  =>
                    sb.append(Integer.parseInt(line.substring(i + 2, i + 6), 16).toChar)
                    i += 6
                  case other => throw new IllegalArgumentException(
                    s"audit jsonl: unknown escape \\$other")
                }
              case c => sb.append(c); i += 1
            }
          }
          vals(f) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
          }
        case BooleanType =>
          if (line.startsWith("true", i)) { vals(f) = true; i += 4 }
          else { vals(f) = false; i += 5 }
        case dt =>
          var e = i
          while (e < line.length &&
            { val c = line.charAt(e); c != ',' && c != '}' }) e += 1
          val end = e
          vals(f) = dt match {
            // parse straight off the line (JDK 9+ CharSequence overloads) —
            // no per-token substring allocation
            case LongType | TimestampType | TimestampNTZType =>
              java.lang.Long.parseLong(line, i, end, 10)
            case IntegerType => java.lang.Integer.parseInt(line, i, end, 10)
            case DoubleType  => line.substring(i, end).toDouble
            case other => throw new UnsupportedOperationException(
              s"graft-audit-sink read: unsupported column type $other")
          }
          i = end
      }
      f += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
  }
}

final class AuditWriteBuilder(path: String, schema: StructType,
    options: Map[String, String] = Map.empty,
    partLevels: Seq[AuditPartition.Level] = Nil,
    queryId: Option[String] = None,
    genSpecs: Option[GeneratedWrite.Specs] = None)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  /** Write-side layout control — the small-files lever at scale:
    * `targetFileCount` asks Spark to repartition to exactly N tasks (= N
    * staged files, since each task writes one), `clusterBy`/`sortBy`
    * request a hash-clustered distribution and an in-file sort order.
    * Spark inserts the exchange/sort; the sink stays a dumb row consumer —
    * declaring requirements beats re-shuffling inside the writer, the
    * `RequiresDistributionAndOrdering` contract file formats rely on so a
    * 1000-task job does not publish 1000 tiny files. Defaults leave the
    * write unconstrained (the row-level rewrite path passes no options). */
  override def build(): Write = new Write
      with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

    /** Opt-in per-column bloom filters (see [[AuditBloom]]) — a write
      * option, like the other layout controls. */
    private val bloomCols: Set[String] = options.get("bloomcols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

    override def requiredDistribution(): Distribution =
      options.get("clusterby") match {
        case Some(c) => Distributions.clustered(Array(Expressions.column(c)))
        case None    => Distributions.unspecified()
      }
    override def requiredNumPartitions(): Int =
      options.get("targetfilecount").map(_.toInt).getOrElse(0)
    override def requiredOrdering(): Array[SortOrder] =
      options.get("sortby").toArray.map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))

    override def toBatch: BatchWrite =
      if (options.get("basecommit").exists(_.toBoolean)) {
        if (partLevels.nonEmpty) {
          // PER-DIRECTORY base checkpoints (partitioned OPTIMIZE): the
          // pinned input set is driver-side state handed through a token
          // (a serialized per-dir file map would be O(files) in an
          // option string; the commit runs on the driver either way)
          val pin = AuditPartBasePin.take(options("partbasetoken"))
          new AuditPartitionedBaseWrite(path, schema, partLevels,
            pin.throughEpoch, pin.snapTs, pin.pinned, bloomCols,
            pin.selected)
        } else
        // OPTIMIZE's base-checkpoint publish — see AuditBase
        new AuditBaseBatchWrite(path, schema,
          options("basethroughepoch").toLong, options.get("basesortby"),
          options.get("basefoldfiles")
            .map(_.split(",").filter(_.nonEmpty).toSet),
          bloomCols,
          snapTs = options.get("basesnapts").map(_.toLong).filter(_ > 0L))
      } else {
        val inner = new AuditBatchWrite(path, schema, truncateFirst,
          partLevels, bloomCols)
        genSpecs match {
          case Some(s) =>
            // identity commits reserve their k-block HERE (driver, once)
            val base =
              if (s.ids.nonEmpty) GeneratedWrite.reserveBlock(path) else 0L
            new GeneratedWrite.FillingBatchWrite(inner, s, base,
              GeneratedWrite.Reserver(path))
          case None => inner
        }
      }
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      // GENERATED columns are deterministic per-row — epoch replays
      // recompute identical values, so the idempotent-epoch contract
      // holds and streaming writes compute them like any batch write.
      // IDENTITY columns allocate lazily task-side (one block per
      // (task, epoch) that actually writes identity rows); a replayed
      // epoch reserves fresh blocks but atomically replaces its files,
      // so uniqueness holds across the whole history.
      val inner: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        if (partLevels.nonEmpty)
          new AuditPartitionedStreamingWrite(path, schema, partLevels,
            queryId, bloomCols)
        else new AuditStreamingWrite(path, schema, bloomCols, queryId)
      genSpecs match {
        case Some(s) => new GeneratedWrite.FillingStreamingWrite(inner, s,
          GeneratedWrite.Reserver(path))
        case None    => inner
      }
    }
  }
}


/** SINGLE-STREAMING-WRITER lease. Two concurrent streaming queries on one
  * audit table would be catastrophic — epochs are the replay/idempotency
  * key AND the time-travel axis, and both queries number their epochs
  * from their own checkpoints, so writer B's epoch-0 replay would
  * retract writer A's epoch-0 files. The format therefore REJECTS a
  * second live streaming query loudly (the Delta/Iceberg streaming-sink
  * contract) via a lease file: `_STREAM_LOCK` holds (queryId, renewed-at)
  * and every epoch commit renews it. The SAME query — identified by
  * Spark's checkpoint-stable queryId — re-acquires freely across
  * restarts; a different query may claim only after the lease expires
  * (a crashed writer never bricks the table). Batch OCC appends and DML
  * are unaffected — they commit through `_TXN`, not `_EPOCHS`. */
private[sources] object AuditStreamLock {
  /** Lease duration; override via -Dgraft.audit.streamLeaseMs for tests. */
  def leaseMs: Long =
    sys.props.get("graft.audit.streamLeaseMs").map(_.toLong).getOrElse(60000L)

  private val LockRe = """\{"query":"([^"]*)","ts":(\d+)\}""".r

  /** The query id of a LIVE (unexpired) streaming-writer lease, if any —
    * operations that rewrite the epoch axis (RESTORE) must refuse while
    * a streaming writer could commit concurrently. */
  def liveWriter(path: String): Option[String] = {
    val lock = java.nio.file.Paths.get(path).resolve("_STREAM_LOCK")
    if (!java.nio.file.Files.exists(lock)) None
    else new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
      .trim match {
        case LockRe(q, ts)
            if System.currentTimeMillis() - ts.toLong < leaseMs => Some(q)
        case _ => None
      }
  }

  def acquire(path: String, queryId: String): Unit = {
    val dir = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(dir)
    val lock = dir.resolve("_STREAM_LOCK")
    val now = System.currentTimeMillis()
    def conflict(): Unit =
      if (java.nio.file.Files.exists(lock))
        new String(java.nio.file.Files.readAllBytes(lock), "UTF-8").trim match {
          case LockRe(q, ts)
              if q != queryId && now - ts.toLong < leaseMs =>
            throw new IllegalStateException(
              s"audit: streaming query $queryId cannot write to $path — " +
                s"streaming query $q holds the writer lease (renewed " +
                s"${now - ts.toLong} ms ago; expires after ${leaseMs} ms). " +
                "One live streaming writer per audit table: epochs are the " +
                "idempotent-replay and time-travel axis and cannot be " +
                "shared. Stop the other query (or wait out its lease).")
          case _ => () // ours, expired, or unreadable debris — claimable
        }
    conflict()
    val line = s"""{"query":"$queryId","ts":$now}"""
    if (java.nio.file.Files.exists(lock)) {
      // renew (ours) or steal (expired): atomic replace
      CommitPrimitives.io.replace(lock, line.getBytes("UTF-8"))
    } else {
      val tmp = lock.resolveSibling(
        "_STREAM_LOCK.tmp-" + java.util.UUID.randomUUID.toString.take(8))
      java.nio.file.Files.write(tmp, line.getBytes("UTF-8"))
      try {
        CommitPrimitives.io.linkIfAbsent(lock, tmp)
        java.nio.file.Files.delete(tmp)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.delete(tmp)
          conflict() // someone claimed first — loud if it was not us
      }
    }
    // COMPARE-AND-SWAP verify: two claimants racing one EXPIRED lease can
    // both pass conflict() and both publish — the replace is last-wins,
    // so without this check the loser would publish one epoch (possibly
    // colliding epoch numbers with the winner) before its NEXT commit
    // noticed. Re-read and require OUR claim actually won; the loser
    // throws BEFORE publishing anything.
    val won = java.nio.file.Files.exists(lock) &&
      (new String(java.nio.file.Files.readAllBytes(lock), "UTF-8").trim match {
        case LockRe(q, _) => q == queryId
        case _            => false
      })
    if (!won)
      throw new IllegalStateException(
        s"audit: streaming query $queryId lost the writer-lease race at " +
          s"$path — another query claimed the expired lease concurrently; " +
          "this epoch is NOT published")
  }
}

/** SINGLE-MAINTENANCE-WRITER lease: OPTIMIZE / VACUUM / row-level DML /
  * the retroactive metadata DELETE read-modify-write manifests, rewrite
  * files, or fold logs — operations the format documents as
  * single-writer. This lease ENFORCES the rule the way `_STREAM_LOCK`
  * enforces the single-streaming-writer rule: each operation acquires
  * `_MAINT_LOCK` for its duration, a second concurrent maintenance
  * operation is rejected LOUDLY (instead of silently corrupting a
  * manifest), and a crashed operation's lease expires so the table is
  * never bricked. Multi-writer OCC APPENDS are unaffected — they commit
  * through `_TXN` put-if-absent and never take this lease. */
private[sources] object AuditMaintLock {
  /** Lease duration; override via -Dgraft.audit.maintLeaseMs for tests. */
  def leaseMs: Long =
    sys.props.get("graft.audit.maintLeaseMs").map(_.toLong).getOrElse(60000L)

  private val LockRe = """\{"op":"([^"]*)","ts":(\d+)\}""".r

  // ---- heartbeat: a LIVE operation keeps its lease fresh ---------------
  // An OPTIMIZE/VACUUM/DML commit running longer than the TTL — the norm
  // at 100 TB — must not silently lose its lease mid-operation. Each held
  // lease schedules a renewal at leaseMs/3 on one shared daemon thread;
  // renewal rewrites the lock's ts iff the claim is still ours, and
  // records an irreversible LOSS otherwise, so every later
  // [[verifyHeld]] (called before each publish step) fails loudly.
  private lazy val scheduler = {
    val s = new java.util.concurrent.ScheduledThreadPoolExecutor(1,
      (r: Runnable) => {
        val t = new Thread(r, "audit-maint-lease-heartbeat")
        t.setDaemon(true); t
      })
    s.setRemoveOnCancelPolicy(true); s
  }
  private val beats = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ScheduledFuture[_]]()
  private val lostLeases =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def beatKey(path: String, opId: String) = path + "|" + opId

  private def readLock(lock: java.nio.file.Path): Option[(String, Long)] =
    if (!java.nio.file.Files.exists(lock)) None
    else new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
      .trim match {
        case LockRe(op, ts) => Some((op, ts.toLong))
        case _              => None
      }

  private def writeLockLine(target: java.nio.file.Path, opId: String,
      replace: Boolean): Unit = {
    val line = s"""{"op":"$opId","ts":${System.currentTimeMillis()}}"""
    if (!replace) {
      // exclusive create via hard link — single winner among racers
      val tmp = target.resolveSibling(target.getFileName.toString +
        ".tmp-" + java.util.UUID.randomUUID.toString.take(8))
      java.nio.file.Files.write(tmp, line.getBytes("UTF-8"))
      try CommitPrimitives.io.linkIfAbsent(target, tmp)
      finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      CommitPrimitives.io.replace(target, line.getBytes("UTF-8"))
    }
  }

  // ---- sidecar heartbeat files ------------------------------------------
  // Renewal must never remove or rewrite the live claim: the previous
  // rename-away-inspect-recreate CAS opened a window where `_MAINT_LOCK`
  // was ABSENT on every heartbeat, and acquire() treats absence as
  // immediately claimable — a concurrent op could steal the lease from a
  // healthy holder (theft is supposed to require expiry). Instead each
  // holder renews a PRIVATE sidecar (`_MAINT_HB.<opId>` — no other
  // process ever writes that name), and freshness = max(claim ts,
  // sidecar ts) for the opId the lock currently names. The claim file is
  // touched exactly twice in a lease's life: exclusive-create at acquire,
  // delete at release/retire. A holder that stalls past expiry can stomp
  // nothing — its renewal writes only its own sidecar, which stops
  // mattering the instant the lock names a thief.
  private def hbFile(path: String, opId: String): java.nio.file.Path =
    java.nio.file.Paths.get(path).resolve(
      "_MAINT_HB." + opId.replaceAll("[^A-Za-z0-9._-]", "_"))

  private def hbTs(path: String, opId: String): Long = {
    val f = hbFile(path, opId)
    try new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim.toLong
    catch { case scala.util.control.NonFatal(_) => -1L }
  }

  /** Claim freshness: the newest of the claim line's ts and the holder's
    * sidecar renewals. */
  private def freshness(path: String, opId: String, claimTs: Long): Long =
    math.max(claimTs, hbTs(path, opId))

  private def renewSidecar(path: String, opId: String): Unit =
    CommitPrimitives.io.replace(hbFile(path, opId),
      System.currentTimeMillis().toString.getBytes("UTF-8"))

  private def startHeartbeat(path: String, opId: String): Unit = {
    val period = math.max(leaseMs / 3, 10L)
    val key = beatKey(path, opId)
    val lock = java.nio.file.Paths.get(path).resolve("_MAINT_LOCK")
    val task: Runnable = () => AuditMaintLock.synchronized {
      if (beats.containsKey(key)) { // not released/crashed meanwhile
        def lost(what: String): Unit = {
          lostLeases.put(key, s"lease renewal found $what instead of " +
            s"own claim $opId")
          Option(beats.remove(key)).foreach(_.cancel(false))
        }
        readLock(lock) match {
          case Some((op, _)) if op == opId =>
            // still ours — refresh the private sidecar; the claim file is
            // never absent, so no acquire() can race into a gap
            try renewSidecar(path, opId)
            catch { case _: java.io.IOException => () } // retry next beat
          case other => lost(other.toString) // a thief's claim — untouched
        }
      }
    }
    beats.put(key, scheduler.scheduleAtFixedRate(task, period, period,
      java.util.concurrent.TimeUnit.MILLISECONDS))
  }

  /** Loud ownership re-check, called immediately BEFORE each publish
    * step of a leased operation: if the lease was ever lost (heartbeat
    * detected a thief, or the claim on disk is not ours NOW), the
    * operation must abort before making any metadata visible. */
  def verifyHeld(path: String, opId: String, step: String): Unit = {
    val key = beatKey(path, opId)
    val lostReason = lostLeases.get(key)
    if (lostReason != null)
      throw new IllegalStateException(
        s"audit: maintenance operation $opId lost its lease at $path " +
          s"before '$step' ($lostReason) — aborting WITHOUT publishing; " +
          "another operation may own the table now")
    val lock = java.nio.file.Paths.get(path).resolve("_MAINT_LOCK")
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(path)))
      readLock(lock) match {
        case Some((op, _)) if op == opId => ()
        case other =>
          lostLeases.put(key, s"verify at '$step' found $other")
          throw new IllegalStateException(
            s"audit: maintenance operation $opId no longer holds the " +
              s"lease at $path before '$step' (found $other) — aborting " +
              "WITHOUT publishing")
      }
  }

  // leases held by THIS thread, innermost first — lets deep publish
  // helpers re-verify ownership without threading the op id through
  private val held = new ThreadLocal[List[(String, String)]] {
    override def initialValue: List[(String, String)] = Nil
  }

  /** Re-verify the current thread's lease on `path` — or on an ancestor
    * of it: maintenance leases live on the TABLE root while some publish
    * steps operate on a partition leaf. No-op when this thread holds
    * none (a code path reachable outside any lease). */
  def verifyCurrent(path: String, step: String): Unit =
    held.get.find { case (p, _) =>
      path == p || path.startsWith(p + java.io.File.separator)
    }.foreach { case (p, id) => verifyHeld(p, id, step) }

  /** TEST HOOK: drop the heartbeat without releasing — simulates a
    * crashed/frozen holder so expiry-steal paths are drivable. */
  private[sources] def simulateCrash(path: String, opId: String): Unit =
    AuditMaintLock.synchronized {
      Option(beats.remove(beatKey(path, opId))).foreach(_.cancel(false))
    }

  /** Acquire the lease for one maintenance operation; returns the unique
    * op id to pass to [[release]]. Loud when another live op holds it.
    * A heartbeat keeps the claim fresh until release, so only a DEAD
    * holder's lease ever expires. */
  def acquire(path: String, opDesc: String): String = {
    val dir = java.nio.file.Paths.get(path)
    val opIdEarly = opDesc + "-" + java.util.UUID.randomUUID.toString.take(8)
    // NEVER create the table directory here: a missing data dir is load-
    // bearing state (it marks a displaced `.old.` tree as the only copy
    // after a crashed swap — see the VACUUM orphan rules), and the
    // operation itself will fail loudly on the missing dir anyway
    if (!java.nio.file.Files.isDirectory(dir)) return opIdEarly
    val lock = dir.resolve("_MAINT_LOCK")
    val now = System.currentTimeMillis()
    val opId = opIdEarly
    def refuse(op: String, ts: Long): Nothing =
      throw new IllegalStateException(
        s"audit: maintenance operation $opDesc cannot start at $path — " +
          s"operation $op holds the maintenance lease (renewed " +
          s"${now - ts} ms ago; expires after ${leaseMs} ms without " +
          "renewal). OPTIMIZE/VACUUM/DML are single-writer on this " +
          "table; wait for the other operation (or its lease) to end.")
    def lostRace(): Nothing =
      throw new IllegalStateException(
        s"audit: maintenance operation $opDesc lost the lease race at " +
          s"$path — another operation claimed the expired lease " +
          "concurrently; nothing was modified")
    // retire an EXPIRED existing claim, single-winner and TOCTOU-safe:
    // the expired lock is atomically MOVED to a private tombstone (only
    // one claimant's move can succeed) and the tombstone's content is
    // compared to what we read — if a fresh claim slid in between the
    // read and the move, we restore it and lose, instead of stomping it
    // the way a blind REPLACE_EXISTING move would.
    val raw =
      if (!java.nio.file.Files.exists(lock)) None
      else Some(new String(java.nio.file.Files.readAllBytes(lock), "UTF-8")
        .trim)
    raw.foreach { r =>
      r match {
        // freshness = claim ts OR the holder's sidecar renewals — a live
        // holder heartbeats the sidecar, never the claim file itself
        case LockRe(op, ts)
          if now - freshness(path, op, ts.toLong) < leaseMs =>
          refuse(op, freshness(path, op, ts.toLong))
        case _ => () // expired or unreadable debris — retire it
      }
      val tomb = lock.resolveSibling(
        "_MAINT_LOCK.retired-" + java.util.UUID.randomUUID.toString.take(8))
      try CommitPrimitives.io.renameClaim(lock, tomb)
      catch { case _: java.nio.file.NoSuchFileException => () } // retired by another
      if (java.nio.file.Files.exists(tomb)) {
        val t = new String(java.nio.file.Files.readAllBytes(tomb), "UTF-8")
          .trim
        if (t != r) {
          // we displaced a FRESH claim that replaced the expired one
          // after our read — put it back and lose
          try {
            CommitPrimitives.io.linkIfAbsent(lock, tomb)
            java.nio.file.Files.delete(tomb)
          } catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              // a third claimant already linked; the displaced owner's
              // own verify-before-publish will detect the loss loudly
              java.nio.file.Files.delete(tomb)
          }
          lostRace()
        }
        java.nio.file.Files.delete(tomb) // genuinely expired — retired
        // the dead holder's sidecar is debris now
        r match {
          case LockRe(op, _) =>
            java.nio.file.Files.deleteIfExists(hbFile(path, op))
          case _ => ()
        }
      }
    }
    // fresh EXCLUSIVE claim: hard-link put-if-absent, single winner
    try writeLockLine(lock, opId, replace = false)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        readLock(lock) match {
          case Some((op, ts))
            if now - freshness(path, op, ts) < leaseMs =>
            refuse(op, freshness(path, op, ts))
          case _ => lostRace()
        }
    }
    startHeartbeat(path, opId)
    opId
  }

  /** Release the lease iff still held by `opId` (an expired-and-stolen
    * lease belongs to the thief — never delete someone else's claim). */
  def release(path: String, opId: String): Unit =
    AuditMaintLock.synchronized {
      // stop the heartbeat FIRST so a racing renewal can't resurrect a
      // deleted lock (renewal and release serialize on this monitor)
      Option(beats.remove(beatKey(path, opId))).foreach(_.cancel(false))
      lostLeases.remove(beatKey(path, opId))
      val lock = java.nio.file.Paths.get(path).resolve("_MAINT_LOCK")
      readLock(lock) match {
        case Some((op, _)) if op == opId =>
          // sidecar FIRST: if we crash between the two deletes the claim
          // still names us and the next acquire retires both together
          try java.nio.file.Files.deleteIfExists(hbFile(path, opId))
          catch { case _: java.io.IOException => () }
          java.nio.file.Files.deleteIfExists(lock)
        case _ =>
          // a thief owns the claim; our sidecar is pure debris
          try java.nio.file.Files.deleteIfExists(hbFile(path, opId))
          catch { case _: java.io.IOException => () }
      }
    }

  def withLease[T](path: String, opDesc: String)(body: => T): T = {
    val id = acquire(path, opDesc)
    held.set((path, id) :: held.get)
    try body
    finally {
      held.set(held.get.filterNot(e => e._1 == path && e._2 == id))
      release(path, id)
    }
  }
}

/** Streaming half of the sink: the SAME staged-file discipline per EPOCH —
  * `commit(epochId, messages)` publishes `part-e<epoch>-NNNNN.jsonl` files
  * plus a per-epoch manifest line appended to `_EPOCHS`, so each
  * micro-batch lands atomically and exactly once per epoch (a replayed
  * epoch overwrites its own files idempotently — the DSv2 streaming-sink
  * contract). */
final class AuditStreamingWrite(path: String, schema: StructType,
    bloomCols: Set[String] = Set.empty, queryId: Option[String] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  // Writer-unique staging subdir (epochs within one query are serialized,
  // so one subdir per StreamingWrite suffices): concurrent OCC batch
  // appenders must never see this writer's staged files in THEIR cleanup,
  // nor vice versa.
  private[sources] val stageSub = "s-" + java.util.UUID.randomUUID.toString.take(12)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new AuditWriterFactory(path, schema, Nil, bloomCols, stageSub)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // one live streaming writer per table: acquire/renew the lease (test
    // harnesses constructing this class directly carry no queryId)
    queryId.foreach(AuditStreamLock.acquire(path, _))
    val dir = java.nio.file.Paths.get(path)
    val stage = dir.resolve("_staging").resolve(stageSub)
    // FOLDED-EPOCH replay defense (the unpartitioned twin of the
    // partitioned commit's): a crash between sink commit and checkpoint
    // commit followed by an OPTIMIZE folds this epoch into the base —
    // republishing would delete the retained original files (a running
    // tail resolves them) and RE-STAMP the epoch, silently moving the
    // folded base origins on the travel axis. The base is this epoch's
    // publication; just drop the staged files.
    val entries = AuditCommitMessage.entries(messages).sortBy(_._2)
    val baseThrough = AuditBase.read(path)
      .map(_.throughEpoch).getOrElse(Long.MinValue)
    if (epochId <= baseThrough) {
      entries.foreach { case (_, staged, _, _) =>
        java.nio.file.Files.deleteIfExists(stage.resolve(staged))
      }
      return
    }
    // Idempotent under epoch replay: a re-attempted epoch first clears its
    // OWN prior part files (an earlier attempt may have published MORE
    // files than this one — REPLACE_EXISTING alone would leave stale
    // higher-index files behind), then republishes the full set.
    val epochPrefix = s"part-e$epochId-"
    if (java.nio.file.Files.isDirectory(dir)) {
      val listing = java.nio.file.Files.list(dir)
      try listing.iterator().asScala
        .filter(_.getFileName.toString.startsWith(epochPrefix))
        .foreach(java.nio.file.Files.delete)
      finally listing.close()
    }
    entries.zipWithIndex.foreach { case ((_, staged, _, _), i) =>
      CommitPrimitives.io.publishData(stage.resolve(staged),
        dir.resolve(f"part-e$epochId%d-$i%05d.jsonl"),
        replaceExisting = true)
    }
    // zone maps: a replayed epoch first drops its own prior stats lines
    AuditStats.retain(path, !_.startsWith(epochPrefix))
    AuditStats.append(path, entries.zipWithIndex.map {
      case ((_, _, _, st), i) => (f"part-e$epochId%d-$i%05d.jsonl", st)
    })
    // _EPOCHS keeps exactly one line per epoch: drop any line a previous
    // attempt of this epoch wrote, then append the authoritative one.
    val epochsFile = dir.resolve("_EPOCHS")
    // strictly monotonic epoch stamps, claimed through the root
    // sequencer (single streaming writer; the floor also covers
    // batch/DML vintages in the same directory, and the sequencer makes
    // a same-ms racing OCC append take a DIFFERENT stamp)
    val epochTs = AuditSeq.next(path, math.max(System.currentTimeMillis(),
      AuditBase.maxVisibleTs(path) + 1L))
    val thisLine = s"""{"epoch":$epochId,"files":${entries.size},""" +
      s""""rows":${entries.map(_._3).sum},"ts":$epochTs}"""
    val kept =
      if (java.nio.file.Files.exists(epochsFile))
        java.nio.file.Files.readAllLines(epochsFile).asScala.toSeq
          .filterNot(_.startsWith(s"""{"epoch":$epochId,"""))
      else Seq.empty
    CommitPrimitives.io.replace(epochsFile,
      (kept :+ thisLine).map(_ + "\n").mkString.getBytes("UTF-8"))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    AuditStreamingWrite.dropStaged(path, stageSub, messages)
}

private[sources] object AuditStreamingWrite {
  /** A failed epoch attempt removes the staged files its tasks reported
    * — a later successful attempt re-stages under fresh attempt ids.
    * Only the reported files: the writer's staging subdir spans epochs. */
  def dropStaged(path: String, stageSub: String,
      messages: Array[WriterCommitMessage]): Unit = {
    val stage = java.nio.file.Paths.get(path).resolve("_staging").resolve(stageSub)
    AuditCommitMessage.entries(messages).foreach { case (_, staged, _, _) =>
      java.nio.file.Files.deleteIfExists(stage.resolve(staged))
    }
  }
}

/** Streaming ingestion into a PARTITIONED audit table: tasks route rows
  * into one staged file per partition value (the same Hive-style dynamic
  * routing the batch write uses), and each epoch commits atomically into
  * the partition directories — files named `part-e<epoch>-NNNNN.jsonl`,
  * every touched partition's `_MANIFEST` extended in one pass, plus one
  * table-level `_EPOCHS` line so a REPLAYED epoch first retracts its own
  * files (and manifest entries) from EVERY partition before republishing,
  * keeping exactly-once semantics per epoch. Partitioned BATCH reads stay
  * manifest-driven per directory (pruning, SPJ, and metadata counts all
  * keep working on a streamed table), and the table-level `_EPOCHS` log
  * doubles as the offset axis of the streaming TAIL
  * ([[AuditMicroBatchStream]]). */
final class AuditPartitionedStreamingWrite(path: String, schema: StructType,
    partLevels: Seq[AuditPartition.Level],
    queryId: Option[String] = None,
    bloomCols: Set[String] = Set.empty)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  // writer-unique staging subdir — see AuditStreamingWrite.stageSub
  private[sources] val stageSub = "sp-" + java.util.UUID.randomUUID.toString.take(12)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new AuditWriterFactory(path, schema, partLevels, bloomCols, stageSub)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    queryId.foreach(AuditStreamLock.acquire(path, _)) // one live writer
    val dir = java.nio.file.Paths.get(path)
    val stage = dir.resolve("_staging").resolve(stageSub)
    val epochPrefix = s"part-e$epochId-"
    // idempotent replay: retract this epoch's previous publication from
    // every partition (a replay may route to different partitions).
    // consolidate first: this path read-modify-writes the partition
    // manifest, and live OCC txn appends must fold in, not double-count
    // FULL entries, not the live (file, rows) projection: a rewrite
    // through the plain pair shape would silently DROP folded tombstones
    // (the per-dir base checkpoint's batch vintages — post-compaction
    // time travel dies) and live batch entries' commit stamps
    AuditPartition.listDirs(path, partLevels).foreach { case (_, pdir) =>
      AuditBase.consolidate(pdir.toString)
      val prior = AuditBase.readManifest(pdir.toString)
      val (mine, keep) = prior.partition(e =>
        !e.folded && e.file.startsWith(epochPrefix))
      if (mine.nonEmpty) {
        mine.foreach { e =>
          java.nio.file.Files.deleteIfExists(pdir.resolve(e.file))
        }
        AuditBase.writeManifest(pdir.toString, keep)
        AuditStats.retain(pdir.toString, !_.startsWith(epochPrefix))
      }
    }
    val byToken = AuditCommitMessage.entries(messages).groupBy(_._1)
    var files = 0
    var rows = 0L
    var foldedReplay = false
    byToken.toSeq.sortBy(_._1).foreach { case (relDir, entries) =>
      val pdir = dir.resolve(relDir)
      java.nio.file.Files.createDirectories(pdir)
      AuditBase.consolidate(pdir.toString) // RMW of the manifest below
      // FOLDED-EPOCH replay defense: a crash between this sink commit
      // and the streaming checkpoint commit, then a partitioned
      // OPTIMIZE, then a restart replays an epoch whose rows are
      // already folded into this directory's base checkpoint. The
      // retraction above correctly skipped the folded tombstones —
      // publishing fresh live entries here would double-count every
      // replayed row (base origins + live file). Drop the staged files:
      // the base IS this epoch's publication.
      val baseThrough = AuditBase.read(pdir.toString)
        .map(_.throughEpoch).getOrElse(Long.MinValue)
      if (epochId <= baseThrough) {
        foldedReplay = true
        entries.foreach { case (_, staged, _, _) =>
          java.nio.file.Files.deleteIfExists(stage.resolve(staged))
        }
      } else {
      val prior = AuditBase.readManifest(pdir.toString) // FULL entries
      val added = entries.sortBy(_._2).zipWithIndex.map {
        case ((_, staged, r, st), i) =>
          val name = f"part-e$epochId%d-$i%05d.jsonl"
          CommitPrimitives.io.publishData(stage.resolve(staged),
            pdir.resolve(name), replaceExisting = true)
          (name, r, st)
      }
      AuditBase.writeManifest(pdir.toString,
        prior ++ added.map { case (n, r, _) =>
          AuditBase.ManifestEntry(n, r, folded = false) })
      AuditStats.append(pdir.toString,
        added.map { case (n, _, st) => (n, st) })
      files += added.size
      rows += added.map(_._2).sum
      }
    }
    // the epoch log: one authoritative line per epoch (replay replaces
    // it). The stamp floor reads the ROOT logs only — scanning every
    // partition directory per epoch would be O(dirs) — and the root
    // SEQUENCER claim makes the stamp unique table-wide anyway: a
    // per-dir batch commit in the same millisecond claims a different
    // value by construction (the former documented residual, closed).
    val epochsFile = dir.resolve("_EPOCHS")
    // a replay fully absorbed by base checkpoints keeps the epoch's
    // ORIGINAL log line: the folded base rows resolve their travel
    // vintage through it, and re-stamping would silently move them on
    // the commit-time axis
    val priorTs = AuditScan.epochTimestamps(path).get(epochId)
    if (foldedReplay && files == 0 && priorTs.isDefined) return
    // PARTIALLY-folded replay (partition-filtered OPTIMIZE compacted
    // the epoch in some dirs while others republished live files above,
    // so files > 0): the folded dirs' base origins STILL resolve their
    // vintage through this epoch line — reuse the original stamp and
    // only refresh files/rows, or the fold would silently move them on
    // the commit-time travel axis
    val epochTs = priorTs.filter(_ => foldedReplay).getOrElse(
      AuditSeq.next(path, math.max(System.currentTimeMillis(),
        AuditScan.epochTimestamps(path).values.foldLeft(-1L)(math.max) + 1L)))
    val thisLine = s"""{"epoch":$epochId,"files":$files,"rows":$rows,""" +
      s""""ts":$epochTs}"""
    val kept =
      if (java.nio.file.Files.exists(epochsFile))
        java.nio.file.Files.readAllLines(epochsFile).asScala.toSeq
          .filterNot(_.startsWith(s"""{"epoch":$epochId,"""))
      else Seq.empty
    CommitPrimitives.io.replace(epochsFile,
      (kept :+ thisLine).map(_ + "\n").mkString.getBytes("UTF-8"))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    AuditStreamingWrite.dropStaged(path, stageSub, messages)
}

/** What one write task reports: one `(relDir, staged name, rows, column
  * stats)` entry per directory its rows routed to — the root `""` alone
  * on a zero-level table, no entry for a task that saw no row. */
final case class AuditCommitMessage(
    entries: Seq[(String, String, Long, AuditStats.FileStats)])
  extends WriterCommitMessage

private[sources] object AuditCommitMessage {
  /** Every entry of a commit's messages (tasks that never committed send
    * none). */
  def entries(messages: Array[WriterCommitMessage])
      : Seq[(String, String, Long, AuditStats.FileStats)] =
    messages.toSeq.flatMap {
      case m: AuditCommitMessage => m.entries
      case _                     => Seq.empty
    }
}

/** Per-file column statistics (`_STATS`): one json line per committed
  * file with min/max for every integral/timestamp column AND truncated
  * min/max for every string column — the zone map every columnar format
  * keeps in its footer, lifted to the table level so planning can SKIP
  * whole files against pushed range predicates without opening them.
  * Bounds are computed by the writer as rows stream through (free at
  * write time) and are SUPERSET-safe by construction: the metadata
  * DELETE rewrites rows in place, which only ever narrows a file's true
  * range, so a stale bound can admit an unnecessary file but never skip
  * a needed one. Files without a stats line are never skipped.
  *
  * String bounds follow the Iceberg truncate(16) convention: the lower
  * bound is the min's first 16 code points (a prefix is never greater in
  * binary order, so it stays a valid lower bound); the upper bound is the
  * max itself when short enough, else the SUCCESSOR of its 16-cp prefix
  * (last code point incremented — strictly above every string sharing the
  * prefix), or unbounded when no successor exists. Comparisons are
  * UTF8String binary order — Spark's string ordering — NOT
  * java.lang.String UTF-16 code-unit order, which diverges on
  * supplementary characters.
  *
  * Lines carry `"v":2` since string bounds landed; on v2 lines a string
  * column ABSENT from the map means the file holds no non-null value for
  * it (same all-null inference the integral columns always had). v1
  * lines predate string tracking, so absence there licenses nothing for
  * strings — only the integral inference. */
/** Per-file BLOOM FILTERS for equality skipping: min/max zone maps only
  * prune when the layout clusters the column (sorted, range-partitioned,
  * z-ordered); a point lookup on a HIGH-CARDINALITY column over an
  * unclustered layout overlaps every file's range. A small per-column
  * bloom (32768 bits = 4 KB, 5 probes — ~0.1% false-positive at ~2000
  * distinct values/file, ~3% at 5000; beyond that the filter saturates
  * and merely stops pruning, never lies) refutes `=`/`IN` probes
  * without opening the file, the
  * same per-column opt-in Delta and Parquet offer. Refutation is sound
  * under the in-place delete rewrite for the same reason bounds are:
  * rewrites only REMOVE rows, so a stale bloom is a superset — it can
  * admit an unnecessary file, never skip a needed one (the rewrite drops
  * the bloom rather than recomputing it, which only loses skipping). */
private[sources] object AuditBloom {
  val Bits = 32768
  val K = 5

  def bloomable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | StringType => true
    case _ => false
  }

  def newBits: Array[Byte] = new Array[Byte](Bits / 8)

  /** Two independent 32-bit hashes (double hashing spans the K probes). */
  def hashLong(v: Long): (Int, Int) = {
    // 64-bit avalanche (splitmix64 finalizer), halves as the two hashes
    var x = v
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x = x ^ (x >>> 31)
    ((x >>> 32).toInt, x.toInt)
  }

  def hashBytes(b: Array[Byte]): (Int, Int) =
    (scala.util.hashing.MurmurHash3.bytesHash(b, 0x9747b28c),
      scala.util.hashing.MurmurHash3.bytesHash(b, 0x1b873593))

  private def idx(h: (Int, Int), i: Int): Int =
    ((h._1 + i * h._2) & Int.MaxValue) % Bits

  def add(bits: Array[Byte], h: (Int, Int)): Unit = {
    var i = 0
    while (i < K) {
      val j = idx(h, i)
      bits(j >>> 3) = (bits(j >>> 3) | (1 << (j & 7))).toByte
      i += 1
    }
  }

  def mightContain(bits: Array[Byte], h: (Int, Int)): Boolean = {
    var i = 0
    while (i < K) {
      val j = idx(h, i)
      if ((bits(j >>> 3) & (1 << (j & 7))) == 0) return false
      i += 1
    }
    true
  }

  def encode(bits: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bits)
  def decode(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)
}

private[sources] object AuditStats {
  private val LineRe =
    """\{"file":"([^"]+)"(?:,"v":(\d+))?(?:,"blooms":\{([^}]*)\})?,"cols":\{(.*)\}\}""".r
  private val BloomColRe = """"([^"]+)":"([^"]+)"""".r

  /** Everything planning knows about one file's columns. `blooms` holds
    * base64-encoded [[AuditBloom]] bit arrays per opted-in column. */
  final case class FileStats(version: Int,
      ints: Map[String, (Long, Long)],
      strs: Map[String, (String, Option[String])],
      blooms: Map[String, String] = Map.empty)
  object FileStats { val empty: FileStats = FileStats(2, Map.empty, Map.empty) }

  def file(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path).resolve("_STATS")

  def statable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  def strStatable(dt: DataType): Boolean = dt == StringType

  val TruncLen = 16

  /** An upper bound strictly above every string starting with `p`: the
    * last incrementable code point bumped by one (None when every code
    * point is U+10FFFF — unbounded above). Code-point increment preserves
    * UTF-8 byte order, so the bound holds in UTF8String binary order. */
  def prefixSucc(p: String): Option[String] = {
    val cps = p.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
    if (i < 0) None
    else {
      var next = cps(i) + 1
      // never land in the surrogate gap (not a valid scalar value)
      if (next >= 0xD800 && next <= 0xDFFF) next = 0xE000
      val out = cps.take(i) :+ next
      Some(new String(out, 0, out.length))
    }
  }

  /** Upper bound for a file's string max under truncation: the max itself
    * when short enough (exact), else a successor of its prefix. */
  def truncUpper(s: String): Option[String] =
    if (s.codePointCount(0, s.length) <= TruncLen) Some(s)
    else prefixSucc(truncLower(s))

  def truncLower(s: String): String =
    if (s.codePointCount(0, s.length) <= TruncLen) s
    else new String(s.codePoints().limit(TruncLen.toLong).toArray, 0, TruncLen)

  private def binCmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Exact single-pass parser for the cols object — regexes cannot parse
    * escaped string bounds safely (an escaped quote still CONTAINS a raw
    * '"' char, so an int-shaped substring inside a bound would false-
    * match a pattern scan). */
  private def parseCols(s: String): (Map[String, (Long, Long)],
      Map[String, (String, Option[String])]) = {
    val ints = Map.newBuilder[String, (Long, Long)]
    val strs = Map.newBuilder[String, (String, Option[String])]
    var i = 0
    def expect(c: Char): Unit = {
      require(i < s.length && s.charAt(i) == c,
        s"audit _STATS: expected '$c' at $i in $s")
      i += 1
    }
    def str(): String = {
      expect('"')
      val sb = new java.lang.StringBuilder
      var done = false
      while (!done) s.charAt(i) match {
        case '"'  => done = true; i += 1
        case '\\' => s.charAt(i + 1) match {
          case '\\' => sb.append('\\'); i += 2
          case '"'  => sb.append('"'); i += 2
          case 'n'  => sb.append('\n'); i += 2
          case 'r'  => sb.append('\r'); i += 2
          case 't'  => sb.append('\t'); i += 2
          case 'u'  =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case other => throw new IllegalArgumentException(
            s"audit _STATS: unknown escape \\$other")
        }
        case c => sb.append(c); i += 1
      }
      sb.toString
    }
    def num(): Long = {
      val end0 = s.indexWhere(c => c == ',' || c == ']', i)
      val end = if (end0 < 0) s.length else end0
      val v = s.substring(i, end).toLong
      i = end
      v
    }
    while (i < s.length) {
      if (s.charAt(i) == ',') i += 1
      val name = str()
      expect(':')
      expect('[')
      if (i < s.length && s.charAt(i) == '"') {
        val lo = str()
        expect(',')
        val hi =
          if (s.startsWith("null", i)) { i += 4; None }
          else Some(str())
        strs += name -> (lo, hi)
      } else {
        val lo = num()
        expect(',')
        ints += name -> (lo, num())
      }
      expect(']')
    }
    (ints.result(), strs.result())
  }

  private def parseLines(lines: Seq[String]): Map[String, FileStats] =
    lines.collect {
      case LineRe(f, v, blooms, cols) =>
        val (ints, strs) = parseCols(cols)
        val bl =
          if (blooms == null) Map.empty[String, String]
          else BloomColRe.findAllMatchIn(blooms)
            .map(m => m.group(1) -> m.group(2)).toMap
        f -> FileStats(if (v == null) 1 else v.toInt, ints, strs, bl)
    }.toMap // last line wins for a replayed epoch file — exactly right

  def read(path: String): Map[String, FileStats] = {
    // OCC overlay: stats lines of unconsolidated txn commits live inside
    // their _TXN files; consolidation folds them into _STATS (duplicates
    // during the race are identical content — last-wins is idempotent)
    val txn = AuditBase.liveTxnStatsLines(path)
    val base =
      if (!java.nio.file.Files.exists(file(path))) Map.empty[String, FileStats]
      else parseLines(java.nio.file.Files.readAllLines(file(path)).asScala.toSeq)
    if (txn.isEmpty) base else base ++ parseLines(txn)
  }

  /** Append pre-rendered stats lines (txn consolidation). */
  def appendRaw(path: String, lines: Seq[String]): Unit =
    if (lines.nonEmpty)
      CommitPrimitives.io.appendBounded(file(path),
        lines.map(_ + "\n").mkString.getBytes("UTF-8"))

  def line(fileName: String, st: FileStats): String = {
    val esc = AuditRowJson.esc _
    val entries =
      st.ints.toSeq.map { case (c, (lo, hi)) =>
        (c, s""""${esc(c)}":[$lo,$hi]""")
      } ++ st.strs.toSeq.map { case (c, (lo, hi)) =>
        (c, s""""${esc(c)}":["${esc(lo)}",""" +
          hi.fold("null")(h => s""""${esc(h)}"""") + "]")
      }
    val blooms =
      if (st.blooms.isEmpty) ""
      else ""","blooms":{""" + st.blooms.toSeq.sorted.map {
        case (c, b64) => s""""${esc(c)}":"$b64""""
      }.mkString(",") + "}"
    s"""{"file":"$fileName","v":2$blooms,"cols":{""" +
      entries.sortBy(_._1).map(_._2).mkString(",") + "}}"
  }

  /** A line is written for EVERY committed file — an empty bounds map is
    * itself information: it says the file has no non-null value for any
    * statable column (it may be empty outright), which licenses skipping
    * it under every null-rejecting predicate on such a column. */
  def append(path: String, entries: Seq[(String, FileStats)]): Unit = {
    if (entries.isEmpty) return
    CommitPrimitives.io.appendBounded(file(path),
      entries.map { case (f, s) => line(f, s) + "\n" }.mkString.getBytes("UTF-8"))
  }

  /** Drop stats lines for files that no longer exist (compaction/vacuum
    * hygiene — stale lines are harmless but unbounded). */
  def retain(path: String, keep: String => Boolean): Unit =
    if (java.nio.file.Files.exists(file(path))) {
      // LATENT-BUG NOTE (fixed round 16): this match was `LineRe(f, _)` —
      // a 2-binding pattern against a 4-group regex NEVER matches in
      // Scala, so every retain() silently wiped the whole stats file.
      // Masked wherever the caller re-appended a full fresh set right
      // after (base commits, metadata DELETE); real damage on the paths
      // that retained a SUBSET (epoch replay, vacuum) — zone-map skipping
      // silently degraded to no-skipping (correctness-safe, perf loss).
      val kept = java.nio.file.Files.readAllLines(file(path)).asScala.filter {
        case LineRe(f, _, _, _) => keep(f)
        case _                  => false
      }
      CommitPrimitives.io.replace(file(path),
        kept.map(_ + "\n").mkString.getBytes("UTF-8"))
    }

  def clear(path: String): Unit =
    java.nio.file.Files.deleteIfExists(file(path))

  /** Streaming-row accumulator for the writers: min/max per statable
    * column (and truncated min/max per string column), updated as rows
    * pass — free at write time. */
  final class Acc(schema: StructType, bloomCols: Set[String] = Set.empty) {
    private val bIdx = schema.fields.zipWithIndex.filter { case (f, _) =>
      bloomCols.contains(f.name) && AuditBloom.bloomable(f.dataType)
    }
    private val bBits = bIdx.map(_ => AuditBloom.newBits)
    private val idx = schema.fields.zipWithIndex
      .filter { case (f, _) => statable(f.dataType) }
    private val lo = Array.fill(idx.length)(Long.MaxValue)
    private val hi = Array.fill(idx.length)(Long.MinValue)
    private val sIdx = schema.fields.zipWithIndex
      .filter { case (f, _) => strStatable(f.dataType) }
    private val sLo =
      new Array[org.apache.spark.unsafe.types.UTF8String](sIdx.length)
    private val sHi =
      new Array[org.apache.spark.unsafe.types.UTF8String](sIdx.length)
    def update(record: InternalRow): Unit = {
      var i = 0
      while (i < idx.length) {
        val (f, j) = idx(i)
        if (!record.isNullAt(j)) {
          val v = f.dataType match {
            case IntegerType => record.getInt(j).toLong
            case _           => record.getLong(j)
          }
          if (v < lo(i)) lo(i) = v
          if (v > hi(i)) hi(i) = v
        }
        i += 1
      }
      var k = 0
      while (k < sIdx.length) {
        val j = sIdx(k)._2
        if (!record.isNullAt(j)) {
          val v = record.getUTF8String(j)
          // clone: getUTF8String may expose a reused backing buffer
          if (sLo(k) == null || v.compareTo(sLo(k)) < 0) sLo(k) = v.clone()
          if (sHi(k) == null || v.compareTo(sHi(k)) > 0) sHi(k) = v.clone()
        }
        k += 1
      }
      var b = 0
      while (b < bIdx.length) {
        val (f, j) = bIdx(b)
        if (!record.isNullAt(j)) {
          val h = f.dataType match {
            case StringType  => AuditBloom.hashBytes(record.getUTF8String(j).getBytes)
            case IntegerType => AuditBloom.hashLong(record.getInt(j).toLong)
            case _           => AuditBloom.hashLong(record.getLong(j))
          }
          AuditBloom.add(bBits(b), h)
        }
        b += 1
      }
    }
    def result: FileStats = FileStats(2,
      idx.indices.filter(i => lo(i) <= hi(i)).map(i =>
        idx(i)._1.name -> (lo(i), hi(i))).toMap,
      sIdx.indices.filter(k => sLo(k) != null).map(k =>
        sIdx(k)._1.name ->
          (truncLower(sLo(k).toString), truncUpper(sHi(k).toString))).toMap,
      bIdx.indices.map(b =>
        bIdx(b)._1.name -> AuditBloom.encode(bBits(b))).toMap)
  }

  /** Can every row of a file with bounds `st` fail the pushed conjuncts?
    * Conservative 3-valued: unknown column/shape → cannot skip. A
    * STATABLE column absent from `st` means the file holds no non-null
    * value for it (possibly no rows at all — see [[append]]), so every
    * null-rejecting comparison on it is refuted; for STRING columns the
    * same inference needs a v2 line (v1 predates string tracking). String
    * bounds are truncated supersets — `lo <= min`, `hi >= max` (or
    * unbounded) — so every refutation below stays sound under
    * truncation. */
  def canSkip(st: FileStats,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      statableCols: Set[String], strCols: Set[String] = Set.empty): Boolean = {
    import org.apache.spark.sql.sources._
    def lit(v: Any): Option[Long] = v match {
      case l: Long              => Some(l)
      case l: java.lang.Long    => Some(l.longValue)
      case i: java.lang.Integer => Some(i.longValue)
      case _                    => None
    }
    def slit(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }
    // for a null-rejecting comparison on column c: Some(bounds) = compare,
    // None+statable = all-null → refuted, else unknown
    def bounds(c: String): Option[Option[(Long, Long)]] =
      st.ints.get(c) match {
        case Some(b)                    => Some(Some(b))
        case None if statableCols(c)    => Some(None)
        case None                       => None
      }
    def sbounds(c: String): Option[Option[(String, Option[String])]] =
      st.strs.get(c) match {
        case Some(b)                              => Some(Some(b))
        case None if strCols(c) && st.version >= 2 => Some(None)
        case None                                 => None
      }
    def cmp(a: String, b: String): Int = binCmp(a, b)
    // true = the file PROVABLY contains no string row matching pred(x)
    // where pred constrains x against the file's [lo, hi] envelope
    def sDisjoint(c: String, x: String,
        refute: (String, (String, Option[String])) => Boolean): Boolean =
      sbounds(c).exists {
        case Some(b) => refute(x, b)
        case None    => true // all-null refutes any null-rejecting pred
      }
    val sEq = (x: String, b: (String, Option[String])) =>
      cmp(x, b._1) < 0 || b._2.exists(h => cmp(x, h) > 0)
    // bloom refutation: a column's filter says the probe value was never
    // inserted — sound alongside bounds, each can independently refute
    def bloomRefutes(c: String, h: (Int, Int)): Boolean =
      st.blooms.get(c).exists(b64 =>
        !AuditBloom.mightContain(AuditBloom.decode(b64), h))
    def sEqRefuted(c: String, x: String): Boolean =
      sDisjoint(c, x, sEq) ||
        bloomRefutes(c, AuditBloom.hashBytes(
          org.apache.spark.unsafe.types.UTF8String.fromString(x).getBytes))
    def nEqRefuted(c: String, x: Long): Boolean =
      bounds(c).exists {
        case Some((lo, hi)) => x < lo || x > hi
        case None           => true
      } || bloomRefutes(c, AuditBloom.hashLong(x))
    // true = the file PROVABLY contains no matching row for this conjunct
    def disjoint(f: Filter): Boolean = f match {
      case EqualTo(c, v) if slit(v).isDefined => sEqRefuted(c, slit(v).get)
      case EqualTo(c, v) => lit(v).exists(nEqRefuted(c, _))
      case In(c, vs) if vs.nonEmpty && vs.forall(slit(_).isDefined) =>
        vs.forall(v => sEqRefuted(c, slit(v).get))
      case In(c, vs) =>
        val xs = vs.toSeq.map(lit)
        xs.nonEmpty && xs.forall(_.isDefined) &&
          xs.flatten.forall(nEqRefuted(c, _))
      case GreaterThan(c, v) if slit(v).isDefined =>
        sDisjoint(c, slit(v).get,
          (x, b) => b._2.exists(h => cmp(h, x) <= 0)) // max <= hi <= x
      case GreaterThan(c, v) => lit(v).isDefined && bounds(c).exists {
        case Some((_, hi)) => hi <= lit(v).get
        case None          => true
      }
      case GreaterThanOrEqual(c, v) if slit(v).isDefined =>
        sDisjoint(c, slit(v).get,
          (x, b) => b._2.exists(h => cmp(h, x) < 0))
      case GreaterThanOrEqual(c, v) => lit(v).isDefined && bounds(c).exists {
        case Some((_, hi)) => hi < lit(v).get
        case None          => true
      }
      case LessThan(c, v) if slit(v).isDefined =>
        sDisjoint(c, slit(v).get,
          (x, b) => cmp(b._1, x) >= 0) // min >= lo >= x
      case LessThan(c, v) => lit(v).isDefined && bounds(c).exists {
        case Some((lo, _)) => lo >= lit(v).get
        case None          => true
      }
      case LessThanOrEqual(c, v) if slit(v).isDefined =>
        sDisjoint(c, slit(v).get, (x, b) => cmp(b._1, x) > 0)
      case LessThanOrEqual(c, v) => lit(v).isDefined && bounds(c).exists {
        case Some((lo, _)) => lo > lit(v).get
        case None          => true
      }
      // matching rows all live in [prefix, successor(prefix)): skip when
      // the file envelope is entirely below or entirely above that range
      case StringStartsWith(c, p) =>
        sDisjoint(c, p, (x, b) =>
          b._2.exists(h => cmp(h, x) < 0) ||
            prefixSucc(x).exists(succ => cmp(b._1, succ) >= 0))
      // one provably-empty AND arm empties the conjunction
      case And(l, r) => disjoint(l) || disjoint(r)
      case Or(l, r)  => disjoint(l) && disjoint(r)
      case _         => false
    }
    filters.exists(disjoint)
  }
}

/** INSERT and INSERT OVERWRITE, for both layouts. Tasks route rows into
  * one staged file per directory ([[AuditDataWriter]]; a zero-level table
  * has the one relDir `""`, the root), and commit publishes each touched
  * directory as an OCC `_TXN` append under one statement stamp. An
  * overwrite first clears the table: a zero-level table's root leaf state
  * ([[AuditBase.clearLeaf]]), or a partitioned table's level-0
  * directories and the root epoch log. */
final class AuditBatchWrite(path: String, schema: StructType,
    truncateFirst: Boolean, partLevels: Seq[AuditPartition.Level],
    bloomCols: Set[String] = Set.empty) extends BatchWrite {
  // Commit-unique staging subdirectory: concurrent OCC appenders (and a
  // live streaming writer) each stage under `_staging/<sub>/`, so this
  // commit's final cleanup can never delete another in-flight commit's
  // staged files. The table-level `_staging` root is only reclaimed by
  // VACUUM clean_orphans (documented single-writer window).
  private val stageSub = "c-" + java.util.UUID.randomUUID.toString.take(12)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new AuditWriterFactory(path, schema, partLevels, bloomCols, stageSub)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val stage = java.nio.file.Paths.get(path).resolve("_staging").resolve(stageSub)
    if (truncateFirst) {
      if (partLevels.isEmpty) AuditBase.clearLeaf(path)
      else {
        // remove level-0 dirs whole: nested level dirs die with their parent
        AuditPartition.listDirs(path, partLevels.take(1))
          .foreach { case (_, d) => deleteTree(d) }
        // the table-level epoch log dies with the data it described
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(path).resolve("_EPOCHS"))
      }
    }
    val byDir = AuditCommitMessage.entries(messages).groupBy(_._1)
    if (byDir.nonEmpty) {
      // ONE statement stamp for all directories this INSERT routes to,
      // claimed through the root sequencer: a travel instant sees the
      // whole statement or none of it, and no same-ms commit anywhere in
      // the table can tie it (a racing append that bumps a directory past
      // the stamp forces that dir onto a fresh claim — see commitTxn)
      val stmtTs = AuditSeq.next(path, System.currentTimeMillis())
      byDir.toSeq.sortBy(_._1).foreach { case (relDir, entries) =>
        AuditBatchWrite.publishTxn(path, stage, relDir, entries, stmtTs)
      }
    }
    deleteTree(stage)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    deleteTree(
      java.nio.file.Paths.get(path).resolve("_staging").resolve(stageSub))
}

private[sources] object AuditBatchWrite {
  /** OCC APPEND of one directory's staged files: move them under
    * commit-unique names (no index to contend for), then publish the
    * commit as an immutable put-if-absent `_TXN` file, so concurrent
    * appenders never read-modify-write a `_MANIFEST` and no commit can
    * clobber another. Stats lines travel inside the txn file, atomic with
    * the entries. A crash between move and publish leaves unreferenced
    * .jsonl files that VACUUM clean_orphans reclaims. Returns the
    * effective commit stamp (`ts` unless a racing append bumped the dir
    * past it). */
  def publishTxn(root: String, stage: java.nio.file.Path, relDir: String,
      entries: Seq[(String, String, Long, AuditStats.FileStats)],
      ts: Long): Long = {
    val pdir = java.nio.file.Paths.get(root).resolve(relDir)
    java.nio.file.Files.createDirectories(pdir)
    val gen = java.util.UUID.randomUUID.toString.take(8)
    val added = entries.sortBy(_._2).zipWithIndex.map {
      case ((_, staged, rows, st), i) =>
        val name = f"part-x$gen-$i%05d.jsonl"
        CommitPrimitives.io.publishData(stage.resolve(staged),
          pdir.resolve(name))
        (name, rows, st)
    }
    AuditBase.commitTxn(pdir.toString,
      added.map { case (n, r, _) =>
        AuditBase.ManifestEntry(n, r, folded = false) },
      added.map { case (n, _, st) => AuditStats.line(n, st) },
      ts = ts, seqRoot = root)._2
  }
}

/** The one task-writer factory: batch INSERTs, streaming epochs and
  * OPTIMIZE's base rewrites all stage through [[AuditDataWriter]]. */
final class AuditWriterFactory(path: String, schema: StructType,
    partLevels: Seq[AuditPartition.Level] = Nil,
    bloomCols: Set[String] = Set.empty, stageSub: String = "")
    extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AuditDataWriter(path, schema, partLevels, partitionId, taskId,
      bloomCols, stageSub)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** Shared row→jsonl serialization (batch, streaming, and partitioned
  * writers all emit the identical line format the reader parses).
  *
  * Round-21 (guide §1.2 step 2, per-task work): the original
  * `schema.fields.zipWithIndex.map` path allocated a tuple array plus
  * ~three Strings PER FIELD PER ROW (~434 ns/row on a 3-long row,
  * ProbeJson). [[AuditRowJson.Enc]] precomputes the per-field
  * `,"name":` prefixes and a primitive type tag once per writer and
  * appends every value straight into one reusable builder —
  * byte-identical lines (AuditRowJsonSpec pins new == the old chain on
  * randomized rows), no per-row garbage. */
private[sources] object AuditRowJson {
  /** JSON string escaping — backslash, quote, AND control characters
    * (a raw newline in a value would split one record across two invalid
    * JSON lines, breaking both the framing and the read-back round trip). */
  def esc(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    appendEsc(sb, s)
    sb.toString
  }

  /** Escape `s` into `sb`: unescaped runs are copied with one bulk
    * append (the dominant case) instead of char-at-a-time. */
  private def appendEsc(sb: java.lang.StringBuilder, s: String): Unit = {
    val n = s.length
    var i = 0
    var runStart = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '\\' || c == '"' || c < 0x20) {
        if (i > runStart) sb.append(s, runStart, i)
        c match {
          case '\\' => sb.append("\\\\")
          case '"'  => sb.append("\\\"")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case other => sb.append(f"\\u${other.toInt}%04x")
        }
        runStart = i + 1
      }
      i += 1
    }
    if (runStart < n) sb.append(s, runStart, n)
  }

  // primitive tags — one Int comparison per field per row instead of a
  // DataType pattern match
  private final val KLong = 0; private final val KInt = 1
  private final val KDouble = 2; private final val KBool = 3
  private final val KString = 4

  /** Per-writer encoder: precomputed prefixes + reusable buffers. NOT
    * thread-safe — one instance per DataWriter (Spark gives each task
    * its own writer). */
  final class Enc(schema: StructType) {
    private val prefixes: Array[String] = schema.fields.zipWithIndex.map {
      case (f, i) => (if (i == 0) "{\"" else ",\"") + f.name + "\":"
    }
    private val kinds: Array[Int] = schema.fields.map(_.dataType match {
      case LongType | TimestampType | TimestampNTZType => KLong
      case IntegerType => KInt
      case DoubleType  => KDouble
      case BooleanType => KBool
      case StringType  => KString
      case other => throw new UnsupportedOperationException(
        s"graft-audit-sink: unsupported column type $other")
    })
    private val sb = new java.lang.StringBuilder(256)
    private var buf = new Array[Char](1024)

    private def build(record: InternalRow): Unit = {
      sb.setLength(0)
      if (prefixes.isEmpty) sb.append('{')
      var i = 0
      while (i < prefixes.length) {
        sb.append(prefixes(i))
        if (record.isNullAt(i)) sb.append("null")
        else kinds(i) match {
          case KLong   => sb.append(record.getLong(i))
          case KInt    => sb.append(record.getInt(i))
          case KDouble => sb.append(record.getDouble(i))
          case KBool   => sb.append(record.getBoolean(i))
          case KString =>
            sb.append('"')
            appendEsc(sb, record.getUTF8String(i).toString)
            sb.append('"')
        }
        i += 1
      }
      sb.append('}')
    }

    def line(record: InternalRow): String = { build(record); sb.toString }

    /** Append the record's line plus trailing newline to `out` without
      * materializing an intermediate String. */
    def writeTo(record: InternalRow, out: java.io.Writer): Unit = {
      build(record)
      sb.append('\n')
      val len = sb.length
      if (buf.length < len) buf = new Array[Char](Integer.highestOneBit(len) * 2)
      sb.getChars(0, len, buf, 0)
      out.write(buf, 0, len)
    }
  }

  def line(schema: StructType, record: InternalRow): String =
    new Enc(schema).line(record)
}

/** The one task writer (batch, streaming, OPTIMIZE, and delta-DML
  * inserts): it routes each row to its partition directory — Hive-style
  * dynamic partitioning; a zero-level table routes every row to the
  * root, relDir `""` — and stages one file per directory, opened on that
  * directory's first row, so a task that sees no row stages and reports
  * nothing. The task does no shuffle of its own: callers that want one
  * file per partition ask Spark for a clusterBy distribution via the
  * write options. */
final class AuditDataWriter(path: String, schema: StructType,
    partLevels: Seq[AuditPartition.Level], partitionId: Int, taskId: Long,
    bloomCols: Set[String] = Set.empty, stageSub: String = "")
    extends DataWriter[InternalRow] {
  // stageSub scopes staging PER COMMIT (OCC batch appends): concurrent
  // jobs must not share a staging dir, or one commit's final cleanup
  // deletes another in-flight commit's staged files
  private val stageDir = {
    val base = java.nio.file.Paths.get(path).resolve("_staging")
    if (stageSub.isEmpty) base else base.resolve(stageSub)
  }
  private final class Out(val staged: String) {
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      java.nio.file.Files.newOutputStream(stageDir.resolve(staged)), "UTF-8"))
    val acc = new AuditStats.Acc(schema, bloomCols)
    var rows = 0L
  }
  private val outs = scala.collection.mutable.LinkedHashMap.empty[String, Out]
  // the root's file on a zero-level table: no relDir built per row
  private var root: Out = _
  // resolved on the first row: a pure DELETE's write schema is empty
  private lazy val partIdxs: Array[Int] =
    partLevels.map(l => schema.fieldIndex(l.col)).toArray
  private val enc = new AuditRowJson.Enc(schema)

  private def open(relDir: String): Out = {
    java.nio.file.Files.createDirectories(stageDir)
    // staged names must be flat files: relDirs contain '/', so key the
    // name on the writer's running file count instead
    val o = new Out(f"stage-$partitionId%05d-$taskId-${outs.size}%04d.jsonl")
    outs(relDir) = o
    o
  }

  override def write(record: InternalRow): Unit = {
    val out =
      if (partLevels.isEmpty) {
        if (root == null) root = open("")
        root
      } else {
        val relDir = AuditPartition.relDirOf(partLevels,
          partLevels.zip(partIdxs).map { case (l, i) =>
            AuditPartition.tokenFor(
              if (record.isNullAt(i)) null else record.get(i, l.dt), l.bucket)
          })
        outs.getOrElse(relDir, open(relDir))
      }
    enc.writeTo(record, out.w)
    out.acc.update(record)
    out.rows += 1
  }

  override def commit(): AuditCommitMessage = {
    outs.values.foreach(_.w.close())
    AuditCommitMessage(outs.map { case (relDir, o) =>
      (relDir, o.staged, o.rows, o.acc.result)
    }.toSeq)
  }

  override def abort(): Unit = outs.values.foreach { o =>
    o.w.close()
    java.nio.file.Files.deleteIfExists(stageDir.resolve(o.staged))
  }

  override def close(): Unit = ()
}

/** Driver-side handoff of a partitioned compaction's pinned input set —
  * the per-dir live file map is O(files) and the `BatchWrite` is
  * constructed from string options, so the pin travels by token (the
  * base commit runs on the driver, same JVM as the OPTIMIZE call). */
private[sources] object AuditPartBasePin {
  final case class Pin(throughEpoch: Long, snapTs: Long,
      pinned: Map[String, Set[String]],
      // partition-filtered OPTIMIZE: only these relDirs participate —
      // the raced-append abort checks them alone (None = whole table)
      selected: Option[Set[String]] = None)
  private val pins =
    new java.util.concurrent.ConcurrentHashMap[String, Pin]()
  def put(pin: Pin): String = {
    val token = java.util.UUID.randomUUID.toString
    pins.put(token, pin); token
  }
  def take(token: String): Pin = {
    val p = pins.remove(token)
    require(p != null,
      s"audit partitioned OPTIMIZE: base-commit pin $token missing — " +
        "the base write must run in the JVM that planned it")
    p
  }
}

/** PER-DIRECTORY BASE CHECKPOINT commit — partitioned OPTIMIZE's publish
  * half, the partitioned analog of [[AuditBaseBatchWrite]]. Rows arrive
  * origin-tagged and route through the ordinary partitioned writer; per
  * directory, commit renames staged files to `base-*`, folds the PINNED
  * manifest entries into tombstones (their commit ts retained — the
  * batch half of post-compaction time travel), publishes the dir's
  * `_BASE` (throughEpoch + the compaction snapshot instant), and deletes
  * only files a PREVIOUS base owned. Unlike the retired stage-and-swap
  * path this preserves ALL history axes in place: the root `_EPOCHS` log,
  * per-dir delete vectors (origin-keyed, still valid against base rows),
  * folded data files (left on disk so running tails/CDC keep resolving;
  * VACUUM reclaims them later), `_IDENTITY`, `_COLMAP`. A raced OCC
  * append aborts the commit loudly BEFORE any mutation (the rewrite scan
  * read the pinned set; committing would duplicate or destroy the raced
  * rows); an append landing after the check stays live alongside the
  * base — folding touches only pinned files. */
final class AuditPartitionedBaseWrite(path: String, schema: StructType,
    partLevels: Seq[AuditPartition.Level],
    throughEpoch: Long, snapTs: Long,
    pinned: Map[String, Set[String]],
    bloomCols: Set[String] = Set.empty,
    selected: Option[Set[String]] = None) extends BatchWrite {
  require(schema.fields.takeRight(3).map(_.name).toSeq ==
    Seq("_oepoch", "_ofile", "_opos"),
    s"audit partitioned base commit: schema must end with the origin " +
      s"columns, got ${schema.fieldNames.mkString(",")}")

  private val stageSub = "pb-" + java.util.UUID.randomUUID.toString.take(12)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new AuditWriterFactory(path, schema, partLevels, bloomCols, stageSub)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    AuditMaintLock.verifyCurrent(path, "partitioned OPTIMIZE base publish")
    val dir = java.nio.file.Paths.get(path)
    val stage = dir.resolve("_staging").resolve(stageSub)
    // test-only failure injection: dies AFTER staging, BEFORE any
    // per-dir mutation — the live table must read identically and the
    // orphan stage be reclaimable (VACUUM clean_orphans)
    if (sys.props.get("graft.audit.maintFailPoint").contains("after-stage"))
      throw new IllegalStateException(
        "injected failure: partitioned OPTIMIZE killed after staging")
    // raced-append abort BEFORE any mutation: the staged tree reflects
    // exactly the pinned set or the compaction is stale
    val partCols = partLevels.map(_.col)
    // partition-filtered compaction: appends racing into UNSELECTED
    // directories are none of this rewrite's business — only the
    // selected dirs must still match the pinned snapshot exactly
    val nowSets = AuditPartition.listDirsByCols(path, partCols)
      .filter { case (rel, _) => selected.forall(_.contains(rel)) }
      .map { case (rel, d) =>
        (rel, AuditBase.readManifest(d.toString)
          .collect { case e if !e.folded => e.file }.toSet)
      }.toMap.filter(_._2.nonEmpty)
    if (nowSets != pinned) {
      deleteTree(stage)
      throw new IllegalStateException(
        s"audit partitioned OPTIMIZE: concurrent append(s) committed " +
          s"while the compaction ran at $path — the rewrite no longer " +
          "covers the table. Nothing was changed; re-run the operation.")
    }
    // test hook: an append landing AFTER the check stays live alongside
    // the base (folding touches only pinned files) — never destroyed
    AuditMaintenance.afterCheckHook.foreach(_())
    val byDir = AuditCommitMessage.entries(messages).groupBy(_._1)
    (pinned.keySet ++ byDir.keySet).toSeq.sorted.foreach { relDir =>
      val pdir = dir.resolve(relDir)
      java.nio.file.Files.createDirectories(pdir)
      val gen = java.util.UUID.randomUUID().toString.take(8)
      val entries = byDir.getOrElse(relDir, Seq.empty)
        .filter(_._3 > 0).sortBy(_._2)
      val files = entries.zipWithIndex.map { case ((_, staged, rows, _), i) =>
        val name = f"base-$gen-$i%05d.jsonl"
        CommitPrimitives.io.publishData(stage.resolve(staged),
          pdir.resolve(name))
        (name, rows)
      }
      val prev = AuditBase.read(pdir.toString)
      AuditBase.consolidate(pdir.toString)
      val manifest = AuditBase.readManifest(pdir.toString)
      val pin = pinned.getOrElse(relDir, Set.empty)
      val toFold: AuditBase.ManifestEntry => Boolean = e =>
        !e.folded && pin.contains(e.file)
      AuditBase.writeManifest(pdir.toString,
        manifest.map(e => if (toFold(e)) e.copy(folded = true) else e))
      // ABSORB-INTENT before the pointer swap — see the unpartitioned
      // twin (AuditBaseBatchWrite.commit): a crash between the swap and
      // the finalize must not leave the fold rows double-subtracting
      AuditDeletes.markAbsorbPending(pdir.toString, snapTs)
      AuditBase.write(pdir.toString, throughEpoch,
        prev.map(_.expiredThrough).getOrElse(-1L), files,
        ts = Some(snapTs))
      AuditMaintenance.maintFail("after-base-swap",
        "partitioned OPTIMIZE killed after a dir's _BASE swap, before " +
          "its absorb finalize (later dirs unpublished)")
      // pre-compaction fold summaries: their blanked rows were skipped
      // by the compaction scan, so this base physically excludes them —
      // counts must stop subtracting them (AuditChaosSpec pseed 7)
      AuditDeletes.markAbsorbed(pdir.toString)
      // only a PREVIOUS base's files are superseded-and-invisible
      // everywhere — folded ORIGINAL files stay on disk for running
      // tails/feeds until VACUUM
      prev.foreach(_.files.foreach { case (f, _) =>
        java.nio.file.Files.deleteIfExists(pdir.resolve(f))
      })
      AuditStats.retain(pdir.toString,
        f => java.nio.file.Files.exists(pdir.resolve(f)))
      AuditStats.append(pdir.toString,
        entries.zip(files).map { case ((_, _, _, st), (name, _)) =>
          (name, st)
        })
    }
    deleteTree(stage)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val stage = java.nio.file.Paths.get(path).resolve("_staging").resolve(stageSub)
    deleteTree(stage)
  }
}
