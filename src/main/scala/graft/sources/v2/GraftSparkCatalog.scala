package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.GraftCatalog

/** A Spark `TableCatalog` plugin over the engine's [[GraftCatalog]]
  * warehouse — the reference's `CREATE CATALOG` + `USE CATALOG` surface
  * (`tutorial/guide.md:11-17`, `Readme.md:57-78`) as a REAL Spark catalog:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.mycat", classOf[GraftSparkCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.mycat.warehouse", "/path/wh")
  *   spark.sql("SELECT * FROM mycat.db.tbl WHERE ...")   // full Catalyst path
  * }}}
  *
  * Identifier resolution, column pruning, filter pushdown, and stats-based
  * file skipping all flow through [[GraftV2Table]]; table metadata (the
  * Paimon-style option map incl. primary-key/merge-engine) lives in the
  * warehouse's `_table_options.json` files, so the SAME tables remain fully
  * usable through the imperative [[graft.table.GraftCatalog]]/[[graft.table.StreamTable]]
  * API — one storage layout, two front doors.
  *
  * Reads serve every table (PK tables merge-on-read, see
  * [[GraftV2Table.newScanBuilder]]). Writes (`INSERT INTO`, `df.writeTo`)
  * route into [[graft.table.StreamTable.appendBatch]]'s distributed staging
  * write + atomic manifest commit — the same protocol the streaming writer
  * uses. The SQL shell ([[graft.table.GraftSql]]) resolves every table name
  * through one of these per shell catalog.
  */
class GraftSparkCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog with StagingTableCatalog {
  import GraftSparkCatalog.SchemaOption

  private var catalogName: String = _
  private var warehouse: String = _
  private def backing = new GraftCatalog(SparkSession.active, warehouse)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog $name requires spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def db(namespace: Array[String]): String = {
    require(namespace.length == 1,
      s"graft catalog namespaces are single-level, got ${namespace.mkString(".")}")
    namespace.head
  }

  // ---- namespaces --------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    backing.listDatabases().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && backing.listDatabases().contains(namespace.head)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    backing.createDatabase(db(namespace))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException("DROP NAMESPACE")

  // ---- tables ------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] =
    backing.listTables(db(namespace)).map(Identifier.of(namespace, _)).toArray

  override def tableExists(ident: Identifier): Boolean =
    backing.listTables(db(ident.namespace())).contains(ident.name())

  override def loadTable(ident: Identifier): Table = {
    // Paimon's `t$files` / `t$snapshots` / `t$tags` / `t$consumers` system
    // tables as real identifiers (guide.md:200-232): metadata is manifest/
    // footer-derived and file-count-sized, served as a driver-local scan
    ident.name().split("\\$", 2) match {
      case Array(base, sys) if sys.nonEmpty =>
        val baseIdent = Identifier.of(ident.namespace(), base)
        if (!tableExists(baseIdent)) throw new NoSuchTableException(baseIdent)
        val t = backing.getTable(db(ident.namespace()), base)
        if (sys.startsWith("branch_")) {
          // `t$branch_<name>` (Paimon's branch read): the branch's own
          // chain as a full V2 table — scans, time travel, even writes
          // resolve against the branch root (write-audit-publish's audit
          // surface). Structural semantics and evolution come from the
          // branch's FROZEN options copy (taken at create_branch): a
          // post-branch ALTER on main must not re-shape the branch — the
          // same data would otherwise serve two schemas depending on the
          // door (the path open already reads the frozen copy).
          val bt = t.branchTable(sys.stripPrefix("branch_"))
          val bOpts = graft.table.GraftCatalog.pathOptions(bt.root) match {
            case o if o.nonEmpty => o
            case _ => backing.tableOptions(db(ident.namespace()), base)
          }
          val (declared, renames) = GraftV2Table.evolutionOf(bOpts)
          return new GraftV2Table(
            s"$catalogName.${db(ident.namespace())}.${ident.name()}",
            graft.table.GraftCatalog.tableFromOptions(
              SparkSession.active, bt.root, bOpts),
            SparkSession.active, declared, renameMap = renames)
        }
        if (sys == "audit_log" || sys == "changelog") {
          // data-sized — a DISTRIBUTED scan, never a driver-local metadata
          // view: `$audit_log` is the current state as +I (Paimon's batch
          // semantics), `$changelog` the retained change history
          val (declared, renames) = GraftV2Table.evolutionOf(
            backing.tableOptions(db(ident.namespace()), base))
          val v2 = new GraftV2Table(
            s"$catalogName.${db(ident.namespace())}.$base",
            t, SparkSession.active, declared, renameMap = renames)
          return if (sys == "audit_log") new GraftAuditLogV2Table(v2)
          else new GraftChangeHistoryV2Table(v2)
        }
        val view = sys match {
          case "files"      => () => t.filesView
          case "snapshots"  => () => t.snapshotsView
          case "tags"       => () => t.tagsView
          case "consumers"  => () => t.consumersView
          case "partitions" => () => t.partitionsView
          case "options" => () => {
            // the persisted table properties (Paimon `t$options`): what
            // CREATE declared plus every ALTER TABLE SET since
            val sp = SparkSession.active
            import sp.implicits._
            backing.tableOptions(db(ident.namespace()), base).toSeq
              .sortBy(_._1).toDF("key", "value")
          }
          case other => throw new NoSuchTableException(ident)
        }
        return new MetadataV2Table(
          s"$catalogName.${db(ident.namespace())}.${ident.name()}", view())
      case _ => ()
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val t = backing.getTable(db(ident.namespace()), ident.name())
    // PK tables resolve merge-on-read inside the scan (V2PkRead.scala); the
    // declared (possibly EVOLVED) schema + rename mappings persist as
    // options: they resolve INSERT INTO on empty tables and carry
    // metadata-only ADD/DROP/RENAME COLUMN evolution on committed ones
    val (declared, renames) = GraftV2Table.evolutionOf(
      backing.tableOptions(db(ident.namespace()), ident.name()))
    new GraftV2Table(s"$catalogName.${db(ident.namespace())}.${ident.name()}",
      t, SparkSession.active, declared, renameMap = renames)
  }

  /** `VERSION AS OF <id|'tag'>` — snapshot-pinned reads through plain SQL
    * (the SQL shell's time travel too). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val base = loadTable(ident)
    base match {
      case v2: GraftV2Table =>
        val snapId = version.toLongOption.getOrElse(
          v2.table.tags.find(_._1 == version).map(_._2).getOrElse(
            throw new IllegalArgumentException(s"no snapshot or tag '$version'")))
        v2.at(snapId)
      case other => other // metadata tables ignore versions
    }
  }

  /** `TIMESTAMP AS OF` — Spark hands micros since epoch; resolve to the
    * newest snapshot committed at or before that instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val base = loadTable(ident)
    base match {
      case v2: GraftV2Table =>
        val tsMs = timestampMicros / 1000L
        val snapId = v2.table.snapshotHeaders.takeWhile(_.committedAtMs <= tsMs)
          .lastOption.map(_.id).getOrElse(throw new IllegalArgumentException(
            s"no snapshot at or before $tsMs ms"))
        v2.at(snapId)
      case other => other
    }
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // the option map IS the Paimon-style WITH(...) clause; the declared
    // schema rides along so the empty table is INSERT-resolvable
    backing.createTable(db(ident.namespace()), ident.name(),
      properties.asScala.toMap - TableCatalog.PROP_OWNER - "provider" +
        (SchemaOption -> schema.toDDL) ++
        GraftSparkCatalog.partitionOption(partitions, schema))
    loadTable(ident)
  }

  /** `ALTER TABLE` in plain SQL — two families through the V2 front door:
    *
    *  - `SET/UNSET TBLPROPERTIES`: the reference's retention/compaction
    *    knobs (guide.md:180-184, :265-271) merged into the warehouse option
    *    file (the Paimon WITH-clause store).
    *  - `ADD/DROP/RENAME COLUMN`: METADATA-ONLY schema evolution, the
    *    Paimon model — no data file is rewritten. ADD appends to the
    *    declared schema (old files null-fill at read); DROP removes it (the
    *    scan never projects the column files still carry); RENAME records a
    *    declared→file-level name mapping (`ddl.rename.<name>`, chasing prior
    *    renames) that the scan translates at plan time. The SAME option keys
    *    the SQL shell uses, so both front doors see one evolved table.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val sets = changes.collect {
      case p: TableChange.SetProperty => p.property() -> p.value()
    }
    val removes = changes.collect {
      case p: TableChange.RemoveProperty => p.property()
    }
    val structural = changes.collect {
      case c: TableChange.AddColumn => c: TableChange
      case c: TableChange.DeleteColumn => c: TableChange
      case c: TableChange.RenameColumn => c: TableChange
      case c: TableChange.UpdateColumnType => c: TableChange
    }
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        structural.contains(c))
    require(unsupported.isEmpty,
      s"unsupported ALTER TABLE change(s) ${unsupported.mkString(", ")} " +
        "(supported: properties, ADD/DROP/RENAME COLUMN, " +
        "ALTER COLUMN TYPE widening)")
    require(!(sets.map(_._1) ++ removes).exists(
        Set("primary-key", "bucket-key", "bucket", "partition-keys",
          SchemaOption)),
      "primary-key/bucketing/partitioning/declared-schema are immutable " +
        "table structure " +
        "(rewriting the layout is a compaction job, not a property flip)")
    if (removes.nonEmpty) {
      // GraftCatalog's alterTable merges on write; removal rewrites the map
      val kept = backing.tableOptions(db(ident.namespace()), ident.name()) --
        removes
      backing.replaceTableOptions(db(ident.namespace()), ident.name(), kept)
    }
    if (sets.nonEmpty)
      backing.alterTable(db(ident.namespace()), ident.name(), sets.toMap)
    if (structural.nonEmpty) applyEvolution(ident, structural)
    loadTable(ident)
  }

  /** Apply ADD/DROP/RENAME COLUMN to the persisted evolution state. */
  private def applyEvolution(ident: Identifier, changes: Seq[TableChange]): Unit = {
    val dbN = db(ident.namespace()); val tn = ident.name()
    val opts = backing.tableOptions(dbN, tn)
    // columns evolution must not touch: primary key, bucket key, sequence
    // field — the merge/layout contracts are pinned to their names
    val keyCols = opts.get("primary-key").toSeq.flatMap(_.split(",").map(_.trim)) ++
      opts.get("bucket-key") ++ opts.get("sequence.field")
    val (declared0, renames0) = GraftV2Table.evolutionOf(opts)
    // synthesize the declared schema from the live files when the table was
    // created without one (library API) — evolution needs a base to evolve
    var decl: StructType = declared0.getOrElse(
      loadTable(ident).asInstanceOf[GraftV2Table].schema())
    var renames = renames0
    // the shell's `ddl.schema` keeps its Flink type spellings (DESCRIBE
    // shows them): unchanged columns keep theirs through every change
    val spelling = scala.collection.mutable.Map(GraftCatalog.ddlColumns(opts): _*)
    // STABLE FIELD IDS (Paimon's evolution model, by storage-name minting):
    // a declared column's physical storage name may differ from its
    // declared name (`ddl.rename.<declared> = <storage>`, the same mapping
    // a RENAME leaves behind). When ADD COLUMN re-uses a name that live
    // data files still carry (previously dropped, or renamed away), the
    // new column is assigned a FRESH storage name — old files simply lack
    // it and null-fill, new writes store under it, and the old data can
    // never surface beneath the new declared name. Identity lives in the
    // mapping, not the name: exactly what a field id buys.
    // lazy: only ADD consults it — a plain SET-option ALTER must not pay a
    // footer scan of every live file. Manifest fileCols serve it without
    // I/O when every live file carries captured stats.
    lazy val fileCols: Set[String] = {
      val files = backing.getTable(dbN, tn).latestSnapshot
        .map(_.files).getOrElse(Seq.empty)
      val fromManifest = files.flatMap(_.fileCols)
      if (files.isEmpty) Set.empty
      else if (fromManifest.size == files.size)
        // manifest fileCols are parquet LEAF dot-paths ('s.a' for struct
        // column 's') and include engine bookkeeping — normalize to the
        // top-level names the collision probe compares, or a dropped STRUCT
        // column's re-ADD would find no collision ('s' ∉ {'s.a'}) and let
        // old files' struct data resurface under the new declared name
        fromManifest.flatten.iterator
          .map(_.split("\\.", 2)(0))
          .filterNot(graft.table.StreamTable.isBookkeepingCol)
          .toSet
      else graft.table.StreamTable.fileSchema(SparkSession.active, files)
        .fieldNames.toSet.filterNot(graft.table.StreamTable.isBookkeepingCol)
    }
    val setOpts = scala.collection.mutable.Map[String, String]()
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1, "nested ADD COLUMN is unsupported")
        val n = a.fieldNames.head
        // ADD COLUMN … DEFAULT v — Spark's EXISTS_DEFAULT contract as PURE
        // METADATA on the evolution machinery: the default is constant-
        // folded HERE (frozen at ADD time, per the contract), persisted as
        // a canonical literal under `ddl.default.<name>`, and served where
        // old files would null-fill — the vectorized reader through Spark's
        // own existence-default missing-column vectors (schema metadata),
        // the row reader and the library/compaction read through the same
        // stored literal. New writes materialize the CURRENT default via
        // the V2 column metadata. No file is rewritten at any table size.
        Option(a.defaultValue()).foreach { dv =>
          val folded = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .analyze(n, a.dataType, dv.getSql, "ALTER TABLE ADD COLUMNS")
          require(folded.foldable,
            s"DEFAULT for '$n' must be a constant expression: ${dv.getSql}")
          val v = folded.eval(null)
          require(v != null || a.isNullable,
            s"DEFAULT NULL needs a nullable column '$n'")
          if (v != null) // DEFAULT NULL ≡ the plain null-fill, store nothing
            setOpts(s"ddl.default.$n") =
              org.apache.spark.sql.catalyst.expressions.Literal(v, a.dataType).sql
        }
        require(!decl.fieldNames.contains(n), s"column '$n' already exists")
        // storage names in use or still present in data files; a collision
        // mints `<name>__fid<k>` instead of refusing the ADD
        val taken = fileCols ++ renames.values ++
          decl.fieldNames.filterNot(renames.contains)
        if (taken.contains(n)) {
          val storage = Iterator.from(1).map(k => s"${n}__fid$k")
            .find(s => !taken.contains(s)).get
          setOpts(s"ddl.rename.$n") = storage
          renames += (n -> storage)
        }
        decl = StructType(decl.fields :+ StructField(n, a.dataType, a.isNullable))
        spelling(n) = a.dataType.sql
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1, "nested DROP COLUMN is unsupported")
        val n = d.fieldNames.head
        if (!decl.fieldNames.contains(n)) {
          require(d.ifExists(), s"no column '$n' to drop")
        } else {
          require(!keyCols.contains(n),
            s"cannot drop key column '$n' (primary/bucket/sequence key)")
          decl = StructType(decl.filterNot(_.name == n))
          spelling -= n
          if (renames.contains(n)) { setOpts(s"ddl.rename.$n") = ""; renames -= n }
          if (opts.contains(s"ddl.default.$n")) setOpts(s"ddl.default.$n") = ""
        }
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1, "nested RENAME COLUMN is unsupported")
        val from = r.fieldNames.head; val to = r.newName
        require(decl.fieldNames.contains(from), s"no column '$from'")
        require(!decl.fieldNames.contains(to), s"column '$to' already exists")
        require(!keyCols.contains(from),
          s"cannot rename key column '$from' (primary/bucket/sequence key)")
        // chase prior renames so the mapping always points at the column's
        // STORAGE name (its field identity) — the rename is pure metadata,
        // and any target name is legal: reads and writes translate through
        // the mapping, so a stale physical column of the same name in old
        // files is simply never projected
        val fileN = renames.getOrElse(from, from)
        // an aggregated field's merge spec is keyed by its FILE-level name
        // (`fields.<f>.aggregate-function`): renaming it would silently drop
        // the field from the merge view and the fold — refuse like key cols
        require(!opts.contains(s"fields.$from.aggregate-function") &&
            !opts.contains(s"fields.$fileN.aggregate-function"),
          s"cannot rename aggregated field '$from' " +
            "(its aggregate-function option is keyed by name)")
        decl = StructType(decl.map(f => if (f.name == from) f.copy(name = to) else f))
        spelling.remove(from).foreach(spelling(to) = _)
        setOpts(s"ddl.rename.$from") = "" // retired mapping (empty = removed)
        if (fileN != to) setOpts(s"ddl.rename.$to") = fileN
        renames = renames - from ++ (if (fileN != to) Map(to -> fileN) else Map.empty)
        // a default is keyed by the DECLARED name — it follows the rename
        opts.get(s"ddl.default.$from").filter(_.nonEmpty).foreach { sql =>
          setOpts(s"ddl.default.$from") = ""
          setOpts(s"ddl.default.$to") = sql
        }
      case u: TableChange.UpdateColumnType =>
        // TYPE WIDENING as pure metadata (Paimon/Iceberg's evolution):
        // persist the widened declared type; the scan casts each file's
        // PHYSICAL type to it per file (row reader converts, the vectorized
        // proof accepts widened layouts natively) — no rewrite at any
        // table size. Only provably-safe widenings: every old value maps to
        // the same logical value, pushdown stays exact-or-conservative
        // through the per-file physical proofs.
        require(u.fieldNames.length == 1, "nested ALTER COLUMN is unsupported")
        val n = u.fieldNames.head
        require(decl.fieldNames.contains(n), s"no column '$n'")
        require(!keyCols.contains(n),
          s"cannot widen key column '$n' (primary/bucket/sequence key — " +
            "layout hashing and merge ordering are pinned to the stored type)")
        require(!opts.get("partition-keys").toSeq
            .flatMap(_.split(",").map(_.trim))
            .contains(renames.getOrElse(n, n)),
          s"cannot widen partition key '$n' (partition proofs compare " +
            "rendered stats, which must stay layout-uniform)")
        val from = decl(decl.fieldIndex(n)).dataType
        val to = u.newDataType()
        import org.apache.spark.sql.types._
        val safe = (from, to) match {
          case (IntegerType, LongType) => true
          case (FloatType, DoubleType) => true
          case (f: DecimalType, t: DecimalType) =>
            t.scale == f.scale && t.precision > f.precision
          case _ => false
        }
        require(safe, s"unsafe type change $from → $to for '$n' " +
          "(supported widenings: INT→BIGINT, FLOAT→DOUBLE, " +
          "DECIMAL(p,s)→DECIMAL(p+k,s))")
        decl = StructType(decl.map(f =>
          if (f.name == n) f.copy(dataType = to) else f))
        spelling(n) = to.sql
        // a stored default was folded at the OLD type — re-fold at the new
        // one so read substitution and new writes agree on the widened type
        opts.get(s"ddl.default.$n").filter(_.nonEmpty).foreach { sql =>
          val refolded = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .analyze(n, to, sql, "ALTER TABLE ALTER COLUMN")
          setOpts(s"ddl.default.$n") = org.apache.spark.sql.catalyst
            .expressions.Literal(refolded.eval(null), to).sql
        }
      case other => throw new IllegalArgumentException(s"unreachable: $other")
    }
    // strip default-column metadata before the DDL-text persist: the store
    // of record for defaults is `ddl.default.<name>` (evolutionOf re-attaches
    // on load) — a DEFAULT clause in the DDL text would not round-trip
    // through StructType.fromDDL and the whole declared schema would fall
    // back to file-derived
    setOpts(SchemaOption) = StructType(decl.map { f =>
      import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .remove(CURRENT_DEFAULT_COLUMN_METADATA_KEY)
        .remove(EXISTS_DEFAULT_COLUMN_METADATA_KEY).build())
    }).toDDL
    // keep the shell's store in sync when the table carries one, so a table
    // created in the shell and evolved here stays coherent in both doors
    if (opts.contains("ddl.schema"))
      setOpts("ddl.schema") = GraftCatalog.ddlSchema(decl.map(f =>
        f.name -> spelling.getOrElse(f.name, f.dataType.sql)))
    backing.alterTable(dbN, tn, setOpts.toMap)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val existed = tableExists(ident)
    if (existed) backing.dropTable(db(ident.namespace()), ident.name())
    existed
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ---------------------------
  //
  // `CREATE TABLE … AS SELECT` without staging is create-then-insert: a
  // crash mid-query strands an empty registered table. Staging writes the
  // WHOLE table (options file + data + manifest, via the normal appendBatch
  // commit protocol) into a hidden warehouse directory that no identifier
  // resolves, then publishes it with ONE directory rename — the same
  // write-then-atomic-publish shape every graft commit uses, at table
  // granularity. Abort (query failure) deletes the staging tree; a crash
  // between the two leaves only an unreferenced `.staging-ctas` dir for the
  // orphan sweep. REPLACE swaps via a trash rename (old out, new in) — the
  // non-atomic window is two renames wide and never exposes a half-table.

  private def stagedFor(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      replace: Boolean): StagedTable = {
    val dbName = db(ident.namespace())
    backing.createDatabase(dbName)
    // opportunistic sweep of CRASHED stagings (a driver that died between
    // write and publish leaves a whole staged table): anything in the
    // staging area older than a day is unpublishable by construction —
    // its committer is gone — so each new CTAS reclaims the leftovers
    locally {
      val area = java.nio.file.Paths.get(s"$warehouse/.staging-ctas")
      if (java.nio.file.Files.isDirectory(area)) {
        val cutoff = System.currentTimeMillis() - 24L * 3600 * 1000
        graft.table.StreamTable.listDir(area).foreach { d =>
          try {
            if (java.nio.file.Files.getLastModifiedTime(d).toMillis < cutoff)
              graft.table.StreamTable.deleteTree(d)
          } catch { case _: java.io.IOException => () } // racing committer wins
        }
      }
    }
    val staging = s"$warehouse/.staging-ctas/${java.util.UUID.randomUUID()}"
    val opts = properties.asScala.toMap -
      TableCatalog.PROP_OWNER - "provider" + (SchemaOption -> schema.toDDL) ++
      GraftSparkCatalog.partitionOption(partitions, schema)
    GraftCatalog.writeTableOptions(staging, opts)
    val tbl = GraftCatalog.tableFromOptions(SparkSession.active, staging, opts)
    val target = s"$warehouse/$dbName.db/${ident.name()}"
    new GraftStagedTable(
      s"$catalogName.$dbName.${ident.name()}", ident, tbl, SparkSession.active,
      Some(schema), staging, target, replace,
      exists = () => tableExists(ident))
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    stagedFor(ident, schema, partitions, properties, replace = false)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    stagedFor(ident, schema, partitions, properties, replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable =
    stagedFor(ident, schema, partitions, properties, replace = true)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE")

  // ---- functions (the storage-partitioned-join contract) -----------------
  //
  // Spark resolves a scan's reported `bucket(n, key)` transform against the
  // TABLE's catalog: serving the function here is what lets the planner
  // PROVE two bucketed graft tables share a layout (canonical-name match →
  // no exchange on either side) and hash-shuffle an unbucketed third side
  // INTO that layout (it evaluates this exact function).

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, GraftBucketFunction.name()))

  override def loadFunction(ident: Identifier): functions.UnboundFunction =
    if (ident.name() == GraftBucketFunction.name()) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  // ---- procedures (Spark 4 native CALL — the maintenance entry point) ----

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(V2Procedures.Namespace))
      V2Procedures.names.map(Identifier.of(V2Procedures.Namespace, _)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(V2Procedures.Namespace),
      s"procedures live in the `sys` namespace: CALL $catalogName.sys.<name>(…)")
    V2Procedures.load(backing, ident.name()).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure $ident (have: ${V2Procedures.names.mkString(", ")})"))
  }
}

/** One staged CTAS/RTAS target: a fully functional [[GraftV2Table]] rooted
  * in the hidden staging directory (the AS-SELECT write flows through the
  * normal `newWriteBuilder` → appendBatch manifest commit), plus the
  * publish/abort pair Spark's atomic exec calls. */
private[v2] class GraftStagedTable(name: String, ident: Identifier,
    table: graft.table.StreamTable,
    spark: SparkSession, declared: Option[StructType],
    stagingRoot: String, targetPath: String, replace: Boolean,
    exists: () => Boolean)
    extends GraftV2Table(name, table, spark, declared) with StagedTable {
  import java.nio.file.{Files, Paths, StandardCopyOption}

  /** Manifests/snapshots reference data files by ABSOLUTE path (still under
    * the staging root at write time) — retarget them to the publish path
    * BEFORE the rename, while the directory is still invisible. The staging
    * root carries a UUID, so the prefix replace cannot touch user data. */
  private def retarget(): Unit =
    Seq("_snapshots", "_manifests").foreach { d =>
      val dir = Paths.get(stagingRoot, d)
      if (Files.isDirectory(dir))
        graft.table.StreamTable.listDir(dir)
          .filter(_.toString.endsWith(".json")).foreach { p =>
            val s = new String(Files.readAllBytes(p),
              java.nio.charset.StandardCharsets.UTF_8)
            Files.write(p, s.replace(stagingRoot, targetPath)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
    }

  override def commitStagedChanges(): Unit = {
    retarget()
    val target = Paths.get(targetPath)
    if (exists()) {
      if (!replace) throw new TableAlreadyExistsException(ident)
      // RTAS swap: old table out to a trash name, new one in, trash deleted
      // — two renames, never a visible half-table
      val trash = Paths.get(s"$targetPath.trash-${java.util.UUID.randomUUID()}")
      Files.move(target, trash, StandardCopyOption.ATOMIC_MOVE)
      try Files.move(Paths.get(stagingRoot), target, StandardCopyOption.ATOMIC_MOVE)
      catch { case e: Throwable => // restore the old table, then fail
        Files.move(trash, target, StandardCopyOption.ATOMIC_MOVE); throw e
      }
      graft.table.StreamTable.deleteTree(trash)
    } else
      Files.move(Paths.get(stagingRoot), target, StandardCopyOption.ATOMIC_MOVE)
  }

  override def abortStagedChanges(): Unit =
    graft.table.StreamTable.deleteTree(Paths.get(stagingRoot))
}

/** The bucketed-write layout function, `bucket(numBuckets, key) =
  * pmod(murmur3(key), numBuckets)` — EXACTLY Spark's `HashPartitioning` of
  * a single key column (murmur3 seed 42, null hashes to the seed), which is
  * what [[graft.table.StreamTable.appendBatch]]'s
  * `repartition(numBuckets, col(key))` physically wrote. Bit-parity with
  * the write path is the whole contract: a side Spark shuffles with this
  * function lands on the same bucket ids the files already have. */
object GraftBucketFunction extends functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, key): pmod(murmur3(key), numBuckets) — the graft bucketed-write layout"
  override def bind(inputType: StructType): functions.BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket(numBuckets, key) takes 2 arguments, got ${inputType.length}")
    inputType.fields(1).dataType match {
      case org.apache.spark.sql.types.LongType => GraftBucketLong
      case org.apache.spark.sql.types.IntegerType => GraftBucketInt
      case dt => throw new UnsupportedOperationException(
        s"bucket key type $dt (bucketable: BIGINT, INT)")
    }
  }
}

private[graft] sealed abstract class GraftBucketScalar(keyType: org.apache.spark.sql.types.DataType)
    extends functions.ScalarFunction[Integer] {
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(org.apache.spark.sql.types.IntegerType, keyType)
  override def resultType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.IntegerType
  override def name(): String = "bucket"
  override def isResultNullable: Boolean = false
  protected final def pmod(h: Int, n: Int): Integer =
    Integer.valueOf(((h % n) + n) % n)
}

// produceResult must be DECLARED on the concrete class — Spark resolves the
// function reflectively via getDeclaredMethod, which ignores inherited
// overrides (SCALAR_FUNCTION_NOT_FULLY_IMPLEMENTED otherwise)
private[graft] object GraftBucketLong extends GraftBucketScalar(org.apache.spark.sql.types.LongType) {
  override def canonicalName(): String = "graft.bucket.long"
  override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): Integer =
    pmod(if (input.isNullAt(1)) 42
      else org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(input.getLong(1), 42),
      input.getInt(0))
}

private[graft] object GraftBucketInt extends GraftBucketScalar(org.apache.spark.sql.types.IntegerType) {
  override def canonicalName(): String = "graft.bucket.int"
  override def produceResult(input: org.apache.spark.sql.catalyst.InternalRow): Integer =
    pmod(if (input.isNullAt(1)) 42
      else org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(input.getInt(1), 42),
      input.getInt(0))
}

object GraftSparkCatalog {
  /** Option key carrying the declared schema (DDL string) of a table that
    * has no committed snapshot yet. */
  val SchemaOption = "graft.declared-schema"

  /** `PARTITIONED BY (…)` → the `partition-keys` table option. IDENTITY
    * transforms only (Paimon's model — partition values are plain columns);
    * bucketing stays a declared option, never a transform. */
  private[v2] def partitionOption(partitions: Array[Transform],
      schema: StructType): Map[String, String] =
    if (partitions.isEmpty) Map.empty
    else {
      val cols = partitions.map {
        case t if t.name == "identity" && t.references.length == 1 &&
            t.references.head.fieldNames.length == 1 =>
          val c = t.references.head.fieldNames.head
          require(schema.fieldNames.contains(c),
            s"PARTITIONED BY column '$c' is not in the table schema")
          c
        case other => throw new UnsupportedOperationException(
          s"graft supports PARTITIONED BY identity columns only " +
            s"(got $other); bucketing is declared via the 'bucket'/" +
            "'bucket-key' options")
      }
      Map("partition-keys" -> cols.mkString(","))
    }
}
