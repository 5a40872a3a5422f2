package graft.table

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.v2.GraftSparkCatalog
import graft.streaming.RoutedWrite

/** SQL front-end over [[GraftCatalog]]: executes the reference tutorial's
  * literal statement surface, so the Flink SQL client session it walks through
  * (`/root/reference/Readme.md:38-78`, `/root/reference/tutorial/guide.md`)
  * replays statement-for-statement against the Spark-native engine.
  *
  * Every table name in a statement Spark runs (SELECT bodies, INSERT and
  * MERGE sources, the enrichment's dimension) resolves through the
  * [[GraftSparkCatalog]] plugin each shell catalog registers in the session,
  * so the shell and `spark.sql` over a catalog serve identical tables,
  * time travel, `t$files`-style metadata tables and metadata-only column
  * evolution (`ALTER TABLE t ADD/DROP/RENAME COLUMN`, applied by the
  * catalog's `alterTable`). The shell itself owns only the Flink syntax:
  *
  *  - `CREATE CATALOG c WITH ('type'='paimon','warehouse'='…')`,
  *    `USE CATALOG c`, `USE db` (guide.md:11-17)
  *  - `CREATE TABLE t (cols…, PRIMARY KEY (…) NOT ENFORCED) WITH ('k'='v')`
  *    incl. computed `AS PROCTIME()` columns (guide.md:23-31, :59-74); the
  *    declared columns keep their Flink spelling for `DESCRIBE t`
  *  - `ALTER TABLE t SET ('k'='v')` (guide.md:180-184, :265-271)
  *  - `SET 'key' = 'value'` session config (guide.md:3-4; `spark.*` keys pass
  *    through to the Spark conf, Flink-only keys are recorded)
  *  - `SHOW CATALOGS / DATABASES / TABLES / FUNCTIONS / VIEWS`
  *    (Readme.md:57-78; VIEWS lists the database's tables)
  *  - `INSERT INTO t SELECT …` — batch analog of the tutorial's continuous
  *    pipes (guide.md:36-39): the SELECT result maps by position onto the
  *    declared schema, a PROCTIME column is stamped at ingest, and the
  *    result commits as the table's next batch; `JOIN dim FOR SYSTEM_TIME
  *    AS OF …` runs as a streaming lookup-join enrichment (with the LOOKUP
  *    hint's retry-on-miss honored)
  *  - `DELETE FROM t WHERE …` / `UPDATE t SET … WHERE …` / `MERGE INTO` —
  *    row-level ops (merge-on-read on PK tables, pruned copy-on-write on
  *    append tables; see [[StreamTable.deleteWhere]] /
  *    [[StreamTable.updateWhere]] / [[StreamTable.mergeInto]])
  *  - `DROP TABLE t`, `DESCRIBE t`
  *  - `CALL sys.<proc>(…)` — the maintenance actions the reference drives as
  *    flink-action jobs (guide.md:172-177, :180-184), as SQL procedures:
  *    `rollback_to(table, snapshotOrTag)`, `create_tag` / `delete_tag`,
  *    `expire_snapshots(table, min, max, olderThan)`, `compact(table[, n])`,
  *    `rescale(table, buckets)` (offline bucket-count change),
  *    `compact_small_files(table[, smallBytes[, trigger]])` (targeted
  *    minor compaction — rewrite only groups with a small-file backlog),
  *    `remove_orphan_files(table[, olderThan])` (crash-leftover cleanup)
  *
  * The statement grammar is intentionally exactly the subset the reference
  * exercises — this is a catalog shell, not a SQL parser (SELECT bodies are
  * handed to Spark's real parser, with only `t$meta` quoted and
  * `TIMESTAMP AS OF '<ts>'` given as an instant).
  */
class GraftSql(spark: SparkSession, defaultWarehouse: String) {
  import GraftSql._

  /** One shell catalog: its warehouse, and the catalog plugin that serves
    * the warehouse's tables to Spark under a session-unique name. */
  private final class ShellCatalog(val graft: GraftCatalog, val plugin: GraftSparkCatalog)

  private val catalogs = mutable.Map[String, ShellCatalog](
    "default_catalog" -> open(defaultWarehouse))
  private var currentCatalog = "default_catalog"
  private var currentDb = "default"
  /** `SET` statements, verbatim (the Flink-only keys have no Spark effect
    * but remain inspectable, e.g. execution.checkpointing.interval). */
  val sessionConf: mutable.Map[String, String] = mutable.Map.empty

  def catalog: GraftCatalog = catalogs(currentCatalog).graft
  private def plugin: GraftSparkCatalog = catalogs(currentCatalog).plugin

  /** Register `warehouse`'s [[GraftSparkCatalog]] under a name no other
    * warehouse ever gets: Spark's catalog manager caches a plugin by name
    * for the session's life, and many shells share one session. */
  private def open(warehouse: String): ShellCatalog = {
    val name = s"graft_shell_${PluginSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    val plugin = new GraftSparkCatalog
    plugin.initialize(name,
      new CaseInsensitiveStringMap(java.util.Map.of("warehouse", warehouse)))
    new ShellCatalog(new GraftCatalog(spark, warehouse), plugin)
  }

  /** Run `body` with this shell's catalog plugin and database as the
    * session's current catalog and namespace, so bare table names resolve
    * through the plugin (session temp views still shadow them). The
    * session is shared: its previous catalog and namespace come back
    * afterwards, also when `body` throws. A database with no directory has
    * no tables (and Spark would not enter it): there `body` runs in the
    * session's own catalog, and the warehouse is left untouched. */
  private def inShell[T](body: => T): T =
    if (!plugin.namespaceExists(Array(currentDb))) body
    else {
      val sc = spark.catalog
      val (prevCatalog, prevDb) = (sc.currentCatalog(), sc.currentDatabase)
      sc.setCurrentCatalog(plugin.name())
      try { sc.setCurrentDatabase(s"`$currentDb`"); body }
      finally { sc.setCurrentCatalog(prevCatalog); sc.setCurrentDatabase(prevDb) }
    }

  /** A SELECT body through Spark's parser: `t$meta` becomes the quoted
    * identifier the catalog serves, and `TIMESTAMP AS OF '<ts>'` keeps the
    * shell's meaning — epoch milliseconds, or a UTC wall-clock datetime —
    * as the instant `timestamp_millis(<ms>)`. */
  private def sparkSql(body: String): DataFrame = {
    val quoted = MetaTableRe.replaceAllIn(body, "`$1\\$$2`")
    inShell(spark.sql(TimestampAsOfRe.replaceAllIn(quoted, m => {
      val ts = m.group(1).trim
      val ms =
        if (ts.matches("\\d{10,}")) ts.toLong
        else java.time.LocalDateTime.parse(ts.replace(" ", "T"))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      s"TIMESTAMP AS OF timestamp_millis($ms)"
    })))
  }

  /** Execute one statement; returns a DataFrame (DDL returns a one-row OK). */
  def sql(statement: String): DataFrame = {
    import spark.implicits._
    val stmt = statement.trim.stripSuffix(";").trim
    val flat = stmt.replaceAll("\\s+", " ")

    flat match {
      case CreateCatalogRe(name, opts) =>
        val o = parseOptions(opts)
        val wh = o.getOrElse("warehouse", s"$defaultWarehouse/$name")
          .stripPrefix("file:")
        catalogs(name) = open(wh)
        ok(s"catalog $name created")
      case UseCatalogRe(name) =>
        require(catalogs.contains(name), s"no catalog $name")
        currentCatalog = name; ok(s"using catalog $name")
      case CreateDatabaseRe(db) =>
        catalog.createDatabase(db); ok(s"database $db created")
      case UseDbRe(db) =>
        currentDb = db; ok(s"using $db")
      case ShowRe(what) => what.toUpperCase match {
        case "CATALOGS"  => catalogs.keys.toSeq.sorted.toDF("catalog_name")
        case "DATABASES" =>
          (catalog.listDatabases() :+ currentDb).distinct.sorted.toDF("database_name")
        case "TABLES"    => catalog.listTables(currentDb).toDF("table_name")
        // Readme.md:78 "more commands like SHOW FUNCTIONS and SHOW VIEWS":
        // function/view metadata lives in the Spark session, so delegate —
        // the available surface IS Spark's registry (incl. the graft
        // extensions once registered)
        case "FUNCTIONS" =>
          spark.sql("SHOW FUNCTIONS").orderBy("function")
            .withColumnRenamed("function", "function_name")
        // the names a user SELECTs from: the database's tables
        case "VIEWS"     => catalog.listTables(currentDb).toDF("view_name")
      }
      case CreateTableRe(ifNotExists, name, body, opts) =>
        val t = name.split("\\.").last
        if (ifNotExists != null && catalog.listTables(currentDb).contains(t))
          ok(s"table $t exists")
        else {
          val (schemaCols, pk, proctime) = parseColumns(body)
          val o = mutable.Map[String, String]() ++ parseOptions(opts)
          pk.foreach(cols => o("primary-key") = cols.mkString(","))
          proctime.foreach(c => o("computed.proctime") = c)
          o("ddl.schema") = GraftCatalog.ddlSchema(schemaCols)
          catalog.createTable(currentDb, t, o.toMap)
          ok(s"table $t created")
        }
      case AlterColumnsRe(name, clause) =>
        // metadata-only schema evolution, applied by the catalog plugin
        // (stable storage names: a re-ADDed name never reads old files' data)
        val t = name.split("\\.").last
        plugin.alterTable(Identifier.of(Array(currentDb), t), columnChanges(clause): _*)
        // DESCRIBE shows an added column's type as the statement spelled it
        val spelled = addedColumns(clause).toMap
        val o = catalog.tableOptions(currentDb, t)
        if (spelled.nonEmpty && o.contains("ddl.schema")) catalog.alterTable(currentDb, t,
          Map("ddl.schema" -> GraftCatalog.ddlSchema(GraftCatalog.ddlColumns(o)
            .map { case (n, ty) => n -> spelled.getOrElse(n, ty) })))
        ok(s"table $t altered: $clause")
      case AlterTableRe(name, opts) =>
        catalog.alterTable(currentDb, name.split("\\.").last, parseOptions(opts))
        ok(s"table $name altered")
      case DropTableRe(name) =>
        catalog.dropTable(currentDb, name.split("\\.").last); ok(s"table $name dropped")
      case DescribeRe(name) =>
        GraftCatalog.ddlColumns(catalog.tableOptions(currentDb, name.split("\\.").last))
          .toDF("col_name", "data_type")
      case SetConfRe(k, v) =>
        sessionConf(k) = v
        if (k.startsWith("spark.")) spark.conf.set(k, v)
        ok(s"$k = $v")
      case MergeRe(tName, tAliasOpt, sName, sAliasOpt, onCond, whenBody) =>
        val t = tName.split("\\.").last
        val tAlias = Option(tAliasOpt).getOrElse(t)
        val sAlias = Option(sAliasOpt).getOrElse(sName.split("\\.").last)
        val clauses = parseMergeClauses(whenBody, sAlias,
          () => catalog.getTable(currentDb, t).read.columns.toSeq)
        val r = catalog.getTable(currentDb, t).mergeInto(
          inShell(spark.table(sName)), expr(onCond), clauses, tAlias, sAlias)
        ok(s"merged into $t: ${r.updated} updated, ${r.deleted} deleted, " +
          s"${r.inserted} inserted")
      case DeleteWhereRe(name, cond) =>
        val t = name.split("\\.").last
        val n = catalog.getTable(currentDb, t).deleteWhere(expr(cond))
        ok(s"deleted $n rows from $t")
      case UpdateRe(name, sets, cond) =>
        val t = name.split("\\.").last
        val assignments = splitTopLevel(sets).map { a =>
          val p = a.split("=", 2)
          require(p.length == 2, s"malformed assignment '$a'")
          (p(0).trim, expr(p(1).trim))
        }
        val n = catalog.getTable(currentDb, t).updateWhere(expr(cond), assignments)
        ok(s"updated $n rows in $t")
      case InsertRe(name, select) =>
        val t = name.split("\\.").last
        val table = catalog.getTable(currentDb, t)
        // the LOOKUP hint's options must be read BEFORE hints are stripped
        val lookupHint: Map[String, String] =
          LookupHintRe.findFirstMatchIn(select)
            .map(m => HintOptRe.findAllMatchIn(m.group(1))
              .map(o => o.group(1) -> o.group(2)).toMap)
            .getOrElse(Map.empty)
        val cleaned0 = HintRe.replaceAllIn(select, " ")
        if (SystemTimeJoinRe.findFirstMatchIn(cleaned0).isDefined) {
          // the reference's lookup-join enrichment statement VERBATIM
          // (guide.md:119-140): `JOIN dim FOR SYSTEM_TIME AS OF m.event_time
          // AS s` runs as the stream-static join the library door runs —
          // the fact side streams (AvailableNow drains what exists), the
          // dimension joins AS OF processing time (its current snapshot,
          // Flink/Paimon lookup-join semantics), and the dimension side is
          // broadcast (a lookup join IS a broadcast join — the dim never
          // shuffles the stream). A LOOKUP hint carrying
          // `'retry-predicate'='lookup_miss'` (guide.md:122-129) is HONORED:
          // the pipe routes through the parked-miss requeue below (the
          // LookupRetry semantics); other hint keys (async options) have no
          // Spark analog and drop.
          val cleaned = cleaned0
          val jm = SystemTimeJoinRe.findFirstMatchIn(cleaned).get
          val (dim, dimAlias) = (jm.group(1), Option(jm.group(2)).getOrElse(jm.group(1)))
          // The fact table must be the FROM clause that syntactically OWNS
          // the SYSTEM_TIME join. A CTE body or scalar subquery would put an
          // earlier FROM in the statement and silently convert the WRONG
          // table to the streaming side — refuse those shapes loudly
          // instead of producing wrong enrichment output.
          if (cleaned.trim.toUpperCase.startsWith("WITH"))
            throw new IllegalArgumentException(
              "a SYSTEM_TIME enrichment INSERT cannot start with a CTE " +
                "(WITH …) — the rewrite could not prove which FROM owns " +
                s"the temporal join: $select")
          val fms = FromTableRe.findAllMatchIn(cleaned).toList
            .filter(_.start < jm.start)
          if (fms.size != 1)
            throw new IllegalArgumentException(
              s"a SYSTEM_TIME enrichment INSERT needs exactly ONE FROM " +
                s"clause before the temporal join (found ${fms.size}) — " +
                s"subqueries/CTEs are not rewritable: $select")
          val fm = fms.head
          val (fact, factAlias) = (fm.group(1), Option(fm.group(2)).getOrElse(fm.group(1)))
          // the rewrite converts the FIRST fact TABLE reference only — a
          // second one (self-join, subquery) would silently keep reading the
          // batch snapshot while the first streams. Qualified COLUMN
          // references (`fact.col` — the unaliased-fact idiom) are fine: the
          // rewrite aliases the streaming view back to the fact name, so
          // they keep resolving — exclude `fact.`-shaped matches (and
          // `.fact`, a column named like the table) from the count.
          val factRefs = ("(?i)(?<!\\.)\\b" + java.util.regex.Pattern.quote(fact) +
            "\\b(?!\\s*\\.)").r.findAllMatchIn(cleaned).size
          if (factRefs != 1)
            throw new IllegalArgumentException(
              s"the fact table '$fact' is referenced $factRefs times — a " +
                "SYSTEM_TIME enrichment INSERT must reference it exactly " +
                s"once (the rewrite streams only the first): $select")
          val factT = catalog.getTable(currentDb, fact)
          // the dimension by its catalog identifier: the retry path resolves
          // it inside foreachBatch, whose cloned session has its own
          // current catalog
          val dimRef = s"`${plugin.name()}`.`$currentDb`.`$dim`"
          def rewrittenFor(view: String): String =
            FromTableRe.replaceFirstIn(
              SystemTimeJoinRe.replaceFirstIn(cleaned,
                scala.util.matching.Regex.quoteReplacement(s"JOIN $dimRef AS $dimAlias")),
              scala.util.matching.Regex.quoteReplacement(s"FROM $view AS $factAlias"))
              .replaceFirst("(?i)^\\s*SELECT",
                scala.util.matching.Regex.quoteReplacement(
                  s"SELECT /*+ BROADCAST($dimAlias) */"))
          if (lookupHint.get("retry-predicate").contains("lookup_miss")) {
            runRetryEnrichment(t, table, factT, fact, factAlias, dim, dimRef,
              dimAlias, jm, cleaned, lookupHint, rewrittenFor)
          } else {
            val streamView = s"${fact}__stream"
            factT.readStream(factT.read.schema).createOrReplaceTempView(streamView)
            // a stale STREAMING temp view would poison later batch statements
            // that happen to reference it — drop it whatever happens, INCLUDING
            // an analysis failure of the rewritten SQL itself
            try {
              val df = conformToDeclared(t, sparkSql(rewrittenFor(streamView)))
              table.writeStream(df,
                org.apache.spark.sql.streaming.Trigger.AvailableNow())
                .awaitTermination()
            } finally spark.catalog.dropTempView(streamView)
            ok(s"enrichment pipe into $t drained " +
              s"(lookup join: $dim AS OF processing time)")
          }
        } else {
          val df = conformToDeclared(t, sparkSql(select))
          val nextBatch = table.latestSnapshot.map(_.batchId + 1).getOrElse(0L)
          table.appendBatch(df, nextBatch)
          ok(s"inserted into $t (batch $nextBatch)")
        }
      case CallRe(proc, rawArgs) =>
        callProcedure(proc.toLowerCase, parseCallArgs(rawArgs))
      case _ if flat.toUpperCase.startsWith("SELECT") ||
                flat.toUpperCase.startsWith("WITH") =>
        sparkSql(stmt)
      case other =>
        throw new IllegalArgumentException(s"unsupported statement: $other")
    }
  }

  /** The reference's retry-on-miss enrichment, HONORED in the SQL door
    * (guide.md:122-138: `'retry-predicate'='lookup_miss'`, fixed-delay ×
    * `max-attempts`, `'output-mode'='allow_unordered'`): per micro-batch,
    * the fresh fact rows PLUS earlier batches' parked misses join the
    * dimension's current snapshot — matches commit to the target (unordered
    * across retries, exactly what the hint's output mode allows), misses
    * park in a batch-id-keyed file with an attempt counter, and rows past
    * the cap dead-letter under `<target>/lookup-retry/dead/`. The hint's
    * fixed delay maps to the micro-batch cadence (one AvailableNow drain =
    * one attempt round; a rerun of the INSERT retries what is parked) —
    * [[graft.streaming.LookupRetry]] is the library-door twin of this pipe.
    * The misses are written as its are: one [[RoutedWrite]] job sends each
    * to `pending-<id>` or `dead/batch-<id>`, with no cache; the matches
    * commit through the target's streaming write. Replay-safe: batch ids
    * ride the target's writer-epoch discipline and the routed job replaces
    * its batch-id-keyed directories, so a replayed batch rewrites exactly
    * its own state. */
  private def runRetryEnrichment(t: String, table: StreamTable,
      factT: StreamTable, fact: String, factAlias: String, dim: String,
      dimRef: String, dimAlias: String, jm: scala.util.matching.Regex.Match, cleaned: String,
      hint: Map[String, String], rewrittenFor: String => String): DataFrame = {
    import java.nio.file.{Files, Paths}
    hint.get("output-mode").foreach(m => require(m == "allow_unordered",
      s"retry-on-miss emits matches as they resolve — 'output-mode'='$m' " +
        "cannot be honored (only 'allow_unordered')"))
    val maxAttempts = hint.get("max-attempts").map(_.trim.toInt).getOrElse(50)
    require(maxAttempts > 0, s"'max-attempts' must be positive: $maxAttempts")
    // the ON condition owning the temporal join — it defines a "miss"
    val onCond = OnCondRe.findFirstMatchIn(cleaned.substring(jm.end))
      .map(_.group(1).trim).getOrElse(throw new IllegalArgumentException(
        s"cannot locate the ON condition of the SYSTEM_TIME join: $cleaned"))
    // a further JOIN after the temporal one would ride INSIDE the captured
    // ON text and surface as an opaque parser error at drain time — refuse
    // with the same shape as the other ambiguity checks
    if ("(?i)\\bJOIN\\b".r.findFirstIn(onCond).isDefined)
      throw new IllegalArgumentException(
        "a retry-on-miss enrichment supports exactly ONE join (the " +
          "temporal one — its ON condition defines a \"miss\"); further " +
          s"joins are not rewritable: $cleaned")
    val retryDir = Paths.get(table.root, "lookup-retry")
    Files.createDirectories(retryDir)
    val factView = s"${fact}__retry_batch"
    try table.writeStream(
      factT.readStream(factT.read.schema),
      org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      transform = (batch, absId) => {
        val s = batch.sparkSession
        val pendingIds = StreamTable.listDir(retryDir).iterator
          .map(_.getFileName.toString)
          .filter(_.startsWith("pending-"))
          .map(_.stripPrefix("pending-").toLong)
          .filter(_ < absId).toSeq.sorted
        val fresh = batch.withColumn("__attempts", lit(0))
        // parked rows have exactly `fresh`'s columns; a replay overwrites
        // pending-<id>, so its schema is passed, never inferred or memoized
        val pending = pendingIds.lastOption
          .map(m => s.read.schema(fresh.schema).parquet(s"$retryDir/pending-$m"))
        val input = pending.map(fresh.unionByName(_)).getOrElse(fresh)
        // a miss = a row failing the temporal JOIN itself (the hint's
        // lookup_miss predicate); the dim stays broadcast — the retry path
        // must not start shuffling the stream
        val missed = input.alias(factAlias)
          .join(broadcast(s.table(dimRef).alias(dimAlias)), expr(onCond),
            "left_anti")
          .withColumn("__attempts", col("__attempts") + lit(1))
        // one job parks the misses under the cap and dead-letters the rest
        RoutedWrite.write(missed, Seq(
          RoutedWrite.Dest(s"$retryDir/pending-$absId",
            col("__attempts") < maxAttempts, missed.columns.toSeq),
          RoutedWrite.Dest(s"$retryDir/dead/batch-$absId",
            col("__attempts") >= maxAttempts,
            missed.columns.toSeq.filterNot(_ == "__attempts"))), retryDir.toString)
        // GC superseded pending files, KEEPING the newest predecessor (a
        // replayed batch must be able to re-read the state it consumed)
        pendingIds.dropRight(1).foreach(m =>
          StreamTable.deleteTree(Paths.get(s"$retryDir/pending-$m")))
        input.drop("__attempts").createOrReplaceTempView(factView)
        conformToDeclared(t, s.sql(rewrittenFor(factView)))
      }).awaitTermination()
    // the per-batch temp view references a pending-<id> dir a later drain's
    // GC deletes — a stale registration would poison later statements that
    // happen to resolve the name (the sibling path's exact discipline)
    finally spark.catalog.dropTempView(factView)
    ok(s"enrichment pipe into $t drained (lookup join: $dim AS OF " +
      s"processing time; retry-on-miss honored, max-attempts=$maxAttempts)")
  }

  /** INSERT-side conformance to the table's declared (evolved) schema:
    * position-map + cast against `ddl.schema`, stamp the computed PROCTIME
    * column, persist renamed columns under their file-level names. Shared
    * by the batch INSERT and the SYSTEM_TIME streaming-enrichment doors. */
  private def conformToDeclared(t: String, in: DataFrame): DataFrame = {
    var df = in
    val opts = catalog.tableOptions(currentDb, t)
    val proct = opts.get("computed.proctime")
    val decl = GraftCatalog.ddlColumns(opts)
    if (decl.nonEmpty) {
      // SQL INSERT maps by POSITION against the declared schema and
      // casts to the declared types; a shorter row (a pre-ADD COLUMN
      // writer, or one omitting the computed PROCTIME column) pads the
      // evolution-added tail with typed nulls
      val target = if (df.columns.length == decl.length) decl
                   else decl.filterNot { case (n, _) => proct.contains(n) }
      require(df.columns.length <= target.length,
        s"INSERT provides ${df.columns.length} columns, $t declares ${decl.length}")
      df = df.toDF(target.take(df.columns.length).map(_._1): _*)
      val have = df.columns.toSet
      // a column added via ADD COLUMN … DEFAULT materializes its CURRENT
      // default when omitted (the V2 door's contract — the two doors must
      // store the same bytes for the same statement); the stored literal is
      // keyed by the DECLARED name
      df = df.select(target.map { case (n, ty) =>
        val c =
          if (have.contains(n)) col(n)
          else opts.get(s"ddl.default.$n").filter(_.nonEmpty)
            .map(expr).getOrElse(lit(null))
        sparkType(ty).map(c.cast).getOrElse(c).as(n)
      }: _*)
    }
    // computed PROCTIME column (guide.md:26): stamped at ingest
    proct.foreach { c =>
      if (!df.columns.contains(c)) df = df.withColumn(c, current_timestamp())
    }
    // renamed columns persist under their FILE-level name so every data
    // file (pre- and post-rename) carries one uniform column; the read
    // view maps it back to the declared name (Paimon's stable-field-id
    // model)
    opts.foreach { case (k, v) =>
      if (k.startsWith("ddl.rename.") && v.nonEmpty) {
        val n = k.stripPrefix("ddl.rename.")
        if (n != v && df.columns.contains(n)) df = df.withColumnRenamed(n, v)
      }
    }
    df
  }

  /** An `ALTER TABLE … ADD COLUMN(S) / DROP COLUMN / RENAME COLUMN` clause
    * as catalog [[TableChange]]s; ADD's column types are Flink spellings. */
  private def columnChanges(clause: String): Seq[TableChange] = clause match {
    case AddColsRe(_) => addedColumns(clause).map { case (n, ty) =>
      TableChange.addColumn(Array(n), sparkType(ty).getOrElse(
        throw new IllegalArgumentException(s"unsupported type '$ty'")))
    }
    case DropColRe(c) => Seq(TableChange.deleteColumn(Array(c), false))
    case RenameColRe(from, to) => Seq(TableChange.renameColumn(Array(from), to))
    case other => throw new IllegalArgumentException(s"unsupported column change: $other")
  }

  /** The columns of `ADD COLUMNS (a T, b U)` or `ADD COLUMN a VARCHAR(20)`
    * with their Flink type spellings; none for any other clause. */
  private def addedColumns(clause: String): Seq[(String, String)] = clause match {
    case AddColsRe(body) =>
      val b = body.trim
      val list = if (b.startsWith("(")) b.stripPrefix("(").stripSuffix(")") else b
      splitTopLevel(list).map { cd =>
        val p = cd.split("\\s+", 2)
        require(p.length == 2, s"ADD COLUMN needs '<name> <type>', got '$cd'")
        (p(0), p(1))
      }
    case _ => Seq.empty
  }

  /** Paimon's `CALL sys.<procedure>(…)` maintenance surface, the SQL face of
    * the flink-action jobs the reference drives from the shell
    * (guide.md:172-177 compact; :180-184 retention). Args are positional
    * literals; the first is always the table name. */
  private def callProcedure(proc: String, args: Seq[String]): DataFrame = {
    require(args.nonEmpty, s"CALL sys.$proc needs a table argument")
    val t = args.head.split("\\.").last
    val table = catalog.getTable(currentDb, t)
    proc match {
      case "rollback_to" =>
        require(args.length == 2, "rollback_to(table, snapshotOrTag)")
        val snap = if (args(1).matches("-?\\d+")) table.rollbackTo(args(1).toLong)
                   else table.rollbackToTag(args(1))
        ok(s"$t rolled back to snapshot ${snap.id}")
      case "create_tag" =>
        require(args.length == 2 || args.length == 3, "create_tag(table, tag[, snapshotId])")
        val id = table.createTag(args(1), args.lift(2).map(_.toLong))
        ok(s"tag ${args(1)} -> snapshot $id")
      case "delete_tag" =>
        require(args.length == 2, "delete_tag(table, tag)")
        ok(s"tag ${args(1)} deleted: ${table.deleteTag(args(1))}")
      case "create_branch" =>
        require(args.length == 2 || args.length == 3,
          "create_branch(table, branch[, tagOrSnapshotId])")
        val seed = table.createBranch(args(1), args.lift(2).filter(_.nonEmpty))
        ok(s"branch ${args(1)} of $t seeded at snapshot $seed")
      case "fast_forward" =>
        require(args.length == 2, "fast_forward(table, branch)")
        val head = table.fastForward(args(1))
        ok(s"$t fast-forwarded to branch ${args(1)}: head snapshot ${head.id}")
      case "delete_branch" =>
        require(args.length == 2, "delete_branch(table, branch)")
        table.deleteBranch(args(1))
        ok(s"branch ${args(1)} of $t deleted")
      case "expire_snapshots" =>
        require(args.length == 4,
          "expire_snapshots(table, retainMin, retainMax, olderThanDuration)")
        val n = table.expireSnapshots(args(1).toInt, args(2).toInt,
          GraftCatalog.parseDurationMs(args(3)))
        ok(s"expired $n snapshots of $t")
      case "expire_partitions" =>
        require(args.length <= 3,
          "expire_partitions(table[, olderThanDuration[, strategy]])")
        val o = catalog.tableOptions(currentDb, t)
        val horizon = args.lift(1).filter(_.nonEmpty)
          .orElse(o.get("partition.expiration-time"))
          .getOrElse(throw new IllegalArgumentException(
            s"$t: pass older_than or set 'partition.expiration-time'"))
        val n = table.expirePartitions(
          GraftCatalog.parseDurationMs(horizon),
          strategy = args.lift(2).filter(_.nonEmpty)
            .orElse(o.get("partition.expiration-strategy"))
            .getOrElse("update-time"),
          timestampFormatter =
            o.getOrElse("partition.timestamp-formatter", "yyyy-MM-dd"),
          timestampPattern = o.get("partition.timestamp-pattern"))
        ok(s"expired $n partition(s) of $t")
      case "compact" =>
        require(args.length <= 2, "compact(table[, targetFileCount])")
        val snap = table.compact(args.lift(1).map(_.toInt).getOrElse(2))
        ok(s"$t compacted: snapshot ${snap.id}, ${snap.files.size} files")
      case "compact_small_files" =>
        require(args.length <= 3, "compact_small_files(table[, smallBytes[, trigger]])")
        table.compactSmallFiles(
          args.lift(1).map(_.toLong).getOrElse(32L << 20),
          math.max(2, args.lift(2).map(_.toInt).getOrElse(4))) match {
          case Some(snap) =>
            ok(s"$t minor-compacted: snapshot ${snap.id}, ${snap.files.size} live files")
          case None => ok(s"$t has no small-file backlog at the trigger — nothing to do")
        }
      case "rescale" =>
        require(args.length == 2, "rescale(table, buckets)")
        val snap = catalog.rescale(currentDb, t, args(1).toInt)
        ok(s"$t rescaled to ${args(1)} buckets: snapshot ${snap.id}")
      case "remove_orphan_files" =>
        require(args.length <= 2, "remove_orphan_files(table[, olderThanDuration])")
        val n = table.removeOrphanFiles(args.lift(1)
          .map(GraftCatalog.parseDurationMs).getOrElse(24L * 3600 * 1000))
        ok(s"removed $n orphan data file(s) of $t" +
          (if (table.lastOrphanManifestsRemoved > 0)
             s" (+${table.lastOrphanManifestsRemoved} unlinked manifest(s))"
           else ""))
      case other =>
        throw new IllegalArgumentException(s"unknown procedure sys.$other")
    }
  }

  /** Positional CALL arguments: quoted strings or bare numeric literals. */
  private def parseCallArgs(raw: String): Seq[String] =
    "'([^']*)'|(-?\\d+\\s*[a-zA-Z]*)".r.findAllMatchIn(raw)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)).trim).toSeq

  private def ok(msg: String): DataFrame = {
    import spark.implicits._
    Seq(msg).toDF("result")
  }
}

object GraftSql {
  private val CreateCatalogRe =
    "(?i)CREATE CATALOG (\\w+) WITH \\((.*)\\)".r
  private val UseCatalogRe = "(?i)USE CATALOG (\\w+)".r
  private val CreateDatabaseRe = "(?i)CREATE DATABASE (?:IF NOT EXISTS )?(\\w+)".r
  private val UseDbRe = "(?i)USE (\\w+)".r
  private val ShowRe = "(?i)SHOW (CATALOGS|DATABASES|TABLES|FUNCTIONS|VIEWS)".r
  private val CreateTableRe =
    "(?i)CREATE TABLE (IF NOT EXISTS )?([\\w.]+) \\((.*)\\) WITH \\((.*)\\)".r
  private val AlterTableRe = "(?i)ALTER TABLE ([\\w.]+) SET \\((.*)\\)".r
  private val DropTableRe = "(?i)DROP TABLE (?:IF EXISTS )?([\\w.]+)".r
  private val DescribeRe = "(?i)DESC(?:RIBE)? ([\\w.]+)".r
  private val SetConfRe = "(?i)SET '([^']+)' = '([^']+)'".r
  private val CallRe = "(?i)CALL sys\\.(\\w+)\\s*\\((.*)\\)".r
  private val InsertRe = "(?i)INSERT INTO ([\\w.]+) (SELECT .*|WITH .*)".r
  // the Flink temporal-join clause (guide.md:139): the dimension table,
  // the AS OF expression (ignored — "AS OF processing time" is the only
  // temporal coordinate a lookup join serves), and the OPTIONAL dim alias
  // (negative lookahead keeps a bare `ON` from being eaten as the alias)
  private val SystemTimeJoinRe =
    ("(?i)JOIN\\s+(\\w+)\\s+FOR\\s+SYSTEM_TIME\\s+AS\\s+OF\\s+" +
      "[\\w.]+(?:\\s+(?:AS\\s+)?(?!ON\\b)(\\w+))?").r
  // the fact table + optional alias, AS-less included; the lookahead stops
  // a JOIN/WHERE/... keyword from being captured as the alias
  private val FromTableRe =
    ("(?i)FROM\\s+(\\w+)(?:\\s+(?:AS\\s+)?" +
      "(?!JOIN\\b|WHERE\\b|ON\\b|GROUP\\b|ORDER\\b|HAVING\\b|LIMIT\\b|" +
      "LEFT\\b|RIGHT\\b|INNER\\b|FULL\\b|CROSS\\b|UNION\\b|NATURAL\\b|" +
      "SEMI\\b|ANTI\\b|LATERAL\\b|TABLESAMPLE\\b|PIVOT\\b|UNPIVOT\\b|" +
      "WINDOW\\b)(\\w+))?").r
  private val HintRe = "(?s)/\\*\\+.*?\\*/".r
  // the LOOKUP hint body (guide.md:122-129) — parsed BEFORE HintRe strips
  // it, so `'retry-predicate'='lookup_miss'` can route the enrichment
  // through the parked-miss requeue instead of being dropped
  private val LookupHintRe = "(?si)/\\*\\+\\s*LOOKUP\\s*\\((.*?)\\)\\s*\\*/".r
  private val HintOptRe = "'([^']+)'\\s*=\\s*'([^']*)'".r
  // the ON condition owning the temporal join: the text following the join
  // clause, up to any trailing batch-clause keyword
  private val OnCondRe =
    "(?is)\\bON\\b(.+?)(?=\\bWHERE\\b|\\bGROUP\\b|\\bORDER\\b|\\bLIMIT\\b|$)".r
  private val AlterColumnsRe =
    "(?i)ALTER TABLE ([\\w.]+) ((?:ADD|DROP|RENAME) COLUMNS? .+)".r
  private val AddColsRe = "(?i)ADD COLUMNS? (.+)".r
  private val DropColRe = "(?i)DROP COLUMNS? (\\w+)".r
  private val RenameColRe = "(?i)RENAME COLUMNS? (\\w+) TO (\\w+)".r
  // Paimon's metadata-table syntax (guide.md:200-232): `$` is no identifier
  // character in Spark SQL, so the shell backtick-quotes the name
  private val MetaTableRe = ("(?<![\\w`])(\\w+)\\$(files|snapshots|tags|" +
    "options|consumers|audit_log|changelog|partitions|branch_\\w+)(?![\\w`])").r
  private val TimestampAsOfRe = "(?i)\\bTIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'".r
  /** Suffixes of the catalog plugin names shells register in the session. */
  private val PluginSeq = new java.util.concurrent.atomic.AtomicLong()
  private val DeleteWhereRe = "(?i)DELETE FROM ([\\w.]+) WHERE (.*)".r
  private val UpdateRe = "(?i)UPDATE ([\\w.]+) SET (.*?) WHERE (.*)".r
  private val MergeRe =
    ("(?i)MERGE INTO ([\\w.]+)(?: AS (\\w+))? USING ([\\w.]+)(?: AS (\\w+))?" +
      " ON (.+?)((?: WHEN (?:NOT )?MATCHED.*))").r
  private val WhenUpdateRe =
    "(?i)WHEN MATCHED(?: AND (.+?))? THEN UPDATE SET (.+)".r
  private val WhenDeleteRe = "(?i)WHEN MATCHED(?: AND (.+?))? THEN DELETE".r
  private val WhenInsertRe =
    "(?i)WHEN NOT MATCHED(?: AND (.+?))? THEN INSERT \\(([^)]*)\\) VALUES \\((.+)\\)".r
  private val WhenInsertStarRe =
    "(?i)WHEN NOT MATCHED(?: AND (.+?))? THEN INSERT \\*".r

  /** Parse the `WHEN …` arms of a MERGE statement into [[StreamTable]]
    * clauses. `INSERT *` expands to the target's columns read from the
    * source alias (so the source must carry them by name). */
  private def parseMergeClauses(body: String, sourceAlias: String,
      targetCols: () => Seq[String]): Seq[StreamTable.MergeClause] = {
    import org.apache.spark.sql.functions.{col, expr}
    // split on clause heads only — an AND guard may itself contain CASE WHEN
    val arms = body.trim.split("(?i)(?=WHEN (?:NOT )?MATCHED)").map(_.trim)
      .filter(_.nonEmpty).toSeq
    require(arms.nonEmpty, "MERGE needs at least one WHEN clause")
    arms.map {
      case WhenUpdateRe(guard, sets) =>
        StreamTable.MatchedUpdate(Option(guard).map(expr),
          splitTopLevel(sets).map { a =>
            val p = a.split("=", 2)
            require(p.length == 2, s"malformed assignment '$a'")
            (p(0).trim.split("\\.").last, expr(p(1).trim))
          })
      case WhenDeleteRe(guard) =>
        StreamTable.MatchedDelete(Option(guard).map(expr))
      case WhenInsertStarRe(guard) =>
        StreamTable.NotMatchedInsert(Option(guard).map(expr),
          targetCols().map(c => c -> col(s"$sourceAlias.$c")))
      case WhenInsertRe(guard, cols, vals) =>
        val names = splitTopLevel(cols).map(_.split("\\.").last)
        val exprs = splitTopLevel(vals).map(expr)
        require(names.length == exprs.length,
          s"INSERT column/value arity mismatch: $names vs ${exprs.length} values")
        StreamTable.NotMatchedInsert(Option(guard).map(expr), names.zip(exprs))
      case arm => throw new IllegalArgumentException(s"unparseable MERGE clause '$arm'")
    }
  }

  /** Split on top-level commas only (a `greatest(a, b)` assignment body or a
    * DECIMAL(5, 1) column type stays whole). */
  private def splitTopLevel(s: String): Seq[String] = {
    val parts = mutable.Buffer[String]()
    var depth = 0; val cur = new StringBuilder
    s.foreach {
      case ',' if depth == 0 => parts += cur.toString.trim; cur.clear()
      case c =>
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        cur += c
    }
    if (cur.nonEmpty) parts += cur.toString.trim
    parts.toSeq
  }

  /** Best-effort Flink-DDL → Spark type (INSERT alignment, the catalog's
    * declared schema). CHAR/VARCHAR read as STRING, as the files store
    * them. Unparseable types yield None and the column is carried uncast. */
  private[graft] def sparkType(ddl: String)
      : Option[org.apache.spark.sql.types.DataType] = {
    val norm = ddl.replaceAll("/\\*.*?\\*/", " ")
      .replaceAll("(?i)\\bTIMESTAMP(?:_LTZ)?\\s*\\(\\d+\\)", "TIMESTAMP")
      .replaceAll("(?i)\\bDOUBLE PRECISION\\b", "DOUBLE")
      .trim
    scala.util.Try(org.apache.spark.sql.types.DataType.fromDDL(norm)).toOption
      .map(org.apache.spark.sql.catalyst.util.CharVarcharUtils.replaceCharVarcharWithString)
  }

  /** `'k' = 'v', …` option lists (WITH blocks, guide.md:27-31). */
  private def parseOptions(s: String): Map[String, String] =
    "'([^']*)'\\s*=\\s*'([^']*)'".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Column-def body → columns; extracts PRIMARY KEY and computed PROCTIME. */
  private def parseColumns(body: String)
      : (Seq[(String, String)], Option[Seq[String]], Option[String]) = {
    val parts = splitTopLevel(body)

    val PkRe = "(?i)PRIMARY KEY \\(([^)]*)\\)(?: NOT ENFORCED)?".r
    val ProcRe = "(?i)(\\w+) AS PROCTIME\\(\\)".r
    var pk: Option[Seq[String]] = None
    var proctime: Option[String] = None
    val cols = parts.flatMap {
      case PkRe(colList) =>
        pk = Some(colList.split(",").map(_.trim).toSeq); None
      case ProcRe(c) =>
        proctime = Some(c); Some(c -> "TIMESTAMP /* PROCTIME() */")
      case cd =>
        val p = cd.split("\\s+", 2)
        Some(p(0) -> p.lift(1).getOrElse("STRING"))
    }
    (cols.toSeq, pk, proctime)
  }
}
