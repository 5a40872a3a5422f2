package graft.sources.v2

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import graft.{QDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.{GraftCatalog, StreamTable}

/** Registry queries for the DataSourceV2 connector ([[GraftDataSource]]) and
  * the Spark catalog plugin ([[GraftSparkCatalog]]) — each stages a
  * StreamTable from driver testdata once per sf dir, then reads it back
  * through the PUBLIC Spark surface (`format("graft")` / a qualified
  * `catalog.db.table` identifier in plain SQL), so the whole connector path
  * (manifest → stats skipping → projection/pushdown → Group assembly) is
  * DuckDB-oracle-checked against the original table. */
object V2Queries {

  /** lineitem slice written as 8 KEY-RANGE batches — per-file min/max are
    * disjoint, so a key-range filter genuinely skips files (asserted in
    * V2ConnectorSpec), mirroring how a date-bucketed 100 TB table skips
    * historical files. */
  private val stagedTable = new ConcurrentHashMap[String, String]()
  private def lineitemTable(s: SparkSession, d: String): String =
    stagedTable.computeIfAbsent(d, { _ =>
      val root = Files.createTempDirectory("graft_v2_li_").toString
      val tbl = new StreamTable(root, s)
      val li = Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
      val maxKey = li.agg(max("l_orderkey")).head().getLong(0)
      val width = maxKey / 8 + 1
      for (b <- 0L until 8L)
        tbl.appendBatch(
          li.where(col("l_orderkey") >= b * width && col("l_orderkey") < (b + 1) * width)
            .repartition(1), b)
      root
    })

  /** orders written through the catalog warehouse (timestamp + string +
    * double coverage for the connector's type bridge). */
  private val stagedCat = new ConcurrentHashMap[String, (String, String)]()
  private def ordersCatalog(s: SparkSession, d: String): (String, String) =
    stagedCat.computeIfAbsent(d, { _ =>
      val wh = Files.createTempDirectory("graft_v2_wh_").toString
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "orders_t", Map.empty)
      tbl.appendBatch(Tables.orders(s, d), 0L)
      // catalog instances are cached per name after first resolution, so the
      // name carries the warehouse identity (one catalog per sf dir)
      val catName = s"graft_v2_${Integer.toHexString(wh.hashCode).take(6)}"
      s.conf.set(s"spark.sql.catalog.$catName", classOf[GraftSparkCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
      (catName, wh)
    })

  val all: Seq[QDef] = Seq(
    // format("graft"): key-range + quantity predicate over the range-batched
    // table. The scan must (a) prune files by footer stats, (b) push the
    // comparisons into parquet row-group filtering, (c) read only the four
    // projected columns — V2ConnectorSpec asserts all three on the plan; the
    // oracle pins the answer.
    QDef(
      "q_source_v2_pushdown",
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 2500 AND l_quantity > 10
        |ORDER BY l_orderkey, l_partkey, l_quantity, l_extendedprice""".stripMargin) { (s, d) =>
      s.read.format("graft").load(lineitemTable(s, d))
        .where(col("l_orderkey").between(1000, 2500) && col("l_quantity") > 10)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    },

    // Catalog plugin: plain SQL against a qualified identifier — full
    // Catalyst resolution through the TableCatalog, no DataFrame-API escape
    // hatch. Exercises the timestamp bridge (o_orderdate) end to end.
    QDef(
      "q_source_v2_catalog",
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderstatus
        |FROM orders WHERE o_totalprice > 400000
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val (catName, _) = ordersCatalog(s, d)
      s.sql(
        s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderstatus
           |FROM $catName.v2db.orders_t WHERE o_totalprice > 400000
           |ORDER BY o_orderkey""".stripMargin)
    },

    // readStream.format("graft"): the stream-batch duality (the reference's
    // central theme, guide.md:51-56, :144-164) as a NATIVE Spark source —
    // offsets are snapshot ids, the first trigger catches up the live set
    // and later triggers consume exactly the newly committed appends. The
    // 8 range-batches of the staged table arrive across micro-batches and
    // the memory-sink union must equal the batch read = the oracle.
    QDef(
      "q_stream_v2_source",
      """SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_partkey, l_quantity, l_extendedprice""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.streaming.Trigger
      val name = "v2s_" + java.util.UUID.randomUUID().toString.take(8).replace("-", "")
      // select INSIDE the stream: V2 column pruning reaches the per-file
      // readers of every micro-batch, not just the batch path
      val q = s.readStream.format("graft").load(lineitemTable(s, d))
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(name)
        .orderBy("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    },

    // SQL DML end to end: CREATE TABLE + INSERT INTO … SELECT through the
    // catalog plugin (the reference's continuous `INSERT INTO` pipe,
    // guide.md:36-39, in its batch form), then read the table back through
    // the same connector. The write lands via appendBatch's distributed
    // staging + atomic manifest commit — V1Write hands over the LOGICAL
    // plan, so nothing materializes on the driver.
    QDef(
      "q_source_v2_write",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_acctbal > 0 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2w_customer")
      if (!s.catalog.tableExists(s"$catName.v2db.rich_customers")) {
        s.sql(s"""CREATE TABLE $catName.v2db.rich_customers
                 |(c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)""".stripMargin)
        s.sql(s"""INSERT INTO $catName.v2db.rich_customers
                 |SELECT c_custkey, c_name, c_acctbal FROM graft_v2w_customer
                 |WHERE c_acctbal > 0""".stripMargin)
      }
      s.sql(s"SELECT c_custkey, c_name, c_acctbal " +
        s"FROM $catName.v2db.rich_customers ORDER BY c_custkey")
    },

    // VERSION AS OF through plain SQL: two committed versions of a nation
    // copy (batch 0 = the table verbatim; batch 1 = offset replicas); the
    // pinned read of snapshot 0 must reproduce the source table exactly —
    // the shell's time-travel surface (guide.md:180-184 retention model),
    // now native to the Spark catalog.
    QDef(
      "q_source_v2_time_travel",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val catName = ttTable(s, d)
      s.sql(s"""SELECT n_nationkey, n_name, n_regionkey
               |FROM $catName.v2db.nation_tt VERSION AS OF 0
               |ORDER BY n_nationkey""".stripMargin)
    },

    // Aggregate pushdown: a global COUNT/MIN/MAX is answered ENTIRELY from
    // the manifest (Σ rowCount) + typed footer stats — the scan reads zero
    // data bytes (V2ConnectorSpec asserts no HashAggregate survives in the
    // plan and the scan advertises PushedAggregates). The Paimon/Iceberg
    // metadata-only count, native to Spark's SupportsPushDownAggregates.
    QDef(
      "q_source_v2_agg_pushdown",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |FROM lineitem""".stripMargin) { (s, d) =>
      s.read.format("graft").load(lineitemTable(s, d))
        .agg(count(lit(1)).as("n_rows"),
          min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"))
    },

    // LIMIT pushdown: each file reader stops after the pushed row count, so
    // a bare LIMIT n over a huge table reads ~n rows per file instead of
    // the table. The count-around-limit form keeps the answer deterministic
    // (min(n, total)) while the inner scan still carries the pushed limit.
    QDef(
      "q_source_v2_limit",
      """SELECT CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT * FROM lineitem LIMIT 5000)""".stripMargin) { (s, d) =>
      s.read.format("graft").load(lineitemTable(s, d))
        .limit(5000).agg(count(lit(1)).as("n"))
    },

    // Reported statistics: the scan exposes manifest size/row counts, so
    // Catalyst AUTO-broadcasts the small graft side of this join — no
    // broadcast() hint anywhere (V2ConnectorSpec asserts the BHJ). Without
    // SupportsReportStatistics a V2 relation is "unknown = huge" and every
    // join over it shuffles.
    QDef(
      "q_source_v2_stats_join",
      """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_cust
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin) { (s, d) =>
      val catName = nationTable(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2s_customer")
      s.sql(
        s"""SELECT n.n_name, count(*) AS n_cust
           |FROM graft_v2s_customer c
           |JOIN $catName.v2db.nation_small n ON c.c_nationkey = n.n_nationkey
           |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin)
    },

    // Native streaming SINK (the write-side dual of q_stream_v2_source): a
    // graft→graft pipe — readStream from the 8-range-batch table through
    // writeStream.format("graft"), executor parquet writers committing one
    // snapshot per epoch with per-queryId writer offsets (exactly-once
    // across restarts). The sink table's batch read must equal the source
    // projection = the oracle. A 24th real Structured Streaming job.
    QDef(
      "q_stream_v2_sink",
      """SELECT l_orderkey, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_quantity""".stripMargin) { (s, d) =>
      val dst = sinkTable(s, d)
      s.read.format("graft").load(dst)
        .select("l_orderkey", "l_quantity")
        .orderBy("l_orderkey", "l_quantity")
    },

    // INSERT OVERWRITE: atomic whole-table replacement — the new snapshot's
    // live set is exactly the overwrite batch (readers see old or new,
    // never a mix), and the replaced version stays time-travelable until
    // retention. Staged once per sf dir: full customer, then OVERWRITE with
    // the positive-balance slice; the read sees only the overwrite.
    QDef(
      "q_source_v2_overwrite",
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE c_acctbal > 0 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = overwriteTable(s, d)
      s.sql(s"""SELECT c_custkey, c_mktsegment, c_acctbal
               |FROM $catName.v2db.ovw_customers ORDER BY c_custkey""".stripMargin)
    },

    // Storage-partitioned join: lineitem and orders staged as CO-BUCKETED
    // graft tables (bucket(8, orderkey), recorded per file in the manifest);
    // under V2 bucketing the scans report KeyGroupedPartitioning over the
    // catalog-served bucket function, so the fact-fact join needs NO
    // exchange on either side. The MERGE hint pins the sort-merge join at
    // every scale (broadcast would otherwise usurp it at test SF), so the
    // registry query executes the genuinely storage-partitioned plan —
    // V2ConnectorSpec additionally asserts exchange-freedom. The 100 TB
    // fact-fact join story: pay the shuffle once at write time, never per
    // query.
    QDef(
      "q_join_spj",
      """SELECT l.l_orderkey AS okey, CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
        |       max(o.o_totalprice) AS o_total
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderstatus = 'F'
        |GROUP BY l.l_orderkey ORDER BY okey""".stripMargin) { (s, d) =>
      val catName = spjTables(s, d)
      // deliberately session-global and NOT restored: plans resolve lazily
      // (a restore here would disable SPJ at execution time), and the conf
      // only changes scans of bucket-keyed graft tables — in this registry,
      // exactly the two tables this query stages
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.sql(
        s"""SELECT /*+ MERGE(l) */ l.l_orderkey AS okey, count(*) AS n_lines,
           |       CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_qty,
           |       max(o.o_totalprice) AS o_total
           |FROM $catName.v2db.spj_lineitem l
           |JOIN $catName.v2db.spj_orders o ON l.l_orderkey = o.o_orderkey
           |WHERE o.o_orderstatus = 'F'
           |GROUP BY l.l_orderkey ORDER BY okey""".stripMargin)
    },

    // Metadata (system) columns: `_graft_file` / `_graft_seq` filled by the
    // reader from the manifest entry it already holds — per-row provenance
    // with zero data-file cost (Paimon's `__paimon_file_path` surface,
    // Spark's `_metadata` idiom). The staging rule (8 key-range batches,
    // seq b covers [b·width, (b+1)·width)) makes the commit sequence a pure
    // function of the key, so the per-commit census is fully oracle-checked
    // without exposing file paths (parallelism-dependent; spec-asserted).
    QDef(
      "q_source_v2_metadata",
      """WITH w AS (SELECT max(l_orderkey) // 8 + 1 AS width FROM lineitem)
        |SELECT l_orderkey // width AS commit_seq,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
        |FROM lineitem, w
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      s.read.format("graft").load(lineitemTable(s, d))
        .groupBy(col("_graft_seq").as("commit_seq"))
        .agg(count(lit(1)).as("n_rows"),
          min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"))
        .orderBy("commit_seq")
    },

    // PK merge-on-read through the catalog: the reference's SIGNATURE table
    // (the primary-key upsert `sensor_info`, guide.md:59-74) readable in
    // plain SQL. Staged as base + updates + deletes; the scan resolves
    // last-writer-wins PER BUCKET inside the readers (V2PkRead.scala) with
    // zero exchanges — V2ConnectorSpec asserts the per-bucket plan and the
    // point-lookup bucket pruning; the oracle pins the resolved view.
    QDef(
      "q_source_v2_pk_read",
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS acctbal
        |FROM customer WHERE c_custkey % 7 <> 0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = pkTable(s, d)
      s.sql(s"""SELECT c_custkey, c_name, c_acctbal AS acctbal
               |FROM $catName.v2db.pk_cust ORDER BY c_custkey""".stripMargin)
    },

    // Batch INCREMENTAL read (Paimon's `incremental-between`): the (0, 2]
    // snapshot interval of the staged PK history netted per changed key as
    // +I/-U/+U/-D — the streaming CDC trigger's exact batch, through the
    // DataFrameReader door, on a table WITHOUT a persisted changelog (the
    // per-bucket state-diff fallback running as a batch scan). Keys the
    // interval never touched stay silent; the deleted keys retract their
    // snapshot-0 image.
    QDef(
      "q_source_v2_incremental",
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
        |SELECT * FROM (
        |  SELECT c_custkey, c_name, c_acctbal, '-U' AS op FROM base
        |  WHERE c_custkey % 3 = 0 AND c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 1000, '+U' FROM base
        |  WHERE c_custkey % 3 = 0 AND c_custkey % 7 <> 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, '-D' FROM base
        |  WHERE c_custkey % 7 = 0
        |) ORDER BY c_custkey, op""".stripMargin) { (s, d) =>
      pkTable(s, d) // stage the 3-commit history
      val (_, wh) = ordersCatalog(s, d)
      s.read.format("graft").option("incremental-between", "0,2")
        .load(s"$wh/v2db.db/pk_cust")
        .orderBy("c_custkey", "op")
    },

    // BRANCHES (Paimon create_branch / fast_forward): write-audit-publish —
    // a risky backfill stages on an independent snapshot chain seeded from
    // a tag (zero data copy: the seed manifest references the parent's
    // files), gets audited there (`t$branch_<name>` reads), and publishes
    // onto main ATOMICALLY through the same CAS every commit uses. The
    // stager pins the audit invariant (main untouched while staged); the
    // oracle pins the post-fast-forward view.
    QDef(
      "q_source_v2_branch",
      """SELECT c_custkey, c_acctbal FROM customer
        |UNION ALL
        |SELECT c_custkey + 1000000, c_acctbal + 1000 FROM customer
        |WHERE c_custkey % 10 = 0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = wapTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal
               |FROM $catName.v2db.br_customers ORDER BY c_custkey""".stripMargin)
    },

    // Incremental read BETWEEN TAGS (Paimon's incremental-between-tags,
    // the tag-per-day daily-diff workflow): nightly tags pin each day's
    // head, and "day1,day2" reads exactly day 2's ingested rows — the
    // endpoints resolve through the same tag map time travel uses, so a
    // tag and its snapshot id are interchangeable (spec pins equivalence;
    // the stager pins it here too, plus mixed tag/id endpoints).
    QDef(
      "q_source_v2_inc_tags",
      """SELECT c_custkey, c_acctbal, '+I' AS op FROM customer
        |WHERE c_custkey % 2 = 1 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val root = incTagsTable(s, d)
      s.read.format("graft").option("incremental-between", "day1,day2")
        .load(root).orderBy("c_custkey")
    },

    // DYNAMIC BUCKET MODE (Paimon's `bucket = -1`), re-derived Spark-first:
    // the bucket stays PURE CONTENT HASH (pmod over a power-of-two count)
    // and the COUNT is versioned snapshot state that doubles when a bucket
    // outgrows dynamic-bucket.target-row-num — extendible hashing instead
    // of Paimon's writer-maintained key→bucket index, so ingest needs zero
    // index state and the split is an atomic compaction commit. The stager
    // forces two growth generations and an UPSERT whose versions straddle a
    // split boundary (the split relabels everything, so versions co-locate
    // at every snapshot); the oracle pins the resolved LWW view through the
    // V2 per-bucket merge readers.
    QDef(
      "q_source_v2_dyn_bucket",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100
        |       ELSE c_acctbal END AS bal
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = dynBucketTable(s, d)
      s.sql(s"""SELECT c_custkey, bal
               |FROM $catName.v2db.dynb_cust ORDER BY c_custkey""".stripMargin)
    },

    // The `t$audit_log` system table: Paimon's literal BATCH semantics —
    // the current resolved state with every live row `+I` (history lives in
    // `t$changelog` below and the CDC stream). Pins the cross-door parity:
    // the resolved PK view with `rowkind` appended.
    QDef(
      "q_source_v2_audit_log",
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS acctbal,
        |  '+I' AS rowkind
        |FROM customer WHERE c_custkey % 7 <> 0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = pkTable(s, d)
      s.sql(s"""SELECT c_custkey, c_name, c_acctbal AS acctbal, rowkind
               |FROM $catName.v2db.`pk_cust$$audit_log`
               |ORDER BY c_custkey""".stripMargin)
    },

    // The `t$changelog` system table: the RETAINED change history of a
    // `changelog-producer` table in plain SQL — snapshot 0 resolves as +I,
    // every later commit is a pass-through of its PERSISTED changelog files
    // (O(changelog bytes), no state resolve, no netting across commits —
    // a log, not an interval diff). The deletes retract the CURRENT
    // (post-update) image, unlike the interval read above, because each
    // commit's changelog diffs against its own predecessor.
    QDef(
      "q_source_v2_change_history",
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
        |SELECT * FROM (
        |  SELECT c_custkey, c_name, c_acctbal, '+I' AS rowkind FROM base
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal, '-U' FROM base WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal + 1000, '+U' FROM base WHERE c_custkey % 3 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END, '-D'
        |  FROM base WHERE c_custkey % 7 = 0
        |) ORDER BY c_custkey, rowkind""".stripMargin) { (s, d) =>
      val catName = audTable(s, d)
      s.sql(s"""SELECT c_custkey, c_name, c_acctbal, rowkind
               |FROM $catName.v2db.`aud_cust$$changelog`
               |ORDER BY c_custkey, rowkind""".stripMargin)
    },

    // Aggregation merge engine through plain SQL: same-key rows collapse by
    // the declared per-field function (sum/max here) INSIDE the per-bucket
    // readers — associative+commutative functions make the bucket-local fold
    // equal the distributed aggregate, so the scan stays zero-exchange like
    // the LWW PK read. Staged as two overlapping lineitem slices whose keyed
    // sums must equal a plain GROUP BY over the union = the whole table.
    QDef(
      "q_source_v2_pk_agg",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |  max(l_extendedprice) AS max_price,
        |  bool_and(l_quantity < 30) AS all_small,
        |  bool_or(l_returnflag = 'R') AS any_return
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      val catName = pkAggTable(s, d)
      s.sql(s"""SELECT l_orderkey, qty_cents, max_price, all_small, any_return
               |FROM $catName.v2db.agg_li ORDER BY l_orderkey""".stripMargin)
    },

    // ORDERED merge-engine functions (Paimon's listagg / collect) under an
    // explicit sequence group: contributions fold in (sequence, commit)
    // order with per-contribution provenance persisted at compaction, so a
    // compacted partial fold re-merges with OUT-OF-ORDER arrivals to the
    // same seq-ordered result (the stager compacts between the two halves
    // to force exactly that). The per-bucket readers fold them in
    // (sequence, commit, value) order.
    QDef(
      "q_source_v2_pk_listagg",
      """SELECT l_orderkey,
        |  string_agg(l_returnflag, ','
        |    ORDER BY l_linenumber, l_returnflag) AS flags,
        |  string_agg(CAST(l_partkey AS VARCHAR), ','
        |    ORDER BY l_linenumber, CAST(l_partkey AS VARCHAR)) AS parts
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, d) =>
      val root = pkListaggTable(s, d)
      graft.table.GraftCatalog.openPath(s, root).read
        .select(col("l_orderkey"), col("flags"),
          array_join(col("parts"), ",").as("parts"))
        .orderBy("l_orderkey")
    },

    // merge_map under a sequence group (the last of Paimon's ordered
    // aggregation functions): map contributions fold in (sequence, commit)
    // order with LATER-BY-SEQUENCE entries overwriting earlier PER MAP KEY —
    // the listagg/collect provenance machinery with a key-aware render. The
    // stager compacts between the even- and odd-sequence halves, so the
    // compacted partial map must re-merge with OUT-OF-ORDER arrivals to the
    // same per-key winners; the oracle pins the exploded map against the
    // last-by-(sequence, value) row per (pk, map key) — the value tiebreak
    // matters because the synthetic lineitem carries duplicate
    // (order, linenumber) rows, and both engines must break ties alike.
    QDef(
      "q_source_v2_pk_mergemap",
      """SELECT l_orderkey, part, flag FROM (
        |  SELECT l_orderkey, CAST(l_partkey AS VARCHAR) AS part,
        |    l_returnflag AS flag,
        |    row_number() OVER (PARTITION BY l_orderkey, l_partkey
        |      ORDER BY l_linenumber DESC, l_returnflag DESC) AS rn
        |  FROM lineitem)
        |WHERE rn = 1 ORDER BY l_orderkey, part""".stripMargin) { (s, d) =>
      val root = pkMergeMapTable(s, d)
      // explode_outer, not explode: InferFiltersFromGenerate only fires on
      // non-outer generates, and the filter it would add (`size(attrs) > 0
      // AND isnotnull(attrs)`) substitutes through the read's render Project
      // — re-running the O(entries²) merge_map dedup chain twice more per
      // group (guide §1.2/codegen). The two are result-identical HERE: every
      // staged group folds ≥1 contribution whose map carries ≥1 non-null
      // (partkey, flag) entry, so `attrs` is never null/empty and the outer
      // variant emits no null rows (oracle-checked at both small SFs).
      // ... and the presentation sort range-partitions the 150k PRE-explode
      // rows on the group key (the sort prefix, so partition order + the
      // within-partition sort IS the declared total order — all of one
      // orderkey's exploded rows stay in one partition): a plain
      // `orderBy(l_orderkey, part)` above the explode samples its child by
      // RE-EXECUTING the render+explode stage and ships 600k exploded rows
      // through the range exchange instead of 150k map rows (guide §2.3).
      graft.table.GraftCatalog.openPath(s, root).read
        .repartitionByRange(col("l_orderkey"))
        .select(col("l_orderkey"), explode_outer(col("attrs")).as(Seq("part", "flag")))
        .sortWithinPartitions("l_orderkey", "part")
    },

    // CDC over AGGREGATES: the changelog stream on an aggregation-engine
    // table nets each interval per changed key as -U(old accumulated image)
    // / +U(new) — what a downstream retract/accumulate consumer applies to
    // stay on the merged value; keys first seen in the interval emit +I.
    // Staged as two drains of one checkpoint over the even-partkey slice
    // then the odd-partkey slice of lineitem. A 26th real streaming job.
    QDef(
      "q_stream_v2_agg_changelog",
      """WITH ev AS (
        |  SELECT l_orderkey, CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |         max(l_extendedprice) AS max_price
        |  FROM lineitem WHERE l_partkey % 2 = 0 GROUP BY l_orderkey),
        |tot AS (
        |  SELECT l_orderkey, CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |         max(l_extendedprice) AS max_price
        |  FROM lineitem GROUP BY l_orderkey),
        |odd AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_partkey % 2 = 1)
        |SELECT l_orderkey, qty_cents, max_price, '+I' AS op FROM ev
        |UNION ALL
        |SELECT e.l_orderkey, e.qty_cents, e.max_price, '-U' FROM ev e JOIN odd USING (l_orderkey)
        |UNION ALL
        |SELECT t.l_orderkey, t.qty_cents, t.max_price, '+U'
        |FROM tot t JOIN odd USING (l_orderkey)
        |WHERE EXISTS (SELECT 1 FROM ev e WHERE e.l_orderkey = t.l_orderkey)
        |UNION ALL
        |SELECT t.l_orderkey, t.qty_cents, t.max_price, '+I'
        |FROM tot t JOIN odd USING (l_orderkey)
        |WHERE NOT EXISTS (SELECT 1 FROM ev e WHERE e.l_orderkey = t.l_orderkey)
        |ORDER BY l_orderkey, op""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types._
      val rows = aggChangelogRows(s, d)
      s.createDataFrame(rows.asJava, StructType(Seq(
        StructField("l_orderkey", LongType), StructField("qty_cents", LongType),
        StructField("max_price", DoubleType), StructField("op", StringType))))
        .orderBy("l_orderkey", "op")
    },

    // Native row-level DELETE: Spark's `DELETE FROM … WHERE` against the
    // V2 catalog (SupportsDelete) routed to the engine's touched-file-pruned
    // copy-on-write — non-overlapping files are neither read nor rewritten,
    // and the pre-delete version stays time-travelable (asserted in
    // V2ConnectorSpec). Staged once: full customer, then SQL-delete the
    // negative balances; the read sees only the survivors.
    QDef(
      "q_source_v2_delete",
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE NOT (c_acctbal < 0) ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = deleteTable(s, d)
      s.sql(s"""SELECT c_custkey, c_mktsegment, c_acctbal
               |FROM $catName.v2db.del_customers ORDER BY c_custkey""".stripMargin)
    },

    // Metadata-only schema evolution through native ALTER TABLE: ADD COLUMN
    // (pre-evolution files null-fill at read), then RENAME COLUMN (files
    // keep serving the old name through a declared→file mapping the scan
    // translates at plan time) — no data file is ever rewritten
    // (V2ConnectorSpec asserts DROP COLUMN and pushdown-through-rename too).
    QDef(
      "q_source_v2_evolution",
      """SELECT c_custkey, c_name AS cust_name,
        |  CASE WHEN c_custkey % 2 = 1 THEN c_acctbal ELSE NULL END AS acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = evoTable(s, d)
      s.sql(s"""SELECT c_custkey, cust_name, c_acctbal AS acctbal
               |FROM $catName.v2db.evo_customers ORDER BY c_custkey""".stripMargin)
    },

    // Streaming CHANGELOG read (Paimon's audit_log/CDC stream): the +I/-U/
    // +U/-D alphabet over a PK table through readStream.format("graft")
    // .option("read-changelog", true) — snapshot-pair offsets, per-bucket
    // interval diff inside the readers (V2Changelog.scala). Staged as two
    // drains of one checkpoint: the initial catch-up (+I of the base state),
    // then updates + deletes netted into -U/+U pairs and -D retractions.
    // A 25th real Structured Streaming job; oracled row-for-row.
    QDef(
      "q_stream_v2_changelog",
      """SELECT c_custkey, c_name, c_acctbal AS acctbal, '+I' AS op FROM customer
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, '-U' FROM customer
        |WHERE c_custkey % 3 = 0 AND c_custkey % 7 <> 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal + 1000, '+U' FROM customer
        |WHERE c_custkey % 3 = 0 AND c_custkey % 7 <> 0
        |UNION ALL
        |SELECT c_custkey, c_name, c_acctbal, '-D' FROM customer
        |WHERE c_custkey % 7 = 0
        |ORDER BY c_custkey, op""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.types._
      val rows = changelogRows(s, d)
      s.createDataFrame(rows.asJava, StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("acctbal", DoubleType), StructField("op", StringType))))
        .orderBy("c_custkey", "op")
    },

    // Native UPDATE: Spark's group-based row-level operation backed by
    // file-granular copy-on-write (V2RowLevel.scala) — runtime group
    // filtering rewrites only files containing matching rows; one atomic
    // scanned-for-staged manifest swap; pre-update version stays
    // time-travelable (V2ConnectorSpec asserts all three).
    QDef(
      "q_source_v2_update",
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100 ELSE c_acctbal END AS acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = updateTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal AS acctbal
               |FROM $catName.v2db.upd_customers ORDER BY c_custkey""".stripMargin)
    },

    // Native MERGE INTO (ANSI): matched UPDATE + not-matched INSERT through
    // the same group-based COW — the CDC upsert shape in one statement.
    QDef(
      "q_source_v2_merge",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN 0.0 ELSE c_acctbal END AS acctbal
        |FROM customer
        |UNION ALL
        |SELECT c_custkey + 10000000, c_acctbal FROM customer WHERE c_custkey % 5 = 0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = mergeTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal AS acctbal
               |FROM $catName.v2db.mrg_customers ORDER BY c_custkey""".stripMargin)
    },

    // Native UPDATE under `rowlevel.mode=dv` (merge-on-read): Spark's
    // delta-based row-level operation (SupportsDelta, V2RowLevel.scala) —
    // matched rows become deletion-vector positions keyed by the
    // (_graft_file, _graft_pos) row id, updated images append as level-1
    // files, NO data file is rewritten (DeltaDmlSpec pins the zero-rewrite
    // property). Cost ∝ matches — the 100 TB trickle-update posture.
    QDef(
      "q_source_v2_dv_update",
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN c_acctbal - 50 ELSE c_acctbal END AS acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = dvUpdateTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal AS acctbal
               |FROM $catName.v2db.dvu_customers ORDER BY c_custkey""".stripMargin)
    },

    // Native MERGE INTO under `rowlevel.mode=dv`: matched DELETE and
    // matched UPDATE commit as deletion vectors, not-matched INSERT appends
    // — the GDPR-delete + CDC-trickle shape in one statement, cost ∝
    // matches instead of touched file bytes.
    QDef(
      "q_source_v2_dv_merge",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 7 <> 0 AND c_custkey % 3 = 0 THEN c_acctbal * 3 ELSE c_acctbal END AS acctbal
        |FROM customer WHERE c_custkey % 7 <> 0
        |UNION ALL
        |SELECT c_custkey + 20000000, c_acctbal FROM customer WHERE c_custkey % 4 = 0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = dvMergeTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal AS acctbal
               |FROM $catName.v2db.dvm_customers ORDER BY c_custkey""".stripMargin)
    },

    // PARTITIONED BY through the native catalog: identity partitions make
    // every batch-written file SINGLE-VALUED in the key (the directory
    // split rides on dropped copies; values stay in the payload), so a
    // partition predicate prunes EXACTLY via the existing manifest-stats
    // skip — no directory parsing, no new read path (PartitionSpec pins
    // files=k/N exactness).
    QDef(
      "q_source_v2_partitioned",
      """SELECT c_custkey, c_acctbal AS acctbal FROM customer
        |WHERE c_mktsegment = 'MACHINERY' ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = partTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal AS acctbal
               |FROM $catName.v2db.part_customers
               |WHERE c_mktsegment = 'MACHINERY' ORDER BY c_custkey""".stripMargin)
    },

    // The `$partitions` system table: the operator-visible per-partition
    // census (Paimon parity), folded from manifest stats alone — zero data
    // bytes at any size (single-valued files make the fold exact; unprovable
    // files fail loudly). Row counts oracle against the source group-by;
    // file counts/sizes stay spec-only (write-parallelism-dependent).
    QDef(
      "q_source_v2_partitions_meta",
      """SELECT concat('{', c_mktsegment, '}') AS partition,
        |       CAST(count(*) AS BIGINT) AS record_count
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val catName = partTable(s, d)
      s.sql(s"""SELECT partition, record_count
               |FROM $catName.v2db.`part_customers$$partitions`
               |ORDER BY partition""".stripMargin)
    },

    // Partition EXPIRY (Paimon's partition.expiration-time /
    // CALL sys.expire_partitions): whole partitions age out as ONE
    // metadata-only commit riding the null-guarded single-valued proofs —
    // the retention story at partition granularity, without which a
    // date-partitioned 100 TB ingest accumulates partitions forever. The
    // oracle pins the surviving view ≡ the in-window slice; the stager
    // asserts the drop commit, the census, physical reclaim via snapshot
    // retention, and the time-travel refusal past expiry.
    QDef(
      "q_source_v2_part_expire",
      """SELECT c_custkey, c_acctbal AS acctbal FROM customer
        |WHERE c_custkey % 3 = 2 ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = partExpireTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal AS acctbal
               |FROM $catName.v2db.pex_customers ORDER BY c_custkey""".stripMargin)
    },

    // Static INSERT OVERWRITE ... PARTITION (the Paimon/Hive partition-load
    // idiom): exactly the named partition's files swap for the staged rows
    // in one atomic commit — single-valued files make the replacement set
    // provably exact, untouched partitions survive byte-identical
    // (PartitionSpec), and rows outside the named partition refuse loudly.
    QDef(
      "q_source_v2_part_overwrite",
      """SELECT c_custkey, c_acctbal AS acctbal FROM customer
        |WHERE c_mktsegment <> 'FURNITURE'
        |UNION ALL
        |SELECT c_custkey, 0.0 FROM customer
        |WHERE c_mktsegment = 'FURNITURE' AND c_custkey % 2 = 0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = partOverwriteTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal AS acctbal
               |FROM $catName.v2db.pow_customers ORDER BY c_custkey""".stripMargin)
    },

    // Native streaming sink into a PARTITIONED BY table: the continuous
    // date-partitioned ingest every 100 TB pipeline runs — sink task writers
    // split files per partition value (content-derived, like the bucket
    // split), so the streamed table serves partition predicates with EXACT
    // file pruning and stays overwrite-provable (PartitionSpec pins both).
    QDef(
      "q_stream_v2_part_sink",
      """SELECT c_custkey, c_acctbal AS acctbal FROM customer
        |WHERE c_mktsegment = 'BUILDING' ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val dst = partSinkTable(s, d)
      s.read.format("graft").load(dst)
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_acctbal").as("acctbal"))
        .orderBy("c_custkey")
    },

    // DYNAMIC partition overwrite (Paimon's default batch-overwrite
    // semantics, the multi-day backfill idiom): `overwritePartitions()`
    // replaces exactly the partitions the staged rows land in — two
    // partitions rewritten in ONE atomic commit, untouched partitions
    // byte-identical (PartitionSpec pins file identity + the
    // non-clustered-file refusal).
    QDef(
      "q_source_v2_part_overwrite_dyn",
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE c_mktsegment NOT IN ('FURNITURE', 'AUTOMOBILE')
        |UNION ALL
        |SELECT c_custkey, c_mktsegment, 0.0 FROM customer
        |WHERE c_mktsegment IN ('FURNITURE', 'AUTOMOBILE') AND c_custkey % 2 = 0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = partDynTable(s, d)
      s.sql(s"""SELECT c_custkey, c_mktsegment, c_acctbal
               |FROM $catName.v2db.powd_customers ORDER BY c_custkey""".stripMargin)
    },

    // Native UPDATE on a PRIMARY-KEY table: Spark's delta-based row-level
    // operation in the PK table's own merge-on-read alphabet
    // (GraftPkDeltaOperation) — updated images re-append through ONE
    // appendBatch and LWW supersedes the old versions; no deletion vectors,
    // no rewrites, and the DML is fully changelog-visible (level-0), unlike
    // append-table DML. Cost ∝ matches.
    QDef(
      "q_source_v2_pk_update",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 9 = 2 THEN c_acctbal + 777 ELSE c_acctbal END AS acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = pkUpdateTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal AS acctbal
               |FROM $catName.v2db.pkupd_customers ORDER BY c_custkey""".stripMargin)
    },

    // Native MERGE INTO on a PRIMARY-KEY table: matched DELETE → tombstone
    // rows (carrying the live sequence), matched UPDATE → re-appended
    // images, not-matched INSERT → plain appends — all in one level-0
    // commit through the same appendBatch path as the library mergeInto.
    QDef(
      "q_source_v2_pk_merge",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 11 <> 0 AND c_custkey % 5 = 0 THEN 0.0 ELSE c_acctbal END AS acctbal
        |FROM customer WHERE c_custkey % 11 <> 0
        |UNION ALL
        |SELECT c_custkey + 30000000, c_acctbal FROM customer WHERE c_custkey % 6 = 0
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = pkMergeTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal AS acctbal
               |FROM $catName.v2db.pkmrg_customers ORDER BY c_custkey""".stripMargin)
    },

    // PK upsert through the NATIVE V2 streaming sink: a graft→graft pipe
    // whose target is a primary-key table — the sink stamps each epoch's
    // rows with its writer-offset commit sequence, so the second drain's
    // updates supersede the first drain's base rows in the LWW view, read
    // back through plain SQL (merge-on-read per bucket). Completes the
    // stream-in/stream-out duality for the reference's signature table.
    QDef(
      "q_stream_v2_pk_sink",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val root = pkSinkTable(s, d)
      s.read.format("graft").load(root)
        .select(col("c_custkey"), col("c_acctbal").as("acctbal"))
        .orderBy("c_custkey")
    },

    // partial-update merge engine through the V2 scan: per-field
    // last-non-null with compaction-persisted `__graft_fseq_*` provenance —
    // staged as full rows (ver=1), a bal-only partial layer (ver=3, evens),
    // a COMPACTION, then an out-of-order full layer (ver=2, every third
    // key) that must win c_name (beats ver=1; ver=3 never wrote it) but
    // lose c_acctbal to ver=3 on evens. The oracle replays the per-field
    // races in closed form.
    QDef(
      "q_source_v2_pk_partial",
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 3 = 0 THEN c_name || '_v2' ELSE c_name END AS name,
        |  CASE WHEN c_custkey % 2 = 0 THEN c_acctbal + 500
        |       WHEN c_custkey % 3 = 0 THEN -999.0 ELSE c_acctbal END AS acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = puTable(s, d)
      s.sql(s"""SELECT c_custkey, c_name AS name, c_acctbal AS acctbal
               |FROM $catName.v2db.pu_customers ORDER BY c_custkey""".stripMargin)
    },

    // The `t$files` system table as a real SQL identifier (guide.md:200-232):
    // manifest + footer metadata queryable in place. Oracled on the
    // file-count-independent invariants (total rows, level, sequence range —
    // file COUNT depends on write parallelism and is asserted in the spec,
    // not the oracle).
    QDef(
      "q_source_v2_files",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       0 AS level, 0 AS min_seq, 0 AS max_seq
        |FROM orders""".stripMargin) { (s, d) =>
      val (catName, _) = ordersCatalog(s, d)
      s.sql(s"""SELECT CAST(sum(record_count) AS BIGINT) AS n_rows,
               |       CAST(max(level) AS INT) AS level,
               |       CAST(min(min_sequence_number) AS INT) AS min_seq,
               |       CAST(max(max_sequence_number) AS INT) AS max_seq
               |FROM $catName.v2db.`orders_t$$files`""".stripMargin)
    },

    // CALL sys.rescale end to end: a 2-bucket PK table rewritten offline
    // into 4 buckets (every live row re-clustered under the new count, one
    // atomic commit, the option persisted for subsequent writes) — the
    // RESOLVED VIEW must be untouched, which is exactly what the oracle
    // checks: the post-rescale read equals the staged source slice. The
    // stager asserts the relayout itself (new bucket ids on every file).
    QDef(
      "q_source_v2_rescale",
      """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_sup,
        |       max(s_acctbal) AS top_bal
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin) { (s, d) =>
      val catName = rescaleTable(s, d)
      s.sql(s"""SELECT s_nationkey, count(*) AS n_sup, max(s_acctbal) AS top_bal
               |FROM $catName.v2db.resc_supplier
               |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    },

    // CALL sys.compact end to end: a PK table fed by many small upsert
    // commits rewritten into target-count files — the FULL compaction
    // resolves last-writer-wins and purges tombstones, and the oracle pins
    // that the RESOLVED VIEW is untouched by the rewrite (the reference's
    // row-conservation invariant, guide.md:236-259, in query form).
    QDef(
      "q_source_v2_compact",
      """SELECT p_partkey, p_name, p_retailprice FROM part
        |WHERE p_partkey % 7 <> 0 ORDER BY p_partkey""".stripMargin) { (s, d) =>
      val catName = compactTable(s, d)
      s.sql(s"""SELECT p_partkey, p_name, p_retailprice
               |FROM $catName.v2db.cmp_part ORDER BY p_partkey""".stripMargin)
    },

    // CALL sys.compact_small_files end to end: TARGETED minor compaction —
    // only the small-file backlog rewrites (the stager asserts the large
    // file survives byte-identical and rows are conserved EXACTLY); the
    // oracle again pins view preservation. The 100 TB maintenance story:
    // compaction touches the backlog, never the table.
    QDef(
      "q_source_v2_minor_compact",
      """SELECT r_regionkey, r_name FROM region
        |UNION ALL SELECT r_regionkey + 100, r_name FROM region
        |ORDER BY r_regionkey, r_name""".stripMargin) { (s, d) =>
      val catName = minorCompactTable(s, d)
      s.sql(s"""SELECT r_regionkey, r_name
               |FROM $catName.v2db.mcf_region
               |ORDER BY r_regionkey, r_name""".stripMargin)
    },

    // Sort-compact through the native CALL: interleaved unsorted ingest
    // re-clustered on the 2-D z-curve — the read-side stats-skipping
    // contract (q_source_zorder_skipping) now reachable on native tables as
    // maintenance; the oracle pins the one thing re-clustering must never
    // change: the view. V2ConnectorSpec pins the skip counts per dimension.
    QDef(
      "q_source_v2_sort_compact",
      """SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = sortCompactTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal, c_mktsegment
               |FROM $catName.v2db.sc_customers ORDER BY c_custkey""".stripMargin)
    },

    // TYPE WIDENING (ALTER COLUMN … TYPE): an INT id column outgrows its
    // domain — the widening is pure metadata (no rewrite at any size), old
    // INT32 files and new INT64 files read back as ONE BIGINT column
    // (mixed generations stay vectorized, V2ConnectorSpec pins), and the
    // oracle pins the merged view across the 2^31 boundary.
    QDef(
      "q_source_v2_widen",
      """SELECT CAST(c_custkey AS BIGINT) AS c_key, c_acctbal FROM customer
        |UNION ALL
        |SELECT c_custkey + 4000000000, c_acctbal FROM customer
        |WHERE c_custkey % 5 = 0
        |ORDER BY c_key""".stripMargin) { (s, d) =>
      val catName = widenTable(s, d)
      s.sql(s"""SELECT c_key, c_acctbal
               |FROM $catName.v2db.wid_customers ORDER BY c_key""".stripMargin)
    },

    // ADD COLUMN … DEFAULT (Spark's EXISTS_DEFAULT contract) as PURE
    // METADATA on the evolution machinery: pre-ADD files read the default
    // (the vectorized reader's existence-default missing-column vectors —
    // no rewrite at any table size), post-ADD rows keep their explicit
    // values INCLUDING explicit NULL, and INSERTs omitting the column
    // materialize the current default. The oracle pins all three
    // generations in one view; V2ConnectorSpec pins vectorized decode,
    // skip/push exactness, and materialization through compaction.
    QDef(
      "q_source_v2_default",
      """SELECT c_custkey, c_acctbal,
        |  CASE WHEN c_custkey % 2 = 0 THEN 'standard'
        |       WHEN c_mktsegment = 'BUILDING' THEN 'premium'
        |       ELSE NULL END AS tier
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val catName = defaultTable(s, d)
      s.sql(s"""SELECT c_custkey, c_acctbal, tier
               |FROM $catName.v2db.dfl_customers ORDER BY c_custkey""".stripMargin)
    },

    // CALL sys.remove_orphan_files end to end: crash leftovers (an
    // uncommitted data file from a lost commit race, an abandoned staging
    // tree) planted beside live data, swept at grace 0 — LIVE rows must
    // survive untouched, so the post-sweep read equals the staged source
    // (a file-count-independent oracle). The stager asserts the sweep's
    // own report (2 leftovers removed, counted apart from manifests).
    QDef(
      "q_source_v2_orphan_sweep",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val catName = orphanTable(s, d)
      s.sql(s"""SELECT n_nationkey, n_name, n_regionkey
               |FROM $catName.v2db.orph_nation ORDER BY n_nationkey""".stripMargin)
    },

    // CALL sys.expire_snapshots end to end (guide.md:180-184 retention):
    // two append commits, a full compaction, then expiry down to the head —
    // the pre-compaction snapshots expire, their now-dead append files are
    // PHYSICALLY reclaimed (the stager asserts the append dir emptied and
    // that time travel to an expired version refuses), and the oracle pins
    // the retention invariant: the LIVE view is untouched by expiry.
    QDef(
      "q_source_v2_expire",
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |UNION ALL SELECT s_suppkey + 100000, s_name, s_acctbal FROM supplier
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val catName = expireTable(s, d)
      s.sql(s"""SELECT s_suppkey, s_name, s_acctbal
               |FROM $catName.v2db.exp_supplier ORDER BY s_suppkey""".stripMargin)
    },

    // CALL sys.rollback_to a TAG end to end: tag the first commit, append
    // two more versions, roll the table back — the view must equal the
    // tag-pinned read (asserted in the stager via VERSION AS OF), newer
    // snapshots and their files are reclaimed, and the oracle pins the
    // rolled-back view against the source slice the tag captured.
    QDef(
      "q_source_v2_rollback",
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin) { (s, d) =>
      val catName = rollbackTable(s, d)
      s.sql(s"""SELECT n_nationkey, n_name, n_regionkey
               |FROM $catName.v2db.rb_nation ORDER BY n_nationkey""".stripMargin)
    },

    // TIME-RANGE pushdown: orders committed as year-ranged batches, read
    // back through a timestamp_ntz predicate — the dominant 100 TB scan
    // shape (a commit-ordered table filtered to a recent window). The
    // manifest's ISO-rendered ntz stats prune whole files at plan time
    // (V2ConnectorSpec asserts files=kept/total), the surviving files prune
    // row groups through the pushed parquet predicate, and the decode rides
    // the vectorized path; the oracle pins the exact window.
    QDef(
      "q_source_v2_date_pushdown",
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1999-01-01'
        |  AND o_orderdate < TIMESTAMP '2000-01-01'
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = timeBatchedOrders(s, d)
      s.read.format("graft").load(root)
        .where(col("o_orderdate") >= lit("1999-01-01").cast("timestamp_ntz") &&
          col("o_orderdate") < lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderkey")
    },

    // ZONED-timestamp pushdown end to end: events committed as week-ranged
    // batches with `ts` as TimestampType — the reference's own TIMESTAMP(3)
    // columns (Readme.md:137) re-expressed. Every graft write emits INT64
    // TIMESTAMP_MICROS (never INT96), so the manifest's "+0000"-rendered
    // stats prune whole files, the pushed predicate prunes row groups, and
    // the decode rides the vectorized path (all pinned in V2ConnectorSpec);
    // the oracle pins the exact UTC window.
    QDef(
      "q_source_v2_ts_pushdown",
      """SELECT event_id, ts, user_id FROM events
        |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val root = timeBatchedEvents(s, d)
      s.read.format("graft").load(root)
        .where(col("ts") >= lit("2024-01-08 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
        .select("event_id", "ts", "user_id")
        .orderBy("event_id")
    },

    // DECIMAL pushdown end to end: orders with an exact DECIMAL(5,1) money
    // column (the reference's own measurement type, Readme.md:91), committed
    // as price-banded batches — per-file scaled stats ("249.9") prune whole
    // files via exact unscaled-long comparison, the pushed predicate prunes
    // row groups as unscaled INT32s, and the decode rides the vectorized
    // path (all pinned in V2ConnectorSpec; FLBA/precision>18 layouts refuse).
    // The decimal is built from integers through strings — bit-exact in both
    // engines, no float-rounding skew — and the output rides the registry's
    // cast-to-DOUBLE convention (exact for scale-1 values ≤ 2^53).
    QDef(
      "q_source_v2_dec_pushdown",
      """SELECT o_orderkey,
        |       CAST(CAST(CAST(o_orderkey % 1000 AS VARCHAR) || '.' ||
        |            CAST(o_custkey % 10 AS VARCHAR) AS DECIMAL(5,1)) AS DOUBLE)
        |         AS price_d
        |FROM orders
        |WHERE CAST(CAST(o_orderkey % 1000 AS VARCHAR) || '.' ||
        |           CAST(o_custkey % 10 AS VARCHAR) AS DECIMAL(5,1)) >= 250.0
        |  AND CAST(CAST(o_orderkey % 1000 AS VARCHAR) || '.' ||
        |           CAST(o_custkey % 10 AS VARCHAR) AS DECIMAL(5,1)) < 500.0
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val root = decBatchedOrders(s, d)
      s.read.format("graft").load(root)
        .where(col("o_price") >= lit("250.0").cast("decimal(5,1)") &&
          col("o_price") < lit("500.0").cast("decimal(5,1)"))
        .select(col("o_orderkey"), col("o_price").cast("double").as("price_d"))
        .orderBy("o_orderkey")
    },

    // A TAG as a SQL version: the first commit tagged, the table then grown
    // — `VERSION AS OF 'baseline'` must reproduce exactly the state the tag
    // pinned, while the head serves the grown table (stager-asserted). The
    // reference's tag surface (retention roots + named time travel) oracled
    // through plain SQL.
    QDef(
      "q_source_v2_tag_read",
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""".stripMargin) {
      (s, d) =>
        val catName = tagReadTable(s, d)
        s.sql(s"""SELECT r_regionkey, r_name
                 |FROM $catName.v2db.tag_region VERSION AS OF 'baseline'
                 |ORDER BY r_regionkey""".stripMargin)
    },

    // GROUPED aggregate pushdown: events committed one event_type per batch
    // (the slice-per-commit ingest every partitioned 100 TB pipeline runs),
    // so every file is provably single-valued in the group column
    // (manifest null counts + min=max) and GROUP BY event_type answers
    // COUNT/MIN/MAX from the manifest alone — zero data bytes
    // (V2ConnectorSpec pins no aggregate exec survives). Oracle pins the
    // per-type census.
    QDef(
      "q_source_v2_group_agg",
      """SELECT event_type, count(*) AS cnt,
        |       min(user_id) AS min_uid, max(user_id) AS max_uid
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val root = typeBatchedEvents(s, d)
      s.read.format("graft").load(root)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), min("user_id").as("min_uid"),
          max("user_id").as("max_uid"))
        .orderBy("event_type")
    },

    // ATOMIC CTAS through the staging catalog: `CREATE TABLE … AS SELECT`
    // stages the whole table (options + data + manifest) in a hidden
    // warehouse dir and publishes it with ONE rename — a crash can never
    // strand an empty registered table (V2ConnectorSpec pins the abort
    // path and the atomic exec). The oracle pins CTAS ≡ the source slice.
    QDef(
      "q_source_v2_ctas",
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_acctbal > 0 ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val catName = ctasTable(s, d)
      s.sql(s"""SELECT s_suppkey, s_name, s_acctbal
               |FROM $catName.v2db.ctas_supplier ORDER BY s_suppkey""".stripMargin)
    },

    // The `$snapshots` system table oracled on its commit-history
    // invariants: per retained snapshot the id, kind, and EXACT running row
    // total (file counts depend on write parallelism and stay spec-only).
    // The oracle replays the staged history in closed form over the source
    // table — guide.md:180-184's snapshot model as a queryable surface.
    QDef(
      "q_source_v2_snapshots",
      """WITH c AS (SELECT
        |  CAST(sum(CASE WHEN p_partkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |  CAST(sum(CASE WHEN p_partkey % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        |  FROM part)
        |SELECT CAST(0 AS BIGINT) AS snapshot_id, 'append' AS commit_kind,
        |       c0 AS total_rows FROM c
        |UNION ALL SELECT CAST(1 AS BIGINT), 'append', c0 + c1 FROM c
        |UNION ALL SELECT CAST(2 AS BIGINT), 'compact', c0 + c1 FROM c
        |ORDER BY snapshot_id""".stripMargin) { (s, d) =>
      val catName = snapshotsTable(s, d)
      s.sql(s"""SELECT snapshot_id, commit_kind,
               |       total_record_count AS total_rows
               |FROM $catName.v2db.`sp_part$$snapshots`
               |ORDER BY snapshot_id""".stripMargin)
    }
  )

  /** orders written as one batch per order YEAR (1995-2001) — per-file
    * o_orderdate stats are disjoint, so a time-range filter genuinely skips
    * files, mirroring how a commit-ordered 100 TB table serves "last month"
    * queries. */
  private val stagedTimeOrders = new ConcurrentHashMap[String, String]()
  private def timeBatchedOrders(s: SparkSession, d: String): String =
    stagedTimeOrders.computeIfAbsent(d, { _ =>
      val root = Files.createTempDirectory("graft_v2_time_").toString
      val tbl = new StreamTable(root, s)
      val ord = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      (1995 to 2001).zipWithIndex.foreach { case (y, b) =>
        tbl.appendBatch(ord.where(
          col("o_orderdate") >= lit(s"$y-01-01").cast("timestamp_ntz") &&
            col("o_orderdate") < lit(s"${y + 1}-01-01").cast("timestamp_ntz"))
          .repartition(1), b.toLong)
      }
      root
    })

  /** events written as one batch per January-2024 week with `ts` cast to
    * ZONED TimestampType — per-file ts stats are disjoint UTC instants, so a
    * time-range filter genuinely skips files. The staging asserts the
    * physical contract this round establishes: every committed file stores
    * ts as INT64 TIMESTAMP_MICROS (UTC-adjusted), never INT96. */
  private val stagedTimeEvents = new ConcurrentHashMap[String, String]()
  private def timeBatchedEvents(s: SparkSession, d: String): String =
    stagedTimeEvents.computeIfAbsent(d, { _ =>
      val root = Files.createTempDirectory("graft_v2_tsz_").toString
      val tbl = new StreamTable(root, s)
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"))
      val weeks = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22",
        "2024-01-29", "2024-02-05")
      weeks.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), b) =>
        tbl.appendBatch(ev.where(
          col("ts") >= lit(lo).cast("timestamp") &&
            col("ts") < lit(hi).cast("timestamp")).repartition(1), b.toLong)
      }
      // pin the writer contract: INT64 micros adjusted-to-UTC in every file
      tbl.latestSnapshot.get.files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.path), new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val sch = r.getFooter.getFileMetaData.getSchema
          val fld = sch.getType(sch.getFieldIndex("ts")).asPrimitiveType()
          require(fld.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 &&
            (fld.getLogicalTypeAnnotation match {
              case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.isAdjustedToUTC && t.getUnit ==
                  org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
              case _ => false
            }), s"graft writes must emit INT64 TIMESTAMP_MICROS, got $fld in ${f.path}")
        } finally r.close()
      }
      root
    })

  /** orders with an exact DECIMAL(5,1) `o_price`, written as 4 price-band
    * batches — per-file decimal stats are disjoint, so a money-range filter
    * genuinely skips files. The staging pins the physical contract: every
    * committed file stores o_price as INT32 DECIMAL(5,1) unscaled (never
    * FLBA/binary), the layout [[DecimalPush]]'s proofs require. */
  private val stagedDecOrders = new ConcurrentHashMap[String, String]()
  private def decBatchedOrders(s: SparkSession, d: String): String =
    stagedDecOrders.computeIfAbsent(d, { _ =>
      val root = Files.createTempDirectory("graft_v2_dec_").toString
      val tbl = new StreamTable(root, s)
      val ord = Tables.orders(s, d).selectExpr("o_orderkey",
        """CAST(CONCAT(CAST(o_orderkey % 1000 AS STRING), '.',
          |            CAST(o_custkey % 10 AS STRING)) AS DECIMAL(5,1))
          |  AS o_price""".stripMargin)
      Seq(0, 250, 500, 750).zipWithIndex.foreach { case (lo, b) =>
        tbl.appendBatch(ord.where(
          col("o_price") >= lit(s"$lo.0").cast("decimal(5,1)") &&
            col("o_price") < lit(s"${lo + 250}.0").cast("decimal(5,1)"))
          .repartition(1), b.toLong)
      }
      // pin the writer contract: INT32 unscaled with the declared annotation
      tbl.latestSnapshot.get.files.foreach { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.path), new org.apache.hadoop.conf.Configuration())
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val sch = r.getFooter.getFileMetaData.getSchema
          val fld = sch.getType(sch.getFieldIndex("o_price")).asPrimitiveType()
          require(fld.getPrimitiveTypeName ==
            org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 &&
            (fld.getLogicalTypeAnnotation match {
              case a: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                a.getPrecision == 5 && a.getScale == 1
              case _ => false
            }), s"graft writes must emit INT32 DECIMAL(5,1) unscaled, got $fld in ${f.path}")
        } finally r.close()
      }
      root
    })

  /** events written one batch PER EVENT TYPE once per sf dir — every file is
    * single-valued in `event_type` (the grouped-pushdown layout). */
  private val stagedTypeEvents = new ConcurrentHashMap[String, String]()
  private def typeBatchedEvents(s: SparkSession, d: String): String =
    stagedTypeEvents.computeIfAbsent(d, { _ =>
      val root = Files.createTempDirectory("graft_v2_gte_").toString
      val tbl = new StreamTable(root, s)
      val ev = Tables.events(s, d).select("event_id", "event_type", "user_id")
      val types = ev.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted // handful of slice labels
      types.zipWithIndex.foreach { case (t, b) =>
        tbl.appendBatch(ev.where(col("event_type") === t).repartition(1), b.toLong)
      }
      root
    })

  /** supplier's positive-balance slice created via CTAS once per sf dir —
    * the staging-catalog publish (no create-then-insert window). */
  private val stagedCtas = new ConcurrentHashMap[String, String]()
  private def ctasTable(s: SparkSession, d: String): String =
    stagedCtas.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      Tables.supplier(s, d).createOrReplaceTempView("graft_v2_ctas_supplier")
      s.sql(s"""CREATE TABLE $catName.v2db.ctas_supplier AS
               |SELECT s_suppkey, s_name, s_acctbal
               |FROM graft_v2_ctas_supplier WHERE s_acctbal > 0""".stripMargin)
      // the staging dir must be fully consumed by the publish rename
      val staging = java.nio.file.Paths.get(wh, ".staging-ctas")
      require(!java.nio.file.Files.exists(staging) ||
        StreamTable.listDir(staging).isEmpty,
        "CTAS publish must leave no staging leftovers")
      catName
    })

  /** region tagged at its first commit, then grown by offset replicas, once
    * per sf dir (the tag keeps serving the pinned state). */
  private val stagedTagRead = new ConcurrentHashMap[String, String]()
  private def tagReadTable(s: SparkSession, d: String): String =
    stagedTagRead.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "tag_region", Map.empty)
      val region = Tables.region(s, d).select("r_regionkey", "r_name")
      tbl.appendBatch(region, 0L)
      s.sql(s"CALL $catName.sys.create_tag(" +
        "`table` => 'v2db.tag_region', tag => 'baseline')")
      tbl.appendBatch(region.withColumn("r_regionkey",
        (col("r_regionkey") + lit(500))
          .cast(region.schema("r_regionkey").dataType)), 1L)
      // the head serves the grown table; only the tag serves the pinned state
      val headRows = s.sql(
        s"SELECT count(*) FROM $catName.v2db.tag_region").head().getLong(0)
      val tagRows = s.sql(s"SELECT count(*) FROM $catName.v2db.tag_region " +
        "VERSION AS OF 'baseline'").head().getLong(0)
      require(headRows == 2 * tagRows && tagRows > 0,
        s"tag must pin the first commit: head=$headRows tag=$tagRows")
      catName
    })

  /** part staged as two deterministic append slices plus a compaction, once
    * per sf dir — the 3-snapshot history the `$snapshots` oracle replays. */
  private val stagedSnapshots = new ConcurrentHashMap[String, String]()
  private def snapshotsTable(s: SparkSession, d: String): String =
    stagedSnapshots.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "sp_part", Map.empty)
      val part = Tables.part(s, d).select("p_partkey", "p_name")
      tbl.appendBatch(part.where(col("p_partkey") % 3 === 0), 0L)
      tbl.appendBatch(part.where(col("p_partkey") % 3 === 1), 1L)
      tbl.compact(targetFileCount = 2) // snapshot 2, kind=compact, conserved
      catName
    })

  /** supplier as a 2-bucket PK catalog table, rescaled to 4 via the CALL
    * procedure once per sf dir. */
  private val stagedRescale = new ConcurrentHashMap[String, String]()
  private def rescaleTable(s: SparkSession, d: String): String =
    stagedRescale.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "resc_supplier",
        Map("primary-key" -> "s_suppkey", "bucket" -> "2"))
      tbl.appendBatch(Tables.supplier(s, d)
        .select("s_suppkey", "s_nationkey", "s_acctbal"), 0L)
      val res = s.sql(s"CALL $catName.sys.rescale(" +
        "`table` => 'v2db.resc_supplier', buckets => 4)").collect().head
      require(res.getInt(1) == 4, s"rescale must report the new count: $res")
      val reloaded = cat.getTable("v2db", "resc_supplier")
      require(reloaded.latestSnapshot.get.files.forall(_.bucket.exists(_ < 4)),
        "rescale must relabel every live file under the new bucket count")
      catName
    })

  /** part as a 2-bucket PK table fed with upserts + tombstone deletes, then
    * FULL-compacted via the CALL procedure once per sf dir (the rewrite
    * resolves LWW and purges the tombstones; the stager asserts the purge). */
  private val stagedCompact = new ConcurrentHashMap[String, String]()
  private def compactTable(s: SparkSession, d: String): String =
    stagedCompact.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "cmp_part",
        Map("primary-key" -> "p_partkey", "bucket" -> "2"))
      val part = Tables.part(s, d).select("p_partkey", "p_name", "p_retailprice")
      tbl.appendBatch(part, 0L)
      tbl.deleteBatch(part.where(col("p_partkey") % 7 === 0)
        .select("p_partkey"), 1L)
      val res = s.sql(s"CALL $catName.sys.compact(" +
        "`table` => 'v2db.cmp_part', target_file_count => 2)").collect().head
      require(res.getLong(0) >= 0, res.toString)
      val survivors = part.where(col("p_partkey") % 7 =!= 0).count()
      val live = cat.getTable("v2db", "cmp_part").latestSnapshot.get.files
      require(live.map(_.rowCount).sum == survivors,
        s"full compaction must purge tombstones: ${live.map(_.rowCount).sum} vs $survivors")
      catName
    })

  /** region written as a 4-batch small-file backlog, then minor-compacted
    * via CALL sys.compact_small_files once per sf dir (strict conservation
    * asserted — a minor compaction never resolves). */
  private val stagedMinor = new ConcurrentHashMap[String, String]()
  private def minorCompactTable(s: SparkSession, d: String): String =
    stagedMinor.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "mcf_region", Map.empty)
      val region = Tables.region(s, d).select("r_regionkey", "r_name")
      val offset = region.withColumn("r_regionkey",
        (col("r_regionkey") + lit(100))
          .cast(region.schema("r_regionkey").dataType))
      tbl.appendBatch(region.coalesce(1), 0L)
      tbl.appendBatch(offset.where(col("r_regionkey") < 102).coalesce(1), 1L)
      tbl.appendBatch(offset.where(col("r_regionkey") >= 102 &&
        col("r_regionkey") < 104).coalesce(1), 2L)
      tbl.appendBatch(offset.where(col("r_regionkey") >= 104).coalesce(1), 3L)
      val inRows = tbl.latestSnapshot.get.files.map(_.rowCount).sum
      val res = s.sql(s"CALL $catName.sys.compact_small_files(" +
        "`table` => 'v2db.mcf_region', small_bytes => 1073741824L, " +
        "trigger => 4)").collect().head
      require(res.getBoolean(1), s"backlog of 4 small files must compact: $res")
      val after = cat.getTable("v2db", "mcf_region").latestSnapshot.get.files
      require(after.map(_.rowCount).sum == inRows,
        s"minor compaction conserves rows exactly: $after")
      catName
    })

  /** customer re-clustered through `CALL sys.compact(order_by => …,
    * strategy => 'zorder')` once per sf dir — the staging asserts the
    * physical effects (every file's (c_custkey, c_acctbal) bounding box
    * shrinks below the pre-compact full-range boxes; the policy lands in
    * the table options), the oracle pins view preservation. */
  private val stagedSortCompact = new ConcurrentHashMap[String, String]()
  private def sortCompactTable(s: SparkSession, d: String): String =
    stagedSortCompact.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "sc_customers", Map.empty)
      val c = Tables.customer(s, d).select("c_custkey", "c_acctbal", "c_mktsegment")
      // 4 interleaved batches: every pre-compact file spans the full key and
      // balance ranges, so neither dimension can skip
      for (b <- 0 until 4)
        tbl.appendBatch(c.where(col("c_custkey") % 4 === b).repartition(1), b.toLong)
      val inRows = tbl.latestSnapshot.get.files.map(_.rowCount).sum
      s.sql(s"CALL $catName.sys.compact(`table` => 'v2db.sc_customers', " +
        "target_file_count => 8, order_by => 'c_custkey,c_acctbal', " +
        "strategy => 'zorder')").collect()
      val after = cat.getTable("v2db", "sc_customers")
      require(after.latestSnapshot.get.files.map(_.rowCount).sum == inRows,
        "sort-compact conserves rows exactly")
      require(cat.tableOptions("v2db", "sc_customers")
        .get("compact.order-strategy").contains("zorder"),
        "the clustering policy must land in the table options")
      catName
    })

  /** customer staged with an INT custkey then WIDENED to BIGINT and grown
    * past the INT domain — metadata-only evolution, mixed-generation
    * read-back. */
  private val stagedWiden = new ConcurrentHashMap[String, String]()
  private def widenTable(s: SparkSession, d: String): String =
    stagedWiden.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2w_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.wid_customers
               |(c_key INT, c_acctbal DOUBLE)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.wid_customers
               |SELECT CAST(c_custkey AS INT), c_acctbal
               |FROM graft_v2w_customer""".stripMargin)
      s.sql(s"ALTER TABLE $catName.v2db.wid_customers ALTER COLUMN c_key TYPE BIGINT")
      s.sql(s"""INSERT INTO $catName.v2db.wid_customers
               |SELECT c_custkey + 4000000000, c_acctbal
               |FROM graft_v2w_customer WHERE c_custkey % 5 = 0""".stripMargin)
      catName
    })

  /** customer with a branch-staged backfill published via fast_forward:
    * the write-audit-publish flow end to end, audit invariant required
    * before the publish. */
  private val stagedWap = new ConcurrentHashMap[String, String]()
  private def wapTable(s: SparkSession, d: String): String =
    stagedWap.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2br_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.br_customers
               |(c_custkey BIGINT, c_acctbal DOUBLE)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.br_customers
               |SELECT c_custkey, c_acctbal FROM graft_v2br_customer""".stripMargin)
      val base = s.sql(s"SELECT count(*) FROM $catName.v2db.br_customers")
        .head().getLong(0)
      s.sql(s"CALL $catName.sys.create_tag('v2db.br_customers', 'base')")
      s.sql(s"CALL $catName.sys.create_branch(" +
        "'v2db.br_customers', 'backfill', 'base')")
      s.sql(s"""INSERT INTO $catName.v2db.`br_customers$$branch_backfill`
               |SELECT c_custkey + 1000000, c_acctbal + 1000
               |FROM graft_v2br_customer WHERE c_custkey % 10 = 0""".stripMargin)
      // AUDIT: staged rows visible on the branch, main untouched
      require(s.sql(s"SELECT count(*) FROM $catName.v2db.br_customers")
        .head().getLong(0) == base,
        "main must not see branch-staged rows before the publish")
      require(s.sql(
        s"SELECT count(*) FROM $catName.v2db.`br_customers$$branch_backfill`")
        .head().getLong(0) > base, "the branch must serve the staged rows")
      // PUBLISH
      s.sql(s"CALL $catName.sys.fast_forward('v2db.br_customers', 'backfill')")
      catName
    })

  /** customer under DYNAMIC bucket mode: a tiny growth target so batch 0
    * (evens) and batch 1 (odds + every-10th-even updated) each force a
    * split — the stager pins monotone power-of-two growth, a stamped count
    * on every snapshot, fully-labeled live files, and that the pre-split
    * generation stays time-travelable under ITS OWN count. */
  private val stagedDynBucket = new ConcurrentHashMap[String, String]()
  private def dynBucketTable(s: SparkSession, d: String): String =
    stagedDynBucket.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val c = Tables.customer(s, d).select(col("c_custkey"),
        col("c_acctbal").as("bal"))
      // target ∝ data so the FINAL count stays bounded (~8-16 buckets) at
      // every sf while still forcing several doublings from 1 — mirroring
      // production, where the 2M-row default yields sane counts; a fixed
      // tiny target would mint thousands of buckets at the larger sfs (the
      // tiny-file storm the target exists to prevent)
      val target = math.max(30L, c.count() / 12)
      val tbl = cat.createTable("v2db", "dynb_cust",
        Map("primary-key" -> "c_custkey", "bucket" -> "-1",
          "dynamic-bucket.target-row-num" -> target.toString,
          "dynamic-bucket.initial-buckets" -> "1"))
      require(tbl.isDynamicBucket && tbl.currentBuckets == 1,
        "a fresh dynamic table starts at its initial count")
      tbl.appendBatch(c.where(col("c_custkey") % 2 === 0), 0L)
      val t1 = cat.getTable("v2db", "dynb_cust")
      val n1 = t1.currentBuckets
      require(n1 > 1 && Integer.bitCount(n1) == 1,
        s"batch 0 must outgrow the target and split to a power of two, got $n1")
      val preSplitRows = t1.read.count()
      tbl.appendBatch(
        c.where(col("c_custkey") % 2 === 1).unionByName(
          c.where(col("c_custkey") % 10 === 0)
            .withColumn("bal", col("bal") + 100)), 1L)
      val t2 = cat.getTable("v2db", "dynb_cust")
      val n2 = t2.currentBuckets
      require(n2 >= n1 && n2 % n1 == 0 && Integer.bitCount(n2) == 1,
        s"growth is monotone along the doubling chain, got $n1 -> $n2")
      require(t2.latestSnapshot.exists(s0 =>
        s0.bucketCount.contains(n2) && s0.files.forall(_.bucket.isDefined)),
        "every dynamic snapshot stamps its count and labels every file")
      // the pre-split generation stays readable under its own count
      require(t2.readAt(0L).count() == preSplitRows,
        "time travel to the pre-split generation must serve its row count")
      catName
    })

  /** customer as a tag-per-day ingest: day-1 commit = evens + tag 'day1',
    * day-2 commit = odds + tag 'day2'. The stager pins tag-endpoint ≡
    * id-endpoint equivalence (mixed forms included) before any query runs. */
  private val stagedIncTags = new ConcurrentHashMap[String, String]()
  private def incTagsTable(s: SparkSession, d: String): String =
    stagedIncTags.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2itag_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.itag_customers
               |(c_custkey BIGINT, c_acctbal DOUBLE)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.itag_customers
               |SELECT c_custkey, c_acctbal FROM graft_v2itag_customer
               |WHERE c_custkey % 2 = 0""".stripMargin)
      s.sql(s"CALL $catName.sys.create_tag('v2db.itag_customers', 'day1')")
      s.sql(s"""INSERT INTO $catName.v2db.itag_customers
               |SELECT c_custkey, c_acctbal FROM graft_v2itag_customer
               |WHERE c_custkey % 2 = 1""".stripMargin)
      s.sql(s"CALL $catName.sys.create_tag('v2db.itag_customers', 'day2')")
      val root = s"$wh/v2db.db/itag_customers"
      def inc(between: String): Long = s.read.format("graft")
        .option("incremental-between", between).load(root).count()
      val viaTags = inc("day1,day2")
      require(viaTags == inc("0,1") && viaTags == inc("day1,1") &&
        viaTags == inc("0,day2"),
        "tag endpoints must be interchangeable with their snapshot ids")
      root
    })

  /** customer split across a DEFAULT-column evolution: evens written
    * BEFORE `ADD COLUMN tier STRING DEFAULT 'standard'` (they read the
    * default from metadata alone), odds after with explicit values
    * including explicit NULLs. The stager asserts the evolution rewrote
    * nothing. */
  private val stagedDefault = new ConcurrentHashMap[String, String]()
  private def defaultTable(s: SparkSession, d: String): String =
    stagedDefault.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2dfl_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.dfl_customers
               |(c_custkey BIGINT, c_acctbal DOUBLE)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.dfl_customers
               |SELECT c_custkey, c_acctbal FROM graft_v2dfl_customer
               |WHERE c_custkey % 2 = 0""".stripMargin)
      val cat = new GraftCatalog(s, wh)
      val before = cat.getTable("v2db", "dfl_customers")
        .latestSnapshot.get.files.map(_.path).toSet
      s.sql(s"ALTER TABLE $catName.v2db.dfl_customers " +
        "ADD COLUMNS (tier STRING DEFAULT 'standard')")
      s.sql(s"""INSERT INTO $catName.v2db.dfl_customers
               |SELECT c_custkey, c_acctbal,
               |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'premium'
               |       ELSE NULL END
               |FROM graft_v2dfl_customer WHERE c_custkey % 2 = 1""".stripMargin)
      val after = cat.getTable("v2db", "dfl_customers")
        .latestSnapshot.get.files.map(_.path).toSet
      require(before.subsetOf(after),
        "ADD COLUMN DEFAULT must be metadata-only (no rewrite)")
      catName
    })

  /** nation through the catalog with planted crash leftovers, swept by the
    * CALL procedure once per sf dir. */
  private val stagedOrphan = new ConcurrentHashMap[String, String]()
  private def orphanTable(s: SparkSession, d: String): String =
    stagedOrphan.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "orph_nation", Map.empty)
      tbl.appendBatch(Tables.nation(s, d), 0L)
      val root = tbl.root
      Files.write(java.nio.file.Paths.get(
        s"$root/data/append/b9-orphan-0.parquet"), Array[Byte](1, 2, 3))
      val staging = java.nio.file.Paths.get(s"$root/.staging-dead")
      Files.createDirectories(staging)
      Files.write(staging.resolve("part-0.parquet"), Array[Byte](4, 5, 6))
      val removed = s.sql(s"CALL $catName.sys.remove_orphan_files(" +
        "`table` => 'v2db.orph_nation', older_than_ms => 0L)")
        .collect().head.getInt(0)
      require(removed == 2, s"orphan sweep expected 2 leftovers, got $removed")
      catName
    })

  /** supplier + offset replicas committed as two append batches, FULL-
    * compacted, then expired down to the head snapshot once per sf dir. The
    * stager asserts the physical retention effects the oracle can't see:
    * both pre-compaction snapshots expired, their append files reclaimed
    * from disk, and `VERSION AS OF` an expired id refusing. */
  private val stagedExpire = new ConcurrentHashMap[String, String]()
  private def expireTable(s: SparkSession, d: String): String =
    stagedExpire.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "exp_supplier", Map.empty)
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_name", "s_acctbal")
      val replicas = sup.withColumn("s_suppkey",
        (col("s_suppkey") + lit(100000)).cast(sup.schema("s_suppkey").dataType))
      tbl.appendBatch(sup, 0L)
      tbl.appendBatch(replicas, 1L)
      tbl.compact(targetFileCount = 2) // snapshot 2: append files now dead
      val expired = s.sql(s"CALL $catName.sys.expire_snapshots(" +
        "`table` => 'v2db.exp_supplier', retain_min => 1, retain_max => 1, " +
        "older_than_ms => 0L)").collect().head.getInt(0)
      require(expired == 2, s"expected snapshots 0 and 1 to expire, got $expired")
      val live = cat.getTable("v2db", "exp_supplier")
      require(!live.hasSnapshot(0) && !live.hasSnapshot(1) && live.hasSnapshot(2),
        "expiry must drop exactly the pre-compaction snapshots")
      // the expired versions' files are physically reclaimed (compaction
      // made them dead; no retained snapshot references them)
      val appendLeft = StreamTable.listDir(
        java.nio.file.Paths.get(live.root, "data", "append"))
        .count(_.toString.endsWith(".parquet"))
      require(appendLeft == 0,
        s"expiry must reclaim the dead append files, $appendLeft left")
      // time travel to an expired version refuses
      require(scala.util.Try(s.sql(
        s"SELECT * FROM $catName.v2db.exp_supplier VERSION AS OF 0").collect())
        .isFailure, "VERSION AS OF an expired snapshot must refuse")
      catName
    })

  /** nation tagged at its first commit, grown by two replica batches, then
    * rolled back to the tag once per sf dir. The stager asserts the rollback
    * report, the physical reclaim of the newer snapshots, and view equality
    * with the tag-pinned read. */
  private val stagedRollback = new ConcurrentHashMap[String, String]()
  private def rollbackTable(s: SparkSession, d: String): String =
    stagedRollback.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "rb_nation", Map.empty)
      val nation = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      def offset(by: Int) = nation.withColumn("n_nationkey",
        (col("n_nationkey") + lit(by)).cast(nation.schema("n_nationkey").dataType))
      tbl.appendBatch(nation, 0L)
      s.sql(s"CALL $catName.sys.create_tag(`table` => 'v2db.rb_nation', tag => 'v0')")
      tbl.appendBatch(offset(100), 1L)
      tbl.appendBatch(offset(200), 2L)
      val rolled = s.sql(s"CALL $catName.sys.rollback_to(" +
        "`table` => 'v2db.rb_nation', version => 'v0')").collect().head.getLong(0)
      require(rolled == 0L, s"rollback_to tag v0 must land on snapshot 0, got $rolled")
      val live = cat.getTable("v2db", "rb_nation")
      require(live.hasSnapshot(0) && !live.hasSnapshot(1) && !live.hasSnapshot(2),
        "rollback must drop the newer snapshots")
      // the rolled-back view IS the tag-pinned view, row for row
      val now = s.sql(s"SELECT * FROM $catName.v2db.rb_nation ORDER BY n_nationkey")
        .collect().toSeq
      val pinned = s.sql(
        s"SELECT * FROM $catName.v2db.rb_nation VERSION AS OF 'v0' ORDER BY n_nationkey")
        .collect().toSeq
      require(now == pinned, "post-rollback view must equal the tag-pinned read")
      catName
    })

  /** graft→graft streaming pipe: the staged lineitem table drained through
    * the native V2 sink once per sf dir (AvailableNow; the checkpoint rides
    * beside the sink so a re-stage would resume, not duplicate). */
  private val stagedSink = new ConcurrentHashMap[String, String]()
  private def sinkTable(s: SparkSession, d: String): String =
    stagedSink.computeIfAbsent(d, { _ =>
      import org.apache.spark.sql.streaming.Trigger
      val src = lineitemTable(s, d)
      val dst = Files.createTempDirectory("graft_v2_sink_").toString
      val chk = s"$dst/_pipe_checkpoint"
      val q = s.readStream.format("graft").load(src)
        .select("l_orderkey", "l_quantity")
        .writeStream.format("graft")
        .option("path", dst).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      dst
    })

  /** customer staged as INSERT-then-OVERWRITE (the overwrite is the live
    * version; the full insert remains as snapshot history). */
  private val stagedOvw = new ConcurrentHashMap[String, String]()
  private def overwriteTable(s: SparkSession, d: String): String =
    stagedOvw.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2o_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.ovw_customers
               |(c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.ovw_customers
               |SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_v2o_customer""".stripMargin)
      s.sql(s"""INSERT OVERWRITE $catName.v2db.ovw_customers
               |SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_v2o_customer
               |WHERE c_acctbal > 0""".stripMargin)
      catName
    })

  /** lineitem + orders as CO-BUCKETED catalog tables (bucket(8, orderkey))
    * for the storage-partitioned join. */
  private val stagedSpj = new ConcurrentHashMap[String, String]()
  private def spjTables(s: SparkSession, d: String): String =
    stagedSpj.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val opts = (k: String) => Map("bucket-key" -> k, "bucket" -> "8")
      val li = cat.createTable("v2db", "spj_lineitem", opts("l_orderkey"))
      li.appendBatch(Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice"), 0L)
      val o = cat.createTable("v2db", "spj_orders", opts("o_orderkey"))
      o.appendBatch(Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderstatus"), 0L)
      catName
    })

  /** The changelog pipe: a PK customer table drained through the streaming
    * changelog reader across two runs of ONE checkpoint — run 1 catches up
    * the base state (+I), run 2 nets the update+delete interval. */
  private val stagedCl = new ConcurrentHashMap[String, Seq[org.apache.spark.sql.Row]]()
  private def changelogRows(s: SparkSession, d: String): Seq[org.apache.spark.sql.Row] =
    stagedCl.computeIfAbsent(d, { _ =>
      import org.apache.spark.sql.streaming.Trigger
      val (_, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "cl_cust",
        // the reference's literal option (guide.md:69-73): the writer
        // persists per-commit changelog files, so each drain below reads
        // O(interval changelog), never re-resolving two full snapshots
        Map("primary-key" -> "c_custkey", "bucket" -> "4",
          "changelog-producer" -> "input"))
      val root = s"$wh/v2db.db/cl_cust"
      val chk = Files.createTempDirectory("graft_v2_cl_chk_").toString
      val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      def drain(): Seq[org.apache.spark.sql.Row] = {
        // foreachBatch (not the memory sink): the second drain RESUMES the
        // checkpoint, and only durable sinks support recovery
        val buf = java.util.Collections.synchronizedList(
          new java.util.ArrayList[org.apache.spark.sql.Row]())
        val q = s.readStream.format("graft").option("read-changelog", "true")
          .load(root)
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            buf.addAll(java.util.Arrays.asList(df.collect(): _*)); ()
          }
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        buf.asScala.toSeq
      }
      tbl.appendBatch(c, 0L)
      val run1 = drain()
      tbl.appendBatch(c.where(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000d), 1L)
      tbl.deleteBatch(c.where(col("c_custkey") % 7 === 0).select("c_custkey"), 2L)
      run1 ++ drain()
    })

  /** customer staged across a schema-evolution boundary: evens written
    * BEFORE `ADD COLUMN c_acctbal` (read as NULL), odds after (with
    * balances), then `RENAME COLUMN c_name TO cust_name`. */
  private val stagedEvo = new ConcurrentHashMap[String, String]()
  private def evoTable(s: SparkSession, d: String): String =
    stagedEvo.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2e_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.evo_customers
               |(c_custkey BIGINT, c_name STRING)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.evo_customers
               |SELECT c_custkey, c_name FROM graft_v2e_customer
               |WHERE c_custkey % 2 = 0""".stripMargin)
      s.sql(s"ALTER TABLE $catName.v2db.evo_customers ADD COLUMNS (c_acctbal DOUBLE)")
      s.sql(s"""INSERT INTO $catName.v2db.evo_customers
               |SELECT c_custkey, c_name, c_acctbal FROM graft_v2e_customer
               |WHERE c_custkey % 2 = 1""".stripMargin)
      s.sql(s"ALTER TABLE $catName.v2db.evo_customers RENAME COLUMN c_name TO cust_name")
      catName
    })

  /** The aggregation-changelog pipe: an aggregation-engine lineitem table
    * drained twice through the streaming changelog reader across the
    * even-/odd-partkey commits. */
  private val stagedAggCl = new ConcurrentHashMap[String, Seq[org.apache.spark.sql.Row]]()
  private def aggChangelogRows(s: SparkSession, d: String): Seq[org.apache.spark.sql.Row] =
    stagedAggCl.computeIfAbsent(d, { _ =>
      import org.apache.spark.sql.streaming.Trigger
      val (_, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "agg_cl",
        Map("primary-key" -> "l_orderkey", "bucket" -> "4",
          "changelog-producer" -> "input",
          "fields.qty_cents.aggregate-function" -> "sum",
          "fields.max_price.aggregate-function" -> "max"))
      val root = s"$wh/v2db.db/agg_cl"
      val chk = Files.createTempDirectory("graft_v2_aggcl_chk_").toString
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_cents"),
        col("l_extendedprice").as("max_price"), col("l_partkey"))
      def drain(): Seq[org.apache.spark.sql.Row] = {
        val buf = java.util.Collections.synchronizedList(
          new java.util.ArrayList[org.apache.spark.sql.Row]())
        val q = s.readStream.format("graft").option("read-changelog", "true")
          .load(root)
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) =>
            // the merged schema orders spec fields by NAME (max_price before
            // qty_cents) — pin the projection the result frame declares
            buf.addAll(java.util.Arrays.asList(
              df.select("l_orderkey", "qty_cents", "max_price", "op")
                .collect(): _*)); ()
          }
          .option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        buf.asScala.toSeq
      }
      tbl.appendBatch(li.where(col("l_partkey") % 2 === 0).drop("l_partkey"), 0L)
      val run1 = drain()
      tbl.appendBatch(li.where(col("l_partkey") % 2 === 1).drop("l_partkey"), 1L)
      run1 ++ drain()
    })

  /** lineitem as an aggregation-engine table: qty summed (exact long
    * cents), price maxed, staged as two part-keyed slices. */
  private val stagedPkAgg = new ConcurrentHashMap[String, String]()
  private def pkAggTable(s: SparkSession, d: String): String =
    stagedPkAgg.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "agg_li",
        Map("primary-key" -> "l_orderkey", "bucket" -> "4",
          "fields.qty_cents.aggregate-function" -> "sum",
          "fields.max_price.aggregate-function" -> "max",
          "fields.all_small.aggregate-function" -> "bool_and",
          "fields.any_return.aggregate-function" -> "bool_or"))
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_cents"),
        col("l_extendedprice").as("max_price"),
        (col("l_quantity") < 30).as("all_small"),
        (col("l_returnflag") === "R").as("any_return"), col("l_partkey"))
      tbl.appendBatch(li.where(col("l_partkey") % 2 === 0)
        .drop("l_partkey"), 0L)
      tbl.appendBatch(li.where(col("l_partkey") % 2 === 1)
        .drop("l_partkey"), 1L)
      catName
    })

  /** lineitem folded by the ORDERED list functions: even-linenumber rows,
    * a compaction (persisting per-contribution provenance), then the odd
    * rows as out-of-order arrivals — the final fold must still be
    * linenumber-ordered. Returns the table ROOT (library-door read). */
  private val stagedPkListagg = new ConcurrentHashMap[String, String]()
  private def pkListaggTable(s: SparkSession, d: String): String =
    stagedPkListagg.computeIfAbsent(d, { _ =>
      val (_, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "lagg_li",
        Map("primary-key" -> "l_orderkey", "bucket" -> "4",
          "sequence.field" -> "seq",
          "fields.flags.aggregate-function" -> "listagg",
          "fields.parts.aggregate-function" -> "collect"))
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("seq"),
        col("l_returnflag").as("flags"),
        array(col("l_partkey").cast("string")).as("parts"))
      tbl.appendBatch(li.where(col("seq") % 2 === 0), 0L)
      tbl.compact(targetFileCount = 2)
      tbl.appendBatch(li.where(col("seq") % 2 === 1), 1L)
      tbl.root
    })

  /** lineitem folded by merge_map: per-order maps of part→returnflag keyed
    * by linenumber sequence — even linenumbers, a compaction (persisting the
    * partial map WITH per-contribution provenance), then the odd rows as
    * out-of-order arrivals whose entries must still win/lose per map key by
    * SEQUENCE, not arrival. Returns the table ROOT (library-door read). */
  private val stagedPkMergeMap = new ConcurrentHashMap[String, String]()
  private def pkMergeMapTable(s: SparkSession, d: String): String =
    stagedPkMergeMap.computeIfAbsent(d, { _ =>
      val (_, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "mmap_li",
        Map("primary-key" -> "l_orderkey", "bucket" -> "4",
          "sequence.field" -> "seq",
          "fields.attrs.aggregate-function" -> "merge_map"))
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("seq"),
        map(col("l_partkey").cast("string"), col("l_returnflag")).as("attrs"))
      tbl.appendBatch(li.where(col("seq") % 2 === 0), 0L)
      tbl.compact(targetFileCount = 2)
      tbl.appendBatch(li.where(col("seq") % 2 === 1), 1L)
      tbl.root
    })

  /** customer staged then SQL-`UPDATE`-d (BUILDING segment +100). */
  private val stagedUpd = new ConcurrentHashMap[String, String]()
  private def updateTable(s: SparkSession, d: String): String =
    stagedUpd.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2u_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.upd_customers
               |(c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.upd_customers
               |SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_v2u_customer""".stripMargin)
      s.sql(s"""UPDATE $catName.v2db.upd_customers
               |SET c_acctbal = c_acctbal + 100
               |WHERE c_mktsegment = 'BUILDING'""".stripMargin)
      catName
    })

  /** customer as a PARTITIONED BY (c_mktsegment) table. */
  private val stagedPart = new ConcurrentHashMap[String, String]()
  private def partTable(s: SparkSession, d: String): String =
    stagedPart.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2part_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.part_customers
               |(c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)
               |PARTITIONED BY (c_mktsegment)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.part_customers
               |SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_v2part_customer""".stripMargin)
      catName
    })

  /** Date-partitioned customer aged out through CALL sys.expire_partitions
    * (values-time strategy): the two dead-past partitions drop as ONE
    * metadata-only commit, the future partition survives verbatim; snapshot
    * retention then physically reclaims the dropped partitions' files and
    * time travel past the expiry refuses. The stager asserts each step. */
  private val stagedPartExpire = new ConcurrentHashMap[String, String]()
  private def partExpireTable(s: SparkSession, d: String): String =
    stagedPartExpire.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2pex_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.pex_customers
               |(c_custkey BIGINT, c_acctbal DOUBLE, dt STRING)
               |PARTITIONED BY (dt)
               |TBLPROPERTIES ('partition.expiration-strategy' = 'values-time',
               |  'partition.expiration-time' = '3650 d')""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.pex_customers
               |SELECT c_custkey, c_acctbal,
               |  CASE WHEN c_custkey % 3 = 0 THEN '2000-01-01'
               |       WHEN c_custkey % 3 = 1 THEN '2001-06-15'
               |       ELSE '2099-12-31' END
               |FROM graft_v2pex_customer""".stripMargin)
      val cat = new GraftCatalog(s, wh)
      val t = cat.getTable("v2db", "pex_customers")
      val preExpiry = t.latestSnapshot.get.id
      val n = s.sql(s"CALL $catName.sys.expire_partitions(" +
        "`table` => 'v2db.pex_customers')").collect().head.getInt(0)
      require(n == 2, s"expected the 2 dead-past partitions to expire, got $n")
      // metadata-only: exactly ONE drop commit, the surviving partition's
      // files untouched, and the census now shows only the survivor
      require(t.latestSnapshot.get.id == preExpiry + 1,
        "partition expiry must land as one commit")
      val census = t.partitionsView.select("partition").collect()
        .map(_.getString(0)).toSeq
      require(census == Seq("{2099-12-31}"),
        s"only the future partition survives, got $census")
      // the pre-expiry version stays time-travelable UNTIL retention...
      require(t.readAt(preExpiry).count() > t.read.count(),
        "pre-expiry snapshot must still serve the dropped partitions")
      // ...then snapshot expiry reclaims the dropped partitions' files
      s.sql(s"CALL $catName.sys.expire_snapshots(" +
        "`table` => 'v2db.pex_customers', retain_min => 1, retain_max => 1, " +
        "older_than_ms => 0L)").collect()
      val live = t.latestSnapshot.get.files.map(_.path).toSet
      val onDisk = StreamTable.listDir(
        java.nio.file.Paths.get(t.root, "data", "append"))
        .map(_.toString).filter(_.endsWith(".parquet")).toSet
      require(onDisk == live,
        s"retention must reclaim exactly the dropped partitions' files " +
          s"(${onDisk.size} on disk vs ${live.size} live)")
      require(scala.util.Try(t.readAt(preExpiry).collect()).isFailure,
        "time travel past the expiry horizon must refuse")
      catName
    })

  /** Partitioned customer with the FURNITURE partition statically
    * overwritten (even keys only, balances zeroed). */
  private val stagedPartOw = new ConcurrentHashMap[String, String]()
  private def partOverwriteTable(s: SparkSession, d: String): String =
    stagedPartOw.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2pow_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.pow_customers
               |(c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)
               |PARTITIONED BY (c_mktsegment)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.pow_customers
               |SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_v2pow_customer""".stripMargin)
      s.sql(s"""INSERT OVERWRITE $catName.v2db.pow_customers
               |PARTITION (c_mktsegment = 'FURNITURE')
               |SELECT c_custkey, 0.0 FROM graft_v2pow_customer
               |WHERE c_mktsegment = 'FURNITURE' AND c_custkey % 2 = 0""".stripMargin)
      catName
    })

  /** customer STREAMED into a PARTITIONED BY (c_mktsegment) catalog table
    * through the native V2 sink — the sink's task writers split files per
    * partition value (one single-valued file per partition per task), so the
    * sink-fed table prunes partition predicates file-exactly and partition
    * overwrites stay provable (PartitionSpec pins both). */
  private val stagedPartSink = new ConcurrentHashMap[String, String]()
  private def partSinkTable(s: SparkSession, d: String): String =
    stagedPartSink.computeIfAbsent(d, { _ =>
      import org.apache.spark.sql.streaming.Trigger
      val (_, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      cat.createTable("v2db", "psink_customers",
        Map("partition-keys" -> "c_mktsegment"))
      val dst = s"$wh/v2db.db/psink_customers"
      val srcRoot = Files.createTempDirectory("graft_v2_psk_src_").toString
      val src = new StreamTable(srcRoot, s)
      src.appendBatch(Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment", "c_acctbal"), 0L)
      val chk = s"$dst/_pipe_checkpoint"
      val q = s.readStream.format("graft").load(srcRoot)
        .writeStream.format("graft")
        .option("path", dst).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      dst
    })

  /** Partitioned customer DYNAMICALLY overwritten (`writeTo(t)
    * .overwritePartitions()`): one statement rewrites the FURNITURE and
    * AUTOMOBILE partitions (even keys, balances zeroed) — the staged rows
    * define the replaced set, untouched partitions survive byte-identical
    * (PartitionSpec). */
  private val stagedPartDyn = new ConcurrentHashMap[String, String]()
  private def partDynTable(s: SparkSession, d: String): String =
    stagedPartDyn.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2powd_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.powd_customers
               |(c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)
               |PARTITIONED BY (c_mktsegment)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.powd_customers
               |SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_v2powd_customer""".stripMargin)
      s.table("graft_v2powd_customer")
        .where(col("c_mktsegment").isin("FURNITURE", "AUTOMOBILE") &&
          col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_mktsegment"), lit(0.0).as("c_acctbal"))
        .writeTo(s"$catName.v2db.powd_customers").overwritePartitions()
      catName
    })

  /** customer staged as a PRIMARY-KEY table then SQL-`UPDATE`-d (every 9th
    * key +777) — the update re-appends images, LWW resolves. */
  private val stagedPkUpd = new ConcurrentHashMap[String, String]()
  private def pkUpdateTable(s: SparkSession, d: String): String =
    stagedPkUpd.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2pku_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.pkupd_customers
               |(c_custkey BIGINT, c_acctbal DOUBLE)
               |TBLPROPERTIES ('primary-key'='c_custkey', 'bucket'='4')""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.pkupd_customers
               |SELECT c_custkey, c_acctbal FROM graft_v2pku_customer""".stripMargin)
      s.sql(s"""UPDATE $catName.v2db.pkupd_customers
               |SET c_acctbal = c_acctbal + 777
               |WHERE c_custkey % 9 = 2""".stripMargin)
      catName
    })

  /** customer staged as a PRIMARY-KEY table then SQL-`MERGE INTO`-d: every
    * 11th key deleted (tombstones), every remaining 5th key zeroed
    * (re-appended images), every 6th key re-inserted under key+30M. */
  private val stagedPkMrg = new ConcurrentHashMap[String, String]()
  private def pkMergeTable(s: SparkSession, d: String): String =
    stagedPkMrg.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2pkm_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.pkmrg_customers
               |(c_custkey BIGINT, c_acctbal DOUBLE)
               |TBLPROPERTIES ('primary-key'='c_custkey', 'bucket'='4')""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.pkmrg_customers
               |SELECT c_custkey, c_acctbal FROM graft_v2pkm_customer""".stripMargin)
      s.sql(
        s"""MERGE INTO $catName.v2db.pkmrg_customers t
           |USING (SELECT c_custkey, c_acctbal FROM graft_v2pkm_customer
           |       WHERE c_custkey % 11 = 0 OR c_custkey % 5 = 0) s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED AND s.c_custkey % 11 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET c_acctbal = 0.0
           |""".stripMargin)
      s.sql(
        s"""MERGE INTO $catName.v2db.pkmrg_customers t
           |USING (SELECT c_custkey + 30000000 AS k, c_acctbal
           |       FROM graft_v2pkm_customer WHERE c_custkey % 6 = 0) s
           |ON t.c_custkey = s.k
           |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal) VALUES (s.k, s.c_acctbal)
           |""".stripMargin)
      catName
    })

  /** customer staged as a `rowlevel.mode=dv` table then SQL-`UPDATE`-d
    * (AUTOMOBILE segment -50) — the update lands as deletion vectors +
    * appended images, never a file rewrite. */
  private val stagedDvUpd = new ConcurrentHashMap[String, String]()
  private def dvUpdateTable(s: SparkSession, d: String): String =
    stagedDvUpd.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2dvu_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.dvu_customers
               |(c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)
               |TBLPROPERTIES ('rowlevel.mode'='dv')""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.dvu_customers
               |SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_v2dvu_customer""".stripMargin)
      s.sql(s"""UPDATE $catName.v2db.dvu_customers
               |SET c_acctbal = c_acctbal - 50
               |WHERE c_mktsegment = 'AUTOMOBILE'""".stripMargin)
      catName
    })

  /** customer staged as a `rowlevel.mode=dv` table then SQL-`MERGE INTO`-d:
    * every 7th key deleted, every remaining 3rd key's balance tripled (both
    * as deletion vectors + images), every 4th key re-inserted under
    * key+20M — matched DELETE/UPDATE and not-matched INSERT through the
    * delta door. */
  private val stagedDvMrg = new ConcurrentHashMap[String, String]()
  private def dvMergeTable(s: SparkSession, d: String): String =
    stagedDvMrg.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2dvm_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.dvm_customers
               |(c_custkey BIGINT, c_acctbal DOUBLE)
               |TBLPROPERTIES ('rowlevel.mode'='dv')""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.dvm_customers
               |SELECT c_custkey, c_acctbal FROM graft_v2dvm_customer""".stripMargin)
      s.sql(
        s"""MERGE INTO $catName.v2db.dvm_customers t
           |USING (SELECT c_custkey, c_acctbal FROM graft_v2dvm_customer
           |       WHERE c_custkey % 7 = 0 OR c_custkey % 3 = 0) s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED AND s.c_custkey % 7 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET c_acctbal = t.c_acctbal * 3
           |""".stripMargin)
      s.sql(
        s"""MERGE INTO $catName.v2db.dvm_customers t
           |USING (SELECT c_custkey + 20000000 AS k, c_acctbal
           |       FROM graft_v2dvm_customer WHERE c_custkey % 4 = 0) s
           |ON t.c_custkey = s.k
           |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal) VALUES (s.k, s.c_acctbal)
           |""".stripMargin)
      catName
    })

  /** customer staged then SQL-`MERGE INTO`-d: every fifth key's balance
    * zeroed (matched UPDATE) and re-inserted under key+10M (not-matched
    * INSERT), from one source in one atomic statement. */
  private val stagedMrg = new ConcurrentHashMap[String, String]()
  private def mergeTable(s: SparkSession, d: String): String =
    stagedMrg.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2m_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.mrg_customers
               |(c_custkey BIGINT, c_acctbal DOUBLE)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.mrg_customers
               |SELECT c_custkey, c_acctbal FROM graft_v2m_customer""".stripMargin)
      s.sql(
        s"""MERGE INTO $catName.v2db.mrg_customers t
           |USING (SELECT c_custkey, c_acctbal FROM graft_v2m_customer
           |       WHERE c_custkey % 5 = 0) s
           |ON t.c_custkey = s.c_custkey
           |WHEN MATCHED THEN UPDATE SET c_acctbal = 0.0
           |""".stripMargin)
      s.sql(
        s"""MERGE INTO $catName.v2db.mrg_customers t
           |USING (SELECT c_custkey + 10000000 AS k, c_acctbal
           |       FROM graft_v2m_customer WHERE c_custkey % 5 = 0) s
           |ON t.c_custkey = s.k
           |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal) VALUES (s.k, s.c_acctbal)
           |""".stripMargin)
      catName
    })

  /** customer staged then SQL-`DELETE FROM`-ed (negative balances). */
  private val stagedDel = new ConcurrentHashMap[String, String]()
  private def deleteTable(s: SparkSession, d: String): String =
    stagedDel.computeIfAbsent(d, { _ =>
      val (catName, _) = ordersCatalog(s, d)
      Tables.customer(s, d).createOrReplaceTempView("graft_v2d_customer")
      s.sql(s"""CREATE TABLE $catName.v2db.del_customers
               |(c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE)""".stripMargin)
      s.sql(s"""INSERT INTO $catName.v2db.del_customers
               |SELECT c_custkey, c_mktsegment, c_acctbal FROM graft_v2d_customer""".stripMargin)
      s.sql(s"DELETE FROM $catName.v2db.del_customers WHERE c_acctbal < 0")
      catName
    })

  /** customer as a partial-update table: full rows at ver=1, bal-only
    * partials at ver=3 (evens), a full compaction (persisting the per-field
    * fseq provenance), then an OUT-OF-ORDER ver=2 layer for every third
    * key — the post-compaction arrival the fseq structs exist to resolve. */
  private val stagedPu = new ConcurrentHashMap[String, String]()
  private def puTable(s: SparkSession, d: String): String =
    stagedPu.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "pu_customers",
        Map("primary-key" -> "c_custkey", "bucket" -> "4",
          "merge-engine" -> "partial-update", "sequence.field" -> "ver"))
      val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      tbl.appendBatch(c.withColumn("ver", lit(1L)), 0L)
      tbl.appendBatch(c.where(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
          (col("c_acctbal") + 500d).as("c_acctbal"), lit(3L).as("ver")), 1L)
      tbl.compact(4)
      tbl.appendBatch(c.where(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), concat(col("c_name"), lit("_v2")).as("c_name"),
          lit(-999.0).as("c_acctbal"), lit(2L).as("ver")), 2L)
      catName
    })

  /** The PK-sink pipe: an append source drained TWICE through one
    * checkpoint into a primary-key target via the native V2 sink — drain 1
    * lands the base rows at sink epoch 0, drain 2 the %3 balance updates at
    * epoch 1, and the stamped sequences make the LWW view deterministic. */
  private val stagedPkSink = new ConcurrentHashMap[String, String]()
  private def pkSinkTable(s: SparkSession, d: String): String =
    stagedPkSink.computeIfAbsent(d, { _ =>
      import org.apache.spark.sql.streaming.Trigger
      val (_, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      cat.createTable("v2db", "pks_customers",
        Map("primary-key" -> "c_custkey", "bucket" -> "4"))
      val dst = s"$wh/v2db.db/pks_customers"
      val srcRoot = Files.createTempDirectory("graft_v2_pks_src_").toString
      val src = new StreamTable(srcRoot, s)
      val chk = s"$dst/_pipe_checkpoint"
      def drain(): Unit = {
        val q = s.readStream.format("graft").load(srcRoot)
          .writeStream.format("graft")
          .option("path", dst).option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val c = Tables.customer(s, d).select("c_custkey", "c_acctbal")
      src.appendBatch(c, 0L)
      drain()
      src.appendBatch(c.where(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000d), 1L)
      drain()
      dst
    })

  /** Test hook: the staged partial-update table's root for `d`. */
  private[graft] def debugPuRoot(d: String): String = {
    val (_, wh) = stagedCat.get(d)
    s"$wh/v2db.db/pu_customers"
  }

  /** customer as a PK upsert table: batch 0 = base rows, batch 1 = balance
    * updates for every third key, batch 2 = delete tombstones for every
    * seventh key. Defaults make it hash-bucketed on the key (the Paimon
    * fixed-bucket layout the per-bucket merge reads stand on). */
  private val stagedPk = new ConcurrentHashMap[String, String]()
  private def pkTable(s: SparkSession, d: String): String =
    stagedPk.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "pk_cust",
        Map("primary-key" -> "c_custkey", "bucket" -> "4"))
      val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      tbl.appendBatch(c, 0L)
      tbl.appendBatch(c.where(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000d), 1L)
      tbl.deleteBatch(c.where(col("c_custkey") % 7 === 0).select("c_custkey"), 2L)
      catName
    })

  /** pk_cust's history staged under `changelog-producer='input'` — every
    * commit persists its netted change rows, so the batch audit_log is a
    * pass-through of the changelog files (plus snapshot 0 resolved as +I). */
  private val stagedAud = new ConcurrentHashMap[String, String]()
  private def audTable(s: SparkSession, d: String): String =
    stagedAud.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "aud_cust",
        Map("primary-key" -> "c_custkey", "bucket" -> "4",
          "changelog-producer" -> "input"))
      val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
      tbl.appendBatch(c, 0L)
      tbl.appendBatch(c.where(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 1000d), 1L)
      tbl.deleteBatch(c.where(col("c_custkey") % 7 === 0).select("c_custkey"), 2L)
      catName
    })

  /** nation verbatim as a catalog table — the SMALL side for the
    * auto-broadcast statistics query. */
  private val stagedNation = new ConcurrentHashMap[String, String]()
  private def nationTable(s: SparkSession, d: String): String =
    stagedNation.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "nation_small", Map.empty)
      tbl.appendBatch(Tables.nation(s, d), 0L)
      catName
    })

  /** nation staged as TWO snapshots (verbatim, then offset replicas) so
    * VERSION AS OF 0 differs from the latest version. */
  private val stagedTt = new ConcurrentHashMap[String, String]()
  private def ttTable(s: SparkSession, d: String): String =
    stagedTt.computeIfAbsent(d, { _ =>
      val (catName, wh) = ordersCatalog(s, d)
      val cat = new GraftCatalog(s, wh)
      val tbl = cat.createTable("v2db", "nation_tt", Map.empty)
      val nation = Tables.nation(s, d)
      tbl.appendBatch(nation, 0L)
      tbl.appendBatch(nation.withColumn("n_nationkey",
        (col("n_nationkey") + lit(1000))
          .cast(nation.schema("n_nationkey").dataType)), 1L)
      catName
    })
}
