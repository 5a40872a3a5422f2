package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A declared engine query: the Spark program plus (optionally) the ANSI-SQL
  * oracle the driver runs in DuckDB over the same parquet tables.
  *
  * Determinism contract (SURVEY.md §2B): every query ends in a total ORDER BY
  * (unique tie-breaker) and every aggregate of a floating column goes through
  * exact DECIMAL arithmetic before being cast back to DOUBLE, so the Spark
  * parquet dump and the DuckDB result are bit-identical.
  */
final case class QDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QDef {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QDef =
    QDef(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): QDef =
    QDef(name, fn, None)
}

/** Loaders for the driver testdata (TESTDATA.md / FIXTURES.md §B).
  *
  * `events.parquet` stores `ts` as parquet INT64 TIMESTAMP(NANOS) which Spark
  * only reads under `spark.sql.legacy.parquet.nanosAsLong`; we normalize it to
  * TIMESTAMP_NTZ (µs) here so every query sees a proper timestamp column. The
  * DuckDB oracle matches with `CAST(ts AS TIMESTAMP)` (ns → µs truncation).
  *
  * A load plans with no Spark job: a single-file fixture passes the schema
  * [[graft.table.StreamTable.pathSchema]] converts from its footer, memoized
  * under (path, length, modification time) so a file rewritten in place
  * misses, and converted under the session's settings on every call (so
  * `nanosAsLong` still applies). A directory, or a missing path, stays on
  * Spark's own inference.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val hp = new org.apache.hadoop.fs.Path(path)
    scala.util.Try(hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(hp)).toOption.filter(_.isFile) match {
      case Some(f) => spark.read.schema(graft.table.StreamTable.pathSchema(spark,
        Seq((path, f.getLen, f.getModificationTime)))).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(t(s, d, "events"))
  }

  /** Spread a narrow-split scan across the session's cores before CPU-heavy
    * map work (optimization guide §2.5 "input skew: one huge unsplittable
    * file … repartition immediately after the read"): the driver testdata is
    * single-row-group parquet, so every scan is ONE task and everything
    * before the first exchange runs on one core. Scale-adaptive, not a
    * local tune: when the input already has at least as many splits as the
    * session's parallelism (any real multi-file table at scale), this is a
    * NO-OP — no extra exchange is inserted.
    *
    * The shuffle key is a deterministic HASH of `key` (guide §2.5: derive
    * synthetic keys deterministically — a round-robin repartition pays a
    * sort and breaks under task retry), deliberately OPAQUE: partitioning
    * by the raw column can satisfy a downstream aggregate's clustering,
    * which silently removes the aggregate's own exchange — the exchange
    * that multi-consumer plans share via ReusedExchange. An opaque key
    * keeps those exchanges (and their reuse) intact. 64× the partition
    * count keeps the hash spread even. */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= n) df
    else df.repartition(n, pmod(xxhash64(key), lit(64L * n)))
  }

  /** Normalize `ts` to TIMESTAMP_NTZ whichever physical type the driver's
    * generator wrote it as — INT64 TIMESTAMP(NANOS) (readable only as a
    * long under nanosAsLong; early testdata) or a proper µs timestamp
    * (current testdata). Queries and oracles are written against NTZ µs. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case _ =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
    }
}

/** Numeric-parity helpers (Spark ↔ DuckDB bit-exact doubles).
  *
  * Summing doubles is order-dependent, so any `sum(double)` can differ between
  * engines in the last ulp and break hash-compare. The oracle side sums exact
  * DECIMALs; the Spark side gets the same exact sum CHEAPER: each (≤2- or
  * ≤4-decimal) value is recovered to integer cents with `rint` (pure FP, the
  * true value is within ~1e-7 of the integer) and accumulated as a LONG —
  * whole-stage-codegen long adds with map-side partials, no per-row
  * BigDecimal. The final single double division is exact on both engines.
  *
  * Range: BIT-EXACT parity with the oracle's single-rounded
  * `CAST(decimal AS DOUBLE)` needs |Σ cents| ≤ 2^53 ≈ 9.0e15 (above that,
  * long→double conversion adds a second rounding that can differ in the
  * last ulp) — ~9e8 rows of ~1e5-magnitude 2-decimal prices, or ~9e11 rows
  * of unit-scale values. Beyond that, shard the sum or fall back to
  * `sum(cast(x as decimal))`.
  */
/** Checkpoint lifecycle for iterative loops (connected components,
  * PageRank): `localCheckpoint(eager)` truncates the growing lineage each
  * round, but its blocks are NOT in the CacheManager — without cleanup every
  * superseded round stays pinned in the block manager for the session
  * lifetime. [[step]] checkpoints a round's frame and frees the blocks of
  * the round it supersedes, located via the persistent-RDD registry delta
  * (sound here because the registry callers run rounds sequentially). The
  * FINAL frame's blocks must never be freed: lineage is truncated, so
  * eviction would be unrecoverable.
  */
object IterCkpt {
  /** Checkpoint `df` eagerly; after its blocks exist, unpersist the RDDs in
    * `freeAfter` (the previous round). Returns the checkpointed frame plus
    * the ids of the RDD blocks this call created. */
  def step(df: DataFrame, freeAfter: Seq[Int] = Nil): (DataFrame, Seq[Int]) = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val ck = df.localCheckpoint(true)
    val mine = (sc.getPersistentRDDs.keySet -- before).toSeq
    free(df.sparkSession, freeAfter)
    (ck, mine)
  }

  /** Unpersist (non-blocking) previously recorded checkpoint blocks. */
  def free(s: SparkSession, ids: Seq[Int]): Unit = {
    val reg = s.sparkContext.getPersistentRDDs
    for (id <- ids; rdd <- reg.get(id)) rdd.unpersist(false)
  }
}

object X {
  /** Exact integer recovery of a ≤`scale`-decimal double — the ONE
    * definition every exact-sum/moment site must share. */
  def cents(c: Column, scale: Int = 2): Column =
    call_function("rint", c * math.pow(10, scale)).cast("long")
  /** Exact sum of a (≤2-decimal) double column, returned as double. */
  def dsum(c: Column): Column = sum(cents(c, 2)) / 100.0
  /** Exact sum at 4 decimals (for products like extprice*(1-disc)). */
  def dsum4(c: Column): Column = sum(cents(c, 4)) / 10000.0
  /** Exact avg: exact sum / count, divided as doubles. */
  def davg(c: Column): Column = dsum(c) / count(c)
}
