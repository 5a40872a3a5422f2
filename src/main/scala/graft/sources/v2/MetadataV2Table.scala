package graft.sources.v2

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** System/metadata tables through the V2 catalog — Paimon's `` `t$files` ``
  * UX (`tutorial/guide.md:200-232`) as REAL identifiers:
  *
  * {{{
  *   SELECT * FROM mycat.db.`tbl$files`
  *   SELECT * FROM mycat.db.`tbl$snapshots`
  * }}}
  *
  * Served through a [[V1Scan]] bridge that hands Spark the backing
  * DataFrame's OWN RDD — the metadata view executes as a distributed scan
  * (for `$files` over a delta-manifest table, one task per manifest
  * partition parsing and emitting its file rows), and per-row metadata is
  * NEVER collected to the driver the way a LocalScan would require. Pruning
  * and filters reach the view's own plan ([[MetadataV2Table.frameScan]]);
  * aggregates over the view run as ordinary plan nodes on top. */
class MetadataV2Table(tableName: String, df: => DataFrame)
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    lazy val frame = df
    MetadataV2Table.frameScan(s"GraftMetadataScan $tableName", frame.schema, frame)
  }
}

object MetadataV2Table {
  /** A scan over `frame`'s own plan through the [[V1Scan]] bridge, built
    * when Spark builds the scan. Spark's column pruning and the filters
    * [[GraftV2Table.filterToColumn]] translates are applied to `frame`, so
    * they reach its plan; every filter also stays post-scan. Rows pass through in Spark's
    * internal format, never converted to external `Row`s and back. */
  def frameScan(label: String, rowSchema: => StructType,
      frame: => DataFrame): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      private var required: Option[StructType] = None
      private var pushed = Array.empty[Filter]
      override def pruneColumns(r: StructType): Unit = required = Some(r)
      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters.filter(GraftV2Table.filterToColumn(_).isDefined)
        filters
      }
      override def pushedFilters(): Array[Filter] = pushed

      override def build(): Scan = {
        val full = rowSchema
        val sch = required.fold(full)(r =>
          StructType(r.fieldNames.flatMap(n => full.find(_.name == n))))
        val f = pushed.flatMap(GraftV2Table.filterToColumn)
          .foldLeft(frame)(_ where _)
          .select(sch.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
        new V1Scan {
          override def readSchema(): StructType = sch
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            (new BaseRelation with TableScan {
              override def sqlContext: SQLContext = context
              override def schema: StructType = sch
              override def needConversion: Boolean = false
              override def buildScan(): RDD[Row] =
                f.queryExecution.toRdd.asInstanceOf[RDD[Row]]
            }).asInstanceOf[T]
          override def description(): String = (label +: pushed).mkString(" ")
        }
      }
    }
}
