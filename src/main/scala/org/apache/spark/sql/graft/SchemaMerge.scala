package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType

/** Spark's own schema-merge and nullability rules, which Spark keeps
  * package-private. [[graft.table.StreamTable.fileSchema]] merges file
  * schemas on the driver and must do so exactly as parquet schema
  * inference does: same field order, same type widening, same errors. */
object SchemaMerge {
  /** `StructType.merge`: fields of `a` in order, then the new fields of `b`. */
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)

  /** Every field, element and value nullable, as a file source reports it. */
  def asNullable(s: StructType): StructType = s.asNullable
}
