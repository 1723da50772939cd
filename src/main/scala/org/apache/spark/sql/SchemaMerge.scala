package org.apache.spark.sql

import org.apache.spark.sql.types.StructType

/** Spark's own schema-merge law (the one `mergeSchema` reads apply), for
  * schemas merged outside a read. Lives in this package only because
  * `StructType.merge` is package-private.
  */
object SchemaMerge {
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)
}
