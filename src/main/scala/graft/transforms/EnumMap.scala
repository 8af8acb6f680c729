package graft.transforms

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dictionary/enum mapping with default — the reference's single biggest UDF
  * family (`src/utils.py:468-522` `map_elements` + driver-side dicts at
  * `src/core.py:203-240,529-543,694-706,1807-1810`), re-expressed as a native
  * map literal lookup so it stays inside codegen.
  */
object EnumMap {

  /** `element_at(typedLit(mapping), lower(trim(c)))` with a default.
    * Keys are matched normalized (trim+lower), like the reference. */
  def handleEnumMapping(c: Column, mapping: Map[String, String], default: String): Column =
    coalesce(element_at(typedLit(mapping), Text.handleId(c)), lit(default))

  /** Variant with no default: unmapped → null (`src/core.py:804`). */
  def handleEnumMappingOrNull(c: Column, mapping: Map[String, String]): Column =
    element_at(typedLit(mapping), Text.handleId(c))
}
