package graft.sources

/** Marker the masked-scan rewrite ([[graft.plans.VtMaskedScanRewrite]])
  * keys on: a catalog [[org.apache.spark.sql.connector.catalog.Table]]
  * backed by a [[graft.operators.VersionedTable]] commit-log version.
  * Carried by BOTH [[VtCatalog]]'s latest-version (writable) table and
  * its time-travel (read-only) tables — SELECT over a DV'd or
  * column-mapped version rewrites onto the masking read plan either
  * way, version-pinned via `vtVersion`. */
trait VtTable {
  /** The versioned-table root directory. */
  def vtPath: String

  /** The committed version this table object resolved at load. */
  def vtVersion: Int

  /** Why this version's PLAIN file scan would lie (deletion vectors
    * to mask / mapped columns to alias), or None when a plain scan is
    * exact. When set, [[graft.plans.VtMaskedScanRewrite]] rewrites the
    * relation onto the masking logical plan so SQL SELECT stays
    * correct; without the rule the scan refuses at materialization
    * ([[VtScanGuard]]). */
  def vtScanRefusal: Option[String]

  /** True when the version's schema MAPS renamed columns — logical
    * names then misalign against the manifest's physical stats keys,
    * so metadata folds over named columns must decline. Distinct from
    * [[vtScanRefusal]]: a deletion vector also refuses the plain scan
    * but leaves stats keys perfectly aligned, and
    * [[graft.plans.VtMetadataAgg]]'s demote machinery answers DV'd
    * versions exactly from metadata + a boundary rescan. */
  def vtHasMapping: Boolean
}

/** The WRITABLE refinement the SQL DML planner strategy
  * ([[graft.plans.VtDmlStrategy]]) keys on: mutations route through
  * [[graft.operators.VersionedTable]]'s transactional verbs at
  * `vtPath`. Implemented ONLY by [[VtCatalog]]'s latest-version table
  * — time-travel tables carry the read-only [[VtTable]] parent, so
  * `UPDATE ... VERSION AS OF` can never match the DML strategy and
  * fails with Spark's standard unsupported error. */
trait VtWritableTable extends VtTable
