package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.graftbridge.Bridge

import graft.operators.VersionedTable
import graft.sources.VtTable

/** The manifest side of the rules that answer from metadata
  * ([[VtMetadataAgg]], [[VtTopKRewrite]], [[VtJoinPrune]]): one read of
  * the pinned version's entries, and one scan of a named file subset
  * that can stand in for the relation. */
private[plans] object VtFiles {

  /** The pinned version's manifest entries, or None — the rule then
    * declines — when the version is not visible (a pending multi-table
    * manifest) or cannot be read. */
  def entriesOf(t: VtTable): Option[Seq[VersionedTable.FileEntry]] = {
    val spark = SparkSession.active
    try {
      VersionedTable.requireVisibleVersion(spark, t.vtPath, t.vtVersion)
      Some(VersionedTable.readEntries(spark, t.vtPath, t.vtVersion))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** A masked/aliased scan of the files `names` of the pinned version,
    * re-anchored on the relation's own output attributes (`relOut`) so
    * every expression above the relation still resolves against it;
    * None when the scan lacks one of the relation's columns. */
  def sliceOf(t: VtTable, names: Set[String],
      relOut: Seq[Attribute]): Option[LogicalPlan] = {
    val slice = Bridge.logicalPlan(VersionedTable.readEntrySubset(
      SparkSession.active, t.vtPath, t.vtVersion, names))
    val byName = slice.output.map(a => a.name -> a).toMap
    if (!relOut.forall(a => byName.contains(a.name))) None
    else Some(Project(relOut.map(a =>
      Alias(byName(a.name), a.name)(exprId = a.exprId)), slice))
  }
}
