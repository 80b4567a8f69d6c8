package graft.meta.report

import scala.collection.mutable

import graft.meta.diff.IcebergDiff
import graft.meta.model._
import graft.meta.model.JValue.{obj, str}

/** Change-report assembly — the engine's sink (K2).
  *
  * Bucket names, reason strings, stats fields and nested shapes follow
  * the reference contract exactly (alterator.py:741-796; README.md:98-365;
  * SURVEY.md Appendix B).
  */
object Report {

  /** Outcome buckets, accumulated per table or per run. */
  final class Builder(validate: Boolean, force: Boolean) {
    val skipped = mutable.ArrayBuffer.empty[JValue]
    val newTables = mutable.ArrayBuffer.empty[String]
    val success = mutable.ArrayBuffer.empty[JValue]
    val errored = mutable.ArrayBuffer.empty[String]
    val identical = mutable.ArrayBuffer.empty[String]
    val nonParquet = mutable.ArrayBuffer.empty[String]
    val iceberg = mutable.ArrayBuffer.empty[JValue]
    val formatChanged = mutable.ArrayBuffer.empty[JValue]

    /** Appends every bucket of `other` after this one's entries. */
    def ++=(other: Builder): this.type = {
      skipped ++= other.skipped
      newTables ++= other.newTables
      success ++= other.success
      errored ++= other.errored
      identical ++= other.identical
      nonParquet ++= other.nonParquet
      iceberg ++= other.iceberg
      formatChanged ++= other.formatChanged
      this
    }

    def result: JValue = {
      val analyzed = skipped.size + newTables.size + errored.size + success.size +
        identical.size + nonParquet.size + iceberg.size + formatChanged.size
      obj(
        "ResponseMetadata" -> obj(
          "validation" -> str(pyBool(validate)),
          "force" -> str(pyBool(force)),
          "stats" -> obj(
            "num_tables_analyzed" -> JNum(analyzed),
            "num_updates" -> JNum(success.size),
            "num_skipped" -> JNum(skipped.size),
            "num_new" -> JNum(newTables.size),
            "num_errored" -> JNum(errored.size),
            "num_identical" -> JNum(identical.size),
            "num_non_parquet_tables" -> JNum(nonParquet.size),
            "num_iceberg_tables" -> JNum(iceberg.size),
            "num_format_changed_tables" -> JNum(formatChanged.size))),
        "skipped_tables" -> JArr(skipped.toSeq),
        "new_tables" -> JArr(newTables.toSeq.map(JStr(_))),
        "success_tables" -> JArr(success.toSeq),
        "errored_tables" -> JArr(errored.toSeq.map(JStr(_))),
        "identical_tables" -> JArr(identical.toSeq.map(JStr(_))),
        "non_parquet_tables" -> JArr(nonParquet.toSeq.map(JStr(_))),
        "iceberg_tables" -> JArr(iceberg.toSeq),
        "format_changed_tables" -> JArr(formatChanged.toSeq))
    }
  }

  /** Python str(bool) — the reference serializes "True"/"False". */
  def pyBool(b: Boolean): String = if (b) "True" else "False"

  def columnRecord(c: PartitionKey): JValue =
    obj("Name" -> str(c.name), "Type" -> str(c.dataType))

  /** Iceberg per-table report (README.md:208-316), pruned of empty
    * sections like handler `clean_results`.
    */
  def icebergReport(r: IcebergDiff.Result): JValue = {
    val sections = mutable.ArrayBuffer[(String, JValue)]("table_name" -> str(r.tableName))
    if (r.sequenceMismatch) {
      sections += "sequenceMismatch" -> str("True")
      sections += "migration" -> str(pyBool(r.migration))
      return JObj(sections.toSeq).pruned
    }
    r.columns.foreach { c =>
      val updated = mutable.ArrayBuffer.empty[(String, JValue)]
      if (c.updatedCompatible.nonEmpty)
        updated += "compatible" -> JArr(c.updatedCompatible.map(t => obj(
          "name" -> str(t.name), "old_type" -> str(t.oldType),
          "new_type" -> str(t.newType),
          "after" -> t.after.map(str).getOrElse(JNull),
          "first" -> JBool(t.first))))
      if (c.updatedIncompatible.nonEmpty)
        updated += "incompatible" -> JArr(c.updatedIncompatible.map(t => obj(
          "name" -> str(t.name), "old_type" -> str(t.oldType),
          "new_type" -> str(t.newType),
          "backfilled_from" -> t.backfilledFrom.map(str).getOrElse(JNull))))
      val positions = c.positionChanges.map(p => obj(
        "name" -> str(p.name),
        "after" -> p.after.map(str).getOrElse(JNull),
        "reason" -> str(p.reason))) ++
        c.firstPosition.map(n => obj("first" -> str(n))).toSeq
      if (positions.nonEmpty)
        updated += "position_changes" -> JArr(positions)
      sections += "columns" -> obj(
        "new" -> JArr(c.newCols.map(n => obj(
          "name" -> str(n.name), "type" -> str(n.dataType),
          "after" -> n.after.map(str).getOrElse(JNull),
          "first" -> JBool(n.first)))),
        "dropped" -> JArr(c.dropped.map(JStr(_))),
        "renamed" -> JArr(c.renamed.map(rn => obj(
          "old_name" -> str(rn.oldName), "new_name" -> str(rn.newName)))),
        "updated" -> JObj(updated.toSeq))
    }
    sections += "partition_columns" -> obj(
      "new" -> JArr(r.partitions.newParts.map(p => obj(
        "field_id" -> JNum(p.fieldId), "name" -> str(p.name)))),
      "dropped" -> JArr(r.partitions.dropped.map(JStr(_))),
      "replaced" -> JArr(r.partitions.replaced.map(p => obj(
        "old_name" -> str(p.oldName), "new_name" -> str(p.newName)))))
    sections += "tblprops" -> obj(
      "new" -> JObj(r.props.newProps.toSeq.map { case (k, v) => k -> str(v) }),
      "removed" -> JArr(r.props.removed.map(JStr(_))),
      "updated" -> JObj(r.props.updated.toSeq.map { case (k, v) => k -> str(v) }))
    sections += "migration" -> str(pyBool(r.migration))
    JObj(sections.toSeq).pruned
  }
}
