package graft.meta.app

import scala.util.{Failure, Success, Try}

import graft.meta.catalog.CatalogAdapter
import graft.meta.diff.{HiveDiff, IcebergDdl, IcebergDiff}
import graft.meta.model._
import graft.meta.model.JValue.{obj, str}
import graft.meta.parse.DdlParsers
import graft.meta.report.Report
import graft.meta.rules.Rules
import graft.meta.rules.Rules.{CatalogFacts, DdlFacts}
import graft.meta.types.{Compat, TypeNorm}

/** EP1 — batch DDL-vs-catalog alteration (reference lifecycle
  * alterator.py:482-739; outcome taxonomy SURVEY.md Appendix B).
  *
  * Differences from the reference, each a documented fix:
  *  - per-table failure isolation (an unexpected exception errors that
  *    table instead of aborting the remaining files — reference defect
  *    A.10);
  *  - a missing-backfill Iceberg DDL goes to `errored_tables` instead
  *    of crashing the process (ValueError propagated in the reference).
  */
final class Alterator(
    catalog: CatalogAdapter,
    validate: Boolean = false,
    force: Boolean = false,
    icebergCatalogName: String = "spark_catalog",
    emitIcebergDdl: Boolean = false) {
  import Alterator.DdlSource

  private val report = new Report.Builder(validate, force)

  def alterSchema(sources: Seq[DdlSource], accountId: String = ""): JValue = {
    sources.foreach { src =>
      Try(processOne(src, accountId)) match {
        case Success(_) => ()
        case Failure(e) =>
          val name = DdlParsers.extractTableName(
            DdlParsers.normalize(src.rawText, accountId))
            .map { case (db, t) => s"$db.$t" }.getOrElse(src.filename)
          report.errored += name
      }
    }
    report.result
  }

  private def processOne(src: DdlSource, accountId: String): Unit = {
    val data = DdlParsers.normalize(src.rawText, accountId)
    if (data.isEmpty) throw new IllegalStateException(s"No content for ${src.filename}")

    DdlParsers.extractTableName(data) match {
      case None =>
        report.skipped += obj(
          "table_name" -> str(""),
          "filename" -> str(src.filename),
          "reason" -> str("TableNameNotExtracted"))
      case Some((db, table)) =>
        val tableName = s"$db.$table"
        if (!DdlParsers.isCreateStatement(data)) {
          report.skipped += obj(
            "table_name" -> str(tableName),
            "filename" -> str(src.filename),
            "reason" -> str("NonCreateSQL"))
          return
        }
        val checks = Rules.initialChecks(DdlFacts(data))
        // ICEBERG_CHECK=false is the NORMAL state for a Hive DDL: the
        // route is Hive iff no rule failed AND the DDL is not Iceberg
        // (alterator.py:249-285 — empty `validations` means proceed).
        val validations = Rules.initialRules.map(_._1)
          .filter(r => !checks(r) && r != "ICEBERG_CHECK") ++
          (if (checks("ICEBERG_CHECK")) Seq("ICEBERG_CHECK") else Nil)
        if (validations.isEmpty) hivePath(db, table, tableName, data)
        else nonHivePath(db, table, tableName, data, validations)
    }
  }

  /** Routing when a rule failed or the DDL is Iceberg (alterator.py:546-596). */
  private def nonHivePath(db: String, table: String, tableName: String,
      data: String, validations: Seq[String]): Unit = {
    catalog.getTable(db, table) match {
      case None =>
        report.newTables += tableName
      case Some(info) =>
        if (validations.contains("ICEBERG_CHECK")) icebergPath(db, table, tableName, data, info)
        else if (validations.contains("PARQUET_CHECK")) {
          Rules.formatChanged(info, TableFormat.Text) match {
            case Some((oldF, newF)) =>
              report.formatChanged += formatChangeRecord(tableName, oldF, newF)
            case None =>
              report.nonParquet += tableName
          }
        } else if (validations.contains("EXTERNAL_TABLE")) {
          report.errored += tableName
        } else {
          report.skipped += obj(
            "table_name" -> str(tableName),
            "reason" -> str("ValidationError"),
            "type" -> JArr(validations.map(JStr(_))),
            "from" -> str("HQL"))
        }
    }
  }

  /** EP2 — Iceberg planning (alterator.py:554-578 → handler). */
  private def icebergPath(db: String, table: String, tableName: String,
      data: String, info: CatalogTableInfo): Unit = {
    val migration = Rules.formatChanged(info, TableFormat.Iceberg) match {
      case Some((oldF, newF)) =>
        report.formatChanged += formatChangeRecord(tableName, oldF, newF)
        true
      case None => false
    }
    val hqlCols = DdlParsers.icebergColumns(data, migration)
    val hqlParts = DdlParsers.icebergPartitions(data)
    val hqlProps = DdlParsers.tblProperties(data)

    val (catCols, catParts, catProps) =
      if (migration) {
        // Glue-side descriptor synthesis (handler:153-172)
        val all = info.columns ++ info.partitionKeys
        (all.zipWithIndex.map { case (c, i) => IcebergField(i + 1, c.name, c.dataType) },
          info.partitionKeys.zipWithIndex.map { case (c, i) =>
            IcebergPartField(1000 + i, c.name)
          },
          Map.empty[String, String])
      } else {
        val (fields, parts, props) = catalog.icebergView(info)
          .getOrElse(throw new IllegalStateException(
            s"$tableName is not an ICEBERG table. Please check."))
        (fields.map(f => f.copy(dataType = TypeNorm.mapIcebergToSparkDtype(f.dataType))),
          parts, props)
      }

    Try(IcebergDiff.compare(s"$icebergCatalogName.$tableName",
      catCols, hqlCols, catParts, hqlParts, catProps, hqlProps, migration)) match {
      case Success(result) =>
        if (!result.isEmpty) {
          val base = Report.icebergReport(result)
          // --emit-iceberg-ddl: attach the executable ALTER TABLE plan
          // (IcebergDdl) — the apply-path upgrade over the reference's
          // report-only behavior
          report.iceberg += (if (!emitIcebergDdl) base else base match {
            case JObj(fields) => JObj(fields :+ ("planned_ddl" ->
              JArr(IcebergDdl.statements(result).map(JStr(_)))))
            case other => other
          })
        } else if (!migration) report.identical += tableName
      case Failure(_: IcebergDiff.MissingBackfillException) =>
        report.errored += tableName
      case Failure(e) => throw e
    }
  }

  /** The Hive/Parquet apply path (alterator.py:598-735). */
  private def hivePath(db: String, table: String, tableName: String, data: String): Unit = {
    catalog.getTable(db, table) match {
      case None =>
        report.newTables += tableName
        return
      case Some(info) =>
        Rules.formatChanged(info, TableFormat.Parquet) match {
          case Some((oldF, newF)) =>
            report.formatChanged += formatChangeRecord(tableName, oldF, newF)
            return
          case None => ()
        }

        // R4 — partition invariant, failure deferred behind dtype errors.
        val hqlParts = DdlParsers.hivePartitions(data)
        val (partsOk, orderChanged) = HiveDiff.partitionColCheck(hqlParts, info.partitionKeys)
        val partError: Option[JValue] =
          if (partsOk) None
          else Some(obj(
            "table_name" -> str(tableName),
            "reason" -> str(
              if (orderChanged) "PartitionOrderValidationError"
              else "PartitionValidationError")))

        val hqlCols = DdlParsers.hiveColumns(data)
        val catalogCols = info.columns ++ info.partitionKeys
        val diff = HiveDiff.compareSchema(hqlCols, catalogCols)
        var add = diff.added
        var drop = diff.deleted

        if (diff.typeChanged.nonEmpty) {
          val changes = diff.typeChanged.map(m => Compat.TypeChange(
            m.name, m.typeOld.getOrElse(""), m.typeNew.getOrElse(""),
            backfilledFrom = m.backfilledFrom))
          val (allOk, compatible, incompatible) = Compat.classify(changes, "athena")
          if (!allOk && !force) {
            report.skipped += obj(
              "table_name" -> str(tableName),
              "reason" -> str(
                if (partError.isEmpty) "IncompatibleDataTypeError"
                else "IncompatibleDataTypeAndPartitionValidationError"),
              "details" -> obj(
                "compatible" -> JArr(compatible.map(c => obj(
                  "Name" -> str(c.name), "Type" -> str(c.oldType),
                  "updated_type" -> str(c.newType)))),
                "incompatible" -> JArr(incompatible.map(c => obj(
                  "Name" -> str(c.name), "Type" -> str(c.oldType),
                  "updated_type" -> str(c.newType),
                  "backfilled_from" -> c.backfilledFrom.map(str).getOrElse(JNull)))),
                "add" -> JArr(add.map(Report.columnRecord)),
                "delete" -> JArr(drop.map(Report.columnRecord))))
            return
          }
          if (!allOk && force) {
            // --force folds EVERY type change into delete-old + add-new.
            add = add ++ changes.map(c => PartitionKey(c.name, c.newType))
            drop = drop ++ changes.map(c => PartitionKey(c.name, c.oldType))
          } else {
            add = add ++ compatible.map(c => PartitionKey(c.name, c.newType))
            drop = drop ++ compatible.map(c => PartitionKey(c.name, c.oldType))
          }
        }

        partError match {
          case Some(err) =>
            report.skipped += err
            return
          case None => ()
        }

        applyUpdate(info, tableName, add, drop)
    }
  }

  private def applyUpdate(info: CatalogTableInfo, tableName: String,
      add: Seq[PartitionKey], drop: Seq[PartitionKey]): Unit = {
    if (add.isEmpty && drop.isEmpty) {
      report.identical += tableName
      return
    }
    def successRecord(prev: String, cur: String): JValue = obj(
      "table_name" -> str(tableName),
      "previous_version" -> str(prev),
      "current_version" -> str(cur),
      "details" -> obj(
        "add" -> JArr(add.map(Report.columnRecord)),
        "delete" -> JArr(drop.map(Report.columnRecord))))

    // the version the fetch saw; a catalog that reports none is asked
    val prev = info.version.getOrElse(catalog.latestVersion(info.db, info.table))
    if (validate) report.success += successRecord(prev, prev)
    else {
      catalog.updateSchema(info.db, info.table, add, drop) match {
        case Right(_) =>
          report.success += successRecord(prev, catalog.latestVersion(info.db, info.table))
        case Left(_) =>
          report.errored += tableName
      }
    }
  }

  private def formatChangeRecord(tableName: String, oldF: String, newF: String): JValue =
    obj(
      "old_format" -> str(oldF),
      "new_format" -> str(newF),
      "table_name" -> str(tableName))
}

object Alterator {
  final case class DdlSource(filename: String, rawText: String)
}
