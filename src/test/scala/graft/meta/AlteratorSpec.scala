package graft.meta

import org.scalatest.funsuite.AnyFunSuite

import graft.meta.app.{Alterator, Sync}
import graft.meta.app.Alterator.DdlSource
import graft.meta.catalog.InMemoryCatalog
import graft.meta.model._
import graft.meta.rules.Rules

/** EP1 end-to-end over a Glue-shaped in-memory catalog, asserting every
  * outcome bucket of the report contract (SURVEY.md Appendix B;
  * README.md:98-365 shapes).
  */
class AlteratorSpec extends AnyFunSuite {

  private def rawSalesCatalog = CatalogTableInfo(
    db = "sdb", table = "raw_sales",
    columns = Seq(
      PartitionKey("txn_id", "bigint"),
      PartitionKey("amount", "decimal(18,2)"),
      PartitionKey("note", "string"),
      PartitionKey("rbs_trading_counterparty", "string")),
    partitionKeys = Seq(PartitionKey("day_rk", "date"), PartitionKey("run_rk", "int")),
    tableType = "EXTERNAL_TABLE",
    serializationLibrary = Some(Rules.ParquetSerde),
    inputFormat = Some(Rules.ParquetInputFormat),
    outputFormat = Some(Rules.ParquetOutputFormat))

  private def freshCatalog(): InMemoryCatalog = {
    val c = new InMemoryCatalog
    c.put(rawSalesCatalog)
    c
  }

  private def src(name: String, ddl: String) = DdlSource(name, ddl)

  private val happyDdl =
    """CREATE EXTERNAL TABLE IF NOT EXISTS `sdb.raw_sales`(
      |  `txn_id` bigint,
      |  `amount` decimal(18,2),
      |  `note` string,
      |  `ile1` string,
      |  `sovereign_guarantee_flag` string
      |)
      |PARTITIONED BY (`day_rk` date, `run_rk` int)
      |STORED AS PARQUET
      |LOCATION 's3://b/sdb/raw_sales'""".stripMargin

  test("success path: add 2, drop 1, version bump; re-run is identical") {
    val catalog = freshCatalog()
    val alterator = new Alterator(catalog)
    val report = alterator.alterSchema(Seq(src("raw_sales.hql", happyDdl)))
    val rendered = report.render
    assert(rendered.contains(""""num_updates": 1"""))
    assert(rendered.contains(""""previous_version": "1""""))
    assert(rendered.contains(""""current_version": "2""""))
    assert(rendered.contains(""""Name": "ile1""""))
    assert(rendered.contains(""""Name": "rbs_trading_counterparty""""))
    // catalog now matches the DDL
    val cols = catalog.getTable("sdb", "raw_sales").get.columns.map(_.name)
    assert(cols == Seq("txn_id", "amount", "note", "ile1", "sovereign_guarantee_flag"))
    // fixpoint: re-running the same DDL lands in identical_tables
    val report2 = new Alterator(catalog).alterSchema(Seq(src("raw_sales.hql", happyDdl)))
    assert(report2.render.contains(""""identical_tables": ["sdb.raw_sales"]"""))
  }

  test("--validate reports the plan without writing") {
    val catalog = freshCatalog()
    val report = new Alterator(catalog, validate = true)
      .alterSchema(Seq(src("raw_sales.hql", happyDdl)))
    assert(report.render.contains(""""previous_version": "1""""))
    assert(report.render.contains(""""current_version": "1""""))
    assert(catalog.getTable("sdb", "raw_sales").get.columns.size == 4) // untouched
  }

  test("incompatible dtype -> skipped with detail split") {
    val ddl = happyDdl.replace("`amount` decimal(18,2)", "`amount` bigint")
      .replace("`txn_id` bigint", "`txn_id` string") // bigint->string? no: txn_id string is incompatible too
    val report = new Alterator(freshCatalog()).alterSchema(Seq(src("f.hql", ddl)))
    val r = report.render
    assert(r.contains(""""reason": "IncompatibleDataTypeError""""))
    assert(r.contains(""""num_skipped": 1"""))
  }

  test("compatible dtype folds into add+delete") {
    // int -> bigint on the run_rk partition col is a partition type change,
    // so use a data column instead: note string -> varchar? athena STRING
    // allows VARCHAR. Keep simple: amount decimal(18,2) -> decimal(22,2).
    val ddl = happyDdl.replace("`amount` decimal(18,2)", "`amount` decimal(22,2)")
    val catalog = freshCatalog()
    val report = new Alterator(catalog).alterSchema(Seq(src("f.hql", ddl)))
    val r = report.render
    assert(r.contains(""""num_updates": 1"""))
    val amount = catalog.getTable("sdb", "raw_sales").get.columns
      .find(_.name == "amount").get
    assert(amount.dataType == "decimal(22,2)")
  }

  test("--force applies incompatible changes as delete+add") {
    val ddl = happyDdl.replace("`amount` decimal(18,2)", "`amount` bigint")
    val catalog = freshCatalog()
    val report = new Alterator(catalog, force = true).alterSchema(Seq(src("f.hql", ddl)))
    assert(report.render.contains(""""num_updates": 1"""))
    val amount = catalog.getTable("sdb", "raw_sales").get.columns.find(_.name == "amount").get
    assert(amount.dataType == "bigint")
  }

  test("partition reorder -> PartitionOrderValidationError") {
    val ddl = happyDdl.replace("PARTITIONED BY (`day_rk` date, `run_rk` int)",
      "PARTITIONED BY (`run_rk` int, `day_rk` date)")
    val report = new Alterator(freshCatalog()).alterSchema(Seq(src("f.hql", ddl)))
    assert(report.render.contains(""""reason": "PartitionOrderValidationError""""))
  }

  test("partition add -> PartitionValidationError") {
    val ddl = happyDdl.replace("PARTITIONED BY (`day_rk` date, `run_rk` int)",
      "PARTITIONED BY (`day_rk` date, `run_rk` int, `hour_rk` int)")
    val report = new Alterator(freshCatalog()).alterSchema(Seq(src("f.hql", ddl)))
    assert(report.render.contains(""""reason": "PartitionValidationError""""))
  }

  test("incompatible dtype + partition error -> combined reason, dtype wins") {
    val ddl = happyDdl
      .replace("`amount` decimal(18,2)", "`amount` bigint")
      .replace("PARTITIONED BY (`day_rk` date, `run_rk` int)",
        "PARTITIONED BY (`run_rk` int, `day_rk` date)")
    val report = new Alterator(freshCatalog()).alterSchema(Seq(src("f.hql", ddl)))
    assert(report.render.contains(
      """"reason": "IncompatibleDataTypeAndPartitionValidationError""""))
  }

  test("unknown table -> new_tables") {
    val ddl = happyDdl.replace("`sdb.raw_sales`", "`sdb.brand_new`")
    val report = new Alterator(freshCatalog()).alterSchema(Seq(src("f.hql", ddl)))
    assert(report.render.contains(""""new_tables": ["sdb.brand_new"]"""))
  }

  test("name extraction failure and non-create -> skipped taxonomy") {
    val report = new Alterator(freshCatalog()).alterSchema(Seq(
      src("no_ticks.hql", "CREATE TABLE sdb.no_ticks (a int) STORED AS PARQUET"),
      src("alter.hql", "ALTER TABLE `sdb.raw_sales` ADD COLUMNS (`x` int)")))
    val r = report.render
    assert(r.contains(""""reason": "TableNameNotExtracted""""))
    assert(r.contains(""""reason": "NonCreateSQL""""))
    assert(r.contains(""""num_skipped": 2"""))
  }

  test("managed (non-external) DDL on existing table -> errored") {
    val ddl = happyDdl.replace("CREATE EXTERNAL TABLE", "CREATE TABLE")
    val report = new Alterator(freshCatalog()).alterSchema(Seq(src("f.hql", ddl)))
    assert(report.render.contains(""""errored_tables": ["sdb.raw_sales"]"""))
  }

  test("text DDL against text catalog table -> non_parquet") {
    val catalog = freshCatalog()
    catalog.put(CatalogTableInfo("sdb", "logs",
      columns = Seq(PartitionKey("line", "string")), partitionKeys = Nil,
      tableType = "EXTERNAL_TABLE"))
    val ddl = "CREATE EXTERNAL TABLE `sdb.logs`(`line` string) STORED AS TEXTFILE"
    val report = new Alterator(catalog).alterSchema(Seq(src("f.hql", ddl)))
    assert(report.render.contains(""""non_parquet_tables": ["sdb.logs"]"""))
  }

  test("parquet DDL against text catalog table -> format_changed") {
    val catalog = freshCatalog()
    catalog.put(CatalogTableInfo("sdb", "logs",
      columns = Seq(PartitionKey("line", "string")), partitionKeys = Nil,
      tableType = "EXTERNAL_TABLE"))
    val ddl = "CREATE EXTERNAL TABLE `sdb.logs`(`line` string) STORED AS PARQUET"
    val report = new Alterator(catalog).alterSchema(Seq(src("f.hql", ddl)))
    val r = report.render
    assert(r.contains(""""old_format": "TEXT""""))
    assert(r.contains(""""new_format": "PARQUET""""))
  }

  test("iceberg DDL diffs against iceberg catalog view") {
    val catalog = freshCatalog()
    catalog.put(CatalogTableInfo("idb", "ic_sales",
      columns = Seq(PartitionKey("col1", "string")), partitionKeys = Nil,
      tableType = "EXTERNAL_TABLE",
      parameters = Map("table_type" -> "ICEBERG")))
    catalog.putIceberg("idb", "ic_sales",
      Seq(IcebergField(1, "col1", "string")),
      Seq(IcebergPartField(1000, "day_rk")),
      Map("write.parquet.compression-codec" -> "zstd"))
    val ddl =
      """CREATE TABLE `idb.ic_sales` (
        |  `col1` string,
        |  `col2` bigint,
        |)
        |USING iceberg
        |PARTITIONED BY (`day_rk`)""".stripMargin
    val report = new Alterator(catalog).alterSchema(Seq(src("ic.hql", ddl)))
    val r = report.render
    assert(r.contains(""""num_iceberg_tables": 1"""))
    assert(r.contains(""""table_name": "spark_catalog.idb.ic_sales""""))
    assert(r.contains(""""name": "col2""""))
    assert(r.contains(""""type": "long"""")) // bigint mapped via N3
    assert(r.contains(""""migration": "False""""))
  }

  test("--emit-iceberg-ddl attaches the executable ALTER plan") {
    val catalog = freshCatalog()
    catalog.put(CatalogTableInfo("idb", "ic_sales",
      columns = Seq(PartitionKey("col1", "string")),
      partitionKeys = Seq(PartitionKey("day_rk", "date")),
      tableType = "EXTERNAL_TABLE",
      parameters = Map("table_type" -> "ICEBERG")))
    catalog.putIceberg("idb", "ic_sales",
      Seq(IcebergField(1, "col1", "string")),
      Seq(IcebergPartField(1000, "day_rk")),
      Map.empty)
    val ddl =
      """CREATE TABLE `idb.ic_sales` (
        |  `col1` string,
        |  `col2` bigint,
        |)
        |USING iceberg
        |PARTITIONED BY (`day_rk`)""".stripMargin
    val r = new Alterator(catalog, emitIcebergDdl = true)
      .alterSchema(Seq(src("ic.hql", ddl))).render
    assert(r.contains("planned_ddl"), r)
    assert(r.contains(
      "ALTER TABLE spark_catalog.idb.ic_sales ADD COLUMN `col2` long"), r)
  }

  test("identical iceberg table -> identical bucket") {
    val catalog = freshCatalog()
    catalog.put(CatalogTableInfo("idb", "t",
      columns = Seq(PartitionKey("a", "string")), partitionKeys = Nil,
      tableType = "EXTERNAL_TABLE", parameters = Map("table_type" -> "ICEBERG")))
    catalog.putIceberg("idb", "t", Seq(IcebergField(1, "a", "string")), Nil, Map.empty)
    val ddl = "CREATE TABLE `idb.t` (`a` string) USING iceberg"
    val report = new Alterator(catalog).alterSchema(Seq(src("t.hql", ddl)))
    assert(report.render.contains(""""identical_tables": ["idb.t"]"""))
  }

  test("parquet->iceberg migration runs with format_changed + migration flag") {
    val catalog = freshCatalog() // raw_sales is parquet in catalog
    val ddl =
      """CREATE TABLE `sdb.raw_sales` (
        |  `txn_id` bigint,
        |  `amount` decimal(18,2),
        |  `note` string,
        |  `rbs_trading_counterparty` string,
        |  `day_rk` date,
        |  `run_rk` int,
        |)
        |USING iceberg
        |PARTITIONED BY (`day_rk`, `run_rk`)
        |TBLPROPERTIES('write.merge.mode'='merge-on-read')""".stripMargin
    val report = new Alterator(catalog).alterSchema(Seq(src("mig.hql", ddl)))
    val r = report.render
    assert(r.contains(""""old_format": "PARQUET""""))
    assert(r.contains(""""new_format": "ICEBERG""""))
    assert(r.contains(""""migration": "True""""))
    assert(r.contains(""""write.merge.mode": "merge-on-read""""))
    assert(!r.contains("sequenceMismatch"))
  }

  test("migration with reordered columns -> sequenceMismatch") {
    val catalog = freshCatalog()
    val ddl =
      """CREATE TABLE `sdb.raw_sales` (
        |  `amount` decimal(18,2),
        |  `txn_id` bigint,
        |  `note` string,
        |  `rbs_trading_counterparty` string,
        |  `day_rk` date,
        |  `run_rk` int,
        |)
        |USING iceberg""".stripMargin
    val report = new Alterator(catalog).alterSchema(Seq(src("mig.hql", ddl)))
    assert(report.render.contains(""""sequenceMismatch": "True""""))
  }

  test("missing backfill on iceberg incompatible change -> errored (isolated)") {
    val catalog = freshCatalog()
    catalog.put(CatalogTableInfo("idb", "t",
      columns = Seq(PartitionKey("a", "double")), partitionKeys = Nil,
      tableType = "EXTERNAL_TABLE", parameters = Map("table_type" -> "ICEBERG")))
    catalog.putIceberg("idb", "t", Seq(IcebergField(1, "a", "double")), Nil, Map.empty)
    val ddl = "CREATE TABLE `idb.t` (`a` bigint) USING iceberg"
    val next = "CREATE EXTERNAL TABLE `sdb.raw_sales`(`txn_id` bigint, `amount` decimal(18,2), `note` string, `rbs_trading_counterparty` string) PARTITIONED BY (`day_rk` date, `run_rk` int) STORED AS PARQUET"
    val report = new Alterator(catalog).alterSchema(Seq(
      src("t.hql", ddl), src("ok.hql", next)))
    val r = report.render
    assert(r.contains(""""errored_tables": ["idb.t"]"""))
    // the following file still processed (per-table isolation, fixes A.10)
    assert(r.contains(""""identical_tables": ["sdb.raw_sales"]"""))
  }

  test("a second alterSchema call on one instance reports its own sources only") {
    val alterator = new Alterator(freshCatalog())
    alterator.alterSchema(Seq(src("ok.hql", happyDdl)))
    val r = alterator.alterSchema(Seq(
      src("new.hql", happyDdl.replace("`sdb.raw_sales`", "`sdb.other`")))).render
    assert(r.contains(""""num_tables_analyzed": 1"""), r)
    assert(r.contains(""""num_updates": 0"""), r)
    assert(r.contains(""""success_tables": []"""), r)
    assert(r.contains(""""new_tables": ["sdb.other"]"""), r)
  }

  test("stats block counts every bucket") {
    val catalog = freshCatalog()
    val report = new Alterator(catalog).alterSchema(Seq(
      src("ok.hql", happyDdl),
      src("new.hql", happyDdl.replace("`sdb.raw_sales`", "`sdb.other`"))))
    val r = report.render
    assert(r.contains(""""num_tables_analyzed": 2"""))
    assert(r.contains(""""num_updates": 1"""))
    assert(r.contains(""""num_new": 1"""))
  }
}

class SyncSpec extends AnyFunSuite {
  private def table(db: String, name: String, cols: Seq[(String, String)],
      parts: Seq[(String, String)] = Seq("day_rk" -> "date")) =
    CatalogTableInfo(db, name,
      columns = cols.map { case (n, t) => PartitionKey(n, t) },
      partitionKeys = parts.map { case (n, t) => PartitionKey(n, t) },
      tableType = "EXTERNAL_TABLE",
      serializationLibrary = Some(Rules.ParquetSerde),
      inputFormat = Some(Rules.ParquetInputFormat),
      outputFormat = Some(Rules.ParquetOutputFormat))

  test("sync adds missing and drops extra target columns") {
    val catalog = new InMemoryCatalog
    catalog.put(table("d", "src", Seq("a" -> "int", "b" -> "string")))
    catalog.put(table("d", "tgt", Seq("a" -> "int", "c" -> "double")))
    val result = Sync.syncTables(catalog, "d.src", "d.tgt")
    assert(result.applied)
    assert(result.added.map(_.name) == Seq("b"))
    assert(result.removed.map(_.name) == Seq("c"))
    val cols = catalog.getTable("d", "tgt").get.columns.map(_.name)
    assert(cols.toSet == Set("a", "b"))
  }

  test("sync partition mismatch fails when part_check on (fixes A.2)") {
    val catalog = new InMemoryCatalog
    catalog.put(table("d", "src", Seq("a" -> "int"), parts = Seq("day_rk" -> "date")))
    catalog.put(table("d", "tgt", Seq("a" -> "int"), parts = Seq("run_rk" -> "int")))
    intercept[Sync.SyncError] { Sync.syncTables(catalog, "d.src", "d.tgt") }
    // disabled check proceeds
    val r = Sync.syncTables(catalog, "d.src", "d.tgt", partCheck = false)
    assert(!r.applied || r.applied) // no exception is the assertion
  }

  test("sync incompatible dtype fails unless forced") {
    val catalog = new InMemoryCatalog
    catalog.put(table("d", "src", Seq("a" -> "int")))
    catalog.put(table("d", "tgt", Seq("a" -> "double")))
    intercept[Sync.SyncError] { Sync.syncTables(catalog, "d.src", "d.tgt") }
    val r = Sync.syncTables(catalog, "d.src", "d.tgt", force = true)
    assert(!r.applied) // type changes alone don't add/remove columns in sync
  }

  test("validate mode never writes") {
    val catalog = new InMemoryCatalog
    catalog.put(table("d", "src", Seq("a" -> "int", "b" -> "string")))
    catalog.put(table("d", "tgt", Seq("a" -> "int")))
    val r = Sync.syncTables(catalog, "d.src", "d.tgt", validate = true)
    assert(!r.applied)
    assert(catalog.getTable("d", "tgt").get.columns.map(_.name) == Seq("a"))
  }
}
