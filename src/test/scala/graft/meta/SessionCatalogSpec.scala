package graft.meta

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.meta.app.Alterator
import graft.meta.app.Alterator.DdlSource
import graft.meta.catalog.SparkSessionCatalog

/** The live-catalog e2e the InMemory suites can't give us: EP1 through
  * a REAL Derby-Hive session catalog — diff → apply
  * (alterTableDataSchema) → re-diff reaches the fixpoint
  * (`identical_tables`), with zero AWS (BASELINE.md target;
  * SURVEY.md §5.2-4, §7.2).
  */
class SessionCatalogSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val catalog = new SparkSessionCatalog(spark)

  private val ddl =
    """CREATE EXTERNAL TABLE IF NOT EXISTS `sdb.raw_sales`(
      |  `txn_id` bigint,
      |  `amount` decimal(18,2),
      |  `note` string,
      |  `cnt` bigint,
      |  `flag` string
      |)
      |PARTITIONED BY (`day_rk` date)
      |STORED AS PARQUET
      |LOCATION 's3://b/sdb/raw_sales'""".stripMargin

  test("EP1 against Derby-Hive: apply alters the real table, re-run is the fixpoint") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sdb")
    spark.sql("DROP TABLE IF EXISTS sdb.raw_sales")
    spark.sql(
      """CREATE TABLE sdb.raw_sales (
        |  txn_id BIGINT, amount DECIMAL(18,2), note STRING, cnt INT,
        |  legacy_col INT, day_rk DATE)
        |USING parquet PARTITIONED BY (day_rk)""".stripMargin)

    // getTable through the live catalog sees data vs partition columns
    val info = catalog.getTable("sdb", "raw_sales").get
    assert(info.columns.map(_.name) ==
      Seq("txn_id", "amount", "note", "cnt", "legacy_col"))
    assert(info.partitionKeys == Seq(graft.meta.model.PartitionKey("day_rk", "date")))
    assert(info.storedAsParquet)

    // apply: add flag, drop legacy_col, widen cnt int->bigint (compatible)
    val report = new Alterator(catalog)
      .alterSchema(Seq(DdlSource("raw_sales.hql", ddl))).render
    assert(report.contains(""""num_updates": 1"""), report)
    assert(report.contains(""""Name": "flag""""), report)
    assert(report.contains(""""Name": "legacy_col""""), report)

    // the REAL table changed
    val fields = spark.table("sdb.raw_sales").schema.fields.map(f =>
      f.name -> f.dataType.simpleString).toSeq
    assert(fields.contains("flag" -> "string"))
    assert(fields.contains("cnt" -> "bigint"))
    assert(!fields.exists(_._1 == "legacy_col"))
    assert(fields.contains("day_rk" -> "date")) // partition col intact

    // re-diff: fixpoint
    val rerun = new Alterator(catalog)
      .alterSchema(Seq(DdlSource("raw_sales.hql", ddl))).render
    assert(rerun.contains(""""num_identical": 1"""), rerun)
    assert(rerun.contains("sdb.raw_sales"), rerun)
  }

  test("incompatible type change without backfill is skipped, --force applies drop+add") {
    spark.sql("CREATE DATABASE IF NOT EXISTS sdb")
    spark.sql("DROP TABLE IF EXISTS sdb.typed")
    spark.sql("CREATE TABLE sdb.typed (id BIGINT, v STRING) USING parquet")
    // bigint -> int is a narrowing the Athena matrix rejects
    val narrowing =
      """CREATE EXTERNAL TABLE `sdb.typed`(
        |  `id` int,
        |  `v` string
        |)
        |STORED AS PARQUET
        |LOCATION 's3://b/sdb/typed'""".stripMargin

    val skipped = new Alterator(catalog)
      .alterSchema(Seq(DdlSource("typed.hql", narrowing))).render
    assert(skipped.contains("IncompatibleDataTypeError"), skipped)
    assert(spark.table("sdb.typed").schema("id").dataType.simpleString == "bigint")

    val forced = new Alterator(catalog, force = true)
      .alterSchema(Seq(DdlSource("typed.hql", narrowing))).render
    assert(forced.contains(""""num_updates": 1"""), forced)
    spark.catalog.refreshTable("sdb.typed") // drop the cached relation
    assert(spark.table("sdb.typed").schema("id").dataType.simpleString == "int")
  }

  test("EP2 end-to-end on the live catalog: USING iceberg DDL diffs via metadata_location") {
    val metadataJson =
      """{"current-schema-id": 0,
        | "schemas": [{"schema-id": 0, "fields": [
        |   {"id": 1, "name": "txn_id", "type": "long"},
        |   {"id": 2, "name": "day_rk", "type": "date"}]}],
        | "default-spec-id": 0,
        | "partition-specs": [{"spec-id": 0, "fields": [
        |   {"field-id": 1000, "name": "day_rk"}]}],
        | "properties": {}}""".stripMargin
    val f = Files.createTempFile("graft-ice-live-", ".metadata.json")
    Files.writeString(f, metadataJson)

    spark.sql("CREATE DATABASE IF NOT EXISTS sdb")
    spark.sql("DROP TABLE IF EXISTS sdb.ice_live")
    spark.sql("CREATE TABLE sdb.ice_live (x INT) USING parquet")
    // table_type/metadata_location are Glue-side parameters (reserved
    // words in Spark DDL) — set them through the catalog API, as a
    // Glue-backed metastore would surface them
    val cat = spark.sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier("ice_live", Some("sdb"))
    val meta = cat.getTableMetadata(ident)
    cat.alterTable(meta.copy(properties = meta.properties ++ Map(
      "table_type" -> "ICEBERG",
      "metadata_location" -> s"file://${f.toAbsolutePath}")))

    val icebergDdl =
      """CREATE TABLE IF NOT EXISTS `sdb.ice_live` (
        |  `txn_id` bigint,
        |  `day_rk` date,
        |  `amount` double
        |)
        |USING iceberg
        |PARTITIONED BY (
        |  `day_rk`
        |)""".stripMargin
    val report = new Alterator(catalog)
      .alterSchema(Seq(DdlSource("ice_live.hql", icebergDdl))).render
    assert(report.contains(""""num_iceberg_tables": 1"""), report)
    assert(report.contains("amount"), report) // the planned new column
    Files.deleteIfExists(f)
  }

  test("getIcebergView reads metadata_location through the Hadoop FS") {
    val metadataJson =
      """{"current-schema-id": 0,
        | "schemas": [{"schema-id": 0, "fields": [
        |   {"id": 1, "name": "txn_id", "type": "long"},
        |   {"id": 2, "name": "day_rk", "type": "date"}]}],
        | "default-spec-id": 0,
        | "partition-specs": [{"spec-id": 0, "fields": [
        |   {"field-id": 1000, "name": "day_rk"}]}],
        | "properties": {"write.format.default": "parquet", "owner": "x"}}""".stripMargin
    val f = Files.createTempFile("graft-ice-", ".metadata.json")
    Files.writeString(f, metadataJson)

    spark.sql("CREATE DATABASE IF NOT EXISTS sdb")
    spark.sql("DROP TABLE IF EXISTS sdb.ice_t")
    // `table_type` is reserved in Spark 4 DDL; getIcebergView keys off
    // metadata_location alone (table_type routing is a catalog-side
    // parameter in Glue, asserted via InMemoryCatalog suites).
    spark.sql(
      s"""CREATE TABLE sdb.ice_t (x INT) USING parquet
         |TBLPROPERTIES ('metadata_location' = 'file://${f.toAbsolutePath}')""".stripMargin)

    val view = catalog.getIcebergView("sdb", "ice_t")
    val (fields, parts, props) = view.get
    assert(fields.map(f => (f.id, f.name, f.dataType)) ==
      Seq((1, "txn_id", "long"), (2, "day_rk", "date")))
    assert(parts.map(p => (p.fieldId, p.name)) == Seq((1000, "day_rk")))
    assert(props == Map("write.format.default" -> "parquet")) // owner stripped
    // the same view from the table already fetched
    val info = catalog.getTable("sdb", "ice_t").get
    assert(catalog.icebergView(info) == view)
    // an unreadable metadata.json or an absent table reads as no view
    Files.deleteIfExists(f)
    assert(catalog.icebergView(info).isEmpty)
    assert(catalog.getIcebergView("sdb", "absent_t").isEmpty)
  }
}
