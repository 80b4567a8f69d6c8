package graft.meta

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.meta.catalog._
import graft.meta.model._

/** Fake Glue service: records every updateTable input so the spec can
  * assert exactly what would go over the wire (glue_utils.py:35-87),
  * and counts the calls of each API. Safe for the overlapping calls of
  * a concurrent Alterator pass: counters are atomic, every field is
  * volatile and `updateTable` holds the instance's lock.
  */
final class FakeGlueApi extends GlueApi {
  @volatile var tables: Map[(String, String), GlueTable] = Map.empty
  @volatile var versions: Map[(String, String), Seq[String]] = Map.empty
  @volatile var updates: Vector[(String, GlueTableInput)] = Vector.empty
  @volatile var updateStatus: Int = 200
  @volatile var failGetWith: Option[GlueApiError] = None
  val getTableCalls = new AtomicInteger
  val getVersionsCalls = new AtomicInteger

  override def getTable(db: String, name: String): Either[GlueApiError, GlueTable] = {
    getTableCalls.incrementAndGet()
    failGetWith.map(Left(_)).getOrElse(
      tables.get((db, name)).toRight(
        GlueApiError("EntityNotFoundException", s"Table $name not found in database $db")))
  }

  override def getTableVersions(db: String, t: String): Either[GlueApiError, Seq[String]] = {
    getVersionsCalls.incrementAndGet()
    Right(versions.getOrElse((db, t), Nil))
  }

  /** Like Glue, a write makes a new table version: it heads the version
    * list and is the VersionId the next get_table returns. */
  override def updateTable(db: String, input: GlueTableInput): Either[GlueApiError, Int] = synchronized {
    updates :+= (db, input)
    val key = (db, input.name)
    tables.get(key).foreach { prev =>
      val history = versions.getOrElse(key, Nil)
      val next = history.headOption.fold(1)(_.toInt + 1).toString
      versions += (key -> (next +: history))
      tables += (key -> prev.copy(input = input,
        readOnlyKeys = prev.readOnlyKeys.updated("VersionId", next)))
    }
    Right(updateStatus)
  }
}

object GlueCatalogSpec {
  /** Glue calls one Alterator run costs: get_table, get_table_versions,
    * update_table, and metadata reads. */
  final case class Calls(getTable: Int, getVersions: Int, updates: Int, reads: Int)
}

class GlueCatalogSpec extends AnyFunSuite {
  import GlueCatalogSpec.Calls

  private def fixture(): (FakeGlueApi, GlueCatalog) = {
    val api = new FakeGlueApi
    api.tables += (("db1", "t1") -> GlueTable(
      databaseName = "db1",
      input = GlueTableInput(
        name = "t1",
        storageDescriptor = GlueStorageDescriptor(
          columns = Seq(GlueColumn("ID", "BIGINT"), GlueColumn("name", "string")),
          location = Some("s3://bucket/t1/"),
          inputFormat = Some("org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat"),
          serializationLibrary = Some("org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe")),
        partitionKeys = Seq(GlueColumn("day_rk", "date")),
        tableType = "EXTERNAL_TABLE",
        parameters = Map("classification" -> "parquet")),
      // the read-only keys Glue attaches on get_table, which must NOT
      // be echoed back on update (the reference pops them explicitly)
      readOnlyKeys = Map("VersionId" -> "7", "CatalogId" -> "123", "CreatedBy" -> "arn:x")))
    api.versions += (("db1", "t1") -> Seq("7", "6", "5"))
    (api, new GlueCatalog(api))
  }

  test("getTable maps the Glue response; names/types are case-folded") {
    val (_, cat) = fixture()
    val info = cat.getTable("db1", "t1").get
    assert(info.columns == Seq(PartitionKey("id", "bigint"), PartitionKey("name", "string")))
    assert(info.partitionKeys == Seq(PartitionKey("day_rk", "date")))
    assert(info.tableType == "EXTERNAL_TABLE")
    assert(info.storedAsParquet)
    assert(info.version.contains("7")) // the response's VersionId
  }

  test("EntityNotFoundException is the new-table signal (None); other errors throw") {
    val (api, cat) = fixture()
    assert(cat.getTable("db1", "absent").isEmpty)
    api.failGetWith = Some(GlueApiError("AccessDeniedException", "nope"))
    val e = intercept[RuntimeException](cat.getTable("db1", "t1"))
    assert(e.getMessage.contains("AccessDeniedException"))
  }

  test("updateSchema replaces the whole column list: existing ++ add minus drop") {
    val (api, cat) = fixture()
    val r = cat.updateSchema("db1", "t1",
      add = Seq(PartitionKey("amount", "double")),
      drop = Seq(PartitionKey("name", "string")))
    assert(r == Right(()))
    val (_, sent) = api.updates.last
    assert(sent.storageDescriptor.columns.map(c => (c.name, c.dataType)) ==
      Seq(("ID", "BIGINT"), ("amount", "double")))
    // non-column fields round-trip untouched
    assert(sent.storageDescriptor.location.contains("s3://bucket/t1/"))
    assert(sent.partitionKeys == Seq(GlueColumn("day_rk", "date")))
    assert(sent.parameters == Map("classification" -> "parquet"))
  }

  test("drop matches whole (name, type) records — a type-mismatched drop is a no-op") {
    val (api, cat) = fixture()
    cat.updateSchema("db1", "t1", add = Nil, drop = Seq(PartitionKey("name", "int")))
    val (_, sent) = api.updates.last
    assert(sent.storageDescriptor.columns.exists(_.name == "name"))
  }

  test("drop equality is case-sensitive like the reference's dict filter " +
      "(glue_utils.py:70) — a case-mismatched drop is a no-op") {
    val (api, cat) = fixture()
    // catalog record is ("ID", "BIGINT"); spec in lowercase must NOT delete it
    cat.updateSchema("db1", "t1", add = Nil, drop = Seq(PartitionKey("id", "bigint")))
    val (_, sent) = api.updates.last
    assert(sent.storageDescriptor.columns.exists(_.name == "ID"))
    // exact-case spec does delete
    cat.updateSchema("db1", "t1", add = Nil, drop = Seq(PartitionKey("ID", "BIGINT")))
    val (_, sent2) = api.updates.last
    assert(!sent2.storageDescriptor.columns.exists(_.name == "ID"))
  }

  test("updateSchema round-trips the serde (Glue replaces the WHOLE StorageDescriptor)") {
    val (api, cat) = fixture()
    cat.updateSchema("db1", "t1", add = Seq(PartitionKey("x", "int")), drop = Nil)
    val (_, sent) = api.updates.last
    assert(sent.storageDescriptor.serializationLibrary
      .contains("org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"),
      "losing the serde on update breaks every downstream reader of the table")
    assert(sent.storageDescriptor.inputFormat.exists(_.contains("Parquet")))
  }

  test("getIcebergView propagates API errors instead of reading as 'not Iceberg'") {
    val (api, _) = fixture()
    api.failGetWith = Some(GlueApiError("ThrottlingException", "slow down"))
    val cat = new GlueCatalog(api, readFile = _ => fail("should not read"))
    val e = intercept[RuntimeException](cat.getIcebergView("db1", "t1"))
    assert(e.getMessage.contains("ThrottlingException"))
    api.failGetWith = None
    // corrupt metadata also propagates (with the location in the message)
    val base = api.tables(("db1", "t1"))
    api.tables += (("db1", "ice") -> base.copy(input = base.input.copy(
      name = "ice", parameters = Map("metadata_location" -> "s3://b/v1.metadata.json"))))
    val cat2 = new GlueCatalog(api, readFile = _ => "{ not json")
    val e2 = intercept[RuntimeException](cat2.getIcebergView("db1", "ice"))
    assert(e2.getMessage.contains("v1.metadata.json"), e2.getMessage)
    // and a table with no metadata_location is genuinely None
    assert(new GlueCatalog(api, readFile = _ => "").getIcebergView("db1", "t1").isEmpty)
  }

  test("the echoed TableInput carries no read-only keys (VersionId/CatalogId/...)") {
    val (api, cat) = fixture()
    cat.updateSchema("db1", "t1", add = Seq(PartitionKey("x", "int")), drop = Nil)
    val (_, sent) = api.updates.last
    // structural: GlueTableInput has no slot for them, and the fetched
    // table's readOnlyKeys were non-empty — prove they existed and died
    assert(api.tables(("db1", "t1")).readOnlyKeys.nonEmpty)
    assert(sent.parameters.keySet.intersect(Set("VersionId", "CatalogId", "CreatedBy")).isEmpty)
  }

  test("non-200 update status and missing table surface as Left") {
    val (api, cat) = fixture()
    api.updateStatus = 500
    assert(cat.updateSchema("db1", "t1", Nil, Nil).left.exists(_.contains("HTTP 500")))
    assert(cat.updateSchema("db1", "ghost", Seq(PartitionKey("x", "int")), Nil)
      .left.exists(_.contains("EntityNotFoundException")))
  }

  test("latestVersion takes the newest (first) version id; empty list throws") {
    val (api, cat) = fixture()
    assert(cat.latestVersion("db1", "t1") == "7")
    api.versions += (("db1", "t1") -> Nil)
    val e = intercept[RuntimeException](cat.latestVersion("db1", "t1"))
    assert(e.getMessage.contains("No version available"))
  }

  test("getIcebergView projects metadata_location through the injected reader") {
    val metadataJson =
      """{"current-schema-id": 0,
        | "schemas": [{"schema-id": 0, "fields": [
        |   {"id": 1, "name": "txn_id", "type": "long"}]}],
        | "default-spec-id": 0,
        | "partition-specs": [{"spec-id": 0, "fields": [
        |   {"field-id": 1000, "name": "txn_id"}]}],
        | "properties": {"write.format.default": "parquet"}}""".stripMargin
    val (api, _) = fixture()
    val base = api.tables(("db1", "t1"))
    api.tables += (("db1", "ice") -> base.copy(input = base.input.copy(
      name = "ice",
      parameters = Map("metadata_location" -> "s3://bucket/metadata/v3.metadata.json"))))
    var asked: String = null
    val cat = new GlueCatalog(api, readFile = { loc => asked = loc; metadataJson })
    val (fields, parts, props) = cat.getIcebergView("db1", "ice").get
    assert(asked == "s3://bucket/metadata/v3.metadata.json")
    assert(fields == Seq(IcebergField(1, "txn_id", "long")))
    assert(parts.map(p => (p.fieldId, p.name)) == Seq((1000, "txn_id")))
    assert(props == Map("write.format.default" -> "parquet"))
  }

  test("hadoopReadFile reads a file:// metadata location") {
    val f = Files.createTempFile("graft-glue-ice-", ".metadata.json")
    Files.writeString(f, """{"ok": true}""")
    assert(GlueCatalog.hadoopReadFile(s"file://${f.toAbsolutePath}") == """{"ok": true}""")
    Files.deleteIfExists(f)
  }

  test("AwsSdkGlueApi without the SDK on the classpath fails with a clear message") {
    val api = new AwsSdkGlueApi("us-east-1")
    val res = api.getTable("db", "t")
    assert(res.isLeft)
    assert(res.left.exists(_.message.contains("AWS SDK")), res)
  }

  test("EP1 end-to-end through GlueCatalog: DDL vs Glue table, applied via update_table") {
    val (api, cat) = fixture()
    val report = new graft.meta.app.Alterator(cat)
      .alterSchema(Seq(graft.meta.app.Alterator.DdlSource("t1.hql", addAmountDdl))).render
    // the diff is add `amount`; applied through the Glue wire call
    assert(report.contains(""""num_updates": 1"""), report)
    assert(report.contains(""""previous_version": "7"""), report)
    assert(report.contains(""""current_version": "8"""), report)
    assert(report.contains(""""Name": "amount""""), report)
    assert(api.updates.size == 1, report)
    val (_, sent) = api.updates.last
    assert(sent.storageDescriptor.columns.map(_.name.toLowerCase) ==
      Seq("id", "name", "amount"))
    // fixpoint: re-running the same DDL now diffs clean (no_changes)
    val report2 = new graft.meta.app.Alterator(cat)
      .alterSchema(Seq(graft.meta.app.Alterator.DdlSource("t1.hql", addAmountDdl))).render
    assert(api.updates.size == 1, report2)
  }

  private def alterOne(api: FakeGlueApi, ddl: String, validate: Boolean = false,
      metadata: String = ""): (Calls, String) = {
    val (t0, v0, u0) = (api.getTableCalls.get, api.getVersionsCalls.get, api.updates.size)
    val reads = new AtomicInteger
    val cat = new GlueCatalog(api, readFile = { _ => reads.incrementAndGet(); metadata })
    val report = new graft.meta.app.Alterator(cat, validate = validate)
      .alterSchema(Seq(graft.meta.app.Alterator.DdlSource("t.hql", ddl))).render
    (Calls(api.getTableCalls.get - t0, api.getVersionsCalls.get - v0, api.updates.size - u0,
      reads.get), report)
  }

  private val addAmountDdl =
    """CREATE EXTERNAL TABLE `db1.t1` (
      |  `id` BIGINT,
      |  `name` STRING,
      |  `amount` DOUBLE
      |)
      |PARTITIONED BY (`day_rk` DATE)
      |STORED AS PARQUET""".stripMargin

  test("Glue call budget per outcome: updated, identical, new, Iceberg") {
    val (api, _) = fixture()
    // updated Hive table: the fetch, the read-modify-write fetch, the
    // write, and the version list for the new id; the old id is the
    // fetch's VersionId
    val (updated, r1) = alterOne(api, addAmountDdl)
    assert(updated == Calls(getTable = 2, getVersions = 1, updates = 1, reads = 0), r1)
    assert(r1.contains(""""previous_version": "7"""), r1)
    assert(r1.contains(""""current_version": "8"""), r1)
    // identical (the same DDL again) and new tables: the fetch alone
    val (identical, r2) = alterOne(api, addAmountDdl)
    assert(identical == Calls(1, 0, 0, 0), r2)
    assert(r2.contains(""""identical_tables": ["db1.t1"]"""), r2)
    val (fresh, r3) = alterOne(api, addAmountDdl.replace("db1.t1", "db1.absent"))
    assert(fresh == Calls(1, 0, 0, 0), r3)
    assert(r3.contains(""""new_tables": ["db1.absent"]"""), r3)
    // existing Iceberg table: the fetch and its metadata.json, no
    // second get_table for the metadata pointer
    val base = api.tables(("db1", "t1"))
    api.tables += (("db1", "ice") -> base.copy(input = base.input.copy(name = "ice",
      parameters = Map("table_type" -> "ICEBERG", "metadata_location" -> "s3://b/v1.metadata.json"))))
    val metadata =
      """{"current-schema-id": 0,
        | "schemas": [{"schema-id": 0, "fields": [{"id": 1, "name": "a", "type": "string"}]}],
        | "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}]}""".stripMargin
    val (iceberg, r4) = alterOne(api,
      "CREATE TABLE `db1.ice` (`a` string, `b` bigint) USING iceberg", metadata = metadata)
    assert(iceberg == Calls(1, 0, 0, 1), r4)
    assert(r4.contains(""""num_iceberg_tables": 1"""), r4)
  }

  test("Glue call budget in validate mode: one get_table, version from its VersionId") {
    val (api, _) = fixture()
    val (calls, report) = alterOne(api, addAmountDdl, validate = true)
    assert(calls == Calls(1, 0, 0, 0), report)
    assert(report.contains(""""previous_version": "7"""), report)
    assert(report.contains(""""current_version": "7"""), report)
  }

  test("a get_table without a VersionId, or an empty one, falls back to get_table_versions") {
    for (keys <- Seq(Map("CatalogId" -> "123"), Map("VersionId" -> ""))) {
      val (api, cat) = fixture()
      val t = api.tables(("db1", "t1"))
      api.tables += (("db1", "t1") -> t.copy(readOnlyKeys = keys))
      assert(cat.getTable("db1", "t1").get.version.isEmpty, keys)
      val (validated, rv) = alterOne(api, addAmountDdl, validate = true)
      assert(validated == Calls(1, 1, 0, 0), rv)
      assert(rv.contains(""""previous_version": "7"""), rv)
      val (applied, ra) = alterOne(api, addAmountDdl)
      assert(applied == Calls(2, 2, 1, 0), ra)
      assert(ra.contains(""""previous_version": "7"""), ra)
      assert(ra.contains(""""current_version": "8"""), ra)
    }
  }

  test("the full alterator apply path works through GlueCatalog (K1 parity)") {
    val (api, cat) = fixture()
    // simulate the apply of a diff: two adds, one delete, then re-read
    assert(cat.updateSchema("db1", "t1",
      add = Seq(PartitionKey("amount", "double"), PartitionKey("ts", "timestamp")),
      drop = Seq(PartitionKey("name", "string"))) == Right(()))
    val after = cat.getTable("db1", "t1").get
    assert(after.columns == Seq(
      PartitionKey("id", "bigint"), PartitionKey("amount", "double"),
      PartitionKey("ts", "timestamp")))
    assert(api.updates.size == 1)
  }
}
