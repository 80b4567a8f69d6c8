package graft.meta.catalog


import graft.meta.model._

/** Wire-shape model of the AWS Glue API subset the engine consumes —
  * the same fields the reference reads/writes out of boto3's dict
  * responses (reference: src/utils/glue_utils.py:13-114).
  *
  * Modeled as plain Scala data so the production semantics (the
  * whole-column-list replacement, the extra-key stripping, the
  * version-list ordering) are testable offline with a fake [[GlueApi]];
  * [[AwsSdkGlueApi]] binds the same trait to the real AWS SDK v2 via
  * reflection when the SDK jars are on the classpath.
  */
final case class GlueColumn(name: String, dataType: String, comment: Option[String] = None)

final case class GlueStorageDescriptor(
    columns: Seq[GlueColumn],
    location: Option[String] = None,
    inputFormat: Option[String] = None,
    outputFormat: Option[String] = None,
    serializationLibrary: Option[String] = None)

/** The mutable-on-update subset of a Glue table — what `update_table`
  * accepts as TableInput. */
final case class GlueTableInput(
    name: String,
    storageDescriptor: GlueStorageDescriptor,
    partitionKeys: Seq[GlueColumn] = Nil,
    tableType: String = "EXTERNAL_TABLE",
    parameters: Map[String, String] = Map.empty)

/** A `get_table` response: TableInput plus the read-only keys Glue
  * attaches (CreateTime, CreatedBy, VersionId, CatalogId, ...) which
  * MUST be stripped before echoing the table back through
  * `update_table` (glue_utils.py:49-62 pops them explicitly; sending
  * them back is an InvalidInputException in the real service).
  */
final case class GlueTable(
    databaseName: String,
    input: GlueTableInput,
    readOnlyKeys: Map[String, String] = Map.empty)

final case class GlueApiError(code: String, message: String)

/** The three Glue calls the reference makes (glue_utils.py:13-114). */
trait GlueApi {
  def getTable(database: String, name: String): Either[GlueApiError, GlueTable]

  /** Version ids NEWEST FIRST (Glue's `get_table_versions` order —
    * the reference takes `TableVersions[0]`, glue_utils.py:102). */
  def getTableVersions(database: String, tableName: String): Either[GlueApiError, Seq[String]]

  /** Returns the HTTP status code (the reference gates on 200,
    * glue_utils.py:82). The TableInput must already be stripped of
    * read-only keys — [[GlueTableInput]] can't even carry them. */
  def updateTable(database: String, input: GlueTableInput): Either[GlueApiError, Int]
}

/** CatalogAdapter over a Glue-shaped catalog API — the production
  * target of the reference (glue_utils.py). Pure translation layer:
  * all I/O goes through the injected [[GlueApi]], so every semantic
  * below is unit-tested against [[graft.meta.catalog.FakeGlueApi]]-style
  * doubles; bind [[AwsSdkGlueApi]] for a real deployment.
  *
  * Glue calls per table, by outcome, in one Alterator pass (see
  * [[CatalogAdapter]]): one `get_table` for a new, identical, skipped or
  * format-changed table and for a validate-mode change; one `get_table`
  * plus one metadata read for an existing Iceberg table; two `get_table`,
  * one `update_table` and one `get_table_versions` for an applied Hive
  * change. The version before a change is the `VersionId` of the first
  * `get_table`; only a response without one costs a `get_table_versions`
  * more.
  *
  * An Alterator pass has at most [[graft.meta.app.Alterator.MaxInFlight]]
  * (8) of these calls in flight at once, each for a different table; the
  * per-outcome counts above are the same as in a one-at-a-time pass. The
  * adapter holds no mutable state, so it is safe under that overlap as
  * long as the [[GlueApi]] is (the AWS SDK client is).
  *
  * @param readFile fetches `metadata_location` content for Iceberg
  *                 tables (S8); injected so tests use local files and
  *                 production uses Hadoop FS (file://, hdfs://, s3a://).
  */
final class GlueCatalog(
    api: GlueApi,
    readFile: String => String = GlueCatalog.hadoopReadFile) extends CatalogAdapter {

  /** S6 — EntityNotFoundException ⇒ None, the "new table" signal
    * (glue_utils.py:25-29, consumed alterator.py:287-303); any other
    * error is a real failure and propagates. */
  override def getTable(db: String, table: String): Option[CatalogTableInfo] =
    api.getTable(db, table) match {
      case Left(e) if e.code == "EntityNotFoundException" => None
      case Left(e) => throw new RuntimeException(s"Glue get_table($db.$table): ${e.code} ${e.message}")
      case Right(t) =>
        val in = t.input
        def keys(cs: Seq[GlueColumn]) =
          cs.map(c => PartitionKey(c.name.toLowerCase, c.dataType.toLowerCase))
        Some(CatalogTableInfo(
          db = db,
          table = table,
          columns = keys(in.storageDescriptor.columns),
          partitionKeys = keys(in.partitionKeys),
          tableType = in.tableType,
          parameters = in.parameters,
          serializationLibrary = in.storageDescriptor.serializationLibrary,
          inputFormat = in.storageDescriptor.inputFormat,
          outputFormat = in.storageDescriptor.outputFormat,
          storedAsParquet = in.storageDescriptor.serializationLibrary.exists(_.contains("parquet")) ||
            in.storageDescriptor.inputFormat.exists(_.toLowerCase.contains("parquet")),
          // AwsSdkGlueApi reports an absent VersionId as ""
          version = t.readOnlyKeys.get("VersionId").filter(_.nonEmpty)))
    }

  /** S8 — a Glue entry for an Iceberg table carries `metadata_location`
    * in its parameters; project that metadata.json. None ONLY for
    * "table absent" / "no metadata_location" (genuinely not an Iceberg
    * view); API errors and unreadable/corrupt metadata PROPAGATE — a
    * throttled call or broken metadata.json must not silently route an
    * Iceberg table down the Hive diff path. */
  override def getIcebergView(db: String, table: String)
      : Option[(Seq[IcebergField], Seq[IcebergPartField], Map[String, String])] =
    getTable(db, table).flatMap(icebergView)

  /** S8 from the parameters of a table already fetched: no Glue call. */
  override def icebergView(info: CatalogTableInfo)
      : Option[(Seq[IcebergField], Seq[IcebergPartField], Map[String, String])] =
    IcebergMetadataJson.location(info.parameters).map { location =>
      val parsed =
        try IcebergMetadataJson.parse(readFile(location))
        catch {
          case e: Exception => throw new RuntimeException(
            s"unreadable Iceberg metadata for ${info.qualified} at $location: ${e.getMessage}", e)
        }
      (parsed.fields, parsed.partitionFields, parsed.properties)
    }

  /** S7 — newest version id; throws when the list is empty, as the
    * reference does (glue_utils.py:104-106). */
  override def latestVersion(db: String, table: String): String =
    api.getTableVersions(db, table) match {
      case Right(v +: _) => v
      case Right(_) => throw new RuntimeException(s"No version available for the $db.$table")
      case Left(e) => throw new RuntimeException(s"Glue get_table_versions($db.$table): ${e.code} ${e.message}")
    }

  /** K1 — whole-column-list replacement (glue_utils.py:35-87): columns
    * := (existing ++ add) minus drop, where deletion matches whole
    * (name, type) records EXACTLY (case-sensitive) like the
    * reference's dict-equality filter (glue_utils.py:70) — a drop
    * spec whose case differs from the catalog record is a no-op, not
    * a delete. (In practice both sides are already lowercased: Glue
    * folds column names and our DDL parser case-folds types, so this
    * only matters for hand-built specs.) The echoed TableInput is the
    * fetched table minus read-only keys (structurally guaranteed
    * here: [[GlueTableInput]] has no place for them). */
  override def updateSchema(db: String, table: String,
      add: Seq[PartitionKey], drop: Seq[PartitionKey]): Either[String, Unit] =
    api.getTable(db, table) match {
      case Left(e) => Left(s"${e.code}: ${e.message}")
      case Right(t) =>
        val existing = t.input.storageDescriptor.columns
        val merged = existing ++ add.map(c => GlueColumn(c.name, c.dataType))
        val dropSet = drop.map(c => (c.name, c.dataType)).toSet
        val updated =
          if (drop.isEmpty) merged
          else merged.filterNot(c => dropSet((c.name, c.dataType)))
        val input = t.input.copy(
          storageDescriptor = t.input.storageDescriptor.copy(columns = updated))
        api.updateTable(db, input) match {
          case Right(200) => Right(())
          case Right(status) => Left(s"Update failure for $db.$table: HTTP $status")
          case Left(e) => Left(s"${e.code}: ${e.message}")
        }
    }
}

object GlueCatalog {
  /** Default metadata_location reader: Hadoop FS with fresh default
    * conf, so file:// works everywhere and s3a:// works wherever the
    * hadoop-aws credentials chain is configured. */
  def hadoopReadFile(location: String): String = {
    val path = new org.apache.hadoop.fs.Path(location)
    val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(path)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }
}

/** [[GlueApi]] over the AWS SDK v2, bound by reflection so this module
  * compiles and ships in an environment without the SDK jars (this
  * build is offline; `/opt/spark/jars` carries no AWS SDK). At runtime
  * it requires `software.amazon.awssdk:glue` (+ auth/regions) on the
  * classpath and fails fast with a clear message otherwise.
  *
  * Untestable against the real service by necessity (zero-egress build
  * env) — the call shapes mirror glue_utils.py:13-114 one-to-one, the
  * semantics above it are covered by fake-API unit tests
  * (GlueCatalogSpec), and the reflection bindings themselves are
  * pinned by AwsSdkShapeSpec: `resolve` is a seam, and the spec runs
  * every call path against stand-in classes that reproduce the SDK
  * v2's documented fluent-builder shapes (method names, arities,
  * builder protocol), so a misspelled or re-aritied binding fails a
  * unit test instead of failing at the first real AWS call.
  */
final class AwsSdkGlueApi(region: String,
    resolve: String => Class[_] = AwsSdkGlueApi.forName) extends GlueApi {
  import scala.jdk.CollectionConverters._

  private def cls(n: String): Class[_] = resolve(n)

  /** Invokes the public method named `m` whose parameters ACCEPT the
    * given arguments (runtime-instance compatibility, not exact-class
    * lookup): SDK v2 setters take concrete model classes, interfaces,
    * or collections, and an exact-Class getMethod against e.g. a
    * builder's fluent `region(Region)` or a client's
    * `getTable(GetTableRequest)` has no reliable compile-time Class to
    * name offline — matching by what the argument IS does. */
  private def call(o: AnyRef, m: String, args: AnyRef*): AnyRef = {
    val method = o.getClass.getMethods
      .find(mm => mm.getName == m && mm.getParameterCount == args.length &&
        mm.getParameterTypes.zip(args).forall { case (pt, a) =>
          a == null || pt.isInstance(a) || pt.isPrimitive
        })
      .getOrElse(throw new NoSuchMethodException(
        s"${o.getClass.getName}.$m(${args.map(a =>
          if (a == null) "null" else a.getClass.getSimpleName).mkString(",")})"))
    method.setAccessible(true)
    method.invoke(o, args: _*)
  }

  private lazy val client: AnyRef = {
    val regionObj = cls("software.amazon.awssdk.regions.Region")
      .getMethod("of", classOf[String]).invoke(null, region)
    val b = cls("software.amazon.awssdk.services.glue.GlueClient")
      .getMethod("builder").invoke(null)
    call(call(b, "region", regionObj), "build")
  }

  private def builderOf(n: String): AnyRef =
    cls(n).getMethod("builder").invoke(null)

  private def str(o: AnyRef, m: String): Option[String] =
    Option(call(o, m)).map(_.toString)

  private def toGlueColumns(javaList: AnyRef): Seq[GlueColumn] =
    javaList.asInstanceOf[java.util.List[AnyRef]].asScala.toSeq.map { c =>
      GlueColumn(str(c, "name").get, str(c, "type").getOrElse(""), str(c, "comment"))
    }

  /** Maps an SDK exception to the reference's ClientError branch. */
  private def glueError[A](e: Throwable): Either[GlueApiError, A] = {
    val cause = e match {
      case ite: java.lang.reflect.InvocationTargetException => ite.getCause
      case other => other
    }
    Left(GlueApiError(cause.getClass.getSimpleName, String.valueOf(cause.getMessage)))
  }

  override def getTable(database: String, name: String): Either[GlueApiError, GlueTable] =
    try {
      val req = call(call(call(
        builderOf("software.amazon.awssdk.services.glue.model.GetTableRequest"),
        "databaseName", database), "name", name), "build")
      val resp = call(client, "getTable", req)
      val t = call(resp, "table")
      val sd = call(t, "storageDescriptor")
      Right(GlueTable(
        databaseName = database,
        input = GlueTableInput(
          name = str(t, "name").get,
          storageDescriptor = GlueStorageDescriptor(
            columns = toGlueColumns(call(sd, "columns")),
            location = str(sd, "location"),
            inputFormat = str(sd, "inputFormat"),
            outputFormat = str(sd, "outputFormat"),
            serializationLibrary = Option(call(sd, "serdeInfo"))
              .flatMap(si => str(si, "serializationLibrary"))),
          partitionKeys = toGlueColumns(call(t, "partitionKeys")),
          tableType = str(t, "tableType").getOrElse("EXTERNAL_TABLE"),
          parameters = call(t, "parameters")
            .asInstanceOf[java.util.Map[String, String]].asScala.toMap),
        readOnlyKeys = Map(
          "VersionId" -> str(t, "versionId").getOrElse(""),
          "CatalogId" -> str(t, "catalogId").getOrElse(""))))
    } catch { case e: Throwable => glueError(e) }

  override def getTableVersions(database: String, tableName: String)
      : Either[GlueApiError, Seq[String]] =
    try {
      val req = call(call(call(
        builderOf("software.amazon.awssdk.services.glue.model.GetTableVersionsRequest"),
        "databaseName", database), "tableName", tableName), "build")
      val resp = call(client, "getTableVersions", req)
      val versions = call(resp, "tableVersions")
        .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
      Right(versions.map(v => str(v, "versionId").getOrElse("0")))
    } catch { case e: Throwable => glueError(e) }

  override def updateTable(database: String, input: GlueTableInput)
      : Either[GlueApiError, Int] =
    try {
      def column(c: GlueColumn): AnyRef = {
        val b0 = call(call(
          builderOf("software.amazon.awssdk.services.glue.model.Column"),
          "name", c.name), "type", c.dataType)
        call(c.comment.fold(b0)(cm => call(b0, "comment", cm)), "build")
      }
      val columnList: AnyRef = input.storageDescriptor.columns.map(column).asJava
      var sd = call(
        builderOf("software.amazon.awssdk.services.glue.model.StorageDescriptor"),
        "columns", columnList)
      input.storageDescriptor.location.foreach(l => sd = call(sd, "location", l))
      input.storageDescriptor.inputFormat.foreach(f => sd = call(sd, "inputFormat", f))
      input.storageDescriptor.outputFormat.foreach(f => sd = call(sd, "outputFormat", f))
      // Glue UpdateTable REPLACES the whole StorageDescriptor — the
      // serde must round-trip or the altered table loses its
      // ParquetHiveSerDe and breaks every downstream reader
      input.storageDescriptor.serializationLibrary.foreach { lib =>
        val serde = call(call(
          builderOf("software.amazon.awssdk.services.glue.model.SerDeInfo"),
          "serializationLibrary", lib), "build")
        sd = call(sd, "serdeInfo", serde)
      }
      val sdBuilt = call(sd, "build")
      var ti = call(call(
        builderOf("software.amazon.awssdk.services.glue.model.TableInput"),
        "name", input.name), "tableType", input.tableType)
      ti = call(ti, "storageDescriptor", sdBuilt)
      ti = call(ti, "partitionKeys", input.partitionKeys.map(column).asJava: AnyRef)
      ti = call(ti, "parameters", input.parameters.asJava: AnyRef)
      val tiBuilt = call(ti, "build")
      val req = call(call(call(
        builderOf("software.amazon.awssdk.services.glue.model.UpdateTableRequest"),
        "databaseName", database), "tableInput", tiBuilt), "build")
      val resp = call(client, "updateTable", req)
      val http = call(call(resp, "sdkHttpResponse"), "statusCode")
      Right(http.asInstanceOf[Int])
    } catch { case e: Throwable => glueError(e) }
}

object AwsSdkGlueApi {
  /** Default class resolver: the real SDK from the runtime classpath. */
  def forName(n: String): Class[_] =
    try Class.forName(n)
    catch {
      case _: ClassNotFoundException => throw new IllegalStateException(
        s"AWS SDK v2 class $n not on classpath — add software.amazon.awssdk:glue " +
          "to run against the real Glue service, or use GlueCatalog with a custom GlueApi")
    }
}
