package graft.meta.catalog

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types.{StructField, StructType}

import graft.meta.model._

/** CatalogAdapter over Spark's session catalog (in-memory or Derby-Hive).
  *
  * The reference's "apply" is a whole-column-list replacement through
  * Glue `update_table` (glue_utils.py:35-87); the Spark analog is a
  * data-schema replacement through the external catalog — ADD COLUMNS
  * semantics plus column removal, which `ALTER TABLE` DDL alone won't
  * express for v1 tables.
  */
final class SparkSessionCatalog(spark: SparkSession) extends CatalogAdapter {

  private def catalog = spark.sessionState.catalog

  override def getTable(db: String, table: String): Option[CatalogTableInfo] = {
    val ident = TableIdentifier(table, Some(db))
    if (!catalog.tableExists(ident)) None
    else Try(catalog.getTableMetadata(ident)) match {
      case Failure(_) => None
      case Success(meta) =>
        val partNames = meta.partitionColumnNames.toSet
        def keys(fields: Seq[StructField]) =
          fields.map(f => PartitionKey(f.name.toLowerCase, f.dataType.simpleString))
        Some(CatalogTableInfo(
          db = db,
          table = table,
          columns = keys(meta.schema.filterNot(f => partNames.contains(f.name))),
          partitionKeys = keys(meta.partitionSchema.fields.toSeq),
          tableType = meta.tableType.name match {
            case "EXTERNAL" => "EXTERNAL_TABLE"
            case other => other + "_TABLE"
          },
          parameters = meta.properties,
          serializationLibrary = meta.storage.serde,
          inputFormat = meta.storage.inputFormat,
          outputFormat = meta.storage.outputFormat,
          storedAsParquet = meta.provider.exists(_.equalsIgnoreCase("parquet")) ||
            meta.storage.serde.exists(_.contains("parquet"))))
    }
  }

  override def getIcebergView(db: String, table: String)
      : Option[(Seq[IcebergField], Seq[IcebergPartField], Map[String, String])] =
    getTable(db, table).flatMap(icebergView)

  override def icebergView(info: CatalogTableInfo)
      : Option[(Seq[IcebergField], Seq[IcebergPartField], Map[String, String])] =
    // No Iceberg runtime ships in this environment, but a Glue/Hive
    // catalog entry for an Iceberg table always carries its
    // `metadata_location` property — read that metadata.json through
    // the Hadoop filesystem (so file://, hdfs:// and s3a:// all work)
    // and project it with IcebergMetadataJson. A production build can
    // load through Iceberg's SparkCatalog instead; semantics match.
    IcebergMetadataJson.location(info.parameters).flatMap { location =>
      Try {
        val path = new org.apache.hadoop.fs.Path(location)
        val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
        val in = fs.open(path)
        val text =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        IcebergMetadataJson.parse(text)
      }.toOption
    }.map(parsed => (parsed.fields, parsed.partitionFields, parsed.properties))

  override def latestVersion(db: String, table: String): String = "0"

  override def updateSchema(db: String, table: String,
      add: Seq[PartitionKey], drop: Seq[PartitionKey]): Either[String, Unit] =
    Try {
      val ident = TableIdentifier(table, Some(db))
      val meta = catalog.getTableMetadata(ident)
      val partNames = meta.partitionColumnNames.toSet
      val dataFields = meta.schema.fields.filterNot(f => partNames.contains(f.name)).toSeq
      val existing = dataFields.map(f => PartitionKey(f.name.toLowerCase, f.dataType.simpleString))
      val updated = (existing ++ add).filterNot(drop.contains)
      val newSchema = StructType(updated.map(c =>
        StructField(c.name, CatalystSqlParser.parseDataType(c.dataType))))
      spark.sharedState.externalCatalog.alterTableDataSchema(db, table, newSchema)
    } match {
      case Success(_) => Right(())
      case Failure(e) => Left(e.getMessage)
    }
}
