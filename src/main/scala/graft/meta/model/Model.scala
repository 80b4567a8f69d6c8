package graft.meta.model

/** Core data model (SURVEY.md §1.1).
  *
  * One "row" of the metadata plane is a column descriptor; a "table" is
  * one table's ordered descriptor list. Types are carried as normalized
  * lowercase strings (the reference's contract); complex types
  * (`array<...>`, `struct<...>`, `map<...>`) are first-class here —
  * fixing reference defect A.7 where they silently vanish.
  */
final case class ColumnSpec(
    name: String,
    dataType: String,
    backfilledFrom: Option[String] = None,
    commented: Boolean = false,
    renamedFrom: Option[String] = None,
    after: Option[String] = None,
    first: Boolean = false)

/** Iceberg-side catalog field: ordinal `id` from table metadata. */
final case class IcebergField(id: Int, name: String, dataType: String)

/** Iceberg partition-spec field (identity transforms only — the
  * reference never parses bucket/truncate/... transforms).
  */
final case class IcebergPartField(fieldId: Int, name: String, commented: Boolean = false)

/** Hive-side typed partition key. */
final case class PartitionKey(name: String, dataType: String)

sealed trait TableFormat
object TableFormat {
  case object Parquet extends TableFormat
  case object Iceberg extends TableFormat
  case object Text extends TableFormat
  def name(f: TableFormat): String = f match {
    case Parquet => "PARQUET"
    case Iceberg => "ICEBERG"
    case Text => "TEXT"
  }
}

/** Catalog view of a table — the engine-agnostic subset of a Glue
  * `get_table` response / Spark `CatalogTable` the rules consume
  * (reference: src/utils/glue_utils.py:13-32, consumed alterator.py:598-631).
  *
  * `version` is the table version the fetch saw (Glue's `VersionId`),
  * None where the catalog's response carries none.
  */
final case class CatalogTableInfo(
    db: String,
    table: String,
    columns: Seq[PartitionKey],          // data columns: (name, type)
    partitionKeys: Seq[PartitionKey],
    tableType: String,                   // e.g. EXTERNAL_TABLE / MANAGED_TABLE
    parameters: Map[String, String] = Map.empty,
    serializationLibrary: Option[String] = None,
    inputFormat: Option[String] = None,
    outputFormat: Option[String] = None,
    storedAsParquet: Boolean = false,
    version: Option[String] = None) {
  def qualified: String = s"$db.$table"
}
