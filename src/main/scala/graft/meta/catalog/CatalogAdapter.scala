package graft.meta.catalog

import graft.meta.model._

/** Catalog access boundary (S6/S7/S8/K1).
  *
  * The reference talks to AWS Glue (src/utils/glue_utils.py); this trait
  * lets the engine run against Spark's session catalog (Derby Hive or
  * in-memory) in tests and a Glue-backed Hive metastore in production
  * with zero code change. Glue table *versions* (S7) have no Spark
  * equivalent, so adapters may return a stub.
  *
  * Catalog calls per table for one [[graft.meta.app.Alterator]] pass,
  * over an adapter whose `getTable` fills `version` and whose
  * `icebergView` reads the fetched table (as [[GlueCatalog]] does):
  *  - a DDL skipped before the lookup (no table name, not a CREATE): none;
  *  - every other table: one `getTable`, which is all that a new,
  *    identical, skipped or format-changed table, or a validate-mode
  *    change, costs;
  *  - an existing Iceberg table (not a migration): one metadata read more;
  *  - an applied Hive change: the read-modify-write fetch inside
  *    `updateSchema`, the write, and one `latestVersion` for the new id.
  * A `getTable` that carries no version costs one more `latestVersion`
  * for `previous_version` wherever a change is reported.
  */
trait CatalogAdapter {

  /** S6 — None ⇒ table absent ("new table" signal, alterator.py:287-303). */
  def getTable(db: String, table: String): Option[CatalogTableInfo]

  /** S8 — Iceberg current schema/spec/properties for a table this
    * catalog knows to be Iceberg.
    */
  def getIcebergView(db: String, table: String)
      : Option[(Seq[IcebergField], Seq[IcebergPartField], Map[String, String])]

  /** S8 for a table already fetched with [[getTable]]. Adapters whose
    * fetched table carries the metadata pointer override this to skip
    * a second catalog lookup.
    */
  def icebergView(info: CatalogTableInfo)
      : Option[(Seq[IcebergField], Seq[IcebergPartField], Map[String, String])] =
    getIcebergView(info.db, info.table)

  /** S7 — latest table version id; "0" where unsupported. */
  def latestVersion(db: String, table: String): String

  /** K1 — whole-column-list replacement: columns := (existing ++ add)
    * minus drop (glue_utils.py:35-87). Returns Left(message) on failure.
    */
  def updateSchema(db: String, table: String,
      add: Seq[PartitionKey], drop: Seq[PartitionKey]): Either[String, Unit]
}

/** Test-double catalog mirroring Glue semantics, including version
  * increments on update.
  */
final class InMemoryCatalog extends CatalogAdapter {
  private val tables = scala.collection.mutable.Map.empty[(String, String), CatalogTableInfo]
  private val versions = scala.collection.mutable.Map.empty[(String, String), Int]
  private val icebergViews = scala.collection.mutable.Map
    .empty[(String, String), (Seq[IcebergField], Seq[IcebergPartField], Map[String, String])]

  def put(info: CatalogTableInfo): Unit = {
    tables((info.db, info.table)) = info
    versions.getOrElseUpdate((info.db, info.table), 1)
  }

  def putIceberg(db: String, table: String, fields: Seq[IcebergField],
      parts: Seq[IcebergPartField], props: Map[String, String]): Unit =
    icebergViews((db, table)) = (fields, parts, props)

  override def getTable(db: String, table: String): Option[CatalogTableInfo] =
    tables.get((db, table)).map(_.copy(version = versions.get((db, table)).map(_.toString)))

  override def getIcebergView(db: String, table: String)
      : Option[(Seq[IcebergField], Seq[IcebergPartField], Map[String, String])] =
    icebergViews.get((db, table))

  override def latestVersion(db: String, table: String): String =
    versions.getOrElse((db, table), 0).toString

  override def updateSchema(db: String, table: String,
      add: Seq[PartitionKey], drop: Seq[PartitionKey]): Either[String, Unit] =
    tables.get((db, table)) match {
      case None => Left(s"EntityNotFoundException: $db.$table")
      case Some(info) =>
        // Deletion matches whole (name, type) records, like the
        // reference's dict-equality filter (glue_utils.py:69-72).
        val updated = (info.columns ++ add).filterNot(drop.contains)
        tables((db, table)) = info.copy(columns = updated)
        versions((db, table)) = versions.getOrElse((db, table), 1) + 1
        Right(())
    }
}
