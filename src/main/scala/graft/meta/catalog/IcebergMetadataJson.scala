package graft.meta.catalog

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.meta.model.{IcebergField, IcebergPartField}

/** S8 — offline Iceberg `metadata.json` reader.
  *
  * Projects exactly the fields the engine consumes (reference:
  * src/handler/iceberg_schema_handler.py:138-151):
  * `schemas[current-schema-id].fields`, `partition-specs[default-spec-id]
  * .fields`, `properties` (minus the Glue-injected `owner`). A
  * production build loads through Iceberg's SparkCatalog instead; this
  * parser is the zero-dependency fallback for read-only diffs.
  */
object IcebergMetadataJson {

  private val mapper = new ObjectMapper()

  final case class Metadata(
      fields: Seq[IcebergField],
      partitionFields: Seq[IcebergPartField],
      properties: Map[String, String])

  /** The `metadata.json` pointer a catalog entry for an Iceberg table
    * carries in its parameters; None for a non-Iceberg table. */
  def location(parameters: Map[String, String]): Option[String] =
    parameters.get("metadata_location").orElse(parameters.get("metadata-location"))

  def parse(json: String): Metadata = {
    val root = mapper.readTree(json)
    val schemaId = root.get("current-schema-id").asInt()
    val schema = root.get("schemas").elements().asScala
      .find(s => s.get("schema-id").asInt() == schemaId)
      .getOrElse(throw new IllegalArgumentException(s"schema $schemaId not found"))
    val fields = schema.get("fields").elements().asScala.map { f =>
      IcebergField(f.get("id").asInt(), f.get("name").asText(), typeText(f.get("type")))
    }.toSeq

    val specId = root.get("default-spec-id").asInt()
    val spec = root.get("partition-specs").elements().asScala
      .find(s => s.get("spec-id").asInt() == specId)
      .getOrElse(throw new IllegalArgumentException(s"partition spec $specId not found"))
    val partFields = spec.get("fields").elements().asScala.map { f =>
      IcebergPartField(f.get("field-id").asInt(), f.get("name").asText())
    }.toSeq

    val props = Option(root.get("properties")).map { p =>
      p.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty) - "owner"

    Metadata(fields, partFields, props)
  }

  /** Primitive types arrive as strings; nested types as objects — render
    * the object form compactly so complex-typed columns survive (the
    * reference only handles the string form).
    */
  private def typeText(node: JsonNode): String =
    if (node.isTextual) node.asText() else node.toString
}
