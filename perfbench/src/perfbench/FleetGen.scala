package perfbench

import java.nio.file.{Files, Path}

import scala.collection.parallel.CollectionConverters._
import scala.util.Random

import graft.meta.catalog.{GlueColumn, GlueStorageDescriptor, GlueTable, GlueTableInput}
import graft.meta.rules.Rules

/** Deterministic DDL fleet: one `.hql` file per table, the Glue state the
  * files are diffed against, the Iceberg `metadata.json` files that state
  * points at, and every table's report bucket, known before the run.
  *
  * Table classes are dealt by seed in fixed shares; `k` below is a
  * table's ordinal within its class:
  *  - 55% Hive/Parquet: widen on k%3, drop on k%5, add on k%7 (updated);
  *    an incompatible type on k%11 or a partition reorder on k%13
  *    (skipped); every other table identical;
  *  - 25% Iceberg: `renamed_from` on k%3, `after:` on k%5, a commented
  *    drop on k%7, `backfilled_from` on k%11 (iceberg bucket); an
  *    incompatible change with no backfill on k%17 (errored);
  *  - 8% Hive DDL over a text-format table: PARQUET DDL on even k
  *    (format_changed), TEXTFILE DDL on odd k (non_parquet);
  *  - 8% tables absent from the catalog (new);
  *  - 4% ALTER statements and tables without a quoted name (skipped).
  */
object FleetGen {

  /** Report keys of the outcome buckets. */
  val Updated = "success_tables"
  val Identical = "identical_tables"
  val New = "new_tables"
  val Skipped = "skipped_tables"
  val Iceberg = "iceberg_tables"
  val FormatChanged = "format_changed_tables"
  val NonParquet = "non_parquet_tables"
  val Errored = "errored_tables"
  val Buckets: Seq[String] =
    Seq(Updated, Identical, New, Skipped, Iceberg, FormatChanged, NonParquet, Errored)

  /** One DDL file. `key` is how the report names the table: `db.table`, or
    * the file path when the DDL carries no extractable name. */
  final case class Entry(key: String, bucket: String)

  final case class Fleet(
      entries: Seq[Entry],
      tables: Map[(String, String), GlueTable],
      versions: Map[(String, String), List[String]],
      files: Seq[(Path, String)]) {
    /** Writes the DDL and metadata files to disk. */
    def write(): Unit = {
      files.map(_._1.getParent).distinct.foreach(Files.createDirectories(_))
      files.par.foreach { case (path, text) => Files.writeString(path, text) }
    }
  }

  private sealed trait Kind
  private case object HiveK extends Kind
  private case object IcebergK extends Kind
  private case object TextK extends Kind
  private case object NewK extends Kind
  private case object SkipK extends Kind

  private val Shares: Seq[(Kind, Double)] =
    Seq(HiveK -> 0.55, IcebergK -> 0.25, TextK -> 0.08, NewK -> 0.08, SkipK -> 0.04)

  private val Words = Vector("amount", "region", "status", "ts", "ref", "code", "qty",
    "price", "flag", "owner", "score", "label", "note", "src", "rank", "unit")

  private val HivePrimitives =
    Vector("bigint", "int", "smallint", "string", "double", "float", "boolean", "date",
      "timestamp", "varchar(64)")
  private val Nested = Vector("array<string>", "map<string,bigint>", "struct<a:int,b:string>",
    "array<struct<x:double,y:double>>", "map<string,array<int>>")
  private val IcebergPrimitives =
    Vector("long", "int", "string", "double", "float", "boolean", "date")

  private val TextSerde = "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe"
  private val TextInput = "org.apache.hadoop.mapred.TextInputFormat"
  private val TextOutput = "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat"

  /** Builds the fleet in memory; its files go under `dir` (`ddl/` and
    * `meta/`) once `write` is called. */
  def generate(seed: Long, n: Int, wide: Boolean, dir: Path): Fleet = {
    val ddlDir = dir.resolve("ddl")
    val metaDir = dir.resolve("meta")
    val counts = Shares.init.map { case (k, s) => k -> math.round(n * s).toInt }
    val kinds = new Random(seed).shuffle(
      (counts :+ (Shares.last._1 -> (n - counts.map(_._2).sum)))
        .flatMap { case (k, c) => Seq.fill(c)(k) }).toVector
    // the change patterns key on a table's ordinal within its class, so
    // every seed yields the same outcome counts and catalog-call counts
    val ordinal = kinds.scanLeft(Map.empty[Kind, Int].withDefaultValue(0)) {
      (seen, k) => seen.updated(k, seen(k) + 1)
    }.zip(kinds).map { case (seen, k) => seen(k) }
    // each table draws from its own seeded generator, so building them
    // in parallel gives the same fleet as building them in order
    val built = new Array[(Entry, Option[((String, String), GlueTable)], Seq[(Path, String)])](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { tid =>
      val kind = kinds(tid)
      val k = ordinal(tid)
      val r = new Random(seed * 0x9E3779B97F4A7C15L ^ tid)
      val db = s"fleet_db${tid % 7}"
      val table = f"t$tid%05d"
      val path = ddlDir.resolve(s"$table.hql")
      val (ddl, bucket, glue, meta) = kind match {
        case HiveK => hive(r, k, db, table, wide)
        case IcebergK => iceberg(r, k, db, table, wide, metaDir)
        case TextK => text(r, k, db, table)
        case NewK =>
          val cols = hiveColumns(r, wide)
          val ddl =
            if (k % 2 == 0) hiveDdl(db, table, cols.map(renderHive(r)), partitions)
            else icebergDdl(db, table, cols.map { case (c, _) => s"`$c` string" })
          (ddl, New, None, Nil)
        case SkipK =>
          if (k % 2 == 0)
            (s"ALTER TABLE `$db.$table` ADD COLUMNS (`extra_col` int)", Skipped, None, Nil)
          else (s"CREATE TABLE $db.$table (`a` int) STORED AS PARQUET", Skipped, None, Nil)
      }
      val key = if (kind == SkipK && k % 2 == 1) path.toString else s"$db.$table"
      built(tid) = (Entry(key, bucket), glue.map((db, table) -> _),
        (path -> ddl) +: meta)
    }
    val seeded = built.flatMap(_._2).toMap
    Fleet(built.map(_._1).toSeq, seeded, seeded.keys.map(_ -> List("3", "2", "1")).toMap,
      built.flatMap(_._3).toSeq)
  }

  private val partitions = Seq("`day_rk` date", "`run_rk` int")

  private def word(r: Random): String = Words(r.nextInt(Words.size))

  private def decimal(r: Random): String = {
    val p = 10 + r.nextInt(20)
    s"decimal($p,${r.nextInt(7)})"
  }

  /** Catalog-side (name, type) pairs: `id bigint`, then an `int` so every
    * table has a widenable column, then seeded primitives, decimals and,
    * in wide fleets, nested types. */
  private def hiveColumns(r: Random, wide: Boolean): Vector[(String, String)] = {
    val n = if (wide) 40 + r.nextInt(361) else 6 + r.nextInt(25)
    (0 until n).map { i =>
      val t =
        if (i == 0) "bigint"
        else if (i == 1) "int"
        else {
          val x = r.nextInt(100)
          if (wide && x < 6) Nested(r.nextInt(Nested.size))
          else if (x < 20) decimal(r)
          else HivePrimitives(r.nextInt(HivePrimitives.size))
        }
      (if (i == 0) "id" else s"c${i}_${word(r)}", t)
    }.toVector
  }

  /** DDL spelling of a catalog column: keyword case and decimal spacing
    * vary; the parser must normalise both. */
  private def renderHive(r: Random)(col: (String, String)): String = {
    val (name, t) = col
    val spelled =
      if (t.startsWith("decimal") && r.nextBoolean()) t.replace(",", ", ")
      else if (!t.contains("<") && r.nextInt(4) == 0) t.toUpperCase
      else t
    s"`$name` $spelled"
  }

  private def hiveDdl(db: String, table: String, cols: Seq[String], parts: Seq[String],
      stored: String = "STORED AS PARQUET"): String =
    s"""CREATE EXTERNAL TABLE IF NOT EXISTS `$db.$table`(
       |  ${cols.mkString(",\n  ")}
       |)
       |PARTITIONED BY (${parts.mkString(", ")})
       |$stored
       |LOCATION 's3://warehouse-{aws_account_id}/$db/$table'""".stripMargin

  private def glueTable(db: String, table: String, cols: Seq[(String, String)],
      parts: Seq[(String, String)], serde: String, in: String, out: String,
      params: Map[String, String]): GlueTable =
    GlueTable(db, GlueTableInput(
      name = table,
      storageDescriptor = GlueStorageDescriptor(
        columns = cols.map { case (c, t) => GlueColumn(c, t) },
        location = Some(s"s3://warehouse/$db/$table"),
        inputFormat = Some(in),
        outputFormat = Some(out),
        serializationLibrary = Some(serde)),
      partitionKeys = parts.map { case (c, t) => GlueColumn(c, t) },
      tableType = "EXTERNAL_TABLE",
      parameters = params),
      readOnlyKeys = Map("VersionId" -> "3"))

  private def hive(r: Random, k: Int, db: String, table: String, wide: Boolean)
      : (String, String, Option[GlueTable], Seq[(Path, String)]) = {
    val cols = hiveColumns(r, wide)
    val widenable = cols.indices.filter { i =>
      val t = cols(i)._2
      i > 0 && (t == "int" || t == "smallint" || t == "float" || t.startsWith("decimal"))
    }
    val widen = widenable(r.nextInt(widenable.size))
    val droppable = (2 until cols.size).filter(_ != widen)
    val drop = droppable(r.nextInt(droppable.size))
    val ddlCols = cols.indices.flatMap { i =>
      val (name, t) = cols(i)
      if (k % 5 == 0 && i == drop) None
      else if (k % 11 == 0 && i == 0) Some(s"`$name` int") // bigint -> int: incompatible
      else if (k % 3 == 0 && i == widen) Some(s"`$name` ${widened(t)}")
      else Some(renderHive(r)(cols(i)))
    } ++ (if (k % 7 == 0) (1 to 1 + r.nextInt(3)).map(j =>
      s"`new_${j}_${word(r)}` ${HivePrimitives(r.nextInt(HivePrimitives.size))}") else Nil)
    val parts = if (k % 13 == 0) partitions.reverse else partitions
    val bucket =
      if (k % 11 == 0 || k % 13 == 0) Skipped
      else if (k % 3 == 0 || k % 5 == 0 || k % 7 == 0) Updated
      else Identical
    (hiveDdl(db, table, ddlCols, parts), bucket,
      Some(glueTable(db, table, cols, Seq("day_rk" -> "date", "run_rk" -> "int"),
        Rules.ParquetSerde, Rules.ParquetInputFormat, Rules.ParquetOutputFormat,
        Map("classification" -> "parquet"))), Nil)
  }

  /** A compatible widening under the Athena matrix. */
  private def widened(t: String): String = t match {
    case "int" => "bigint"
    case "smallint" => "int"
    case "float" => "double"
    case d =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")").split(",")
      s"decimal(${p.trim.toInt + 2},${s.trim})"
  }

  private def text(r: Random, k: Int, db: String, table: String)
      : (String, String, Option[GlueTable], Seq[(Path, String)]) = {
    val cols = (0 until 4 + r.nextInt(8)).map(i => (s"f${i}_${word(r)}", "string"))
    val ddl = hiveDdl(db, table, cols.map { case (c, t) => s"`$c` $t" }, partitions,
      if (k % 2 == 0) "STORED AS PARQUET"
      else "ROW FORMAT DELIMITED FIELDS TERMINATED BY ','\nSTORED AS TEXTFILE")
    (ddl, if (k % 2 == 0) FormatChanged else NonParquet,
      Some(glueTable(db, table, cols, Seq("day_rk" -> "date", "run_rk" -> "int"),
        TextSerde, TextInput, TextOutput, Map("classification" -> "csv"))), Nil)
  }

  private val IcebergProps = Seq("write.format.default" -> "parquet",
    "write.target-file-size-bytes" -> "536870912")

  private def icebergDdl(db: String, table: String, cols: Seq[String]): String =
    s"""CREATE TABLE `$db.$table` (
       |  ${cols.mkString("\n  ")}
       |)
       |USING iceberg
       |PARTITIONED BY (`day_rk`)
       |TBLPROPERTIES (${IcebergProps.map { case (k, v) => s"'$k'='$v'" }.mkString(", ")})"""
      .stripMargin

  /** Iceberg tables: `id long, s1 string, d2 double`, seeded primitives
    * and decimals, and the `day_rk` partition source last. Column 3 is
    * the rename, 4 the commented drop, 5 the `after:` move; s1 takes the
    * backfilled change and d2 the unbackfilled one. */
  private def iceberg(r: Random, k: Int, db: String, table: String, wide: Boolean,
      metaDir: Path): (String, String, Option[GlueTable], Seq[(Path, String)]) = {
    val n = if (wide) 40 + r.nextInt(361) else 8 + r.nextInt(23)
    val cols: Vector[(String, String)] = (0 until n).map { i =>
      val t = i match {
        case 0 => "long"
        case 1 => "string"
        case 2 => "double"
        case _ if i == n - 1 => "date"
        case _ =>
          if (r.nextInt(5) == 0) decimal(r).replace(",", ", ")
          else IcebergPrimitives(r.nextInt(IcebergPrimitives.size))
      }
      val name = i match {
        case 0 => "id"
        case 1 => "s1"
        case 2 => "d2"
        case _ if i == n - 1 => "day_rk"
        case _ => s"c${i}_${word(r)}"
      }
      (name, t)
    }.toVector
    def ddlType(t: String): String = t match {
      case "long" => if (r.nextBoolean()) "bigint" else "BIGINT"
      case "string" => if (r.nextInt(3) == 0) "varchar(64)" else "string"
      case d if d.startsWith("decimal") => if (r.nextBoolean()) d.replace(", ", ",") else d
      case other => other
    }
    val lines = cols.indices.map { i =>
      val (name, t) = cols(i)
      val comma = if (i == n - 1) "" else ","
      if (i == 1 && k % 11 == 0) s"`$name` int$comma -- backfilled_from: id"
      else if (i == 2 && k % 17 == 0) s"`$name` float$comma"
      else if (i == 3 && k % 3 == 0) s"`${name}_v2` ${ddlType(t)}$comma -- renamed_from: $name"
      else if (i == 4 && k % 7 == 0) s"-- `$name` ${ddlType(t)}$comma"
      else if (i == 5 && k % 5 == 0) s"`$name` ${ddlType(t)}$comma -- after: s1"
      else s"`$name` ${ddlType(t)}$comma"
    }
    val bucket =
      if (k % 17 == 0) Errored
      else if (k % 3 == 0 || k % 5 == 0 || k % 7 == 0 || k % 11 == 0) Iceberg
      else Identical
    val meta = metaDir.resolve(s"$db.$table.metadata.json").toAbsolutePath
    val hiveCols = cols.map { case (c, t) => (c, if (t == "long") "bigint" else t) }
    (icebergDdl(db, table, lines), bucket,
      Some(glueTable(db, table, hiveCols, Nil, Rules.ParquetSerde, Rules.ParquetInputFormat,
        Rules.ParquetOutputFormat,
        Map("table_type" -> "ICEBERG", "metadata_location" -> meta.toUri.toString))),
      Seq(meta -> metadataJson(cols)))
  }

  /** A format-version 2 `metadata.json` carrying the fields the catalog
    * reader projects: current schema, default partition spec, properties. */
  private def metadataJson(cols: Seq[(String, String)]): String = {
    def q(s: String) = "\"" + s + "\""
    val fields = cols.zipWithIndex.map { case ((c, t), i) =>
      s"""{"id": ${i + 1}, "name": ${q(c)}, "required": false, "type": ${q(t)}}"""
    }
    val props = (("owner" -> "fleet") +: IcebergProps)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }
    s"""{"format-version": 2, "current-schema-id": 0,
       | "schemas": [{"type": "struct", "schema-id": 0, "fields": [${fields.mkString(", ")}]}],
       | "default-spec-id": 0,
       | "partition-specs": [{"spec-id": 0, "fields": [{"name": "day_rk", "transform": "identity", "source-id": ${cols.size}, "field-id": 1000}]}],
       | "properties": {${props.mkString(", ")}}}""".stripMargin
  }
}
