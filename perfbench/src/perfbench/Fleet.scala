package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.concurrent.atomic.LongAdder

import scala.util.Try

import graft.meta.app.Alterator
import graft.meta.app.Alterator.DdlSource
import graft.meta.catalog.{CatalogAdapter, GlueCatalog}
import graft.meta.diff.{HiveDiff, IcebergDiff}
import graft.meta.model._
import graft.meta.parse.DdlParsers
import graft.meta.report.Report
import graft.meta.rules.Rules
import graft.meta.rules.Rules.DdlFacts
import graft.meta.sources.Worklist
import graft.meta.types.{Compat, TypeNorm}

/** The paper's workflow as the CLI runs it: list the DDL directory, read
  * every file, `Alterator.alterSchema` against `GlueCatalog`, render the
  * report, in a fresh JVM per run. A host-speed probe is timed before the
  * first timed pass and after each, and each pass's CPU-bound time is
  * reported at the host's nominal speed (`Jvm.atNominalSpeed`); the Glue
  * latency the fake injects counts as it is.
  */
object Fleet {

  /** `warmUpS` > 0: untimed passes for that many seconds, then timed
    * passes until the run's seconds are spent (at least three), reporting
    * the median pass. 0: one timed one-shot pass. */
  final case class Config(n: Int, wide: Boolean, latencyMs: Long, validate: Boolean, warmUpS: Double)

  /** The published run's size, 20 ms per Glue call, writes applied: one
    * one-shot pass as the CLI pays it; it is sleep-bound, so it is steady. */
  val ApplyGlue = Config(n = 458, wide = false, latencyMs = 20, validate = false, warmUpS = 0)
  /** Five hundred wide tables, no latency, read-only. CPU-bound, so a
    * single cold pass moves with JIT progress and the host's load: the
    * median of a dozen or so warm passes is reported. */
  val ValidateWide = Config(n = 500, wide = true, latencyMs = 0, validate = true, warmUpS = 5)

  val AccountId = "123456789012"

  /** Wall times of one pass, by stage, in ms. */
  final case class Pass(report: JValue, rendered: String,
      listMs: Double, readMs: Double, alterMs: Double, renderMs: Double, totalMs: Double,
      files: Int, bytes: Long, sources: Seq[DdlSource])

  def pass(ddlDir: String, catalog: CatalogAdapter, validate: Boolean): Pass = {
    val t0 = System.nanoTime()
    Worklist.checkPaths(Seq(ddlDir))
    val files = Worklist.filterFiles(Seq(ddlDir))
    val t1 = System.nanoTime()
    val sources = files.map(f => DdlSource(f, Worklist.readFile(f)))
    val t2 = System.nanoTime()
    val report = new Alterator(catalog, validate = validate).alterSchema(sources, AccountId)
    val t3 = System.nanoTime()
    val rendered = report.render
    val t4 = System.nanoTime()
    Pass(report, rendered, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, (t4 - t3) / 1e6,
      (t4 - t0) / 1e6, files.size, sources.map(_.rawText.length.toLong).sum, sources)
  }

  def run(cfg: Config, seed: Long, trace: Boolean, seconds: Int, dir: Path, stateDir: Path): Result = {
    Jvm.deleteTree(dir)
    Jvm.warmProbe()
    val (setupS, (generated, glue)) = Jvm.repeatedSetup() { () =>
      val fleet = FleetGen.generate(seed, cfg.n, cfg.wide, dir)
      (fleet, new LatencyGlue(fleet.tables, fleet.versions))
    }
    // disk writes stay out of the set-up time: they measure the disk
    generated.write()
    val fleet = generated.copy(files = Nil)
    val ddlDir = dir.resolve("ddl").toString
    val reader = new TimedReader
    val timed = new TimedCatalog(new GlueCatalog(glue, reader))
    /** One pass from the seeded catalog, with the catalog's and the
      * tracing wrappers' counters as that pass left them. */
    def measuredPass(): Measured = {
      glue.reset(); reader.reset(); timed.nanos.reset()
      glue.latencyMs = cfg.latencyMs
      val p = pass(ddlDir, if (trace) timed else new GlueCatalog(glue), cfg.validate)
      glue.latencyMs = 0
      Measured(p, Seq(glue.getTableCalls.sum, glue.getVersionsCalls.sum, glue.updateCalls.sum),
        glue.waitNanos.sum / 1e6, glue.errors.sum, glue.perTable.size,
        timed.nanos.sum / 1e6, reader.nanos.sum / 1e6, reader.calls.sum)
    }
    if (cfg.warmUpS > 0) {
      val t0 = System.nanoTime()
      while (Jvm.ms(t0) < cfg.warmUpS * 1e3) measuredPass()
    }
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    // a host-speed probe before the first timed pass and after each
    val probes = scala.collection.mutable.ArrayBuffer(Jvm.probeMs())
    val first = measuredPass()
    probes += Jvm.probeMs()
    val passes = scala.collection.mutable.ArrayBuffer(first)
    // later passes read the same files: keep one copy of their text
    while (cfg.warmUpS > 0 && (passes.size < 3 || passes.map(_.p.totalMs).sum < seconds * 1e3)) {
      passes += { val o = measuredPass(); o.copy(p = o.p.copy(sources = Nil)) }
      probes += Jvm.probeMs()
    }
    val gcMs = Jvm.gcMs - gc0
    val jitMs = Jvm.jitMs - jit0
    // CPU-bound time at the host's nominal speed; injected latency as is
    val scaled = passes.indices.map { i =>
      val o = passes(i)
      o.waitMs + Jvm.atNominalSpeed(o.p.totalMs - o.waitMs, probes(i), probes(i + 1))
    }
    System.err.println(s"passes (ms): ${passes.map(o => Main.num(o.p.totalMs)).mkString(" ")}; " +
      s"probes (ms): ${probes.map(Main.num).mkString(" ")}")
    Jvm.sampleLiveHeap()
    // the median pass (the upper one of two for an even count)
    val m = passes.sortBy(_.p.totalMs).apply(passes.size / 2)
    val p = m.p
    val counts = m.counts
    val calls = counts.sum

    val expected = fleet.entries
    val actual = buckets(p.report)
    val mismatched = expected.count(e => actual.getOrElse(e.key, Nil) != Seq(e.bucket))
    val pins = Seq.newBuilder[(String, Boolean)]
    pins += "bucket order follows file order" -> FleetGen.Buckets.forall(b =>
      order(p.report, b) == expected.filter(_.bucket == b).map(_.key))
    pins += "stats block matches buckets" -> (stats(p.report) ==
      (("num_tables_analyzed" -> expected.size.toLong) +: FleetGen.Buckets.map(b =>
        StatKey(b) -> expected.count(_.bucket == b).toLong)).toMap)
    pins += "every pass renders the same report and calls" ->
      passes.forall(o => o.p.rendered == p.rendered && o.counts == counts)
    if (cfg.validate) pins += "validate wrote nothing" -> (counts(2) == 0)
    else {
      // replay from the same seeded catalog without latency: byte-identical
      glue.reset()
      val replay = pass(ddlDir, new GlueCatalog(glue), validate = false)
      pins += "report identical across passes" -> (replay.rendered == p.rendered)
      // diff -> apply -> re-diff fixpoint: every applied table now identical
      val rediff = pass(ddlDir, new GlueCatalog(glue), validate = true)
      val after = buckets(rediff.report)
      pins += "re-diff after apply is identical" -> expected.forall { e =>
        val want = if (e.bucket == FleetGen.Updated) FleetGen.Identical else e.bucket
        after.getOrElse(e.key, Nil) == Seq(want)
      }
    }
    pins += "report identical across runs of the seed" ->
      sameAsLastRun(stateDir.resolve(s"${dir.getFileName}.sha256"),
        p.rendered.replace(dir.toString, "<fleet>"))
    val pinResults = pins.result()
    pinResults.collect { case (name, false) => System.err.println(s"pin failed: $name") }
    if (mismatched > 0) System.err.println(s"$mismatched tables landed in an unexpected bucket")

    val attempted = expected.size + pinResults.size
    val failed = mismatched + pinResults.count(!_._2)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pass_s", Jvm.median(scaled) / 1e3, "s"),
      Metric("calls_per_item", calls.toDouble / expected.size, "count"))
    val layers =
      if (!trace) Nil
      else {
        val adapterMs = m.adapterMs
        Seq(
          Metric("fleet_s", p.totalMs / 1e3, "s"),
          Metric("host.probe_ms", Jvm.median(probes.toSeq), "ms"),
          Metric("catalog_calls_per_table", calls.toDouble / expected.size, "count"),
          Metric("trace.span_coverage",
            (p.listMs + p.readMs + p.alterMs + p.renderMs) / p.totalMs, "ratio"),
          Metric("sources.list_ms", p.listMs, "ms"),
          Metric("sources.read_ms", p.readMs, "ms"),
          Metric("sources.files", p.files, "count"),
          Metric("sources.bytes", p.bytes.toDouble, "bytes"),
          Metric("catalog.get_table.calls", counts(0), "count"),
          Metric("catalog.get_table_versions.calls", counts(1), "count"),
          Metric("catalog.update_table.calls", counts(2), "count"),
          Metric("catalog.wait_ms", m.waitMs, "ms"),
          Metric("catalog.adapter_ms", adapterMs, "ms"),
          Metric("catalog.adapter_self_ms", adapterMs - m.waitMs - m.readMs, "ms"),
          Metric("catalog.get_table_per_table",
            if (m.tablesFetched == 0) 0 else counts(0).toDouble / m.tablesFetched, "ratio"),
          Metric("catalog.errors", m.errors, "count"),
          Metric("catalog.metadata_read.calls", m.readCalls, "count"),
          Metric("catalog.metadata_read_ms", m.readMs, "ms"),
          Metric("alterator.ms", p.alterMs, "ms"),
          Metric("alterator.self_ms", p.alterMs - adapterMs, "ms"),
          Metric("report.render_ms", p.renderMs, "ms"),
          Metric("report.bytes", p.rendered.getBytes(StandardCharsets.UTF_8).length, "bytes"),
          Metric("jvm.gc_ms", gcMs, "ms"),
          Metric("jvm.jit_ms", jitMs, "ms")) ++
          actualOutcomes(p.report) ++ decompose(first.p.sources, fleet)
      }
    Jvm.deleteTree(dir)
    Result(attempted, failed, e2e ++ layers)
  }

  private val OutcomeName = Map(
    FleetGen.Updated -> "updated", FleetGen.Identical -> "identical", FleetGen.New -> "new",
    FleetGen.Skipped -> "skipped", FleetGen.Iceberg -> "iceberg",
    FleetGen.FormatChanged -> "format_changed", FleetGen.NonParquet -> "non_parquet",
    FleetGen.Errored -> "errored")

  private val StatKey = Map(
    FleetGen.Updated -> "num_updates", FleetGen.Identical -> "num_identical",
    FleetGen.New -> "num_new", FleetGen.Skipped -> "num_skipped",
    FleetGen.Iceberg -> "num_iceberg_tables", FleetGen.FormatChanged -> "num_format_changed_tables",
    FleetGen.NonParquet -> "num_non_parquet_tables", FleetGen.Errored -> "num_errored")

  private def field(v: JValue, name: String): Option[JValue] = v match {
    case JObj(fs) => fs.collectFirst { case (`name`, x) => x }
    case _ => None
  }

  /** The report's names for a bucket, in report order. */
  private def order(report: JValue, bucket: String): Seq[String] =
    field(report, bucket).collect { case JArr(xs) => xs }.getOrElse(Nil).map {
      case JStr(s) => s
      case o =>
        val name = field(o, "table_name").collect { case JStr(s) => s }.getOrElse("")
        if (name.isEmpty) field(o, "filename").collect { case JStr(s) => s }.getOrElse("")
        else name.stripPrefix("spark_catalog.")
    }

  /** Table key -> every bucket the report files it under. */
  private def buckets(report: JValue): Map[String, Seq[String]] =
    FleetGen.Buckets.flatMap(b => order(report, b).map(_ -> b))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private def stats(report: JValue): Map[String, Long] =
    field(report, "ResponseMetadata").flatMap(field(_, "stats")).collect {
      case JObj(fs) => fs.collect { case (k, JNum(n)) => k -> n.toLong }.toMap
    }.getOrElse(Map.empty)

  private def actualOutcomes(report: JValue): Seq[Metric] =
    FleetGen.Buckets.map(b => Metric(s"outcome.${OutcomeName(b)}", order(report, b).size, "count"))

  /** Compares this run's report digest with the one the previous run of
    * the same workload and seed left in the checkout; records it if new. */
  private def sameAsLastRun(file: Path, normalised: String): Boolean = {
    val digest = MessageDigest.getInstance("SHA-256")
      .digest(normalised.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    if (Files.exists(file)) Files.readString(file).trim == digest
    else {
      Files.createDirectories(file.getParent)
      Files.writeString(file, digest + "\n")
      true
    }
  }

  /** A pass and the counters it left: Glue calls by API (`get_table`,
    * `get_table_versions`, `update_table`), injected wait, API errors,
    * distinct tables fetched; traced time in the adapter and the reader. */
  final case class Measured(p: Pass, counts: Seq[Long], waitMs: Double, errors: Long,
      tablesFetched: Int, adapterMs: Double, readMs: Double, readCalls: Long)

  /** Times every call into the wrapped adapter. */
  final class TimedCatalog(inner: CatalogAdapter) extends CatalogAdapter {
    val nanos = new LongAdder
    private def timed[A](f: => A): A = {
      val t0 = System.nanoTime()
      try f finally nanos.add(System.nanoTime() - t0)
    }
    override def getTable(db: String, table: String) = timed(inner.getTable(db, table))
    override def getIcebergView(db: String, table: String) = timed(inner.getIcebergView(db, table))
    override def latestVersion(db: String, table: String) = timed(inner.latestVersion(db, table))
    override def updateSchema(db: String, table: String,
        add: Seq[PartitionKey], drop: Seq[PartitionKey]) =
      timed(inner.updateSchema(db, table, add, drop))
  }

  /** The default metadata reader, timed and counted. */
  final class TimedReader extends (String => String) {
    val calls = new LongAdder
    val nanos = new LongAdder
    def reset(): Unit = { calls.reset(); nanos.reset() }
    override def apply(location: String): String = {
      val t0 = System.nanoTime()
      try GlueCatalog.hadoopReadFile(location)
      finally { nanos.add(System.nanoTime() - t0); calls.increment() }
    }
  }

  /** Re-runs the per-module steps of the alteration on the same files,
    * timing each module separately. Catalog state comes from the seeded
    * fleet through an untimed, latency-free catalog. */
  private def decompose(sources: Seq[DdlSource], fleet: FleetGen.Fleet): Seq[Metric] = {
    val catalog = new GlueCatalog(new LatencyGlue(fleet.tables, fleet.versions),
      loc => Files.readString(java.nio.file.Paths.get(java.net.URI.create(loc))))
    var parseNs, rulesNs, compatNs, hiveNs, icebergNs, buildNs = 0L
    var columns, typeChanges, compared = 0L
    def time[A](add: Long => Unit)(f: => A): A = {
      val t0 = System.nanoTime()
      try f finally add(System.nanoTime() - t0)
    }
    sources.foreach { src =>
      val parsed = time(parseNs += _) {
        val data = DdlParsers.normalize(src.rawText, AccountId)
        DdlParsers.extractTableName(data).filter(_ => DdlParsers.isCreateStatement(data))
          .map(name => (data, name))
      }
      parsed.foreach { case (data, (db, table)) =>
        val checks = time(rulesNs += _)(Rules.initialChecks(DdlFacts(data)))
        catalog.getTable(db, table).foreach { info =>
          if (checks("ICEBERG_CHECK")) {
            val migration = time(rulesNs += _)(Rules.formatChanged(info, TableFormat.Iceberg)).isDefined
            val (cols, parts, props) = time(parseNs += _)((
              DdlParsers.icebergColumns(data, migration), DdlParsers.icebergPartitions(data),
              DdlParsers.tblProperties(data)))
            columns += cols.size
            catalog.getIcebergView(db, table).filter(_ => !migration).foreach {
              case (fields, catParts, catProps) =>
                val catCols = fields.map(f => f.copy(dataType = TypeNorm.mapIcebergToSparkDtype(f.dataType)))
                compared += cols.size + catCols.size
                time(icebergNs += _)(Try(IcebergDiff.compare(s"spark_catalog.$db.$table",
                  catCols, cols, catParts, parts, catProps, props, migration))).foreach { r =>
                  time(buildNs += _)(Report.icebergReport(r))
                }
            }
          } else if (checks("EXTERNAL_TABLE") && checks("PARQUET_CHECK")) {
            if (time(rulesNs += _)(Rules.formatChanged(info, TableFormat.Parquet)).isEmpty) {
              val (cols, parts) = time(parseNs += _)(
                (DdlParsers.hiveColumns(data), DdlParsers.hivePartitions(data)))
              columns += cols.size
              val catCols = info.columns ++ info.partitionKeys
              compared += cols.size + catCols.size
              val diff = time(hiveNs += _) {
                HiveDiff.partitionColCheck(parts, info.partitionKeys)
                HiveDiff.compareSchema(cols, catCols)
              }
              val changes = diff.typeChanged.map(m => Compat.TypeChange(
                m.name, m.typeOld.getOrElse(""), m.typeNew.getOrElse(""), backfilledFrom = m.backfilledFrom))
              typeChanges += changes.size
              if (changes.nonEmpty) time(compatNs += _)(Compat.classify(changes, "athena"))
            }
          }
        }
      }
    }
    Seq(
      Metric("parse.ms", parseNs / 1e6, "ms"),
      Metric("parse.columns", columns.toDouble, "count"),
      Metric("rules.ms", rulesNs / 1e6, "ms"),
      Metric("compat.ms", compatNs / 1e6, "ms"),
      Metric("compat.type_changes", typeChanges.toDouble, "count"),
      Metric("diff.hive_ms", hiveNs / 1e6, "ms"),
      Metric("diff.iceberg_ms", icebergNs / 1e6, "ms"),
      Metric("diff.columns_compared", compared.toDouble, "count"),
      Metric("report.build_ms", buildNs / 1e6, "ms"))
  }
}
