package graft.meta

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.meta.app.Alterator
import graft.meta.app.Alterator.DdlSource
import graft.meta.catalog.{CatalogAdapter, InMemoryCatalog}
import graft.meta.model._
import graft.meta.rules.Rules

/** An adapter over [[InMemoryCatalog]] that delays every call for a table
  * by that table's entry in `delayMs`, fails the tables in `faults` with
  * their exception, and records the calls in flight and the threads that
  * made them.
  */
final class DelayingCatalog(inner: CatalogAdapter, delayMs: Map[String, Long],
    faults: Map[String, Throwable] = Map.empty) extends CatalogAdapter {
  val calls = new AtomicInteger
  val peakInFlight = new AtomicInteger
  val threads: java.util.Set[Thread] = ConcurrentHashMap.newKeySet[Thread]()
  private val inFlight = new AtomicInteger

  private def call[A](db: String, table: String)(f: => A): A = {
    calls.incrementAndGet()
    threads.add(Thread.currentThread())
    val now = inFlight.incrementAndGet()
    peakInFlight.accumulateAndGet(now, (a, b) => math.max(a, b))
    try {
      faults.get(s"$db.$table").foreach(e => throw e)
      Thread.sleep(delayMs.getOrElse(s"$db.$table", 0L))
      f
    } finally inFlight.decrementAndGet()
  }

  override def getTable(db: String, table: String) = call(db, table)(inner.getTable(db, table))
  override def getIcebergView(db: String, table: String) =
    call(db, table)(inner.getIcebergView(db, table))
  override def latestVersion(db: String, table: String) =
    call(db, table)(inner.latestVersion(db, table))
  override def updateSchema(db: String, table: String,
      add: Seq[PartitionKey], drop: Seq[PartitionKey]) =
    call(db, table)(inner.updateSchema(db, table, add, drop))
}

/** The concurrent Alterator pass against a catalog that makes earlier
  * files finish last: the table of file i answers after (N − i) ms.
  * Its report must be the one-at-a-time report, byte for byte.
  */
class AlteratorConcurrencySpec extends AnyFunSuite {

  private def hive(table: String, cols: (String, String)*) = CatalogTableInfo(
    "f", table, columns = cols.map { case (n, t) => PartitionKey(n, t) },
    partitionKeys = Seq(PartitionKey("day_rk", "date")), tableType = "EXTERNAL_TABLE",
    serializationLibrary = Some(Rules.ParquetSerde), inputFormat = Some(Rules.ParquetInputFormat),
    outputFormat = Some(Rules.ParquetOutputFormat))

  private def hiveDdl(table: String, cols: (String, String)*): String =
    s"CREATE EXTERNAL TABLE `f.$table`(" +
      cols.map { case (n, t) => s"`$n` $t" }.mkString(", ") +
      ") PARTITIONED BY (`day_rk` date) STORED AS PARQUET"

  /** Three rounds of every outcome: (catalog seed, sources in file order). */
  private def fleet(): (() => InMemoryCatalog, Seq[DdlSource]) = {
    val sources = (0 until 3).flatMap { k =>
      Seq(
        DdlSource(s"upd$k.hql", hiveDdl(s"upd$k", "id" -> "bigint", "a" -> "string", "b" -> "int")),
        DdlSource(s"same$k.hql", hiveDdl(s"same$k", "id" -> "bigint", "a" -> "string")),
        DdlSource(s"new$k.hql", hiveDdl(s"new$k", "id" -> "bigint")),
        DdlSource(s"narrow$k.hql", hiveDdl(s"narrow$k", "id" -> "bigint", "a" -> "bigint")),
        DdlSource(s"alter$k.hql", s"ALTER TABLE `f.same$k` ADD COLUMNS (`x` int)"),
        DdlSource(s"noname$k.hql", s"CREATE TABLE f.noname$k (a int) STORED AS PARQUET"),
        DdlSource(s"ice$k.hql", s"CREATE TABLE `f.ice$k` (`a` string, `b` bigint) USING iceberg"),
        DdlSource(s"managed$k.hql",
          hiveDdl(s"managed$k", "id" -> "bigint").replace("CREATE EXTERNAL", "CREATE")),
        DdlSource(s"empty$k.hql", "   "))
    }
    val seed = () => {
      val c = new InMemoryCatalog
      for (k <- 0 until 3) {
        Seq("upd", "same", "managed").foreach(t =>
          c.put(hive(s"$t$k", "id" -> "bigint", "a" -> "string")))
        c.put(hive(s"narrow$k", "id" -> "bigint", "a" -> "decimal(18,2)"))
        c.put(CatalogTableInfo("f", s"ice$k", columns = Seq(PartitionKey("a", "string")),
          partitionKeys = Nil, tableType = "EXTERNAL_TABLE",
          parameters = Map("table_type" -> "ICEBERG")))
        c.putIceberg("f", s"ice$k", Seq(IcebergField(1, "a", "string")), Nil, Map.empty)
      }
      c
    }
    (seed, sources)
  }

  /** Earlier files answer later: file i's table waits (N − i) ms per call. */
  private def reversedDelays(sources: Seq[DdlSource]): Map[String, Long] =
    sources.zipWithIndex.flatMap { case (s, i) =>
      graft.meta.parse.DdlParsers.extractTableName(s.rawText.toLowerCase)
        .map { case (db, t) => s"$db.$t" -> (sources.size - i).toLong }
    }.toMap

  /** Concatenates buckets and adds stats: the report of both runs' sources. */
  private def merge(a: JValue, b: JValue): JValue = (a, b) match {
    case (JObj(fa), JObj(fb)) => JObj(fa.zip(fb).map { case ((k, x), (_, y)) => k -> merge(x, y) })
    case (JArr(xa), JArr(xb)) => JArr(xa ++ xb)
    case (JNum(x), JNum(y)) => JNum(x + y)
    case (x, _) => x
  }

  /** The file-order expectation: each source alone on its own catalog,
    * the reports concatenated in file order. */
  private def oneAtATime(sources: Seq[DdlSource], catalog: () => CatalogAdapter): String =
    sources.map(s => new Alterator(catalog()).alterSchema(Seq(s)))
      .reduce(merge).render

  private def bucket(report: JValue, name: String): Seq[JValue] = report match {
    case JObj(fs) => fs.collectFirst { case (`name`, JArr(xs)) => xs }.getOrElse(Nil)
    case _ => Nil
  }

  test("a mixed fleet renders the file-order report, byte for byte") {
    val (seed, sources) = fleet()
    val catalog = new DelayingCatalog(seed(), reversedDelays(sources))
    val report = new Alterator(catalog).alterSchema(sources)
    assert(report.render == oneAtATime(sources, seed))
    val sizes = Seq("success_tables", "identical_tables", "new_tables", "skipped_tables",
      "iceberg_tables", "errored_tables").map(bucket(report, _).size)
    assert(sizes == Seq(3, 3, 3, 9, 3, 6), report.render)
    assert(catalog.peakInFlight.get > 1, "table steps never overlapped")
    assert(catalog.peakInFlight.get <= Alterator.MaxInFlight)
  }

  test("a table named in two files is applied in file order") {
    val (seed, others) = fleet()
    val catalog = seed()
    val sources =
      DdlSource("first.hql", hiveDdl("upd0", "id" -> "bigint", "a" -> "string", "b" -> "int")) +:
        others.filterNot(_.filename == "upd0.hql") :+
        DdlSource("second.hql",
          hiveDdl("upd0", "id" -> "bigint", "a" -> "string", "b" -> "int", "c" -> "int"))
    val report = new Alterator(new DelayingCatalog(catalog, reversedDelays(sources)))
      .alterSchema(sources)
    val versions = bucket(report, "success_tables").collect {
      case JObj(fs) if fs.contains("table_name" -> JStr("f.upd0")) =>
        (fs.collectFirst { case ("previous_version", JStr(v)) => v }.get,
          fs.collectFirst { case ("current_version", JStr(v)) => v }.get)
    }
    assert(versions == Seq("1" -> "2", "2" -> "3"), report.render)
    assert(catalog.getTable("f", "upd0").get.columns.map(_.name) == Seq("id", "a", "b", "c"))
  }

  test("a table whose catalog call throws errors alone; every other outcome holds") {
    val (seed, sources) = fleet()
    val faults = Map[String, Throwable]("f.upd1" -> new RuntimeException("throttled"))
    val delays = reversedDelays(sources)
    val report = new Alterator(new DelayingCatalog(seed(), delays, faults)).alterSchema(sources)
    assert(report.render == oneAtATime(sources, () => new DelayingCatalog(seed(), Map.empty, faults)))
    assert(bucket(report, "errored_tables").contains(JStr("f.upd1")))
    assert(bucket(report, "success_tables").size == 2)
  }

  test("an InterruptedException from the catalog leaves alterSchema unwrapped; " +
      "no pool thread survives") {
    val sources = (0 until 30).map(i => DdlSource(s"t$i.hql", hiveDdl(s"t$i", "id" -> "bigint")))
    val inner = new InMemoryCatalog
    (0 until 30).foreach(i => inner.put(hive(s"t$i", "id" -> "bigint")))
    val catalog = new DelayingCatalog(inner, reversedDelays(sources),
      Map("f.t0" -> new InterruptedException("stop")))
    val e = intercept[InterruptedException](new Alterator(catalog).alterSchema(sources))
    assert(e.getMessage == "stop")
    assert(catalog.calls.get < sources.size, "the remaining tasks still ran")
    val threads = catalog.threads.asScala
    assert(threads.nonEmpty && threads.forall(_.isDaemon))
    // the pool has terminated; a worker may still be unwinding its exit
    threads.foreach(_.join(5000))
    assert(threads.forall(!_.isAlive), threads.filter(_.isAlive).map(_.getName))
    assert(!threads.exists(_ eq Thread.currentThread()))
  }
}
