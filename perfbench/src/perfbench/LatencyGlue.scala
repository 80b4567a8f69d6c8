package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import graft.meta.catalog.{GlueApi, GlueApiError, GlueTable, GlueTableInput}

/** In-process Glue service with a fixed sleep on every call, standing in
  * for the network round-trip. Counts calls per API and `get_table` calls
  * per table; `reset` restores the seeded tables and zeroes the counters,
  * so every pass starts from the same catalog. Safe to call from several
  * threads, so a concurrent caller is measured the same way.
  */
final class LatencyGlue(
    seedTables: Map[(String, String), GlueTable],
    seedVersions: Map[(String, String), List[String]]) extends GlueApi {

  @volatile var latencyMs: Long = 0L

  private val tables = new ConcurrentHashMap[(String, String), GlueTable]()
  private val versions = new ConcurrentHashMap[(String, String), List[String]]()

  val getTableCalls = new LongAdder
  val getVersionsCalls = new LongAdder
  val updateCalls = new LongAdder
  /** API errors other than the not-found answer that signals a new table. */
  val errors = new LongAdder
  val waitNanos = new LongAdder
  val perTable = new ConcurrentHashMap[(String, String), LongAdder]()

  reset()

  def reset(): Unit = {
    tables.clear(); versions.clear(); perTable.clear()
    seedTables.foreach { case (k, v) => tables.put(k, v) }
    seedVersions.foreach { case (k, v) => versions.put(k, v) }
    Seq(getTableCalls, getVersionsCalls, updateCalls, errors, waitNanos).foreach(_.reset())
  }

  def calls: Long = getTableCalls.sum + getVersionsCalls.sum + updateCalls.sum

  private def roundTrip(): Unit = if (latencyMs > 0) {
    val t0 = System.nanoTime()
    Thread.sleep(latencyMs)
    waitNanos.add(System.nanoTime() - t0)
  }

  override def getTable(database: String, name: String): Either[GlueApiError, GlueTable] = {
    roundTrip()
    getTableCalls.increment()
    perTable.computeIfAbsent((database, name), _ => new LongAdder).increment()
    Option(tables.get((database, name))).toRight(
      GlueApiError("EntityNotFoundException", s"Table $name not found in database $database"))
  }

  override def getTableVersions(database: String, tableName: String)
      : Either[GlueApiError, Seq[String]] = {
    roundTrip()
    getVersionsCalls.increment()
    Option(versions.get((database, tableName))).toRight {
      errors.increment()
      GlueApiError("EntityNotFoundException", s"Table $tableName not found in database $database")
    }
  }

  override def updateTable(database: String, input: GlueTableInput): Either[GlueApiError, Int] = {
    roundTrip()
    updateCalls.increment()
    val key = (database, input.name)
    Option(tables.get(key)) match {
      case None =>
        errors.increment()
        Left(GlueApiError("EntityNotFoundException", s"Table ${input.name} not found"))
      case Some(prev) =>
        tables.put(key, prev.copy(input = input))
        versions.compute(key, (_, vs) => (vs.head.toInt + 1).toString :: vs)
        Right(200)
    }
  }
}
