package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{count, lit, sum, xxhash64}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** A fixed mix of registered operators in one fresh `local[cores]`
  * session, in name order: every query once cold, then once warm, each
  * sunk to `noop`. The warm pass also observes an order-insensitive
  * fingerprint of the output (row count, sum of row hashes) and checks it
  * against the pins in `fingerprints.json`. A host-speed probe is timed
  * before the first query and after each; `pass_s` sums the cold queries
  * at the host's nominal speed (`Jvm.atNominalSpeed`).
  */
object Ops {

  val Queries: Seq[String] = Seq("dd_containment", "dd_ngram_coverage", "dd_shingle_stats",
    "md_fleet_diff", "pipe_llm_corpus", "pipe_ndv_sketches", "q4_revenue_by_segment",
    "ss_recall_eval", "tx_bloom_decontaminate", "tx_bm25_search", "tx_fuzzy_decontaminate")

  final case class Fingerprint(rows: Long, hash: Long)

  def fingerprintOf(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    // reduced modulo a prime so the sum stays exact in a long
    val h = xxhash64(df.columns.toSeq.map(c => df.col(s"`$c`")): _*) % lit(1000000007L)
    (df.observe(obs, count(lit(1)).as("rows"), sum(h).as("hash")), obs)
  }

  def readFingerprint(obs: Observation): Fingerprint = {
    val m = obs.get
    Fingerprint(m("rows").asInstanceOf[Long],
      Option(m("hash")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  def loadPins(file: Path): Map[String, Fingerprint] = {
    val root = new ObjectMapper().readTree(Files.readString(file)).get("queries")
    root.properties().asScala.map { e =>
      e.getKey -> Fingerprint(e.getValue.get("rows").asLong, e.getValue.get("hash").asLong)
    }.toMap
  }

  def session(): SparkSession = {
    // half the cores: the JIT, GC and Spark's own threads need the rest,
    // or the run measures the scheduler
    val cores = (Runtime.getRuntime.availableProcessors / 2).max(1).toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session start plus the JIT/codegen/file-index warm-up `graft.Bench`
    * pays before its first timed query. */
  private def warmUp(spark: SparkSession, fixture: String): Unit = {
    spark.read.parquet(s"$fixture/region.parquet").count()
    spark.range(1000).selectExpr("md5(CAST(id AS STRING)) AS h")
      .groupBy("h").count().write.format("noop").mode("overwrite").save()
  }

  def run(trace: Boolean, opsDir: Path): Result = {
    val fixture = opsDir.resolve("fixture").toAbsolutePath.toString
    val pins = loadPins(opsDir.resolve("fingerprints.json"))
    Jvm.warmProbe()
    val (setupS, spark) =
        Jvm.repeatedSetup(() => SparkSession.getActiveSession.foreach(_.stop())) { () =>
      val s = session()
      warmUp(s, fixture)
      s
    }
    val sc = spark.sparkContext
    val probe = if (trace) Some(new Probe(spark)) else None
    val fns = SparkEntry.queries
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    val failures = mutable.LinkedHashSet.empty[String]
    val memo = mutable.ArrayBuffer.empty[(Int, Long)]
    // a host-speed probe before the first query and after each
    val hostProbes = mutable.ArrayBuffer(Jvm.probeMs())

    def execute(pass: String, q: String, fingerprint: Boolean): (Double, Option[Fingerprint]) = {
      sc.setJobGroup(s"$pass:$q", q)
      probe.foreach(_.begin(s"$pass:$q"))
      val t0 = System.nanoTime()
      val out = Try {
        val df = fns(q)(spark, fixture)
        if (!fingerprint) { df.write.format("noop").mode("overwrite").save(); None }
        else {
          val (observed, obs) = fingerprintOf(df)
          observed.write.format("noop").mode("overwrite").save()
          Some(obs)
        }
      }
      val took = Jvm.ms(t0) / 1e3
      System.err.println(f"$pass%s $q%s $took%.3f s")
      sc.clearJobGroup()
      probe.foreach(_.end())
      if (out.isFailure) {
        System.err.println(s"$pass $q failed: ${out.failed.get}")
        failures += q
      }
      memo += ((sc.getPersistentRDDs.size,
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum))
      hostProbes += Jvm.probeMs()
      (took, out.toOption.flatten.map(readFingerprint))
    }

    val cold = Queries.map(q => q -> execute("cold", q, fingerprint = false)._1)
    val coldNominalS = cold.indices.map(i =>
      Jvm.atNominalSpeed(cold(i)._2, hostProbes(i), hostProbes(i + 1))).sum
    val memoAfterCold = memo.lastOption.getOrElse((0, 0L))
    Jvm.sampleLiveHeap()
    val warm = Queries.map { q =>
      val (took, fp) = execute("warm", q, fingerprint = true)
      if (fp.isDefined && fp != pins.get(q)) {
        System.err.println(s"fingerprint mismatch for $q: got $fp, pinned ${pins.get(q)}")
        failures += q
      }
      q -> took
    }
    val gcMs = Jvm.gcMs - gc0
    val jitMs = Jvm.jitMs - jit0
    Jvm.sampleLiveHeap()
    val coldJobs = Queries.map(q => sc.statusTracker.getJobIdsForGroup(s"cold:$q").length).sum
    val coldS = cold.map(_._2).sum
    val warmS = warm.map(_._2).sum

    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pass_s", coldNominalS, "s"),
      Metric("calls_per_item", coldJobs.toDouble / Queries.size, "count"))
    val layers = probe.toSeq.flatMap { p =>
      val stages = p.stats
      def passMetrics(pass: String): Seq[Metric] = {
        val ss = Queries.flatMap(q => stages.get(s"$pass:$q"))
        def total(f: Probe.Stats => Double) = ss.map(f).sum
        Seq(
          Metric(s"spark.$pass.plan_ms", total(_.planMs), "ms"),
          Metric(s"spark.$pass.exec_ms", total(_.execMs), "ms"),
          Metric(s"spark.$pass.jobs", total(_.jobs), "count"),
          Metric(s"spark.$pass.stages", total(_.stages), "count"),
          Metric(s"spark.$pass.tasks", total(_.tasks), "count"),
          Metric(s"spark.$pass.shuffle_read_bytes", total(_.shuffleRead), "bytes"),
          Metric(s"spark.$pass.shuffle_write_bytes", total(_.shuffleWrite), "bytes"),
          Metric(s"spark.$pass.spill_bytes", total(_.spill), "bytes"),
          Metric(s"spark.$pass.task_skew",
            if (total(_.medianTaskMs) == 0) 1.0 else total(_.maxTaskMs) / total(_.medianTaskMs),
            "ratio"),
          Metric(s"spark.$pass.executor_cpu_ms", total(_.cpuMs), "ms"))
      }
      Seq(
        Metric("ops_cold_s", coldS, "s"),
        Metric("ops_warm_s", warmS, "s"),
        Metric("host.probe_ms", Jvm.median(hostProbes.toSeq), "ms"),
        Metric("memo.cached_rdds", memoAfterCold._1, "count"),
        Metric("memo.cached_bytes", memo.map(_._2).maxOption.getOrElse(0L).toDouble, "bytes"),
        Metric("jvm.gc_ms", gcMs, "ms"),
        Metric("jvm.jit_ms", jitMs, "ms")) ++
        passMetrics("cold") ++ passMetrics("warm") ++
        cold.map { case (q, t) => Metric(s"ops.$q.cold_s", t, "s") } ++
        warm.map { case (q, t) => Metric(s"ops.$q.warm_s", t, "s") } ++
        Queries.map(q => Metric(s"ops.$q.stages",
          stages.get(s"warm:$q").map(_.stages).getOrElse(0.0), "count"))
    }
    spark.stop()
    Result(Queries.size, failures.size, e2e ++ layers)
  }
}

/** Per-query Spark statistics from a `SparkListener` and a
  * `QueryExecutionListener` on the bench's own session. Both listeners
  * share the listener bus's shared queue, so once the query's last
  * execution-end callback has arrived its stage and task events have too.
  */
final class Probe(spark: SparkSession) {
  import Probe.Stats

  private val byGroup = mutable.Map.empty[String, Stats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile private var current = ""
  @volatile private var writes = 0

  private def statsOf(group: String): Stats = byGroup.getOrElseUpdate(group, new Stats)

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group != null) {
        statsOf(group).jobs += 1
        e.stageIds.foreach(stageGroup(_) = group)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val info = e.stageInfo
      stageGroup.get(info.stageId).foreach { group =>
        val s = statsOf(group)
        s.stages += 1
        s.tasks += info.numTasks
        val m = info.taskMetrics
        if (m != null) {
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.cpuMs += m.executorCpuTime / 1e6
        }
        taskMs.remove(info.stageId).filter(_.nonEmpty).foreach { ds =>
          val sorted = ds.sorted
          s.maxTaskMs += sorted.last
          s.medianTaskMs += sorted(sorted.size / 2)
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe, 0L)
  })

  private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Probe.this.synchronized {
      val s = statsOf(current)
      s.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      s.execMs += durationNs / 1e6
      if (funcName == "overwrite") writes += 1
    }

  def begin(group: String): Unit = synchronized { current = group; writes = 0 }

  /** Waits for the execution-end callback of the query's `noop` write. */
  def end(): Unit = {
    val deadline = System.nanoTime() + 5_000_000_000L
    while (synchronized(writes) == 0 && System.nanoTime() < deadline) Thread.sleep(1)
    if (synchronized(writes) == 0) System.err.println(s"no execution-end event for $current")
  }

  def stats: Map[String, Stats] = synchronized(byGroup.toMap)
}

object Probe {
  final class Stats {
    var planMs, execMs, jobs, stages, tasks, shuffleRead, shuffleWrite, spill, cpuMs = 0.0
    var maxTaskMs, medianTaskMs = 0.0
  }
}

/** Writes `fingerprints.json` from a `graft.Verify` dump of the mix, so the
  * pins are the fingerprints of outputs `tools/check.py` passed EXACT:
  * `perfbench.Pin <verifyOutDir> <fingerprints.json>`. */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = Ops.session()
    val lines = Ops.Queries.map { q =>
      val (df, obs) = Ops.fingerprintOf(spark.read.parquet(s"$dump/$q"))
      df.write.format("noop").mode("overwrite").save()
      val fp = Ops.readFingerprint(obs)
      s"""    "$q": {"rows": ${fp.rows}, "hash": ${fp.hash}}"""
    }
    Files.writeString(java.nio.file.Paths.get(out),
      lines.mkString("{\"queries\": {\n", ",\n", "\n}}\n"))
    spark.stop()
  }
}
