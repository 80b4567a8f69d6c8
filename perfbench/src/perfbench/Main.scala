package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

/** One measured metric; `unit` as BENCHMARK.json spells it. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back: output-check counts and every metric
  * it measured. `perfbench/run.py` picks the contract's subset. */
final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${Main.num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Workload entry point:
  * `perfbench.Main --workload <name> --seed <n> --trace <0|1> --work <dir> --ops-dir <dir>`
  * prints the result line on stdout; `perfbench.Main --canary 1` prints the
  * host canaries, timed in a JVM of their own so that the workload's
  * background compilation does not slow them.
  */
object Main {

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    val seed = opts.getOrElse("seed", "1").toLong
    val trace = opts.getOrElse("trace", "0") == "1"
    val seconds = opts.getOrElse("seconds", "15").toInt
    val work = Paths.get(opts.getOrElse("work", ".bench_build/work"))
    val opsDir = Paths.get(opts.getOrElse("ops-dir", "perfbench/ops"))
    if (opts.contains("canary")) {
      println(s"""{"canary_ms": ${num(Jvm.canaryMs())}, "canary_par_ms": ${num(Jvm.canaryParMs())}}""")
      sys.exit(0)
    }
    val result = workload match {
      case "fleet_apply_glue" =>
        Fleet.run(Fleet.ApplyGlue, seed, trace, seconds, work.resolve(s"$workload-$seed"), work)
      case "fleet_validate_wide" =>
        Fleet.run(Fleet.ValidateWide, seed, trace, seconds, work.resolve(s"$workload-$seed"), work)
      case "ops_cold_mix" => Ops.run(trace, opsDir)
      case other =>
        System.err.println(s"unknown workload: '$other'")
        sys.exit(2)
    }
    val common = Seq(
      Metric("peak_live_heap_mb", Jvm.peakLiveMb, "MB"),
      Metric("failed_share", result.failed.toDouble / result.attempted, "ratio"))
    println(result.copy(metrics = result.metrics ++ common).json)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the run is over
    sys.exit(0)
  }
}

/** JVM-level measurements shared by the workloads. */
object Jvm {

  private var peakLiveBytes = 0L

  /** Collects fully and records the heap still in use: the live set. The
    * workloads call it at the end of each measured pass, outside timing.
    * The second collection takes what reference-driven cleanup (Spark's
    * context cleaner) released after the first. */
  def sampleLiveHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peakLiveBytes = peakLiveBytes.max(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakLiveMb: Double = peakLiveBytes / 1048576.0

  /** Runs `setup` at least five times and until two seconds have gone,
    * each after an untimed `teardown` of the previous one and between
    * host-speed probes; returns the median time in seconds at the host's
    * nominal speed and the last result. */
  def repeatedSetup[A](teardown: () => Unit = () => ())(setup: () => A): (Double, A) = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: A = null.asInstanceOf[A]
    var spent = 0.0
    var probe = probeMs()
    while (times.size < 5 || (spent < 2000 && times.size < 25)) {
      teardown()
      val t0 = System.nanoTime()
      last = setup()
      val took = ms(t0)
      val next = probeMs()
      times += atNominalSpeed(took, probe, next) / 1e3
      spent += took
      probe = next
    }
    (median(times.toSeq), last)
  }

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def jitMs: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)

  private def xorshift(salt: Long): Long = {
    var x = 0x9E3779B97F4A7C15L + salt
    var i = 0
    while (i < (1 << 25)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  /** What the probe takes, in ms, on the host the bounds were set on at
    * its usual speed: the scale of the host-speed correction. */
  val ProbeNominalMs = 50.0

  private val ProbeTypes = Vector("bigint", "int", "string", "double", "decimal(10,2)",
    "array<string>", "map<string,bigint>", "struct<a:int,b:string>", "timestamp", "boolean")
  private lazy val probeText: String = {
    val rnd = new scala.util.Random(7)
    (0 until 2000).map(i => s"`col_$i` ${ProbeTypes(rnd.nextInt(ProbeTypes.size))}")
      .mkString("CREATE EXTERNAL TABLE `db`.`probe` (", ", ", ")")
  }
  private val probeColumn = "`([a-z0-9_]+)`\\s+([a-z0-9<>:,()]+)".r
  // off the heap, so that the live-heap metric does not count it
  private lazy val probeHeap = java.nio.ByteBuffer.allocateDirect(128 << 20).asLongBuffer()
  @volatile private var probeSink = 0L

  /** Host-speed probe, in ms: a fixed single-threaded mix of the kinds of
    * JVM work the workloads do (a regex scan of DDL text, Hadoop
    * `Configuration` loading, hash-map building, random reads over a
    * 128 MB array), from the JDK and library jars only, so no change to
    * the program moves it. On a shared host a core's speed drifts by tens
    * of percent over minutes, differently for different code and far more
    * than the xorshift canaries show; a probe timed next to each measured
    * unit of work tracks that drift. */
  def probeMs(): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var i = 0
    while (i < 2) {
      val cols = probeColumn.findAllMatchIn(probeText)
        .map(m => m.group(1) -> m.group(2).toUpperCase).toVector
      acc += cols.groupBy(_._2).map { case (k, v) => k.hashCode ^ v.size }.sum + cols.toMap.size
      i += 1
    }
    i = 0
    while (i < 2) {
      acc += new org.apache.hadoop.conf.Configuration().get("fs.defaultFS").length
      i += 1
    }
    i = 0
    while (i < 4) {
      acc += (0 until 20000).map(k => s"k$k" -> k).toMap.size
      i += 1
    }
    val heap = probeHeap
    val rnd = new java.util.SplittableRandom(11)
    i = 0
    while (i < 200000) {
      val k = rnd.nextInt(heap.capacity)
      acc += heap.get(k)
      heap.put(k, acc)
      i += 1
    }
    probeSink = acc
    ms(t0)
  }

  /** Untimed probes until the probe is compiled, so that later probes
    * time the host and not the JIT. */
  def warmProbe(): Unit = {
    val t0 = System.nanoTime()
    while (ms(t0) < 1000) probeMs()
  }

  /** `ms` of CPU-bound work at the host's nominal speed, given the probes
    * timed just before and just after it. */
  def atNominalSpeed(ms: Double, probeBefore: Double, probeAfter: Double): Double =
    ms * ProbeNominalMs / ((probeBefore + probeAfter) / 2)

  /** Ambient-speed canary: 2^25 xorshift steps on one core, in ms. */
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    if (xorshift(0) == 42L) System.err.println("canary")
    (System.nanoTime() - t0) / 1e6
  }

  /** The same loop on every core at once, wall ms. */
  def canaryParMs(): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until Runtime.getRuntime.availableProcessors).map { i =>
      val t = new Thread(() => if (xorshift(i) == 42L) System.err.println("canary"))
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
}
