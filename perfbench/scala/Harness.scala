package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark harness. It drives the library only
  * through its public API, from outside, and writes one JSON report of
  * raw measurements (per-shard due times, micro-batch progress, query
  * samples, check results, spans); `perfbench/run.py` turns the report
  * into the benchmark's metrics.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *   <work dir> <report file> [<data dir> <data generation seconds>]
  * Workloads: `cdc`, `query_suite`, and `shards`, whose seed argument
  * is a comma-separated list (writes each seed's shard set and action
  * counts to the work dir and exits — the determinism self-test). */
object Harness {

  /** Session confs of graft.Bench on a fixed two local cores, so every
    * host measures the same plan geometry. Two, not graft.Bench's four:
    * on a 4-vCPU host four task threads plus the driver, JIT and GC
    * threads oversubscribe the CPUs (perfbench/WORKLOADS.md, Session). */
  def sessionConfs(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.ui.enabled" -> "false")

  val Cores = 2

  def session(work: Path, cores: Int = Cores): SparkSession = {
    val b = SparkSession.builder().appName("perfbench")
    sessionConfs(cores).foreach { case (k, v) => b.config(k, v) }
    b.config("spark.local.dir", work.resolve("spark-local").toString)
    b.config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def nowMs: Long = System.currentTimeMillis()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secs(t0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this process in MB (`VmHWM`). */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } finally f.close()
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var n = 0L
        s.forEach(f => if (Files.isRegularFile(f)) n += Files.size(f))
        n
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def errMsg(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    (e.getClass.getSimpleName + ": " + Option(c.getMessage).getOrElse(""))
      .replaceAll("\\s+", " ").take(300)
  }

  def writeJson(path: Path, value: Any): Unit = {
    val m = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(path, m.writeValueAsString(value).getBytes(StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 6, "usage: <workload> <seed> <seconds> <trace> <work> <report> [data]")
    val Array(workload, seedS, secondsS, traceS, workS, reportS) = args.take(6)
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)
    val report = mutable.LinkedHashMap[String, Any]()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    report("jvm_start_ms") = jvmStartMs
    report("cores") = Cores
    report("session_confs") = sessionConfs(Cores).toMap
    workload match {
      case "shards" =>
        Fixtures.writeShardSets(work, seedS.split(",").toSeq.map(_.toLong))
        return
      case _ =>
    }
    val seed = seedS.toLong
    val spark = session(work)
    report("session_s") = (nowMs - jvmStartMs) / 1000.0
    val (s0, t0) = cpuJiffies()
    val load0 = loadAvg()
    try {
      workload match {
        case "cdc" =>
          val c = new Cdc(spark, work, seed, seconds, trace, report)
          c.run()
          if (trace) report("local1_bulk") = c.singleThreadBulk()
        case "query_suite" =>
          report("gen_s") = args(7).toDouble
          new Suite(spark, work, Paths.get(args(6)), seed, seconds, trace, report).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally {
      val (s1, t1) = cpuJiffies()
      report("host") = Map(
        "steal_pct" -> (if (t1 > t0) 100.0 * (s1 - s0) / (t1 - t0) else 0.0),
        "load_avg" -> (load0 + loadAvg()) / 2)
      report("rss_peak_mb") = rssPeakMb()
      writeJson(Paths.get(reportS), report)
      spark.stop()
    }
  }
}
