package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM; `perfbench/run.py` builds and
  * launches it. One workload per process:
  *
  *   graftbench.Main <workload> <seed> <seconds> <trace 0|1> <scratchRoot> <resultFile> <sfDir>
  *
  * Writes one JSON object to `resultFile`: end-to-end and per-layer
  * metrics, operation counts, correctness findings and the run
  * environment. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, rootS, outS, sfDir) = args
    val ctx = new Ctx(workload, seedS.toLong, secondsS.toInt, traceS == "1",
      Paths.get(rootS), sfDir)
    val result =
      try {
        val body = workload match {
          case "stream_tail" => new StreamTail(ctx).run()
          case "query_suite" => new QuerySuite(ctx).run()
          case other => sys.error(s"unknown workload $other")
        }
        body ++ ctx.envInfo()
      } finally ctx.stop()
    Files.writeString(Paths.get(outS), Stats.json(result))
  }
}

/** What every workload shares: the Spark session, tracing, the Spark
  * probe, load-average samples and operation accounting. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val traced: Boolean, val root: Path, val sfDir: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  private val sessionT0 = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName(s"graftbench-$workload")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", root.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  val sessionStartS: Double = (System.nanoTime() - sessionT0) / 1e9

  val trace = new Trace(traced, s"$workload-seed$seed-${ProcessHandle.current().pid()}")
  val probe: Option[SparkProbe] = if (traced) Some(new SparkProbe(spark)) else None

  private val t0 = System.nanoTime()
  /** Progress line in the JVM log, with seconds since session start. */
  def note(msg: String): Unit =
    println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  private val loads = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  def sampleLoad(phase: String): Unit = {
    loads += phase -> loadAvg()
    note(s"phase $phase done")
  }
  sampleLoad("session")

  /** Operation accounting: every attempted operation, and the failed or
    * wrong ones with their name and status. */
  var attempted = 0L
  val failures = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
  def fail(op: String, status: String): Unit = failures += Map("op" -> op, "status" -> status)

  def envInfo(): Map[String, Any] = Map(
    "env" -> Map(
      "cores" -> cores, "master" -> s"local[$cores]",
      "jvm" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_start_s" -> sessionStartS,
      "loadavg" -> loads.map { case (p, l) => Map("phase" -> p, "loadavg" -> l) }))

  def stop(): Unit = spark.stop()

  /** Depth-first delete; a missing path is a no-op. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
    finally s.close()
  }

  private def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Throwable => "" }

  /** High-water resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }
}
