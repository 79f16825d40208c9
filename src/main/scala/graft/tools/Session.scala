package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The one SparkSession set-up every tool main shares: `local[cpus]`
  * with one shuffle partition per worker thread, UTC session time, no
  * UI, WARN logging, and shuffle/spill scratch on tmpfs
  * (`/dev/shm/graft-spark-local`) when it is writable, else under
  * `java.io.tmpdir`. A tool that needs more (a `local-cluster` master,
  * executor confs) adds it to `builder` before `getOrCreate()`.
  */
object Session {

  /** Worker threads: `$SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** The generated dataset the query tools read: `$SPARK_GRAFT_SF_DIR`,
    * default the read-only sf0.1 test data under `~/testdata`
    * (TESTDATA.md). */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    Paths.get(sys.props("user.home"), "testdata", "sf0.1").toString)

  private def localDir: String = {
    val shm = Paths.get("/dev/shm/graft-spark-local")
    try { Files.createDirectories(shm); shm.toString }
    catch { case _: Throwable => System.getProperty("java.io.tmpdir") }
  }

  def builder(appName: String, cpus: Int = Session.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.log.level", "WARN")

  def apply(appName: String, cpus: Int = Session.cpus): SparkSession =
    builder(appName, cpus).getOrCreate()
}
