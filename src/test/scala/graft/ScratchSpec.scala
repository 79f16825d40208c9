package graft

import java.nio.file.{Files, Paths}

import graft.queries.Scratch

/** Scratch run roots are bounded after a kill: a JVM that dies before
  * its shutdown hook leaves `run-<pid>-…` behind, and the next JVM's
  * first use sweeps it while keeping every live process's root. */
class ScratchSpec extends SparkSpec {

  test("sweep removes the run roots of dead pids and keeps live ones") {
    val base = Paths.get(tmpDir("scratch-sweep"))
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val dead = Files.createDirectories(base.resolve(s"run-${child.pid}-1"))
    Files.writeString(dead.resolve("part-0.parquet"), "x")
    val live = Files.createDirectories(
      base.resolve(s"run-${ProcessHandle.current.pid}-2"))
    Scratch.sweepDead(base)
    assert(!Files.exists(dead))
    assert(Files.isDirectory(live))
  }
}
