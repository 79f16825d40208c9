package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

/** Dump `.explain("formatted")` for every declared query (or the subset
  * named on the command line) to `plans/<tag>/<query>_<suffix>.txt` —
  * the committed evidence for plan-shape claims in OPTIMIZATION_r*.md.
  * Building a query's DataFrame executes its scratch-table side effects
  * (replays etc.), so a full dump costs roughly one bench rep.
  *
  * Usage: runMain graft.tools.PlanDump <tag> <suffix> [query...]
  * e.g.   runMain graft.tools.PlanDump r06 before q16_cdc_replay_batches
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("r06")
    val suffix = args.drop(1).headOption.getOrElse("before")
    val only = args.drop(2).toSet
    val sfDir = Session.sfDir
    val spark = Session("graft-plandump")
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    names.foreach { name =>
      try {
        spark.sparkContext.setJobDescription(s"plandump:$name")
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        println(s"PLANDUMP ok $name (${plan.length} chars)")
      } catch {
        case e: Throwable => println(s"PLANDUMP FAIL $name: $e")
      }
    }
    spark.stop()
  }
}
