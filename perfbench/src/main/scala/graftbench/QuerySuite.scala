package graftbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.queries._

/** The query surface of `SparkEntry.queries` on a fixed data set, each
  * query timed by materializing every column of its result with the
  * `noop` sink (a `.count()` lets column pruning skip projections).
  * Set-up is one untimed warm-up rep that also dumps each result to
  * parquet for the DuckDB oracle compare; then interleaved reps,
  * rep-outer and query-inner, until `seconds` have passed (at least
  * two). A query that throws is a failed operation, never a timing. */
final class QuerySuite(ctx: Ctx) {
  import ctx.{spark, trace}

  val families: Seq[(String, Seq[QueryDef])] = Seq(
    "RelationalQueries" -> RelationalQueries.defs, "JsonQueries" -> JsonQueries.defs,
    "CdcQueries" -> CdcQueries.defs, "PowerQueries" -> PowerQueries.defs,
    "TextQueries" -> TextQueries.defs, "InferQueries" -> InferQueries.defs,
    "MlQueries" -> MlQueries.defs, "StatQueries" -> StatQueries.defs,
    "ConvQueries" -> ConvQueries.defs, "InferJsonQueries" -> InferJsonQueries.defs,
    "DumpQueries" -> DumpQueries.defs)
  private val familyOf: Map[String, String] =
    families.flatMap { case (f, ds) => ds.map(_.name -> f) }.toMap

  private val names: Seq[String] = QuerySuite.Timed

  private def runQuery(name: String)(sink: org.apache.spark.sql.DataFrame => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      trace.span(s"queries.$name") {
        sink(SparkEntry.queries(name)(spark, ctx.sfDir))
      }
      Some((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        ctx.fail(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        None
    }
  }

  def run(): Map[String, Any] = {
    // set-up: the warm-up rep, which also writes the oracle dump
    val verify = ctx.root.resolve("verify").toString
    val s0 = System.nanoTime()
    names.foreach { n =>
      runQuery(n)(_.coalesce(1).write.mode("overwrite").parquet(s"$verify/$n"))
    }
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Files.writeString(Paths.get(verify, "oracle_sql.json"), Stats.json(oracle))
    val setupS = (System.nanoTime() - s0) / 1e9
    ctx.note(f"warm-up rep: $setupS%.2f s")
    ctx.sampleLoad("setup")

    val times = names.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val g0 = ctx.probe.map(_.gauges())
    val cpu0 = SparkProbe.processCpuNs()
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var reps = 0
    while (reps < 2 || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      if (reps > 0) spark.catalog.clearCache()
      trace.span("bench.rep") {
        names.foreach { n =>
          ctx.attempted += 1
          runQuery(n)(_.write.format("noop").mode("overwrite").save()).foreach(times(n) += _)
        }
      }
      reps += 1
      ctx.note(f"rep $reps: ${names.flatMap(times(_).lastOption).sum}%.2f s")
    }
    val w1 = System.currentTimeMillis()
    val cpuS = (SparkProbe.processCpuNs() - cpu0) / 1e9 / reps
    val g1 = ctx.probe.map(_.gauges())
    ctx.sampleLoad("reps")

    val med: Map[String, Double] =
      names.filter(n => times(n).nonEmpty).map(n => n -> Stats.median(times(n).toSeq)).toMap
    val latMs = med.values.toSeq.map(_ * 1000)
    val total = med.values.sum
    val e2e = Map(
      "setup_s" -> setupS,
      "lag_p50_ms" -> Stats.percentile(latMs, 0.5),
      "lag_p90_ms" -> Stats.percentile(latMs, 0.9),
      "work_s" -> total,
      "cpu_s" -> cpuS,
      "peak_rss_mb" -> ctx.peakRssMb())
    val details = Map(
      "query_total_s" -> total, "reps" -> reps, "queries" -> names.size,
      "query_reps_s" -> names.map(n => n -> times(n).toSeq).toMap)
    val layers = ctx.probe.map { p =>
      p.drain()
      med.map { case (n, s) => s"query.${n}_s" -> s } ++
        med.groupMapReduce { case (n, _) => s"query.${familyOf(n)}_s" }(_._2)(_ + _) ++
        Layers.spark(p, w0, w1, g0.get, g1.get, ctx.cores, units = reps.toDouble)
    }.getOrElse(Map.empty)
    Result(ctx, e2e, details, layers)
  }
}

object QuerySuite {
  /** The timed subset (see perfbench/README.md for how it was chosen):
    * every family, weighted to the codegen'd functions, ML, operators
    * and type inference; no replay or stream query, whose engine paths
    * stream_tail and merge_read measure directly. */
  val Timed: Seq[String] = Seq(
    "q10_window_latest_order",
    "q12_json_extract_agg",
    "q14_cdc_last_writer_sql",
    "q21b_power_join_chain",
    "q26_token_regex_count",
    "q29_infer_pg_types",
    "q36_multimodal_decode", "q50_simhash_exhaustive",
    "q39_json_containment",
    "q41_time_window_agg",
    "q42_infer_json_corpus",
    "q45_lineage_origin")
}
