package graft

import scala.collection.mutable.ArrayBuffer

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.tools.Profile

/** `Profile query` prints one JSON line per query: a real query is an
  * `ok` timing split into jobs and driver gap; a query that fails is a
  * `fail` status with its message and never a timing. */
class ProfileSpec extends SparkSpec {
  private val sf =
    java.nio.file.Paths.get(sys.props("user.home"), "testdata", "sf0.001").toString
  private implicit val formats: Formats = DefaultFormats

  private def profile(names: String*): Seq[JValue] = {
    val lines = ArrayBuffer[String]()
    Profile.queries(spark, sf, names, reps = 1)(lines += _)
    lines.map(parse(_)).toSeq
  }

  test("a real query reports ok with its job timeline and driver gap") {
    val Seq(line) = profile("q01_pricing_agg")
    assert((line \ "status").extract[String] == "ok")
    assert((line \ "query").extract[String] == "q01_pricing_agg")
    val jobs = (line \ "jobs").extract[Int]
    assert(jobs >= 1)
    assert((line \ "job_list").extract[List[JValue]].size == jobs)
    val wall = (line \ "wall_s").extract[Double]
    val gap = (line \ "driver_gap_s").extract[Double]
    assert(gap >= 0.0 && gap <= wall)
  }

  test("an unknown query is a fail status with its message, not a timing") {
    val Seq(line) = profile("q00_no_such_query")
    assert((line \ "status").extract[String] == "fail")
    assert((line \ "error").extract[String].contains("q00_no_such_query"))
    assert(line \ "wall_s" == JNothing)
    assert(line \ "jobs" == JNothing)
  }
}
