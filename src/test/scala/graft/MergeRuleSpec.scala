package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine has one latest-per-key merge rule,
  * `LakeTable.resolveLatest`: the apply and the streaming tail call it
  * and keep no private copy of it. */
class MergeRuleSpec extends AnyFunSuite {

  test("no source under graft/cdc or graft/streaming runs its own max_by") {
    val hits = Seq("cdc", "streaming").flatMap { pkg =>
      val walk = Files.walk(Paths.get("src/main/scala/graft", pkg))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("max_by(") => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
      finally walk.close()
    }
    assert(hits.isEmpty, s"a private merge rule outside LakeTable.resolveLatest:\n${hits.mkString("\n")}")
  }
}
