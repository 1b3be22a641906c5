package graft

import java.nio.file.Path

import org.scalatest.funsuite.AnyFunSuite

/** Lint guard: [[LocalSession]] is the only place in `src/main` that
  * builds a SparkSession, so the mains cannot drift apart again (each
  * hand-copied builder block used to carry its own core count, log level
  * and subset of the production settings). */
class SessionSetupLintSpec extends AnyFunSuite {

  private val Builder = """SparkSession\s*\.\s*builder\b""".r

  test("only LocalSession.scala builds a SparkSession in src/main/scala") {
    val counts: Map[Path, Int] = MainSources.all
      .map { case (p, text) => p -> Builder.findAllMatchIn(text).size }
      .filter(_._2 > 0)
      .toMap
    val offenders = counts.keys.filter(_.getFileName.toString != "LocalSession.scala")
    assert(offenders.isEmpty,
      s"SparkSession.builder() outside LocalSession.scala — call graft.LocalSession() " +
        s"instead: ${offenders.toSeq.map(_.toString).sorted.mkString(", ")}")
    assert(counts.values.sum == 1, s"expected exactly one builder call, got $counts")
  }
}
