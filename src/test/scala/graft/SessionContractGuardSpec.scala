package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[GraftSession]] the only module that builds sessions or
  * installs Catalyst code into one: main code that needs a session asks
  * `GraftSession.builder`, and main code that needs graft's functions,
  * strategy or rule relies on the session carrying its table.
  */
class SessionContractGuardSpec extends AnyFunSuite {

  private val owner = "GraftSession.scala"
  private val patterns = Seq(
    "SparkSession.builder(",
    "experimental.extraStrategies",
    "experimental.extraOptimizations",
    "functionRegistry.createOrReplaceTempFunction",
    "functionRegistry.registerFunction")

  test("only GraftSession builds sessions or installs functions, strategies and rules") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != owner)
      .toSeq
    assert(sources.exists(_.getFileName.toString == "Bench.scala"), sources)
    val hits = for {
      p <- sources
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      pat <- patterns if line.contains(pat)
    } yield s"$p:${n + 1}: $pat"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
