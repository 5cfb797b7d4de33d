package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps [[GraftSession]] the only module that builds sessions or
  * installs Catalyst code into one: main code that needs a session asks
  * `GraftSession.builder`, and main code that needs graft's functions,
  * strategy or rule relies on the session carrying its table. Keeps
  * [[SessionMemo]] the only session-scoped memo: main code that reuses
  * an artifact across calls goes through it. Keeps [[etl.Overlapped]]'s
  * parse pool the only threads the ETL starts: nothing else of
  * `graft.etl` runs beside the task thread that owns Spark's resources. Keeps
  * [[Checkpoints]] the only owner that frees a checkpoint. Keeps the entry
  * points to the registry runners and the ETL: a new experiment is a
  * spec or a recorded A/B, not another `main`.
  */
class SessionContractGuardSpec extends AnyFunSuite {

  /** `file:line: pattern` for every line of `src/main/scala/<under>`
    * outside the `owners` files that contains one of `patterns`.
    */
  private def hits(owners: Set[String], patterns: Seq[String], under: String = ""): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.exists(_.getFileName.toString == "Bench.scala"), sources)
    val dir = root.resolve(under)
    assert(Files.isDirectory(dir), dir)
    for {
      p <- sources if p.startsWith(dir) && !owners(p.getFileName.toString)
      (line, n) <- Files.readAllLines(p).asScala.zipWithIndex
      pat <- patterns if line.contains(pat)
    } yield s"$p:${n + 1}: $pat"
  }

  test("only GraftSession builds sessions or installs functions, strategies and rules") {
    val found = hits(Set("GraftSession.scala"), Seq(
      "SparkSession.builder(",
      "experimental.extraStrategies",
      "experimental.extraOptimizations",
      "functionRegistry.createOrReplaceTempFunction",
      "functionRegistry.registerFunction"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("only Overlapped starts a thread in graft.etl") {
    val found = hits(Set("Overlapped.scala"),
      Seq("new Thread(", "new ThreadPoolExecutor(", "Executors.new", "new ForkJoinPool("),
      under = "graft/etl")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("only SessionMemo holds a TrieMap: every session-scoped memo goes through it") {
    val found = hits(Set("SessionMemo.scala"), Seq("TrieMap"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("only Checkpoints frees a checkpoint") {
    val found = hits(Set("Checkpoints.scala"),
      Seq("freeCheckpoint", ".unpersist(", "ArrayBuffer[DataFrame]"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("only the registry runners and the ETL define a main") {
    val found = hits(Set("Bench.scala", "Verify.scala", "Plans.scala",
      "EtlBench.scala", "DiscogsReleases.scala"), Seq("def main("))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
