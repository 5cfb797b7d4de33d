package graft.etl

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters

import graft.SparkSpec

/** [[Overlapped]] against the plain [[ReleaseParser]]: on an input far
  * longer than the batches in flight, `read` yields the parser's rows in
  * its order and fails with its message, and no `graft-release-parser`
  * thread outlives a conversion, however the task ends. Every Spark call
  * here is bounded, so a stuck hand-off fails the test instead of
  * hanging it.
  */
class OverlappedSpec extends SparkSpec {

  private lazy val tmpDir = tempDir("overlapped-spec").toFile

  private val n = 5000

  /** One release line, varied enough to fill every column kind. */
  private def release(i: Int): String =
    s"""<release id="${i + 1}" status="${Seq("Accepted", "Draft", "Deleted")(i % 3)}">""" +
      s"<title>T &amp; $i</title>" +
      s"<artists><artist><id>${i % 97}</id><name>A$i</name><anv>${if (i % 2 == 0) "" else s"v$i"}</anv>" +
      "<join></join><role>r</role></artist></artists>" +
      s"<genres><genre>G${i % 7}</genre></genres><styles></styles>" +
      s"""<labels><label id="${i % 13}" catno="C$i" name="L"/></labels>""" +
      (if (i % 4 == 0) "" else s"""<master_id is_main_release="${i % 2 == 0}">${i * 3}</master_id>""") +
      s"<notes>skipped $i</notes></release>"

  /** The lines of a dump of `releases`, as the text scan reads them. */
  private def lines(releases: Seq[String]): Seq[String] =
    "<releases>" +: releases :+ "</releases>"

  private def gzip(name: String, lines: Seq[String]): String = {
    val f = new File(tmpDir, name)
    val out = new GZIPOutputStream(new FileOutputStream(f))
    try out.write(lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    f.getAbsolutePath
  }

  private lazy val goodLines = lines((0 until n).map(release))
  private lazy val good = gzip("good.xml.gz", goodLines)

  /** The same dump with an undefined entity in the release on line 4001. */
  private lazy val badLines = goodLines.updated(4001,
    goodLines(4001).replace("<title>T &amp;", "<title>T &bogus;"))
  private lazy val bad = gzip("bad.xml.gz", badLines)

  /** `body`, failed after a minute with its jobs cancelled. */
  private def bounded[T](body: => T): T = {
    val group = s"overlapped-spec-${System.nanoTime()}"
    val sc = spark.sparkContext
    val run = Future {
      sc.setJobGroup(group, group, interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    }(ExecutionContext.global)
    try Await.result(run, 60.seconds)
    catch { case e: TimeoutException => sc.cancelJobGroup(group); throw e }
  }

  /** Fails unless every `graft-release-parser` thread ends within 5 s. */
  private def assertNoParserThread(): Unit = {
    def alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName == "graft-release-parser" && t.isAlive)
    val deadline = System.nanoTime() + 5.seconds.toNanos
    while (alive.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    assert(alive.isEmpty, alive.map(t => t.getStackTrace.mkString(t.toString + "\n  ", "\n  ", "")))
  }

  test("read yields the plain parser's rows, in its order") {
    val toRow = CatalystTypeConverters.createToScalaConverter(ReleaseSchema.outputSchema)
    val expected = new ReleaseParser(goodLines.iterator).map(toRow(_).asInstanceOf[Row]).toSeq
    assert(expected.length == n)
    assert(expected.length > Overlapped.Batch * Overlapped.Depth * 2)
    val got = bounded(DiscogsReleases.read(spark, good).collect()).toSeq
    assert(got == expected)
  }

  test("a late malformed release fails with the plain parser's message") {
    val expected = intercept[IllegalArgumentException] {
      new ReleaseParser(badLines.iterator).foreach(_ => ())
    }.getMessage
    assert(expected.startsWith("Malformed release id=4001 (line 4002)"), expected)
    val got = intercept[IllegalArgumentException] {
      bounded(DiscogsReleases.validateNoUnknownContent(spark, bad))
    }.getMessage
    assert(got == expected)
  }

  test("no parser thread outlives a successful conversion") {
    bounded(DiscogsReleases.run(spark, good, new File(tmpDir, "good.out").getAbsolutePath))
    assertNoParserThread()
  }

  test("no parser thread outlives a late parse failure") {
    intercept[Exception] {
      bounded(DiscogsReleases.run(spark, bad, new File(tmpDir, "bad.out").getAbsolutePath))
    }
    assertNoParserThread()
  }

  test("no parser thread outlives a truncated gzip") {
    val bytes = Files.readAllBytes(new File(good).toPath)
    val cut = new File(tmpDir, "truncated.xml.gz")
    Files.write(cut.toPath, bytes.take(bytes.length / 2))
    intercept[Exception](bounded(DiscogsReleases.read(spark, cut.getAbsolutePath).count()))
    assertNoParserThread()
  }

  test("no parser thread outlives an early stop") {
    val first = bounded(DiscogsReleases.read(spark, good).limit(1).collect())
    assert(first.map(_.getInt(0)).toSeq == Seq(1))
    assertNoParserThread()
  }
}
