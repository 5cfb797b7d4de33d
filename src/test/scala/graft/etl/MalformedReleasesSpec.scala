package graft.etl

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import graft.SparkSpec

/** Malformed-input corpus: every input class the reference panics on
  * must fail the conversion, and a parser-level failure must name the
  * release whose id it has already read.
  */
class MalformedReleasesSpec extends SparkSpec {

  private lazy val tmpDir = Files.createTempDirectory("malformed-spec").toFile

  private val good =
    """<release id="40" status="Accepted"><title>ok</title><artists></artists><genres></genres><styles></styles><labels></labels></release>"""

  private def gzip(name: String, text: String): File = {
    val f = new File(tmpDir, name)
    val out = new GZIPOutputStream(new FileOutputStream(f))
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    f
  }

  private def dump(name: String, releaseLines: String*): File =
    gzip(name, ("<releases>" +: releaseLines :+ "</releases>").mkString("\n") + "\n")

  /** Convert `input`, which must fail; the messages of the whole cause
    * chain, joined.
    */
  private def failure(input: File): String = {
    val e = intercept[Exception] {
      DiscogsReleases.run(spark, input.getAbsolutePath,
        new File(tmpDir, input.getName + ".out").getAbsolutePath)
    }
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n")
  }

  test("a truncated gzip fails") {
    val whole = dump("whole.xml.gz", Seq.fill(200)(good): _*)
    val bytes = Files.readAllBytes(whole.toPath)
    val cut = new File(tmpDir, "truncated.xml.gz")
    Files.write(cut.toPath, bytes.take(bytes.length / 2))
    failure(cut)
  }

  test("an undefined entity fails, naming the release") {
    val msg = failure(dump("entity.xml.gz", good,
      """<release id="41" status="Accepted"><title>a &bogus; b</title></release>"""))
    assert(msg.contains("Malformed release id=41"), msg)
  }

  test("a release split across two lines fails, naming the release") {
    val msg = failure(dump("split.xml.gz", good,
      """<release id="42" status="Accepted"><title>x</title>""",
      """<artists></artists></release>"""))
    assert(msg.contains("Malformed release id=42"), msg)
  }

  test("two releases on one line fail, naming the second") {
    val msg = failure(dump("twoperline.xml.gz", good + good.replace("\"40\"", "\"47\"")))
    assert(msg.contains("Malformed release id=47"), msg)
  }

  test("a non-numeric id fails, naming it") {
    val msg = failure(dump("badid.xml.gz", good,
      """<release id="4x" status="Accepted"><title>x</title></release>"""))
    assert(msg.contains("Malformed release id=4x"), msg)
  }

  test("a non-numeric master_id fails, naming the release") {
    val msg = failure(dump("badmaster.xml.gz", good,
      """<release id="44" status="Accepted"><title>x</title><master_id is_main_release="true">x7</master_id></release>"""))
    assert(msg.contains("Malformed release id=44"), msg)
  }

  test("a <!DOCTYPE> declaring an external entity fails and is never resolved") {
    val secret = new File(tmpDir, "secret.txt")
    Files.writeString(secret.toPath, "SECRET-7f3a")
    val decl =
      s"""<!DOCTYPE releases [<!ENTITY xxe SYSTEM "${secret.toURI}">]>"""
    val release =
      """<release id="45" status="Accepted"><title>&xxe;</title></release>"""
    // As a line of its own, and in front of the release on one line.
    val own = failure(gzip("doctype.xml.gz",
      s"""<?xml version="1.0"?>\n$decl\n<releases>\n$release\n</releases>\n"""))
    val inline = failure(dump("doctype_inline.xml.gz", decl + release))
    assert(own.contains("DOCTYPE"), own)
    assert(inline.contains("Malformed release"), inline)
    assert(!own.contains("SECRET") && !inline.contains("SECRET"), own + inline)
  }
}
