package graft.etl

import java.io.Reader
import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}
import javax.xml.stream.XMLStreamConstants._

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

/** One-pass pull parser for the release lines of a Discogs dump — the
  * reference's design (`main.rs:73-77`, `506-565`, `742-917`) on the
  * JDK's StAX reader: dispatch on tag name, keep the fields of
  * [[ReleaseSchema.xmlSchema]], skip `role`/`tracks` and the
  * release-level skip-subtrees without building anything from them,
  * and fail on anything the reference's grammar does not know.
  *
  * `lines` are one partition's lines of a one-release-per-line dump:
  * frame lines ([[ReleaseParser.isFrameLine]]) and lines that each
  * hold one `<release …>…</release>`. One StAX reader streams the
  * release lines of the whole partition, wrapped in a synthetic root,
  * with frame lines left empty, so its line number is the partition's
  * line number: a release must start and end on its own line. Any
  * other line ends the stream there and fails, named by its number.
  *
  * Every failure is an `IllegalArgumentException` whose message starts
  * `Malformed release id=<id>` once the id attribute has been read
  * (`Malformed release (line <n>)` before that). Unknown content is
  * named by its path, attributes with a `_` prefix:
  * `artists.artist.bogus`, `master_id._weird`.
  *
  * Text and attribute values are trimmed; an empty element reads as
  * "" (the transform turns empty `anv`/`join` into null).
  */
private[etl] final class ReleaseParser(lines: Iterator[String]) extends Iterator[Row] {
  import ReleaseParser._

  private val in = new LinesReader(lines)
  private val r = factory.createXMLStreamReader(in)

  /** The current release's raw id attribute and line, for errors. */
  private var rawId: String = null
  private var line = 0
  /** Whether `r` stands on the next release's start tag; `done` once
    * it has reached the end of the root.
    */
  private var ready = false
  private var done = false

  guard(r.nextTag()) // the synthetic root

  def hasNext: Boolean = {
    if (!ready && !done) guard {
      rawId = null
      if (r.nextTag() == END_ELEMENT) { done = true; r.close() }
      else {
        val at = r.getLocation.getLineNumber
        if (at == line) {
          rawId = r.getAttributeValue(null, "id")
          fail("a second release on the same line")
        }
        line = at
        if (r.getLocalName != "release")
          fail(s"expected a <release> element, found <${r.getLocalName}>")
        ready = true
      }
    }
    !done
  }

  def next(): Row = {
    if (!hasNext) throw new NoSuchElementException
    ready = false
    guard {
      val row = release(r)
      if (r.getLocation.getLineNumber != line)
        fail(s"release ends on line ${r.getLocation.getLineNumber}")
      row
    }
  }

  private def guard[T](body: => T): T =
    try body
    catch {
      case e: XMLStreamException =>
        if (rawId == null) // between releases: name the failing line
          line = Option(e.getLocation).fold(in.lineNo)(_.getLineNumber)
        if (in.badLine != null)
          fail(s"line ${in.lineNo} is not a <release> line: ${in.badLine.take(120)}")
        fail(e.getMessage)
    }

  private def release(r: XMLStreamReader): Row = {
    var id: java.lang.Long = null
    var status: String = null
    var i = 0
    while (i < r.getAttributeCount) {
      r.getAttributeLocalName(i) match {
        case "id" =>
          rawId = r.getAttributeValue(i)
          id = long(rawId.trim, "id")
        case "status" => status = r.getAttributeValue(i).trim
        case a => unknown("_" + a) // main.rs:496-500
      }
      i += 1
    }
    var title: String = null
    var artists: Row = null
    var genres: Row = null
    var styles: Row = null
    var labels: Row = null
    var master: Row = null
    while (r.nextTag() == START_ELEMENT) {
      r.getLocalName match {
        case "title" => title = leaf(r, "title")
        case "artists" => artists = Row(list(r, "artists", "artist")(artist))
        case "genres" => genres = Row(list(r, "genres", "genre")(leaf(_, "genres.genre")))
        case "styles" => styles = Row(list(r, "styles", "style")(leaf(_, "styles.style")))
        case "labels" => labels = Row(list(r, "labels", "label")(label))
        case "master_id" => master = masterId(r)
        case n if skipped(n) => skip(r) // main.rs:758-917
        case n => unknown(n) // main.rs:549-554
      }
    }
    Row(id, status, title, artists, genres, styles, labels, master)
  }

  /** `<artist>`: four text children; `role`/`tracks` read and
    * discarded (`main.rs:742-749`); anything else fails (`750-753`).
    */
  private def artist(r: XMLStreamReader): Row = {
    noAttributes(r, "artists.artist")
    var id, name, anv, join: String = null
    while (r.nextTag() == START_ELEMENT) {
      r.getLocalName match {
        case "id" => id = leaf(r, "artists.artist.id")
        case "name" => name = leaf(r, "artists.artist.name")
        case "anv" => anv = leaf(r, "artists.artist.anv")
        case "join" => join = leaf(r, "artists.artist.join")
        case "role" | "tracks" => skip(r)
        case n => unknown("artists.artist." + n)
      }
    }
    Row(id, name, anv, join)
  }

  /** `<label>`: attributes only; unknown attributes are ignored, as
    * the reference does (`main.rs:662`).
    */
  private def label(r: XMLStreamReader): Row = {
    var id, catno, name: String = null
    var i = 0
    while (i < r.getAttributeCount) {
      r.getAttributeLocalName(i) match {
        case "id" => id = r.getAttributeValue(i).trim
        case "catno" => catno = r.getAttributeValue(i).trim
        case "name" => name = r.getAttributeValue(i).trim
        case _ =>
      }
      i += 1
    }
    if (r.nextTag() == START_ELEMENT) unknown("labels.label." + r.getLocalName)
    Row(id, catno, name)
  }

  /** `<master_id is_main_release="…">N</master_id>` (`main.rs:815-851`);
    * an empty element reads as a null id.
    */
  private def masterId(r: XMLStreamReader): Row = {
    var isMain: java.lang.Boolean = null
    var i = 0
    while (i < r.getAttributeCount) {
      r.getAttributeLocalName(i) match {
        case "is_main_release" =>
          isMain = r.getAttributeValue(i).trim.toLowerCase match {
            case "true" => true
            case "false" => false
            case v => fail(s"is_main_release is not a boolean: '$v'")
          }
        case a => unknown("master_id._" + a) // main.rs:826-836
      }
      i += 1
    }
    val v = text(r, "master_id")
    Row(if (v.isEmpty) null else long(v, "master_id"), isMain)
  }

  /** The items of a list container, each of which must be `item`. */
  private def list[T](r: XMLStreamReader, path: String, item: String)(
      one: XMLStreamReader => T): ArrayBuffer[T] = {
    noAttributes(r, path)
    val out = ArrayBuffer.empty[T]
    while (r.nextTag() == START_ELEMENT) {
      if (r.getLocalName != item) unknown(path + "." + r.getLocalName)
      out += one(r)
    }
    out
  }

  /** A text-only element without attributes. */
  private def leaf(r: XMLStreamReader, path: String): String = {
    noAttributes(r, path)
    text(r, path)
  }

  /** The trimmed text up to the current element's end tag; comments
    * are dropped, a child element fails.
    */
  private def text(r: XMLStreamReader, path: String): String = {
    var s: String = null
    var ev = r.next()
    while (ev != END_ELEMENT) {
      ev match {
        case CHARACTERS | CDATA | SPACE =>
          s = if (s == null) r.getText else s + r.getText
        case START_ELEMENT => unknown(path + "." + r.getLocalName)
        case _ =>
      }
      ev = r.next()
    }
    if (s == null) "" else s.trim
  }

  private def noAttributes(r: XMLStreamReader, path: String): Unit =
    if (r.getAttributeCount > 0) unknown(path + "._" + r.getAttributeLocalName(0))

  private def long(v: String, what: String): java.lang.Long =
    try java.lang.Long.valueOf(v)
    catch { case _: NumberFormatException => fail(s"$what is not a number: '$v'") }

  private def unknown(path: String): Nothing =
    fail(s"unknown release content (reference would panic): $path")

  private def fail(msg: String): Nothing = {
    val id = if (rawId != null) s" id=$rawId" else ""
    throw new IllegalArgumentException(s"Malformed release$id (line $line): $msg")
  }
}

private[etl] object ReleaseParser {

  /** The eleven release-level subtrees the reference reads and
    * discards (`main.rs:758-917`; listed in [[ReleaseSchema.xmlSchema]]).
    */
  private val skipped: Set[String] = Set(
    "images", "extraartists", "formats", "country", "data_quality",
    "tracklist", "videos", "released", "companies", "notes",
    "identifiers")

  /** One JDK factory per JVM: names matched as written (no namespace
    * processing), coalesced text, no DTDs, no external entities — a
    * `<!DOCTYPE>` can never pull in a file or URL.
    */
  private lazy val factory: XMLInputFactory = {
    val f = XMLInputFactory.newDefaultFactory()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** Document frame lines of a one-release-per-line dump (`trimmed`):
    * blank, the XML declaration and the `<releases>` root tags.
    */
  private[etl] def isFrameLine(trimmed: String): Boolean =
    trimmed.isEmpty || trimmed == "<releases>" || trimmed == "</releases>" ||
      trimmed.startsWith("<?xml")

  /** `<releases>`, the lines (frame lines emptied) joined by newlines,
    * `</releases>`, as one character stream; no line is copied. A line
    * that is neither a frame nor a `<release …>` line is kept in
    * `badLine` and ends the stream early, which the StAX reader reports
    * as an unexpected end of input.
    */
  private final class LinesReader(lines: Iterator[String]) extends Reader {
    var lineNo = 0
    var badLine: String = null
    private var cur = "<releases>"
    private var pos = 0
    private var newline = false
    private var ended = false

    override def read(buf: Array[Char], off: Int, len: Int): Int = {
      while (pos == cur.length) {
        if (ended) return -1
        pos = 0
        if (newline) { cur = "\n"; newline = false }
        else if (lines.hasNext) {
          val l = lines.next()
          val t = l.trim
          lineNo += 1
          newline = true
          cur = if (t.startsWith("<release ")) l else if (isFrameLine(t)) "" else {
            badLine = t; ended = true; ""
          }
        } else { cur = "</releases>"; ended = true }
      }
      val n = math.min(len, cur.length - pos)
      cur.getChars(pos, pos + n, buf, off)
      pos += n
      n
    }

    override def close(): Unit = ()
  }

  /** Skip the current element's whole subtree. */
  private def skip(r: XMLStreamReader): Unit = {
    var depth = 1
    while (depth > 0) {
      r.next() match {
        case START_ELEMENT => depth += 1
        case END_ELEMENT => depth -= 1
        case _ =>
      }
    }
  }
}
