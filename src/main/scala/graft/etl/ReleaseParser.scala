package graft.etl

import java.io.InputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Arrays
import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}
import javax.xml.stream.XMLStreamConstants._

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass pull parser for the release lines of a Discogs dump — the
  * reference's design (`main.rs:73-77`, `506-565`, `742-917`) on the
  * JDK's StAX reader: dispatch on tag name, fill one row of
  * [[ReleaseSchema.outputSchema]] per release, skip `role`/`tracks`
  * and the release-level skip-subtrees without building anything from
  * them, and fail on anything the reference's grammar does not know.
  *
  * `lines` are the UTF-8 bytes of consecutive lines of a partition of
  * a one-release-per-line dump, the first of them the partition's line
  * `firstLine`: frame lines ([[ReleaseParser.isFrameLine]]) and lines
  * that each hold one `<release …>…</release>`. One StAX reader streams
  * the release lines, wrapped in a synthetic root, with frame lines
  * left empty, and every line number it reports is counted from
  * `firstLine`, so messages name the partition's line: a release must
  * start and end on its own line. Any other line ends the stream there
  * and fails, named by its number. An invalid UTF-8 sequence fails the
  * release that holds it.
  *
  * Every failure is an `IllegalArgumentException` whose message starts
  * `Malformed release id=<id>` once the id attribute has been read
  * (`Malformed release (line <n>)` before that). Unknown content is
  * named by its path, attributes with a `_` prefix:
  * `artists.artist.bogus`, `master_id._weird`.
  *
  * The rows go straight to the Parquet writer, which trusts the
  * schema's nullability, so every rule of the output is enforced here
  * (`main.rs:185-217`, `391-403`, `718-741`): a release without `id`,
  * `status` or `<title>`, an artist without `<id>` or `<name>`, and an
  * `id` or `master_id` outside `0..Int.MaxValue` (the reference's
  * `u32` in an `Int` column) fail. Text and attribute values are
  * trimmed; an empty `<anv>`/`<join>` is null, any other empty element
  * is ""; an absent list container is an empty list; `master_id` and
  * `is_main_release` are null when `<master_id>` is absent.
  */
private[etl] final class ReleaseParser(lines: Iterator[Array[Byte]], firstLine: Int)
    extends Iterator[InternalRow] {
  import ReleaseParser._

  /** From the reader's rows to the partition's lines: row 1 holds only
    * the synthetic root, so line `firstLine` is row 2 and every column
    * is the line's own.
    */
  private val skew = firstLine - 2
  private val in = new LinesStream(lines)
  private val r = factory.createXMLStreamReader(in, "UTF-8")

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

  def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    ready = false
    guard {
      val row = release(r)
      if (r.getLocation.getLineNumber != line)
        fail(s"release ends on line ${r.getLocation.getLineNumber + skew}")
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
          fail(s"line ${in.lineNo + skew} is not a <release> line: ${in.badLine.take(120)}")
        fail(located(e.getMessage))
    }

  /** A StAX message with its row counted from `firstLine`. */
  private def located(msg: String): String =
    ParseErrorRow.findPrefixMatchOf(msg).fold(msg)(m =>
      s"ParseError at [row,col]:[${m.group(1).toInt + skew}," + m.after)

  private def release(r: XMLStreamReader): InternalRow = {
    var id = -1
    var status: UTF8String = null
    var i = 0
    while (i < r.getAttributeCount) {
      r.getAttributeLocalName(i) match {
        case "id" =>
          rawId = r.getAttributeValue(i)
          id = u32(rawId.trim, "id")
        case "status" => status = attr(r, i)
        case a => unknown("_" + a) // main.rs:496-500
      }
      i += 1
    }
    var title: UTF8String = null
    var artists, genres, styles, labels: ArrayData = emptyList
    var isMain, master: Any = null
    while (r.nextTag() == START_ELEMENT) {
      r.getLocalName match {
        case "title" => title = utf8(leaf(r, "title"))
        case "artists" => artists = list(r, "artists", "artist")(artist)
        case "genres" => genres = list(r, "genres", "genre")(r => utf8(leaf(r, "genres.genre")))
        case "styles" => styles = list(r, "styles", "style")(r => utf8(leaf(r, "styles.style")))
        case "labels" => labels = list(r, "labels", "label")(label)
        case "master_id" =>
          isMain = isMainRelease(r)
          master = masterId(r)
        case n if skipped(n) => skip(r) // main.rs:758-917
        case n => unknown(n) // main.rs:549-554
      }
    }
    if (rawId == null) missing("_id")
    if (status == null) missing("_status")
    if (title == null) missing("title")
    new GenericInternalRow(
      Array[Any](id, status, title, artists, genres, styles, labels, isMain, master))
  }

  /** `<artist>`: four text children, `id`/`name` required and an empty
    * `anv`/`join` null (`main.rs:718-741`); `role`/`tracks` read and
    * discarded (`main.rs:742-749`); anything else fails (`750-753`).
    */
  private def artist(r: XMLStreamReader): InternalRow = {
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
    if (id == null) missing("artists.artist.id")
    if (name == null) missing("artists.artist.name")
    new GenericInternalRow(
      Array[Any](utf8(id), utf8(name), nullIfEmpty(anv), nullIfEmpty(join)))
  }

  /** `<label>`: attributes only; unknown attributes are ignored, as
    * the reference does (`main.rs:662`).
    */
  private def label(r: XMLStreamReader): InternalRow = {
    var id, catno, name: UTF8String = null
    var i = 0
    while (i < r.getAttributeCount) {
      r.getAttributeLocalName(i) match {
        case "id" => id = attr(r, i)
        case "catno" => catno = attr(r, i)
        case "name" => name = attr(r, i)
        case _ =>
      }
      i += 1
    }
    if (r.nextTag() == START_ELEMENT) unknown("labels.label." + r.getLocalName)
    new GenericInternalRow(Array[Any](id, catno, name))
  }

  /** The `is_main_release` attribute of
    * `<master_id is_main_release="…">N</master_id>` (`main.rs:815-851`),
    * null when absent; any other attribute fails.
    */
  private def isMainRelease(r: XMLStreamReader): Any = {
    var isMain: Any = null
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
    isMain
  }

  /** The `<master_id>` text; an empty element reads as a null id. */
  private def masterId(r: XMLStreamReader): Any = {
    val v = text(r, "master_id")
    if (v.isEmpty) null else u32(v, "master_id")
  }

  /** The items of a list container, each of which must be `item`. */
  private def list(r: XMLStreamReader, path: String, item: String)(
      one: XMLStreamReader => Any): ArrayData = {
    noAttributes(r, path)
    val out = ArrayBuffer.empty[Any]
    while (r.nextTag() == START_ELEMENT) {
      if (r.getLocalName != item) unknown(path + "." + r.getLocalName)
      out += one(r)
    }
    new GenericArrayData(out.toArray)
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

  private def attr(r: XMLStreamReader, i: Int): UTF8String =
    utf8(r.getAttributeValue(i).trim)

  /** A `u32` (the reference's type, SURVEY S5/S14) that fits the `Int`
    * column.
    */
  private def u32(v: String, what: String): Int = {
    val n = try java.lang.Long.parseLong(v)
    catch { case _: NumberFormatException => fail(s"$what is not a number: '$v'") }
    if (n < 0 || n > Int.MaxValue) fail(s"$what is outside 0..${Int.MaxValue}: '$v'")
    n.toInt
  }

  /** A non-null field of [[ReleaseSchema.outputSchema]] the release
    * does not fill.
    */
  private def missing(path: String): Nothing =
    fail(s"missing required release content: $path")

  private def unknown(path: String): Nothing =
    fail(s"unknown release content (reference would panic): $path")

  private def fail(msg: String): Nothing = {
    val id = if (rawId != null) s" id=$rawId" else ""
    throw new IllegalArgumentException(s"Malformed release$id (line ${line + skew}): $msg")
  }
}

private[etl] object ReleaseParser {

  /** The eleven release-level subtrees the reference reads and
    * discards. All eleven are the reference's own, none is an extra of
    * real dumps: its release dispatch knows 17 children
    * (`main.rs:506-565`), these eleven plus the six fields of
    * [[ReleaseSchema.outputSchema]], and it has one discarding parser
    * for each (`main.rs` lines): images 758-769, extraartists 771-780,
    * formats 782-791, country 793-802, data_quality 804-813, tracklist
    * 853-862, videos 864-873, released 875-884, companies 886-895,
    * notes 897-906, identifiers 908-917.
    */
  private val skipped: Set[String] = Set(
    "images", "extraartists", "formats", "country", "data_quality",
    "tracklist", "videos", "released", "companies", "notes",
    "identifiers")

  private val emptyList: ArrayData = new GenericArrayData(Array.empty[Any])

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Null for an empty `<anv>`/`<join>` (`main.rs:718-741`). */
  private def nullIfEmpty(s: String): UTF8String =
    if (s == null || s.isEmpty) null else utf8(s)

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

  /** How the JDK's `XMLStreamException` message starts: its row. */
  private val ParseErrorRow = """ParseError at \[row,col\]:\[(\d+),""".r

  private val Open = "<releases>\n".getBytes(UTF_8)
  private val Close = "</releases>".getBytes(UTF_8)
  private val Newline = "\n".getBytes(UTF_8)
  private val NoBytes = Array.empty[Byte]
  private val ReleaseTag = "<release ".getBytes(UTF_8)

  /** Whether the line's first byte after leading blanks (those
    * `String.trim` drops) starts `<release `.
    */
  private def isReleaseLine(l: Array[Byte]): Boolean = {
    var i = 0
    while (i < l.length && (l(i) & 0xff) <= ' ') i += 1
    l.length - i >= ReleaseTag.length &&
      Arrays.equals(l, i, i + ReleaseTag.length, ReleaseTag, 0, ReleaseTag.length)
  }

  /** `<releases>` on a row of its own, the lines (frame lines emptied)
    * joined by newlines, `</releases>`, as one byte stream; `lineNo` is
    * the row of the last line read. No line is copied. A line that
    * is neither a frame nor a `<release …>` line is kept, decoded, in
    * `badLine` and ends the stream early, which the StAX reader reports
    * as an unexpected end of input.
    */
  private final class LinesStream(lines: Iterator[Array[Byte]]) extends InputStream {
    var lineNo = 1
    var badLine: String = null
    private var cur = Open
    private var pos = 0
    private var newline = false
    private var ended = false

    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      while (pos == cur.length) {
        if (ended) return -1
        pos = 0
        if (newline) { cur = Newline; newline = false }
        else if (lines.hasNext) {
          val l = lines.next()
          lineNo += 1
          newline = true
          cur = if (isReleaseLine(l)) l else {
            val t = new String(l, UTF_8).trim
            if (!isFrameLine(t)) { badLine = t; ended = true }
            NoBytes
          }
        } else { cur = Close; ended = true }
      }
      val n = math.min(len, cur.length - pos)
      System.arraycopy(cur, pos, buf, off, n)
      pos += n
      n
    }

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
    }
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
