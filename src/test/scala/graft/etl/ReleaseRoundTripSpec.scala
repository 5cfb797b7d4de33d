package graft.etl

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property-based round-trip (SURVEY.md §5 item 3): generate random
  * releases, serialize to the reference's XML shape, run the job, and
  * check field-level invariants against the generated model.
  * Deterministic via a fixed ScalaCheck seed.
  */
class ReleaseRoundTripSpec extends SparkSpec {

  case class GArtist(id: Int, name: String,
      anv: Option[String], join: Option[String])
  case class GRelease(id: Int, status: String, title: String,
      artists: List[GArtist], genres: List[String], styles: List[String],
      labels: List[(Int, String, String)], master: Option[(Boolean, Int)])

  private val word = Gen.alphaNumStr.suchThat(_.nonEmpty).map(_.take(8))
  private val textG = for {
    w1 <- word; amp <- Gen.oneOf(true, false); w2 <- word
  } yield if (amp) s"$w1 & $w2" else s"$w1 $w2"
  // Some(x) nonempty → text; None → element emitted empty (→ null)
  private val optText = Gen.option(word)

  private val artistG = for {
    id <- Gen.choose(1, 99999)
    name <- textG
    anv <- optText
    join <- optText
  } yield GArtist(id, name, anv, join)

  private val releaseG = for {
    status <- Gen.oneOf("Accepted", "Draft", "Deleted")
    title <- textG
    artists <- Gen.listOfN(3, artistG).map(_.take(3))
    nart <- Gen.choose(0, 3)
    genres <- Gen.listOf(textG).map(_.take(3))
    styles <- Gen.listOf(word).map(_.take(3))
    labels <- Gen.listOf(Gen.zip(Gen.choose(1, 999), word, textG))
      .map(_.take(2))
    master <- Gen.option(Gen.zip(Gen.oneOf(true, false), Gen.choose(1, 99999)))
  } yield GRelease(0, status, title, artists.take(nart), genres, styles,
    labels, master)

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def serialize(r: GRelease): String = {
    val sb = new StringBuilder
    sb ++= s"""<release id="${r.id}" status="${r.status}">"""
    sb ++= s"<title>${esc(r.title)}</title>"
    sb ++= "<artists>"
    r.artists.foreach { a =>
      sb ++= s"<artist><id>${a.id}</id><name>${esc(a.name)}</name>"
      sb ++= s"<anv>${a.anv.map(esc).getOrElse("")}</anv>"
      sb ++= s"<join>${a.join.map(esc).getOrElse("")}</join></artist>"
    }
    sb ++= "</artists>"
    sb ++= "<genres>" + r.genres.map(g => s"<genre>${esc(g)}</genre>").mkString + "</genres>"
    sb ++= "<styles>" + r.styles.map(g => s"<style>${esc(g)}</style>").mkString + "</styles>"
    sb ++= "<labels>" + r.labels.map { case (i, c, n) =>
      s"""<label id="$i" catno="${esc(c)}" name="${esc(n)}"/>"""
    }.mkString + "</labels>"
    r.master.foreach { case (main, mid) =>
      sb ++= s"""<master_id is_main_release="$main">$mid</master_id>"""
    }
    // skip-subtrees: must be pruned regardless of placement/content
    if (r.id % 2 == 0)
      sb ++= "<images><image/></images><country>XX</country>" +
        s"<notes>noise ${r.id}</notes><formats><format name=\"CD\"/></formats>"
    if (r.id % 3 == 0)
      sb ++= "<tracklist><track><position>1</position></track></tracklist>" +
        "<extraartists><artist><id>1</id><role>x</role></artist></extraartists>"
    sb ++= "</release>"
    sb.toString
  }

  test("generated releases round-trip with exact field semantics") {
    val n = 40
    val releases = (0 until n).map { i =>
      releaseG.pureApply(Gen.Parameters.default, Seed(42L + i)).copy(id = i + 1)
    }
    val xml = "<releases>\n" +
      releases.map(serialize).mkString("\n") + "\n</releases>\n"

    val tmp = tempDir("roundtrip").toFile
    val gz = new File(tmp, "gen.xml.gz")
    val out = new GZIPOutputStream(new FileOutputStream(gz))
    try out.write(xml.getBytes(StandardCharsets.UTF_8)) finally out.close()

    val outDir = new File(tmp, "out").getAbsolutePath
    DiscogsReleases.run(spark, gz.getAbsolutePath, outDir)
    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getInt(0) -> r).toMap

    assert(got.size == n)
    releases.foreach { r =>
      val row = got(r.id)
      assert(row.getAs[String]("status") == r.status, s"status ${r.id}")
      assert(row.getAs[String]("title") == r.title, s"title ${r.id}")
      val arts = row.getAs[scala.collection.Seq[Row]]("artists")
      assert(arts.size == r.artists.size, s"artist count ${r.id}")
      arts.zip(r.artists).foreach { case (a, g) =>
        assert(a.getAs[String]("id") == g.id.toString)
        assert(a.getAs[String]("name") == g.name)
        assert(Option(a.getAs[String]("anv")) == g.anv, s"anv ${r.id}")
        assert(Option(a.getAs[String]("join")) == g.join, s"join ${r.id}")
      }
      assert(row.getAs[scala.collection.Seq[String]]("genres").toList ==
        r.genres, s"genres ${r.id}")
      assert(row.getAs[scala.collection.Seq[String]]("styles").toList ==
        r.styles, s"styles ${r.id}")
      val labs = row.getAs[scala.collection.Seq[Row]]("labels")
      assert(labs.map(l => (l.getAs[String]("id"), l.getAs[String]("cat_no"),
        l.getAs[String]("name"))).toList ==
        r.labels.map { case (i, c, nm) => (i.toString, c, nm) },
        s"labels ${r.id}")
      r.master match {
        case Some((main, mid)) =>
          assert(row.getAs[Boolean]("is_main_release") == main)
          assert(row.getAs[Int]("master_id") == mid)
        case None =>
          assert(row.isNullAt(row.fieldIndex("is_main_release")))
          assert(row.isNullAt(row.fieldIndex("master_id")))
      }
    }
  }
}
