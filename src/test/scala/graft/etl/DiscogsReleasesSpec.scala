package graft.etl

import java.io.{File, FileOutputStream}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Conformance tests pinning the reference's observable semantics
  * (SURVEY.md §5 items 1–2): null rules, renames, empty-list
  * defaults, skip-subtrees, entity unescaping, gzip input, parquet
  * round-trip.
  */
class DiscogsReleasesSpec extends SparkSpec {

  private lazy val tmpDir = tempDir("discogs-spec").toFile

  /** Gzip the checked-in fixture into a temp .xml.gz (exercises the
    * reference's S1 gzip source path).
    */
  private lazy val gzPath: String = {
    val src = getClass.getResourceAsStream("/releases_fixture.xml")
    val dst = new File(tmpDir, "releases.xml.gz")
    val out = new GZIPOutputStream(new FileOutputStream(dst))
    try out.write(src.readAllBytes())
    finally { out.close(); src.close() }
    dst.getAbsolutePath
  }

  private lazy val result = {
    val outDir = new File(tmpDir, "out").getAbsolutePath
    DiscogsReleases.run(spark, gzPath, outDir)
    spark.read.parquet(outDir)
  }

  private lazy val byId: Map[Int, Row] =
    result.collect().map(r => r.getInt(0) -> r).toMap

  /** The footer of the fixture conversion's part file. */
  private def footer: org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    byId // force the conversion
    val part = new File(tmpDir, "out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(part.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  test("all releases parsed from gzipped XML") {
    assert(byId.keySet == Set(1, 2, 3, 4, 5))
  }

  test("self-closed containers and unicode/entity text") {
    // <labels/> (self-closed, main.rs:518-520 empty-tag skip) ⇒ empty list
    assert(byId(2).getAs[scala.collection.Seq[Row]]("labels") == Seq.empty)
    val r5 = byId(5)
    assert(r5.getAs[String]("title") == "日本 <3 æøå >&<")
    assert(r5.getAs[scala.collection.Seq[Row]]("artists") == Seq.empty)
    assert(r5.getAs[scala.collection.Seq[String]]("genres").toSeq ==
      Seq("Électronique"))
    assert(r5.getAs[scala.collection.Seq[String]]("styles") == Seq.empty)
  }

  test("FIXTURES A.1 canonical release: every populated column + all skip-subtrees") {
    val r = byId(4)
    assert(r.getAs[String]("status") == "Accepted")
    assert(r.getAs[String]("title") == "Stockholm")
    val a = r.getAs[scala.collection.Seq[Row]]("artists")
    assert(a.map(x => (x.getAs[String]("id"), x.getAs[String]("name"),
      x.getAs[String]("anv"), x.getAs[String]("join"))) ==
      Seq(("1", "Persuader", "P.", "&")))
    assert(r.getAs[scala.collection.Seq[String]]("genres").toSeq ==
      Seq("Electronic"))
    assert(r.getAs[scala.collection.Seq[String]]("styles").toSeq ==
      Seq("Deep House"))
    val l = r.getAs[scala.collection.Seq[Row]]("labels")
    assert(l.map(x => (x.getAs[String]("id"), x.getAs[String]("cat_no"),
      x.getAs[String]("name"))) == Seq(("5", "SK032", "Svek")))
    assert(r.getAs[Boolean]("is_main_release") == true)
    assert(r.getAs[Int]("master_id") == 575)
  }

  test("output schema matches the reference's column order and names") {
    assert(result.columns.toSeq == Seq("id", "status", "title", "artists",
      "genres", "styles", "labels", "is_main_release", "master_id"))
  }

  test("attribute projection: id cast to int, status preserved") {
    assert(byId(1).getAs[String]("status") == "Accepted")
    assert(byId(2).getAs[String]("status") == "Draft")
    assert(byId(3).getAs[String]("status") == "Deleted")
  }

  test("entity unescaping in title and genres (&amp; -> &)") {
    assert(byId(1).getAs[String]("title") == "First & Best")
    assert(byId(1).getAs[scala.collection.Seq[String]]("genres") .toSeq == Seq("Rock & Roll", "Pop"))
  }

  test("anv/join: null when element empty, text otherwise (main.rs:718-741)") {
    val a1 = byId(1).getAs[scala.collection.Seq[Row]]("artists")
    assert(a1.size == 1)
    assert(a1.head.getAs[String]("anv") == null) // <anv></anv> ⇒ null
    assert(a1.head.getAs[String]("join") == "feat.")

    val a2 = byId(2).getAs[scala.collection.Seq[Row]]("artists")
    assert(a2.map(_.getAs[String]("name")) == Seq("Beta", "Gamma"))
    assert(a2(0).getAs[String]("anv") == "B")
    assert(a2(0).getAs[String]("join") == null)
    assert(a2(1).getAs[String]("anv") == null)
    assert(a2(1).getAs[String]("join") == "&") // entity in join text
  }

  test("labels: catno attr renamed to cat_no (main.rs:649-653)") {
    val l1 = byId(1).getAs[scala.collection.Seq[Row]]("labels")
    assert(l1.map(r => (r.getAs[String]("id"), r.getAs[String]("cat_no"),
      r.getAs[String]("name"))) == Seq(("5", "C-001", "LabelOne")))
    val l3 = byId(3).getAs[scala.collection.Seq[Row]]("labels")
    assert(l3.map(_.getAs[String]("cat_no")) == Seq("C-002", "C-003"))
  }

  test("master_id/is_main_release null iff element absent (main.rs:557-560)") {
    assert(byId(1).getAs[Boolean]("is_main_release") == true)
    assert(byId(1).getAs[Int]("master_id") == 99)
    assert(byId(2).isNullAt(byId(2).fieldIndex("is_main_release")))
    assert(byId(2).isNullAt(byId(2).fieldIndex("master_id")))
    assert(byId(3).getAs[Boolean]("is_main_release") == false)
    assert(byId(3).getAs[Int]("master_id") == 100)
  }

  test("absent/empty list containers become empty lists, not nulls") {
    assert(byId(3).getAs[scala.collection.Seq[Row]]("artists") == Seq.empty)
    assert(byId(3).getAs[scala.collection.Seq[String]]("genres") == Seq.empty)
    assert(byId(2).getAs[scala.collection.Seq[String]]("styles") == Seq.empty)
    assert(byId(2).getAs[scala.collection.Seq[Row]]("labels") == Seq.empty)
  }

  test("skip-subtrees (images/country/notes/tracklist) never materialize") {
    // They are absent from the schema — and their presence in the
    // fixture must not break FAILFAST parsing.
    assert(!result.columns.contains("images"))
    assert(!result.columns.contains("country"))
  }

  test("validate passes on conforming data") {
    DiscogsReleases.validate(result)
  }

  test("status column is dictionary-encoded in the parquet footer (S16)") {
    // The reference pre-seeds an Int8 status dictionary
    // (main.rs:228-238); Spark's parquet writer dictionary-encodes
    // low-cardinality string columns automatically — assert it
    // actually did, from the file footer.
    import scala.jdk.CollectionConverters._
    val statusEncodings = footer.getBlocks.asScala
      .flatMap(_.getColumns.asScala)
      .filter(_.getPath.toDotString == "status")
      .flatMap(_.getEncodings.asScala)
      .toSet
    assert(statusEncodings.exists(e =>
      e == org.apache.parquet.column.Encoding.RLE_DICTIONARY ||
        e == org.apache.parquet.column.Encoding.PLAIN_DICTIONARY),
      s"status encodings: $statusEncodings")
  }

  test("footer schema is the reference's, nullability included (main.rs:185-217)") {
    import org.apache.parquet.schema.Type.Repetition.{OPTIONAL, REQUIRED}
    val meta = footer.getFileMetaData
    assert(org.apache.spark.sql.types.DataType.fromJson(
      meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")) ==
      ReleaseSchema.outputSchema)
    val schema = meta.getSchema
    def repetition(path: String*) = schema.getType(path: _*).getRepetition
    val artist = Seq("artists", "list", "element")
    Seq(Seq("id"), Seq("status"), Seq("title"), Seq("artists"), Seq("genres"),
      Seq("styles"), Seq("labels"), artist :+ "id", artist :+ "name")
      .foreach(p => assert(repetition(p: _*) == REQUIRED, s"$p in $schema"))
    Seq(artist :+ "anv", artist :+ "join", Seq("is_main_release"), Seq("master_id"))
      .foreach(p => assert(repetition(p: _*) == OPTIONAL, s"$p in $schema"))
  }

  test("rechunk splits one gz dump into parallel-ingestable chunks, conversion unchanged") {
    val chunksDir = new File(tmpDir, "chunks").getAbsolutePath
    DiscogsReleases.rechunk(spark, gzPath, chunksDir, n = 3)
    val chunkFiles = new File(chunksDir).listFiles()
      .filter(_.getName.endsWith(".txt.gz"))
    assert(chunkFiles.length == 3, chunkFiles.map(_.getName).mkString(", "))
    // Converting the chunk DIRECTORY (3 tasks instead of 1) yields the
    // same releases as converting the original single dump.
    val outDir = new File(tmpDir, "out_chunks").getAbsolutePath
    DiscogsReleases.run(spark, chunksDir, outDir)
    val rows = spark.read.parquet(outDir)
    assert(rows.count() == 5)
    assert(rows.select("id").collect().map(_.getInt(0)).toSet == Set(1, 2, 3, 4, 5))
    DiscogsReleases.validate(rows)
  }

  test("singleFile output is ONE parquet file at the requested path (S17, main.rs:223-226)") {
    val outFile = new File(tmpDir, "releases_single.parquet")
    DiscogsReleases.run(spark, gzPath, outFile.getAbsolutePath, singleFile = true)
    assert(outFile.isFile, s"$outFile should be a plain file, not a directory")
    assert(!new File(tmpDir, "releases_single.parquet._graft_tmp").exists(),
      "scratch dir should be cleaned up")
    assert(spark.read.parquet(outFile.getAbsolutePath).count() == 5)
  }

  test("text edge cases and singleFile row order are pinned") {
    // Surrounding whitespace in text and attributes is trimmed; an
    // empty <genre> stays an empty string in the list; an empty
    // <title> is an empty string, not null.
    val edge = new File(tmpDir, "edge.xml")
    Files.writeString(edge.toPath,
      """<releases>
        |<release id="21" status="Accepted"><title> x </title><artists><artist><id> 7 </id><name> N </name><anv> </anv><join></join></artist></artists><genres><genre></genre><genre> g </genre></genres><styles></styles><labels><label id=" 5 " catno=" C 1 " name=""/></labels></release>
        |<release id="22" status="Draft"><title></title><artists></artists><genres></genres><styles></styles><labels></labels></release>
        |</releases>""".stripMargin)
    val rows = DiscogsReleases.transformReleases(
      DiscogsReleases.read(spark, edge.getAbsolutePath))
      .collect().map(r => r.getInt(0) -> r).toMap
    val r21 = rows(21)
    assert(r21.getAs[String]("title") == "x")
    val a = r21.getAs[scala.collection.Seq[Row]]("artists")
    assert(a.map(x => (x.getAs[String]("id"), x.getAs[String]("name"),
      x.getAs[String]("anv"), x.getAs[String]("join"))) ==
      Seq(("7", "N", null, null)))
    assert(r21.getAs[scala.collection.Seq[String]]("genres").toSeq == Seq("", "g"))
    val l = r21.getAs[scala.collection.Seq[Row]]("labels")
    assert(l.map(x => (x.getAs[String]("id"), x.getAs[String]("cat_no"),
      x.getAs[String]("name"))) == Seq(("5", "C 1", "")))
    assert(rows(22).getAs[String]("title") == "")
    assert(rows(22).getAs[scala.collection.Seq[String]]("genres").isEmpty)

    // singleFile output keeps the fixture's file order.
    val outFile = new File(tmpDir, "releases_order.parquet")
    DiscogsReleases.run(spark, gzPath, outFile.getAbsolutePath, singleFile = true)
    assert(spark.read.parquet(outFile.getAbsolutePath).select("id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 5, 3, 4))
  }

  test("rechunk fails loudly on a dump violating one-release-per-line") {
    val badGz = new File(tmpDir, "bad.xml.gz")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(badGz))
    // a release element SPLIT across lines — text-level chunking would
    // silently drop both fragments; the reference's grammar panics.
    out.write(
      "<releases>\n<release id=\"9\" status=\"Accepted\">\n<title>x</title></release>\n</releases>\n"
        .getBytes("UTF-8"))
    out.close()
    val ex = intercept[IllegalStateException] {
      DiscogsReleases.rechunk(spark, badGz.getAbsolutePath,
        new File(tmpDir, "bad_chunks").getAbsolutePath, n = 2)
    }
    assert(ex.getMessage.contains("one-release-per-line"))
  }

  test("converted parquet is immediately queryable through the engine") {
    result.createOrReplaceTempView("releases")
    val counts = spark.sql(
      """SELECT status, COUNT(*) AS n,
           SUM(size(artists)) AS n_artists,
           SUM(CASE WHEN master_id IS NULL THEN 1 ELSE 0 END) AS n_no_master
         FROM releases GROUP BY status ORDER BY status""")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(counts("Accepted") == ((3L, 2L, 1L))) // ids 1, 4, 5
    assert(counts("Draft") == ((1L, 2L, 1L)))
    assert(counts("Deleted") == ((1L, 0L, 0L)))
  }

  test("strict mode detects unknown content (main.rs:496-500, 549-554)") {
    // The conforming fixture passes…
    DiscogsReleases.validateNoUnknownContent(spark, gzPath)
    // …and a release with an undeclared element or attribute fails.
    val bad = new File(tmpDir, "unknown.xml")
    Files.writeString(bad.toPath,
      """<releases>
        |<release id="8" status="Accepted" foo="x"><title>T</title><artists></artists><genres></genres><styles></styles><labels></labels><bogus>?</bogus></release>
        |</releases>""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      DiscogsReleases.validateNoUnknownContent(spark, bad.getAbsolutePath)
    }
    assert(e.getMessage.contains("bogus") || e.getMessage.contains("_foo"),
      e.getMessage)
  }

  test("strict mode detects NESTED unknown content (main.rs:750-753, 826-836)") {
    // Unknown <artist> child — the reference panics (main.rs:750-753);
    // role/tracks stay read-and-discarded (main.rs:742-749).
    val badArtist = new File(tmpDir, "unknown_artist_child.xml")
    Files.writeString(badArtist.toPath,
      """<releases>
        |<release id="8" status="Accepted"><title>T</title><artists><artist><id>1</id><name>N</name><role></role><bogus>?</bogus></artist></artists><genres></genres><styles></styles><labels></labels></release>
        |</releases>""".stripMargin)
    val e1 = intercept[IllegalArgumentException] {
      DiscogsReleases.validateNoUnknownContent(spark, badArtist.getAbsolutePath)
    }
    assert(e1.getMessage.contains("artists.artist.bogus"), e1.getMessage)

    // Unknown master_id attribute — the reference's attribute loop has
    // no other arm (main.rs:826-836).
    val badMaster = new File(tmpDir, "unknown_master_attr.xml")
    Files.writeString(badMaster.toPath,
      """<releases>
        |<release id="9" status="Accepted"><title>T</title><artists></artists><genres></genres><styles></styles><labels></labels><master_id is_main_release="true" weird="1">7</master_id></release>
        |</releases>""".stripMargin)
    val e2 = intercept[IllegalArgumentException] {
      DiscogsReleases.validateNoUnknownContent(spark, badMaster.getAbsolutePath)
    }
    assert(e2.getMessage.contains("master_id._weird"), e2.getMessage)

    // Unknown LABEL attribute is the one place the reference is
    // lenient (main.rs:662: ignored) — strict mode must accept it.
    val okLabel = new File(tmpDir, "unknown_label_attr.xml")
    Files.writeString(okLabel.toPath,
      """<releases>
        |<release id="10" status="Accepted"><title>T</title><artists></artists><genres></genres><styles></styles><labels><label id="5" catno="C" name="L" extra="x"/></labels></release>
        |</releases>""".stripMargin)
    DiscogsReleases.validateNoUnknownContent(spark, okLabel.getAbsolutePath)
  }

  test("malformed content fails loudly (FAILFAST ≈ the reference's panics)") {
    // is_main_release="maybe" — the reference panics (main.rs:826-836);
    // our declared BooleanType + FAILFAST raises instead of nulling.
    val bad = new File(tmpDir, "bad.xml")
    Files.writeString(bad.toPath,
      """<releases>
        |<release id="9" status="Accepted"><title>T</title><artists></artists><genres></genres><styles></styles><labels></labels><master_id is_main_release="maybe">7</master_id></release>
        |</releases>""".stripMargin)
    val e = intercept[Exception] {
      DiscogsReleases.transformReleases(
        DiscogsReleases.read(spark, bad.getAbsolutePath)).collect()
    }
    assert(e.getMessage.contains("Malformed") ||
      e.toString.contains("FAILFAST") ||
      Option(e.getCause).exists(_.toString.contains("Malformed")),
      e.toString)
  }
}
