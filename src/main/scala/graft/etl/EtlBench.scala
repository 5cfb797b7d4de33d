package graft.etl

import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

/** Dev benchmark for the XML→Parquet pipeline: generates a synthetic
  * releases dump (deterministic, reference-shaped) and times the job.
  *
  * Usage: runMain graft.etl.EtlBench [nReleases]
  *
  * The reference is single-threaded by design (SURVEY §6); a single
  * `.xml.gz` is likewise one non-splittable Spark task, but that task
  * hands its parse to the JVM's shared parse pool, so the
  * single-stream bound this measures is the task thread's scan and
  * write while the pool keeps up. Multiple input files parallelize
  * trivially (one task each) and share the pool. Exits non-zero when a
  * conversion's row count differs from the releases generated.
  */
object EtlBench {

  private def genXml(path: String, n: Int): Unit = {
    val out = new OutputStreamWriter(
      new GZIPOutputStream(
        new BufferedOutputStream(new FileOutputStream(path), 1 << 20)),
      StandardCharsets.UTF_8)
    out.write("<releases>\n")
    var i = 0
    while (i < n) {
      val status = Seq("Accepted", "Draft", "Deleted")(i % 3)
      out.write(
        s"""<release id="${i + 1}" status="$status"><title>Title &amp; $i</title>""" +
          s"<artists><artist><id>${i % 9999}</id><name>Artist $i</name>" +
          s"<anv>${if (i % 3 == 0) "" else s"A$i"}</anv><join></join>" +
          "<role></role><tracks></tracks></artist></artists>" +
          s"<genres><genre>Rock &amp; Roll</genre><genre>G${i % 15}</genre></genres>" +
          s"<styles><style>S${i % 40}</style></styles>" +
          s"""<labels><label id="${i % 777}" catno="C-$i" name="Label ${i % 50}"/></labels>""" +
          (if (i % 4 != 0)
            s"""<master_id is_main_release="${i % 2 == 0}">${i % 100000}</master_id>"""
          else "") +
          s"<images><image/></images><country>UK</country>" +
          s"<notes>skip $i</notes></release>\n")
      i += 1
    }
    out.write("</releases>\n")
    out.close()
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val tmp = graft.ops.SourceSinks.tmp("etlbench")
    val xml = s"$tmp/releases.xml.gz"
    val t0 = System.nanoTime()
    genXml(xml, n)
    val tGen = (System.nanoTime() - t0) / 1e9

    val spark = graft.GraftSession.builder().getOrCreate()
    // warm codegen/JIT on a small prefix
    DiscogsReleases.run(spark, xml, s"$tmp/warm")

    val t1 = System.nanoTime()
    DiscogsReleases.run(spark, xml, s"$tmp/out")
    val tRun = (System.nanoTime() - t1) / 1e9
    val rows = spark.read.parquet(s"$tmp/out").count()

    // Scale path: the same total volume split into 8 dump files — one
    // task per .gz, no other change (this is how 100 TB arrives).
    val multiDir = Files.createDirectory(tmp.toPath.resolve("multi")).toFile
    (0 until 8).foreach(i => genXml(s"$multiDir/part$i.xml.gz", n / 8))
    val t2 = System.nanoTime()
    DiscogsReleases.run(spark, s"$multiDir/*.xml.gz", s"$tmp/out8")
    val tRun8 = (System.nanoTime() - t2) / 1e9
    val rows8 = spark.read.parquet(s"$tmp/out8").count()

    // Re-chunk path: ONE non-splittable dump → rechunk (sequential
    // text split, no XML parse) → N-way parallel conversion. The sum
    // should beat the single-stream conversion whenever the corpus is
    // converted (or re-read) more than ~once.
    val t3 = System.nanoTime()
    DiscogsReleases.rechunk(spark, xml, s"$tmp/chunks", n = 16)
    val tChunk = (System.nanoTime() - t3) / 1e9
    val t4 = System.nanoTime()
    DiscogsReleases.run(spark, s"$tmp/chunks", s"$tmp/outc")
    val tRunC = (System.nanoTime() - t4) / 1e9
    val rowsC = spark.read.parquet(s"$tmp/outc").count()

    val rowsWrong = Seq("rows" -> (rows, n.toLong), "rows8" -> (rows8, 8L * (n / 8)), "rows_chunked" -> (rowsC, n.toLong))
      .collect { case (name, (got, want)) if got != want => s"$name=$got, expected $want" }
    println(f"""{"etl_releases":$n,"gen_sec":$tGen%.2f,"run_sec":$tRun%.2f,"releases_per_sec":${n / tRun}%.0f,"rows":$rows,"run8_sec":$tRun8%.2f,"releases_per_sec_8files":${n / tRun8}%.0f,"rows8":$rows8,"rechunk_sec":$tChunk%.2f,"run_chunked_sec":$tRunC%.2f,"releases_per_sec_chunked":${n / tRunC}%.0f,"rows_chunked":$rowsC}""")
    spark.stop()
    // A lossy conversion must not pass as a throughput figure.
    if (rowsWrong.nonEmpty) {
      System.err.println("EtlBench: wrong row counts: " + rowsWrong.mkString("; "))
      sys.exit(1)
    }
  }
}
