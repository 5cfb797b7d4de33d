package graft.etl

import org.apache.spark.SparkException
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._

/** Discogs `releases` XML (gzipped) → Snappy Parquet — the whole
  * reference program (`/root/reference/src/main.rs`), re-expressed
  * Spark-first.
  *
  * The reference's 931 LoC collapse to: `spark.read.textFile` over the
  * one-release-per-line dump, one StAX pull parser per partition
  * ([[ReleaseParser]], the reference's own streaming design: dispatch
  * on tag name, skip the discarded subtrees in the same pass, fail on
  * unknown content) emitting rows of [[ReleaseSchema.xmlSchema]], one
  * projection, one `write.parquet` — the Parquet writer supplies the
  * batching, dictionary encoding and Snappy compression the reference
  * implements manually (SURVEY.md §4).
  *
  * Semantics replicated exactly (pinned by DiscogsReleasesSpec):
  *  - `catno` attr → `cat_no` column (`main.rs:649-653` vs `181`)
  *  - `master_id`/`is_main_release` null iff the `<master_id>`
  *    element is absent (`main.rs:510`, `557-560`)
  *  - `anv`/`join` null when the element is empty (`main.rs:718-741`)
  *  - absent list containers → empty lists, not nulls (the
  *    reference's builders always seal a list per row,
  *    `main.rs:391-403`)
  *  - `role`/`tracks` and the nine skip-subtrees are never
  *    materialized (`main.rs:742-749`, `758-917`)
  *
  * Known deviation (documented, not copied): the reference manually
  * unescapes ONLY `&amp;` in genre/style text (`main.rs:596`, `619`),
  * so `&lt;` etc. would pass through escaped. The StAX reader unescapes
  * all standard entities. For `&amp;` — the only entity in real
  * Discogs genre/style values — behavior is identical.
  *
  * Scale: one `.xml.gz` is non-splittable (one task — same
  * sequential bound as the reference). At 100 TB you'd ingest many
  * dump files (one task each) or [[rechunk]] once (cheap text-level
  * split, no XML parsing); everything downstream of the scan
  * parallelizes.
  */
object DiscogsReleases {

  private def emptyArr(tpe: String): Column = array().cast(s"array<$tpe>")

  /** Parse the dump into rows of [[ReleaseSchema.xmlSchema]]: the lines
    * of `input` (`spark.read.text`; gzip is transparent, one task per
    * `.gz` file) streamed through one [[ReleaseParser]] per partition. A line that is neither
    * a document frame nor one whole release, a malformed value or
    * unknown content fails the task with a message naming the release
    * id (or the line) — the reference's panic-on-unexpected, SURVEY
    * S3/S5/S6.
    */
  def read(spark: SparkSession, input: String): DataFrame = {
    val schema = ReleaseSchema.xmlSchema
    // Rows reach catalyst through Spark's interpreted converter, not a
    // generated row encoder. Spark keys generated classes by session
    // class loader, so every new session would compile the encoder of
    // this nested schema again (~0.1 s per session); and fused into a
    // whole-stage method it is past HotSpot's 8 KB JIT limit.
    val rows = spark.read.text(input).queryExecution.toRdd.mapPartitions { lines =>
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      new ReleaseParser(lines.map(_.getUTF8String(0).toString))
        .map(toCatalyst(_).asInstanceOf[InternalRow])
    }
    GraftBridge.internalCreateDataFrame(spark, rows, schema)
  }

  /** The single projection that produces the reference's output
    * schema: attribute casts, nested renames via `transform`, the
    * master_id flattening, and empty-list defaults.
    */
  def transformReleases(raw: DataFrame): DataFrame = {
    // The parser yields "" for an empty element; the reference pushes
    // null for empty <anv>/<join> (main.rs:718-741) — nullif restores
    // that rule exactly.
    val artists = coalesce(
      transform(col("artists.artist"), a =>
        struct(
          a.getField("id").as("id"),
          a.getField("name").as("name"),
          nullif(a.getField("anv"), lit("")).as("anv"),
          nullif(a.getField("join"), lit("")).as("join"))),
      emptyArr("struct<id:string,name:string,anv:string,join:string>"))
    val labels = coalesce(
      transform(col("labels.label"), l =>
        struct(
          l.getField("_id").as("id"),
          l.getField("_catno").as("cat_no"),
          l.getField("_name").as("name"))),
      emptyArr("struct<id:string,cat_no:string,name:string>"))
    raw.select(
      col("_id").cast("int").as("id"),
      col("_status").as("status"),
      col("title"),
      artists.as("artists"),
      coalesce(col("genres.genre"), emptyArr("string")).as("genres"),
      coalesce(col("styles.style"), emptyArr("string")).as("styles"),
      labels.as("labels"),
      col("master_id._is_main_release").as("is_main_release"),
      col("master_id._VALUE").cast("int").as("master_id"))
  }

  /** Post-read assertions standing in for the reference's runtime
    * panics (`main.rs:496-500`, `826-836`): required fields present,
    * status within the seeded dictionary. Throws on violation.
    */
  def validate(out: DataFrame): Unit = {
    val bad = out.filter(
      col("id").isNull || col("status").isNull || col("title").isNull ||
        !col("status").isin(ReleaseSchema.knownStatuses: _*))
    val n = bad.count()
    require(n == 0, s"$n release rows violate the reference's invariants")
  }

  /** Strict unknown-content check: a parse-only pass over `input`.
    * The parser already fails on content the reference's grammar does
    * not know (see [[ReleaseParser]]), so this runs it without writing
    * anything and rethrows its `IllegalArgumentException`, which names
    * the release id and the unknown path.
    */
  def validateNoUnknownContent(spark: SparkSession, input: String): Unit =
    try read(spark, input).count()
    catch {
      case e: SparkException =>
        throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case c: IllegalArgumentException => c }
          .getOrElse(e)
    }

  /** Convert `input` XML to a snappy-parquet directory at `output`.
    *
    * `singleFile = true` coalesces to one task and leaves `output` as
    * ONE parquet FILE named as requested — literal path parity with
    * the reference's single `releases.parquet` (`main.rs:223-226`).
    * Default is false: a directory of files is the scalable shape
    * (one file per task), and everything downstream reads
    * directories.
    */
  /** Split one non-splittable `.xml.gz` dump into `n` independently
    * parsable gzipped chunks — the "re-chunk once" step that breaks
    * S1's single-thread bound: the dump's sequential gunzip+linesplit
    * is cheap IO (no XML parsing), and every downstream conversion
    * then runs one task per chunk (EtlBench measures ~3.7× on 8
    * files).
    *
    * Relies on the dump's one-release-per-line layout (the reference
    * asserts exactly this — its grammar expects a newline after every
    * element, `main.rs:446-472`), so text-level splitting cannot cut a
    * release in half. Each output chunk is wrapped back into a
    * `<releases>` root so it is a complete, valid document.
    */
  def rechunk(spark: SparkSession, input: String, outDir: String, n: Int): Unit = {
    import spark.implicits._
    // Strictness: a dump violating the one-release-per-line layout
    // must fail loudly (the reference's grammar panics on it) — not
    // silently lose releases. Dropped lines are tallied in the same
    // single pass as the split (an accumulator, not a second scan of
    // the non-splittable gzip); anything that isn't a release line or
    // an expected document frame (root tags / xml decl / blank) fails
    // the job. Accumulators can over-count on task retry, which is
    // fine for a fail-if-nonzero check.
    val unexpected = spark.sparkContext.collectionAccumulator[String]("unexpectedLines")
    val releaseLines = spark.read.textFile(input).mapPartitions { it =>
      it.flatMap { l =>
        val t = l.trim
        if (t.startsWith("<release ")) Some(l)
        else {
          if (!ReleaseParser.isFrameLine(t) && unexpected.value.size() < 10) unexpected.add(t.take(120))
          None
        }
      }
    }
    releaseLines
      .repartition(n)
      .mapPartitions(it => Iterator("<releases>") ++ it ++ Iterator("</releases>"))
      .write.mode("overwrite")
      .option("compression", "gzip")
      .text(outDir)
    if (!unexpected.value.isEmpty) {
      // Don't leave a plausible-looking but silently truncated chunk
      // directory behind: a caller that logs the exception (or a later
      // job reading the path) would otherwise find valid gzipped
      // chunks with releases missing.
      val p = new org.apache.hadoop.fs.Path(outDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      throw new IllegalStateException(
        "rechunk: input is not one-release-per-line; unexpected line(s): " +
          unexpected.value)
    }
  }

  def run(spark: SparkSession, input: String, output: String,
      singleFile: Boolean = false): Unit = {
    val out = transformReleases(read(spark, input))
    if (singleFile) {
      // Literal path parity with the reference, which writes ONE file
      // named as requested (`main.rs:223-226`): write the one-task
      // directory to a scratch path, then move the part file onto the
      // target. Hadoop FileSystem (not java.io) so the same code works
      // on HDFS/S3 paths.
      import org.apache.hadoop.fs.Path
      val scratch = new Path(output + "._graft_tmp")
      out.coalesce(1).write
        .mode("overwrite")
        .option("compression", "snappy")
        .parquet(scratch.toString)
      val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = fs.globStatus(new Path(scratch, "part-*.parquet"))
      require(parts.length == 1,
        s"expected exactly one part file in $scratch, found ${parts.length}")
      val target = new Path(output)
      fs.delete(target, true)
      require(fs.rename(parts(0).getPath, target),
        s"rename ${parts(0).getPath} -> $target failed")
      fs.delete(scratch, true)
    } else {
      out.write
        .mode("overwrite")
        .option("compression", "snappy") // the reference's WriterProperties (main.rs:219-221)
        .parquet(output)
    }
  }

  /** Same 2-arg CLI contract as the reference (`main.rs:919-930`). */
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("Usage: DiscogsReleases <input.xml.gz> <output-dir>")
      sys.exit(1)
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("discogs-releases")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try run(spark, args(0), args(1))
    finally spark.stop()
  }
}
