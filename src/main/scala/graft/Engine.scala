package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade (SURVEY §7 step 4): one object that makes a
  * SparkSession "the engine" — testdata tables registered as views,
  * native functions installed, the query catalog and the Discogs ETL
  * reachable by name.
  *
  * {{{
  * val engine = new Engine(spark, "/root/testdata/sf0.01")
  * engine.sql("SELECT count(*) FROM lineitem")
  * engine.query("q01_pricing_summary")
  * engine.convertReleases("dump.xml.gz", "out/")
  * }}}
  */
class Engine(val spark: SparkSession, dir: String) {

  Tables.registerAll(spark, dir)
  GraftSession.install(spark)

  /** Ad-hoc SQL over the registered tables. */
  def sql(q: String): DataFrame = spark.sql(q)

  def table(name: String): DataFrame = spark.table(name)

  /** Run a catalog query by name (see `queryNames`). */
  def query(name: String): DataFrame = {
    require(SparkEntry.queries.contains(name),
      s"unknown query '$name'; known: ${queryNames.mkString(", ")}")
    SparkEntry.queries(name)(spark, dir)
  }

  def queryNames: Seq[String] = SparkEntry.registry.map(_.name)

  /** The reference pipeline: gzipped releases XML → snappy parquet.
    * `singleFile=true` for the reference's exact one-file output.
    */
  def convertReleases(inputXmlGz: String, outputDir: String,
      singleFile: Boolean = false): Unit =
    etl.DiscogsReleases.run(spark, inputXmlGz, outputDir, singleFile)

  /** Split one non-splittable dump into n parallel-ingestable chunks. */
  def rechunkReleases(inputXmlGz: String, chunksDir: String, n: Int): Unit =
    etl.DiscogsReleases.rechunk(spark, inputXmlGz, chunksDir, n)

  /** Native as-of join (custom operator path — see
    * `graft.plans.AsOfJoinExec`).
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String): DataFrame =
    ops.Joins.asofJoinNative(left, right, leftKey, rightKey,
      leftTime, rightTime)

  /** Approximate all-pairs k-NN join over (vec_id, v) rows; `bits`
    * grows with corpus size (see `Similarity.knnJoin`).
    */
  def knnJoin(e: DataFrame, bits: Int, k: Int): DataFrame =
    ops.Similarity.knnJoin(e, bits, k)

  /** SimHash near-dup pairs over (doc_id, text) rows — exact for
    * Hamming ≤ 3 (see `Dedup.simhashNearDup`).
    */
  def simhashNearDup(documents: DataFrame, maxHamming: Int = 3): DataFrame =
    ops.Dedup.simhashNearDup(documents, maxHamming)

  /** One distributed k-means Lloyd iteration over (vec_id, label, v)
    * rows (see `Similarity.kmeansIterate`).
    */
  def kmeansIterate(e: DataFrame): DataFrame =
    ops.Similarity.kmeansIterate(e)

  /** Top-`k` TF-IDF terms per document over (doc_id, text) rows. */
  def tfidfTop(documents: DataFrame, k: Int): DataFrame =
    ops.TextAnalysis.tfidfTop(documents, k)
}
