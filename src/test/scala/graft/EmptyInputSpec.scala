package graft

/** Resilience: every query must survive EMPTY tables (at 100 TB,
  * empty partitions and empty filter results are routine — an
  * array_min/first/head that assumes rows exist would throw there).
  * Streaming st01 is exercised too (empty file stream → empty result).
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = tempDir("empty-sf").toFile.getAbsolutePath
    Tables.names.foreach { n =>
      val src = Tables.load(spark, "/root/testdata/sf0.001", n)
      // limit(0) keeps the exact schema; events needs the RAW (ns as
      // long) shape on disk since Tables.load will re-apply its repair.
      val df =
        if (n == "events")
          spark.read.parquet(s"/root/testdata/sf0.001/$n.parquet").limit(0)
        else src.limit(0)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }

  test("every query runs on empty tables without throwing") {
    val failures = SparkEntry.registry.flatMap { q =>
      try {
        q.run(spark, emptyDir).write
          .format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(q.name -> e.toString.take(200)) }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
