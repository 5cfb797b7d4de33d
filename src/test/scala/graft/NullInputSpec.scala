package graft

import org.apache.spark.sql.functions._

/** Resilience: queries must survive NULLs in nullable payload columns
  * (text, props, lang, source, embedding) — routine in harvested
  * corpora. Spark built-ins null-propagate; this spec proves none of
  * the composed pipelines turns that into a crash.
  */
class NullInputSpec extends SparkSpec {

  private lazy val nullDir: String = {
    val dir = tempDir("null-sf").toFile.getAbsolutePath
    Tables.names.foreach { n =>
      val base =
        if (n == "events")
          spark.read.parquet(s"/root/testdata/sf0.001/$n.parquet")
        else Tables.load(spark, "/root/testdata/sf0.001", n)
      // null out string/array payload columns on ~10% of rows
      val id = base.columns.head
      val nullable = Set("text", "props", "lang", "source", "embedding")
      val df = base.columns.filter(nullable).foldLeft(base) { (d, c) =>
        d.withColumn(c, when(pmod(xxhash64(col(id)), lit(10)) === 0,
          lit(null)).otherwise(col(c)))
      }
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }

  test("every query runs with 10% nulls in payload columns") {
    val failures = SparkEntry.registry.flatMap { q =>
      try {
        q.run(spark, nullDir).write
          .format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(q.name -> e.toString.take(300)) }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
