package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Graph, TextAnalysis}

/** [[Checkpoints]] owns a function's checkpoints and frees them when
  * the function returns or throws; the functions built on it leave
  * nothing pinned in the session.
  */
class CheckpointsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def small: DataFrame = spark.range(8).toDF("id")

  test("using frees what it owns when the body returns and when it throws") {
    val before = persistent
    val n = Checkpoints.using { cps =>
      val a = cps(small)
      cps.own(a.select(col("id") * 2).localCheckpoint())
      assert(persistent.size == before.size + 2)
      a.count()
    }
    assert(n == 8L)
    assert(persistent == before)
    intercept[IllegalStateException] {
      Checkpoints.using { cps =>
        cps(small)
        throw new IllegalStateException("body failed")
      }
    }
    assert(persistent == before)
  }

  test("free releases one owned frame now and refuses any other") {
    val before = persistent
    Checkpoints.using { cps =>
      val a = cps(small)
      val b = cps(small)
      cps.free(a)
      assert(persistent == before + rddId(b))
      intercept[IllegalArgumentException](cps.free(a))
      assert(b.count() == 8L)
    }
    assert(persistent == before)
  }

  test("Checkpoints.free refuses a composed plan") {
    Checkpoints.using { cps =>
      val a = cps(small)
      intercept[IllegalArgumentException](
        Checkpoints.free(a.filter(col("id") > 1)))
    }
  }

  private def rddId(df: DataFrame): Int = df.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
  }

  // The first run builds the session's memoized pair table; a second
  // run must pin nothing more.
  for (name <- Seq("q77", "q78", "q80", "q81", "q83", "q84", "q85", "q88",
      "q89", "st34", "st36")) {
    test(s"$name leaves the persistent RDDs as it found them") {
      val q = SparkEntry.registry.find(_.name.startsWith(name + "_")).get
      q.run(spark, sf).collect()
      val before = persistent
      q.run(spark, sf).collect()
      assert(persistent == before)
    }
  }

  test("a graph job that fails inside the body leaves no pinned RDDs") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 0L), (0L, 0L), (1L, 1L)).toDF("src", "dst")
    // The label job fails in its tasks, after the edge list is
    // checkpointed.
    val labels = spark.range(2).select(col("id").as("node"),
      raise_error(lit("label job failed")).cast("long").as("label"))
    val before = persistent
    intercept[Exception](Graph.wccRoundsToFixpoint(edges, labels))
    assert(persistent == before)
  }

  test("BPE induction pins nothing, whatever the number of merges") {
    val docs = Tables.load(spark, sf, "documents")
    for (merges <- Seq(1, 4)) {
      val before = persistent
      assert(TextAnalysis.bpeInduce(docs, merges).count() == merges)
      assert(persistent == before, s"merges=$merges")
    }
  }
}
