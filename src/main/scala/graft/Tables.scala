package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated test tables (see TESTDATA.md).
  *
  * All tables are plain parquet. `events.ts` has shipped in two
  * different physical layouts across testdata generations:
  *
  *   - TIMESTAMP(NANOS): Spark cannot map nanos to its microsecond
  *     TimestampType, so the session must set the
  *     `spark.sql.legacy.parquet.nanosAsLong` escape hatch; the column
  *     then reads as LongType nanos and we floor-divide to µs (the
  *     floor matches DuckDB's TIMESTAMP_NS → TIMESTAMP cast for
  *     positive epochs, so µs-level oracle compares agree).
  *   - TIMESTAMP(MICROS) without the UTC-adjusted flag: reads natively
  *     as TimestampNTZType; we cast to the session-zone TimestampType
  *     (identity on the stored micros under the UTC session every
  *     graft entrypoint pins), which is the type the DuckDB oracle's
  *     naive TIMESTAMP compares against.
  *
  * Rather than hard-code either layout, [[repairEventsTs]] inspects the
  * dtype the scan actually produced and applies the matching repair —
  * a data drift now surfaces as a loud unknown-layout error, never a
  * silently rescaled clock. [[Canary]] additionally sanity-bounds the
  * decoded values before the full verification gates run.
  *
  * At 100 TB these would be partitioned/bucketed external tables; the
  * loader keeps the scan declarative (`spark.read.parquet`) so
  * Catalyst's pushdown/pruning applies to every downstream query.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Normalise an `events` frame so `ts` is Spark's native
    * TimestampType (µs), whatever physical layout the scan produced.
    * Shared by the batch loader and the streaming source — the single
    * source of truth for the ts repair.
    */
  def repairEventsTs(df: DataFrame): DataFrame = {
    val repaired: Column = df.schema("ts").dataType match {
      // nanosAsLong escape hatch (TIMESTAMP(NANOS) layout): floor ns→µs.
      case LongType => timestamp_micros(expr("ts div 1000"))
      // TIMESTAMP(MICROS) without isAdjustedToUTC: cast is identity on
      // the stored micros under the pinned UTC session.
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts read as unexpected type $other — unknown parquet layout; " +
          "extend Tables.repairEventsTs for this testdata generation")
    }
    df.withColumn("ts", repaired)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  /** The on-disk schema of `events` as the current session would scan
    * it (footer-only read — cheap). Streaming sources need an explicit
    * schema up front; deriving it here keeps the stream and batch paths
    * reading identically.
    */
  def eventsOnDiskSchema(spark: SparkSession, dir: String): StructType = {
    // Keep the NANOS escape hatch available for old-layout data; a
    // no-op for MICROS files. Must stay set for the lifetime of plans
    // scanning a NANOS file (the scan consults SQLConf at action time).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // r20: shares the fingerprint-invalidated inference memo — every
    // streaming query re-derived this per run.
    memoizedSchema(spark, dir, "events")
  }

  /** Per-(session, dir, table) memo of the inferred schema — r20,
    * scoped to METADATA only: every `load` call previously re-read the
    * parquet footer to infer the schema (driver-side, once per table
    * per query per bench pass — ~1500 inferences per full bench). The
    * memo caches the inferred StructType and rebuilds the reader with
    * `.schema(...)`, so the scan itself (and its pushdown/pruning) is
    * planned exactly as before with fresh expression ids per call — no
    * plan or data is cached, and two loads of the same table still
    * join without self-join ambiguity. Reuse and invalidation: see
    * [[SessionMemo]] (a mid-session rewrite re-infers).
    */
  private val schemaMemo = new SessionMemo[(String, String), StructType]

  private def memoizedSchema(spark: SparkSession, dir: String,
      name: String): StructType = {
    val p = path(dir, name)
    schemaMemo(spark, (dir, name), Seq(p))(spark.read.parquet(p).schema)
  }

  /** Load one table. `events` gets `ts` normalised to TimestampType
    * via [[repairEventsTs]].
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // The NANOS escape hatch must be set BEFORE inference so the
      // memoized schema is the one the session will scan with.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      repairEventsTs(spark.read
        .schema(memoizedSchema(spark, dir, name))
        .parquet(path(dir, name)))
    } else {
      spark.read.schema(memoizedSchema(spark, dir, name))
        .parquet(path(dir, name))
    }
  }

  /** Register every table as a temp view named after itself. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
