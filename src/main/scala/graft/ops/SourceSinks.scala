package graft.ops

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Checkpoints, Tables}

/** Oracle-checked round trips through the non-parquet sources/sinks
  * (SURVEY §2.2 "sources/sinks beyond parquet"): each query WRITES a
  * projection through the format under test, READS it back with an
  * explicit schema, and aggregates — the DuckDB oracle computes the
  * same aggregate straight from the parquet table, so the hash matches
  * iff the round trip is value-lossless. (The format-specific
  * machinery — headers, JSON field mapping, ORC stripes — is what's
  * being exercised; the aggregate just makes the comparison small.)
  *
  * Money columns are cast to DECIMAL(12,2) BEFORE writing: text
  * formats round-trip decimals exactly by construction, with no
  * dependence on double-repr shortest-printing.
  *
  * Scale note: these deliberately write a FILTERED projection (the
  * pattern of a format-conversion job's verification pass, not a full
  * re-materialization); the temp dir is per-invocation and task
  * parallelism follows the upstream partitioning.
  */
object SourceSinks {

  private[graft] def deleteRecursively(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete()
  }

  // deleteOnExit only removes EMPTY directories, so every temp dir
  // lives under one per-JVM root whose single shutdown hook deletes it
  // recursively. The root is this JVM's alone: a counter names its
  // dirs uniquely, and keeps the paths short enough that a plan's
  // abbreviated scan location still shows the table directory.
  private lazy val tmpRoot: Path = {
    val d = Files.createTempDirectory("graft_tmp")
    sys.addShutdownHook(deleteRecursively(d.toFile))
    d
  }

  private val tmpCount = new AtomicLong

  private[graft] def tmp(prefix: String): File = Files.createDirectory(
    tmpRoot.resolve(prefix + tmpCount.incrementAndGet())).toFile

  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables.load(s, dir, name)

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    Q(
      "q43_csv_roundtrip",
      (s, dir) => {
        val path = new File(tmp("graft_q43"), "lineitem_csv").getAbsolutePath
        t(s, dir)("lineitem")
          .filter(col("l_quantity") < 10)
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity").cast("decimal(12,2)").as("qty"))
          .write.mode("overwrite").option("header", "true").csv(path)
        s.read
          .schema("l_orderkey BIGINT, l_returnflag STRING, qty DECIMAL(12,2)")
          .option("header", "true")
          .csv(path)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("qty")).cast("double").as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE l_quantity < 10
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),
    // ----------------------------------------------------------------
    Q(
      "q44_json_roundtrip",
      (s, dir) => {
        val path = new File(tmp("graft_q44"), "orders_json").getAbsolutePath
        t(s, dir)("orders")
          .filter(col("o_totalprice") > 200000)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("decimal(12,2)").as("price"))
          .write.mode("overwrite").json(path)
        s.read
          .schema("o_orderkey BIGINT, o_orderstatus STRING, price DECIMAL(12,2)")
          .json(path)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            max(col("price")).cast("double").as("max_price"),
            sum(col("price")).cast("double").as("sum_price"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
        WHERE o_totalprice > 200000
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),
    // ----------------------------------------------------------------
    Q(
      "q45_orc_roundtrip",
      (s, dir) => {
        val path = new File(tmp("graft_q45"), "part_orc").getAbsolutePath
        t(s, dir)("part")
          .filter(col("p_size") < 20)
          .select(col("p_partkey"), col("p_brand"),
            col("p_retailprice").cast("decimal(12,2)").as("price"))
          .write.mode("overwrite").orc(path)
        s.read.orc(path) // ORC is self-describing — schema from stripes
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            sum(col("price")).cast("double").as("sum_price"))
          .orderBy("p_brand")
      },
      Some("""
        SELECT p_brand, COUNT(*) AS n,
          CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM part
        WHERE p_size < 20
        GROUP BY p_brand
        ORDER BY p_brand""")),
    // ----------------------------------------------------------------
    Q(
      "q50_xml_roundtrip",
      (s, dir) => {
        // XML round trip through Spark 4's built-in XML source — the
        // same machinery the Discogs ETL reads with, exercised as a
        // general sink+source. Every row comes back (no aggregate):
        // the compare is direct value-losslessness on all 25 rows.
        val path = new File(tmp("graft_q50"), "nation_xml").getAbsolutePath
        t(s, dir)("nation")
          .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
          .write.mode("overwrite")
          .option("rowTag", "nation").option("rootTag", "nations")
          .format("xml").save(path)
        s.read
          .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
          .option("rowTag", "nation")
          .format("xml").load(path)
          .orderBy("n_nationkey")
      },
      Some("""
        SELECT n_nationkey, n_name, n_regionkey
        FROM nation
        ORDER BY n_nationkey""")),
    // ----------------------------------------------------------------
    Q(
      "q63_bucketed_join",
      (s, dir) => {
        // Bucketed CO-LOCATED join — the table-LAYOUT optimization
        // for repeated 100 TB fact-fact joins: both sides bucketed
        // (and sorted) by the join key into the same bucket count, so
        // the SortMergeJoin reads bucket i of each side in task i
        // with ZERO join-side Exchange (plan-pinned; the merge hint
        // keeps the small-SF side from degenerating to a broadcast,
        // which would hide the property under test — at real scale
        // neither fact side broadcasts anyway). Bucketed copies are
        // written once per session+SF (ivfSq8TrainShared's shared-
        // artifact discipline); a deployment maintains them as the
        // table's standing layout, amortized over every consumer.
        import D.{dbl, m, r}
        // Table names carry the JVM pid: two concurrent sessions
        // (e.g. a Bench and a Verify on the same repo) share the
        // default warehouse dir, and a dir-only tag would let one
        // session's leftover-location cleanup delete the OTHER's
        // live table files out from under a running scan.
        val tag = java.lang.Integer.toHexString(dir.hashCode) +
          "_p" + ProcessHandle.current().pid()
        val lt = s"li_bucketed_$tag"
        val ot = s"ord_bucketed_$tag"
        this.synchronized {
          // Guard on BOTH tables: a first run that failed between the
          // two writes must not wedge the session on the missing one.
          if (!s.catalog.tableExists(lt) || !s.catalog.tableExists(ot)) {
            // A dead process with OUR pid (pid reuse) can linger in
            // the warehouse dir while this session's in-memory
            // catalog starts empty — CTAS refuses a non-empty
            // location, so clear OUR leftovers first (never another
            // live session's: the pid in the name is ours).
            val wh = new java.net.URI(
              s.conf.get("spark.sql.warehouse.dir")).getPath
            Seq(lt, ot).foreach { n =>
              if (!s.catalog.tableExists(n)) {
                val f = new File(wh, n)
                if (f.exists()) deleteRecursively(f)
              }
            }
            if (!s.catalog.tableExists(lt))
              t(s, dir)("lineitem")
                .select(col("l_orderkey"), col("l_extendedprice"),
                  col("l_discount"))
                .write.format("parquet").bucketBy(8, "l_orderkey")
                .sortBy("l_orderkey").mode("overwrite").saveAsTable(lt)
            if (!s.catalog.tableExists(ot))
              t(s, dir)("orders")
                .select(col("o_orderkey"), col("o_orderpriority"))
                .write.format("parquet").bucketBy(8, "o_orderkey")
                .sortBy("o_orderkey").mode("overwrite").saveAsTable(ot)
            // pid-named dirs would otherwise pile up across runs —
            // same recursive-delete-on-exit discipline as tmp().
            Seq(lt, ot).foreach(n => sys.addShutdownHook(
              deleteRecursively(new File(wh, n))))
          }
        }
        s.table(lt).hint("merge")
          .join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            dbl(sum(m(col("l_extendedprice")) *
              (lit(1) - r(col("l_discount"))))).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_items,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                   (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
            AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),
    // ----------------------------------------------------------------
    Q(
      "q68_schema_evolution",
      (s, dir) => {
        // SCHEMA EVOLUTION across parquet generations — the lake
        // staple every long-lived dataset crosses: generation 1 was
        // written before the `tier` column existed, generation 2
        // carries it, and ONE mergeSchema read serves both with
        // NULL-filled history (no rewrite of the old files — at
        // 100 TB, rewriting history for a column add is exactly what
        // the lake design exists to avoid). mergeSchema reconciles
        // footers at planning time (a files-count cost, not a data
        // cost); steady-state readers would pin the evolved schema
        // explicitly (q43's discipline) and skip the footer sweep —
        // this query IS the evolution-boundary read. The aggregate
        // proves both generations land in one frame: n counts all
        // rows, n_evolved counts only gen-2 (tier non-null), and the
        // DECIMAL sum spans both (D's exactness rules).
        val path =
          new File(tmp("graft_q68"), "cust_evolved").getAbsolutePath
        val base = t(s, dir)("customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal").cast("decimal(12,2)").as("bal"))
        base.filter(col("c_custkey") % 2 === 0)
          .write.mode("overwrite").parquet(path + "/gen1")
        base.filter(col("c_custkey") % 2 === 1)
          .withColumn("tier",
            when(col("bal") >= 5000, lit("gold")).otherwise(lit("std")))
          .write.mode("overwrite").parquet(path + "/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(path + "/gen1", path + "/gen2")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            count(col("tier")).as("n_evolved"),
            count(when(col("tier") === "gold", lit(1))).as("n_gold"),
            sum(col("bal")).cast("double").as("sum_bal"))
          .orderBy("c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n,
          COUNT(CASE WHEN c_custkey % 2 = 1 THEN 1 END) AS n_evolved,
          COUNT(CASE WHEN c_custkey % 2 = 1
                      AND CAST(c_acctbal AS DECIMAL(12,2)) >= 5000
                THEN 1 END) AS n_gold,
          CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
            AS sum_bal
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),
    // ----------------------------------------------------------------
    Q(
      "q72_lake_snapshot_diff",
      (s, dir) => {
        // CHANGE DATA FEED out of a lake: two compacted snapshots of
        // the CDC state (v1 = as of the mid-stream cutoff, v2 =
        // current) are WRITTEN as parquet and diffed FROM THE FILES
        // (p06's rule) into the insert/update/delete rows a
        // downstream incremental consumer replays -- the table-format
        // "table_changes" staple, done as a key-equi full-outer join
        // of two compacted key-level tables (one shuffle each, or
        // co-located under st28's bucket layout; emitted rows are
        // CHANGES only, never the lake). Tombstones live in both
        // snapshots (st28's convention), so delete = live->tombstone
        // and a re-upsert after a delete is an insert again; a
        // tombstone-to-tombstone key is no visible change. The
        // cutoff is integer arithmetic over the feed's own clock
        // ((min+max) DIV 2 microseconds) -- engine-identical.
        val path = new File(tmp("graft_q72"), "snap").getAbsolutePath
        val ev = t(s, dir)("events")
          .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("event_type"),
            col("value"))
        val cutoff = ev.agg(expr("(min(us) + max(us)) DIV 2").as("cut"))
        def compact(src: DataFrame): DataFrame = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("us").desc, col("event_id").desc)
          src.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("user_id"), col("us"), col("event_id"),
              (col("event_type") === "error").cast("int").as("deleted"),
              col("value"))
        }
        compact(ev.crossJoin(broadcast(cutoff))
            .filter(col("us") <= col("cut")))
          .write.mode("overwrite").parquet(s"$path/v1")
        compact(ev).write.mode("overwrite").parquet(s"$path/v2")
        val sch = "user_id BIGINT, us BIGINT, event_id BIGINT, " +
          "deleted INT, value DOUBLE"
        val v1 = s.read.schema(sch).parquet(s"$path/v1")
          .select(col("user_id"), col("us").as("old_us"),
            col("event_id").as("old_eid"),
            col("deleted").as("od"), col("value").as("old_value"))
        val v2 = s.read.schema(sch).parquet(s"$path/v2")
          .select(col("user_id"), col("us").as("new_us"),
            col("event_id").as("new_eid"),
            col("deleted").as("nd"), col("value").as("new_value"))
        v1.join(v2, Seq("user_id"), "full")
          .select(col("user_id"),
            coalesce(col("od"), lit(1)).as("od"),
            coalesce(col("nd"), lit(1)).as("nd"),
            col("old_us"), col("new_us"), col("old_eid"),
            col("new_eid"), col("old_value"), col("new_value"))
          .withColumn("change_type",
            when(col("od") === 0 && col("nd") === 1, "delete")
              .when(col("od") === 1 && col("nd") === 0, "insert")
              .when(col("od") === 0 && col("nd") === 0 &&
                (col("old_us") =!= col("new_us") ||
                  col("old_eid") =!= col("new_eid")), "update"))
          .filter(col("change_type").isNotNull)
          .select(col("user_id"), col("change_type"), col("old_us"),
            col("new_us"), col("old_value"), col("new_value"))
          .orderBy("user_id")
      },
      Some("""
        WITH ev AS (
          SELECT event_id, user_id,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
          FROM events
          WHERE event_type IS NOT NULL AND value IS NOT NULL
            AND ts IS NOT NULL),
        cut AS (SELECT (MIN(us) + MAX(us)) // 2 AS cut FROM ev),
        v1 AS (
          SELECT user_id, us, event_id,
            CAST(event_type = 'error' AS INT) AS deleted, value FROM (
            SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY us DESC, event_id DESC) AS rn
            FROM ev e, cut WHERE e.us <= cut.cut) WHERE rn = 1),
        v2 AS (
          SELECT user_id, us, event_id,
            CAST(event_type = 'error' AS INT) AS deleted, value FROM (
            SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY us DESC, event_id DESC) AS rn
            FROM ev e) WHERE rn = 1),
        d AS (
          SELECT COALESCE(a.user_id, b.user_id) AS user_id,
            COALESCE(a.deleted, 1) AS od, COALESCE(b.deleted, 1) AS nd,
            a.us AS old_us, b.us AS new_us,
            a.event_id AS oe, b.event_id AS ne,
            a.value AS old_value, b.value AS new_value
          FROM v1 a FULL JOIN v2 b ON a.user_id = b.user_id)
        SELECT user_id,
          CASE WHEN od = 0 AND nd = 1 THEN 'delete'
               WHEN od = 1 AND nd = 0 THEN 'insert'
               ELSE 'update' END AS change_type,
          old_us, new_us, old_value, new_value
        FROM d
        WHERE (od = 0 AND nd = 1) OR (od = 1 AND nd = 0)
           OR (od = 0 AND nd = 0 AND (old_us <> new_us OR oe <> ne))
        ORDER BY user_id""")),
    // ----------------------------------------------------------------
    Q(
      "q73_zorder_layout",
      (s, dir) => {
        // Z-ORDER data layout -- multi-column file skipping, the
        // lakehouse clustering staple: orders are bucketed 16-way on
        // BOTH o_custkey and order day (integer range buckets over
        // the broadcast 1-row min/max), the two 4-bit bucket ids are
        // BIT-INTERLEAVED into an 8-bit Morton z-value, and the table
        // is written as 16 z-range partitions (z DIV 16 -- fixed-
        // width cuts, so the layout is deterministic and
        // oracle-restatable, unlike a sampled range partitioner).
        // The payoff is MEASURED, not asserted: per-partition min/max
        // column stats are recomputed FROM THE WRITTEN FILES (p06's
        // rule) and a quarter-by-quarter box query is tested against
        // them -- n_buckets_hit_z vs n_buckets_hit_lex, the same box
        // against the stats a custkey-only sort layout would give
        // (its per-bx min/max). Interleaving makes a 2-D box touch
        // O(few) z-runs while the 1-D sort must open every file whose
        // custkey range overlaps, regardless of date -- the file-
        // skipping argument made as two comparable integers. All
        // bucket/box arithmetic is integer DIV over positive ranges,
        // engine-identical by construction.
        val path = new File(tmp("graft_q73"), "zorder").getAbsolutePath
        val o = t(s, dir)("orders")
          .select(col("o_orderkey"), col("o_custkey"),
            datediff(col("o_orderdate"), lit("1970-01-01"))
              .cast("long").as("day"))
        val mm = o.agg(min("o_custkey").as("min_ck"),
          max("o_custkey").as("max_ck"),
          min("day").as("min_d"), max("day").as("max_d"))
        o.crossJoin(broadcast(mm))
          .withColumn("bx",
            expr("((o_custkey - min_ck) * 16) DIV (max_ck - min_ck + 1)"))
          .withColumn("byd",
            expr("((day - min_d) * 16) DIV (max_d - min_d + 1)"))
          .withColumn("z", expr("""
            (bx & 1) + shiftleft(byd & 1, 1) +
            shiftleft(shiftright(bx, 1) & 1, 2) +
            shiftleft(shiftright(byd, 1) & 1, 3) +
            shiftleft(shiftright(bx, 2) & 1, 4) +
            shiftleft(shiftright(byd, 2) & 1, 5) +
            shiftleft(shiftright(bx, 3) & 1, 6) +
            shiftleft(shiftright(byd, 3) & 1, 7)"""))
          .withColumn("zbucket", expr("z DIV 16").cast("int"))
          .select(col("o_orderkey"), col("o_custkey"), col("day"),
            col("bx"), col("zbucket"))
          .write.partitionBy("zbucket").mode("overwrite").parquet(path)
        val r = s.read.option("basePath", path)
          .schema("o_orderkey BIGINT, o_custkey BIGINT, day BIGINT, " +
            "bx BIGINT, zbucket INT")
          .parquet(path)
        val box = mm.select(
          expr("min_ck + ((max_ck - min_ck + 1) * 4) DIV 16").as("ck_lo"),
          expr("min_ck + ((max_ck - min_ck + 1) * 8) DIV 16 - 1")
            .as("ck_hi"),
          expr("min_d + ((max_d - min_d + 1) * 4) DIV 16").as("d_lo"),
          expr("min_d + ((max_d - min_d + 1) * 8) DIV 16 - 1").as("d_hi"))
        val zhit = r.groupBy("zbucket")
          .agg(count(lit(1)).as("n_rows"),
            min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck"),
            min("day").as("min_day"), max("day").as("max_day"))
          .crossJoin(broadcast(box))
          .withColumn("hit_z",
            (!(col("max_ck") < col("ck_lo") ||
               col("min_ck") > col("ck_hi") ||
               col("max_day") < col("d_lo") ||
               col("min_day") > col("d_hi"))).cast("int"))
        val nz = zhit.agg(sum(col("hit_z")).as("n_buckets_hit_z"))
        val nl = r.groupBy("bx")
          .agg(min("o_custkey").as("lmin"), max("o_custkey").as("lmax"),
            min("day").as("ldmin"), max("day").as("ldmax"))
          .crossJoin(broadcast(box))
          .select((!(col("lmax") < col("ck_lo") ||
            col("lmin") > col("ck_hi") ||
            col("ldmax") < col("d_lo") ||
            col("ldmin") > col("d_hi"))).cast("int").as("hit"))
          .agg(sum(col("hit")).as("n_buckets_hit_lex"))
        zhit.crossJoin(broadcast(nz)).crossJoin(broadcast(nl))
          .select(col("zbucket"), col("n_rows"), col("min_ck"),
            col("max_ck"), col("min_day"), col("max_day"), col("hit_z"),
            col("n_buckets_hit_z"), col("n_buckets_hit_lex"))
          .orderBy("zbucket")
      },
      Some("""
        WITH o AS (
          SELECT o_orderkey, o_custkey,
            CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
              AS BIGINT) AS day
          FROM orders),
        mm AS (
          SELECT MIN(o_custkey) AS min_ck, MAX(o_custkey) AS max_ck,
            MIN(day) AS min_d, MAX(day) AS max_d
          FROM o),
        b AS (
          SELECT o.*,
            ((o_custkey - min_ck) * 16) // (max_ck - min_ck + 1) AS bx,
            ((day - min_d) * 16) // (max_d - min_d + 1) AS byd
          FROM o, mm),
        zb AS (
          SELECT *, CAST((
            (bx & 1) + ((byd & 1) << 1) +
            (((bx >> 1) & 1) << 2) + (((byd >> 1) & 1) << 3) +
            (((bx >> 2) & 1) << 4) + (((byd >> 2) & 1) << 5) +
            (((bx >> 3) & 1) << 6) + (((byd >> 3) & 1) << 7)) // 16
            AS INT) AS zbucket
          FROM b),
        zs AS (
          SELECT zbucket, COUNT(*) AS n_rows,
            MIN(o_custkey) AS min_ck, MAX(o_custkey) AS max_ck,
            MIN(day) AS min_day, MAX(day) AS max_day
          FROM zb GROUP BY zbucket),
        box AS (
          SELECT min_ck + ((max_ck - min_ck + 1) * 4) // 16 AS ck_lo,
            min_ck + ((max_ck - min_ck + 1) * 8) // 16 - 1 AS ck_hi,
            min_d + ((max_d - min_d + 1) * 4) // 16 AS d_lo,
            min_d + ((max_d - min_d + 1) * 8) // 16 - 1 AS d_hi
          FROM mm),
        zh AS (
          SELECT zs.*,
            CAST(NOT (max_ck < ck_lo OR min_ck > ck_hi OR
                      max_day < d_lo OR min_day > d_hi) AS INT) AS hit_z
          FROM zs, box),
        nz AS (SELECT CAST(SUM(hit_z) AS BIGINT) AS n_buckets_hit_z
               FROM zh),
        ls AS (
          SELECT bx, MIN(o_custkey) AS lmin, MAX(o_custkey) AS lmax,
            MIN(day) AS ldmin, MAX(day) AS ldmax
          FROM zb GROUP BY bx),
        nl AS (
          SELECT CAST(SUM(CAST(NOT (lmax < ck_lo OR lmin > ck_hi OR
            ldmax < d_lo OR ldmin > d_hi) AS INT)) AS BIGINT)
            AS n_buckets_hit_lex
          FROM ls, box)
        SELECT zbucket, n_rows, min_ck, max_ck, min_day, max_day,
          hit_z, n_buckets_hit_z, n_buckets_hit_lex
        FROM zh, nz, nl
        ORDER BY zbucket""")),
    // ----------------------------------------------------------------
    Q(
      "q74_incremental_mv",
      (s, dir) => {
        // INCREMENTAL MATERIALIZED-VIEW MAINTENANCE -- the warehouse
        // staple behind every "refresh without recompute": a grouped
        // aggregate over the orders up to the mid-stream cutoff is
        // materialized to parquet (decomposable partials: COUNT and
        // an exact DECIMAL SUM -- never an average), the post-cutoff
        // DELTA is aggregated alone, and the view is refreshed by
        // MERGING partials read back FROM THE FILES (p06's rule):
        // counts add, sums add, and the derived avg_price is computed
        // from the MERGED sums at the end -- the
        // no-averaging-of-averages discipline that makes incremental
        // refresh exact. The oracle is the full recompute over all
        // rows: the hash matches iff merge(partial(A), partial(B)) =
        // partial(A uplus B), proven through the storage boundary. At
        // 100 TB the delta aggregate is the only corpus-scale work
        // per refresh; the merge touches |groups| rows.
        val path = new File(tmp("graft_q74"), "mv").getAbsolutePath
        val o = t(s, dir)("orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("decimal(12,2)").as("price"),
            datediff(col("o_orderdate"), lit("1970-01-01"))
              .cast("long").as("day"))
        val cutoff = o.agg(expr("(min(day) + max(day)) DIV 2").as("cut"))
        def partial(src: DataFrame): DataFrame = src
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("price")).as("sum_price")) // decimal(22,2)
        partial(o.crossJoin(broadcast(cutoff))
            .filter(col("day") <= col("cut")))
          .write.mode("overwrite").parquet(path)
        val mv = s.read
          .schema("o_orderstatus STRING, n BIGINT, sum_price DECIMAL(22,2)")
          .parquet(path)
        val delta = partial(o.crossJoin(broadcast(cutoff))
          .filter(col("day") > col("cut")))
        mv.unionByName(delta)
          .groupBy("o_orderstatus")
          .agg(sum(col("n")).as("n"),
            sum(col("sum_price")).as("sum_price"))
          .select(col("o_orderstatus"), col("n"),
            col("sum_price").cast("double").as("sum_price"),
            (col("sum_price").cast("double") /
              col("n").cast("double")).as("avg_price"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
            AS sum_price,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) /
            CAST(COUNT(*) AS DOUBLE) AS avg_price
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")),
    // ----------------------------------------------------------------
    Q(
      "q75_lake_vacuum",
      (s, dir) => {
        // LAKE VACUUM — the retention staple every copy-on-write
        // table format ships: a rewrite commit leaves the superseded
        // files on disk (time travel reads them) until a vacuum
        // deletes everything the current manifest doesn't reference.
        // Built end-to-end on a real directory: v1 writes the
        // cutoff-compacted CDC state key-bucketed with a
        // deterministic ONE file per bucket (repartition BY the
        // bucket column before partitionBy), a superseding commit
        // APPENDS the fully-current state of only the TOUCHED
        // buckets (buckets with post-cutoff activity — copy-on-
        // write, the v1 files stay), orphans = the v1 files of
        // touched buckets (physical listing minus manifest), the
        // vacuum deletes them (bounded driver fetch: ≤ |buckets|
        // paths), and the result is the post-vacuum lake read back
        // FROM THE FILES with per-bucket row/value/file accounting.
        // The oracle restates the surviving logical state (current
        // for touched buckets, cutoff state for untouched) and the
        // file counts from the one-file-per-bucket discipline — the
        // hash match proves the vacuum removed exactly the orphans
        // and nothing live.
        lakeVacuum(s, dir,
          new File(tmp("graft_q75"), "lake").getAbsolutePath)
      },
      Some("""
        WITH ev AS (
          SELECT event_id, user_id,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
          FROM events
          WHERE event_type IS NOT NULL AND value IS NOT NULL
            AND ts IS NOT NULL),
        cut AS (SELECT (MIN(us) + MAX(us)) // 2 AS cut FROM ev),
        comp_all AS (
          SELECT user_id, value, CAST(user_id % 8 AS INT) AS bucket
          FROM (SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY us DESC, event_id DESC) AS rn FROM ev e)
          WHERE rn = 1),
        comp_v1 AS (
          SELECT user_id, value, CAST(user_id % 8 AS INT) AS bucket
          FROM (SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY us DESC, event_id DESC) AS rn
                FROM ev e, cut WHERE e.us <= cut.cut)
          WHERE rn = 1),
        touched AS (
          SELECT DISTINCT CAST(user_id % 8 AS INT) AS bucket
          FROM ev, cut WHERE us > cut.cut),
        v1b AS (SELECT DISTINCT bucket FROM comp_v1),
        lake AS (
          SELECT * FROM comp_all
          WHERE bucket IN (SELECT bucket FROM touched)
          UNION ALL
          SELECT * FROM comp_v1
          WHERE bucket NOT IN (SELECT bucket FROM touched))
        SELECT bucket, COUNT(*) AS n_rows,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
            AS total_value,
          CAST(1 AS BIGINT) AS files_live,
          CAST(CASE WHEN bucket IN (SELECT bucket FROM touched)
                     AND bucket IN (SELECT bucket FROM v1b)
               THEN 1 ELSE 0 END AS BIGINT) AS files_removed
        FROM lake GROUP BY bucket ORDER BY bucket""")),
    // ----------------------------------------------------------------
    Q(
      "q76_time_travel",
      (s, dir) =>
        // Time-travel read (see [[timeTravelRead]]): both snapshots
        // of the two-commit copy-on-write lake served from the SAME
        // directory by manifest file selection; the oracle restates
        // each snapshot's logical state from the base tables, so the
        // hash match proves the v2 commit never disturbed a
        // v1-pinned reader.
        timeTravelRead(s, dir,
          new File(tmp("graft_q76"), "lake").getAbsolutePath),
      Some("""
        WITH ev AS (
          SELECT event_id, user_id,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
          FROM events
          WHERE event_type IS NOT NULL AND value IS NOT NULL
            AND ts IS NOT NULL),
        cut AS (SELECT (MIN(us) + MAX(us)) // 2 AS cut FROM ev),
        comp_all AS (
          SELECT user_id, value, CAST(user_id % 8 AS INT) AS bucket
          FROM (SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY us DESC, event_id DESC) AS rn FROM ev e)
          WHERE rn = 1),
        comp_v1 AS (
          SELECT user_id, value, CAST(user_id % 8 AS INT) AS bucket
          FROM (SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY us DESC, event_id DESC) AS rn
                FROM ev e, cut WHERE e.us <= cut.cut)
          WHERE rn = 1),
        touched AS (
          SELECT DISTINCT CAST(user_id % 8 AS INT) AS bucket
          FROM ev, cut WHERE us > cut.cut),
        v2lake AS (
          SELECT * FROM comp_all
          WHERE bucket IN (SELECT bucket FROM touched)
          UNION ALL
          SELECT * FROM comp_v1
          WHERE bucket NOT IN (SELECT bucket FROM touched))
        SELECT 'v1' AS snapshot, bucket, COUNT(*) AS n_rows,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
            AS total_value
        FROM comp_v1 GROUP BY bucket
        UNION ALL
        SELECT 'v2' AS snapshot, bucket, COUNT(*) AS n_rows,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
            AS total_value
        FROM v2lake GROUP BY bucket
        ORDER BY snapshot, bucket""")),
    // ----------------------------------------------------------------
    Q(
      "q79_lake_optimize",
      (s, dir) =>
        // Small-file compaction / OPTIMIZE (see [[lakeOptimizeFull]]):
        // 6 micro-batch appends → bin-packed rewrite → manifest swap;
        // both snapshots read back via their manifests. The oracle
        // restates content from the base table and the file counts
        // from the slice/bin arithmetic, so the hash match proves
        // the rewrite lossless and the layout as planned.
        lakeOptimize(s, dir,
          tmp("graft_q79").getAbsolutePath),
      Some(sqlLakeOptimize(slices = 6, fanout = 16))),
    // ----------------------------------------------------------------
    Q(
      "q82_lake_optimistic_commit",
      (s, dir) =>
        // Optimistic-concurrency commits (see [[lakeOptimisticFull]]):
        // two writers prepared against the same snapshot, one CAS
        // win, one detected conflict + rebase + retry; the three
        // version states read back via their manifests. The oracle
        // restates the sequential snapshot states and the retry
        // audit, so the hash match proves the protocol serialized
        // the writers without losing either update.
        lakeOptimisticCommit(s, dir,
          tmp("graft_q82").getAbsolutePath),
      Some(sqlLakeOptimistic)),
    // ----------------------------------------------------------------
    Q(
      "q86_join_delta_mv",
      (s, dir) => {
        // JOIN-VIEW INCREMENTAL MAINTENANCE — q74 proves the agg-MV
        // merge rule; this proves the JOIN delta rule that precedes
        // it in every real view (DBSP / differential dataflow's
        // first-order term): for V = A ⋈ B with deltas ΔA, ΔB,
        //   ΔV = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB.
        // The pre-delta view partial (orders⋈lineitem up to BOTH
        // mid-stream cutoffs, grouped to decomposable COUNT + exact
        // DECIMAL SUM per status) is materialized to parquet; the
        // three delta terms are aggregated alone; the refresh merges
        // partials read back FROM THE FILES (q74's rule). The oracle
        // is the full-recompute join aggregate — the hash matches iff
        // the join-delta expansion is exact through the storage
        // boundary. At 100 TB each delta term has at least one
        // delta-sized side (broadcast-able), so a refresh never
        // re-joins the two base tables — that is the IVM point.
        val path = new File(tmp("graft_q86"), "mv").getAbsolutePath
        val o = t(s, dir)("orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            datediff(col("o_orderdate"), lit("1970-01-01"))
              .cast("long").as("day"))
        val l = t(s, dir)("lineitem")
          .select(col("l_orderkey"),
            col("l_extendedprice").cast("decimal(12,2)").as("price"),
            datediff(col("l_shipdate").cast("date"), lit("1970-01-01"))
              .cast("long").as("sday"))
        val cuts = o.agg(expr("(min(day) + max(day)) DIV 2").as("cuta"))
          .crossJoin(l.agg(
            expr("(min(sday) + max(sday)) DIV 2").as("cutb")))
        val oc = o.crossJoin(broadcast(cuts))
        val lc = l.crossJoin(broadcast(cuts))
        // The split must be EXHAUSTIVE: a NULL date fails both
        // `day <= cut` and `day > cut`, so without the isNull arm a
        // null-dated row would vanish from all four quadrants while
        // the full-recompute oracle's join still counts it. NULLs go
        // to the 'old' side (they were never "new data").
        val aOld = oc.filter(
          col("day").isNull || col("day") <= col("cuta"))
          .select("o_orderkey", "o_orderstatus")
        val aDelta = oc.filter(col("day") > col("cuta"))
          .select("o_orderkey", "o_orderstatus")
        val bOld = lc.filter(
          col("sday").isNull || col("sday") <= col("cutb"))
          .select("l_orderkey", "price")
        val bDelta = lc.filter(col("sday") > col("cutb"))
          .select("l_orderkey", "price")
        def partial(a: DataFrame, b: DataFrame): DataFrame =
          a.join(b, col("o_orderkey") === col("l_orderkey"))
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"),
              sum(col("price")).as("sum_price")) // decimal(22,2)
        partial(aOld, bOld).write.mode("overwrite").parquet(path)
        val mv = s.read
          .schema(
            "o_orderstatus STRING, n BIGINT, sum_price DECIMAL(22,2)")
          .parquet(path)
        mv.unionByName(partial(aDelta, bOld))
          .unionByName(partial(aOld, bDelta))
          .unionByName(partial(aDelta, bDelta))
          .groupBy("o_orderstatus")
          .agg(sum(col("n")).as("n"),
            sum(col("sum_price")).as("sum_price"))
          .select(col("o_orderstatus"), col("n"),
            col("sum_price").cast("double").as("sum_price"),
            (col("sum_price").cast("double") /
              col("n").cast("double")).as("avg_price"))
          .orderBy("o_orderstatus")
      },
      Some("""
        SELECT o.o_orderstatus, COUNT(*) AS n,
          CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
            AS sum_price,
          CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) AS avg_price
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
        ORDER BY o.o_orderstatus""")),
    // ----------------------------------------------------------------
    Q(
      "q90_avro_roundtrip",
      (s, dir) => {
        // A REAL Avro container round trip over the core avro library
        // (see [[AvroCodec]] — the fixed classpath has no spark-avro
        // DATASOURCE, but the FORMAT jar is present, so the container
        // machinery is driven per-partition like every spark.write
        // sink): one snappy-compressed container per partition written
        // from foreachPartition, read back by parallelizing the file
        // list (one container per task) and streaming blocks. Money
        // rides as scaled-LONG cents — no FP crosses the format.
        val spark = s
        import spark.implicits._
        val files = writeCustomerAvro(s, dir, "graft_q90")
        s.createDataset(files)
          .repartition(math.max(1, files.size))
          .flatMap(AvroCodec.readFile _)
          .toDF("c_custkey", "c_mktsegment", "cents")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            sum(col("cents")).as("sum_cents"),
            max(col("c_custkey")).as("max_key"))
          .orderBy("c_mktsegment")
      },
      Some("""
        SELECT c_mktsegment, COUNT(*) AS n,
          CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
            AS BIGINT)) AS BIGINT) AS sum_cents,
          MAX(c_custkey) AS max_key
        FROM customer
        WHERE c_acctbal > 0
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment""")),
    // ----------------------------------------------------------------
    Q(
      "q91_avro_evolution",
      (s, dir) => {
        // Avro READER-SCHEMA EVOLUTION (the format's hallmark and the
        // reason a 100 TB lake keeps containers it cannot rewrite):
        // the same writer containers re-read through a reader schema
        // that DROPS c_mktsegment, REORDERS the surviving fields and
        // ADDS loyalty_tier with a default — all three resolved by
        // the avro decoder, not application code
        // ([[AvroCodec.readFileEvolved]]). The aggregate pins that
        // the surviving values pass through resolution untouched and
        // the default materializes on every row.
        val spark = s
        import spark.implicits._
        val files = writeCustomerAvro(s, dir, "graft_q91")
        s.createDataset(files)
          .repartition(math.max(1, files.size))
          .flatMap(AvroCodec.readFileEvolved _)
          .toDF("cents", "c_custkey", "loyalty_tier")
          .groupBy((col("c_custkey") % 4).as("bucket"),
            col("loyalty_tier"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
          .orderBy("bucket")
      },
      Some("""
        SELECT c_custkey % 4 AS bucket, 'unrated' AS loyalty_tier,
          COUNT(*) AS n,
          CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
            AS BIGINT)) AS BIGINT) AS sum_cents
        FROM customer
        WHERE c_acctbal > 0
        GROUP BY c_custkey % 4
        ORDER BY bucket"""))
  )

  /** The shared q90/q91 write side: the filtered customer projection
    * (custkey, mktsegment, DECIMAL-exact cents) written as one
    * snappy Avro container per partition from foreachPartition;
    * returns the container paths (bounded by the partition count).
    */
  private def writeCustomerAvro(s: SparkSession, dir: String,
      tag: String): Seq[String] = {
    import s.implicits._
    val out = new File(tmp(tag), "customer_avro")
    out.mkdirs()
    val outPath = out.getAbsolutePath
    t(s, dir)("customer")
      .filter(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_acctbal").cast("decimal(12,2)") * 100)
          .cast("long").as("cents"))
      .as[(Long, String, Long)]
      .foreachPartition { (it: Iterator[(Long, String, Long)]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        AvroCodec.writePartition(
          new File(outPath, f"part-$pid%05d.avro"), it)
      }
    out.listFiles().filter(_.getName.endsWith(".avro"))
      .map(_.getAbsolutePath).sorted.toSeq
  }

  /** Lake vacuum execution (q75) — see the q75 entry for the story;
    * factored so specs can point it at their own directory and
    * inspect the physical file set afterwards.
    */
  private[graft] val lakeSchema =
    "user_id BIGINT, us BIGINT, event_id BIGINT, value DOUBLE, bucket INT"

  /** The shared two-commit copy-on-write lake of q75/q76: v1 writes
    * the cutoff-compacted CDC state key-bucketed (deterministic ONE
    * file per bucket — repartition BY the bucket column before
    * partitionBy), a superseding commit APPENDS the fully-current
    * state of only the TOUCHED buckets (buckets with post-cutoff
    * activity; the v1 files stay on disk). Returns the collected v1
    * listing, the post-append listing, and the touched-bucket set —
    * all bounded by the one-file-per-bucket discipline (≤ 2·|buckets|
    * rows total).
    */
  private def twoCommitLake(s: SparkSession, dir: String, base: String)
      : (Array[(Int, String)], Array[(Int, String)], Set[Int]) = {
    val ev = t(s, dir)("events")
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
    val cutoff = ev.agg(expr("(min(us) + max(us)) DIV 2").as("cut"))
    def compact(src: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("us").desc, col("event_id").desc)
      src.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("us"), col("event_id"),
          col("value"),
          (col("user_id") % 8).cast("int").as("bucket"))
    }
    def listing(): Array[(Int, String)] = s.read.schema(lakeSchema)
      .parquet(base)
      .select(col("bucket"), input_file_name().as("f")).distinct()
      .collect().map(r => (r.getInt(0), r.getString(1)))
    compact(ev.crossJoin(broadcast(cutoff))
        .filter(col("us") <= col("cut")))
      .repartition(8, col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(base)
    val v1Files = listing()
    val touched = ev.crossJoin(broadcast(cutoff))
      .filter(col("us") > col("cut"))
      .select((col("user_id") % 8).cast("int").as("bucket")).distinct()
    compact(ev).join(broadcast(touched), Seq("bucket"))
      .select(col("user_id"), col("us"), col("event_id"),
        col("value"), col("bucket"))
      .repartition(8, col("bucket"))
      .write.partitionBy("bucket").mode("append").parquet(base)
    val touchedSet = touched.collect().map(_.getInt(0)).toSet
    (v1Files, listing(), touchedSet)
  }

  def lakeVacuum(s: SparkSession, dir: String, base: String): DataFrame = {
    val (v1Files, _, touched) = twoCommitLake(s, dir, base)
    // Orphans: v1 files inside rewritten buckets — already
    // materialized on the driver (the one-file-per-bucket discipline
    // caps the listing at |buckets| rows), so the deletes can't pull
    // the rug from under a lazy listing.
    import s.implicits._
    val orphanRows = v1Files.filter { case (b, _) => touched(b) }
    // Resolve the filesystem PER PATH: the paths carry their own
    // scheme (input_file_name), and the default FS may be a different
    // store entirely on a non-local deployment.
    orphanRows.foreach { case (_, p) =>
      val hp = new org.apache.hadoop.fs.Path(new java.net.URI(p))
      hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(hp, false)
    }
    val removed = orphanRows.groupBy(_._1).view
      .mapValues(_.length.toLong).toSeq
      .toDF("bucket", "files_removed")
    s.read.schema(lakeSchema).parquet(base)
      .select(col("bucket"), col("value"), input_file_name().as("f"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(12,2)")).cast("double")
          .as("total_value"),
        countDistinct(col("f")).as("files_live"))
      .join(broadcast(removed), Seq("bucket"), "left")
      .select(col("bucket"), col("n_rows"), col("total_value"),
        col("files_live"),
        coalesce(col("files_removed"), lit(0L)).as("files_removed"))
      .orderBy("bucket")
  }

  /** Small-file compaction / OPTIMIZE (q79) — the most-run lakehouse
    * maintenance job: a streaming sink's per-micro-batch commits
    * (st08/st28's shape) accumulate many small files, and OPTIMIZE
    * bin-packs them into target-size files under a NEW commit, then
    * swaps the manifest — the old files stay on disk, so a reader
    * pinned to the pre-compaction manifest is untouched (q76's
    * invariant) and q75's vacuum later reclaims them.
    *
    * The lake here: 6 time-slice micro-batch appends of the events
    * CDC feed, each `repartition(bucket)`+`partitionBy(bucket)` so
    * every append commits exactly one file per touched bucket —
    * ≤ 6·|buckets| small files. The OPTIMIZE plan is driver-side
    * over file-level stats only (one bounded aggregate standing in
    * for the parquet footer row counts a table format keeps in its
    * manifest — ≤ 6·|buckets| rows): within each bucket, files in
    * time order pack by CUMULATIVE-OFFSET binning, bin =
    * rows_before DIV target (the same rule Spark's own
    * maxPartitionBytes uses to coalesce small files into scan
    * partitions) with target = total_rows DIV 16. A production
    * OPTIMIZE bins by bytes; rows is the deterministic stand-in
    * that lets the oracle restate the exact bin count. The rewrite
    * itself is ONE distributed job: the v1 files joined to the
    * broadcast (file → bin) plan, one shuffle keyed (bucket, bin),
    * one file out per bin.
    *
    * Returns (result frame, v1 manifest, v2 manifest) so the spec
    * can prove the time-travel and vacuum properties physically.
    * The frame carries both snapshots' per-bucket content read back
    * VIA THEIR MANIFESTS plus physical file counts — the oracle
    * restates content from the base table and the file counts from
    * the slice/bin arithmetic, so the hash match proves the rewrite
    * was lossless AND the layout matched the plan.
    */
  private[graft] def lakeOptimizeFull(s: SparkSession, dir: String,
      base: String, slices: Int = 6, fanout: Int = 16)
      : (DataFrame, Array[(Int, String)], Array[(Int, String)]) = {
    import s.implicits._
    val data1 = new File(base, "data1").getAbsolutePath
    val data2 = new File(base, "data2").getAbsolutePath
    def empty = Seq.empty[(String, Int, Long, Double, Long)]
      .toDF("snapshot", "bucket", "n_rows", "total_value", "n_files")
    val ev = t(s, dir)("events")
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"))
    val b = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .collect()(0) // 1-row bounded fetch
    if (b.isNullAt(0)) return (empty, Array.empty, Array.empty)
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    // Integer slice id: (us - mn) * slices DIV span — slices time
    // ranges standing in for micro-batch commit boundaries.
    Checkpoints.using { cps =>
      val sliced = cps(ev
        .withColumn("bucket", (col("user_id") % 8).cast("int"))
        .withColumn("slice", expr(
          s"CAST(((us - ${mn}L) * $slices) DIV ${mx - mn + 1}L AS INT)")))
      // The slice filters reuse one scan.
      for (i <- 0 until slices)
        sliced.filter(col("slice") === i)
          .select(col("user_id"), col("us"), col("event_id"),
            col("value"), col("bucket"))
          .repartition(col("bucket"))
          .write.partitionBy("bucket").mode("append").parquet(data1)
    }
    // Planning stats — the manifest's file-level metadata (row count
    // + min timestamp per file), ≤ slices·|buckets| rows.
    val stats = s.read.schema(lakeSchema).parquet(data1)
      .groupBy(col("bucket"), input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"), min(col("us")).as("ord"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val v1Manifest = stats.map { case (bk, f, _, _) => (bk, f) }
    val target = math.max(1L, stats.map(_._3).sum / fanout)
    // Cumulative-offset binning per bucket, files in time order.
    val plan = stats.groupBy(_._1).toSeq.flatMap { case (_, fs) =>
      var cum = 0L
      fs.sortBy(_._4).map { case (_, f, n, _) =>
        val bin = (cum / target).toInt
        cum += n
        (f, bin)
      }
    }.toDF("f", "bin")
    // The rewrite: one job, one shuffle keyed (bucket, bin), one
    // file per bin (each group lands wholly in one task; partitionBy
    // splits a task's output per directory).
    s.read.schema(lakeSchema).parquet(data1)
      .withColumn("f", input_file_name())
      .join(broadcast(plan), "f")
      .select(col("user_id"), col("us"), col("event_id"),
        col("value"), col("bucket"), col("bin"))
      .repartition(col("bucket"), col("bin"))
      .write.partitionBy("bucket", "bin").mode("append").parquet(data2)
    val v2Manifest = s.read.schema(lakeSchema + ", bin INT")
      .parquet(data2)
      .select(col("bucket"), input_file_name().as("f")).distinct()
      .collect().map(r => (r.getInt(0), r.getString(1)))
    // Both snapshots read back VIA THEIR MANIFESTS (explicit path
    // lists — the swap is which list a reader gets), with physical
    // per-bucket file counts from the manifests themselves.
    def snap(tag: String, basePath: String, schema: String,
        manifest: Array[(Int, String)]): DataFrame = {
      val nf = manifest.groupBy(_._1).view.mapValues(_.length.toLong)
        .toSeq.toDF("bucket", "n_files")
      s.read.option("basePath", basePath).schema(schema)
        .parquet(manifest.map(_._2).toSeq: _*)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(12,2)")).cast("double")
            .as("total_value"))
        .join(broadcast(nf), Seq("bucket"))
        .select(lit(tag).as("snapshot"), col("bucket"),
          col("n_rows"), col("total_value"), col("n_files"))
    }
    val out = snap("pre", data1, lakeSchema, v1Manifest)
      .unionByName(snap("post", data2, lakeSchema + ", bin INT",
        v2Manifest))
      .orderBy("snapshot", "bucket")
    (out, v1Manifest, v2Manifest)
  }

  def lakeOptimize(s: SparkSession, dir: String, base: String): DataFrame =
    lakeOptimizeFull(s, dir, base)._1

  /** The q79 oracle: content per bucket straight from the base
    * table; pre file counts = slices with activity per bucket; post
    * file counts = distinct cumulative-offset bins (the identical
    * integer binning rule).
    */
  private[graft] def sqlLakeOptimize(slices: Int, fanout: Int): String =
    s"""
      WITH ev AS (
        SELECT event_id, user_id,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
            AND ts IS NOT NULL),
      bounds AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM ev),
      sliced AS (
        SELECT user_id, value,
          CAST(user_id % 8 AS INT) AS bucket,
          CAST(((us - mn) * $slices) // (mx - mn + 1) AS INT) AS slice
        FROM ev, bounds),
      fc AS (
        SELECT bucket, slice, COUNT(*) AS n
        FROM sliced GROUP BY bucket, slice),
      tgt AS (SELECT GREATEST(1, SUM(n) // $fanout) AS target FROM fc),
      binned AS (
        SELECT bucket, slice, n,
          COALESCE(SUM(n) OVER (PARTITION BY bucket ORDER BY slice
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS cumb
        FROM fc),
      bins AS (
        SELECT bucket, COUNT(DISTINCT cumb // t.target) AS n_bins
        FROM binned, tgt t GROUP BY bucket),
      pre AS (SELECT bucket, COUNT(*) AS nf FROM fc GROUP BY bucket),
      content AS (
        SELECT bucket, COUNT(*) AS n_rows,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
            AS total_value
        FROM sliced GROUP BY bucket)
      SELECT 'pre' AS snapshot, c.bucket, c.n_rows, c.total_value,
        CAST(p.nf AS BIGINT) AS n_files
      FROM content c JOIN pre p USING (bucket)
      UNION ALL
      SELECT 'post' AS snapshot, c.bucket, c.n_rows, c.total_value,
        CAST(b.n_bins AS BIGINT) AS n_files
      FROM content c JOIN bins b USING (bucket)
      ORDER BY snapshot, bucket"""

  /** Optimistic-concurrency lake commits (q82) — the write-isolation
    * protocol every multi-writer table format runs (Delta/Iceberg's
    * optimistic commit): writers prepare bucket-scoped copy-on-write
    * files against the snapshot they READ, then claim the next
    * version by an atomic compare-and-set on the version ledger
    * (create-exclusive of `_versions/v<n>`); a loser detects the
    * conflict, REBASES its delta against the now-current snapshot,
    * and retries. Without the rebase, the loser's stale files would
    * drop the winner's updates from any co-touched bucket — the
    * classic lost update, which the spec demonstrates physically.
    *
    * The run: v1 = the CDC state compacted at the feed midpoint;
    * writer A prepares the third-quarter window against v1 and wins
    * v2; writer B prepares the last-quarter window ALSO against v1
    * (stale), loses the v2 CAS, rebases against v2, and commits v3.
    * All window boundaries are integer midpoints, so the oracle
    * restates the three sequential snapshot states exactly; the
    * emitted `retries` audit (0/0/1) is itself oracle-checked via
    * the same window-nonempty flags the protocol branches on.
    *
    * Scale shape: commits are bucket-scoped copy-on-write (touched
    * buckets only, the st28 discipline); the ledger CAS is one
    * filesystem primitive; a rebase costs one recompute of the
    * LOSER'S buckets, never a table rewrite. Manifests stay
    * bounded by the one-file-per-bucket discipline.
    */
  private[graft] def lakeOptimisticFull(s: SparkSession, dir: String,
      base: String): (DataFrame, Array[String], Boolean) = {
    import s.implicits._
    def empty = Seq.empty[(String, Int, Long, Double, Int)]
      .toDF("version", "bucket", "n_rows", "total_value", "retries")
    val ev = t(s, dir)("events")
      .filter(col("event_type").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("value"),
        (col("user_id") % 8).cast("int").as("bucket"))
    val b = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .collect()(0) // 1-row bounded fetch
    if (b.isNullAt(0)) return (empty, Array.empty, false)
    val (mn, mx) = (b.getLong(0), b.getLong(1))
    val cut1 = (mn + mx) / 2
    val cut2 = (cut1 + mx) / 2
    def compact(src: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("us").desc, col("event_id").desc)
      src.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("us"), col("event_id"),
          col("value"), col("bucket"))
    }
    def writeCommit(state: DataFrame, name: String): Unit =
      state.repartition(col("bucket"))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(s"$base/$name")
    def listing(name: String): Array[(Int, String)] =
      s.read.schema(lakeSchema).parquet(s"$base/$name")
        .select(col("bucket"), input_file_name().as("f")).distinct()
        .collect().map(r => (r.getInt(0), r.getString(1)))
    // The version ledger: claiming version n = creating v<n>
    // EXCLUSIVELY — the one atomic filesystem primitive the whole
    // protocol needs.
    val ledger = new File(base, "_versions")
    ledger.mkdirs()
    def cas(version: Int): Boolean =
      try {
        java.nio.file.Files.createFile(
          new File(ledger, s"v$version").toPath)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    // v1: the base snapshot.
    writeCommit(compact(ev.filter(col("us") <= cut1)), "c1")
    require(cas(1), s"ledger not fresh under $base")
    val v1Files = listing("c1")
    // Bounded driver fetches: ≤ |buckets| touched-bucket ids each.
    val touchedA = ev.filter(col("us") > cut1 && col("us") <= cut2)
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
    val touchedB = ev.filter(col("us") > cut2)
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
    if (touchedA.isEmpty || touchedB.isEmpty) {
      // Degenerate feed: no concurrent writers to race. Emit v1 only.
      val out = readManifest(s, v1Files).groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(12,2)")).cast("double")
            .as("total_value"))
        .select(lit("v1").as("version"), col("bucket"),
          col("n_rows"), col("total_value"), lit(0).as("retries"))
        .orderBy("bucket")
      return (out, v1Files.map(_._2), false)
    }
    // Writer A: bucket-scoped copy-on-write against v1 — full state
    // of its touched buckets as of cut2.
    writeCommit(compact(ev.filter(col("us") <= cut2))
      .filter(col("bucket").isin(touchedA.toSeq: _*)), "cA")
    require(cas(2), "writer A lost a race nobody else was running")
    val v2Files = v1Files.filterNot(t => touchedA(t._1)) ++ listing("cA")
    // Writer B: prepared against the STALE v1 — per-user latest of
    // {v1 state, B's own window}, blind to A's window. These files
    // are written (a real writer has them on disk before the CAS)
    // and must LOSE.
    writeCommit(compact(ev.filter(col("us") <= cut1 || col("us") > cut2))
      .filter(col("bucket").isin(touchedB.toSeq: _*)), "cB_stale")
    val staleBFiles = listing("cB_stale").map(_._2)
    val bFirstCas = cas(2) // conflict: v2 is taken
    var retries = 0
    val bFiles =
      if (bFirstCas) {
        // Unreachable under this ledger (A claimed v2 above), but an
        // uncontended B commits its prepared files as-is.
        listing("cB_stale")
      } else {
        // Rebase: recompute B's buckets against the CURRENT snapshot
        // (which includes A's window), then claim the next version.
        retries = 1
        writeCommit(compact(ev)
          .filter(col("bucket").isin(touchedB.toSeq: _*)), "cB")
        require(cas(3), "rebased writer B must win v3")
        listing("cB")
      }
    val v3Files = v2Files.filterNot(t => touchedB(t._1)) ++ bFiles
    def agg(files: Array[(Int, String)], tag: String,
        r: Int): DataFrame =
      readManifest(s, files).groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(12,2)")).cast("double")
            .as("total_value"))
        .select(lit(tag).as("version"), col("bucket"),
          col("n_rows"), col("total_value"), lit(r).as("retries"))
    val out = agg(v1Files, "v1", 0)
      .unionByName(agg(v2Files, "v2", 0))
      .unionByName(agg(v3Files, "v3", retries))
      .orderBy("version", "bucket")
    (out, staleBFiles, !bFirstCas)
  }

  /** Read a manifest's files (commit data files carry no bucket
    * column — it is partition metadata; recomputed, it is a pure
    * function of the key).
    */
  private[graft] def readManifest(s: SparkSession,
      files: Array[(Int, String)]): DataFrame = {
    val schema = "user_id BIGINT, us BIGINT, event_id BIGINT, value DOUBLE"
    if (files.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          schema + ", bucket INT"))
    else s.read.schema(schema).parquet(files.map(_._2).toSeq: _*)
      .withColumn("bucket", (col("user_id") % 8).cast("int"))
  }

  def lakeOptimisticCommit(s: SparkSession, dir: String,
      base: String): DataFrame =
    lakeOptimisticFull(s, dir, base)._1

  /** The q82 oracle: the three sequential snapshot states restated
    * from the base table (integer window boundaries), plus the
    * retry audit derived from the same window-nonempty flags the
    * protocol branches on.
    */
  // def, not val: `all` initializes earlier in this object and would
  // capture a null val (Scala top-to-bottom val init).
  private[graft] def sqlLakeOptimistic: String = """
      WITH ev AS (
        SELECT event_id, user_id,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us, value,
          CAST(user_id % 8 AS INT) AS bucket
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
            AND ts IS NOT NULL),
      cuts AS (
        SELECT (MIN(us) + MAX(us)) // 2 AS c1,
          ((MIN(us) + MAX(us)) // 2 + MAX(us)) // 2 AS c2
        FROM ev),
      flags AS (
        SELECT
          EXISTS(SELECT 1 FROM ev, cuts WHERE us > c1 AND us <= c2)
            AND EXISTS(SELECT 1 FROM ev, cuts WHERE us > c2) AS both_w
        FROM (SELECT 1)),
      s1 AS (
        SELECT user_id, value, bucket FROM (
          SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY us DESC, event_id DESC) AS rn
          FROM ev e, cuts WHERE e.us <= cuts.c1) WHERE rn = 1),
      s2full AS (
        SELECT user_id, value, bucket FROM (
          SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY us DESC, event_id DESC) AS rn
          FROM ev e, cuts WHERE e.us <= cuts.c2) WHERE rn = 1),
      s3full AS (
        SELECT user_id, value, bucket FROM (
          SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY us DESC, event_id DESC) AS rn
          FROM ev e) WHERE rn = 1),
      ta AS (SELECT DISTINCT bucket FROM ev, cuts
             WHERE us > c1 AND us <= c2),
      tb AS (SELECT DISTINCT bucket FROM ev, cuts WHERE us > c2),
      v2 AS (
        SELECT * FROM s2full WHERE bucket IN (SELECT bucket FROM ta)
        UNION ALL
        SELECT * FROM s1 WHERE bucket NOT IN (SELECT bucket FROM ta)),
      v3 AS (
        SELECT * FROM s3full WHERE bucket IN (SELECT bucket FROM tb)
        UNION ALL
        SELECT * FROM v2 WHERE bucket NOT IN (SELECT bucket FROM tb))
      SELECT 'v1' AS version, bucket, COUNT(*) AS n_rows,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        0 AS retries
      FROM s1 GROUP BY bucket
      UNION ALL
      SELECT 'v2', bucket, COUNT(*),
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 0
      FROM v2, flags WHERE flags.both_w GROUP BY bucket
      UNION ALL
      SELECT 'v3', bucket, COUNT(*),
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 1
      FROM v3, flags WHERE flags.both_w GROUP BY bucket
      ORDER BY version, bucket"""

  /** Time-travel read (q76) — the copy-on-write invariant q75's
    * vacuum exists to eventually break ON PURPOSE: after the v2
    * commit, a reader pinned to the v1 MANIFEST still sees exactly
    * the v1 state (the superseding commit appended, never mutated),
    * while a v2-manifest reader sees the current state of touched
    * buckets beside the v1 state of untouched ones. Both snapshots
    * are served from the SAME directory purely by file selection —
    * the `basePath` option keeps partition-column recovery intact on
    * explicit path lists. Manifests are driver-side arrays bounded by
    * the one-file-per-bucket discipline.
    */
  def timeTravelRead(s: SparkSession, dir: String, base: String): DataFrame = {
    val (v1Files, files2, touched) = twoCommitLake(s, dir, base)
    val v1set = v1Files.map(_._2).toSet
    val v1paths = v1Files.map(_._2).toSeq
    val v2paths = (files2.collect { case (_, f) if !v1set(f) => f } ++
      v1Files.collect { case (b, f) if !touched(b) => f }).toSeq
    def readSnap(paths: Seq[String], tag: String): DataFrame = {
      val snap =
        if (paths.isEmpty)
          s.read.schema(lakeSchema).parquet(base).filter(lit(false))
        else s.read.option("basePath", base).schema(lakeSchema)
          .parquet(paths: _*)
      snap.groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(12,2)")).cast("double")
            .as("total_value"))
        .select(lit(tag).as("snapshot"), col("bucket"),
          col("n_rows"), col("total_value"))
    }
    readSnap(v1paths, "v1").unionByName(readSnap(v2paths, "v2"))
      .orderBy("snapshot", "bucket")
  }
}
