package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import D.{dbl, m}

/** Second tranche of relational operators: temporal joins (as-of,
  * range), sketches, cube.
  *
  * As-of join is deliberately NOT an inequality join: the naive
  * `l.ts >= r.ts` join explodes to O(n·m) pairs then filters — a
  * BroadcastNestedLoopJoin at best. The scalable Spark-first shape is
  * union + keyed window with IGNORE NULLS last_value: ONE shuffle on
  * the key, linear state, works at any skew. Range joins against a
  * SMALL interval dimension do use the inequality join — with the dim
  * broadcast that's a per-row interval probe, which is exactly right.
  */
object Relational2 {

  private def t(s: SparkSession, dir: String)(n: String): DataFrame =
    Tables.load(s, dir, n)

  /** ANALYZE-style column profiling (q56) — the data-quality pass
    * every ingest runs: per-column null count, exact distinct count,
    * min/max. One branch per column, each a PRUNED single-column scan
    * with partial-combining aggregates, unioned into the long-form
    * report — profiling N columns = N cheap column scans, not one
    * scan carrying every column through an Expand. Measured
    * (README "Measured q56 profiling shape", 6M-row parquet,
    * local[32], steady-state second pass): the 4 pruned scans run
    * 1.61 s vs 19.6 s for the single-scan Expand variant (12×) — the
    * Expand multiplies rows ×4 before aggregating and its
    * count-distinct shuffle carries every column's stringified values
    * through one exchange, while each pruned branch reads one column
    * and partial-aggregates at the scan. Values are rendered repr-safely: money through exact
    * DECIMAL(12,2) strings, dates as ISO strings.
    */
  def columnProfile(li: DataFrame): DataFrame = {
    // min/max aggregate the TYPED value (decimal/date ordering), and
    // only the final projection renders it — aggregating the string
    // repr would order lexicographically ("10000" < "901").
    def prof(column: String, typed: Column,
        toRepr: Column => Column): DataFrame =
      li.select(col(column).as("c"), typed.as("v"))
        .agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("c"))).as("n_nulls"),
          countDistinct(col("c")).as("n_distinct"),
          min(col("v")).as("mn"),
          max(col("v")).as("mx"))
        .select(lit(column).as("column"), col("n_rows"),
          col("n_nulls"), col("n_distinct"),
          toRepr(col("mn")).as("min_repr"),
          toRepr(col("mx")).as("max_repr"))
    prof("l_returnflag", col("l_returnflag"), identity)
      .unionByName(prof("l_quantity",
        m(col("l_quantity")), _.cast("string")))
      .unionByName(prof("l_extendedprice",
        m(col("l_extendedprice")), _.cast("string")))
      .unionByName(prof("l_shipdate",
        col("l_shipdate"), c => date_format(c, "yyyy-MM-dd")))
      .orderBy("column")
  }

  /** Generic as-of join via union+window: for each left row, the
    * latest right row with `rightTime` <= `leftTime`, per key. Returns
    * the left rows with `asof_<valueCol>` appended.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTime: String, rightTime: String, valueCol: String): DataFrame = {
    val vType = right.schema(valueCol).dataType
    val l = left.select(
      (left.columns.map(col) :+
        lit(1).as("_side") :+
        lit(null).cast(vType).as("_v")): _*)
    // Right rows carry their own event time in the left's time slot;
    // every other non-key left column rides along as null.
    val r = right.select(
      (left.columns.map {
        case c if c == leftTime => col(rightTime).as(c)
        case c if c == key => col(key)
        case c => lit(null).cast(left.schema(c).dataType).as(c)
      } :+ lit(0).as("_side") :+ col(valueCol).cast(vType).as("_v")): _*)
    // Right rows sort before left rows at the same timestamp
    // (_side 0 < 1): an exactly-simultaneous right row IS visible to
    // the left row — the usual as-of convention.
    val w = Window.partitionBy(col(key))
      .orderBy(col(leftTime), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn(s"asof_$valueCol", last(col("_v"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .drop("_side", "_v")
  }

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    Q(
      "q25_asof_join",
      (s, dir) => {
        // For each purchase event: the user's most recent view event
        // at-or-before it. Union+window as-of (one shuffle on
        // user_id).
        val ev = t(s, dir)("events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "us")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"),
            col("us").as("view_us"))
        asofJoin(purchases, views, key = "user_id",
          leftTime = "us", rightTime = "view_us", valueCol = "view_us")
          .select(col("user_id"), col("event_id"),
            col("us").as("purchase_us"),
            // -1 sentinel for "no prior view": a nullable int column
            // degrades to float64 in arrow/pandas layers, breaking
            // value-hash comparison.
            coalesce(col("asof_view_us"), lit(-1L)).as("asof_view_us"))
          .orderBy("user_id", "purchase_us", "event_id")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, event_type,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        u AS (
          SELECT user_id, event_id, us, 1 AS side, NULL::BIGINT AS v
          FROM ev WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, NULL, us, 0 AS side, us AS v
          FROM ev WHERE event_type = 'view'),
        w AS (
          SELECT user_id, event_id, us, side,
            LAST_VALUE(v IGNORE NULLS) OVER (
              PARTITION BY user_id ORDER BY us, side
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_us
          FROM u)
        SELECT user_id, event_id, us AS purchase_us,
          COALESCE(asof_view_us, -1) AS asof_view_us
        FROM w WHERE side = 1
        ORDER BY user_id, purchase_us, event_id""")),
    // ----------------------------------------------------------------
    Q(
      "q51_asof_native",
      (s, dir) => {
        // Same as-of semantics as q25, through the NATIVE
        // whole-operator path (AsOfJoinPlan -> GraftStrategies ->
        // AsOfJoinExec): each side sorts independently and one
        // streaming merge per partition replaces the union + WindowExec
        // — O(|L|+|R|) with O(1) state. Same oracle as q25 proves the
        // two paths agree bit-for-bit.
        val ev = t(s, dir)("events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "us")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("us").as("view_us"))
        Joins.asofJoinNative(purchases, views,
            leftKey = "user_id", rightKey = "v_user",
            leftTime = "us", rightTime = "view_us")
          .select(col("user_id"), col("event_id"),
            col("us").as("purchase_us"),
            coalesce(col("view_us"), lit(-1L)).as("asof_view_us"))
          .orderBy("user_id", "purchase_us", "event_id")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, event_type,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        u AS (
          SELECT user_id, event_id, us, 1 AS side, NULL::BIGINT AS v
          FROM ev WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, NULL, us, 0 AS side, us AS v
          FROM ev WHERE event_type = 'view'),
        w AS (
          SELECT user_id, event_id, us, side,
            LAST_VALUE(v IGNORE NULLS) OVER (
              PARTITION BY user_id ORDER BY us, side
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_view_us
          FROM u)
        SELECT user_id, event_id, us AS purchase_us,
          COALESCE(asof_view_us, -1) AS asof_view_us
        FROM w WHERE side = 1
        ORDER BY user_id, purchase_us, event_id""")),
    // ----------------------------------------------------------------
    Q(
      "q26_range_join",
      (s, dir) => {
        val sparkS = s
        import sparkS.implicits._
        // Interval-dimension range join: the dim is tiny → broadcast;
        // the inequality join becomes a per-row interval probe.
        val eras = Seq(
          ("early", "1995-01-01", "1997-01-01"),
          ("mid", "1997-01-01", "1999-01-01"),
          ("late", "1999-01-01", "2002-01-01"))
          .toDF("era", "start_d", "end_d")
          .select(col("era"),
            col("start_d").cast("timestamp").as("start_ts"),
            col("end_d").cast("timestamp").as("end_ts"))
        val o = t(s, dir)("orders")
        o.join(broadcast(eras),
          o("o_orderdate") >= eras("start_ts") &&
            o("o_orderdate") < eras("end_ts"))
          .groupBy("era")
          .agg(
            count(lit(1)).as("n_orders"),
            dbl(sum(m(col("o_totalprice")))).as("sum_price"))
          .orderBy("era")
      },
      Some("""
        WITH eras(era, start_ts, end_ts) AS (VALUES
          ('early', TIMESTAMP '1995-01-01', TIMESTAMP '1997-01-01'),
          ('mid',   TIMESTAMP '1997-01-01', TIMESTAMP '1999-01-01'),
          ('late',  TIMESTAMP '1999-01-01', TIMESTAMP '2002-01-01'))
        SELECT era, COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders JOIN eras
          ON o_orderdate >= start_ts AND o_orderdate < end_ts
        GROUP BY era
        ORDER BY era""")),
    // ----------------------------------------------------------------
    Q(
      "q53_recursive_chain",
      (s, dir) => {
        // Recursive CTE (Spark 4 WITH RECURSIVE) — genuinely
        // iteration-requiring SQL: walk the first 5 orders of each
        // customer's lifetime through LEAD next-pointers carrying a
        // CAPPED running total. The cap makes the fold path-dependent
        // (LEAST clamps state between steps), so no window frame
        // expresses it — this is the SQL form of the d08 fixpoint
        // family. Scale shape: the next-pointer view is materialized
        // ONCE (localCheckpoint — Spark re-evaluates a non-recursive
        // CTE on every recursive iteration: the 150 k-row window ran
        // 5× and the query cost 11 s at sf0.1 before this; 1.5 s
        // after); each step then equi-joins a one-row-per-customer
        // frontier against it, and depth is the walk cap, NOT table
        // size. All arithmetic stays in DECIMAL(12,2) — exact, so the
        // walk is bit-identical in the oracle's identical recursive
        // query.
        t(s, dir)("orders").createOrReplaceTempView("graft_q53_orders")
        val chain = s.sql(
          """SELECT o_custkey AS ck, o_orderkey AS ok,
               CAST(o_totalprice AS DECIMAL(12,2)) AS price,
               LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey)
                 AS next_ok,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
             FROM graft_q53_orders""")
          .localCheckpoint()
        chain.createOrReplaceTempView("graft_q53_chain")
        val out = s.sql("""
          WITH RECURSIVE walk AS (
            SELECT ck, ok, next_ok, 1 AS pos,
              CAST(LEAST(price, 50000.00) AS DECIMAL(12,2)) AS capped
            FROM graft_q53_chain WHERE rn = 1
            UNION ALL
            SELECT c.ck, c.ok, c.next_ok, w.pos + 1,
              CAST(LEAST(w.capped + c.price, 50000.00) AS DECIMAL(12,2))
            FROM walk w JOIN graft_q53_chain c
              ON c.ck = w.ck AND c.ok = w.next_ok
            WHERE w.pos < 5
          )
          SELECT ck AS o_custkey, ok AS o_orderkey, pos,
            CAST(capped AS DOUBLE) AS capped_cum
          FROM walk
          ORDER BY o_custkey, pos""")
        // Analysis is eager, so the returned plan holds the
        // checkpointed chain directly — drop the views or the LAST
        // run's materialized blocks stay catalog-pinned for the
        // session lifetime (EventStream.drainMemoryTable's rule).
        s.catalog.dropTempView("graft_q53_chain")
        s.catalog.dropTempView("graft_q53_orders")
        out
      },
      Some("""
        WITH RECURSIVE chain AS (
          SELECT o_custkey AS ck, o_orderkey AS ok,
            CAST(o_totalprice AS DECIMAL(12,2)) AS price,
            LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey)
              AS next_ok,
            ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS rn
          FROM orders
        ),
        walk AS (
          SELECT ck, ok, next_ok, 1 AS pos,
            CAST(LEAST(price, 50000.00) AS DECIMAL(12,2)) AS capped
          FROM chain WHERE rn = 1
          UNION ALL
          SELECT c.ck, c.ok, c.next_ok, w.pos + 1,
            CAST(LEAST(w.capped + c.price, 50000.00) AS DECIMAL(12,2))
          FROM walk w JOIN chain c ON c.ck = w.ck AND c.ok = w.next_ok
          WHERE w.pos < 5
        )
        SELECT ck AS o_custkey, ok AS o_orderkey, pos,
          CAST(capped AS DOUBLE) AS capped_cum
        FROM walk
        ORDER BY o_custkey, pos""")),
    // ----------------------------------------------------------------
    Q(
      "q54_lateral_topn",
      (s, dir) => {
        // LATERAL correlated subquery — the per-row dependent-join SQL
        // surface (Spark 4 plans it as a rewritten domain join; the
        // LIMIT stays inside the lateral branch, so each nation pulls
        // only its top-2 customers, never the full table per row).
        // Values pass through untouched from parquet — no arithmetic,
        // nothing to round; ties inside the LIMIT break on c_custkey.
        t(s, dir)("nation").createOrReplaceTempView("graft_q54_nation")
        t(s, dir)("customer").createOrReplaceTempView("graft_q54_customer")
        s.sql("""
          SELECT n.n_name, c.c_name, c.c_acctbal
          FROM graft_q54_nation n,
          LATERAL (SELECT c_name, c_acctbal FROM graft_q54_customer
                   WHERE c_nationkey = n.n_nationkey
                   ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
          ORDER BY n.n_name, c.c_acctbal DESC, c.c_name""")
      },
      Some("""
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_name, c_acctbal FROM customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        ORDER BY n.n_name, c.c_acctbal DESC, c.c_name""")),
    // ----------------------------------------------------------------
    Q(
      "q55_unpivot_measures",
      (s, dir) =>
        // UNPIVOT/melt — the wide→long reshape feature pipelines use
        // before per-measure aggregation. One Expand node (each input
        // row fans out to 3), then a partial-combining aggregate —
        // no shuffle grows beyond (flag, measure) cardinality. All
        // measures are cast to one exact DECIMAL type up front
        // (unpivot requires a common type; rates widen losslessly).
        t(s, dir)("lineitem")
          .select(col("l_returnflag"),
            m(col("l_quantity")).as("quantity"),
            m(col("l_extendedprice")).as("extendedprice"),
            m(col("l_discount")).as("discount"))
          .unpivot(
            Array(col("l_returnflag")),
            Array(col("quantity"), col("extendedprice"), col("discount")),
            "measure", "value")
          .groupBy("l_returnflag", "measure")
          .agg(count(lit(1)).as("n"), dbl(sum(col("value"))).as("sum_value"))
          .orderBy("l_returnflag", "measure"),
      Some("""
        WITH long AS (
          SELECT l_returnflag, 'quantity' AS measure,
            CAST(l_quantity AS DECIMAL(12,2)) AS value FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'extendedprice',
            CAST(l_extendedprice AS DECIMAL(12,2)) FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'discount',
            CAST(l_discount AS DECIMAL(12,2)) FROM lineitem)
        SELECT l_returnflag, measure, COUNT(*) AS n,
          CAST(SUM(value) AS DOUBLE) AS sum_value
        FROM long
        GROUP BY l_returnflag, measure
        ORDER BY l_returnflag, measure""")),
    // ----------------------------------------------------------------
    Q(
      "q56_column_profile",
      (s, dir) => columnProfile(t(s, dir)("lineitem")),
      Some("""
        SELECT 'l_returnflag' AS "column", COUNT(*) AS n_rows,
          COUNT(*) - COUNT(l_returnflag) AS n_nulls,
          COUNT(DISTINCT l_returnflag) AS n_distinct,
          MIN(l_returnflag) AS min_repr, MAX(l_returnflag) AS max_repr
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity),
          COUNT(DISTINCT l_quantity),
          CAST(MIN(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR),
          CAST(MAX(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice),
          COUNT(DISTINCT l_extendedprice),
          CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR),
          CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
        FROM lineitem
        UNION ALL
        SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate),
          COUNT(DISTINCT l_shipdate),
          strftime(MIN(l_shipdate), '%Y-%m-%d'),
          strftime(MAX(l_shipdate), '%Y-%m-%d')
        FROM lineitem
        ORDER BY "column""""))
    ,
    // ----------------------------------------------------------------
    Q(
      "q57_filter_clause_aggs",
      (s, dir) => {
        // Standard-SQL FILTER clause on aggregates (the declarative
        // form of q14's CASE-conditional aggregation): one scan, one
        // partial-combining aggregate carrying several differently-
        // filtered accumulators — no self-joins, no re-scans per
        // predicate. Decimal-exact sums throughout.
        t(s, dir)("orders").createOrReplaceTempView("graft_q57_orders")
        val out = s.sql("""
          SELECT o_orderpriority,
            COUNT(*) AS n_orders,
            COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                   FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
              AS sum_finished,
            COUNT(*) FILTER (WHERE o_totalprice >= 100000) AS n_large
          FROM graft_q57_orders
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
        s.catalog.dropTempView("graft_q57_orders")
        out
      },
      Some("""
        SELECT o_orderpriority,
          COUNT(*) AS n_orders,
          COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                 FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
            AS sum_finished,
          COUNT(*) FILTER (WHERE o_totalprice >= 100000) AS n_large
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")),
    // ----------------------------------------------------------------
    Q(
      "q58_hll_merge",
      (s, dir) => {
        // Mergeable distinct-count sketches — the 100 TB shape for
        // COUNT(DISTINCT): build an HLL sketch per source partition /
        // per group, union the SKETCHES (hll_union_agg), estimate
        // once. The shuffle carries one 2^lgK-register sketch per
        // group instead of every distinct key; re-aggregating a
        // rollup costs a union, not a rescan. Sketch estimates are
        // not cross-engine reproducible, so the oracle states the
        // INVARIANTS: the merged estimate lands within the sketch's
        // error envelope of the exact count (lgK=14 → rsd ≈ 0.8%;
        // 5% ≈ 6σ), and union-of-group-sketches agrees with the
        // sketch built in one pass over the union (2% envelope —
        // same registers, modulo sparse-mode promotion).
        val li = t(s, dir)("lineitem")
        val perGroup = li.groupBy("l_returnflag")
          .agg(hll_sketch_agg(col("l_orderkey"), 14).as("sk"))
        val merged = perGroup
          .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
            .as("n_merged"))
        val global = li.agg(
          hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"), 14))
            .as("n_global"),
          countDistinct(col("l_orderkey")).as("n_exact"))
        // Two 1-row sides: the cross join is a broadcast over one row.
        // Envelope stated multiplication-form (|Δ| ≤ ε·exact), not as a
        // ratio — same predicate for exact > 0, and ANSI-safe on an
        // empty table (a 0-row input must not DIVIDE_BY_ZERO).
        merged.crossJoin(global).select(
          col("n_exact"),
          (abs(col("n_merged") - col("n_exact")).cast("double") <=
            lit(0.05) * col("n_exact")).as("merged_within_err"),
          (abs(col("n_merged") - col("n_global")).cast("double") <=
            lit(0.02) * col("n_global")).as("merge_matches_global"))
      },
      Some("""
        SELECT COUNT(DISTINCT l_orderkey) AS n_exact,
          TRUE AS merged_within_err,
          TRUE AS merge_matches_global
        FROM lineitem""")),
    // ----------------------------------------------------------------
    Q(
      "q59_percentile_sketch",
      (s, dir) => {
        // Mergeable percentile sketch (graft PercentileSketchAgg over
        // Spark's GK QuantileSummaries): every partition folds to an
        // O(1/ε·log εn) summary, partial aggregation merges the
        // summaries — rows are visited once, the shuffle carries only
        // sketches. The GK rank contract (the returned value's true
        // rank is within ε·n of p·n) survives the merge; the oracle
        // states that invariant, tie-aware: the value's rank interval
        // [count(<v), count(<=v)] must intersect [⌊(p-ε)n⌋, ⌈(p+ε)n⌉].
        val eps = 0.01
        val pcts = Seq(0.5, 0.95)
        val sketch = udaf(
          new graft.functions.PercentileSketchAgg(pcts, eps),
          org.apache.spark.sql.Encoders.scalaDouble)
        val li = t(s, dir)("lineitem").select(
          col("l_extendedprice").cast("double").as("v"))
        val qv = li.agg(sketch(col("v")).as("qs"))
          .select(posexplode(col("qs")).as(Seq("i", "value")))
          .select(element_at(lit(pcts.toArray), col("i") + 1).as("pct"),
            col("value"))
        // Rank the sketch values with ONE pass over the column: the
        // 2-row sketch output broadcasts against the values and is
        // conditional-counted per percentile.
        li.join(broadcast(qv), lit(true))
          .groupBy("pct", "value")
          .agg(
            count(lit(1)).as("n"),
            count(when(col("v") < col("value"), 1)).as("rank_lo"),
            count(when(col("v") <= col("value"), 1)).as("rank_hi"))
          // Strict upper end: min attained rank = rank_lo + 1 (see
          // q49's comment) — `<=` is one rank looser than the
          // contract.
          .select(col("pct"),
            (col("rank_lo") < ceil((col("pct") + eps) * col("n")) &&
              col("rank_hi") >= floor((col("pct") - eps) * col("n")))
              .as("rank_ok"))
          .orderBy("pct")
      },
      Some("""
        SELECT CAST(0.5 AS DOUBLE) AS pct, TRUE AS rank_ok
        UNION ALL
        SELECT CAST(0.95 AS DOUBLE) AS pct, TRUE AS rank_ok
        ORDER BY pct""")),
    // ----------------------------------------------------------------
    Q(
      "q60_heavy_hitters",
      (s, dir) => {
        // Misra-Gries heavy hitters (graft HeavyHittersAgg): capacity
        // 4 over the 5-valued lang column, so the sketch must evict —
        // and the MG guarantee still holds: every item with true
        // frequency > n/(k+1) is present, estimated within
        // [f − n/(k+1), f]. Per-partition partial aggregation means
        // the merge path (sum counters, subtract (k+1)-th largest) is
        // exercised by construction. Sketch contents are order/
        // partitioning-dependent, so the oracle states the INVARIANT
        // over the exact counts, like q58/q59.
        val k = 4
        val sketch = udaf(new graft.functions.HeavyHittersAgg(k),
          org.apache.spark.sql.Encoders.STRING)
        val d = t(s, dir)("documents")
          .filter(col("lang").isNotNull).select(col("lang"))
        val est = d.agg(sketch(col("lang")).as("hh"))
          .select(explode(col("hh")).as(Seq("lang", "est")))
        val heavy = d.groupBy("lang").agg(count(lit(1)).as("f"))
          .crossJoin(broadcast(d.agg(count(lit(1)).as("n"))))
          .filter(col("f") * (k + 1) > col("n"))
        // Integer-exact bound check: est ≥ f − n/(k+1) stated as
        // est·(k+1) ≥ f·(k+1) − n; est ≤ f directly.
        heavy.join(broadcast(est), Seq("lang"), "left")
          .select(col("lang"),
            col("est").isNotNull.as("found"),
            (col("est").isNotNull && col("est") <= col("f") &&
              col("est") * (k + 1) >= col("f") * (k + 1) - col("n"))
              .as("est_ok"))
          .orderBy("lang")
      },
      Some("""
        WITH c AS (
          SELECT lang, COUNT(*) AS f FROM documents
          WHERE lang IS NOT NULL GROUP BY lang),
        t AS (
          SELECT COUNT(*) AS n FROM documents WHERE lang IS NOT NULL)
        SELECT lang, TRUE AS found, TRUE AS est_ok
        FROM c, t WHERE f * 5 > n
        ORDER BY lang""")),
    // ----------------------------------------------------------------
    Q(
      "q29_session_window",
      (s, dir) => {
        // Spark's native session_window operator (30-min gap). The
        // oracle reconstructs sessions relationally: a gap >= 30 min
        // starts a new island (Spark's session end bound is
        // exclusive), then groups by island.
        val ev = t(s, dir)("events")
        ev.groupBy(
          session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
          .agg(
            count(lit(1)).as("n_events"),
            dbl(sum(m(col("value")))).as("sum_value"))
          .select(col("user_id"),
            col("sw.start").as("session_start"),
            col("n_events"), col("sum_value"))
          .orderBy("user_id", "session_start")
      },
      Some("""
        WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS mts, value,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
          FROM events),
        g AS (
          SELECT user_id, mts, value, us,
            CASE WHEN us - LAG(us) OVER w >= 1800000000 OR
                      LAG(us) OVER w IS NULL
                 THEN 1 ELSE 0 END AS brk
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        sid AS (
          SELECT user_id, mts, value,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY us, brk DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS session_id
          FROM g)
        SELECT user_id, MIN(mts) AS session_start,
          COUNT(*) AS n_events,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM sid
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start""")),
    // ----------------------------------------------------------------
    Q(
      "q27_approx_distinct",
      (s, dir) =>
        // HLL++ sketch vs exact. Cross-engine sketch VALUES differ by
        // design, so the oracle states the INVARIANT (the q58
        // pattern): per group, the estimate lands within 6% of the
        // exact count (3× the requested 2% rsd — ApproxSpec pins the
        // same envelope). The exact side IS DuckDB-reproducible, so
        // the row hashes fully, no rows-only fallback. Envelope in
        // multiplication form: ANSI-safe on an empty table.
        // Plan shape: countDistinct BESIDE another aggregate would
        // plan an Expand (2× rows through the shuffle); dedup the
        // (group, key) pairs first — both partial-combining — then
        // count. The HLL runs over the deduped values, which is
        // register-identical (a sketch is duplicate-insensitive), so
        // the estimate is unchanged. The q15 rule, re-applied.
        // count(col), not count(*): COUNT(DISTINCT x) excludes NULLs,
        // and the dedup keeps a NULL-key group — counting it would
        // put the exact side one above the oracle on corpora with
        // NULL keys (the sketch ignores NULLs too).
        t(s, dir)("lineitem")
          .groupBy("l_returnflag", "l_partkey").agg(Map.empty[String, String])
          .groupBy("l_returnflag")
          .agg(
            count(col("l_partkey")).as("exact_parts"),
            approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))
          .select(col("l_returnflag"), col("exact_parts"),
            (abs(col("approx_parts") - col("exact_parts")).cast("double") <=
              lit(0.06) * col("exact_parts")).as("approx_within_err"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
          TRUE AS approx_within_err
        FROM lineitem GROUP BY l_returnflag
        ORDER BY l_returnflag""")),
    // ----------------------------------------------------------------
    Q(
      "q49_approx_quantiles",
      (s, dir) => {
        // approx_percentile — the profiling aggregate a 100 TB column
        // scan actually runs (exact quantiles need a full sort; the
        // sketch is one pass, mergeable map-side). Sketch values are
        // engine-specific, so the oracle states the sketch's OWN
        // contract per group (the q59 pattern, tie-aware): with
        // accuracy 1000 ⇒ ε = 0.001, the returned value's rank
        // interval [count(<v), count(≤v)] must intersect
        // [⌊(p−ε)n⌋, ⌈(p+ε)n⌉]. Ranking costs one extra pass: the
        // 3-row sketch output broadcasts against the column and is
        // conditional-counted — no sort, no second shuffle.
        val eps = 0.001
        val li = t(s, dir)("lineitem")
          .select(col("l_returnflag"), col("l_extendedprice").as("v"))
        val ap = li.groupBy("l_returnflag")
          .agg(expr("approx_percentile(v, array(0.5, 0.95), 1000)")
            .as("approx_p"))
          .select(col("l_returnflag"),
            element_at(col("approx_p"), 1).as("a50"),
            element_at(col("approx_p"), 2).as("a95"))
        // eqNullSafe: a NULL flag group must survive the rank-check
        // join (plain `=` would silently drop it and the oracle's
        // GROUP BY would keep it) — unreachable on TPC-H data, but
        // the NULL-robustness q27 claims has to hold here too.
        li.as("l")
          .join(broadcast(ap).as("r"),
            col("l.l_returnflag") <=> col("r.l_returnflag"))
          .select(col("l.l_returnflag").as("l_returnflag"), col("v"),
            col("a50"), col("a95"))
          .groupBy("l_returnflag")
          .agg(
            // n over NON-NULL values: the sketch's population excludes
            // NULLs, so the rank bounds must be computed against the
            // same n (count(*) would inflate it on NULL-price corpora).
            count(col("v")).as("n"),
            count(when(col("v") < col("a50"), 1)).as("lo50"),
            count(when(col("v") <= col("a50"), 1)).as("hi50"),
            count(when(col("v") < col("a95"), 1)).as("lo95"),
            count(when(col("v") <= col("a95"), 1)).as("hi95"))
          // Strict on the upper end: v's MINIMUM attained rank is
          // count(<v) + 1, so intersection with the contract band
          // needs count(<v) < ceil((p+ε)n) — `<=` would certify a
          // value whose every occurrence ranks above the band by one.
          // n = 0 (an all-NULL-price group) has no sketch contract to
          // check — vacuously true, matching the oracle's TRUE, not
          // the NULL-comparison false the raw predicate would yield.
          .select(col("l_returnflag"), col("n"),
            when(col("n") === 0, lit(true)).otherwise(
              col("lo50") < ceil((lit(0.5) + eps) * col("n")) &&
                col("hi50") >= floor((lit(0.5) - eps) * col("n")))
              .as("p50_rank_ok"),
            when(col("n") === 0, lit(true)).otherwise(
              col("lo95") < ceil((lit(0.95) + eps) * col("n")) &&
                col("hi95") >= floor((lit(0.95) - eps) * col("n")))
              .as("p95_rank_ok"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, COUNT(l_extendedprice) AS n,
          TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
        FROM lineitem GROUP BY l_returnflag
        ORDER BY l_returnflag""")),
    // ----------------------------------------------------------------
    Q(
      "q30_grouping_sets",
      (s, dir) => {
        // Explicit GROUPING SETS through the SQL surface (the
        // engine's spark.sql entry point — SURVEY §2.2 scalar/SQL
        // row). Set list: by status, by priority, grand total.
        t(s, dir)("orders").createOrReplaceTempView("orders_gs")
        s.sql("""
          SELECT COALESCE(o_orderstatus, 'ALL') AS status,
            COALESCE(o_orderpriority, 'ALL') AS priority,
            COUNT(*) AS n_orders
          FROM orders_gs
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          ORDER BY status, priority""")
      },
      Some("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
          COALESCE(o_orderpriority, 'ALL') AS priority,
          COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")),
    // ----------------------------------------------------------------
    Q(
      "q31_pivot_events",
      (s, dir) =>
        // pivot with an explicit value list (deterministic columns; an
        // inferred list would shuffle-scan once to discover values).
        t(s, dir)("events")
          .groupBy("user_id")
          .pivot("event_type",
            Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("user_id"),
      Some("""
        SELECT user_id,
          COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
          COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
          COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
          COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
          COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        FROM events
        GROUP BY user_id
        ORDER BY user_id""")),
    // ----------------------------------------------------------------
    Q(
      "q32_median_by_type",
      (s, dir) => {
        // Exact median by row-position selection (portable across
        // engines, unlike percentile interpolation internals): pick
        // the middle one or two ordered rows per group and average
        // them — (a+b)/2 on two identical doubles is identical IEEE.
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id"))
        t(s, dir)("events")
          .select(col("event_type"), col("value"), col("event_id"))
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1))
            .over(Window.partitionBy(col("event_type"))))
          .filter(col("rn") === expr("(cnt + 1) div 2") ||
            col("rn") === expr("(cnt + 2) div 2"))
          .groupBy("event_type")
          .agg((sum(col("value")) / count(lit(1))).as("median_value"),
            max(col("cnt")).as("n"))
          .orderBy("event_type")
      },
      Some("""
        WITH r AS (
          SELECT event_type, value,
            ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS cnt
          FROM events)
        SELECT event_type,
          SUM(value) / COUNT(*) AS median_value,
          MAX(cnt) AS n
        FROM r
        WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        GROUP BY event_type
        ORDER BY event_type""")),
    // ----------------------------------------------------------------
    Q(
      "q33_stats_moments",
      (s, dir) => {
        // Sample variance/stddev/correlation from exact decimal power
        // sums (n·Σx² − (Σx)²) — order-independent and cross-engine
        // exact, unlike built-in STDDEV/CORR whose streaming update
        // formulas differ between engines. Doubles appear only after
        // the sums are final.
        // get_json_object, not from_json: a single int key doesn't
        // justify building a struct per row (measured 0.82 → 1.17 s
        // regression at sf0.1 when this briefly used from_json).
        val ev = t(s, dir)("events")
          .withColumn("k",
            get_json_object(col("props"), "$.k").cast("int"))
        // Values are bounded (value<=~330, k<=~99), so the power sums
        // fit comfortably in down-cast widths; SUM results must be
        // narrowed before multiplication or decimal width caps (38)
        // behave differently per engine.
        val v6 = (c: org.apache.spark.sql.Column) => c.cast("decimal(6,2)")
        val g = ev.groupBy("event_type").agg(
          count(lit(1)).as("n0"),
          sum(v6(col("value"))).as("sx0"),
          sum(v6(col("value")) * v6(col("value"))).as("sx20"),
          sum(v6(col("k"))).as("sy0"),
          sum(v6(col("k")) * v6(col("k"))).as("sy20"),
          sum(v6(col("value")) * v6(col("k"))).as("sxy0"))
          .select(col("event_type"),
            col("n0").as("n"),
            col("n0").cast("decimal(10,0)").as("nd"),
            col("sx0").cast("decimal(16,2)").as("sx"),
            col("sx20").cast("decimal(18,4)").as("sx2"),
            col("sy0").cast("decimal(16,2)").as("sy"),
            col("sy20").cast("decimal(18,4)").as("sy2"),
            col("sxy0").cast("decimal(18,4)").as("sxy"))
        // Final round(.,6): the exact decimal moments exceed a
        // double's 53-bit mantissa at larger SFs, and the two engines'
        // wide-decimal→double conversions can then differ by 1 ulp.
        g.select(
          col("event_type"), col("n"),
          round(dbl(col("nd") * col("sx2") - col("sx") * col("sx")) /
            (col("n") * (col("n") - 1)), 6).as("var_value"),
          round(sqrt(dbl(col("nd") * col("sx2") - col("sx") * col("sx")) /
            (col("n") * (col("n") - 1))), 6).as("stddev_value"),
          round(dbl(col("nd") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(dbl(col("nd") * col("sx2") - col("sx") * col("sx"))) *
              sqrt(dbl(col("nd") * col("sy2") - col("sy") * col("sy")))), 6)
            .as("corr_value_k"))
          .orderBy("event_type")
      },
      Some("""
        WITH g0 AS (
          SELECT event_type, COUNT(*) AS n,
            SUM(CAST(value AS DECIMAL(6,2))) AS sx0,
            SUM(CAST(value AS DECIMAL(6,2)) * CAST(value AS DECIMAL(6,2))) AS sx20,
            SUM(CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS DECIMAL(6,2))) AS sy0,
            SUM(CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS DECIMAL(6,2))
                * CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS DECIMAL(6,2))) AS sy20,
            SUM(CAST(value AS DECIMAL(6,2))
                * CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) AS DECIMAL(6,2))) AS sxy0
          FROM events GROUP BY event_type),
        g AS (
          SELECT event_type, n,
            CAST(n AS DECIMAL(10,0)) AS nd,
            CAST(sx0 AS DECIMAL(16,2)) AS sx,
            CAST(sx20 AS DECIMAL(18,4)) AS sx2,
            CAST(sy0 AS DECIMAL(16,2)) AS sy,
            CAST(sy20 AS DECIMAL(18,4)) AS sy2,
            CAST(sxy0 AS DECIMAL(18,4)) AS sxy
          FROM g0)
        SELECT event_type, n,
          ROUND(CAST(nd * sx2 - sx * sx AS DOUBLE) / (n * (n - 1)), 6) AS var_value,
          ROUND(sqrt(CAST(nd * sx2 - sx * sx AS DOUBLE) / (n * (n - 1))), 6) AS stddev_value,
          ROUND(CAST(nd * sxy - sx * sy AS DOUBLE) /
            (sqrt(CAST(nd * sx2 - sx * sx AS DOUBLE)) *
             sqrt(CAST(nd * sy2 - sy * sy AS DOUBLE))), 6) AS corr_value_k
        FROM g ORDER BY event_type""")),
    // ----------------------------------------------------------------
    Q(
      "q34_topk_aggregator",
      (s, dir) => {
        // Same semantics as q09 but via the typed TopKAggregator UDAF:
        // bounded per-group buffers combine map-side, so the shuffle
        // carries <=k rows per group per task and nothing is globally
        // sorted (the window form sorts every group).
        val sparkS = s
        import sparkS.implicits._
        Tables.load(s, dir, "orders")
          .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
          .as[(Long, Double, Long)]
          .groupByKey(_._1)
          .mapValues(r => (r._2, r._3))
          .agg(new graft.functions.TopKAggregator(3).toColumn)
          .flatMap { case (cust, items) =>
            items.zipWithIndex.map { case ((price, okey), i) =>
              (cust, okey, price, i + 1)
            }
          }
          .toDF("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
            ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3
        ORDER BY o_custkey, rn""")),
    // ----------------------------------------------------------------
    Q(
      "q35_left_outer_join",
      (s, dir) => {
        val c = t(s, dir)("customer")
        val o = t(s, dir)("orders")
          .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
          .groupBy("c_custkey", "c_name")
          .agg(
            count(col("o_orderkey")).as("n_orders_1995"),
            dbl(coalesce(sum(m(col("o_totalprice"))),
              lit(0).cast(D.money))).as("sum_price_1995"))
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey, c_name,
          COUNT(o_orderkey) AS n_orders_1995,
          CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))),
                        CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS sum_price_1995
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey
         AND o_orderdate >= TIMESTAMP '1995-01-01'
         AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY c_custkey, c_name
        ORDER BY c_custkey""")),
    // ----------------------------------------------------------------
    Q(
      "q36_full_outer_join",
      (s, dir) => {
        val cn = t(s, dir)("customer").groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_customers"))
        val sn = t(s, dir)("supplier").groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_suppliers"))
        cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full_outer")
          .select(
            coalesce(col("c_nationkey"), col("s_nationkey"))
              .as("nationkey"),
            coalesce(col("n_customers"), lit(0L)).as("n_customers"),
            coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
          .orderBy("nationkey")
      },
      Some("""
        WITH cn AS (SELECT c_nationkey, COUNT(*) AS n_customers
                    FROM customer GROUP BY c_nationkey),
        sn AS (SELECT s_nationkey, COUNT(*) AS n_suppliers
               FROM supplier GROUP BY s_nationkey)
        SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
          COALESCE(n_customers, 0) AS n_customers,
          COALESCE(n_suppliers, 0) AS n_suppliers
        FROM cn FULL OUTER JOIN sn ON c_nationkey = s_nationkey
        ORDER BY nationkey""")),
    // ----------------------------------------------------------------
    Q(
      "q37_correlated_subquery",
      (s, dir) => {
        // Correlated scalar subqueries through the SQL surface —
        // Catalyst decorrelates both into aggregates + joins (no
        // per-row re-execution). The above-own-average predicate is
        // FP-free: price*cnt > sum over exact decimals.
        t(s, dir)("orders").createOrReplaceTempView("orders_cs")
        s.sql("""
          SELECT o_orderkey, o_custkey, o_totalprice
          FROM orders_cs o
          WHERE CAST(o_totalprice AS DECIMAL(12,2)) *
                (SELECT COUNT(*) FROM orders_cs i
                 WHERE i.o_custkey = o.o_custkey)
              > (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                 FROM orders_cs i WHERE i.o_custkey = o.o_custkey)
          ORDER BY o_orderkey""")
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE CAST(o_totalprice AS DECIMAL(12,2)) *
              (SELECT COUNT(*) FROM orders i
               WHERE i.o_custkey = o.o_custkey)
            > (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2)))
               FROM orders i WHERE i.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")),
    // ----------------------------------------------------------------
    Q(
      "q38_range_window",
      (s, dir) => {
        // Time-RANGE window frame (vs q10's ROWS frame): per user, the
        // rolling 1-hour event-value sum. The frame is defined on
        // epoch-µs longs so the range arithmetic is integral and
        // identical in both engines; ties (same µs) enter the frame
        // together, and the decimal sum is order-independent.
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-3600000000L, 0L)
        t(s, dir)("events")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("value"))
          .withColumn("rolling_hour_sum",
            dbl(sum(m(col("value"))).over(w)))
          .orderBy("user_id", "us", "event_id")
      },
      Some("""
        SELECT event_id, user_id, us, value,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
            PARTITION BY user_id ORDER BY us
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS rolling_hour_sum
        FROM (SELECT event_id, user_id,
                epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
              FROM events)
        ORDER BY user_id, us, event_id""")),
    // ----------------------------------------------------------------
    Q(
      "q39_window_functions",
      (s, dir) => {
        // The rest of the window-function library: first/nth value,
        // percent_rank, cume_dist, ntile. Ordering is unique
        // (totalprice desc, orderkey) so ntile is deterministic.
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir)("orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("best_order",
            first(col("o_orderkey")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("second_best",
            nth_value(col("o_orderkey"), 2).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .withColumn("quartile", ntile(4).over(w))
          .withColumn("second_best",
            coalesce(col("second_best"), lit(-1L)))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""
        SELECT o_custkey, o_orderkey, o_totalprice,
          FIRST_VALUE(o_orderkey) OVER wf AS best_order,
          COALESCE(NTH_VALUE(o_orderkey, 2) OVER wf, -1) AS second_best,
          ROUND(PERCENT_RANK() OVER w, 6) AS pr,
          ROUND(CUME_DIST() OVER w, 6) AS cd,
          NTILE(4) OVER w AS quartile
        FROM orders
        WINDOW
          w AS (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey),
          wf AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, o_orderkey""")),
    // ----------------------------------------------------------------
    Q(
      "q40_bag_set_ops",
      (s, dir) => {
        // Bag (multiset) semantics: INTERSECT ALL / EXCEPT ALL keep
        // multiplicities, unlike q13's distinct set ops.
        val c = t(s, dir)("customer").select(col("c_nationkey").as("k"))
        val su = t(s, dir)("supplier").select(col("s_nationkey").as("k"))
        c.intersectAll(su).groupBy("k").agg(count(lit(1)).as("n_inter"))
          .join(
            c.exceptAll(su).groupBy("k").agg(count(lit(1)).as("n_except")),
            Seq("k"), "full_outer")
          .select(col("k"),
            coalesce(col("n_inter"), lit(0L)).as("n_inter"),
            coalesce(col("n_except"), lit(0L)).as("n_except"))
          .orderBy("k")
      },
      Some("""
        WITH i AS (
          SELECT k, COUNT(*) AS n_inter FROM (
            SELECT c_nationkey AS k FROM customer
            INTERSECT ALL
            SELECT s_nationkey AS k FROM supplier)
          GROUP BY k),
        e AS (
          SELECT k, COUNT(*) AS n_except FROM (
            SELECT c_nationkey AS k FROM customer
            EXCEPT ALL
            SELECT s_nationkey AS k FROM supplier)
          GROUP BY k)
        SELECT COALESCE(i.k, e.k) AS k,
          COALESCE(n_inter, 0) AS n_inter,
          COALESCE(n_except, 0) AS n_except
        FROM i FULL OUTER JOIN e ON i.k = e.k
        ORDER BY k""")),
    // ----------------------------------------------------------------
    Q(
      "q41_array_functions",
      (s, dir) => {
        // Array-function tour over tokenized documents; arrays leave
        // the query as joined strings so the value compare is
        // type-stable across arrow/pandas layers.
        val d = Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull)
          .withColumn("toks",
            graft.functions.TextFunctions.tokens(col("text")))
        d.select(
          col("doc_id"),
          concat_ws(",", slice(col("toks"), 1, 3)).as("first3"),
          concat_ws(",", slice(col("toks"), -2, 2)).as("last2"),
          array_position(col("toks"), "the").cast("int").as("first_the"),
          arrays_overlap(col("toks"),
            array(lit("spark"), lit("query"))).cast("int").as("mentions"),
          size(array_remove(col("toks"), "the")).as("n_without_the"))
          .orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\s+'),
                        x -> len(x) > 0) AS tl
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id,
          array_to_string(tl[1:3], ',') AS first3,
          array_to_string(tl[-2:], ',') AS last2,
          CAST(COALESCE(list_position(tl, 'the'), 0) AS INT) AS first_the,
          CAST(len(list_intersect(tl, ['spark', 'query'])) > 0 AS INT) AS mentions,
          CAST(len(list_filter(tl, x -> x <> 'the')) AS INT) AS n_without_the
        FROM d ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "q42_date_functions",
      (s, dir) =>
        t(s, dir)("orders")
          .select(col("o_orderkey"),
            col("o_orderdate").cast("date").as("odate"))
          .select(
            col("o_orderkey"), col("odate"),
            date_add(col("odate"), 30).as("plus30"),
            last_day(col("odate")).as("month_end"),
            datediff(col("odate"), lit("1970-01-01").cast("date"))
              .cast("int").as("epoch_days"),
            (year(col("odate")) * 100 + month(col("odate")))
              .cast("int").as("yyyymm"))
          .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, odate,
          odate + INTERVAL 30 DAY AS plus30,
          last_day(odate) AS month_end,
          CAST(odate - DATE '1970-01-01' AS INT) AS epoch_days,
          CAST(YEAR(odate) * 100 + MONTH(odate) AS INT) AS yyyymm
        FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate
              FROM orders)
        ORDER BY o_orderkey""")),
    // ----------------------------------------------------------------
    Q(
      "q28_cube_orders",
      (s, dir) => {
        val o = t(s, dir)("orders")
        o.cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_orders"),
            dbl(sum(m(col("o_totalprice")))).as("sum_price"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n_orders"), col("sum_price"))
          .orderBy("status", "priority")
      },
      Some("""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
          COALESCE(o_orderpriority, 'ALL') AS priority,
          COUNT(*) AS n_orders,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY status, priority""")),
    // ----------------------------------------------------------------
    Q(
      "q46_map_functions",
      (s, dir) => {
        // Map-typed column functions: build a per-user event_type→count
        // map (map_from_entries over sorted entries), probe it
        // (try_element_at — ANSI-safe on missing keys), and walk it
        // (map_entries). The OUTPUT stays scalar (size/lookup/digest)
        // so the oracle compare is repr-safe — map columns cross the
        // pandas bridge with engine-specific dict rendering; the
        // oracle computes the same result relationally.
        val c = t(s, dir)("events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        c.groupBy("user_id")
          .agg(map_from_entries(
            array_sort(collect_list(struct(col("event_type"), col("n")))))
            .as("tc"))
          .select(col("user_id"),
            size(col("tc")).as("n_types"),
            coalesce(try_element_at(col("tc"), lit("click")), lit(0L))
              .as("n_click"),
            md5(concat_ws(",",
              transform(map_entries(col("tc")), e =>
                concat(e.getField("key"), lit(":"),
                  e.getField("value").cast("string")))))
              .as("types_digest"))
          .orderBy("user_id")
      },
      Some("""
        WITH c AS (
          SELECT user_id, event_type, COUNT(*) AS n
          FROM events GROUP BY 1, 2)
        SELECT user_id,
          CAST(COUNT(*) AS INT) AS n_types,
          CAST(COALESCE(SUM(n) FILTER (event_type = 'click'), 0) AS BIGINT)
            AS n_click,
          md5(string_agg(event_type || ':' || CAST(n AS VARCHAR), ','
                         ORDER BY event_type)) AS types_digest
        FROM c
        GROUP BY user_id
        ORDER BY user_id""")),
    // ----------------------------------------------------------------
    Q(
      "q47_upsert_merge",
      (s, dir) => {
        // CDC-style snapshot merge (the MERGE INTO pattern): a
        // snapshot (even order keys) upserted with a change set
        // (every third key, price bumped 10%). One full-outer join on
        // the key decides keep / update / insert per row; the change
        // side wins where both exist. Price arithmetic stays in exact
        // decimals until the final double cast. At scale this is ONE
        // shuffle join on the merge key — the shape every incremental
        // table-maintenance job reduces to.
        // The bumped price stays at the product's natural scale 3 —
        // rescaling to 2 decimals would ROUND, and the engines break
        // .5 ties differently (Spark HALF_UP, DuckDB half-even).
        // Exact-decimal → double casts are correctly rounded in both.
        val o = t(s, dir)("orders")
        val dec = col("o_totalprice").cast("decimal(12,2)")
        val base = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), dec.cast("decimal(15,3)").as("bp"))
        val changes = o.filter(col("o_orderkey") % 3 === 0)
          .select(col("o_orderkey"),
            (dec * lit(1.1).cast("decimal(2,1)"))
              .cast("decimal(15,3)").as("up"))
        base.join(changes, Seq("o_orderkey"), "full_outer")
          .select(col("o_orderkey"),
            coalesce(col("up"), col("bp")).cast("double")
              .as("o_totalprice"),
            when(col("up").isNotNull && col("bp").isNotNull, "update")
              .when(col("bp").isNull, "insert")
              .otherwise("keep").as("op"))
          .orderBy("o_orderkey")
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey,
            CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(15,3)) AS bp
          FROM orders WHERE o_orderkey % 2 = 0),
        changes AS (
          SELECT o_orderkey,
            CAST(CAST(o_totalprice AS DECIMAL(12,2))
                 * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(15,3)) AS up
          FROM orders WHERE o_orderkey % 3 = 0)
        SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
          CAST(COALESCE(c.up, b.bp) AS DOUBLE) AS o_totalprice,
          CASE WHEN c.up IS NOT NULL AND b.bp IS NOT NULL THEN 'update'
               WHEN b.bp IS NULL THEN 'insert'
               ELSE 'keep' END AS op
        FROM base b FULL OUTER JOIN changes c USING (o_orderkey)
        ORDER BY o_orderkey""")),
    // ----------------------------------------------------------------
    Q(
      "q48_funnel_conversion",
      (s, dir) => {
        // Funnel analysis: first view -> first purchase at-or-after
        // it, per user. All event-time arithmetic stays in integral
        // epoch-µs, so the cross-engine compare is exact; absent
        // conversions COALESCE to a -1 sentinel (nullable ints degrade
        // to float64 across the arrow bridge). Both aggregations
        // shuffle on user_id — the second join reuses the same
        // hash partitioning, no extra exchange.
        val e = t(s, dir)("events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id")
          .agg(min(col("us")).as("first_view_us"))
        val c = e.filter(col("event_type") === "purchase")
          .join(v, "user_id")
          .filter(col("us") >= col("first_view_us"))
          .groupBy("user_id")
          .agg(min(col("us")).as("first_conv_us0"))
        v.join(c, Seq("user_id"), "left")
          .select(col("user_id"), col("first_view_us"),
            coalesce(col("first_conv_us0"), lit(-1L)).as("first_conv_us"),
            col("first_conv_us0").isNotNull.cast("int").as("converted"),
            coalesce(col("first_conv_us0") - col("first_view_us"), lit(-1L))
              .as("conv_latency_us"))
          .orderBy("user_id")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_type,
            epoch_us(CAST(ts AS TIMESTAMP)) AS us
          FROM events),
        v AS (
          SELECT user_id, MIN(us) AS first_view_us
          FROM e WHERE event_type = 'view' GROUP BY user_id),
        c AS (
          SELECT e.user_id, MIN(e.us) AS first_conv_us0
          FROM e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'purchase' AND e.us >= v.first_view_us
          GROUP BY e.user_id)
        SELECT v.user_id, v.first_view_us,
          COALESCE(c.first_conv_us0, -1) AS first_conv_us,
          CAST(c.first_conv_us0 IS NOT NULL AS INT) AS converted,
          COALESCE(c.first_conv_us0 - v.first_view_us, -1)
            AS conv_latency_us
        FROM v LEFT JOIN c USING (user_id)
        ORDER BY v.user_id""")),
    // ----------------------------------------------------------------
    Q(
      "q52_value_histogram",
      (s, dir) =>
        // Data-profiling staple: equi-width histogram of `value` per
        // event_type. bin = floor(value / 25) — one IEEE division +
        // floor, identical cross-engine; a single map-side-combining
        // groupBy, no sort until the tiny output.
        t(s, dir)("events")
          .groupBy(col("event_type"),
            floor(col("value") / 25).cast("long").as("bin"))
          .agg(count(lit(1)).as("n"))
          .select(col("event_type"), col("bin"),
            (col("bin") * 25).cast("double").as("bin_lo"), col("n"))
          .orderBy("event_type", "bin"),
      Some("""
        SELECT event_type,
          CAST(FLOOR(value / 25) AS BIGINT) AS bin,
          CAST(CAST(FLOOR(value / 25) AS BIGINT) * 25 AS DOUBLE) AS bin_lo,
          COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
        ORDER BY event_type, bin"""))
  )
}
