package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Checkpoints, SessionMemo, Tables}

/** Graph analytics over the TPC-H trade graph — the operator family a
  * corpus pipeline reaches for when documents/entities link to each
  * other (citation ranks for quality priors, influence scores for
  * source weighting).
  *
  * Everything here follows the integer-exact discipline: ranks live
  * in 10⁻¹² units as LONGs and every division is an integral DIV, so
  * the recurrence is a deterministic function of the edge set — both
  * engines run the IDENTICAL integer recurrence and the hash match is
  * exact, with no FP-order caveats anywhere.
  */
object Graph {

  /** The distinct supplier↔customer pair table every graph query's
    * edge list derives from — one lineitem⋈orders join plus one
    * DISTINCT shuffle.
    */
  private def derivePairs(lineitem: DataFrame,
      orders: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
      .distinct()

  /** Per-(session, dir) memo of the checkpointed dated pair table:
    * all registered graph queries start from the SAME lineitem⋈orders
    * scan, so a bench pass would otherwise re-scan both tables and
    * re-shuffle once per query. Reuse, invalidation on a rewrite of
    * either table, and freeing: see [[graft.SessionMemo]].
    */
  private val pairsMemo =
    new SessionMemo[String, DataFrame](Checkpoints.free)

  /** Per-round join-strategy pick for the iterative primitives (guide
    * §3.1: pick the strategy deliberately; §2.4: a broadcast join
    * replaces a shuffle of the large side). Every round of every
    * graph iteration joins the EDGE list (large) with a NODE-sized
    * rank/label/score frame (small): under plain AQE the node frame
    * comes from a localCheckpoint'd RDD with unknown stats, so the
    * initial plan is a sort-merge join that hash-exchanges the edge
    * list AND sorts it once per round — AQE's runtime conversion only
    * rescues rounds whose build side is an already-materialized
    * shuffle stage (measured r19: q77's 3-round checkpoint job ran 1
    * BHJ + 2 SMJ rounds, each SMJ re-sorting 1.17M edge rows, with a
    * 35.8 MB edge exchange in every checkpoint job). Broadcasting the
    * node frame explicitly removes the edge exchange and the
    * per-round sorts outright.
    *
    * The decision is size-guarded, never unconditional: callers pass
    * the node count (or a cheap upper bound — every candidate frame
    * is keyed by node, so |frame| ≤ nodes) and the frame is broadcast
    * only below `spark.graft.graph.broadcastNodes` (default 8M rows ≈
    * 130-200 MB at 16-24 B/row — inside the guide's "a few hundred MB
    * is usually fine", far from the 8 GB / 512M-row broadcast cap).
    * Past the cap, or when the count is unknown (-1), the plan is the
    * unchanged shuffle form — the 100 TB degradation path. The hint
    * only affects join strategy, never results.
    */
  private[graft] def bcastIf(df: DataFrame, nNodes: Long): DataFrame =
    if (nNodes >= 0L && nNodes <= df.sparkSession.conf
        .get("spark.graft.graph.broadcastNodes", "8000000").toLong)
      broadcast(df)
    else df

  /** [[cpKeyed]]'s target bytes per edge-list partition. */
  private val PartitionBytes = 8000000L

  /** Materialize an edge list hash-partitioned by `key` with the
    * partitioning DECLARED on the checkpoint (r20, guide §2.4 "share
    * one exchange"): every iterative primitive aggregates per round
    * by the SAME edge key, and plain `localCheckpoint` under AQE
    * forgets partitioning (GraftCheckpoints scaladoc), which re-grew
    * one node-sized exchange in EVERY round of every graph query.
    * One explicit shuffle at materialization now, zero per-round
    * exchanges after.
    *
    * The partition count is SIZE-derived, never the core count
    * (measured r20: pinning `defaultParallelism` partitions tripled
    * the family's summed task time at sf0.1 — each of 32 tasks per
    * round re-deserialized the node-sized broadcast hash relation
    * that AQE's size-aware coalescing previously amortized over ~5
    * tasks): `approxBytes` / [[PartitionBytes]] (8 MB — the
    * in-memory edge-frame analogue of AQE's small-partition
    * coalescing), floored at 1, capped at `defaultParallelism`
    * EXCEPT when the input is so large that the cap would push
    * partitions past 128 MB — then bytes/128MB wins
    * (guide §2.2's 100 MB–1 GB range), so a 100 TB edge list gets
    * thousands of partitions, not cores-many.
    */
  private[graft] def cpKeyed(df: DataFrame, key: String,
      approxBytes: Long = -1L): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val n =
      if (approxBytes <= 0L) par
      else {
        val bySize = ((approxBytes + PartitionBytes - 1) /
          PartitionBytes).toInt max 1
        val floor128 = (approxBytes / (128L * 1024 * 1024)).toInt max 1
        (bySize min par) max floor128
      }
    Checkpoints.releasingOnFailure(df)(
      org.apache.spark.sql.GraftCheckpoints.localCheckpointKeyed(df, key, n))
  }

  /** Unsafe-row size estimate for [[cpKeyed]]'s partition sizing:
    * `rows` LONG-column rows at 8 B/field + ~16 B row overhead.
    */
  private[graft] def rowBytes(rows: Long, cols: Int): Long =
    rows * (16L + 8L * cols)

  /** The distinct pair table, derived from [[datedTradePairsCached]]'s
    * memo instead of a second lineitem⋈orders pass: the dated table
    * is already grouped by (sk, ck), so projecting away d0 IS the
    * distinct — one shared scan+shuffle feeds the whole graph family
    * (r19 optimization; previously the undated and dated pair tables
    * were built separately, two full lineitem⋈orders passes per
    * session).
    */
  def tradePairs(s: SparkSession, dir: String): DataFrame =
    datedTradePairsCached(s, dir).select("sk", "ck")

  /** The memoized DATED pair table (see [[pairsMemo]]) — q88/q89/
    * st34/st36's shared (sk, ck, d0) scan, which [[tradePairs]] also
    * projects (r19: previously each of the four rebuilt it per bench
    * pass).
    */
  def datedTradePairsCached(s: SparkSession, dir: String): DataFrame =
    pairsMemo(s, dir, Seq("lineitem", "orders").map(Tables.path(dir, _)))(
      datedTradePairs(Tables.load(s, dir, "lineitem"),
        Tables.load(s, dir, "orders")).localCheckpoint())

  /** The family's shared symmetric edge encoding: disjoint node ids
    * (supplier 2k, customer 2k+1), one edge per direction. Factored
    * so the id scheme lives in exactly one place.
    */
  private[graft] def bipartiteEdges(pairs: DataFrame): DataFrame =
    pairs
      .select((col("sk") * 2).as("src"), (col("ck") * 2 + 1).as("dst"))
      .unionByName(pairs
        .select((col("ck") * 2 + 1).as("src"), (col("sk") * 2).as("dst")))

  /** Exact integer PageRank (q77) over the bipartite supplier↔customer
    * trade graph (edge per distinct supplied-to pair, both
    * directions, so no dangling-mass handling is needed: every node
    * with an out-edge has an in-edge).
    *
    * The recurrence (d = 0.85, all integral):
    *   base  = 10¹² DIV N
    *   r₀(u) = base
    *   rₖ(v) = (15·base) DIV 100 + (85·Σ_{u→v} rₖ₋₁(u) DIV outdeg(u)) DIV 100
    *
    * Scale shape: the classic edge-partitioned iteration — the edge
    * list (with out-degrees attached) materializes ONCE and each of
    * the `iters` rounds is one join keyed on src plus one dst-keyed
    * map-side-combining LONG sum; rank frames are node-sized and
    * localCheckpoint'd per round so the plan stays flat (a deployment
    * persists exactly these two artifacts). Nothing ever enumerates
    * paths; cost per round is |E| join + |E|→|V| aggregate.
    */
  def pageRank(lineitem: DataFrame, orders: DataFrame,
      iters: Int = 10, k: Int = 25): DataFrame =
    pageRankFrom(derivePairs(lineitem, orders), iters, k)

  /** [[pageRank]] from a prebuilt (sk, ck) pair table — the entry
    * point the registered query uses so the memoized [[tradePairs]]
    * scan is shared across the graph family.
    */
  def pageRankFrom(pairs: DataFrame,
      iters: Int = 10, k: Int = 25): DataFrame = Checkpoints.using { cps =>
    val s = pairs.sparkSession
    import s.implicits._
    val edges0 = bipartiteEdges(pairs)
    val outdeg = edges0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // dst-keyed materialization: every round's in-sum aggregate
    // reuses this one exchange ([[cpKeyed]] checkpoints itself; `cps`
    // only takes ownership). |edges| = 2·|pairs| exactly (both
    // directions) — the size hint for partition count.
    val nPairs = pairs.count()
    // The outdeg side is node-sized (≤ 2·|pairs| rows) — broadcast it
    // under the guard so the build never exchanges/sorts the edge
    // list by src (r20).
    val edges = cps.own(cpKeyed(edges0.join(bcastIf(outdeg, 2L * nPairs),
      "src"), "dst", rowBytes(2L * nPairs, 3)))
    val nodes = cps(edges.select(col("src").as("node")).distinct())
    val n = nodes.count()
    if (n == 0L)
      Seq.empty[(Int, String, Long, Long)]
        .toDF("rnk", "node_type", "node_id", "r")
    else {
      val base = 1000000000000L / n
      val teleport = (15L * base) / 100L
      val ranks = prRounds(edges, nodes,
        cps(nodes.select(col("node"), lit(base).as("r"))),
        teleport, iters, cps, n)
      // The result is bounded (k rows): materialize it so every
      // checkpoint block can be freed — a bench/session running many
      // queries must not inherit this op's working set.
      prTopK(ranks, k).toDF("rnk", "node_type", "node_id", "r")
    }
  }

  /** `iters` rounds of the exact integer PageRank recurrence (see
    * [[pageRank]]) over a pre-checkpointed edge list carrying outdeg —
    * factored out of [[pageRankFrom]] so the q89 incremental path
    * (base pass + seeded pass with a different teleport) runs the
    * IDENTICAL per-round plan; rank frames node-sized; lineage
    * flattened through `cp` every 3rd round (per-round eager
    * checkpoints cost a full job each, while three chained rounds
    * plan fine and run as one).
    *
    * PRECONDITION (every caller satisfies it by construction): the
    * edge set is SYMMETRIC-BIPARTITE ([[bipartiteEdges]] — each pair
    * contributes both directions), so the distinct dst set EQUALS
    * the distinct src set (= the node set). The round's rank update
    * rₖ(v) = teleport + (85·insumₖ(v)) DIV 100 depends only on the
    * in-sum and a constant, and under the precondition the dst-keyed
    * aggregate already covers every node — so the rank frame IS a
    * projection of the aggregate and the former `nodes ⋈ insum` left
    * join (plus its per-round broadcast build) is an identity,
    * removed in r20 (guide §1.2: don't compute things you throw
    * away). `nodes` stays in the signature for the seeded callers'
    * shape and the degrade path's stats, but no longer feeds the
    * round.
    *
    * Round cost with a [[graft.ops.Graph]]-materialized dst-keyed
    * edge list (GraftCheckpoints.localCheckpointKeyed): ONE broadcast
    * build of the node-sized rank frame + one |E| map + a same-key
    * aggregate that needs NO exchange — zero shuffles per round.
    */
  private[graft] def prRounds(edges: DataFrame, nodes: DataFrame,
      ranks0: DataFrame, teleport: Long, iters: Int,
      cp: DataFrame => DataFrame, nNodes: Long = -1L): DataFrame = {
    var ranks = ranks0
    for (it <- 1 to iters) {
      // The rank side broadcasts under the size guard ([[bcastIf]]);
      // the dst-keyed aggregate reuses the edge list's materialized
      // partitioning, so a round costs one |E| scan and nothing else.
      val insum = edges.join(bcastIf(ranks, nNodes),
          col("src") === col("node"))
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("insum"))
      ranks = insum.select(col("dst").as("node"),
        expr(s"${teleport}L + (85 * insum) div 100").as("r"))
      if (it % 3 == 0 || it == iters) ranks = cp(ranks)
    }
    ranks
  }

  /** Bounded top-k materialization of a (node, r) rank frame in the
    * q77 output shape — TakeOrderedAndProject then a k-row window.
    */
  private[graft] def prTopK(ranks: DataFrame, k: Int)
      : Seq[(Int, String, Long, Long)] =
    ranks.orderBy(col("r").desc, col("node")).limit(k)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("r").desc, col("node"))))
      .select(col("rnk"),
        expr("CASE WHEN node % 2 = 0 THEN 'supplier' " +
          "ELSE 'customer' END").as("node_type"),
        expr("node div 2").as("node_id"), col("r"))
      .orderBy("rnk")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq

  /** The q77 oracle: the identical integer recurrence with the
    * iterations unrolled as MATERIALIZED CTEs (s37's convention —
    * each step references its predecessor, so default inlining would
    * expand the chain exponentially).
    */
  private[graft] def sqlPageRank(iters: Int, k: Int): String = {
    val steps = (1 to iters).map { it =>
      s"""r$it AS MATERIALIZED (
        SELECT n.node,
          (15 * (SELECT base FROM nb)) // 100 +
          (85 * COALESCE(i.insum, 0)) // 100 AS r
        FROM nodes n LEFT JOIN (
          -- CAST: DuckDB's SUM(BIGINT) is HUGEINT, which would float
          -- through pandas; the mass fits BIGINT by construction.
          SELECT e.dst AS node,
            CAST(SUM(r.r // e.outdeg) AS BIGINT) AS insum
          FROM edges e JOIN r${it - 1} r ON r.node = e.src
          GROUP BY e.dst) i ON i.node = n.node)"""
    }.mkString(",\n        ")
    s"""
      WITH pairs AS (
        SELECT DISTINCT l.l_suppkey AS sk, o.o_custkey AS ck
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      edges0 AS (
        SELECT sk * 2 AS src, ck * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT ck * 2 + 1 AS src, sk * 2 AS dst FROM pairs),
      od AS (SELECT src, COUNT(*) AS outdeg FROM edges0 GROUP BY src),
      edges AS MATERIALIZED (
        SELECT e.src, e.dst, od.outdeg
        FROM edges0 e JOIN od ON od.src = e.src),
      nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
      nb AS (SELECT 1000000000000 // COUNT(*) AS base FROM nodes),
      r0 AS MATERIALIZED (
        SELECT node, (SELECT base FROM nb) AS r FROM nodes),
      $steps
      SELECT CAST(rnk AS INT) AS rnk,
        CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
          AS node_type,
        node // 2 AS node_id, CAST(r AS BIGINT) AS r
      FROM (
        SELECT node, r,
          ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rnk
        FROM r$iters)
      WHERE rnk <= $k
      ORDER BY rnk"""
  }

  /** BFS seed distance (q78) — the link-distance quality prior
    * web-corpus pipelines run (hop distance from a trusted seed set,
    * the harmonic-centrality-style signal behind crawl frontier
    * filtering), computed on the same trade graph: seeds are the
    * suppliers of nations 0-4 at distance 0, and `rounds` min-plus
    * relaxations propagate d(v) = min(d(v), min_{u→v} d(u)+1).
    * Pure integer min — deterministic in both engines by
    * construction. Unreached nodes keep the 999 sentinel.
    *
    * Scale shape: identical to [[pageRank]] — one src-keyed join and
    * one dst-keyed map-side-combining MIN per round over the
    * once-materialized edge list; distance frames are node-sized.
    * Output is the bounded (node_type, dist) histogram.
    */
  def seedDistance(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame, rounds: Int = 6): DataFrame =
    seedDistanceFrom(derivePairs(lineitem, orders), supplier, rounds)

  /** [[seedDistance]] from a prebuilt pair table ([[tradePairs]]). */
  def seedDistanceFrom(pairs: DataFrame, supplier: DataFrame,
      rounds: Int = 6): DataFrame = Checkpoints.using { cps =>
    val s = pairs.sparkSession
    import s.implicits._
    val edges0 = bipartiteEdges(pairs)
    // dst-keyed materialization with WEIGHTED self-loops (r20, the
    // [[relaxRounds]] join-free shape adapted to min-plus): a w=0
    // self-loop per node makes min_{u→v incl. self}(dist(u) + w) =
    // min(dist(v), min-in(dist + 1)) EXACTLY, so each round is one
    // src-keyed join + one dst-keyed map-side-combining MIN that
    // reuses this one exchange — no outer join back onto the
    // distance frame, no second broadcast build. |edges| = 2·|pairs|
    // (+|V| self-loops) is both the size hint and the broadcast
    // bound (|nodes| ≤ |edges|, each node has an out-edge by
    // construction).
    val nPairs = pairs.count()
    val wEdges = edges0.withColumn("w", lit(1))
      .unionByName(edges0.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst"), lit(0).as("w")))
    val edges = cps.own(cpKeyed(wEdges, "dst", rowBytes(2L * nPairs, 3)))
    val nBound = 2L * nPairs
    val seeds = supplier.filter(col("s_nationkey") < 5)
      .select((col("s_suppkey") * 2).as("node"))
    val nodes = edges.select(col("src").as("node")).distinct()
    var dist = nodes.join(seeds.withColumn("z", lit(0)),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("z"), lit(999)).as("dist"))
    for (it <- 1 to rounds) {
      // cand ≤ 1000 and the self-loop contributes dist(v) + 0, so the
      // min equals the old least(dist, coalesce(min-in, 999)) — the
      // 999 sentinel can never grow.
      dist = edges.join(bcastIf(dist, nBound),
          col("src") === col("node"))
        .select(col("dst"), (col("dist") + col("w")).as("cand"))
        .groupBy("dst").agg(min("cand").as("dist"))
        .select(col("dst").as("node"), col("dist"))
      if (it % 3 == 0 || it == rounds) dist = cps(dist)
    }
    // Bounded histogram out, so the working set can be freed (the
    // pageRank rule).
    dist
      .select(expr("CASE WHEN node % 2 = 0 THEN 'supplier' " +
        "ELSE 'customer' END").as("node_type"), col("dist"))
      .groupBy("node_type", "dist")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("node_type", "dist")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .toSeq.toDF("node_type", "dist", "n_nodes")
  }

  /** The q78 oracle: the identical min-plus relaxation unrolled
    * ([[sqlPageRank]]'s convention).
    */
  private[graft] def sqlSeedDistance(rounds: Int): String = {
    val steps = (1 to rounds).map { it =>
      s"""d$it AS MATERIALIZED (
        SELECT d.node,
          LEAST(d.dist, COALESCE(i.reach, 999)) AS dist
        FROM d${it - 1} d LEFT JOIN (
          SELECT e.dst AS node, MIN(r.dist + 1) AS reach
          FROM edges e JOIN d${it - 1} r ON r.node = e.src
          GROUP BY e.dst) i ON i.node = d.node)"""
    }.mkString(",\n        ")
    s"""
      WITH pairs AS (
        SELECT DISTINCT l.l_suppkey AS sk, o.o_custkey AS ck
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      edges AS MATERIALIZED (
        SELECT sk * 2 AS src, ck * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT ck * 2 + 1 AS src, sk * 2 AS dst FROM pairs),
      nodes AS (SELECT DISTINCT src AS node FROM edges),
      seeds AS (SELECT s_suppkey * 2 AS node FROM supplier
                WHERE s_nationkey < 5),
      d0 AS MATERIALIZED (
        SELECT n.node,
          CASE WHEN n.node IN (SELECT node FROM seeds)
               THEN 0 ELSE 999 END AS dist
        FROM nodes n),
      $steps
      SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
          AS node_type,
        CAST(dist AS INT) AS dist, COUNT(*) AS n_nodes
      FROM d$rounds
      GROUP BY 1, 2
      ORDER BY node_type, dist"""
  }

  /** Personalized PageRank (q81) — [[pageRank]] with the teleport
    * mass restricted to a TRUSTED SEED SET (q78's nation-0..4
    * suppliers): the canonical "influence relative to a trust core"
    * signal (TrustRank / personalized PR), the graph prior a corpus
    * pipeline uses to weight sources by proximity-weighted influence
    * rather than raw popularity. Identical integer discipline: seed
    * mass base = 10¹² DIV |seeds|, r₀ = base on seeds and 0
    * elsewhere, rₖ(v) = [v ∈ seeds]·(15·base) DIV 100 +
    * (85·Σ_{u→v} rₖ₋₁(u) DIV outdeg(u)) DIV 100 — every step
    * integral, so both engines run the identical recurrence.
    *
    * Scale shape: exactly [[pageRank]]'s — the seed membership joins
    * in as a broadcast flag on the node frame; nothing else changes.
    */
  def personalizedPageRank(lineitem: DataFrame, orders: DataFrame,
      supplier: DataFrame, iters: Int = 10, k: Int = 25): DataFrame =
    personalizedPageRankFrom(derivePairs(lineitem, orders), supplier,
      iters, k)

  /** [[personalizedPageRank]] from a prebuilt pair table
    * ([[tradePairs]]).
    */
  def personalizedPageRankFrom(pairs: DataFrame, supplier: DataFrame,
      iters: Int = 10, k: Int = 25): DataFrame = Checkpoints.using { cps =>
    val s = pairs.sparkSession
    import s.implicits._
    val edges0 = bipartiteEdges(pairs)
    val outdeg = edges0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // dst-keyed materialization ([[cpKeyed]]): the per-round in-sum
    // aggregate reuses this one exchange. |edges| = 2·|pairs|.
    val nPairs = pairs.count()
    // Node-sized outdeg broadcast under the guard (the pageRank rule).
    val edges = cps.own(cpKeyed(edges0.join(bcastIf(outdeg, 2L * nPairs),
      "src"), "dst", rowBytes(2L * nPairs, 3)))
    val seedIds = supplier.filter(col("s_nationkey") < 5)
      .select((col("s_suppkey") * 2).as("node"))
    val nodes = cps(edges.select(col("src").as("node")).distinct()
      .join(broadcast(seedIds.withColumn("z", lit(1))), Seq("node"), "left")
      .select(col("node"), coalesce(col("z"), lit(0)).as("is_seed")))
    // One bounded fetch for BOTH counts (seed count for the teleport
    // base, node count for the per-round broadcast guard).
    val cnts = nodes.agg(count(lit(1)).as("n"),
      sum("is_seed").as("ns")).collect()(0)
    val n = cnts.getLong(0)
    val nSeeds = if (cnts.isNullAt(1)) 0L else cnts.getLong(1)
    if (nSeeds == 0L)
      Seq.empty[(Int, String, Long, Long)]
        .toDF("rnk", "node_type", "node_id", "r")
    else {
      val base = 1000000000000L / nSeeds
      val teleport = (15L * base) / 100L
      var ranks = cps(nodes.select(col("node"),
        (col("is_seed") * base).as("r")))
      for (it <- 1 to iters) {
        // Node-sized build sides broadcast under the size guard — the
        // [[prRounds]] round shape.
        val insum = edges.join(bcastIf(ranks, n),
            col("src") === col("node"))
          .select(col("dst"), expr("r div outdeg").as("c"))
          .groupBy("dst").agg(sum("c").as("insum"))
        ranks = nodes.join(bcastIf(insum, n),
            col("node") === col("dst"), "left")
          .select(col("node"), col("is_seed"),
            expr(s"is_seed * ${teleport}L + " +
              "(85 * coalesce(insum, 0L)) div 100").as("r"))
        if (it % 3 == 0 || it == iters) ranks = cps(ranks)
      }
      prTopK(ranks, k).toDF("rnk", "node_type", "node_id", "r")
    }
  }

  /** The q81 oracle: [[sqlPageRank]] with the seeded teleport. */
  private[graft] def sqlPersonalizedPageRank(iters: Int, k: Int): String = {
    val steps = (1 to iters).map { it =>
      s"""r$it AS MATERIALIZED (
        SELECT n.node, n.is_seed,
          n.is_seed * ((15 * (SELECT base FROM nb)) // 100) +
          (85 * COALESCE(i.insum, 0)) // 100 AS r
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node,
            CAST(SUM(r.r // e.outdeg) AS BIGINT) AS insum
          FROM edges e JOIN r${it - 1} r ON r.node = e.src
          GROUP BY e.dst) i ON i.node = n.node)"""
    }.mkString(",\n        ")
    s"""
      WITH pairs AS (
        SELECT DISTINCT l.l_suppkey AS sk, o.o_custkey AS ck
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      edges0 AS (
        SELECT sk * 2 AS src, ck * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT ck * 2 + 1 AS src, sk * 2 AS dst FROM pairs),
      od AS (SELECT src, COUNT(*) AS outdeg FROM edges0 GROUP BY src),
      edges AS MATERIALIZED (
        SELECT e.src, e.dst, od.outdeg
        FROM edges0 e JOIN od ON od.src = e.src),
      seeds AS (SELECT s_suppkey * 2 AS node FROM supplier
                WHERE s_nationkey < 5),
      nodes AS MATERIALIZED (
        SELECT n.node,
          CASE WHEN n.node IN (SELECT node FROM seeds)
               THEN 1 ELSE 0 END AS is_seed
        FROM (SELECT DISTINCT src AS node FROM edges) n),
      nb AS (SELECT 1000000000000 // COUNT(*) AS base
             FROM nodes WHERE is_seed = 1),
      r0 AS MATERIALIZED (
        SELECT node, is_seed,
          is_seed * (SELECT base FROM nb) AS r FROM nodes),
      $steps
      SELECT CAST(rnk AS INT) AS rnk,
        CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
          AS node_type,
        node // 2 AS node_id, CAST(r AS BIGINT) AS r
      FROM (
        SELECT node, r,
          ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rnk
        FROM r$iters)
      WHERE rnk <= $k
        -- Spark returns EMPTY when the graph has no seed (nSeeds
        -- guard); without this gate, nb's 10^12 // 0 would be NULL
        -- and k NULL-rank rows would leak out.
        AND (SELECT COUNT(*) FROM nodes WHERE is_seed = 1) > 0
      ORDER BY rnk"""
  }

  /** HITS hubs & authorities (q83) — Kleinberg's link-analysis pair
    * (JACM 1999) on the DIRECTED supplier→customer trade graph: a
    * hub score for suppliers (supplies many well-endorsed customers)
    * and an authority score for customers (supplied by many strong
    * hubs) — the two-sided endorsement signal a corpus pipeline uses
    * when link structure is bipartite (site→page, source→document),
    * where PageRank's single score conflates the roles.
    *
    * Integer-exact discipline: scores live in 10⁻¹² LONG units and
    * each half-round renormalizes to total mass ~10¹² by the
    * integral division (raw · 10¹²) DIV Σraw, computed in
    * DECIMAL(38,0) so the product stays in exact integer space
    * (raw ≤ 10¹² · maxdeg, so the product ≤ 10²⁴ · maxdeg ≪ 10³⁸;
    * DuckDB runs the identical recurrence in HUGEINT). Both engines
    * therefore execute the same integer map — the hash match is
    * exact with zero FP caveats.
    *
    * Scale shape: per half-round, one join keyed on the edge list's
    * src (resp. dst) plus one map-side-combining LONG sum to a
    * node-sized frame, exactly [[pageRank]]'s cost class. The raw
    * frame is localCheckpoint'd every half-round BECAUSE the
    * normalization references it twice (the aggregate and the emit);
    * left lazy, each round would re-derive its predecessor twice and
    * the lineage would blow up 2^rounds — the Spark-side mirror of
    * the oracle's AS MATERIALIZED pins. Checkpoints are node-sized;
    * all are freed once the bounded top-k materializes.
    */
  def hits(lineitem: DataFrame, orders: DataFrame,
      iters: Int = 8, k: Int = 20): DataFrame =
    hitsFrom(derivePairs(lineitem, orders), iters, k)

  /** [[hits]] from a prebuilt pair table ([[tradePairs]]). */
  def hitsFrom(pairs: DataFrame,
      iters: Int = 8, k: Int = 20): DataFrame = Checkpoints.using { cps =>
    require(iters >= 1, s"hits needs at least one half-round: $iters")
    val s = pairs.sparkSession
    import s.implicits._
    // TWO oriented materializations of the directed edge list (r20):
    // the authority half-round aggregates by dst, the hub half-round
    // by src — one dst-keyed and one src-keyed copy ([[cpKeyed]])
    // lets BOTH aggregates reuse a materialized exchange, removing
    // 2×iters per-half-round node-sized exchanges for the price of
    // one extra edge-list copy (the classic both-orientations layout
    // a deployment persists anyway).
    val nPairs = pairs.count()
    val directed = pairs.select(col("sk").as("src"), col("ck").as("dst"))
    val edgesD = cps.own(cpKeyed(directed, "dst", rowBytes(nPairs, 2)))
    val edgesH = cps.own(cpKeyed(directed, "src", rowBytes(nPairs, 2)))
    // Broadcast-guard bound for the per-half-round score frames:
    // both are keyed by a node of the bipartite pair graph, so each
    // is ≤ the pair count.
    val nBound = nPairs
    // src-keyed copy: the distinct needs no exchange.
    val nh = edgesH.select("src").distinct().count()
    if (nh == 0L)
      Seq.empty[(String, Int, Long, Long)]
        .toDF("kind", "rnk", "node_id", "score")
    else {
      // (raw · 10¹²) DIV Σraw in exact decimal — IntegralDivide returns
      // LONG; the normalized mass sums to ≤ 10¹² by construction. BOTH
      // folds (the per-node raw sum and the total) cast to
      // DECIMAL(38,0) BEFORE summing — the oracle's HUGEINT class; a
      // plain LONG fold would wrap silently past ~9·10¹⁸ (≈ a node
      // with > 9·10⁶ full-mass neighbors). The total is FETCHED from
      // the checkpointed raw frame (a 1-row driver aggregate over
      // cached blocks) and embedded as a decimal literal, so each
      // half-round's plan is one join + one aggregate — no
      // crossJoin/broadcast-exchange subtree. (The r16 verdict's
      // rollup-marker-row alternative trips Spark's
      // DetectAmbiguousSelfJoin on the NEXT half-round's edges⋈auth
      // join — rollup re-tags the grouping attribute — so the literal
      // fetch is the workable form of the same trim.)
      def normalize(raw: DataFrame, key: String): DataFrame = {
        // 1-row aggregate fetch over the CHECKPOINT (no recompute
        // behind it), embedded as an exact decimal literal — the same
        // integral division, minus a crossJoin + broadcast exchange in
        // every half-round's plan.
        val tot = raw.agg(sum(col("raw")).as("tot"))
          .collect()(0).getDecimal(0).toPlainString // never E-notation
        raw.select(col(key).as("node"),
          expr("CAST(CAST(raw AS DECIMAL(38,0)) * 1000000000000 " +
            s"div CAST('$tot' AS DECIMAL(38,0)) AS BIGINT)")
            .as("score"))
      }
      var hubs = cps(edgesH.select(col("src").as("node")).distinct()
        .select(col("node"), lit(1000000000000L / nh).as("score")))
      var auth: DataFrame = null
      for (_ <- 1 to iters) {
        // Node-sized score frames broadcast under the size guard — the
        // [[prRounds]] round shape applied to each half-round; each
        // aggregate runs on the matching oriented edge copy, so neither
        // half-round pays an exchange.
        val araw = cps(edgesD.join(bcastIf(hubs, nBound),
            col("src") === col("node"))
          .groupBy("dst")
          .agg(sum(col("score").cast("decimal(38,0)")).as("raw")))
        auth = normalize(araw, "dst")
        val hraw = cps(edgesH.join(bcastIf(auth, nBound),
            col("dst") === col("node"))
          .groupBy("src")
          .agg(sum(col("score").cast("decimal(38,0)")).as("raw")))
        hubs = normalize(hraw, "src")
      }
      def top(df: DataFrame, kind: String): DataFrame = df
        .orderBy(col("score").desc, col("node")).limit(k)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("score").desc, col("node"))))
        .select(lit(kind).as("kind"), col("rnk"),
          col("node").as("node_id"), col("score"))
      // Bounded (2k rows) out, so the working set can be freed.
      top(hubs, "hub").unionByName(top(auth, "authority"))
        .orderBy("kind", "rnk")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSeq.toDF("kind", "rnk", "node_id", "score")
    }
  }

  /** The q83 oracle: the identical normalize-each-half-round integer
    * recurrence unrolled as MATERIALIZED CTEs ([[sqlPageRank]]'s
    * convention), HUGEINT carrying the 10²⁴-scale products.
    */
  private[graft] def sqlHits(iters: Int, k: Int): String = {
    // Per-node raws stay HUGEINT end-to-end (DuckDB's SUM(BIGINT)
    // class) — mirroring the Spark side's DECIMAL(38,0) folds; only
    // the normalized score (≤ 10¹² by construction) narrows to
    // BIGINT.
    val steps = (1 to iters).map { it =>
      s"""ar$it AS MATERIALIZED (
        SELECT e.dst AS node, SUM(h.score) AS raw
        FROM edges e JOIN h${it - 1} h ON h.node = e.src
        GROUP BY e.dst),
      a$it AS MATERIALIZED (
        SELECT node, CAST(CAST(raw AS HUGEINT) * 1000000000000
          // (SELECT CAST(SUM(raw) AS HUGEINT) FROM ar$it)
          AS BIGINT) AS score
        FROM ar$it),
      hr$it AS MATERIALIZED (
        SELECT e.src AS node, SUM(a.score) AS raw
        FROM edges e JOIN a$it a ON a.node = e.dst
        GROUP BY e.src),
      h$it AS MATERIALIZED (
        SELECT node, CAST(CAST(raw AS HUGEINT) * 1000000000000
          // (SELECT CAST(SUM(raw) AS HUGEINT) FROM hr$it)
          AS BIGINT) AS score
        FROM hr$it)"""
    }.mkString(",\n      ")
    s"""
      WITH edges AS MATERIALIZED (
        SELECT DISTINCT l.l_suppkey AS src, o.o_custkey AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      nb AS (SELECT 1000000000000 // COUNT(DISTINCT src) AS base
             FROM edges),
      h0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, (SELECT base FROM nb) AS score
        FROM edges),
      $steps
      SELECT kind, CAST(rnk AS INT) AS rnk, node_id,
        CAST(score AS BIGINT) AS score
      FROM (
        SELECT 'hub' AS kind, node AS node_id, score,
          ROW_NUMBER() OVER (ORDER BY score DESC, node) AS rnk
        FROM h$iters
        UNION ALL
        SELECT 'authority' AS kind, node AS node_id, score,
          ROW_NUMBER() OVER (ORDER BY score DESC, node) AS rnk
        FROM a$iters)
      WHERE rnk <= $k
        -- Spark returns EMPTY on an edgeless graph (the nh guard).
        AND (SELECT COUNT(*) FROM edges) > 0
      ORDER BY kind, rnk"""
  }

  /** Butterfly counting (q84) — the bipartite analogue of triangle
    * counting (Sanei-Mehri et al., KDD 2018, "Butterfly Counting in
    * Bipartite Networks"): a butterfly is a 2×2 biclique — two
    * suppliers sharing two customers — the smallest non-trivial
    * cohesion motif a bipartite graph has (the trade graph has NO
    * triangles, so the triangle-based clustering signal a corpus
    * pipeline uses on site→page / source→document link structure is
    * exactly this). Emits each supplier's butterfly participation,
    * top-k — the local-clustering prior.
    *
    * Exact wedge enumeration, all-integer: each customer contributes
    * one wedge per supplier pair it connects; a pair with n shared
    * customers closes C(n,2) butterflies; a supplier's participation
    * sums C(n,2) over its pairs. Deterministic integer arithmetic —
    * both engines run the identical count, exact hash match.
    *
    * Scale shape: the self-join is keyed on ck (co-partitioned, never
    * all-pairs) and the wedge volume per customer is C(deg,2), so a
    * `maxDeg` skew cap EXCLUDES hub customers beyond the cap — the
    * d-family's maxBucket/maxPosting rule, applied IDENTICALLY in
    * both engines so the (documented, approximate-by-exclusion) count
    * stays deterministic. Pair counts and participations are
    * map-side-combining LONG sums; output is bounded top-k via
    * orderBy+limit (TakeOrderedAndProject).
    */
  def butterflies(lineitem: DataFrame, orders: DataFrame,
      maxDeg: Int = 256, k: Int = 20): DataFrame =
    butterfliesFrom(derivePairs(lineitem, orders), maxDeg, k)

  /** [[butterflies]] from a prebuilt pair table ([[tradePairs]]). */
  def butterfliesFrom(pairs: DataFrame,
      maxDeg: Int = 256, k: Int = 20): DataFrame = {
    val kept = pairs
      .join(pairs.groupBy("ck").agg(count(lit(1)).as("d"))
        .filter(col("d") <= maxDeg), "ck")
      .select("sk", "ck")
    val pc = kept.as("a")
      .join(kept.as("b"),
        col("a.ck") === col("b.ck") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("s1"), col("b.sk").as("s2"))
      .agg(count(lit(1)).as("n"))
    val perSupplier = pc.select(col("s1").as("s"), col("n"))
      .unionByName(pc.select(col("s2").as("s"), col("n")))
      .groupBy("s")
      .agg(sum(expr("n * (n - 1) div 2")).as("butterflies"))
    perSupplier.orderBy(col("butterflies").desc, col("s")).limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("butterflies").desc, col("s"))))
      .select(col("rnk"), col("s").as("s_suppkey"), col("butterflies"))
      .orderBy("rnk")
  }

  /** The q84 oracle: the identical capped wedge enumeration. */
  private[graft] def sqlButterflies(maxDeg: Int, k: Int): String =
    s"""
      WITH pairs AS (
        SELECT DISTINCT l.l_suppkey AS sk, o.o_custkey AS ck
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      cd AS (SELECT ck FROM pairs GROUP BY ck
             HAVING COUNT(*) <= $maxDeg),
      kept AS MATERIALIZED (
        SELECT p.sk, p.ck FROM pairs p JOIN cd ON cd.ck = p.ck),
      pc AS MATERIALIZED (
        SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS n
        FROM kept a JOIN kept b ON a.ck = b.ck AND a.sk < b.sk
        GROUP BY 1, 2),
      bf AS (
        SELECT s, CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS butterflies
        FROM (SELECT s1 AS s, n FROM pc
              UNION ALL SELECT s2 AS s, n FROM pc)
        GROUP BY s)
      SELECT CAST(rnk AS INT) AS rnk, s AS s_suppkey, butterflies
      FROM (SELECT s, butterflies,
              ROW_NUMBER() OVER (ORDER BY butterflies DESC, s) AS rnk
            FROM bf)
      WHERE rnk <= $k
      ORDER BY rnk"""

  /** k-core decomposition (q85) — each node's coreness (the largest k
    * such that the node survives in the k-core, the maximal subgraph
    * of minimum degree k), the density-tier signal link-graph
    * pipelines use to separate tightly-knit hubs from peripheral
    * pages (spam rings and boilerplate farms sit in low cores;
    * authoritative clusters in high ones). Computed by the
    * distributed h-index iteration (Lü et al. 2016; Montresor et al.
    * 2013): c₀(v) = deg(v), cᵣ₊₁(v) = min(cᵣ(v), H({cᵣ(u) : u∼v}))
    * where H is the h-index — provably monotone non-increasing and
    * convergent to coreness. `rounds` is FIXED, so both engines run
    * the identical integer recurrence whether or not it has converged
    * (the spec asserts convergence on the toy graph; the oracle match
    * never depends on it). Output is the bounded
    * (node_type, coreness → n_nodes) histogram.
    *
    * Scale shape (r20): per round, one src-keyed join pushes each
    * node's value to its neighbors, a map-side-combining COUNT folds
    * the neighbor multiset to DISTINCT (dst, value) rows, one window
    * partitioned by dst cumulates those distinct values descending,
    * and a map-side-combining MAX folds H = max(min(cum, value)) —
    * the window's input is the value set, never the neighbor
    * multiset, so a hub neighborhood costs its value RANGE, not its
    * degree (the skew-magnet fix of the r19 verdict, measured in
    * OPTIMIZATION_r20.md §8). Value frames are node-sized and
    * lineage-flattened every 3rd round. The h-index is invariant
    * under permutation of equal values, so neither the fold nor the
    * cumulation order reaches the result — both engines agree
    * without a tiebreak.
    */
  def kcore(lineitem: DataFrame, orders: DataFrame,
      rounds: Int = 8): DataFrame =
    kcoreFrom(derivePairs(lineitem, orders), rounds)

  /** [[kcore]] from a prebuilt pair table ([[tradePairs]]). */
  def kcoreFrom(pairs: DataFrame,
      rounds: Int = 8): DataFrame = Checkpoints.using { cps =>
    val s = pairs.sparkSession
    import s.implicits._
    // dst-keyed materialization ([[cpKeyed]]): the per-round window
    // (partitionBy dst) AND the h aggregate (groupBy dst) both reuse
    // this one exchange — zero per-round shuffles.
    val edges = cps.own(cpKeyed(bipartiteEdges(pairs), "dst",
      rowBytes(2L * pairs.count(), 2)))
    var core = cps(edges.groupBy("src").agg(count(lit(1)).as("c"))
      .select(col("src").as("node"), col("c")))
    // Node count for the per-round broadcast guard — block-local
    // count of the checkpointed node-sized frame.
    val n = core.count()
    for (it <- 1 to rounds) {
      // H from DISTINCT neighbor values (r20, OPTIMIZATION_r20.md §8:
      // ×5 data 16.4 s window form vs 14.4 s this form, ×1 flat):
      // the neighbor-value multiset folds map-side to
      // (dst, value) counts BEFORE any per-neighborhood ordering, so
      // the window's input is the distinct-value set, not every
      // neighbor row — the hub-neighborhood sort the row_number form
      // pays at scale (r19 verdict item 8) shrinks to the value
      // range. Identity: H = max over distinct v of
      // min(|{u : val(u) ≥ v}|, v) — equal to max(min(rank, value))
      // over the ranked multiset (ties collapse to the suffix
      // count), permutation-invariant, so both engines still agree
      // without a tiebreak.
      val h = edges.join(bcastIf(core, n), col("src") === col("node"))
        .groupBy(col("dst"), col("c").as("nc"))
        .agg(count(lit(1)).as("m"))
        .withColumn("cum", sum("m").over(
          Window.partitionBy("dst").orderBy(col("nc").desc)))
        .groupBy("dst").agg(max(least(col("cum"), col("nc"))).as("h"))
      core = core.join(bcastIf(h, n), col("node") === col("dst"), "left")
        .select(col("node"),
          least(col("c"), coalesce(col("h"), lit(0L))).as("c"))
      if (it % 3 == 0 || it == rounds) core = cps(core)
    }
    // Bounded (node_type, coreness) histogram out, so the working set
    // can be freed (the pageRank rule).
    core
      .select(expr("CASE WHEN node % 2 = 0 THEN 'supplier' " +
        "ELSE 'customer' END").as("node_type"),
        col("c").as("coreness"))
      .groupBy("node_type", "coreness")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("node_type", "coreness")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.toDF("node_type", "coreness", "n_nodes")
  }

  /** The q85 oracle: the identical h-index recurrence unrolled
    * ([[sqlPageRank]]'s convention).
    */
  private[graft] def sqlKcore(rounds: Int): String = {
    val steps = (1 to rounds).map { it =>
      s"""h$it AS MATERIALIZED (
        SELECT dst AS node, MAX(LEAST(rn, nc)) AS h FROM (
          SELECT e.dst, r.c AS nc,
            ROW_NUMBER() OVER (PARTITION BY e.dst ORDER BY r.c DESC)
              AS rn
          FROM edges e JOIN c${it - 1} r ON r.node = e.src)
        GROUP BY dst),
      c$it AS MATERIALIZED (
        SELECT c.node, LEAST(c.c, COALESCE(h.h, 0)) AS c
        FROM c${it - 1} c LEFT JOIN h$it h ON h.node = c.node)"""
    }.mkString(",\n      ")
    s"""
      WITH pairs AS (
        SELECT DISTINCT l.l_suppkey AS sk, o.o_custkey AS ck
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      edges AS MATERIALIZED (
        SELECT sk * 2 AS src, ck * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT ck * 2 + 1 AS src, sk * 2 AS dst FROM pairs),
      c0 AS MATERIALIZED (
        SELECT src AS node, COUNT(*) AS c FROM edges GROUP BY src),
      $steps
      SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
          AS node_type,
        CAST(c AS BIGINT) AS coreness, COUNT(*) AS n_nodes
      FROM c$rounds
      GROUP BY 1, 2
      ORDER BY node_type, coreness"""
  }

  /** Weakly-connected components (q80) — the graph tier's grouping
    * primitive (d08's min-label propagation is the same algorithm on
    * the near-dup graph; here it's registered as a first-class graph
    * query). The graph: the SAME-NATION trade graph — supplier↔
    * customer edges only where both sides share a nation, which
    * partitions the trade graph into per-nation clusters with real
    * component structure (the full graph is one giant component).
    *
    * `rounds` FIXED min-label relaxations: l₀(v) = v,
    * lₖ(v) = min(lₖ₋₁(v), min_{u→v} lₖ₋₁(u)). Pure integer MIN —
    * deterministic in both engines whether or not the propagation
    * has converged (the spec asserts actual convergence on the
    * testdata; the oracle match never depends on it). Output is the
    * bounded (component size → n_components) histogram.
    *
    * Scale shape: [[pageRank]]'s — one src-keyed join plus one
    * dst-keyed map-side-combining MIN per round over the
    * once-materialized edge list; label frames are node-sized;
    * lineage flattened every 3rd round; checkpoints freed after the
    * bounded histogram materializes. Label propagation is the WCC
    * algorithm that needs no union-find driver state — the classic
    * Pregel formulation.
    */
  def connectedComponents(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, supplier: DataFrame,
      rounds: Int = 10): DataFrame =
    connectedComponentsFrom(derivePairs(lineitem, orders),
      customer, supplier, rounds)

  /** [[connectedComponents]] from a prebuilt pair table
    * ([[tradePairs]]) — the same-nation filter attaches the nation
    * attributes AFTER the shared distinct (equivalent: (sk, ck)
    * determines both nations, so filter-after-distinct =
    * distinct-after-filter).
    */
  def connectedComponentsFrom(pairs0: DataFrame, customer: DataFrame,
      supplier: DataFrame,
      rounds: Int = 10): DataFrame = Checkpoints.using { cps =>
    val s = pairs0.sparkSession
    import s.implicits._
    val pairs = pairs0
      .join(broadcast(supplier.select(col("s_suppkey"),
        col("s_nationkey").as("sn"))),
        col("sk") === col("s_suppkey"))
      .join(customer.select(col("c_custkey"),
        col("c_nationkey").as("cn")),
        col("ck") === col("c_custkey"))
      .filter(col("sn") === col("cn"))
      .select(col("sk"), col("ck"))
    // dst-keyed materialization ([[cpKeyed]]): the per-round min
    // aggregate reuses this one exchange. Addressing the r19 q80
    // regression (verdict item 1): the r19 broadcast round shape
    // lost on q80 because each round STILL paid the dst aggregate
    // exchange on top of two broadcast builds; with the exchange
    // removed the broadcast form is strictly cheaper than both r18's
    // and r19's (A/B'd this round — see OPTIMIZATION_r20.md §1).
    val edges = cps.own(cpKeyed(withSelfLoops(bipartiteEdges(pairs)),
      "dst",
      // Size hint: the same-nation filter only shrinks the memoized
      // pair set, so 2·|pairs0| is a sound upper bound.
      rowBytes(2L * pairs0.count(), 2)))
    val nodes = edges.select(col("src").as("node")).distinct()
    val labels = relaxRounds(edges,
      nodes.select(col("node"), col("node").as("label")), rounds, cps,
      edges.count())
    // Bounded (size → count) histogram out, so the working set can be
    // freed.
    componentSizes(labels).toDF("c_size", "n_components")
  }

  /** The bounded (c_size → n_components) histogram of a label frame —
    * q80's and q88's output.
    */
  private def componentSizes(labels: DataFrame): Seq[(Long, Long)] =
    labels.groupBy("label").agg(count(lit(1)).as("c_size"))
      .groupBy("c_size").agg(count(lit(1)).as("n_components"))
      .orderBy("c_size")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSeq

  /** Self-loop augmentation for the min-relaxation primitives (r20):
    * one (v, v) edge per node. With self-loops,
    * min_{u→v, incl. self} lₖ₋₁(u) = min(lₖ₋₁(v), min-in) — the relax
    * update becomes a PURE dst-keyed aggregate (the [[prRounds]]
    * join-free shape): the old `labels ⋈ relaxed` outer join, its
    * per-round broadcast build, AND the 2^stride plan duplication it
    * caused inside [[relaxToFixpoint]] (the stride chain referenced
    * each step's output twice — measured r20: 50 BroadcastExchange
    * nodes per stride plan in st34) all disappear. |V| extra rows on
    * an |E|-row list.
    */
  private[graft] def withSelfLoops(edges: DataFrame): DataFrame =
    edges.unionByName(edges.select(col("src")).distinct()
      .select(col("src"), col("src").as("dst")))

  /** One synchronous min-label relaxation pass, `rounds` times:
    * lₖ(v) = min(lₖ₋₁(v), min_{u→v} lₖ₋₁(u)). The shared recurrence
    * of q80 and q88.
    *
    * PRECONDITION (r20): `edges` INCLUDE the [[withSelfLoops]]
    * augmentation, so the update is one src-keyed join + one
    * dst-keyed map-side-combining MIN — min over
    * in-neighbors-with-self EQUALS least(own, min-in) exactly, and
    * the aggregate's key set covers every node (each node has its
    * self-loop), so the old outer join back onto the label frame is
    * an identity and is gone. With a dst-keyed edge materialization
    * ([[cpKeyed]]) a round costs ONE broadcast build of the
    * node-sized label frame and one |E| pass — zero exchanges.
    * Label frames node-sized; lineage flattened through `cp` every
    * 3rd round.
    */
  private[graft] def relaxRounds(edges: DataFrame, labels0: DataFrame,
      rounds: Int, cp: DataFrame => DataFrame,
      nNodes: Long = -1L): DataFrame = {
    var labels = labels0
    for (it <- 1 to rounds) {
      labels = edges.join(bcastIf(labels, nNodes),
          col("src") === col("node"))
        .select(col("dst"), col("label"))
        .groupBy("dst").agg(min("label").as("nl"))
        .select(col("dst").as("node"), col("nl").as("label"))
      if (it % 3 == 0 || it == rounds) labels = cp(labels)
    }
    labels
  }

  /** (sk, ck, d0) — the trade-pair table with each pair's FIRST trade
    * day attached (min o_orderdate over the pair's orders, as days
    * since epoch): the time axis q88's incremental split cuts on.
    * One lineitem⋈orders join + one (sk, ck)-keyed MIN aggregate —
    * [[derivePairs]]'s cost with the distinct replaced by the
    * equivalent grouping.
    */
  private[graft] def datedTradePairs(lineitem: DataFrame,
      orders: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01"))
          .cast("long").as("day"))
      .groupBy("sk", "ck").agg(min(col("day")).as("d0"))

  /** Incremental WCC maintenance (q88) — q86's join-delta discipline
    * applied to the graph tier: what a daily 100 TB crawl pipeline
    * runs when a new batch of trade pairs lands and q80's component
    * labels (feeding c19's curation prior) must refresh WITHOUT a
    * full recompute.
    *
    * The pair set splits at the median first-trade day (pairs whose
    * earliest trade is ≤ cut are the BASE corpus, the rest the
    * DELTA — q86's cut convention). The base fixpoint is computed
    * batch-style (`baseRounds` min-label relaxations), PERSISTED to
    * parquet and read back (the storage boundary q86 proves the
    * delta terms through: the stored labels are yesterday's
    * artifact, not a live frame), then the full edge set converges
    * in `deltaRounds` rounds SEEDED from the stored labels — new
    * nodes start at their own id, existing nodes at their stored
    * component label.
    *
    * Why seeding is sound: labels only decrease under min-relaxation
    * and every base label is a node id inside the same (full)
    * component, so the seeded fixpoint equals the from-scratch
    * fixpoint — the min node m of a merged component had label m in
    * the base (its base sub-component's minimum is itself), and its
    * label floods the merged component in at most
    * diameter-of-the-CHANGE rounds, not diameter-of-the-graph. The
    * ORACLE is the full 10-round recompute on the union
    * ([[sqlConnectedComponents]] verbatim), so the hash match PROVES
    * incremental ≡ batch on the converged testdata; the spec pins
    * convergence and that the seeded pass needs strictly fewer
    * rounds than from-scratch.
    *
    * Scale shape: identical per-round cost to q80 (|E| join +
    * node-sized MIN), but the steady-state daily run pays only
    * `deltaRounds` rounds and ONE label-store read — the recompute
    * it replaces pays `baseRounds` every day. Frames are node-sized,
    * checkpoints freed after the bounded histogram materializes.
    */
  def incrementalWcc(s: SparkSession, dir: String,
      baseRounds: Int = 10, deltaRounds: Int = 6): DataFrame =
    incrementalWccFrom(
      datedTradePairsCached(s, dir),
      Tables.load(s, dir, "customer"),
      Tables.load(s, dir, "supplier"),
      baseRounds, deltaRounds)

  /** The shared q88 split/seed machinery — same-nation filter, median
    * first-trade-day cut, base fixpoint PERSISTED to parquet and read
    * back, full edge set, seed frame. Used by the registered query
    * AND the convergence meter so the guards live in exactly one
    * place: a pair whose every trade is date-less (d0 NULL) fails
    * `d0 <= cut` and is delta-only — correct, because the union side
    * never consults d0 (the q86 NULL-exhaustiveness rule); if NO
    * pair has a date (or the graph is empty) the base is empty and
    * the seeded pass IS a from-scratch run, so it gets the batch
    * round budget, not the delta one. Returns (edges, seeded,
    * rounds, nNodes) — the node count feeds the per-round broadcast
    * guard and is a block-local count of the checkpointed seed frame.
    */
  private def q88Seed(dated: DataFrame, customer: DataFrame,
      supplier: DataFrame, baseRounds: Int, deltaRounds: Int,
      cps: Checkpoints): (DataFrame, DataFrame, Int, Long) = {
    val s = dated.sparkSession
    val pairs = cps(dated
      .join(broadcast(supplier.select(col("s_suppkey"),
        col("s_nationkey").as("sn"))),
        col("sk") === col("s_suppkey"))
      .join(customer.select(col("c_custkey"),
        col("c_nationkey").as("cn")),
        col("ck") === col("c_custkey"))
      .filter(col("sn") === col("cn"))
      .select(col("sk"), col("ck"), col("d0")))
    // Median-day cut — a 1-row bounded fetch (the oracle never sees
    // the cut: it recomputes the union from scratch).
    val b = pairs.agg(min("d0").as("mn"), max("d0").as("mx"))
      .collect()(0)
    val allDateless = b.isNullAt(0)
    val cut = if (allDateless) Long.MinValue
      else (b.getLong(0) + b.getLong(1)) / 2
    val rounds = if (allDateless) math.max(baseRounds, deltaRounds)
      else deltaRounds
    // Base fixpoint, batch-style, persisted — yesterday's artifact.
    // dst-keyed materializations ([[cpKeyed]]): every relax round's
    // min aggregate reuses the one exchange, both eras. Size hints
    // from the materialized same-nation pair count (base ≤ full).
    val nPairs = pairs.count()
    val baseEdges = cps.own(cpKeyed(withSelfLoops(bipartiteEdges(
      pairs.filter(col("d0") <= cut).select("sk", "ck"))), "dst",
      rowBytes(2L * nPairs, 2)))
    val baseNodes = baseEdges.select(col("src").as("node")).distinct()
    val baseLabels = relaxRounds(baseEdges,
      baseNodes.select(col("node"), col("node").as("label")),
      baseRounds, cps,
      // |nodes| ≤ |edges|: block-local bound for the broadcast guard.
      baseEdges.count())
    val store = new java.io.File(SourceSinks.tmp("graft_q88"),
      "labels").getAbsolutePath
    baseLabels.write.mode("overwrite").parquet(store)
    val stored = s.read.schema("node BIGINT, label BIGINT")
      .parquet(store)
    // Today's run: full edge set, seeded from the STORED labels.
    val edges = cps.own(cpKeyed(
      withSelfLoops(bipartiteEdges(pairs.select("sk", "ck"))),
      "dst", rowBytes(2L * nPairs, 2)))
    val nodes = edges.select(col("src").as("node")).distinct()
    // The stored label frame is node-sized (≤ 2·|pairs| rows) —
    // broadcast it under the guard instead of sort-merging two
    // node-sized sides (r20).
    val seeded = cps(nodes
      .join(bcastIf(stored.withColumnRenamed("node", "bn")
        .withColumnRenamed("label", "bl"), 2L * nPairs),
        col("node") === col("bn"), "left")
      .select(col("node"),
        coalesce(col("bl"), col("node")).as("label")))
    (edges, seeded, rounds, seeded.count())
  }

  /** [[incrementalWcc]] from a prebuilt (sk, ck, d0) dated pair
    * table — same-nation filtered like q80 (the filter commutes with
    * the grouping: (sk, ck) determines both nations).
    */
  def incrementalWccFrom(dated: DataFrame, customer: DataFrame,
      supplier: DataFrame, baseRounds: Int = 10,
      deltaRounds: Int = 6): DataFrame = Checkpoints.using { cps =>
    val s = dated.sparkSession
    import s.implicits._
    val (edges, seeded, rounds, n) =
      q88Seed(dated, customer, supplier, baseRounds, deltaRounds, cps)
    val labels = relaxRounds(edges, seeded, rounds, cps, n)
    // Convergence guard (the r17 verdict's insurance): the fixed
    // `deltaRounds` budget is sound only while the delta's change
    // diameter stays under it — a production delta that exceeds it
    // would otherwise SILENTLY emit a non-fixpoint histogram. One
    // extra relaxation round plus a bounded changed-row probe turns
    // that into a loud error for the cost of one |E|-join job.
    // Sum compare instead of a join probe (r20): labels only
    // decrease, so the vector moved iff its LONG sum did — two
    // block-local aggregates over checkpointed frames instead of a
    // node-sized join.
    def lsum(l: DataFrame): Long = l
      .agg(coalesce(sum("label"), lit(0L))).collect()(0).getLong(0)
    val extra = relaxRounds(edges, labels, 1, cps, n)
    val moved = lsum(extra) != lsum(labels)
    if (moved)
      throw new IllegalStateException(
        s"q88: labels still moving after $rounds seeded rounds — " +
          "the delta's change diameter exceeds deltaRounds; raise it")
    // Bounded (size → count) histogram out, so the working set can be
    // freed.
    componentSizes(labels).toDF("c_size", "n_components")
  }

  /** (seeded, scratch) rounds-to-fixpoint on `dir`'s same-nation
    * trade graph — the spec's evidence that q88's seeded pass
    * converges in strictly fewer rounds than the from-scratch batch
    * recompute it replaces. Replicates [[incrementalWccFrom]]'s
    * split (cut, base fixpoint, seed frame), then meters both starts
    * with [[wccRoundsToFixpoint]]. Spec-scale only.
    */
  private[graft] def q88ConvergenceRounds(s: SparkSession, dir: String,
      baseRounds: Int = 10): (Int, Int) =
    q88ConvergenceRoundsFrom(
      datedTradePairs(Tables.load(s, dir, "lineitem"),
        Tables.load(s, dir, "orders")),
      Tables.load(s, dir, "customer"),
      Tables.load(s, dir, "supplier"), baseRounds)

  private[graft] def q88ConvergenceRoundsFrom(dated: DataFrame,
      customer: DataFrame, supplier: DataFrame,
      baseRounds: Int = 10): (Int, Int) = Checkpoints.using { cps =>
    val (edges, seeded, _, _) =
      q88Seed(dated, customer, supplier, baseRounds, 6, cps)
    val scratch = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    (wccRoundsToFixpoint(edges, seeded),
      wccRoundsToFixpoint(edges, scratch))
  }

  /** Min-label relaxation run to an OBSERVED fixpoint (loud cap) —
    * st34's in-stream refresh primitive: unlike q88's fixed
    * `deltaRounds` (whose budget the convergence guard polices after
    * the fact), the streaming maintainer cannot know each delta's
    * change diameter up front, so it relaxes until a round moves no
    * label and THROWS at `maxRounds` rather than emitting a
    * non-fixpoint. Cost per round is one |E| join + one bounded
    * changed-row probe; the returned frame is checkpointed through
    * `cp`, so a caller may overwrite the storage it was seeded from.
    */
  private[graft] def relaxToFixpoint(edges: DataFrame,
      labels0: DataFrame, maxRounds: Int,
      cp: DataFrame => DataFrame): DataFrame = {
    var labels = cp(labels0)
    // One block-local pass yields BOTH the broadcast-guard node count
    // and the label sum the fixpoint probe compares against.
    def sumAndCount(l: DataFrame): (Long, Long) = {
      val row = l.agg(coalesce(sum("label"), lit(0L)).as("s"),
        count(lit(1)).as("n")).collect()(0)
      (row.getLong(0), row.getLong(1))
    }
    var (lsum, n) = sumAndCount(labels)
    var r = 0
    // Stride guard is r + 3 <= maxRounds (r18 ADVICE rule): a budget
    // that is not a multiple of the stride rounds DOWN to the last
    // full stride rather than overshooting past the stated cap.
    while (r + 3 <= maxRounds) {
      // THREE chained relaxation rounds per materialization (the q88
      // every-3rd-round checkpoint rule applied to the probed loop):
      // with the r20 join-free round ([[relaxRounds]] — edges carry
      // self-loops) the stride plan is LINEAR (one broadcast build
      // per round; previously the prev-threaded step referenced its
      // input twice and the 3-deep chain held 50 BroadcastExchange
      // nodes). The fixpoint probe is a SUM compare: labels only
      // DECREASE under min-relaxation — no oscillation — so the
      // node-wise label vector is unchanged across the stride iff
      // its sum is, and "unchanged across the stride" ⟺ all three
      // rounds were no-ops ⟺ fixpoint; at worst two
      // already-converged rounds run inside the last stride. The sum
      // fits LONG with huge headroom (labels are node ids; Σ ≤
      // |V|·maxId ≪ 2⁶³ for any graph whose ids fit a LONG join key).
      val stepped = cp(relaxRounds(edges, labels, 3, identity, n))
      val (s2, _) = sumAndCount(stepped)
      labels = stepped
      if (s2 == lsum) return labels
      lsum = s2
      r += 3
    }
    throw new IllegalStateException(
      s"wcc relaxation still moving after $r executed rounds " +
        s"(cap $maxRounds)")
  }

  /** Rounds of min-label relaxation until nothing changes — the
    * spec's convergence meter for q88 (seeded-from-stored must beat
    * from-scratch). Each round adds one bounded changed-count job;
    * spec-scale only.
    */
  private[graft] def wccRoundsToFixpoint(edges0: DataFrame,
      labels0: DataFrame,
      maxRounds: Int = 50): Int = Checkpoints.using { cps =>
    val edges = cps(edges0)
    var labels = cps(labels0)
    var r = 0
    var changed = true
    while (changed && r < maxRounds) {
      val next = cps(relaxRounds(edges, labels, 1, identity))
      changed = next
        .join(labels.withColumnRenamed("label", "prev"), "node")
        .filter(col("label") =!= col("prev")).limit(1).count() > 0
      labels = next
      if (changed) r += 1
    }
    r
  }

  // ------------------------------------------------------------------
  // q89: incremental PageRank maintenance.
  // ------------------------------------------------------------------

  /** Incremental PageRank maintenance (q89) — q88's seeded-refresh
    * discipline applied to the rank tier: the daily corpus-delta
    * refresh of q77's citation-rank prior (the signal c19's curation
    * budget is shaped like) WITHOUT re-running the full batch
    * iteration from a cold uniform start.
    *
    * The pair set splits at the median first-trade day (q88's cut,
    * floor-div so both engines agree on any sign — the q87 lesson).
    * The base-era graph runs `baseIters` batch rounds, the full rank
    * VECTOR is PERSISTED to parquet and read back (the q86/q88
    * storage boundary: yesterday's artifact, not a live frame), then
    * the full graph runs `deltaIters` rounds SEEDED from the stored
    * ranks — existing nodes start at their stored rank rescaled by
    * the node-count ratio nBase/n (an exact integer split,
    * (r div n)·nBase + ((r mod n)·nBase) div n ≡ (r·nBase) div n
    * without the overflow — sound because base nodes ⊆ full nodes so
    * nBase ≤ n and every term stays under the 10¹² mass bound), new
    * nodes at the re-based uniform rank 10¹² div n; the teleport
    * constant is likewise re-based to the full node count. Seeding
    * near the old equilibrium is the whole point: the 0.85
    * contraction then only has to close the DELTA's perturbation,
    * not the full cold-start error — the spec meters exactly that
    * (seeded reaches a stable vector in fewer rounds than
    * from-scratch).
    *
    * WHY THE ORACLE RESTATES THE SEEDED RECURRENCE rather than being
    * q77's from-scratch recompute (the q88 convention): min-label
    * relaxation has a START-INDEPENDENT exact fixpoint, so q88 could
    * let the hash prove incremental ≡ batch. Integer PageRank does
    * not — the 10-round iterate is start-dependent, and the integer
    * map's truncation slop admits nearby fixpoints (a hash compare
    * of seeded vs cold iterates would be red by honest ±1-unit
    * differences). So q89's oracle pins what CAN be exact — the
    * entire incremental pipeline (cut arithmetic, base rounds,
    * storage round trip, rescale, seeded rounds) as one unrolled
    * integer recurrence, hash-exact at every SF — and the
    * incremental-≈-batch claim is spec-metered (stability rounds +
    * the convergence gap shrinking under seeding) instead of
    * hash-asserted. All-dateless corpora degrade gracefully: the
    * base era is empty, every node is "new", and the seeded pass IS
    * a (short) cold run — still oracle-exact, because the oracle
    * restates the same split.
    *
    * Scale shape: identical per-round cost to q77 (|E| join +
    * node-sized LONG sum); the steady-state daily run pays
    * `deltaIters` rounds plus ONE rank-store read, vs `baseIters`
    * rounds for the recompute it replaces. Reference hook: the
    * one-pass incremental design of the reference pipeline
    * (`/root/reference/src/main.rs:436-473` — never re-reads what it
    * already emitted).
    */
  def incrementalPageRank(s: SparkSession, dir: String,
      baseIters: Int = 10, deltaIters: Int = 4, k: Int = 25): DataFrame =
    incrementalPageRankFrom(
      datedTradePairsCached(s, dir), baseIters, deltaIters, k)

  def incrementalPageRankFrom(dated0: DataFrame, baseIters: Int = 10,
      deltaIters: Int = 4,
      k: Int = 25): DataFrame = Checkpoints.using { cps =>
    val s = dated0.sparkSession
    import s.implicits._
    val (edges, nodes, n, seeded, teleport) =
      q89Seed(dated0, baseIters, cps)
    if (n == 0L)
      Seq.empty[(Int, String, Long, Long)]
        .toDF("rnk", "node_type", "node_id", "r")
    else {
      val ranks = prRounds(edges, nodes, seeded, teleport,
        deltaIters, cps, n)
      prTopK(ranks, k).toDF("rnk", "node_type", "node_id", "r")
    }
  }

  /** The shared q89 split/seed machinery — median-day cut, base
    * rank fixpoint approximation persisted to parquet and read back,
    * full edge set with outdeg, rescaled seed frame, re-based
    * teleport. Returns (edges, nodes, n, seededRanks, teleport).
    * Factored so the registered query and the spec's stability meter
    * share one definition.
    */
  private def q89Seed(dated0: DataFrame, baseIters: Int, cps: Checkpoints)
      : (DataFrame, DataFrame, Long, DataFrame, Long) = {
    val s = dated0.sparkSession
    val dated = cps(dated0)
    // Median-day cut — a 1-row bounded fetch. floorDiv, not /: the
    // oracle's // FLOORS, and a negative day sum must agree (q87).
    val b = dated.agg(min("d0").as("mn"), max("d0").as("mx"))
      .collect()(0)
    val cut = if (b.isNullAt(0)) Long.MinValue
      else Math.floorDiv(b.getLong(0) + b.getLong(1), 2L)
    // Base era: batch rank rounds, persisted — yesterday's artifact.
    // (A dateless pair fails d0 <= cut and is delta-only — the q86
    // NULL-exhaustiveness rule, as in q88.)
    val baseEdges0 = bipartiteEdges(
      dated.filter(col("d0") <= cut).select("sk", "ck"))
    val baseOut = baseEdges0.groupBy("src")
      .agg(count(lit(1)).as("outdeg"))
    // dst-keyed materializations ([[cpKeyed]]): every rank round's
    // in-sum aggregate reuses the one exchange, both eras. Size
    // hints from the materialized dated-pair count (base ≤ full).
    val nDated = dated.count()
    val baseEdges = cps.own(cpKeyed(
      baseEdges0.join(bcastIf(baseOut, 2L * nDated), "src"), "dst",
      rowBytes(2L * nDated, 3)))
    val baseNodes = cps(baseEdges.select(col("src").as("node"))
      .distinct())
    val nBase = baseNodes.count()
    val baseRanks =
      if (nBase == 0L)
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType
            .fromDDL("node BIGINT, r BIGINT"))
      else {
        val bb = 1000000000000L / nBase
        prRounds(baseEdges, baseNodes,
          cps(baseNodes.select(col("node"), lit(bb).as("r"))),
          (15L * bb) / 100L, baseIters, cps, nBase)
      }
    val store = new java.io.File(SourceSinks.tmp("graft_q89"),
      "ranks").getAbsolutePath
    baseRanks.write.mode("overwrite").parquet(store)
    val stored = s.read.schema("node BIGINT, r BIGINT").parquet(store)
    // Today's run: full edge set, seeded from the STORED ranks.
    val edges0 = bipartiteEdges(dated.select("sk", "ck"))
    val outdeg = edges0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val edges = cps.own(cpKeyed(
      edges0.join(bcastIf(outdeg, 2L * nDated), "src"), "dst",
      rowBytes(2L * nDated, 3)))
    val nodes = cps(edges.select(col("src").as("node")).distinct())
    val n = nodes.count()
    if (n == 0L) return (edges, nodes, 0L, nodes, 0L)
    val teleport = (15L * (1000000000000L / n)) / 100L
    // The stored rank frame is node-sized: nBase ≤ n rows.
    val seeded = cps(rescaledSeed(nodes, stored, n, nBase, n))
    (edges, nodes, n, seeded, teleport)
  }

  /** `nodes` seeded from a stored (node, r) rank vector over `nPrev`
    * nodes: a stored rank rescaled EXACTLY by nPrev/n (see
    * [[incrementalPageRank]]; all args non-negative, so div/%
    * truncation = floor in both engines), a new node at the uniform
    * 10¹² div n. The node-sized store broadcasts under the guard with
    * `storeRows` as its row bound (r20).
    */
  private[graft] def rescaledSeed(nodes: DataFrame, stored: DataFrame,
      n: Long, nPrev: Long, storeRows: Long): DataFrame =
    nodes
      .join(bcastIf(stored.withColumnRenamed("node", "bn")
        .withColumnRenamed("r", "br"), storeRows),
        col("node") === col("bn"), "left")
      .select(col("node"),
        coalesce(
          expr(s"(br div ${n}L) * ${nPrev}L + " +
            s"((br % ${n}L) * ${nPrev}L) div ${n}L"),
          lit(1000000000000L / n)).as("r"))

  /** Rounds of the rank recurrence until no node moves by more than
    * `tol` units — the spec's stability meter for q89 (the seeded
    * start must beat the cold start). Each round adds one bounded
    * changed-count job; spec-scale only.
    */
  private[graft] def prRoundsToStable(edges: DataFrame,
      nodes: DataFrame, ranks0: DataFrame, teleport: Long, tol: Long,
      maxRounds: Int = 60): Int = Checkpoints.using { cps =>
    var ranks = cps(ranks0)
    var r = 0
    var moving = true
    while (moving && r < maxRounds) {
      val next = cps(prRounds(edges, nodes, ranks, teleport, 1,
        identity))
      moving = next
        .join(ranks.withColumnRenamed("r", "pr"), "node")
        .filter(abs(col("r") - col("pr")) > tol).limit(1).count() > 0
      ranks = next
      if (moving) r += 1
    }
    r
  }

  /** (seeded, scratch) rounds-to-stability on a dated pair table —
    * q89's convergence meter, [[q88ConvergenceRoundsFrom]]'s shape:
    * same tolerance, same full edge set, only the start differs
    * (stored-rank seed vs cold uniform). Spec-scale only.
    */
  private[graft] def q89ConvergenceRoundsFrom(dated: DataFrame,
      baseIters: Int = 10,
      tolDivisor: Long = 1000L): (Int, Int) = Checkpoints.using { cps =>
    val (edges, nodes, n, seeded, teleport) =
      q89Seed(dated, baseIters, cps)
    require(n > 0L, "empty graph")
    val base = 1000000000000L / n
    val tol = math.max(1L, base / tolDivisor)
    val cold = cps(nodes.select(col("node"), lit(base).as("r")))
    (prRoundsToStable(edges, nodes, seeded, teleport, tol),
      prRoundsToStable(edges, nodes, cold, teleport, tol))
  }

  /** The q89 oracle: the ENTIRE incremental pipeline — cut, base
    * rounds, rescaled seed, seeded rounds — as one unrolled
    * MATERIALIZED-CTE integer recurrence ([[sqlPageRank]]'s
    * convention; see [[incrementalPageRank]] for why the oracle
    * restates the seeded recurrence instead of the from-scratch
    * recompute).
    */
  private[graft] def sqlIncrementalPageRank(baseIters: Int,
      deltaIters: Int, k: Int): String = {
    def steps(prefix: String, edges: String, nodes: String,
        tele: String, iters: Int): String =
      (1 to iters).map { it =>
        s"""$prefix$it AS MATERIALIZED (
        SELECT n.node,
          $tele +
          (85 * COALESCE(i.insum, 0)) // 100 AS r
        FROM $nodes n LEFT JOIN (
          -- CAST: DuckDB's SUM(BIGINT) is HUGEINT (the q77 rule).
          SELECT e.dst AS node,
            CAST(SUM(r.r // e.outdeg) AS BIGINT) AS insum
          FROM $edges e JOIN $prefix${it - 1} r ON r.node = e.src
          GROUP BY e.dst) i ON i.node = n.node)"""
      }.mkString(",\n        ")
    s"""
      WITH dated AS (
        SELECT l.l_suppkey AS sk, o.o_custkey AS ck,
          MIN(CAST(date_diff('day', DATE '1970-01-01',
            CAST(o.o_orderdate AS DATE)) AS BIGINT)) AS d0
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
      -- // FLOORS, matching the Scala floorDiv (the q87 lesson).
      cutv AS (SELECT (MIN(d0) + MAX(d0)) // 2 AS cut FROM dated),
      bpairs AS (
        SELECT sk, ck FROM dated, cutv WHERE d0 <= cut),
      bedges0 AS (
        SELECT sk * 2 AS src, ck * 2 + 1 AS dst FROM bpairs
        UNION ALL
        SELECT ck * 2 + 1 AS src, sk * 2 AS dst FROM bpairs),
      bod AS (SELECT src, COUNT(*) AS outdeg FROM bedges0 GROUP BY src),
      bedges AS MATERIALIZED (
        SELECT e.src, e.dst, od.outdeg FROM bedges0 e
        JOIN bod od ON od.src = e.src),
      bnodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM bedges),
      bnb AS (SELECT COUNT(*) AS nb_cnt,
        1000000000000 // NULLIF(COUNT(*), 0) AS base FROM bnodes),
      b0 AS MATERIALIZED (
        SELECT node, (SELECT base FROM bnb) AS r FROM bnodes),
      ${steps("b", "bedges", "bnodes",
        "(15 * (SELECT base FROM bnb)) // 100", baseIters)},
      edges0 AS (
        SELECT sk * 2 AS src, ck * 2 + 1 AS dst FROM dated
        UNION ALL
        SELECT ck * 2 + 1 AS src, sk * 2 AS dst FROM dated),
      od AS (SELECT src, COUNT(*) AS outdeg FROM edges0 GROUP BY src),
      edges AS MATERIALIZED (
        SELECT e.src, e.dst, od.outdeg FROM edges0 e
        JOIN od ON od.src = e.src),
      nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
      nb AS (SELECT COUNT(*) AS n_cnt,
        1000000000000 // NULLIF(COUNT(*), 0) AS base FROM nodes),
      s0 AS MATERIALIZED (
        -- stored base ranks rescaled by nb_cnt/n_cnt (exact integer
        -- split — every term under the 10^12 mass bound); new nodes
        -- at the re-based uniform rank.
        SELECT n.node,
          CASE WHEN b.r IS NULL THEN (SELECT base FROM nb)
               ELSE (b.r // (SELECT n_cnt FROM nb))
                      * (SELECT nb_cnt FROM bnb)
                    + ((b.r % (SELECT n_cnt FROM nb))
                      * (SELECT nb_cnt FROM bnb))
                      // (SELECT n_cnt FROM nb)
          END AS r
        FROM nodes n LEFT JOIN b$baseIters b ON b.node = n.node),
      ${steps("s", "edges", "nodes",
        "(15 * (SELECT base FROM nb)) // 100", deltaIters)}
      SELECT CAST(rnk AS INT) AS rnk,
        CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
          AS node_type,
        node // 2 AS node_id, CAST(r AS BIGINT) AS r
      FROM (
        SELECT node, r,
          ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rnk
        FROM s$deltaIters)
      WHERE rnk <= $k
      ORDER BY rnk"""
  }

  /** The st36 oracle: the ENTIRE streamed rank-maintenance recurrence
    * unrolled — the dated pairs split into `slices` first-trade-day
    * slices (st35's slice arithmetic; null-day pairs route to slice
    * 0), then one ERA per refresh cadence point (slice prefixes
    * 2, 4, …, `slices` at every=2): era 0 is the cold backfill
    * (`baseIters` uniform-start rounds), each later era re-seeds from
    * the PREVIOUS era's final vector rescaled by the exact integer
    * node-count ratio (q89's split) with the teleport re-based to the
    * era's node count. q89's oracle convention throughout — integer
    * PageRank is start-dependent, so the oracle pins the exact
    * pipeline and the incremental-≈-batch claim is spec-carried.
    */
  private[graft] def sqlStreamIncrementalPageRank(slices: Int,
      baseIters: Int, deltaIters: Int, k: Int): String = {
    def steps(prefix: String, edges: String, nodes: String,
        tele: String, iters: Int): String =
      (1 to iters).map { it =>
        s"""$prefix$it AS MATERIALIZED (
        SELECT n.node,
          $tele +
          (85 * COALESCE(i.insum, 0)) // 100 AS r
        FROM $nodes n LEFT JOIN (
          -- CAST: DuckDB's SUM(BIGINT) is HUGEINT (the q77 rule).
          SELECT e.dst AS node,
            CAST(SUM(r.r // e.outdeg) AS BIGINT) AS insum
          FROM $edges e JOIN $prefix${it - 1} r ON r.node = e.src
          GROUP BY e.dst) i ON i.node = n.node)"""
      }.mkString(",\n        ")
    // One era per refresh: the graph over slice prefix `maxSlice`,
    // seeded by `seedSql`, run for `iters` rounds.
    def era(e: Int, maxSlice: Int, iters: Int, seedSql: String): String =
      s"""e${e}p AS (SELECT sk, ck FROM sl WHERE slice <= $maxSlice),
      e${e}edges0 AS (
        SELECT sk * 2 AS src, ck * 2 + 1 AS dst FROM e${e}p
        UNION ALL
        SELECT ck * 2 + 1 AS src, sk * 2 AS dst FROM e${e}p),
      e${e}od AS (
        SELECT src, COUNT(*) AS outdeg FROM e${e}edges0 GROUP BY src),
      e${e}edges AS MATERIALIZED (
        SELECT x.src, x.dst, od.outdeg FROM e${e}edges0 x
        JOIN e${e}od od ON od.src = x.src),
      e${e}nodes AS MATERIALIZED (
        SELECT DISTINCT src AS node FROM e${e}edges),
      e${e}nb AS (SELECT COUNT(*) AS n_cnt,
        1000000000000 // NULLIF(COUNT(*), 0) AS base FROM e${e}nodes),
      e${e}r0 AS MATERIALIZED ($seedSql),
      ${steps(s"e${e}r", s"e${e}edges", s"e${e}nodes",
        s"(15 * (SELECT base FROM e${e}nb)) // 100", iters)}"""
    // Era e ≥ 1 seed: previous era's final vector rescaled by
    // n_{e-1}/n_e (q89's exact integer split — nodes only accumulate,
    // so n_{e-1} <= n_e and every term stays under the 10^12 bound);
    // nodes new to this era start at the re-based uniform rank.
    def seed(e: Int, prevFinal: String): String =
      s"""
        SELECT n.node,
          CASE WHEN p.r IS NULL THEN (SELECT base FROM e${e}nb)
               ELSE (p.r // (SELECT n_cnt FROM e${e}nb))
                      * (SELECT n_cnt FROM e${e - 1}nb)
                    + ((p.r % (SELECT n_cnt FROM e${e}nb))
                      * (SELECT n_cnt FROM e${e - 1}nb))
                      // (SELECT n_cnt FROM e${e}nb)
          END AS r
        FROM e${e}nodes n LEFT JOIN $prevFinal p ON p.node = n.node"""
    val nEras = slices / 2
    val eras = (0 until nEras).map { e =>
      if (e == 0)
        era(0, 1, baseIters,
          "SELECT node, (SELECT base FROM e0nb) AS r FROM e0nodes")
      else {
        val prevFinal =
          s"e${e - 1}r${if (e == 1) baseIters else deltaIters}"
        era(e, 2 * e + 1, deltaIters, seed(e, prevFinal))
      }
    }.mkString(",\n      ")
    val last = s"e${nEras - 1}r${if (nEras == 1) baseIters else deltaIters}"
    s"""
      WITH dated AS (
        SELECT l.l_suppkey AS sk, o.o_custkey AS ck,
          MIN(CAST(date_diff('day', DATE '1970-01-01',
            CAST(o.o_orderdate AS DATE)) AS BIGINT)) AS d0
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
      mmv AS (SELECT MIN(d0) AS mn, MAX(d0) AS mx FROM dated),
      sl AS (
        SELECT sk, ck,
          COALESCE(CAST(((d0 - mn) * $slices) // (mx - mn + 1) AS INT),
            0) AS slice
        FROM dated, mmv),
      $eras
      SELECT CAST(rnk AS INT) AS rnk,
        CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
          AS node_type,
        node // 2 AS node_id, CAST(r AS BIGINT) AS r
      FROM (
        SELECT node, r,
          ROW_NUMBER() OVER (ORDER BY r DESC, node) AS rnk
        FROM $last)
      WHERE rnk <= $k
      ORDER BY rnk"""
  }

  /** The q80 oracle: the identical fixed-round min-label relaxation
    * unrolled as MATERIALIZED CTEs ([[sqlPageRank]]'s convention).
    */
  private[graft] def sqlConnectedComponents(rounds: Int): String = {
    val steps = (1 to rounds).map { it =>
      s"""l$it AS MATERIALIZED (
        SELECT d.node,
          LEAST(d.label, COALESCE(i.nl, d.label)) AS label
        FROM l${it - 1} d LEFT JOIN (
          SELECT e.dst AS node, MIN(r.label) AS nl
          FROM edges e JOIN l${it - 1} r ON r.node = e.src
          GROUP BY e.dst) i ON i.node = d.node)"""
    }.mkString(",\n        ")
    s"""
      WITH pairs AS (
        SELECT DISTINCT l.l_suppkey AS sk, o.o_custkey AS ck
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE s.s_nationkey = c.c_nationkey),
      edges AS MATERIALIZED (
        SELECT sk * 2 AS src, ck * 2 + 1 AS dst FROM pairs
        UNION ALL
        SELECT ck * 2 + 1 AS src, sk * 2 AS dst FROM pairs),
      l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM edges),
      $steps
      SELECT c_size, COUNT(*) AS n_components FROM (
        SELECT label, COUNT(*) AS c_size FROM l$rounds GROUP BY label)
      GROUP BY c_size
      ORDER BY c_size"""
  }

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    Q(
      "q77_pagerank",
      (s, dir) =>
        // Exact integer PageRank (see [[pageRank]]): 10 rounds over
        // the supplier↔customer trade graph, top-25 by rank.
        pageRankFrom(tradePairs(s, dir)),
      Some(sqlPageRank(iters = 10, k = 25))),
    // ----------------------------------------------------------------
    Q(
      "q78_seed_distance",
      (s, dir) =>
        // BFS seed distance (see [[seedDistance]]): hop distance
        // from nation-0..4 suppliers, 6 min-plus rounds, histogram out.
        seedDistanceFrom(tradePairs(s, dir),
          Tables.load(s, dir, "supplier")),
      Some(sqlSeedDistance(rounds = 6))),
    // ----------------------------------------------------------------
    Q(
      "q80_connected_components",
      (s, dir) =>
        // Weakly-connected components (see [[connectedComponents]]):
        // 10 min-label rounds on the same-nation trade graph,
        // bounded (component size → count) histogram out.
        connectedComponentsFrom(tradePairs(s, dir),
          Tables.load(s, dir, "customer"),
          Tables.load(s, dir, "supplier")),
      Some(sqlConnectedComponents(rounds = 10))),
    // ----------------------------------------------------------------
    Q(
      "q81_personalized_pagerank",
      (s, dir) =>
        // Personalized PageRank (see [[personalizedPageRank]]):
        // teleport mass restricted to the nation-0..4 supplier seed
        // set — trust-relative influence, top-25.
        personalizedPageRankFrom(tradePairs(s, dir),
          Tables.load(s, dir, "supplier")),
      Some(sqlPersonalizedPageRank(iters = 10, k = 25))),
    // ----------------------------------------------------------------
    Q(
      "q83_hits",
      (s, dir) =>
        // HITS hubs & authorities (see [[hits]]): 8 normalize-each-
        // half-round integer rounds on the directed supplier→customer
        // graph, top-20 hubs + top-20 authorities.
        hitsFrom(tradePairs(s, dir)),
      Some(sqlHits(iters = 8, k = 20))),
    // ----------------------------------------------------------------
    Q(
      "q84_butterflies",
      (s, dir) =>
        // Butterfly counting (see [[butterflies]]): per-supplier 2×2
        // biclique participation on the bipartite trade graph,
        // hub-customer degree cap 256, top-20.
        butterfliesFrom(tradePairs(s, dir)),
      Some(sqlButterflies(maxDeg = 256, k = 20))),
    // ----------------------------------------------------------------
    Q(
      "q85_kcore",
      (s, dir) =>
        // k-core decomposition (see [[kcore]]): 8 h-index rounds on
        // the bipartite trade graph, bounded
        // (node_type, coreness → count) histogram out.
        kcoreFrom(tradePairs(s, dir)),
      Some(sqlKcore(rounds = 8))),
    // ----------------------------------------------------------------
    Q(
      "q88_incremental_wcc",
      (s, dir) =>
        // Incremental WCC maintenance (see [[incrementalWcc]]): base
        // fixpoint persisted, delta converged from the STORED labels
        // in 6 seeded rounds. The oracle is q80's full 10-round
        // recompute on the union — the hash match proves
        // incremental ≡ batch through the storage boundary.
        incrementalWcc(s, dir),
      Some(sqlConnectedComponents(rounds = 10))),
    // ----------------------------------------------------------------
    Q(
      "q89_incremental_pagerank",
      (s, dir) =>
        // Incremental PageRank maintenance (see
        // [[incrementalPageRank]]): base ranks persisted to parquet,
        // full graph re-converged in 4 rounds SEEDED from the stored
        // vector (rescaled by the node-count ratio, teleport
        // re-based). The oracle restates the whole seeded recurrence
        // — see the Scaladoc for why PageRank (unlike q88's WCC)
        // cannot hash-match a from-scratch recompute.
        incrementalPageRank(s, dir),
      Some(sqlIncrementalPageRank(baseIters = 10, deltaIters = 4,
        k = 25)))
  )
}
