package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Checkpoints, SessionMemo, Tables}
import graft.functions.VectorExpressions

/** Similarity search over the `embeddings` table (Array[Float], 64-d).
  *
  *  - s01: brute-force cosine top-k — the correctness baseline, fully
  *    oracle-checked against DuckDB. O(|Q|·N) dot products as one
  *    broadcast join; the double-cast + sequential-fold dot product is
  *    bit-identical across engines.
  *  - s02: random-hyperplane LSH bucketing — the scale path for
  *    candidate generation: 16 sign bits → one int bucket; ANN search
  *    becomes an equi-join on bucket. Hyperplanes are derived
  *    deterministically from md5-digit parity so every executor (and
  *    the DuckDB oracle) agrees without shipping a model.
  *  - s03: IVF-style search — probe the nearest coarse centroid
  *    (here: per-label mean vectors, computed distributively via
  *    posexplode + groupBy), then brute-force only within that cell.
  *    At 100 TB this prunes the candidate set by ~|cells|×.
  */
object Similarity {

  private[graft] def emb(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
  }

  /** Native codegen dot product (index-order sum — bit-identical to
    * the HOF fold and the DuckDB oracle; see DotProduct).
    */
  def dot(a: Column, b: Column): Column = VectorExpressions.dot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** ±1 weight for (hyperplane b, dim j ∈ 1..64): the parity of the
    * first hex digit of md5("b,j"). The planes are a MODEL CONSTANT —
    * deriving them from a portable digest means every executor AND the
    * DuckDB oracle agree on the exact planes without shipping
    * anything; deriving them at PLAN TIME (here, 1024 driver-side
    * md5s) instead of per row means the per-vector work is just 16
    * native dot products. Parity with the SQL-side derivation
    * (`CAST('0x'||substr(md5(b||','||j),1,1) AS INT) % 2`) is pinned
    * by SimilaritySpec.
    */
  def planeWeight(b: Int, j: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$b,$j".getBytes("UTF-8"))
    if (((digest(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
  }

  /** The 16 hyperplanes as literal weight vectors (plane → 64 ±1s). */
  val planeWeights: IndexedSeq[IndexedSeq[Double]] =
    (0 until 16).map(b => (1 to 64).map(j => planeWeight(b, j)))

  /** DuckDB literal VALUES rows `(b, [±1.0, ...])` for the oracle CTE —
    * generated from the same planeWeight source of truth.
    */
  def planesSqlValues: String = planeWeights.zipWithIndex.map {
    case (ws, b) =>
      ws.map(w => if (w > 0) "1.0" else "-1.0")
        .mkString(s"($b, [", ",", "])")
  }.mkString(",\n          ")

  /** Sign bit of vector `v` against plane `b`, as `1<<shift` or 0.
    * The projection is one native codegen dot product against a
    * literal weight array — an index-order IEEE double sum, which both
    * engines reproduce bit-for-bit (the d06/s01-proven pattern), so
    * the sign (and hence every bucket) is oracle-exact.
    */
  def planeBit(v: Column, b: Int, shift: Int): Column =
    when(dot(v, typedLit(planeWeights(b))) >= 0, lit(1 << shift))
      .otherwise(lit(0))

  /** All-pairs approximate k-NN join, blocked on the first `bits`
    * hyperplane sign bits: candidate pairs are bucket-mates only, the
    * self-join is an equi-join shuffle on the bucket key, and the rank
    * filter is pushed below the shuffle by InferWindowGroupLimit.
    * `bits` trades recall for in-bucket pair count (quadratic in
    * bucket population) — it must grow with the corpus. Measured
    * recall@3 ≥ 0.95 vs the exact baseline on SimilaritySpec's
    * planted-cluster corpus at bits = 4 (floor asserted there).
    * Input needs (vec_id, v: array<double>).
    */
  def knnJoin(e: DataFrame, bits: Int, k: Int): DataFrame = {
    val bucketC = (0 until bits).map(b => planeBit(col("v"), b, b))
      .reduce(_ + _).cast("int")
    val eb = e
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("bucket", bucketC)
      .select(col("vec_id"), col("v"), col("nrm"), col("bucket"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("nb"))
    eb.as("a")
      .join(eb.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nb"),
        round(dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 6).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** IVF-style top-k: probe the `probes` nearest coarse centroids per
    * query (per-label exact-decimal mean vectors —
    * [[seedCentroids]]), then brute-force only within the probed
    * cells. At scale this prunes the candidate set by
    * ~|cells|/probes×. `probes` is the recall dial: on a corpus that
    * clusters around the cells one probe suffices (SimilaritySpec
    * asserts recall@5 = 1.0 on its planted-cluster corpus at
    * probes = 1); on weakly-clustered vectors true neighbors straddle
    * cell boundaries, so recall climbs with probes — measured on the
    * REAL sf0.01 embeddings in SimilaritySpec: 0.12 @ 1 probe,
    * monotonically to 1.0 at probes = |cells| (exact-equivalent by
    * construction, since every cell is searched). Cells are disjoint,
    * so multi-probe needs no dedup — one window ranks the union.
    * Input (vec_id, label, v); queries (qid, qv). Output
    * (qid, probe_label, vec_id, cos_sim, rnk).
    *
    * `excludeSelf = true` is the corpus-member-query mode: qid IS the
    * query's own corpus vec_id and the self-match is excluded by id.
    * EXTERNAL queries (vectors not in the corpus — the deployment's
    * first call) must pass `excludeSelf = false`: there is no self to
    * exclude, and the id filter would silently drop a legitimate
    * neighbor whose vec_id happens to collide with a qid (the r8
    * advisory). s10 oracle-checks this path with centroid queries.
    *
    * `centroidsOpt` lets a caller that already aggregated the coarse
    * centroids (the corpus-wide posexplode + two-shuffle fold in
    * [[seedCentroids]] — the dominant stage at scale) pass them in
    * instead of paying that aggregation a second time. Must be the
    * (c_label, cv) frame of THIS corpus.
    */
  def ivfTopk(
      e: DataFrame, queries: DataFrame, k: Int, probes: Int = 1,
      excludeSelf: Boolean = true,
      centroidsOpt: Option[DataFrame] = None,
      rankUnrounded: Boolean = false): DataFrame = {
    require(probes >= 1, s"need at least one probe, got $probes")
    val centroids = centroidsOpt.getOrElse(seedCentroids(e))
    // Probe: nearest `probes` centroids per query (tiny cross join).
    val probe = queries.crossJoin(broadcast(centroids))
      .select(col("qid"), col("qv"), col("c_label"),
        cosine(col("qv"), col("cv")).as("c_sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("c_sim").desc, col("c_label"))))
      .filter(col("rn") <= probes)
      .select(col("qid"), col("qv"), col("c_label").as("probe_label"))
    // Search only the probed cells — the IVF pruning step.
    // Rank key: the 6-dp rounded cosine by default (s01's emit
    // convention — oracle-stable because the oracle rounds the same
    // way); UNROUNDED when the caller's true score is a monotone
    // image of cosine (s33's MIPS lift: cos = ip/(|q'|·M) with a
    // constant divisor, so rounding first can collapse distinct
    // inner products into a 6-dp tie and let the vec_id tie-break
    // diverge from true-score order). The EMITTED cos_sim is rounded
    // either way — only the window's sort key changes.
    val rawCos = cosine(col("qv"), col("v"))
    val rankKey = if (rankUnrounded) col("cos_raw") else col("cos_sim")
    val w = Window.partitionBy(col("qid"))
      .orderBy(rankKey.desc, col("vec_id"))
    val cellCond = col("label") === col("probe_label")
    e.join(broadcast(probe),
      if (excludeSelf) cellCond && col("vec_id") =!= col("qid") else cellCond)
      .select(col("qid"), col("probe_label"), col("vec_id"),
        rawCos.as("cos_raw"), round(rawCos, 6).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .drop("cos_raw")
  }

  /** Exact cosine RANGE search — all corpus vectors with cosine ≥
    * `minCosine` of each query (the radius-query counterpart of the
    * top-k ladder), with LOSSLESS IVF-cell pruning. For unit vectors
    * cos(q,x) ≥ θ ⇔ ‖q̂−x̂‖ ≤ √(2(1−θ)); a cell with centroid c and
    * radius r = max ‖x̂−c‖ can contain a match only if
    * ‖q̂−c‖ − r ≤ √(2(1−θ)) (triangle inequality), so cells failing
    * the bound are skipped WITHOUT being scanned. Pruning affects only
    * WHICH cells are read — matches always come from the exact s01
    * arithmetic over raw vectors — so the result is provably identical
    * to the brute-force oracle; a θ-side epsilon absorbs float noise
    * and the final 6-dp rounding.
    *
    * Scale shape: centroids + radii are one aggregation over the
    * normalized corpus (map-side combined); the query×cell bound test
    * is a tiny broadcast cross; the search itself is an equi-join on
    * the cell key — with the corpus PARTITIONED by cell (the IVF
    * layout s03 documents), a pruned cell is a parquet partition never
    * read. On tightly-clustered corpora that is most of them
    * (SimilaritySpec asserts both the pruning and the exactness on a
    * planted corpus); on diffuse vectors the bound honestly keeps
    * every cell and the op degrades to the exact scan it must never
    * under-report. Input (vec_id, label, v); queries (qid, qv, qnrm).
    * Output (qid, vec_id, cos_sim).
    */
  private def withNormalized(e: DataFrame): DataFrame = e
    .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    .withColumn("vn", transform(col("v"), x => x / col("nrm")))

  private def euclid(a: Column, b: Column): Column = {
    val diff = zip_with(a, b, (x, y) => x - y)
    sqrt(dot(diff, diff))
  }

  /** [[rangeSearch]]'s pruning stage, factored out so SimilaritySpec
    * can assert cells are actually SKIPPED on a clustered corpus:
    * (qid, qv, qnrm, klabel) — the (query, cell) pairs the triangle-
    * inequality bound could not prove empty.
    */
  private[graft] def rangeKeptCells(e: DataFrame, queries: DataFrame,
      minCosine: Double): DataFrame = {
    val en = withNormalized(e)
    // Per-cell pivot + radius over NORMALIZED vectors (pruning-side
    // only — plain double means suffice, any pivot is sound).
    val cent = en
      .select(col("label"), posexplode(col("vn")).as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(avg(col("x")).as("cx"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("cx"))))
        .as("pairs"))
      .select(col("label"), transform(col("pairs"),
        p => p.getField("cx")).as("cv"))
    val cells = en.join(cent, "label")
      .groupBy("label", "cv")
      .agg(max(euclid(col("vn"), col("cv"))).as("r"))
    // ε on the θ side: covers IEEE noise in the bound arithmetic AND
    // the final round-to-6dp admitting a cos up to 5e-7 below θ.
    val bound = math.sqrt(2.0 * (1.0 - minCosine + 1e-6))
    queries
      .withColumn("qn", transform(col("qv"), x => x / col("qnrm")))
      .crossJoin(broadcast(cells))
      .filter(euclid(col("qn"), col("cv")) - col("r") <= lit(bound))
      .select(col("qid"), col("qv"), col("qnrm"),
        col("label").as("klabel"))
  }

  def rangeSearch(e: DataFrame, queries: DataFrame,
      minCosine: Double): DataFrame = {
    val en = withNormalized(e)
    val kept = rangeKeptCells(e, queries, minCosine)
    en.join(broadcast(kept),
        col("label") === col("klabel") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
      .orderBy("qid", "vec_id")
  }

  /** MaxSim late-interaction retrieval (the ColBERT scoring rule,
    * Khattab & Zaharia 2020): treat each vector as `subs` contiguous
    * sub-vectors (the multi-vector stand-in — a real late-interaction
    * corpus stores per-token vectors) and score
    * maxsim(q,d) = Σᵢ maxⱼ cos(qᵢ, dⱼ): each query sub-vector is
    * matched to its best document sub-vector independently, which is
    * what lets late interaction capture partial/topical matches that
    * one pooled vector averages away.
    *
    * Scale shape: a pure map-side broadcast scan — subs² fixed-width
    * native dot products per (query, doc) pair, no explode, no
    * shuffle but the per-query top-k window (WindowGroupLimit-
    * bounded). Determinism: each sub-cos is the s01 double arithmetic
    * ROUNDed to 6 dp, max and the fixed-order Σ over ≤`subs` such
    * doubles are engine-identical. Output (qid, vec_id, maxsim, rnk).
    */
  def maxSimTopk(e: DataFrame, queries: DataFrame, subs: Int,
      k: Int): DataFrame = {
    val dims = 64 / subs
    require(subs * dims == 64, s"subs must divide 64, got $subs")
    def sub(c: Column, i: Int): Column = slice(c, i * dims + 1, dims)
    val maxsim = (0 until subs).map { i =>
      val qi = sub(col("qv"), i)
      greatest((0 until subs).map { j =>
        val dj = sub(col("v"), j)
        round(dot(qi, dj) / (sqrt(dot(qi, qi)) * sqrt(dot(dj, dj))), 6)
      }: _*)
    }.reduce(_ + _)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("maxsim").desc, col("vec_id"))
    e.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), maxsim.as("maxsim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** DuckDB mirror of [[maxSimTopk]]'s scoring at subs=4: the same
    * Σᵢ maxⱼ over 6-dp-rounded sub-vector cosines, generated from one
    * loop so the 16 slice bounds cannot drift from the Spark side.
    */
  val sqlMaxSim4: String = {
    def subCos(i: Int, j: Int): String = {
      val (qa, qb) = (i * 16 + 1, i * 16 + 16)
      val (xa, xb) = (j * 16 + 1, j * 16 + 16)
      s"""ROUND(list_sum(list_transform(
            list_zip(q.qv[$qa:$qb], e.v[$xa:$xb]), p -> p[1] * p[2])) /
            (sqrt(list_sum(list_transform(q.qv[$qa:$qb], x -> x * x))) *
             sqrt(list_sum(list_transform(e.v[$xa:$xb], x -> x * x)))), 6)"""
    }
    (0 until 4).map(i =>
      "GREATEST(" + (0 until 4).map(j => subCos(i, j)).mkString(", ") +
        ")").mkString(" + ")
  }

  /** One distributed k-means Lloyd iteration over (vec_id, label, v)
    * rows: seeds = per-label exact-decimal mean vectors, assignment =
    * nearest seed by cosine (broadcast argmax, label tie-break),
    * update = per-(cluster, dim) mean of the assignment as a
    * sequential IEEE fold in vec_id order (order-determined on both
    * engines — a decimal rescale of a double is NOT cross-engine
    * deterministic; see the s05 entry's comment).
    */
  def kmeansIterate(e: DataFrame): DataFrame =
    updateMeans(assignClusters(e, seedCentroids(e)))

  /** Per-label exact-decimal mean vectors — the k-means seeds
    * (argmax-robust: they only ever feed a cosine comparison).
    * (c_label, cv: array<double>).
    */
  def seedCentroids(e: DataFrame): DataFrame = e
    .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
    .groupBy("label", "dim")
    .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
      count(lit(1))).as("cx"))
    .groupBy("label")
    .agg(array_sort(collect_list(struct(col("dim"), col("cx"))))
      .as("pairs"))
    .select(col("label").as("c_label"),
      transform(col("pairs"), p => p.getField("cx")).as("cv"))

  /** Nearest-centroid assignment by cosine: broadcast the (≤ k-row)
    * centroid table, argmax via a per-vector window with centroid-id
    * tie-break. Map-only apart from the tiny window shuffle on
    * vec_id. (vec_id, v, cluster).
    */
  def assignClusters(e: DataFrame, centroids: DataFrame): DataFrame = e
    .crossJoin(broadcast(centroids))
    .select(col("vec_id"), col("v"), col("c_label"),
      cosine(col("v"), col("cv")).as("sim"))
    .withColumn("rn", row_number().over(
      Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("c_label"))))
    .filter(col("rn") === 1)
    .select(col("vec_id"), col("v"), col("c_label").as("cluster"))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space, call two vectors
    * semantic duplicates when their within-cluster cosine is ≥ `tau`,
    * and of each duplicate neighborhood keep the LEAST redundant
    * member — the one with the LOWEST cosine to its cluster centroid
    * (the paper's keep-far-from-centroid rule; vec_id breaks exact
    * ties). A vector is dropped iff some same-cluster neighbor at
    * cosine ≥ tau strictly precedes it in that order.
    *
    * Clustering here is the deterministic seed assignment
    * ([[seedCentroids]] + [[assignClusters]]) so the result is
    * bit-reproducible on both engines; a production run would iterate
    * [[kmeansConverge]] first — the dedup step is unchanged.
    *
    * Scale shape: the pairwise step is quadratic only WITHIN a
    * cluster — the SemDeDup design point (k is sized so n/k pairs
    * fit; a cluster too hot for that gets sub-blocked with the d09
    * hyperplane bands before pairing). Centroids broadcast twice
    * (assignment + cent_sim); the dominance join shuffles on cluster
    * and ships (vec_id, v, cent_sim) only.
    *
    * Output (vec_id, cluster, cent_sim, is_kept), one row per input
    * vector.
    */
  def semanticDedup(e: DataFrame, tau: Double): DataFrame =
    semanticDedupImpl(e, tau, blockBits = 0)

  /** [[semanticDedup]] with the quadratic term BOUNDED: vectors
    * additionally block on their first `blockBits` SRP hyperplane
    * sign bits (the d09 machinery — oracle-exact), and only
    * same-(cluster, block) pairs are compared. 2^blockBits sub-blocks
    * cut the within-cluster pair count ~4^blockBits-fold — the dial
    * that keeps SemDeDup feasible when clusters outgrow the n²/k
    * budget (measured: ×100 corpus, 12.5k-member clusters — 341 s
    * exact → see README for the blocked figure).
    *
    * Approximation contract: an IDENTICAL pair of vectors shares every
    * sign bit, so exact duplicates are NEVER separated — only
    * non-identical neighbors at cosine ≥ tau can land in different
    * sub-blocks and be missed (per-plane split probability θ/π, the
    * SRP guarantee; pinned in SimilaritySpec). Deterministic on both
    * engines, so the d14 oracle row hash-checks the blocked semantics
    * directly.
    */
  def semanticDedupBlocked(
      e: DataFrame, tau: Double, blockBits: Int): DataFrame = {
    require(blockBits >= 1 && blockBits <= 16,
      s"blockBits must be in [1, 16], got $blockBits")
    semanticDedupImpl(e, tau, blockBits)
  }

  private def semanticDedupImpl(
      e: DataFrame, tau: Double, blockBits: Int): DataFrame = {
    val centroids = seedCentroids(e)
    val ws0 = assignClusters(e, centroids)
      .join(broadcast(centroids), col("cluster") === col("c_label"))
      .select(col("vec_id"), col("v"), col("cluster"),
        cosine(col("v"), col("cv")).as("cent_sim"))
    val ws =
      if (blockBits == 0) ws0.withColumn("block", lit(0))
      else ws0.withColumn("block",
        (0 until blockBits).map(i => planeBit(col("v"), i, i))
          .reduce(_ + _))
    val dominated = ws.as("a").join(ws.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.block") === col("b.block") &&
          col("a.vec_id") =!= col("b.vec_id") &&
          cosine(col("a.v"), col("b.v")) >= tau &&
          (col("b.cent_sim") < col("a.cent_sim") ||
            (col("b.cent_sim") === col("a.cent_sim") &&
              col("b.vec_id") < col("a.vec_id"))))
      .select(col("a.vec_id").as("vec_id")).distinct()
      .withColumn("dropped", lit(1))
    ws.join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        round(col("cent_sim"), 6).as("cent_sim"),
        (coalesce(col("dropped"), lit(0)) === 0).cast("int").as("is_kept"))
  }

  /** Prototypicality PRUNING (s29) — the data-pruning rule of
    * Sorscher et al. 2022 ("Beyond neural scaling laws"): in the
    * abundant-data regime, the EASIEST examples — the ones closest
    * to their cluster prototype — teach the least, so each cluster
    * drops its most prototypical quarter and keeps the informative
    * tail. The complement of d12's SemDeDup keep-rule (there,
    * far-from-centroid wins a DUP NEIGHBORHOOD; here, near-centroid
    * loses its seat outright, duplicates or not) — together they are
    * the two embedding-space curation passes a web-scale corpus
    * runs.
    *
    * Built from the d12 machinery: deterministic decimal seed
    * centroids, broadcast argmax assignment, one cosine per vector.
    * The only addition is a per-cluster rank — O(n log n) within
    * each cluster partition, no pairwise term at all (cheaper than
    * SemDeDup by construction). The drop boundary is integer-exact
    * (rnk > n div 4), so keep/drop hash-matches with no tolerance.
    *
    * Output (vec_id, cluster, proto_sim, rnk, n_cluster, is_kept).
    */
  def prototypePrune(e: DataFrame): DataFrame = {
    val centroids = seedCentroids(e)
    val scored = assignClusters(e, centroids)
      .join(broadcast(centroids), col("cluster") === col("c_label"))
      .select(col("vec_id"), col("cluster"),
        round(cosine(col("v"), col("cv")), 6).as("proto_sim"))
    val n = scored.groupBy("cluster")
      .agg(count(lit(1)).as("n_cluster"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("proto_sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .join(broadcast(n), "cluster")
      .select(col("vec_id"), col("cluster"), col("proto_sim"),
        col("rnk"), col("n_cluster"),
        (col("rnk") > expr("n_cluster div 4")).cast("int")
          .as("is_kept"))
      .orderBy("vec_id")
  }

  /** Width of the fixed vec_id ranges in the three-level deterministic
    * mean fold ([[chunkedMean]]): every level's aggregation buffer
    * holds at most this many structs, whatever the cluster size.
    */
  val meanChunkWidth: Long = 1024L

  /** Level 1 of the three-level deterministic mean: per (keys…, chunk)
    * where chunk = `vec_id div` [[meanChunkWidth]], fold the members
    * of that fixed vec_id range in vec_id order. The aggregation
    * buffer is bounded by the chunk width — a billion-member cluster
    * never lands in one buffer (the O(cluster) `collect_list` this
    * replaces did exactly that). Requires non-negative vec_id (Spark
    * `div` truncates, DuckDB `//` floors — they agree on ≥ 0).
    * Input needs (keys…, vec_id, x); output (keys…, chunk, cn, csum).
    */
  def chunkedPartials(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val kcols = keys.map(col)
    rows
      .withColumn("chunk", expr(s"vec_id div $meanChunkWidth"))
      .groupBy(kcols :+ col("chunk"): _*)
      .agg(count(lit(1)).as("cn"),
        array_sort(collect_list(struct(col("vec_id"), col("x"))))
          .as("xs"))
      .select(kcols ++ Seq(col("chunk"), col("cn"),
        expr("aggregate(xs, cast(0.0 as double), (a, p) -> a + p.x)")
          .as("csum")): _*)
  }

  /** Three-level chunked deterministic mean: fold within fixed-width
    * vec_id ranges ([[chunkedPartials]], level-1 buffers ≤ width
    * member structs), then fold the chunk sums within fixed-width
    * CHUNK ranges (superchunk = `chunk div` width — level-2 buffers
    * ≤ width chunk structs, whatever the cluster size), then fold the
    * superchunk sums in superchunk order. Deterministic on both
    * engines — chunk/superchunk membership and all three fold orders
    * are vec_id-determined — so the DuckDB oracle states the
    * identical convention. Only the level-3 buffer still grows with
    * the data: one struct per populated superchunk, i.e.
    * ≤ ceil(max vec_id / width²) ≤ width structs for vec_id < width³
    * ≈ 1.07e9; past that the same construction stacks a fourth
    * level. Output (keys…, n_members, cx).
    */
  def chunkedMean(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val kcols = keys.map(col)
    chunkedPartials(rows, keys)
      .withColumn("schunk", expr(s"chunk div $meanChunkWidth"))
      .groupBy(kcols :+ col("schunk"): _*)
      .agg(sum(col("cn")).as("scn"),
        array_sort(collect_list(struct(col("chunk"), col("csum"))))
          .as("chunks"))
      .select(kcols ++ Seq(col("schunk"), col("scn"),
        expr("aggregate(chunks, cast(0.0 as double), (a, p) -> a + p.csum)")
          .as("ssum")): _*)
      .groupBy(kcols: _*)
      .agg(sum(col("scn")).as("n_members"),
        array_sort(collect_list(struct(col("schunk"), col("ssum"))))
          .as("schunks"))
      .select(kcols ++ Seq(col("n_members"),
        (expr(
          "aggregate(schunks, cast(0.0 as double), (a, p) -> a + p.ssum)") /
          col("n_members")).as("cx")): _*)
  }

  /** Per-(cluster, dim) mean of an assignment via [[chunkedMean]] —
    * deterministic (both fold orders are vec_id-given, on BOTH
    * engines; a decimal rescale of a double is not — see the s05
    * entry) with bounded per-group state. (cluster, dim, n_members,
    * cx).
    */
  def updateMeans(assigned: DataFrame): DataFrame =
    chunkedMean(
      assigned
        .select(col("vec_id"), col("cluster"),
          posexplode(col("v")).as(Seq("dim0", "x")))
        .select(col("vec_id"), col("cluster"),
          (col("dim0") + 1).as("dim"), col("x")),
      Seq("cluster", "dim"))

  /** (cluster, dim, cx) means back into (c_label, cv) centroid arrays
    * for the next assignment round.
    */
  def centroidArrays(means: DataFrame): DataFrame = means
    .groupBy("cluster")
    .agg(array_sort(collect_list(struct(col("dim"), col("cx"))))
      .as("pairs"))
    .select(col("cluster").as("c_label"),
      transform(col("pairs"), p => p.getField("cx")).as("cv"))

  /** k-means to CONVERGENCE — the d08 loop pattern applied to Lloyd
    * iterations: localCheckpoint the input and each round's result
    * (else lineage grows and the whole upstream recomputes per
    * round), stop when no centroid coordinate moved more than `eps`
    * (cluster death counts as movement) or at `maxIter`. Per round
    * the only shuffles are the (cluster, dim) mean aggregation and
    * the tiny vec_id window — assignment is a broadcast map pass, so
    * the loop is maxIter × the s05 plan, which is how Lloyd scales on
    * a cluster. Exact-fixpoint early exit is oracle-safe: once means
    * repeat bit-for-bit, every further iteration reproduces them.
    * Returns the final round's (cluster, dim, n_members, cx).
    * Per-round cost at ×1 → ×100 corpus: README "Measured similarity
    * scaling".
    */
  def kmeansConverge(
      e0: DataFrame, maxIter: Int = 10, eps: Double = 0.0): DataFrame = {
    require(maxIter >= 1, s"need at least one iteration, got $maxIter")
    val e = e0.localCheckpoint()
    var cent = seedCentroids(e).coalesce(1).localCheckpoint()
    var means: DataFrame = null
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      val prevMeans = means
      means = updateMeans(assignClusters(e, cent)).localCheckpoint()
      if (prevMeans != null) Checkpoints.free(prevMeans)
      val next = centroidArrays(means).coalesce(1).localCheckpoint()
      converged = next.as("n")
        .join(cent.as("o"), col("n.c_label") === col("o.c_label"), "full")
        .filter(col("n.c_label").isNull || col("o.c_label").isNull ||
          exists(zip_with(col("n.cv"), col("o.cv"),
            (a, b) => abs(a - b) > eps), b => b))
        .isEmpty
      Checkpoints.free(cent) // the isEmpty above already consumed it
      cent = next
      i += 1
    }
    // The returned means is itself a checkpoint: the input and the
    // final centroid table are dead — free them rather than letting
    // them live as long as the caller holds the result.
    Checkpoints.free(e)
    Checkpoints.free(cent)
    means
  }

  /** DuckDB restatement of [[kmeansConverge]] at a PINNED iteration
    * count: the same assign/update round unrolled `n` times as CTEs
    * (SQL has no loop; the generator is the single source of the
    * round's arithmetic). Seeds are the exact-decimal label means;
    * every subsequent centroid is the vec_id-ordered IEEE fold mean —
    * bit-identical on both engines, so the rounds chain without
    * drift.
    */
  def sqlKmeansUnrolled(n: Int): String = {
    val rounds = (1 to n).map { k =>
      s"""
        sims$k AS (
          SELECT e.vec_id, e.v, c.cluster,
            list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) /
            (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
             sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS sim
          FROM e CROSS JOIN cent${k - 1} c),
        assign$k AS (
          SELECT vec_id, v, cluster FROM (
            SELECT vec_id, v, cluster,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cluster) AS rn
            FROM sims$k) WHERE rn = 1),
        ad$k AS (
          SELECT vec_id, cluster, CAST(u.i AS INT) AS dim, u.x AS x
          FROM assign$k, unnest(list_transform(range(1, len(v) + 1),
                                i -> {'i': i, 'x': v[i]})) AS s(u)),
        chnk$k AS (
          SELECT cluster, dim, vec_id // $meanChunkWidth AS chunk,
            COUNT(*) AS cn,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                     list(x ORDER BY vec_id)),
                        (a, b) -> a + b) AS csum
          FROM ad$k GROUP BY cluster, dim, chunk),
        schnk$k AS (
          SELECT cluster, dim, chunk // $meanChunkWidth AS schunk,
            SUM(cn) AS scn,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                     list(csum ORDER BY chunk)),
                        (a, b) -> a + b) AS ssum
          FROM chnk$k GROUP BY cluster, dim, schunk),
        upd$k AS (
          SELECT cluster, dim, CAST(SUM(scn) AS BIGINT) AS n_members,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                     list(ssum ORDER BY schunk)),
                        (a, b) -> a + b) / SUM(scn) AS cx
          FROM schnk$k GROUP BY cluster, dim),
        cent$k AS (
          SELECT cluster, list(cx ORDER BY dim) AS cv
          FROM upd$k GROUP BY cluster)"""
    }.mkString(",")
    s"""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        dims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent0 AS (
          SELECT label AS cluster, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM dims GROUP BY label, dim)
          GROUP BY label),$rounds
        SELECT cluster, dim, n_members, cx FROM upd$n
        ORDER BY cluster, dim"""
  }

  /** Farthest-first traversal seeding (Gonzalez 1985 — the greedy
    * 2-approximation for k-center): start from the lowest-id vector,
    * then repeatedly pick the vector FARTHEST (cosine distance) from
    * everything picked so far. The spread-out seeds a k-means run
    * wants: unlike [[seedCentroids]]' label means, farthest-first
    * cannot collapse two seeds into one dense region, and its greedy
    * radius is within 2× of the optimal k-center radius by the
    * classic argument. The k-means++-family alternative needs one
    * pass PER seed too, but samples; this is the deterministic member
    * of that family, so the oracle can restate it exactly.
    *
    * Scale shape: one running min-distance column (`md`) carried by
    * the corpus, updated per round with a map-only `least` against
    * the single broadcast new seed — never recomputed against the
    * whole seed set — and the argmax is an `orderBy(...).limit(1)`
    * (TakeOrderedAndProject: per-partition top-1, k-1 single-row
    * driver fetches total — the bounded-collect convention of t11's
    * merge table). Per-round localCheckpoint keeps lineage flat and
    * each superseded state's blocks are freed.
    *
    * Determinism: per-seed distances are ROUND(1 − cosine, 6) (s01's
    * convention — ln-free, so the only cross-engine hazard is the
    * 6-dp round), `md` is a least-fold of such 6-dp values, argmax
    * ties break by vec_id.
    *
    * Output: one row per seed (rnk, vec_id, sep = the seed's
    * min-distance to its predecessors at selection, NULL for the
    * first) plus the final coverage `radius` = max over the corpus of
    * min-distance to the full seed set — the k-center objective.
    */
  def kcenterSeeds(e0: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"need at least two seeds, got $k")
    val s = e0.sparkSession
    import s.implicits._
    def cvLit(vs: Seq[Double]): Column = array(vs.map(lit): _*)
    def sepTo(cv: Seq[Double]): Column =
      round(lit(1.0) - cosine(col("v"), cvLit(cv)), 6)
    Checkpoints.using { cps =>
      val e = cps(e0.select(col("vec_id"), col("v")))
      e.orderBy("vec_id").limit(1).collect().headOption match {
        case None =>
          // Empty corpus: nothing to seed. Same schema, zero rows — the
          // 100 TB convention (empty partitions / empty filter results
          // are routine) pinned by EmptyInputSpec.
          Seq.empty[(Int, Long, Option[Double])]
            .toDF("rnk", "vec_id", "sep")
            .withColumn("sep", col("sep").cast("double"))
            .withColumn("radius", lit(null).cast("double"))
        case Some(first) =>
          var picked =
            Vector[(Int, Long, Option[Double])]((1, first.getLong(0), None))
          var state = cps(e.withColumn("md", sepTo(first.getSeq[Double](1))))
          for (r <- 2 to k) {
            val nxt = state.orderBy(col("md").desc, col("vec_id")).limit(1)
              .collect()(0)
            picked :+= ((r, nxt.getLong(0), Some(nxt.getDouble(2))))
            val prev = state
            state = cps(state.withColumn("md",
              least(col("md"), sepTo(nxt.getSeq[Double](1)))))
            cps.free(prev)
          }
          val radius = state.agg(max(col("md"))).collect()(0).getDouble(0)
          picked.toDF("rnk", "vec_id", "sep")
            .withColumn("radius", lit(radius))
            .orderBy("rnk")
      }
    }
  }

  /** DuckDB restatement of [[kcenterSeeds]]: the greedy recursion
    * unrolled as CTE rounds (c_r = argmax of s_{r-1}'s min-distance,
    * s_r = least-fold update), exactly the Spark arithmetic.
    */
  def sqlKCenterUnrolled(k: Int): String = {
    def cos(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2])) /
            (sqrt(list_sum(list_transform($a, x -> x*x))) *
             sqrt(list_sum(list_transform($b, x -> x*x))))"""
    // Each s_{r-1} is referenced twice per round (by c_r and s_r), so
    // DuckDB's default CTE inlining would expand the chain 2^k times —
    // pin AS MATERIALIZED (the s37/q77 convention).
    val rounds = (2 to k).map { r =>
      s"""
        c$r AS MATERIALIZED (
          SELECT vec_id, v, md FROM s${r - 1}
          ORDER BY md DESC, vec_id LIMIT 1),
        s$r AS MATERIALIZED (
          SELECT s.vec_id, s.v,
            LEAST(s.md, ROUND(1 - ${cos("s.v", "c.v")}, 6)) AS md
          FROM s${r - 1} s CROSS JOIN c$r c)"""
    }.mkString(",")
    val sel = (2 to k)
      .map(r => s"SELECT $r AS rnk, vec_id, md AS sep FROM c$r")
      .mkString("\n          UNION ALL ")
    s"""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        c1 AS MATERIALIZED (
          SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
        s1 AS MATERIALIZED (
          SELECT e.vec_id, e.v, ROUND(1 - ${cos("e.v", "c.v")}, 6) AS md
          FROM e CROSS JOIN c1 c),$rounds,
        sel AS (
          SELECT 1 AS rnk, vec_id, CAST(NULL AS DOUBLE) AS sep FROM c1
          UNION ALL $sel),
        rad AS (SELECT MAX(md) AS radius FROM s$k)
        SELECT rnk, vec_id, sep, radius
        FROM sel CROSS JOIN rad
        ORDER BY rnk"""
  }

  // ------------------------------------------------------------------
  // Product quantization (s07 train, s08 ADC search) — the memory-
  // compression ANN path: 64 floats → 4 one-byte codes (64×), which is
  // what lets a 100 TB embedding corpus live in executor memory for
  // search. M = 4 subspaces × 16 dims, k = 10 codewords per subspace
  // seeded from labels; metric is squared L2 (the PQ-canonical
  // choice), computed as an index-order elementwise fold so both
  // engines produce identical doubles.
  // ------------------------------------------------------------------

  /** Squared L2 distance as an index-order sequential fold —
    * bit-identical to DuckDB's
    * `list_sum(list_transform(list_zip(a, b), p -> (p[1]-p[2])^2))`.
    */
  def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** [[subVectors]] for a caller-supplied query frame (keys…, qv) — no
    * label column, query vectors need not be corpus members. Output
    * (keys…, m, qv) with qv the 16-d subvector. `keys` defaults to the
    * single qid of the flat-PQ path; [[ivfPqSearch]] passes
    * (qid, cell) — its residual query vector differs per probed cell.
    */
  def querySubVectors(
      q: DataFrame, keys: Seq[String] = Seq("qid")): DataFrame = {
    val kcols = keys.map(col)
    q.select(kcols :+ posexplode(col("qv")).as(Seq("dim", "x")): _*)
      .withColumn("m", (col("dim") / lit(16)).cast("int"))
      .withColumn("sdim", pmod(col("dim"), lit(16)))
      .groupBy(kcols :+ col("m"): _*)
      .agg(array_sort(collect_list(struct(col("sdim"), col("x"))))
        .as("pairs"))
      .select(kcols ++ Seq(col("m"),
        transform(col("pairs"), p => p.getField("x")).as("qv")): _*)
  }

  /** Split 64-d vectors into M=4 16-d subvectors:
    * (vec_id, label, m, sv). One explode + one grouped rebuild — the
    * same distributive array surgery as seedCentroids, keyed by
    * subspace.
    */
  def subVectors(e: DataFrame): DataFrame = e
    .select(col("vec_id"), col("label"),
      posexplode(col("v")).as(Seq("dim", "x")))
    .withColumn("m", (col("dim") / lit(16)).cast("int"))
    .withColumn("sdim", pmod(col("dim"), lit(16)))
    .groupBy("vec_id", "label", "m")
    .agg(array_sort(collect_list(struct(col("sdim"), col("x"))))
      .as("pairs"))
    .select(col("vec_id"), col("label"), col("m"),
      transform(col("pairs"), p => p.getField("x")).as("sv"))

  /** Per-(subspace, label) exact-decimal mean subvectors — the PQ
    * codebook seeds: (m, cluster, cv), 40 rows.
    */
  def pqSeeds(sub: DataFrame): DataFrame = sub
    .select(col("m"), col("label"), posexplode(col("sv")).as(Seq("sdim", "x")))
    .groupBy("m", "label", "sdim")
    .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
      count(lit(1))).as("cx"))
    .groupBy("m", "label")
    .agg(array_sort(collect_list(struct(col("sdim"), col("cx"))))
      .as("pairs"))
    .select(col("m"), col("label").as("cluster"),
      transform(col("pairs"), p => p.getField("cx")).as("cv"))

  /** Nearest-codeword assignment per (vector, subspace): broadcast the
    * ≤ 40-row codebook, join on subspace only, argmin by (distance,
    * cluster). Map-only apart from the tiny per-(vec, m) window.
    * (vec_id, m, sv, code).
    */
  def pqAssign(sub: DataFrame, cent: DataFrame): DataFrame = sub
    .join(broadcast(cent), "m")
    .select(col("vec_id"), col("m"), col("sv"), col("cluster"),
      l2sq(col("sv"), col("cv")).as("d"))
    .withColumn("rn", row_number().over(
      Window.partitionBy(col("vec_id"), col("m"))
        .orderBy(col("d"), col("cluster"))))
    .filter(col("rn") === 1)
    .select(col("vec_id"), col("m"), col("sv"), col("cluster").as("code"))

  /** Codeword update: per-(m, code, sdim) mean via [[chunkedMean]]
    * (the updateMeans convention, keyed by subspace — bounded
    * buffers, vec_id-ordered chunk folds), then rebuilt into
    * (m, cluster, cv) arrays.
    */
  def pqUpdate(assigned: DataFrame): DataFrame =
    chunkedMean(
      assigned.select(col("vec_id"), col("m"), col("code"),
        posexplode(col("sv")).as(Seq("sdim", "x"))),
      Seq("m", "code", "sdim"))
      .select(col("m"), col("code").as("cluster"), col("sdim"), col("cx"))
      .groupBy("m", "cluster")
      .agg(array_sort(collect_list(struct(col("sdim"), col("cx"))))
        .as("pairs"))
      .select(col("m"), col("cluster"),
        transform(col("pairs"), p => p.getField("cx")).as("cv"))

  /** Train the PQ codebooks with `rounds` pinned Lloyd rounds per
    * subspace — every subspace trains in the SAME distributed job
    * (the round's shuffles are keyed by (m, cluster, sdim), so M
    * codebooks cost one pass, not M). Returns (codebooks, codes):
    * codes are the final assignment against the last codebook.
    * Deterministic by the s05/s06 arithmetic conventions, so the
    * DuckDB oracle unrolls the identical rounds.
    */
  /** Session-scoped memo of [[pqTrain]] artifacts on the RAW corpus,
    * keyed like [[ivfPqArtifacts]]: s07 (training output) and s08
    * (ADC search) consume one flat-PQ index build per session instead
    * of each re-paying the 2-round Lloyd training. The memo covers
    * only the raw-embedding build — [[ivfPqTrain]]'s internal pqTrain
    * call runs on coarse-cell RESIDUALS and is memoized at its own
    * level.
    */
  private val pqArtifacts =
    new SessionMemo[(String, Int), (DataFrame, DataFrame)](freePair)

  /** [[pqTrain]] with the per-session artifact memo above. */
  def pqTrainShared(
      spark: SparkSession, dir: String, e: => DataFrame, rounds: Int = 2)
      : (DataFrame, DataFrame) =
    pqArtifacts(spark, (dir, rounds), embSources(dir))(pqTrain(e, rounds))

  def pqTrain(e0: DataFrame, rounds: Int = 2): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"need at least one round, got $rounds")
    val sub = subVectors(e0).localCheckpoint()
    var cent = pqSeeds(sub).coalesce(1).localCheckpoint()
    (1 to rounds).foreach { _ =>
      val prev = cent
      cent = pqUpdate(pqAssign(sub, prev)).coalesce(1).localCheckpoint()
      Checkpoints.free(prev) // superseded codebook — don't retain O(rounds)
    }
    // Checkpoint the CODES (4 narrow rows per vector) and free the
    // subvector table (64 doubles per vector): the caller's lazy plan
    // then retains the 16×-smaller frame, not the widest one —
    // without this every pqTrain call pinned an O(corpus) subvector
    // RDD for the session's lifetime.
    val codes = pqAssign(sub, cent).select("vec_id", "m", "code")
      .localCheckpoint()
    Checkpoints.free(sub)
    (cent, codes)
  }

  /** ADC (asymmetric distance computation) top-k: queries stay raw,
    * corpus vectors are their 4 codes. Per query: one ≤ 40-row
    * distance table (query subvector → every codeword), then the
    * approximate distance of ANY corpus vector is 4 table lookups
    * summed in subspace order — never a 64-dim op against the corpus.
    * At scale the corpus side ships 4 bytes per vector through the
    * (m, code) equi-join; the per-(qid, vec) sum is an ordered fold so
    * the oracle reproduces it bit-for-bit. Recall: SimilaritySpec
    * asserts recall@5 ≥ 0.85 vs exact L2 on its planted-cluster
    * corpus — same-code members tie at the 4-byte resolution, so
    * within-cluster order falls back to vec_id (the compressed-domain
    * trade; a collapsed codebook fails the floor outright).
    */
  def pqAdcTopk(e: DataFrame, rounds: Int = 2, k: Int = 5): DataFrame = {
    val (cent, codes) = pqTrain(e, rounds)
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    pqAdcSearch(queries, cent, codes, k)
  }

  /** The search half of [[pqAdcTopk]], against PRE-TRAINED codebooks
    * and codes — what a deployment runs per query batch once the
    * (expensive, infrequent) training job has produced the artifacts.
    * `queries` is a caller-supplied (qid, qv: array<double> 64-d)
    * frame; the vectors need NOT be corpus members — pass
    * `excludeSelf = false` for such external queries (the default
    * `true` drops the row whose corpus vec_id equals qid, the
    * corpus-member-query convention s08 uses). Kept apart from
    * training so search scales on its own: README "Measured similarity
    * scaling" has the ADC search flat at ×1 → ×100 corpus.
    */
  def pqAdcSearch(
      queries: DataFrame, cent: DataFrame, codes: DataFrame,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val qsub = querySubVectors(queries)
    val dtab = qsub.join(broadcast(cent), "m")
      .select(col("qid"), col("m"), col("cluster").as("code"),
        l2sq(col("qv"), col("cv")).as("dpart"))
    val cand = codes.join(broadcast(dtab), Seq("m", "code"))
    (if (excludeSelf) cand.filter(col("vec_id") =!= col("qid")) else cand)
      .groupBy("qid", "vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("dpart"))))
        .as("parts"))
      .select(col("qid"), col("vec_id"),
        round(expr(
          "aggregate(parts, cast(0.0 as double), (a, p) -> a + p.dpart)"),
          6).as("adist"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** IVF-PQ (the FAISS "IVFADC" layout — Jégou et al. 2011, §IV): the
    * coarse IVF quantizer partitions the corpus into cells, PQ encodes
    * each vector's RESIDUAL against its cell centroid, and search
    * probes a few cells with per-cell residual distance tables. This
    * is the 100 TB ANN architecture: the residual distribution is far
    * tighter than the raw one (same codebook budget → much lower
    * quantization error than flat PQ), the index stores 4 code bytes +
    * one cell id per vector, and a query touches only probed cells.
    *
    * Training: the coarse step is the deterministic seed assignment
    * ([[seedCentroids]] + [[assignClusters]], bit-reproducible in the
    * oracle). Residual codebook SEEDS cannot stratify by cell — a
    * cell's residuals sum to exactly zero by construction (centroid =
    * cell mean), so per-cell means would collapse every seed codeword
    * onto ~0 and Lloyd iteration would start degenerate (measured:
    * recall@5 craters to 0.33 on SimilaritySpec's planted clusters).
    * Instead the residuals are labeled by their SRP bucket — the sign
    * pattern of the first 4 [[planeWeights]] hyperplanes (the d09
    * machinery): a halfspace-intersection's mean is off-zero by
    * construction, giving ≤ 16 directionally-spread seeds per
    * subspace. [[pqTrain]] then runs unchanged (every shuffle keyed
    * by (m, cluster, sdim), all chunked-mean buffers bounded).
    *
    * Returns (coarse centroids (c_label, cv), cell assignment
    * (vec_id, cluster), residual codebooks (m, cluster, cv), codes
    * (vec_id, m, code)).
    */
  /** Session-scoped memo of [[ivfPqTrain]] artifacts, keyed by
    * (session, source dir, rounds). Training is an INDEX BUILD — the
    * expensive one-time step whose output (16 coarse centroids, cell
    * assignment, residual codebooks, 4-byte codes, all
    * localCheckpoint'd) every search query then consumes. s11 and s12
    * share one corpus and one parameterization, so the second query
    * (and Bench's repeat passes) reuses the first build instead of
    * re-paying coarse k-means + per-cell PQ (~25 s each at sf0.1,
    * ~22 % of the round-9 bench total between them). Every artifact
    * memo here is a [[graft.SessionMemo]] over the `embeddings` table
    * (the [[emb]] source): a fresh session, or a rewrite of that
    * table, re-trains rather than reading dead or stale blocks.
    */
  private val ivfPqArtifacts = new SessionMemo[(String, Int),
    (DataFrame, DataFrame, DataFrame, DataFrame)]({
      case (coarse, cells, cb, codes) =>
        Seq(coarse, cells, cb, codes).foreach(Checkpoints.free)
    })

  /** The source paths the artifact memos fingerprint: the table
    * [[emb]] reads.
    */
  private def embSources(dir: String): Seq[String] =
    Seq(Tables.path(dir, "embeddings"))

  /** Frees both checkpointed halves of a two-artifact build. */
  private def freePair(p: (DataFrame, DataFrame)): Unit = {
    Checkpoints.free(p._1)
    Checkpoints.free(p._2)
  }

  /** [[ivfPqTrain]] with the per-session artifact memo above. `e` is
    * passed by-name: cache hits never build the source frame.
    */
  def ivfPqTrainShared(
      spark: SparkSession, dir: String, e: => DataFrame, rounds: Int = 2)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    ivfPqArtifacts(spark, (dir, rounds), embSources(dir))(
      ivfPqTrain(e, rounds))

  def ivfPqTrain(e: DataFrame, rounds: Int = 2)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // The coarse centroids are a corpus-wide aggregation consumed by
    // THREE broadcasts (assignment, residual build, search probe);
    // checkpoint the 16-row result once instead of re-aggregating per
    // consumer. Same for the assignment: materialize it once, let the
    // residual subvector checkpoint (inside pqTrain) and the narrow
    // (vec_id, cluster) cells frame both read it, then free the wide
    // intermediate — search never recomputes the corpus-wide argmax.
    val coarse = seedCentroids(e).coalesce(1).localCheckpoint()
    val assigned = assignClusters(e, coarse).localCheckpoint()
    val res = assigned
      .join(broadcast(coarse), col("cluster") === col("c_label"))
      .select(col("vec_id"),
        zip_with(col("v"), col("cv"), (x, c) => x - c).as("v"))
      .withColumn("label",
        (0 until 4).map(i => planeBit(col("v"), i, i)).reduce(_ + _))
    val (cb, codes) = pqTrain(res, rounds)
    val cells = assigned.select("vec_id", "cluster").localCheckpoint()
    Checkpoints.free(assigned)
    (coarse, cells, cb, codes)
  }

  /** IVF-PQ search against pre-trained artifacts ([[ivfPqTrain]]).
    * Per query: probe the `probes` nearest coarse cells (tiny
    * broadcast cross join, the ivfTopk convention — cosine, c_label
    * tie-break), form the PER-CELL residual query, build one ≤ 40-row
    * distance table per (query, cell), then score only vectors whose
    * cell was probed: the codes frame equi-joins the broadcast table
    * on (m, code, cell), so the corpus side ships 4 code bytes + a
    * cell id per vector and unprobed cells are never touched. Cells
    * are disjoint → each candidate scores against exactly one probed
    * cell's table, no dedup needed. The per-(qid, vec) sum is a
    * subspace-ordered fold, so the oracle reproduces it bit-for-bit.
    * `excludeSelf` as in [[pqAdcSearch]].
    */
  def ivfPqSearch(
      queries: DataFrame, coarse: DataFrame, cells: DataFrame,
      cb: DataFrame, codes: DataFrame, k: Int, probes: Int = 1,
      excludeSelf: Boolean = true): DataFrame = {
    require(probes >= 1, s"need at least one probe, got $probes")
    val probe = queries.crossJoin(broadcast(coarse))
      .select(col("qid"), col("qv"), col("c_label"), col("cv"),
        cosine(col("qv"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("c_label"))))
      .filter(col("rn") <= probes)
      .select(col("qid"), col("c_label").as("cell"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qv"))
    val dtab = querySubVectors(probe, keys = Seq("qid", "cell"))
      .join(broadcast(cb), "m")
      .select(col("qid"), col("cell").as("cluster"), col("m"),
        col("cluster").as("code"), l2sq(col("qv"), col("cv")).as("dpart"))
    val cand = codes.join(cells, "vec_id")
      .join(broadcast(dtab), Seq("m", "code", "cluster"))
    (if (excludeSelf) cand.filter(col("vec_id") =!= col("qid")) else cand)
      .groupBy("qid", "vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("dpart"))))
        .as("parts"))
      .select(col("qid"), col("vec_id"),
        round(expr(
          "aggregate(parts, cast(0.0 as double), (a, p) -> a + p.dpart)"),
          6).as("adist"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("adist"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** IVF-PQ search with exact re-ranking (the "IVFADC+R" refinement —
    * Jégou et al. 2011, §V): take the ADC `shortlist` per query, then
    * recompute EXACT squared-L2 on the raw vectors for just those
    * candidates and keep the true top-`k`. ADC recall at small k is
    * bounded by the 4-byte quantization (measured 0.20@5 on the real
    * sf0.01 corpus even probing every cell); the shortlist only has
    * to CONTAIN the true neighbors, a weaker ask that the shortlist
    * size dials directly (same corpus, all cells probed: 0.40@5 with
    * shortlist=20 → 0.92@5 with shortlist=200 — the corpus is
    * near-uniform, the hardest case for PQ). Scale shape: the corpus is
    * scanned once map-side against the broadcast shortlist (|Q|·
    * shortlist ids) — full vectors are materialized only for
    * shortlisted candidates, so the refinement adds one scan and zero
    * shuffles on top of [[ivfPqSearch]].
    */
  def ivfPqSearchRefined(
      queries: DataFrame, coarse: DataFrame, cells: DataFrame,
      cb: DataFrame, codes: DataFrame, corpus: DataFrame,
      k: Int, shortlist: Int, probes: Int = 1,
      excludeSelf: Boolean = true): DataFrame = {
    require(shortlist >= k,
      s"shortlist ($shortlist) must be at least k ($k)")
    val sl = ivfPqSearch(queries, coarse, cells, cb, codes,
        k = shortlist, probes = probes, excludeSelf = excludeSelf)
      .select(col("qid"), col("vec_id"))
    corpus.select(col("vec_id"), col("v"))
      .join(broadcast(sl), "vec_id")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("vec_id"),
        round(l2sq(col("qv"), col("v")), 6).as("dist"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("vec_id"))))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  // ------------------------------------------------------------------
  // Scalar quantization (SQ8).
  // ------------------------------------------------------------------

  /** Per-dimension affine grid for 8-bit scalar quantization: the
    * corpus min/max of every coordinate, packed into two broadcast-
    * sized arrays. One narrow shuffle of (dim, x) pairs with map-side
    * partial MIN/MAX into exactly `dim` groups — at 100 TB this is a
    * single cheap training aggregation, no iteration.
    */
  def sq8Params(e: DataFrame): DataFrame =
    e.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(min("x").as("lo"), max("x").as("hi"))
      .agg(array_sort(collect_list(struct(col("dim"), col("lo"), col("hi"))))
        .as("ps"))
      .select(expr("transform(ps, p -> p.lo)").as("los"),
        expr("transform(ps, p -> p.hi)").as("his"))

  /** Quantize every coordinate onto its dimension's 255-step grid:
    * code = floor((x − lo) · 255 / (hi − lo) + 0.5), one byte of
    * information per coordinate (stored as int — Spark arrays have no
    * i8 element type; a production sink would pack to binary).
    * Constant dimensions (hi = lo) code to 0. The grid rides along as
    * a broadcast 1-row cross join.
    */
  def sq8Encode(e: DataFrame, params: DataFrame): DataFrame =
    e.crossJoin(broadcast(params))
      .select(col("vec_id"),
        expr("""transform(sequence(0, size(v) - 1), i ->
            cast(floor(CASE WHEN his[i] = los[i] THEN 0.0D
              ELSE (v[i] - los[i]) * 255.0D / (his[i] - los[i]) END
              + 0.5D) as int))""").as("c"))

  /** SQ8 brute-force top-k (the FAISS `SQ8` flat index; Douze et al.
    * 2024 §4.1): complements PQ on the compression axis — 64 B/vector
    * (vs 512 B raw, vs PQ's 4 B + cell id) with NO codebook training
    * and NO join at search time. Search is s01's brute-force shape at
    * 1/8 the memory traffic: one map-side corpus scan against the
    * broadcast quantized queries, distances in pure INTEGER arithmetic
    * (symmetric SQ distance — query and corpus on the same grid), so
    * the DuckDB oracle is exact by construction with no FP ordering
    * conventions. The asymmetric variant (raw query vs reconstructed
    * corpus) buys ~nothing at 8 bits/dim; integer symmetric keeps the
    * whole distance kernel codegen-able multiply-add on ints.
    */
  /** Session-scoped memo of the SQ8 index build — (params, codes),
    * both localCheckpoint'd — keyed like [[pqArtifacts]]. Encoding is
    * the (cheap, once-per-corpus) build step; every search scan then
    * reads the 64-int code rows instead of re-running the min/max
    * aggregation and the interpreted 64-step encode HOF per
    * execution — the same artifact-sharing discipline as
    * s07/s08/s11/s12, so a bench repeat (and a deployment's repeated
    * query batches) measures the search scan only. The 1-row params
    * checkpoint is pinned for the session lifetime BY DESIGN (it is
    * the shared artifact).
    */
  private val sq8Artifacts =
    new SessionMemo[String, (DataFrame, DataFrame)](freePair)

  /** SQ8 index build with the per-session artifact memo. `e` is
    * by-name: cache hits never build the source frame.
    */
  def sq8TrainShared(spark: SparkSession, dir: String, e: => DataFrame)
      : (DataFrame, DataFrame) =
    sq8Artifacts(spark, dir, embSources(dir)) {
      val corpus = e
      val params = sq8Params(corpus).coalesce(1).localCheckpoint()
      val codes = sq8Encode(corpus, params).localCheckpoint()
      (params, codes)
    }

  /** The search half against pre-built codes — what a deployment (and
    * a bench repeat pass) actually runs per query batch.
    */
  def sq8Search(codes: DataFrame, k: Int): DataFrame = {
    val qcodes = codes.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("c").as("qc"))
    codes.crossJoin(broadcast(qcodes))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        // Native codegen integer kernel (see Sq8Dist) — bit-identical
        // to the aggregate(zip_with(...)) HOF it replaces, without the
        // per-pair interpretation and allocation.
        VectorExpressions.sq8dist(col("qc"), col("c")).as("idist"))
      // NULLS LAST: a NULL embedding propagates to a NULL code and a
      // NULL distance, and Spark's default ascending sort is NULLS
      // FIRST vs the oracle's NULLS LAST — without this a single null
      // vector would silently take rank 1 in every query's top-k.
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("idist").asc_nulls_last, col("vec_id"))))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** SQ8 brute-force top-k from the raw corpus — a fresh (non-shared)
    * build + search, for callers outside the per-session query
    * registry (specs, ad-hoc frames). Nothing is checkpointed: the
    * grid ([[sq8Params]], min/max under `array_sort`) is deterministic,
    * so each use of the codes may recompute it.
    */
  def sq8Topk(e: DataFrame, k: Int): DataFrame =
    sq8Search(sq8Encode(e, sq8Params(e)), k)

  // ------------------------------------------------------------------
  // Binary (sign-bit) quantization.
  // ------------------------------------------------------------------

  /** Binary quantization: ONE bit per coordinate (its sign), packed
    * into 32-bit words — 8 B total at 64-d, the most compressed rung
    * of the quantization ladder (raw s01 → SQ8 s13 → PQ s07/s08 →
    * IVF-PQ s11/s12 → binary s14). 32-bit words, not 64: the DuckDB
    * oracle's BIGINT `<<` rejects bit 63. The packing is hard-wired to
    * exactly 64 dimensions (the corpus's embedding width) and LOUDLY
    * rejects anything else at runtime — a silent wrong-width encode
    * would return wrong neighbors with no error. Encode is a
    * per-vector HOF (once per corpus row, not per pair); the per-pair
    * kernel is `bit_count(xor)` — a codegen'd builtin, the cheapest
    * distance in the engine.
    */
  def bqEncode(e: DataFrame): DataFrame = {
    // NULL vector → NULL code (the other encoders' convention; a NULL
    // guard first, or size(NULL) = 64 is NULL and the IF would fall
    // into raise_error with a NULL message). Wrong WIDTH still raises.
    def word(lo: Int): String =
      s"""CASE WHEN v IS NULL THEN CAST(NULL AS BIGINT)
          WHEN size(v) = 64 THEN
            aggregate(sequence($lo, ${lo + 31}), 0L, (acc, i) ->
              acc + IF(v[i] > 0.0D, shiftleft(1L, i - $lo), 0L))
          ELSE raise_error(concat('bqEncode packs exactly 64 dims; got ',
            CAST(size(v) AS STRING))) END"""
    e.select(col("vec_id"),
      expr(word(0)).as("w0"),
      expr(word(32)).as("w1"))
  }

  /** Hamming top-k over the sign-bit codes: one map-side corpus scan
    * against the broadcast query codes (s01's brute-force shape at
    * 1/64 the memory traffic). Integer throughout ⇒ oracle exact by
    * construction. Binary codes are the standard RECALL layer — cheap
    * candidate generation that a re-ranker (s12's exact pass) refines;
    * at 1 bit/dim absolute ranking quality is intentionally coarse.
    */
  def bqTopk(e: DataFrame, k: Int): DataFrame = {
    val codes = bqEncode(e)
    val q = codes.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"),
        col("w0").as("q0"), col("w1").as("q1"))
    codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (bit_count(col("w0").bitwiseXOR(col("q0"))) +
          bit_count(col("w1").bitwiseXOR(col("q1")))).cast("int")
          .as("hamming"))
      // NULLS LAST — same rationale as [[sq8Search]]: a NULL embedding
      // yields NULL words and a NULL Hamming distance, which must rank
      // last (the oracle's sort order), not first (Spark's default).
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("hamming").asc_nulls_last, col("vec_id"))))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** Binary-recall + exact-refine search — the re-rank rung on the
    * CHEAPEST codes (s12's IVFADC+R shape applied to s14): the
    * sign-bit Hamming scan produces a per-query `shortlist` of
    * candidates, and ONLY those are exact-cosine re-ranked in one
    * map-side corpus pass. This is the recall/precision split every
    * production ANN stack runs: the 8-byte codes answer "who is
    * plausibly close" at memory-bandwidth speed, the raw vectors are
    * touched for `shortlist` rows per query instead of N. `shortlist`
    * is the recall dial (s12's argument verbatim); at 100 TB the
    * refine join ships (qid, vec_id) pairs and broadcasts them into
    * the corpus scan — the corpus never shuffles.
    */
  def bqRefinedTopk(e: DataFrame, shortlist: Int, k: Int): DataFrame = {
    val short = bqTopk(e, shortlist).select(col("qid"), col("vec_id"))
    val withNrm = e.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = withNrm.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc_nulls_last, col("vec_id"))
    withNrm.join(broadcast(short), "vec_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** Reciprocal Rank Fusion (Cormack et al. 2009) of two retrieval
    * rankings — the standard hybrid-search combiner: each ranker
    * contributes 1/(60 + rank) for the documents in its top-`n`, and
    * candidates are re-ranked by the sum, so agreement between
    * rankers beats a high position in either one. Fused here are the
    * two cheap quantized rankers at opposite corners of the
    * speed/quality trade — SQ8 integer-L2 ([[sq8Topk]]) and sign-bit
    * Hamming ([[bqTopk]]) — the ensemble a serving stack runs when no
    * single code family dominates.
    *
    * Scale shape: each ranker is its own one-pass broadcast corpus
    * scan (their cost IS the operator's corpus cost); the fusion
    * itself joins two top-`n`-per-query lists — bounded by
    * n × |queries| rows, independent of corpus size — with a full
    * outer join on (qid, vec_id) and one per-query window.
    *
    * Determinism: ranks are exact integers from the two oracle-exact
    * rankers; each contribution is ROUND(1/(60+rank), 6) carried as
    * DECIMAL so the fused score is an exact sum; ties break by
    * vec_id. Output (qid, vec_id, rnk_sq8, rnk_bq — NULL when the
    * ranker's top-n missed the doc — rrf_score, rnk).
    */
  def rrfFusion(e: DataFrame, n: Int, k: Int): DataFrame =
    rrfFusionOf(sq8Topk(e, n), bqTopk(e, n), k)

  /** [[rrfFusion]] over caller-supplied rankings — the registered
    * query feeds the session-shared SQ8 artifacts here so bench
    * repeats measure the scans, not the build.
    */
  def rrfFusionOf(sq8: DataFrame, bq: DataFrame, k: Int): DataFrame = {
    def contrib(r: Column): Column = coalesce(
      round(lit(1.0) / (lit(60) + r), 6).cast("decimal(18,6)"),
      lit(java.math.BigDecimal.ZERO).cast("decimal(18,6)"))
    val a = sq8.select(col("qid"), col("vec_id"), col("rnk").as("rnk_sq8"))
    val b = bq.select(col("qid"), col("vec_id"), col("rnk").as("rnk_bq"))
    a.join(b, Seq("qid", "vec_id"), "full")
      .select(col("qid"), col("vec_id"), col("rnk_sq8"), col("rnk_bq"),
        (contrib(col("rnk_sq8")) + contrib(col("rnk_bq"))).as("rrf"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("rnk_sq8"), col("rnk_bq"),
        D.dbl(col("rrf")).as("rrf_score"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  // ------------------------------------------------------------------
  // IVF-SQ8: coarse cells + in-cell 8-bit scalar codes (s18) — the
  // remaining coarse×fine pairing of the quantization matrix (IVF×PQ
  // is s11/s12; flat×SQ8 is s13). FAISS's `IVFx,SQ8` index family
  // (Douze et al. 2024): cell pruning bounds the scanned fraction,
  // SQ8 bounds the bytes per scanned vector — 64 B codes, no codebook
  // training, all-integer in-cell distances.
  // ------------------------------------------------------------------

  /** Session memo of the IVF-SQ8 build: (centroids, labeled codes),
    * both checkpointed — the s07/s11/s13 artifact-sharing discipline,
    * so repeated query batches (and bench passes) measure the probed
    * search scan, not the build.
    */
  private val ivfSq8Artifacts =
    new SessionMemo[String, (DataFrame, DataFrame)](freePair)

  def ivfSq8TrainShared(spark: SparkSession, dir: String, e: => DataFrame)
      : (DataFrame, DataFrame) =
    ivfSq8Artifacts(spark, dir, embSources(dir))(ivfSq8Train(e))

  /** The un-memoized IVF-SQ8 build — (centroids, labeled codes),
    * both checkpointed. Timed apart from the search it serves in
    * README "Measured similarity scaling" (build 1.1 s → 6.2 s at
    * ×100 corpus).
    */
  def ivfSq8Train(e: DataFrame): (DataFrame, DataFrame) = {
    val centroids = seedCentroids(e).coalesce(1).localCheckpoint()
    val params = sq8Params(e).coalesce(1).localCheckpoint()
    val codes = sq8Encode(e, params)
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .localCheckpoint()
    Checkpoints.free(params) // the eager checkpoint above holds the codes
    (centroids, codes)
  }

  /** IVF-SQ8 search: raw query vectors probe the broadcast centroid
    * table (s03's cosine rule); in-cell candidates rank by the
    * symmetric integer SQ8 distance (native codegen kernel) over the
    * probed cell's CODE rows only. Scale shape: one tiny broadcast
    * cross (queries × ≤k centroids), then one equi-join on the cell
    * key against 64 B/vector codes — with the codes table partitioned
    * by cell, an unprobed cell is a partition never read; nothing
    * touches raw floats at search time except the ≤3-row query side.
    */
  def ivfSq8Search(e: DataFrame, centroids: DataFrame, codes: DataFrame,
      k: Int): DataFrame = {
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val probe = queries.crossJoin(broadcast(centroids))
      .select(col("qid"), col("c_label"),
        cosine(col("qv"), col("cv")).as("c_sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("c_sim").desc, col("c_label"))))
      .filter(col("rn") === 1)
      .select(col("qid"), col("c_label").as("probe_label"))
    val qcodes = codes.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("c").as("qc"))
    val pq = probe.join(qcodes, "qid")
    // STATIC partition pruning: the probed labels are a bounded
    // driver fetch (≤ |queries| values), rendered as an isin filter
    // the scan planner turns into PartitionFilters — when `codes` is
    // a cell-partitioned store (s26), an unprobed cell is a directory
    // never opened. Deliberately NOT left to dynamic partition
    // pruning: Spark's DPP cost heuristic planned the pruning
    // subquery away to dynamicpruningexpression(true) — a full scan —
    // on exactly this join (README "Round-16 gates and notes",
    // "Serve-path pruning made real"), and a
    // serve path must not depend on an optimizer estimate for its
    // core cost bound.
    val probedLabels = probe.select(col("probe_label")).distinct()
      .collect().map(_.getInt(0)).toSeq // bounded: ≤ |queries| cells
    val pruned =
      if (probedLabels.isEmpty) codes.filter(lit(false))
      else codes.filter(col("label").isin(probedLabels: _*))
    pruned.join(broadcast(pq),
        col("label") === col("probe_label") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("probe_label"), col("vec_id"),
        VectorExpressions.sq8dist(col("qc"), col("c")).as("idist"))
      // NULLS LAST — the s13 convention for NULL-embedding codes.
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("idist").asc_nulls_last, col("vec_id"))))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** Two-stage REFINED search (s27) — the production ANN serving
    * pattern the quantized tiers feed: stage 1 generates `kCand`
    * candidates per query from the cheap quantized index (2-probe
    * IVF + symmetric integer SQ8 — [[ivfSq8Search]]'s scan, never
    * touching raw floats), stage 2 RE-RANKS only those candidates by
    * exact float cosine against the raw vectors and keeps `k`. This
    * is how a deployed index buys back the quantization error: the
    * 64 B/vector scan does the corpus-sized work, the full-precision
    * reads are k-candidates-sized point lookups. Completes the refine
    * column of the quantization matrix: s17 re-ranks the BINARY
    * tier's corpus-wide Hamming shortlist; this re-ranks the
    * IVF-probed SQ8 tier — the pairing a deployed IVF index serves.
    *
    * Scale shape: stage 1 is s18's probed equi-join; stage 2's raw
    * reads join the ≤ queries×kCand candidate ids against the vector
    * table by vec_id — a BROADCAST of the candidate ids, so the raw
    * corpus is never shuffled and the scan prunes to (vec_id, v).
    * Round-before-rank (the D rule) keeps the exact-cosine order
    * engine-identical.
    */
  def refinedSearch(e: DataFrame, centroids: DataFrame,
      codes: DataFrame, kCand: Int, k: Int): DataFrame = {
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val probe = queries.crossJoin(broadcast(centroids))
      .select(col("qid"), col("c_label"),
        cosine(col("qv"), col("cv")).as("c_sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("c_sim").desc, col("c_label"))))
      .filter(col("rn") <= 2)
      .select(col("qid"), col("c_label").as("probe_label"))
    val qcodes = codes.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("c").as("qc"))
    val pq = probe.join(qcodes, "qid")
    val cand = codes.join(broadcast(pq),
        col("label") === col("probe_label") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorExpressions.sq8dist(col("qc"), col("c")).as("idist"))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("idist").asc_nulls_last, col("vec_id"))))
      .filter(col("crnk") <= kCand)
      .select("qid", "vec_id")
    // stage 2: exact cosine over the candidates' RAW vectors only —
    // the candidate id set broadcasts, the vector table never shuffles
    broadcast(cand)
      .join(e.select(col("vec_id"), col("v")), "vec_id")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("vec_id"),
        round(cosine(col("qv"), col("v")), 6).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("cos_sim").desc_nulls_last, col("vec_id"))))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** Compaction EXECUTION's store-building half (s25), factored so
    * the spec can inspect the physical layout: applies s24's verdict
    * rule (dead fraction ≥ 0.2 ⇒ rewrite) to an IVF-SQ8 code table —
    * cells above threshold have their tombstoned code rows PHYSICALLY
    * REMOVED; cells below keep serving with their dead rows flagged
    * (`is_dead` = 1) for the serve-time gate. Verdicts are computed
    * from the index's own (vec_id, label) metadata — no raw floats.
    * Returns (store, verdict): store = (vec_id, label, c,
    * cell_compacted, is_dead) — every is_dead row in a compacted cell
    * is GONE, not flagged; verdict = (label, cell_compacted).
    */
  private[graft] def compactionStore(codes: DataFrame,
      tombstones: DataFrame): (DataFrame, DataFrame) = {
    val flagged = codes
      .join(broadcast(tombstones), col("vec_id") === col("dead_id"),
        "left")
      .withColumn("is_dead", col("dead_id").isNotNull.cast("int"))
      .drop("dead_id")
    val verdict = flagged.groupBy("label")
      .agg(count(lit(1)).as("n_total"),
        sum(col("is_dead")).as("n_dead"))
      .select(col("label"),
        (col("n_dead").cast("double") / col("n_total") >= 0.2)
          .cast("int").as("cell_compacted"))
    val store = flagged.join(broadcast(verdict), "label")
      .filter(col("cell_compacted") === 0 || col("is_dead") === 0)
    (store, verdict)
  }

  /** Compaction EXECUTION + post-compaction search (s25) — the
    * operator that CLOSES the s20 append / s23 delete / s24 manifest
    * lifecycle: execute the manifest's rewrite verdicts (drop
    * tombstoned codes from every cell at ≥ 20% dead), then SEARCH the
    * rewritten store — compacted cells serve their (physically clean)
    * codes unfiltered, un-rewritten cells still gate tombstones at
    * serve time, exactly how a deployed index runs between
    * compactions. The result must equal s23-style pure tombstone-
    * gated search — which is precisely what the registered oracle
    * states, from first principles, with no rewrite at all: a hash
    * match PROVES the executed compaction lost nothing and resurfaced
    * nothing. Scale shape: verdicts are one map-side-combining
    * aggregate over (vec_id, label); the rewrite is one broadcast
    * join + filter over 64 B/vector codes (the delta is small by
    * assumption — it is what compaction bounds); search is
    * [[ivfSq8Search]]'s probed integer-distance scan. Output
    * (qid, probe_label, vec_id, idist, rnk, cell_compacted,
    * n_compact_cells).
    */
  def compactionSearch(e: DataFrame, centroids: DataFrame,
      codes: DataFrame, tombstones: DataFrame, k: Int,
      probes: Int): DataFrame = {
    val (store, verdict) = compactionStore(codes, tombstones)
    val ncc = verdict
      .agg(sum(col("cell_compacted")).cast("long")
        .as("n_compact_cells"))
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val probe = queries.crossJoin(broadcast(centroids))
      .select(col("qid"), col("c_label"),
        cosine(col("qv"), col("cv")).as("c_sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("c_sim").desc, col("c_label"))))
      .filter(col("rn") <= probes)
      .select(col("qid"), col("c_label").as("probe_label"))
    val qcodes = codes.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("c").as("qc"))
    val pq = probe.join(qcodes, "qid")
    store
      // the serve-time gate — only un-rewritten cells still carry
      // dead rows to filter
      .filter(col("is_dead") === 0)
      .join(broadcast(pq),
        col("label") === col("probe_label") &&
          col("vec_id") =!= col("qid"))
      .select(col("qid"), col("probe_label"), col("vec_id"),
        VectorExpressions.sq8dist(col("qc"), col("c")).as("idist"),
        col("cell_compacted"))
      // NULLS LAST — the s13 convention for NULL-embedding codes.
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("idist").asc_nulls_last, col("vec_id"))))
      .filter(col("rnk") <= k)
      .crossJoin(broadcast(ncc))
      .select(col("qid"), col("probe_label"), col("vec_id"),
        col("idist"), col("rnk"), col("cell_compacted"),
        col("n_compact_cells"))
  }

  /** Per-(session, dir) memo of the PERSISTED index root (s26) —
    * written once per session (and again after a rewrite of
    * `embeddings`), the q63 standing-layout discipline. Nothing to
    * free: the root is a temp dir deleted at JVM exit.
    */
  private val persistedIndex = new SessionMemo[String, String]

  /** Persist the IVF-SQ8 index as ON-DISK artifacts (s26's build
    * half): codes land as parquet PARTITIONED BY CELL — the IVF
    * layout as a physical directory layout, so an unprobed cell is a
    * partition a search never reads — plus the two tiny artifact
    * tables (centroids, grid params) beside them. This is the
    * save/load boundary every deployed index crosses: the in-memory
    * per-session builds (s07–s18) become a durable store a NEW
    * session serves from without retraining anything.
    */
  def persistIndex(spark: SparkSession, dir: String): String =
    persistedIndex(spark, dir, embSources(dir)) {
      val (cent, codes) = ivfSq8TrainShared(spark, dir, emb(spark, dir))
      val (params, _) = sq8TrainShared(spark, dir, emb(spark, dir))
      val root = new java.io.File(
        SourceSinks.tmp("graft_s26"), "index").getAbsolutePath
      codes.write.partitionBy("label").mode("overwrite")
        .parquet(s"$root/codes")
      cent.coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
      params.coalesce(1).write.mode("overwrite").parquet(s"$root/params")
      root
    }

  /** Incremental index append (s20) — the append-only ingest path
    * for a deployed vector index: a NEW batch of vectors is admitted
    * into the EXISTING layout — nearest existing coarse cell by
    * cosine, SQ8 codes on the existing grid — without retraining
    * anything and without touching a single base row. This is how a
    * 100 TB index absorbs a daily delta: the (tiny, broadcast)
    * artifacts serve assignment; the only corpus-scale work is one
    * map-side pass over the batch itself. Out-of-grid coordinates
    * (the batch may exceed the base's min/max) SATURATE to the grid
    * ends — stated in the oracle identically, so drift between
    * engines is impossible.
    */
  def indexAppend(base: DataFrame, batch: DataFrame): DataFrame = {
    val cent = seedCentroids(base)
    val params = sq8Params(base)
    val assigned = batch.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("v"), col("c_label"),
        cosine(col("v"), col("cv")).as("sim"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("sim").desc, col("c_label"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("v"), col("c_label").as("cell"))
    assigned.crossJoin(broadcast(params))
      .select(col("vec_id"), col("cell"),
        expr("""transform(sequence(0, size(v) - 1), i ->
            cast(least(greatest(floor(
              CASE WHEN his[i] = los[i] THEN 0.0D
              ELSE (v[i] - los[i]) * 255.0D / (his[i] - los[i]) END
              + 0.5D), 0.0D), 255.0D) as int))""").as("c"))
      .orderBy("vec_id")
  }

  /** Metadata-filtered top-k (s21) — the "filtered search" problem
    * every vector deployment hits: return nearest neighbors only
    * among vectors whose DOCUMENT passes a metadata predicate. This
    * is PRE-filter semantics: the gate semi-joins the corpus BEFORE
    * ranking, so the full k survivors are guaranteed — post-filtering
    * a top-k can come back short (or empty) whenever the predicate is
    * selective, which is exactly when users filter. Scale shape: the
    * gate is a doc-id semi-join (broadcastable when selective, plain
    * hash join otherwise — Catalyst/AQE's call), then s01's one
    * broadcast-query corpus scan + per-query top-k window over the
    * SURVIVORS only; a selective filter makes the search cheaper,
    * never weaker.
    */
  def filteredTopk(e: DataFrame, gateIds: DataFrame, k: Int): DataFrame = {
    val withNrm = e.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val queries = withNrm.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val gated = withNrm.join(gateIds,
      withNrm("vec_id") === gateIds("doc_id"), "left_semi")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    gated.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** ANN recall evaluation (s19) — recall@k of the IVF tier against
    * the exact brute-force baseline, as a first-class engine operator
    * rather than a spec-only measurement: the number every ANN
    * deployment tracks when it tunes probes/cells, computed the way
    * the engine would at 100 TB (exact side = one broadcast-query
    * corpus scan + per-query top-k window; approx side = the s03
    * probe + in-cell search; the comparison joins two ≤ |Q|·k-row
    * frames — evaluation cost is search cost, not corpus² cost).
    * Output (qid, n_hits, recall), fully deterministic on both
    * engines (6-dp-rounded cosines, id tie-breaks), so the oracle
    * checks the VALUE of the recall, not an envelope.
    */
  def annRecall(e: DataFrame, k: Int): DataFrame = {
    val withNrm = e.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val queries = withNrm.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val exact = withNrm
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"))
    val approx = ivfTopk(e, queries.select(col("qid"), col("qv")), k)
      .select(col("qid").as("aqid"), col("vec_id").as("avid"))
    exact.join(broadcast(approx),
        col("qid") === col("aqid") && col("vec_id") === col("avid"),
        "left")
      .groupBy("qid")
      .agg(count(col("avid")).as("n_hits"))
      .select(col("qid"), col("n_hits"),
        (col("n_hits").cast("double") / k).as("recall"))
      .orderBy("qid")
  }

  /** Recall-vs-probes CURVE (s22) — [[annRecall]] generalized to the
    * tuning artifact every ANN deployment actually wants: recall@k at
    * each probes setting, in ONE search pass. Instead of re-running
    * the IVF search per setting, the probe ranking runs once at the
    * DEEPEST setting, every candidate carries the probe RANK of its
    * cell, and a row replicates only to the settings that include it
    * (probe_rn ≤ p) — so the corpus is scanned once, the scoring
    * cosine computes once per candidate, and the per-setting top-k is
    * one window over the probe-bounded candidate frame keyed
    * (probes, qid). Evaluation cost ≈ one deepest-probe search, not
    * |settings| searches. Fully deterministic (6-dp cosines, id
    * tie-breaks), so the oracle checks the VALUES of the whole curve.
    */
  def annRecallCurve(e: DataFrame, k: Int,
      probesList: Seq[Int]): DataFrame = {
    val settings = probesList.distinct.sorted
    val pmax = settings.max
    val withNrm = e.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val queries = withNrm.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val exact = withNrm
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"))
    val probe = queries.crossJoin(broadcast(seedCentroids(e)))
      .select(col("qid"), col("qv"), col("c_label"),
        cosine(col("qv"), col("cv")).as("c_sim"))
      .withColumn("probe_rn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("c_sim").desc, col("c_label"))))
      .filter(col("probe_rn") <= pmax)
      .select(col("qid"), col("qv"), col("c_label").as("probe_label"),
        col("probe_rn"))
    val scored = e.join(broadcast(probe),
        col("label") === col("probe_label") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("probe_rn"),
        round(cosine(col("qv"), col("v")), 6).as("cos_sim"))
    val perSetting = scored
      .withColumn("probes", explode(
        filter(typedLit(settings.toArray), p => p >= col("probe_rn"))))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("probes"), col("qid"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("probes").as("aprobes"), col("qid").as("aqid"),
        col("vec_id").as("avid"))
    exact.withColumn("probes", explode(typedLit(settings.toArray)))
      .join(broadcast(perSetting),
        col("probes") === col("aprobes") && col("qid") === col("aqid") &&
          col("vec_id") === col("avid"), "left")
      .groupBy("probes", "qid")
      .agg(count(col("avid")).as("n_hits"))
      .select(col("probes"), col("qid"), col("n_hits"),
        (col("n_hits").cast("double") / k).as("recall"))
      .orderBy("probes", "qid")
  }

  /** Matryoshka recall curve (s28) — recall@k at each embedding
    * PREFIX width, the dimension-truncation twin of s22's
    * recall-vs-probes curve. Matryoshka-trained models (Kusupati et
    * al. 2022) make prefixes of the embedding usable on their own;
    * the serving question is how much recall each truncation buys
    * away, and this operator answers it with the exact top-k at the
    * FULL width as ground truth.
    *
    * One-pass shape, s22's discipline dimensionally: the corpus is
    * scanned ONCE — each (query, vector) pair scores every cut in
    * the same projection, and the per-cut rows fan out map-side into
    * one (dims, qid)-keyed top-k window (WindowGroupLimit bounds the
    * shuffle). Two cost tricks keep the pair work flat: corpus-side
    * prefix NORMS are computed once per vector in the scan (never
    * per pair), and the query prefixes are ZERO-PADDED to full width
    * on the tiny broadcast side — a padded dot equals the prefix dot
    * exactly (the tail contributes +0.0 terms, which never move an
    * IEEE sum), so the corpus vector is never sliced per pair and
    * every cut reuses the same codegen'd full-width dot kernel.
    * Fully deterministic (6-dp cosines, id tie-breaks), so the
    * oracle checks the VALUES of the whole curve; the full-width row
    * doubles as a self-test (recall must be 1.0).
    *
    * Output (dims, qid, n_hits, recall), one row per cut × query.
    */
  def matryoshkaRecall(e: DataFrame, k: Int, cuts: Seq[Int]): DataFrame = {
    val dims = cuts.distinct.sorted
    val full = dims.last // ground-truth width = the embedding width
    // tiny (|cuts| x queries x k rows); feeds truth AND the curve
    val topk = matryoshkaTopk(e, k, dims, full).localCheckpoint()
    val truth = topk.filter(col("dims") === full)
      .select(col("qid").as("tqid"), col("vec_id").as("tvid"))
    topk.join(broadcast(truth),
        col("qid") === col("tqid") && col("vec_id") === col("tvid"),
        "left")
      .groupBy("dims", "qid")
      .agg(count(col("tvid")).as("n_hits"))
      .select(col("dims"), col("qid"), col("n_hits"),
        (col("n_hits").cast("double") / k).as("recall"))
      .orderBy("dims", "qid")
  }

  /** The one-pass per-cut top-k behind [[matryoshkaRecall]], exposed
    * pre-checkpoint so PlanSpec can pin the scoring shape (the
    * checkpoint truncates the executed plan of the public operator).
    */
  private[graft] def matryoshkaTopk(e: DataFrame, k: Int,
      dims: Seq[Int], full: Int): DataFrame = {
    val withN = e.select(
      Seq(col("vec_id"), col("v")) ++
        dims.map(d => sqrt(dot(slice(col("v"), 1, d),
          slice(col("v"), 1, d))).as(s"nrm$d")): _*)
    val queries = withN.filter(col("vec_id") < 5).select(
      Seq(col("vec_id").as("qid")) ++
        dims.map(d => concat(slice(col("v"), 1, d),
          array_repeat(lit(0.0), full - d)).as(s"qv$d")) ++
        dims.map(d => col(s"nrm$d").as(s"qnrm$d")): _*)
    val pairs = withN.join(broadcast(queries), col("vec_id") =!= col("qid"))
    val scored = pairs
      .select(col("qid"), col("vec_id"),
        explode(array(dims.map(d => struct(lit(d).as("dims"),
          round(dot(col(s"qv$d"), col("v")) /
            (col(s"qnrm$d") * col(s"nrm$d")), 6).as("cos_sim"))): _*))
          .as("s"))
      .select(col("qid"), col("vec_id"),
        col("s.dims").as("dims"), col("s.cos_sim").as("cos_sim"))
    val w = Window.partitionBy(col("dims"), col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("dims", "qid", "vec_id")
  }

  /** Shared DuckDB CTE chain for the PQ oracle: subvectors, seed
    * codebook, `rounds` unrolled Lloyd rounds (ending in
    * `cent$rounds`), and the final `codes` assignment — the subspace-
    * keyed restatement of [[sqlKmeansUnrolled]]'s round. s07 selects
    * from `codes`; s08 appends the ADC CTEs.
    */
  def sqlPqCtes(rounds: Int): String =
    s"""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        ${sqlPqChainFromE(rounds)}"""

  /** The source-agnostic tail of the PQ oracle chain — everything
    * after an `e` CTE providing (vec_id, label, v). [[sqlPqCtes]]
    * feeds it raw embeddings; the s11 IVF-PQ oracle feeds it
    * coarse-cell RESIDUALS with the cell as `label`. Ends in
    * `cent$rounds` (codebooks) and `codes`.
    */
  def sqlPqChainFromE(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      s"""
        sims$r AS (
          SELECT s.vec_id, s.m, s.sv, c.cluster,
            list_sum(list_transform(list_zip(s.sv, c.cv),
                                    p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
          FROM sub s JOIN cent${r - 1} c ON s.m = c.m),
        assign$r AS (
          SELECT vec_id, m, sv, cluster FROM (
            SELECT vec_id, m, sv, cluster,
              ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY d, cluster) AS rn
            FROM sims$r) WHERE rn = 1),
        ad$r AS (
          SELECT vec_id, m, cluster, CAST(u.i - 1 AS INT) AS sdim, u.x AS x
          FROM assign$r, unnest(list_transform(range(1, len(sv) + 1),
                                i -> {'i': i, 'x': sv[i]})) AS s(u)),
        pchnk$r AS (
          SELECT m, cluster, sdim, vec_id // $meanChunkWidth AS chunk,
            COUNT(*) AS cn,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                     list(x ORDER BY vec_id)),
                        (a, b) -> a + b) AS csum
          FROM ad$r GROUP BY m, cluster, sdim, chunk),
        pschnk$r AS (
          SELECT m, cluster, sdim, chunk // $meanChunkWidth AS schunk,
            SUM(cn) AS scn,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                     list(csum ORDER BY chunk)),
                        (a, b) -> a + b) AS ssum
          FROM pchnk$r GROUP BY m, cluster, sdim, schunk),
        cent$r AS (
          SELECT m, cluster, list(cx ORDER BY sdim) AS cv FROM (
            SELECT m, cluster, sdim,
              list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                       list(ssum ORDER BY schunk)),
                          (a, b) -> a + b) / SUM(scn) AS cx
            FROM pschnk$r GROUP BY m, cluster, sdim)
          GROUP BY m, cluster)"""
    }.mkString(",")
    s"""dims AS (
          SELECT vec_id, label, CAST((u.i - 1) // 16 AS INT) AS m,
            CAST((u.i - 1) % 16 AS INT) AS sdim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        sub AS (
          SELECT vec_id, label, m, list(x ORDER BY sdim) AS sv
          FROM dims GROUP BY vec_id, label, m),
        cent0 AS (
          SELECT m, label AS cluster, list(cx ORDER BY sdim) AS cv FROM (
            SELECT m, label, sdim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM dims GROUP BY m, label, sdim)
          GROUP BY m, label),$roundCtes,
        fsims AS (
          SELECT s.vec_id, s.m, c.cluster,
            list_sum(list_transform(list_zip(s.sv, c.cv),
                                    p -> (p[1]-p[2])*(p[1]-p[2]))) AS d
          FROM sub s JOIN cent$rounds c ON s.m = c.m),
        codes AS (
          SELECT vec_id, m, cluster AS code FROM (
            SELECT vec_id, m, cluster,
              ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                 ORDER BY d, cluster) AS rn
            FROM fsims) WHERE rn = 1)"""
  }

  /** Shared DuckDB CTE chain for the IVF-PQ oracle (s11/s12): coarse
    * cells, residual SRP labeling, PQ training on the residuals
    * ([[sqlPqChainFromE]], 2 rounds), query probing (`probes` nearest
    * cells), and per-candidate ADC scoring — ends in `ad`
    * (qid, vec_id, adist) plus the reusable `raw` / `q` / `casn`
    * CTEs. s11 ranks `ad` directly; s12 appends the exact re-rank
    * tail. One definition, so the two oracles cannot drift.
    */
  private def sqlIvfPqAdCtes(probes: Int): String = s"""
        WITH raw AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        rdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM raw, unnest(list_transform(range(1, len(v) + 1),
                           i -> {'i': i, 'x': v[i]})) AS s(u)),
        ccent AS (
          SELECT label AS cluster, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
                AS cx
            FROM rdims GROUP BY label, dim)
          GROUP BY label),
        csims AS (
          SELECT raw.vec_id, raw.v, c.cluster,
            list_sum(list_transform(list_zip(raw.v, c.cv),
                                    p -> p[1]*p[2])) /
            (sqrt(list_sum(list_transform(raw.v, x -> x*x))) *
             sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS sim
          FROM raw CROSS JOIN ccent c),
        casn AS (
          SELECT vec_id, v, cluster FROM (
            SELECT vec_id, v, cluster,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cluster) AS rn
            FROM csims) WHERE rn = 1),
        res AS (
          SELECT a.vec_id,
            list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2]) AS v
          FROM casn a JOIN ccent c USING (cluster)),
        planes AS (
          SELECT * FROM (VALUES
          $planesSqlValues) AS t(b, w)),
        lab AS (
          SELECT r.vec_id,
            CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(r.v, w),
                                                       p -> p[1] * p[2])) >= 0
                     THEN (1 << b) ELSE 0 END) AS INT) AS label
          FROM res r CROSS JOIN planes WHERE b < 4
          GROUP BY r.vec_id),
        e AS (
          SELECT r.vec_id, l.label, r.v
          FROM res r JOIN lab l USING (vec_id)),
        ${sqlPqChainFromE(2)},
        q AS (SELECT vec_id AS qid, v AS qv FROM raw WHERE vec_id < 3),
        qsims AS (
          SELECT q.qid, q.qv, c.cluster, c.cv,
            list_sum(list_transform(list_zip(q.qv, c.cv),
                                    p -> p[1]*p[2])) /
            (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
             sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS sim
          FROM q CROSS JOIN ccent c),
        qprobe AS (
          SELECT qid, qv, cluster AS cell, cv FROM (
            SELECT qid, qv, cluster, cv,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY sim DESC, cluster) AS rn
            FROM qsims) WHERE rn <= $probes),
        rq AS (
          SELECT qid, cell,
            list_transform(list_zip(qv, cv), p -> p[1] - p[2]) AS rqv
          FROM qprobe),
        rqdims AS (
          SELECT qid, cell, CAST((u.i - 1) // 16 AS INT) AS m,
            CAST((u.i - 1) % 16 AS INT) AS sdim, u.x AS x
          FROM rq, unnest(list_transform(range(1, len(rqv) + 1),
                          i -> {'i': i, 'x': rqv[i]})) AS s(u)),
        rqsub AS (
          SELECT qid, cell, m, list(x ORDER BY sdim) AS qsv
          FROM rqdims GROUP BY qid, cell, m),
        dtab AS (
          SELECT r.qid, r.cell, c.m, c.cluster AS code,
            list_sum(list_transform(list_zip(r.qsv, c.cv),
                                    p -> (p[1]-p[2])*(p[1]-p[2]))) AS dpart
          FROM rqsub r JOIN cent2 c ON r.m = c.m),
        cand AS (
          SELECT d.qid, co.vec_id, d.m, d.dpart
          FROM codes co
          JOIN casn a ON co.vec_id = a.vec_id
          JOIN dtab d ON d.m = co.m AND d.code = co.code
                     AND d.cell = a.cluster
          WHERE co.vec_id <> d.qid),
        ad AS (
          SELECT qid, vec_id,
            ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                           list(dpart ORDER BY m)),
                              (a, b) -> a + b), 6) AS adist
          FROM cand GROUP BY qid, vec_id)"""

  /** Maximum-inner-product top-k via the norm-augmentation reduction
    * (Bachrach et al., RecSys'14; Neyshabur & Srebro's MIPS→cosine
    * family): lift every corpus vector to x' = [x, √(M² − |x|²)]
    * where M is the corpus max norm, and every query to q' = [q, 0].
    * Every lifted corpus vector has |x'| = M by construction, so
    * cosine order on the lifted pair IS inner-product order on the
    * originals — the reduction that lets any cosine/L2 ANN index (the
    * s02/s03/s11 family) serve dot-product retrieval unchanged.
    *
    * Ranking divides the lifted dot by (|q'| · M): M is one broadcast
    * scalar, constant across the partition, so IEEE division
    * preserves the inner-product order exactly (the per-row
    * √(dot(x',x')) recomputation would wobble by ulps between rows —
    * the constant is both the mathematically true |x'| and the
    * numerically safe divisor). The corpus never shuffles: queries
    * and the M scalar broadcast into one scan; the only exchange is
    * the per-qid top-k window, |Q|·N rows wide before the rank cut —
    * same shape as s01, and at 100 TB the same lift feeds the IVF
    * router instead of the brute-force scan.
    *
    * Emits the RAW inner product per ranked pair; the oracle ranks by
    * that inner product directly, with no lift — the hash match
    * proves the reduction exact, not just plausible.
    */
  def mipsTopk(e0: DataFrame, nq: Int, k: Int): DataFrame = {
    val e = e0.withColumn("n2", dot(col("v"), col("v")))
    val m2 = e.agg(max(col("n2")).as("m2"))
    val lifted = e.crossJoin(broadcast(m2))
      .select(col("vec_id"), col("v"),
        concat(col("v"), array(sqrt(col("m2") - col("n2")))).as("xa"),
        sqrt(col("m2")).as("mnorm"))
    val queries = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        concat(col("v"), array(lit(0.0d))).as("qa"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("aug_cos").desc, col("vec_id"))
    lifted.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .withColumn("aug_cos",
        dot(col("qa"), col("xa")) /
          (sqrt(dot(col("qa"), col("qa"))) * col("mnorm")))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qv"), col("v")), 6).as("ip"), col("aug_cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("ip"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  /** st22's CDC fixpoint as a batch frame — the POST-CHANGE corpus the
    * drift monitor measures: every 7th vector re-upserted NEGATED,
    * every 9th deleted (null-embedding rows excluded, as the stream
    * excludes them).
    */
  private def driftedCorpus(e: DataFrame): DataFrame = e
    .filter(col("v").isNotNull && col("vec_id") % 9 =!= 0)
    .select(col("vec_id"),
      when(col("vec_id") % 7 === 0, transform(col("v"), x => -x))
        .otherwise(col("v")).as("v"))

  /** Nearest frozen cell per vector (cosine, label-asc tie-break) —
    * the assignment half of [[assignClusters]] without carrying `v`.
    */
  private def cellOf(f: DataFrame, cent: DataFrame): DataFrame = f
    .crossJoin(broadcast(cent))
    .select(col("vec_id"), col("c_label"),
      cosine(col("v"), col("cv")).as("sim"))
    .withColumn("rn", row_number().over(
      Window.partitionBy(col("vec_id"))
        .orderBy(col("sim").desc, col("c_label"))))
    .filter(col("rn") === 1)
    .select(col("vec_id"), col("c_label").as("cell"))

  /** Index DRIFT monitor (s34) — the exit the frozen-artifact
    * convention needs: s20/st22 freeze centroids + grid and SATURATE
    * out-of-box codes by design, which is only safe while the corpus
    * still looks like the one the artifacts were trained on. This
    * operator measures exactly that, s24's audit discipline applied
    * to the ARTIFACTS: (a) per-cell occupancy under the frozen
    * assignment, now vs training time — a cell that empties or
    * floods means the coarse partitioner no longer matches the data;
    * (b) the fraction of coordinates of the current corpus that fall
    * OUTSIDE the frozen [lo, hi] grid box (the countable complement
    * of the clamp convention) — saturated codes are information the
    * index silently discards. Both reduce to retrain verdicts by
    * fixed thresholds: sat ≥ 1000 ppm (0.1% of coordinate mass
    * clamped) or any cell's occupancy share shifted ≥ 50000 ppm (5
    * points).
    *
    * Determinism: every metric is INTEGER arithmetic — occupancy
    * shares compare cross-multiplied (|n_now·N_train − n_train·N_now|
    * — no FP division anywhere), ppm values are integer-div
    * (floor) of ×10⁶ counts, and the out-of-box test compares raw
    * doubles against exact min/max bounds. (BIGINT products bound:
    * n·N ≤ N² — at petabyte corpus cardinalities the two products
    * move to DECIMAL(38,0)/HUGEINT; the arithmetic is otherwise
    * unchanged.)
    *
    * Scale shape: two assignment passes (map-only broadcast-centroid
    * scans + the per-vector argmax window), two |cells|-row
    * occupancy aggregates, one map-side-combined saturation scan
    * against the broadcast 1-row grid; everything after is
    * |cells|-row arithmetic with 1-row broadcast scalars. No
    * corpus-×-corpus term, no gram/cell-keyed exchange of payloads.
    * Output: one row per cell + the corpus verdict columns repeated
    * (the report a rebuild scheduler consumes).
    */
  def indexDrift(e0: DataFrame, cent: DataFrame,
      params: DataFrame): DataFrame = {
    val e = e0.filter(col("v").isNotNull)
    val eff = driftedCorpus(e0)
    val occT = cellOf(e, cent).groupBy("cell")
      .agg(count(lit(1)).as("n_train"))
    val occN = cellOf(eff, cent).groupBy("cell")
      .agg(count(lit(1)).as("n_now"))
    val nT = e.agg(count(lit(1)).as("n_tot_train"))
    val nN = eff.agg(count(lit(1)).as("n_tot_now"))
    val sat = eff.crossJoin(broadcast(params))
      .select(
        expr("""aggregate(sequence(0, size(v) - 1), 0L,
                 (acc, i) -> acc +
                   IF(v[i] < los[i] OR v[i] > his[i], 1L, 0L))""")
          .as("s"),
        size(col("v")).cast("long").as("nd"))
      .agg(coalesce(sum(col("s")), lit(0L)).as("sat_coords"),
        coalesce(sum(col("nd")), lit(0L)).as("n_coords"))
      .select(col("sat_coords"),
        expr("(1000000L * sat_coords) DIV nullif(n_coords, 0L)")
          .as("sat_ppm"))
    val cells = occT.join(occN, Seq("cell"), "full")
      .select(col("cell"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_now"), lit(0L)).as("n_now"))
      .crossJoin(broadcast(nT)).crossJoin(broadcast(nN))
      .withColumn("occ_drift_ppm",
        expr("""(1000000L * abs(n_now * n_tot_train
                                - n_train * n_tot_now))
                DIV nullif(n_tot_train * n_tot_now, 0L)"""))
    val maxDrift = cells
      .agg(coalesce(max(col("occ_drift_ppm")), lit(0L))
        .as("max_occ_drift_ppm"))
    cells.crossJoin(broadcast(sat)).crossJoin(broadcast(maxDrift))
      .select(col("cell"), col("n_train"), col("n_now"),
        col("occ_drift_ppm"), col("sat_ppm"), col("max_occ_drift_ppm"),
        (col("sat_ppm") >= 1000L || col("max_occ_drift_ppm") >= 50000L)
          .cast("int").as("retrain"))
      .orderBy("cell")
  }

  /** Triggered index REBUILD (s35) — what fires when [[indexDrift]]'s
    * verdict says retrain: artifacts re-derived from the CURRENT
    * corpus (centroids = label means of the surviving set, grid =
    * its min/max box) and the drift metrics recomputed against the
    * NEW artifacts — proving the rebuild actually clears the drift
    * (saturation is 0 by construction of the new grid; the hash
    * checks that the engine's rebuild really achieves it, not just
    * claims it). The verdict gates COLUMNS, not control flow: both
    * sides are cheap map passes, the report always shows frozen and
    * rebuilt states side by side, and `serving_*` columns select by
    * the broadcast verdict scalar — declarative, so the whole thing
    * stays one plan with no driver-side branch.
    */
  def driftRebuild(e0: DataFrame, cent: DataFrame,
      params: DataFrame): DataFrame = {
    val drift = indexDrift(e0, cent, params)
    val eff = driftedCorpus(e0)
      .join(e0.select(col("vec_id"), col("label")), "vec_id")
    // Rebuilt artifacts: label means + min/max box of the SURVIVING
    // corpus — the same derivations the frozen ones came from.
    val centNew = seedCentroids(eff)
    val paramsNew = sq8Params(eff)
    val occNew = cellOf(eff, centNew).groupBy("cell")
      .agg(count(lit(1)).as("n_rebuilt"))
    val satNew = eff.crossJoin(broadcast(paramsNew))
      .select(
        expr("""aggregate(sequence(0, size(v) - 1), 0L,
                 (acc, i) -> acc +
                   IF(v[i] < los[i] OR v[i] > his[i], 1L, 0L))""")
          .as("s"),
        size(col("v")).cast("long").as("nd"))
      .agg(coalesce(sum(col("s")), lit(0L)).as("sat_coords_new"),
        coalesce(sum(col("nd")), lit(0L)).as("n_coords_new"))
      .select(expr(
        "(1000000L * sat_coords_new) DIV nullif(n_coords_new, 0L)")
        .as("sat_ppm_rebuilt"))
    drift.join(occNew, Seq("cell"), "left")
      .withColumn("n_rebuilt", coalesce(col("n_rebuilt"), lit(0L)))
      .crossJoin(broadcast(satNew))
      .select(col("cell"), col("n_train"), col("n_now"),
        col("n_rebuilt"), col("occ_drift_ppm"), col("sat_ppm"),
        col("sat_ppm_rebuilt"), col("retrain"),
        when(col("retrain") === 1, col("n_rebuilt"))
          .otherwise(col("n_now")).as("serving_n"),
        when(col("retrain") === 1, col("sat_ppm_rebuilt"))
          .otherwise(col("sat_ppm")).as("serving_sat_ppm"))
      .orderBy("cell")
  }

  /** Maximal Marginal Relevance re-rank (s36) — the diversity-aware
    * serving step (Carbonell & Goldstein 1998): from the query's
    * top-`kCand` cosine candidates, greedily pick k results maximizing
    * λ·relevance − μ·max-similarity-to-already-picked. The k-center
    * machinery (s30) re-aimed at serving: a running `ms` column
    * (max sim to the selected set) updated per round with one
    * map-only `greatest` against the single broadcast new pick, the
    * argmax a TakeOrderedAndProject top-1 (k−1 bounded single-row
    * fetches), per-round localCheckpoint. λ and μ are SEPARATE
    * literals (never 1−λ computed at runtime — 1−0.7 is not 0.3 in
    * IEEE, and the oracle parses the printed literal).
    *
    * Determinism: rel and ms are ROUND(cos, 6) values (s01), the
    * score λ·rel − μ·ms combines already-identical doubles with one
    * literal-for-literal expression, ties break by vec_id.
    * Output: (rnk, vec_id, rel, score) — score as at selection time.
    */
  def mmrRerank(e0: DataFrame, kCand: Int, k: Int,
      lam: Double, mu: Double): DataFrame = Checkpoints.using { cps =>
    val s = e0.sparkSession
    import s.implicits._
    val e = e0.filter(col("v").isNotNull)
    def cvLit(vs: Seq[Double]): Column = array(vs.map(lit): _*)
    val q = e.filter(col("vec_id") === 0L).select(col("v").as("qv"))
    var state = cps(e.filter(col("vec_id") =!= 0L)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("v"),
        round(cosine(col("v"), col("qv")), 6).as("rel"))
      .orderBy(col("rel").desc, col("vec_id")).limit(kCand)
      .withColumn("ms", lit(0.0)))
    var picked = Vector.empty[(Int, Long, Double, Double)]
    var exhausted = false
    for (r <- 1 to k if !exhausted) {
      val top = state
        .withColumn("score",
          lit(lam) * col("rel") - lit(mu) * col("ms"))
        .orderBy(col("score").desc, col("vec_id")).limit(1)
        .collect().headOption
      top match {
        case None => exhausted = true
        case Some(row) =>
          picked :+= ((r, row.getLong(0), row.getDouble(2),
            row.getDouble(row.fieldIndex("score"))))
          val cv = row.getSeq[Double](1)
          val prev = state
          state = cps(state.filter(col("vec_id") =!= row.getLong(0))
            .withColumn("ms",
              greatest(col("ms"), round(cosine(col("v"), cvLit(cv)), 6))))
          cps.free(prev)
      }
    }
    picked.toDF("rnk", "vec_id", "rel", "score").orderBy("rnk")
  }

  /** DuckDB restatement of [[mmrRerank]]: the greedy recursion
    * unrolled as CTE rounds (c_r = argmax of s_{r-1}'s score,
    * s_r = remaining candidates with a GREATEST ms-fold update) —
    * exactly the Spark arithmetic, literal for literal.
    */
  def sqlMmrUnrolled(kCand: Int, k: Int, lam: Double,
      mu: Double): String = {
    def cos(a: String, b: String): String =
      s"""list_sum(list_transform(list_zip($a, $b), p -> p[1]*p[2])) /
            (sqrt(list_sum(list_transform($a, x -> x*x))) *
             sqrt(list_sum(list_transform($b, x -> x*x))))"""
    // Round r FIRST drops c_{r-1} and folds it into ms, THEN argmaxes
    // — picking before reducing would let an earlier winner repeat.
    // Each s_r is referenced twice (by c_r and s_{r+1}): MATERIALIZED,
    // or DuckDB's default inlining expands the chain 2^k times.
    val rounds = (2 to k).map { r =>
      s"""
        s$r AS MATERIALIZED (
          SELECT s.vec_id, s.v, s.rel,
            GREATEST(s.ms, ROUND(${cos("s.v", "c.v")}, 6)) AS ms
          FROM s${r - 1} s CROSS JOIN c${r - 1} c
          WHERE s.vec_id <> c.vec_id),
        c$r AS MATERIALIZED (
          SELECT vec_id, v, rel, ms FROM s$r
          ORDER BY $lam * rel - $mu * ms DESC, vec_id LIMIT 1)"""
    }.mkString(",")
    val parts = (1 to k).map { r =>
      s"""SELECT $r AS rnk, vec_id, rel,
            $lam * rel - $mu * ms AS score FROM c$r"""
    }.mkString("\n          UNION ALL ")
    s"""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE embedding IS NOT NULL),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        cand AS (
          SELECT vec_id, v, rel, CAST(0.0 AS DOUBLE) AS ms FROM (
            SELECT e.vec_id, e.v,
              ROUND(${cos("e.v", "q.qv")}, 6) AS rel
            FROM e, q WHERE e.vec_id <> 0
            ORDER BY rel DESC, vec_id LIMIT $kCand)),
        s1 AS MATERIALIZED (SELECT * FROM cand),
        c1 AS MATERIALIZED (
          SELECT vec_id, v, rel, ms FROM s1
          ORDER BY $lam * rel - $mu * ms DESC, vec_id LIMIT 1)${
        if (k >= 2) "," else ""}$rounds
        SELECT rnk, vec_id, rel, score FROM (
          ${parts})
        ORDER BY rnk"""
  }

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    Q(
      "s01_cosine_topk",
      (s, dir) => {
        // Norms precomputed per side: N + |Q| sqrt-folds instead of
        // 2·N·|Q| (the product sqrt(na)*sqrt(nb) is preserved exactly,
        // so the oracle's inline formula yields identical doubles).
        val e = emb(s, dir).withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        val queries = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        // Query side is tiny → broadcast; one pass over the corpus,
        // then a per-query top-k window (shuffle on qid only).
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
        e.join(broadcast(queries), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6)
              .as("cos_sim"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .orderBy("qid", "rnk")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        scored AS (
          SELECT q.qid, e.vec_id,
            ROUND(
              list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2])) /
              (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
               sqrt(list_sum(list_transform(e.v, x -> x * x)))), 6) AS cos_sim
          FROM e JOIN q ON e.vec_id <> q.qid)
        SELECT qid, vec_id, cos_sim, rnk FROM (
          SELECT qid, vec_id, cos_sim,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s02_lsh_buckets",
      (s, dir) => {
        // Bucket = the 16 sign bits packed into one int. A pure
        // projection: 16 native dot products per vector against
        // literal plane weights — no explode, no join, no shuffle.
        // (The first cut exploded 64 dims and broadcast-joined a
        // 1024-row plane table: 5M decimal multiply-adds through a
        // partial agg, ~2.4 s at sf0.1 for what is 5M flops; this
        // shape is ~10× cheaper and is a map-only stage at 100 TB.)
        val bucket = (0 until 16).map(b => planeBit(col("v"), b, b))
          .reduce(_ + _).cast("int")
        emb(s, dir)
          .select(col("vec_id"), col("label"), bucket.as("bucket"))
          .orderBy("vec_id")
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        planes AS (
          SELECT * FROM (VALUES
          $planesSqlValues) AS t(b, w)),
        bits AS (
          SELECT vec_id, label,
            CASE WHEN list_sum(list_transform(list_zip(v, w),
                                              p -> p[1] * p[2])) >= 0
                 THEN (1 << b) ELSE 0 END AS bit
          FROM e CROSS JOIN planes)
        SELECT vec_id, label, CAST(SUM(bit) AS INT) AS bucket
        FROM bits
        GROUP BY vec_id, label
        ORDER BY vec_id""")),
    // ----------------------------------------------------------------
    Q(
      "s03_ivf_topk",
      (s, dir) => {
        // Coarse centroids: per-label per-dimension exact-decimal
        // mean ([[seedCentroids]] — order-independent and
        // engine-independent, so the centroid doubles and everything
        // ranked from them hash-match the DuckDB oracle); then probe
        // + in-cell search ([[ivfTopk]]).
        val e = emb(s, dir)
        val queries = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        ivfTopk(e, queries, k = 5).orderBy("qid", "rnk")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        dims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM dims GROUP BY label, dim)
          GROUP BY label),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        probe AS (
          SELECT qid, qv, label AS probe_label FROM (
            SELECT q.qid, q.qv, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn = 1),
        scored AS (
          SELECT p.qid, p.probe_label, e.vec_id,
            ROUND(list_sum(list_transform(list_zip(p.qv, e.v), pr -> pr[1]*pr[2])) /
              (sqrt(list_sum(list_transform(p.qv, x -> x*x))) *
               sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cos_sim
          FROM e JOIN probe p
            ON e.label = p.probe_label AND e.vec_id <> p.qid)
        SELECT qid, probe_label, vec_id, cos_sim, rnk FROM (
          SELECT qid, probe_label, vec_id, cos_sim,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s04_knn_join",
      (s, dir) =>
        // k-NN JOIN: approximate top-3 neighbors for EVERY vector —
        // the index-build shape behind retrieval corpora and semantic
        // dedup. 4 COARSE bucket bits fit the test-SF corpus sizes;
        // see knnJoin's doc for the bits-vs-corpus trade.
        knnJoin(emb(s, dir), bits = 4, k = 3).orderBy("vec_id", "rnk"),
      Some(s"""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        planes AS (
          SELECT * FROM (VALUES
          $planesSqlValues) AS t(b, w)),
        bits AS (
          SELECT vec_id,
            CASE WHEN list_sum(list_transform(list_zip(v, w),
                                              p -> p[1] * p[2])) >= 0
                 THEN (1 << b) ELSE 0 END AS bit
          FROM e CROSS JOIN planes WHERE b < 4),
        bk AS (
          SELECT vec_id, CAST(SUM(bit) AS INT) AS bucket
          FROM bits GROUP BY vec_id),
        eb AS (
          SELECT e.vec_id, e.v, bk.bucket
          FROM e JOIN bk USING (vec_id)),
        scored AS (
          SELECT a.vec_id, b.vec_id AS nb,
            ROUND(
              list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) /
              (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
               sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS cos_sim
          FROM eb a JOIN eb b
            ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
        SELECT vec_id, nb, cos_sim, rnk FROM (
          SELECT vec_id, nb, cos_sim,
            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos_sim DESC, nb) AS rnk
          FROM scored)
        WHERE rnk <= 3
        ORDER BY vec_id, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s09_ivf_multiprobe",
      (s, dir) => {
        // The probes dial under the oracle gate: same IVF machinery
        // as s03, searching the union of the 4 nearest cells per
        // query. Fully deterministic (probe ranking and in-cell
        // scoring are the s03 arithmetic), so DuckDB restates the
        // fan-out exactly — recall-vs-probes is additionally measured
        // against the exact baseline in SimilaritySpec.
        val e = emb(s, dir)
        val queries = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        ivfTopk(e, queries, k = 5, probes = 4).orderBy("qid", "rnk")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        dims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM dims GROUP BY label, dim)
          GROUP BY label),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        probe AS (
          SELECT qid, qv, label AS probe_label FROM (
            SELECT q.qid, q.qv, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn <= 4),
        scored AS (
          SELECT p.qid, p.probe_label, e.vec_id,
            ROUND(list_sum(list_transform(list_zip(p.qv, e.v), pr -> pr[1]*pr[2])) /
              (sqrt(list_sum(list_transform(p.qv, x -> x*x))) *
               sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cos_sim
          FROM e JOIN probe p
            ON e.label = p.probe_label AND e.vec_id <> p.qid)
        SELECT qid, probe_label, vec_id, cos_sim, rnk FROM (
          SELECT qid, probe_label, vec_id, cos_sim,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s10_ann_external",
      (s, dir) => {
        // EXTERNAL-query ANN — the deployment's actual first call:
        // "here is a frame of query vectors", none of which are
        // corpus members. Queries here are the 16 per-label centroids
        // (deterministic, derivable by the oracle, and genuinely not
        // corpus rows); probes = 2 so each query searches its own
        // cell plus the nearest other. excludeSelf = false is the
        // load-bearing bit: qids (0..15) COLLIDE with corpus vec_ids,
        // and the corpus-member-mode id filter would silently drop a
        // legitimate neighbor per cell (the r8 advisory, now under
        // the hash gate).
        val e = emb(s, dir)
        // Aggregate the centroids ONCE (corpus-wide posexplode + two
        // shuffles — the dominant stage): they are both the query
        // frame and ivfTopk's coarse index.
        val centroids = seedCentroids(e)
        val queries = centroids
          .select(col("c_label").cast("bigint").as("qid"),
            col("cv").as("qv"))
        ivfTopk(e, queries, k = 5, probes = 2, excludeSelf = false,
          centroidsOpt = Some(centroids))
          .orderBy("qid", "rnk")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        dims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM dims GROUP BY label, dim)
          GROUP BY label),
        q AS (SELECT CAST(label AS BIGINT) AS qid, cv AS qv FROM cent),
        probe AS (
          SELECT qid, qv, label AS probe_label FROM (
            SELECT q.qid, q.qv, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn <= 2),
        scored AS (
          SELECT p.qid, p.probe_label, e.vec_id,
            ROUND(list_sum(list_transform(list_zip(p.qv, e.v), pr -> pr[1]*pr[2])) /
              (sqrt(list_sum(list_transform(p.qv, x -> x*x))) *
               sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cos_sim
          FROM e JOIN probe p ON e.label = p.probe_label)
        SELECT qid, probe_label, vec_id, cos_sim, rnk FROM (
          SELECT qid, probe_label, vec_id, cos_sim,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s11_ivfpq",
      (s, dir) => {
        // IVF-PQ / IVFADC (see [[ivfPqTrain]]/[[ivfPqSearch]]): coarse
        // cells + residual PQ codes, probes = 2. Same deterministic
        // arithmetic as s05/s07/s08 end to end (decimal seed means,
        // chunked-mean Lloyd rounds on the residuals, subspace-ordered
        // ADC folds), so the oracle unrolls the identical pipeline and
        // the result hash-matches exactly. Training artifacts are the
        // shared per-session index build (see [[ivfPqTrainShared]]) —
        // s12 consumes the same build.
        val e = emb(s, dir)
        val (coarse, cells, cb, codes) = ivfPqTrainShared(s, dir, e)
        val queries = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        ivfPqSearch(queries, coarse, cells, cb, codes, k = 5, probes = 2)
      },
      Some(sqlIvfPqAdCtes(probes = 2) + """
        SELECT qid, vec_id, adist, rnk FROM (
          SELECT qid, vec_id, adist,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY adist, vec_id) AS rnk
          FROM ad)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s12_ivfpq_refined",
      (s, dir) => {
        // IVFADC+R (see [[ivfPqSearchRefined]]): the s11 pipeline's
        // ADC shortlist of 20, exact-L2 re-ranked to the true top-5.
        // The oracle shares s11's entire CTE chain (sqlIvfPqAdCtes)
        // and appends only the shortlist + re-rank tail, so the two
        // rows cannot drift. Consumes the same per-session index build
        // as s11 ([[ivfPqTrainShared]]) instead of re-training.
        val e = emb(s, dir)
        val (coarse, cells, cb, codes) = ivfPqTrainShared(s, dir, e)
        val queries = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        ivfPqSearchRefined(queries, coarse, cells, cb, codes, e,
          k = 5, shortlist = 20, probes = 2)
      },
      Some(sqlIvfPqAdCtes(probes = 2) + """,
        sl AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY adist, vec_id) AS rnk
            FROM ad)
          WHERE rnk <= 20),
        rr AS (
          SELECT s.qid, s.vec_id,
            ROUND(list_sum(list_transform(list_zip(q.qv, r.v),
                           p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS dist
          FROM sl s
          JOIN q ON s.qid = q.qid
          JOIN raw r ON s.vec_id = r.vec_id)
        SELECT qid, vec_id, dist, rnk FROM (
          SELECT qid, vec_id, dist,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY dist, vec_id) AS rnk
          FROM rr)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s13_sq8_topk",
      (s, dir) =>
        // 8-bit scalar-quantized brute-force top-5 (see [[sq8Search]]):
        // per-dimension min/max grid, one byte per coordinate,
        // all-integer symmetric distances — the no-training
        // compression point between raw floats and PQ. The grid +
        // code build is the shared per-session artifact
        // ([[sq8TrainShared]]); the query measures the search scan.
        sq8Search(sq8TrainShared(s, dir, emb(s, dir))._2, k = 5),
      Some("""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        dims AS (
          SELECT CAST(u.i - 1 AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        stats AS (
          SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM dims GROUP BY dim),
        grid AS (
          SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
          FROM stats),
        codes AS (
          SELECT vec_id,
            list_transform(range(1, len(v) + 1), i ->
              CAST(FLOOR(CASE WHEN his[i] = los[i] THEN 0.0
                ELSE (v[i] - los[i]) * 255.0 / (his[i] - los[i]) END
                + 0.5) AS INT)) AS c
          FROM e, grid),
        q AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < 3),
        scored AS (
          SELECT q.qid, k.vec_id,
            CAST(list_sum(list_transform(list_zip(q.qc, k.c),
              p -> CAST(p[1] - p[2] AS BIGINT)
                   * CAST(p[1] - p[2] AS BIGINT))) AS BIGINT) AS idist
          FROM codes k, q WHERE k.vec_id <> q.qid)
        SELECT qid, vec_id, idist, rnk FROM (
          SELECT qid, vec_id, idist,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY idist, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s14_bq_hamming",
      (s, dir) =>
        // Sign-bit binary quantization + Hamming top-5 (see
        // [[bqTopk]]): 1 bit per coordinate in 32-bit words, the
        // recall-layer rung of the quantization ladder.
        bqTopk(emb(s, dir), k = 5),
      Some("""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        codes AS (
          SELECT vec_id,
            CAST(list_sum(list_transform(range(1, 33), i ->
              CASE WHEN v[i] > 0.0 THEN (1::BIGINT << (i - 1))
                   ELSE 0::BIGINT END)) AS BIGINT) AS w0,
            CAST(list_sum(list_transform(range(33, 65), i ->
              CASE WHEN v[i] > 0.0 THEN (1::BIGINT << (i - 33))
                   ELSE 0::BIGINT END)) AS BIGINT) AS w1
          FROM e),
        q AS (
          SELECT vec_id AS qid, w0 AS q0, w1 AS q1
          FROM codes WHERE vec_id < 3),
        scored AS (
          SELECT q.qid, c.vec_id,
            CAST(bit_count(CAST(xor(c.w0, q.q0) AS BIT))
               + bit_count(CAST(xor(c.w1, q.q1) AS BIT)) AS INT)
              AS hamming
          FROM codes c, q WHERE c.vec_id <> q.qid)
        SELECT qid, vec_id, hamming, rnk FROM (
          SELECT qid, vec_id, hamming,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY hamming, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s17_bq_refined",
      (s, dir) =>
        // Binary-recall + exact-refine (see [[bqRefinedTopk]]):
        // Hamming shortlist of 20 per query, exact cosine re-rank to
        // top-5 — the recall/precision split on the cheapest codes.
        bqRefinedTopk(emb(s, dir), shortlist = 20, k = 5),
      Some("""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        codes AS (
          SELECT vec_id,
            CAST(list_sum(list_transform(range(1, 33), i ->
              CASE WHEN v[i] > 0.0 THEN (1::BIGINT << (i - 1))
                   ELSE 0::BIGINT END)) AS BIGINT) AS w0,
            CAST(list_sum(list_transform(range(33, 65), i ->
              CASE WHEN v[i] > 0.0 THEN (1::BIGINT << (i - 33))
                   ELSE 0::BIGINT END)) AS BIGINT) AS w1
          FROM e),
        q AS (
          SELECT vec_id AS qid, w0 AS q0, w1 AS q1
          FROM codes WHERE vec_id < 3),
        hscored AS (
          SELECT q.qid, c.vec_id,
            CAST(bit_count(CAST(xor(c.w0, q.q0) AS BIT))
               + bit_count(CAST(xor(c.w1, q.q1) AS BIT)) AS INT)
              AS hamming
          FROM codes c, q WHERE c.vec_id <> q.qid),
        short AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY hamming, vec_id) AS rn
            FROM hscored)
          WHERE rn <= 20),
        qv AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
        rer AS (
          SELECT s.qid, s.vec_id,
            ROUND(
              list_sum(list_transform(list_zip(b.qv, e.v),
                                      p -> p[1] * p[2])) /
              (sqrt(list_sum(list_transform(b.qv, x -> x * x))) *
               sqrt(list_sum(list_transform(e.v, x -> x * x)))), 6)
              AS cos_sim
          FROM short s
          JOIN e ON e.vec_id = s.vec_id
          JOIN qv b ON b.qid = s.qid)
        SELECT qid, vec_id, cos_sim, rnk FROM (
          SELECT qid, vec_id, cos_sim,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM rer)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s05_kmeans_iterate",
      (s, dir) => {
        // One full k-means Lloyd iteration, distributed — the
        // clustering primitive behind topic bucketing / diversity
        // sampling of a training corpus. Seeds = s03's per-label
        // exact-decimal centroids; assign = nearest centroid by cosine
        // (16-row broadcast, argmax via window with label tie-break);
        // update = per-(cluster, dim) exact-decimal mean of the
        // assignment. Scale shape: the only shuffles are the two
        // centroid aggregations over (key, dim) rows — assignment
        // itself is a map-only broadcast pass, and a further
        // iteration is the same plan re-applied (the d08 loop pattern
        // with localCheckpoint would carry it to fixpoint).
        // Cross-engine: the SEED means reuse s03's exact-decimal form
        // (only feeds an argmax — 1-ulp robust), but the OUTPUT means
        // are sequential IEEE folds in vec_id order on both sides —
        // a DECIMAL(28,12) rescale of a double rounds half-to-EVEN in
        // DuckDB vs HALF_UP in Spark, and over 640 output means one
        // 12th-decimal tie DID surface at sf0.01 (1/640 rows). IEEE
        // addition is exact-deterministic given order; rescaling is
        // not. (The d06/q47 rule, re-learned.) See [[kmeansIterate]].
        kmeansIterate(emb(s, dir)).orderBy("cluster", "dim")
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        dims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM dims GROUP BY label, dim)
          GROUP BY label),
        sims AS (
          SELECT e.vec_id, e.v, c.label,
            list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) /
            (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
             sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS sim
          FROM e CROSS JOIN cent c),
        assign AS (
          SELECT vec_id, v, label AS cluster FROM (
            SELECT vec_id, v, label,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, label) AS rn
            FROM sims) WHERE rn = 1),
        ad AS (
          SELECT vec_id, cluster, CAST(u.i AS INT) AS dim, u.x AS x
          FROM assign, unnest(list_transform(range(1, len(v) + 1),
                                             i -> {'i': i, 'x': v[i]})) AS s(u)),
        chnk AS (
          SELECT cluster, dim, vec_id // ${meanChunkWidth} AS chunk,
            COUNT(*) AS cn,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                     list(x ORDER BY vec_id)),
                        (a, b) -> a + b) AS csum
          FROM ad GROUP BY cluster, dim, chunk),
        schnk AS (
          SELECT cluster, dim, chunk // ${meanChunkWidth} AS schunk,
            SUM(cn) AS scn,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                     list(csum ORDER BY chunk)),
                        (a, b) -> a + b) AS ssum
          FROM chnk GROUP BY cluster, dim, schunk)
        SELECT cluster, dim, CAST(SUM(scn) AS BIGINT) AS n_members,
          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                   list(ssum ORDER BY schunk)),
                      (a, b) -> a + b) / SUM(scn) AS cx
        FROM schnk GROUP BY cluster, dim
        ORDER BY cluster, dim""")),
    // ----------------------------------------------------------------
    Q(
      "s06_kmeans_converge",
      (s, dir) =>
        // Lloyd to convergence (pinned at 3 iterations for the
        // oracle — DuckDB unrolls the identical round 3×; eps = 0
        // means only an exact bit-for-bit fixpoint exits early, which
        // reproduces the unrolled result by definition). See
        // [[kmeansConverge]] for the loop's scale shape.
        kmeansConverge(emb(s, dir), maxIter = 3, eps = 0.0)
          .orderBy("cluster", "dim"),
      Some(sqlKmeansUnrolled(3))),
    // ----------------------------------------------------------------
    Q(
      "s07_pq_train",
      (s, dir) =>
        // PQ codebook training, 2 pinned Lloyd rounds per subspace
        // (all M subspaces in the same distributed job); output is
        // each vector's 4 subspace codes. See [[pqTrain]]; the build
        // is the shared per-session index s08 also consumes.
        pqTrainShared(s, dir, emb(s, dir))._2
          .withColumnRenamed("m", "subspace")
          .orderBy("vec_id", "subspace"),
      Some(sqlPqCtes(2) + """
        SELECT vec_id, m AS subspace, code FROM codes
        ORDER BY vec_id, subspace""")),
    // ----------------------------------------------------------------
    Q(
      "s08_pq_adc_topk",
      (s, dir) => {
        // ADC top-5 over the PQ codes for queries vec_id < 3: 4 table
        // lookups + an ordered 4-term sum per (query, vector) — the
        // compressed-domain search that makes PQ the 100 TB ANN
        // memory path. See [[pqAdcTopk]]; consumes the same
        // per-session index build as s07 instead of re-training.
        val e = emb(s, dir)
        val (cent, codes) = pqTrainShared(s, dir, e)
        val queries = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        pqAdcSearch(queries, cent, codes, k = 5)
      },
      Some(sqlPqCtes(2) + """,
        q AS (
          SELECT vec_id AS qid, m, sv AS qv FROM sub WHERE vec_id < 3),
        dtab AS (
          SELECT q.qid, c.m, c.cluster AS code,
            list_sum(list_transform(list_zip(q.qv, c.cv),
                                    p -> (p[1]-p[2])*(p[1]-p[2]))) AS dpart
          FROM q JOIN cent2 c ON q.m = c.m),
        scored AS (
          SELECT d.qid, k.vec_id,
            ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                           list(d.dpart ORDER BY d.m)),
                              (a, b) -> a + b), 6) AS adist
          FROM codes k JOIN dtab d ON k.m = d.m AND k.code = d.code
          WHERE k.vec_id <> d.qid
          GROUP BY d.qid, k.vec_id)
        SELECT qid, vec_id, adist, rnk FROM (
          SELECT qid, vec_id, adist,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY adist, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s15_range_search",
      (s, dir) => {
        // Exact cosine RANGE search at θ=0.25 with lossless IVF-cell
        // pruning (see [[rangeSearch]]): every vector within the
        // radius, not a fixed k — the dedup-threshold query shape.
        val e = emb(s, dir).withColumn("nrm",
          sqrt(dot(col("v"), col("v"))))
        val queries = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        rangeSearch(e, queries, minCosine = 0.25)
      },
      Some("""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5)
        SELECT qid, vec_id, cos_sim FROM (
          SELECT q.qid, e.vec_id,
            ROUND(
              list_sum(list_transform(list_zip(q.qv, e.v),
                                      p -> p[1] * p[2])) /
              (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
               sqrt(list_sum(list_transform(e.v, x -> x * x)))), 6)
              AS cos_sim
          FROM e JOIN q ON e.vec_id <> q.qid)
        WHERE cos_sim >= 0.25
        ORDER BY qid, vec_id""")),
    // ----------------------------------------------------------------
    Q(
      "s16_maxsim_topk",
      (s, dir) => {
        // MaxSim late-interaction top-5 (see [[maxSimTopk]]): 4
        // contiguous 16-d sub-vectors per side, each query sub
        // matched to its best document sub.
        val e = emb(s, dir)
        val queries = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        maxSimTopk(e, queries, subs = 4, k = 5)
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
        scored AS (
          SELECT q.qid, e.vec_id, $sqlMaxSim4 AS maxsim
          FROM e JOIN q ON e.vec_id <> q.qid)
        SELECT qid, vec_id, maxsim, rnk FROM (
          SELECT qid, vec_id, maxsim,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY maxsim DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s18_ivf_sq8",
      (s, dir) => {
        // IVF coarse cells + in-cell SQ8 codes (see [[ivfSq8Search]]):
        // the remaining coarse×fine pairing of the quantization
        // matrix. Build is the shared per-session artifact; the query
        // measures the probed 64 B/vector search scan.
        val (cent, codes) = ivfSq8TrainShared(s, dir, emb(s, dir))
        ivfSq8Search(emb(s, dir), cent, codes, k = 5)
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        cdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM cdims GROUP BY label, dim)
          GROUP BY label),
        gdims AS (
          SELECT CAST(u.i - 1 AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        stats AS (
          SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM gdims GROUP BY dim),
        grid AS (
          SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
          FROM stats),
        codes AS (
          SELECT vec_id, label,
            list_transform(range(1, len(v) + 1), i ->
              CAST(FLOOR(CASE WHEN his[i] = los[i] THEN 0.0
                ELSE (v[i] - los[i]) * 255.0 / (his[i] - los[i]) END
                + 0.5) AS INT)) AS c
          FROM e, grid),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
        probe AS (
          SELECT qid, label AS probe_label FROM (
            SELECT q.qid, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn = 1),
        qc AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < 3),
        scored AS (
          SELECT p.qid, p.probe_label, k.vec_id,
            CAST(list_sum(list_transform(list_zip(qc.qc, k.c),
              pr -> CAST(pr[1] - pr[2] AS BIGINT)
                    * CAST(pr[1] - pr[2] AS BIGINT))) AS BIGINT) AS idist
          FROM codes k
          JOIN probe p ON k.label = p.probe_label AND k.vec_id <> p.qid
          JOIN qc ON qc.qid = p.qid)
        SELECT qid, probe_label, vec_id, idist, rnk FROM (
          SELECT qid, probe_label, vec_id, idist,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY idist, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s19_ann_recall",
      (s, dir) =>
        // Recall@5 of the single-probe IVF tier vs the exact baseline
        // (see [[annRecall]]) — the tuning metric as an operator.
        annRecall(emb(s, dir), k = 5),
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        xscored AS (
          SELECT q.qid, e.vec_id,
            ROUND(
              list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2])) /
              (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
               sqrt(list_sum(list_transform(e.v, x -> x * x)))), 6) AS cos_sim
          FROM e JOIN q ON e.vec_id <> q.qid),
        exact AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM xscored)
          WHERE rnk <= 5),
        cdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM cdims GROUP BY label, dim)
          GROUP BY label),
        probe AS (
          SELECT qid, qv, label AS probe_label FROM (
            SELECT q.qid, q.qv, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn = 1),
        ascored AS (
          SELECT p.qid, e.vec_id,
            ROUND(list_sum(list_transform(list_zip(p.qv, e.v), pr -> pr[1]*pr[2])) /
              (sqrt(list_sum(list_transform(p.qv, x -> x*x))) *
               sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cos_sim
          FROM e JOIN probe p
            ON e.label = p.probe_label AND e.vec_id <> p.qid),
        approx AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM ascored)
          WHERE rnk <= 5)
        SELECT x.qid, CAST(COUNT(a.qid) AS BIGINT) AS n_hits,
          CAST(COUNT(a.qid) AS DOUBLE) / 5 AS recall
        FROM exact x LEFT JOIN approx a
          ON x.qid = a.qid AND x.vec_id = a.vec_id
        GROUP BY x.qid
        ORDER BY x.qid""")),
    // ----------------------------------------------------------------
    Q(
      "s20_index_append",
      (s, dir) => {
        // Append a new batch (every 10th vector) into the index
        // layout trained on the REST (see [[indexAppend]]): nearest
        // existing cell + codes on the existing grid, no retraining.
        // The codes sequence ships as a scalar md5 digest (the
        // EtlParity repr-safe convention — the driver's comparator
        // hash-sorts cells, so no nested columns in oracle output);
        // [[indexAppend]] itself keeps the raw array for specs.
        val e = emb(s, dir)
        indexAppend(
            base = e.filter(col("vec_id") % 10 =!= 0),
            batch = e.filter(col("vec_id") % 10 === 0))
          .select(col("vec_id"), col("cell"),
            size(col("c")).as("n_dims"),
            md5(concat_ws(",", col("c").cast("array<string>")))
              .as("codes_digest"))
          .orderBy("vec_id")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        base AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
        batch AS (SELECT * FROM e WHERE vec_id % 10 = 0),
        cdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM base, unnest(list_transform(range(1, len(v) + 1),
                                           i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM cdims GROUP BY label, dim)
          GROUP BY label),
        gdims AS (
          SELECT CAST(u.i - 1 AS INT) AS dim, u.x AS x
          FROM base, unnest(list_transform(range(1, len(v) + 1),
                            i -> {'i': i, 'x': v[i]})) AS s(u)),
        stats AS (
          SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM gdims GROUP BY dim),
        grid AS (
          SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
          FROM stats),
        assigned AS (
          SELECT vec_id, v, cell FROM (
            SELECT b.vec_id, b.v, c.label AS cell,
              ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                (list_sum(list_transform(list_zip(b.v, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(b.v, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM batch b CROSS JOIN cent c) WHERE rn = 1)
        SELECT vec_id, cell,
          CAST(len(v) AS INT) AS n_dims,
          md5(array_to_string(
            list_transform(range(1, len(v) + 1), i ->
              CAST(LEAST(GREATEST(FLOOR(
                CASE WHEN his[i] = los[i] THEN 0.0
                ELSE (v[i] - los[i]) * 255.0 / (his[i] - los[i]) END
                + 0.5), 0.0), 255.0) AS INT)), ',')) AS codes_digest
        FROM assigned, grid
        ORDER BY vec_id""")),
    // ----------------------------------------------------------------
    Q(
      "s21_filtered_topk",
      (s, dir) => {
        // Pre-filtered search (see [[filteredTopk]]): top-5 among
        // vectors whose document is English — queries come from the
        // FULL corpus (a query needn't pass its own filter).
        val gate = Tables.load(s, dir, "documents")
          .filter(col("lang") === "en").select(col("doc_id"))
        filteredTopk(emb(s, dir), gate, k = 5)
      },
      Some("""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        gate AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        g AS (
          SELECT e.* FROM e
          WHERE EXISTS (SELECT 1 FROM gate WHERE gate.doc_id = e.vec_id)),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
        scored AS (
          SELECT q.qid, g.vec_id,
            ROUND(
              list_sum(list_transform(list_zip(q.qv, g.v), p -> p[1] * p[2])) /
              (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
               sqrt(list_sum(list_transform(g.v, x -> x * x)))), 6) AS cos_sim
          FROM g JOIN q ON g.vec_id <> q.qid)
        SELECT qid, vec_id, cos_sim, rnk FROM (
          SELECT qid, vec_id, cos_sim,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s22_recall_probes_curve",
      (s, dir) =>
        // The probes tuning curve (see [[annRecallCurve]]): recall@5
        // at probes ∈ {1,2,4,8} from ONE deepest-probe search pass.
        annRecallCurve(emb(s, dir), k = 5, probesList = Seq(1, 2, 4, 8)),
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        xscored AS (
          SELECT q.qid, e.vec_id,
            ROUND(
              list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2])) /
              (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
               sqrt(list_sum(list_transform(e.v, x -> x * x)))), 6) AS cos_sim
          FROM e JOIN q ON e.vec_id <> q.qid),
        exact AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM xscored)
          WHERE rnk <= 5),
        cdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM cdims GROUP BY label, dim)
          GROUP BY label),
        probe AS (
          SELECT qid, qv, label AS probe_label, rn AS probe_rn FROM (
            SELECT q.qid, q.qv, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn <= 8),
        ascored AS (
          SELECT p.qid, p.probe_rn, e.vec_id,
            ROUND(list_sum(list_transform(list_zip(p.qv, e.v), pr -> pr[1]*pr[2])) /
              (sqrt(list_sum(list_transform(p.qv, x -> x*x))) *
               sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cos_sim
          FROM e JOIN probe p
            ON e.label = p.probe_label AND e.vec_id <> p.qid),
        ps AS (SELECT unnest([1, 2, 4, 8]) AS probes),
        approx AS (
          SELECT probes, qid, vec_id FROM (
            SELECT ps.probes, a.qid, a.vec_id,
              ROW_NUMBER() OVER (PARTITION BY ps.probes, a.qid
                                 ORDER BY a.cos_sim DESC, a.vec_id) AS rnk
            FROM ascored a JOIN ps ON a.probe_rn <= ps.probes)
          WHERE rnk <= 5),
        exactp AS (
          SELECT ps.probes, x.qid, x.vec_id FROM exact x CROSS JOIN ps)
        SELECT x.probes, x.qid, CAST(COUNT(a.qid) AS BIGINT) AS n_hits,
          CAST(COUNT(a.qid) AS DOUBLE) / 5 AS recall
        FROM exactp x LEFT JOIN approx a
          ON x.probes = a.probes AND x.qid = a.qid AND x.vec_id = a.vec_id
        GROUP BY x.probes, x.qid
        ORDER BY x.probes, x.qid""")),
    // ----------------------------------------------------------------
    Q(
      "s23_tombstoned_topk",
      (s, dir) => {
        // DELETE without retraining — s20's append counterpart,
        // closing the index lifecycle: a tombstone set (every 9th
        // vector, the deletion delta) drops out of search WITHOUT
        // touching the trained layout — coarse centroids stay the
        // FULL base's (no retrain; exactly how a deployed index
        // absorbs deletions until compaction) and the dead ids are
        // removed by an anti-join gate on the candidate side BEFORE
        // ranking (s21's pre-filter discipline, negated), so the full
        // k survivors are guaranteed and a deleted vector can never
        // resurface. Scale: the gate is a vec_id anti-join
        // (broadcastable — deletion deltas are small); the search is
        // s03/s09's audited probe machinery unchanged.
        val e = emb(s, dir)
        val tomb = e.filter(col("vec_id") % 9 === 0)
          .select(col("vec_id").as("dead_id"))
        val live = e.join(broadcast(tomb),
          col("vec_id") === col("dead_id"), "left_anti")
        val queries = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        ivfTopk(live, queries, k = 5, probes = 2,
          centroidsOpt = Some(seedCentroids(e)))
          .orderBy("qid", "rnk")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        dims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM dims GROUP BY label, dim)
          GROUP BY label),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
        probe AS (
          SELECT qid, qv, label AS probe_label FROM (
            SELECT q.qid, q.qv, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn <= 2),
        scored AS (
          SELECT p.qid, p.probe_label, e.vec_id,
            ROUND(list_sum(list_transform(list_zip(p.qv, e.v), pr -> pr[1]*pr[2])) /
              (sqrt(list_sum(list_transform(p.qv, x -> x*x))) *
               sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cos_sim
          FROM e JOIN probe p
            ON e.label = p.probe_label AND e.vec_id <> p.qid
          WHERE e.vec_id % 9 <> 0)
        SELECT qid, probe_label, vec_id, cos_sim, rnk FROM (
          SELECT qid, probe_label, vec_id, cos_sim,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s24_compaction_manifest",
      (s, dir) => {
        // COMPACTION manifest — the decision artifact that closes the
        // s20→s23 lifecycle: per coarse cell, how much of the cell is
        // tombstoned (s23's deletion delta), the bytes a rewrite
        // reclaims (64 B per SQ8 code row, s13/s18's layout), and the
        // compact verdict at the standard 20% dead-fraction
        // threshold. A deployed index runs exactly this query to pick
        // which cells to rewrite — cells below threshold keep serving
        // with tombstones. One map-side-combining aggregate over
        // (vec_id, label); no vectors read.
        emb(s, dir)
          .groupBy(col("label").as("cell"))
          .agg(count(lit(1)).as("n_total"),
            count(when(col("vec_id") % 9 === 0, 1)).as("n_dead"))
          .select(col("cell"), col("n_total"), col("n_dead"),
            round(col("n_dead").cast("double") / col("n_total"), 6)
              .as("dead_frac"),
            (col("n_dead") * 64).as("bytes_reclaimed"),
            (col("n_dead").cast("double") / col("n_total") >= 0.2)
              .cast("int").as("compact"))
          .orderBy("cell")
      },
      Some("""
        SELECT label AS cell, COUNT(*) AS n_total,
          COUNT(CASE WHEN vec_id % 9 = 0 THEN 1 END) AS n_dead,
          ROUND(CAST(COUNT(CASE WHEN vec_id % 9 = 0 THEN 1 END) AS DOUBLE)
                / COUNT(*), 6) AS dead_frac,
          COUNT(CASE WHEN vec_id % 9 = 0 THEN 1 END) * 64
            AS bytes_reclaimed,
          CAST(CAST(COUNT(CASE WHEN vec_id % 9 = 0 THEN 1 END) AS DOUBLE)
               / COUNT(*) >= 0.2 AS INT) AS compact
        FROM embeddings
        GROUP BY label
        ORDER BY cell""")),
    // ----------------------------------------------------------------
    Q(
      "s25_compaction_execute",
      (s, dir) => {
        // EXECUTE s24's verdicts and search the result (see
        // [[compactionSearch]]): tombstoned codes physically dropped
        // from every ≥20%-dead cell, tombstones still gating the
        // rest, two-probe integer-SQ8 search over the rewritten
        // store. The oracle states the s23-style PURE tombstone-gated
        // search — no rewrite anywhere in it — so the hash match is
        // the proof that compaction execution lost nothing and
        // resurfaced nothing.
        // The deletion delta is LABEL-CORRELATED (every 9th vector
        // everywhere, plus every 5th in even-label cells): real
        // deletions cluster — a purged source, a recalled batch — and
        // that is exactly when compaction pays. It also makes the
        // oracle row exercise BOTH paths at every SF: even cells
        // cross the 20% verdict and get physically rewritten, odd
        // cells stay below it and keep serving through the
        // tombstone gate (a uniform %9 delta leaves every cell at
        // ~11% and the rewrite dormant).
        val (cent, codes) = ivfSq8TrainShared(s, dir, emb(s, dir))
        val tomb = emb(s, dir).filter(col("vec_id") % 9 === 0 ||
            (col("label") % 2 === 0 && col("vec_id") % 5 === 0))
          .select(col("vec_id").as("dead_id"))
        compactionSearch(emb(s, dir), cent, codes, tomb,
          k = 5, probes = 2)
          .orderBy("qid", "rnk")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        cdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM cdims GROUP BY label, dim)
          GROUP BY label),
        gdims AS (
          SELECT CAST(u.i - 1 AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        stats AS (
          SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM gdims GROUP BY dim),
        grid AS (
          SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
          FROM stats),
        codes AS (
          SELECT vec_id, label,
            list_transform(range(1, len(v) + 1), i ->
              CAST(FLOOR(CASE WHEN his[i] = los[i] THEN 0.0
                ELSE (v[i] - los[i]) * 255.0 / (his[i] - los[i]) END
                + 0.5) AS INT)) AS c
          FROM e, grid),
        vcells AS (
          SELECT label,
            CAST(CAST(COUNT(CASE WHEN vec_id % 9 = 0
                       OR (label % 2 = 0 AND vec_id % 5 = 0) THEN 1 END)
                      AS DOUBLE) / COUNT(*) >= 0.2 AS INT)
              AS cell_compacted
          FROM e GROUP BY label),
        ncc AS (
          SELECT CAST(SUM(cell_compacted) AS BIGINT) AS n_compact_cells
          FROM vcells),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
        probe AS (
          SELECT qid, label AS probe_label FROM (
            SELECT q.qid, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn <= 2),
        qc AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < 3),
        scored AS (
          SELECT p.qid, p.probe_label, k.vec_id,
            CAST(list_sum(list_transform(list_zip(qc.qc, k.c),
              pr -> CAST(pr[1] - pr[2] AS BIGINT)
                    * CAST(pr[1] - pr[2] AS BIGINT))) AS BIGINT) AS idist
          FROM codes k
          JOIN probe p ON k.label = p.probe_label AND k.vec_id <> p.qid
          JOIN qc ON qc.qid = p.qid
          WHERE NOT (k.vec_id % 9 = 0
                     OR (k.label % 2 = 0 AND k.vec_id % 5 = 0)))
        SELECT s.qid, s.probe_label, s.vec_id, s.idist, s.rnk,
          v.cell_compacted, ncc.n_compact_cells
        FROM (
          SELECT qid, probe_label, vec_id, idist,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY idist, vec_id) AS rnk
          FROM scored) s
        JOIN vcells v ON v.label = s.probe_label
        CROSS JOIN ncc
        WHERE s.rnk <= 5
        ORDER BY s.qid, s.rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s26_index_persistence",
      (s, dir) => {
        // SAVE/LOAD the index and search the RELOADED store (see
        // [[persistIndex]]): codes as cell-partitioned parquet,
        // centroids/grid beside them; the search is s18's, run
        // against what came back from disk — same oracle as s18, so
        // the hash match proves the round trip byte-lossless for
        // search purposes. The cell partitioning is the scale story:
        // the bounded probe fetch STATICALLY prunes the reloaded
        // scan (PartitionFilters IN, plan-pinned), so at 100 TB an
        // unprobed cell is a directory never opened.
        val root = persistIndex(s, dir)
        // explicit schemas (from the shared in-memory artifacts, a
        // memoized no-op here): an EMPTY corpus writes a store with
        // no parquet files, which must read back as empty, not fail
        // schema inference
        val (cent0, codes0) = ivfSq8TrainShared(s, dir, emb(s, dir))
        val codes = s.read.schema(codes0.schema).parquet(s"$root/codes")
        val cent = s.read.schema(cent0.schema)
          .parquet(s"$root/centroids")
        ivfSq8Search(emb(s, dir), cent, codes, k = 5)
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        cdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM cdims GROUP BY label, dim)
          GROUP BY label),
        gdims AS (
          SELECT CAST(u.i - 1 AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        stats AS (
          SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM gdims GROUP BY dim),
        grid AS (
          SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
          FROM stats),
        codes AS (
          SELECT vec_id, label,
            list_transform(range(1, len(v) + 1), i ->
              CAST(FLOOR(CASE WHEN his[i] = los[i] THEN 0.0
                ELSE (v[i] - los[i]) * 255.0 / (his[i] - los[i]) END
                + 0.5) AS INT)) AS c
          FROM e, grid),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
        probe AS (
          SELECT qid, label AS probe_label FROM (
            SELECT q.qid, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn = 1),
        qc AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < 3),
        scored AS (
          SELECT p.qid, p.probe_label, k.vec_id,
            CAST(list_sum(list_transform(list_zip(qc.qc, k.c),
              pr -> CAST(pr[1] - pr[2] AS BIGINT)
                    * CAST(pr[1] - pr[2] AS BIGINT))) AS BIGINT) AS idist
          FROM codes k
          JOIN probe p ON k.label = p.probe_label AND k.vec_id <> p.qid
          JOIN qc ON qc.qid = p.qid)
        SELECT qid, probe_label, vec_id, idist, rnk FROM (
          SELECT qid, probe_label, vec_id, idist,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY idist, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s27_refined_search",
      (s, dir) => {
        // Two-stage serve (see [[refinedSearch]]): 20 quantized
        // candidates from the 2-probe SQ8 scan, exact-cosine re-rank
        // to 5 — the refine step that buys back quantization error
        // with k-sized full-precision point reads.
        val (cent, codes) = ivfSq8TrainShared(s, dir, emb(s, dir))
        refinedSearch(emb(s, dir), cent, codes, kCand = 20, k = 5)
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        cdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM cdims GROUP BY label, dim)
          GROUP BY label),
        gdims AS (
          SELECT CAST(u.i - 1 AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        stats AS (
          SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM gdims GROUP BY dim),
        grid AS (
          SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
          FROM stats),
        codes AS (
          SELECT vec_id, label,
            list_transform(range(1, len(v) + 1), i ->
              CAST(FLOOR(CASE WHEN his[i] = los[i] THEN 0.0
                ELSE (v[i] - los[i]) * 255.0 / (his[i] - los[i]) END
                + 0.5) AS INT)) AS c
          FROM e, grid),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
        probe AS (
          SELECT qid, label AS probe_label FROM (
            SELECT q.qid, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn <= 2),
        qc AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < 3),
        scored AS (
          SELECT p.qid, k.vec_id,
            CAST(list_sum(list_transform(list_zip(qc.qc, k.c),
              pr -> CAST(pr[1] - pr[2] AS BIGINT)
                    * CAST(pr[1] - pr[2] AS BIGINT))) AS BIGINT) AS idist
          FROM codes k
          JOIN probe p ON k.label = p.probe_label AND k.vec_id <> p.qid
          JOIN qc ON qc.qid = p.qid),
        cand AS (
          SELECT qid, vec_id FROM (
            SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY idist, vec_id) AS crnk
            FROM scored)
          WHERE crnk <= 20),
        ref AS (
          SELECT c.qid, c.vec_id,
            ROUND(
              list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1]*p[2])) /
              (sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
               sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cos_sim
          FROM cand c
          JOIN e ON e.vec_id = c.vec_id
          JOIN q ON q.qid = c.qid)
        SELECT qid, vec_id, cos_sim, rnk FROM (
          SELECT qid, vec_id, cos_sim,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, vec_id) AS rnk
          FROM ref)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s28_matryoshka_curve",
      (s, dir) =>
        // Recall@10 at embedding prefix widths 8/16/32/64 (see
        // [[matryoshkaRecall]]): the dimension-truncation tuning
        // curve, ONE corpus pass for all cuts; the 64-wide row is a
        // built-in self-test (recall 1.0 vs its own ground truth).
        matryoshkaRecall(emb(s, dir), k = 10, cuts = Seq(8, 16, 32, 64)),
      Some("""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        cuts(dims) AS (VALUES (8), (16), (32), (64)),
        scored AS (
          SELECT c.dims, q.qid, e.vec_id,
            ROUND(
              list_sum(list_transform(
                list_zip(q.qv[1:c.dims], e.v[1:c.dims]),
                p -> p[1] * p[2])) /
              (sqrt(list_sum(list_transform(q.qv[1:c.dims],
                                            x -> x * x))) *
               sqrt(list_sum(list_transform(e.v[1:c.dims],
                                            x -> x * x)))), 6)
              AS cos_sim
          FROM e JOIN q ON e.vec_id <> q.qid CROSS JOIN cuts c),
        topk AS (
          SELECT dims, qid, vec_id FROM (
            SELECT dims, qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY dims, qid
                                 ORDER BY cos_sim DESC, vec_id) AS rnk
            FROM scored) WHERE rnk <= 10),
        truth AS (SELECT qid, vec_id FROM topk WHERE dims = 64)
        SELECT k.dims, k.qid, COUNT(t.vec_id) AS n_hits,
          CAST(COUNT(t.vec_id) AS DOUBLE) / 10 AS recall
        FROM topk k
        LEFT JOIN truth t ON k.qid = t.qid AND k.vec_id = t.vec_id
        GROUP BY k.dims, k.qid
        ORDER BY k.dims, k.qid""")),
    // ----------------------------------------------------------------
    Q(
      "s29_prototype_prune",
      (s, dir) =>
        // Sorscher-style data pruning (see [[prototypePrune]]): each
        // cluster drops its most prototypical quarter (highest
        // cosine to the centroid) and keeps the informative tail —
        // d12's complement; rank-only, no pairwise term.
        prototypePrune(emb(s, dir)),
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        dims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label AS cluster, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
                AS cx
            FROM dims GROUP BY label, dim)
          GROUP BY label),
        sims AS (
          SELECT e.vec_id, e.v, c.cluster,
            list_sum(list_transform(list_zip(e.v, c.cv),
                                    p -> p[1]*p[2])) /
            (sqrt(list_sum(list_transform(e.v, x -> x*x))) *
             sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS sim
          FROM e CROSS JOIN cent c),
        assign AS (
          SELECT vec_id, v, cluster FROM (
            SELECT vec_id, v, cluster,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cluster) AS rn
            FROM sims) WHERE rn = 1),
        ws AS (
          SELECT a.vec_id, a.cluster,
            ROUND(
              list_sum(list_transform(list_zip(a.v, c.cv),
                                      p -> p[1]*p[2])) /
              (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
               sqrt(list_sum(list_transform(c.cv, x -> x*x)))), 6)
              AS proto_sim
          FROM assign a JOIN cent c USING (cluster)),
        rk AS (
          SELECT vec_id, cluster, proto_sim,
            CAST(ROW_NUMBER() OVER (
              PARTITION BY cluster
              ORDER BY proto_sim DESC, vec_id) AS INT) AS rnk,
            COUNT(*) OVER (PARTITION BY cluster) AS n_cluster
          FROM ws)
        SELECT vec_id, cluster, proto_sim, rnk, n_cluster,
          CAST(rnk > n_cluster // 4 AS INT) AS is_kept
        FROM rk
        ORDER BY vec_id""")),
    // ----------------------------------------------------------------
    Q(
      "s30_kcenter_seeds",
      (s, dir) =>
        // Farthest-first k-center seeding (see [[kcenterSeeds]]):
        // Gonzalez's greedy 2-approximation picks 8 maximally
        // spread seeds plus the final coverage radius — the
        // deterministic k-means++-family initializer the Lloyd loop
        // (s05/s06) can start from instead of label means.
        kcenterSeeds(emb(s, dir), k = 8),
      Some(sqlKCenterUnrolled(8))),
    // ----------------------------------------------------------------
    Q(
      "s31_rrf_fusion",
      (s, dir) =>
        // Reciprocal Rank Fusion (see [[rrfFusion]]): the SQ8 and
        // sign-bit Hamming top-20 lists fused by Σ 1/(60+rank) into
        // a hybrid top-10 — agreement between code families beats a
        // high position in either one. SQ8 artifacts are the shared
        // per-session build.
        rrfFusionOf(
          sq8Search(sq8TrainShared(s, dir, emb(s, dir))._2, k = 20),
          bqTopk(emb(s, dir), k = 20), k = 10),
      Some("""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        dims AS (
          SELECT CAST(u.i - 1 AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        stats AS (
          SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM dims GROUP BY dim),
        grid AS (
          SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
          FROM stats),
        codes AS (
          SELECT vec_id,
            list_transform(range(1, len(v) + 1), i ->
              CAST(FLOOR(CASE WHEN his[i] = los[i] THEN 0.0
                ELSE (v[i] - los[i]) * 255.0 / (his[i] - los[i]) END
                + 0.5) AS INT)) AS c
          FROM e, grid),
        qs AS (SELECT vec_id AS qid, c AS qc FROM codes WHERE vec_id < 3),
        scored_s AS (
          SELECT qs.qid, k.vec_id,
            CAST(list_sum(list_transform(list_zip(qs.qc, k.c),
              p -> CAST(p[1] - p[2] AS BIGINT)
                   * CAST(p[1] - p[2] AS BIGINT))) AS BIGINT) AS idist
          FROM codes k, qs WHERE k.vec_id <> qs.qid),
        rk_s AS (
          SELECT qid, vec_id, rnk FROM (
            SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY idist, vec_id) AS rnk
            FROM scored_s)
          WHERE rnk <= 20),
        codes_b AS (
          SELECT vec_id,
            CAST(list_sum(list_transform(range(1, 33), i ->
              CASE WHEN v[i] > 0.0 THEN (1::BIGINT << (i - 1))
                   ELSE 0::BIGINT END)) AS BIGINT) AS w0,
            CAST(list_sum(list_transform(range(33, 65), i ->
              CASE WHEN v[i] > 0.0 THEN (1::BIGINT << (i - 33))
                   ELSE 0::BIGINT END)) AS BIGINT) AS w1
          FROM e),
        qb AS (
          SELECT vec_id AS qid, w0 AS q0, w1 AS q1
          FROM codes_b WHERE vec_id < 3),
        scored_b AS (
          SELECT qb.qid, c.vec_id,
            CAST(bit_count(CAST(xor(c.w0, qb.q0) AS BIT))
               + bit_count(CAST(xor(c.w1, qb.q1) AS BIT)) AS INT)
              AS hamming
          FROM codes_b c, qb WHERE c.vec_id <> qb.qid),
        rk_b AS (
          SELECT qid, vec_id, rnk FROM (
            SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY hamming, vec_id) AS rnk
            FROM scored_b)
          WHERE rnk <= 20),
        fused AS (
          SELECT COALESCE(a.qid, b.qid) AS qid,
            COALESCE(a.vec_id, b.vec_id) AS vec_id,
            CAST(a.rnk AS INT) AS rnk_sq8, CAST(b.rnk AS INT) AS rnk_bq,
            COALESCE(CAST(ROUND(1.0 / (60 + a.rnk), 6)
                          AS DECIMAL(18,6)), 0)
              + COALESCE(CAST(ROUND(1.0 / (60 + b.rnk), 6)
                              AS DECIMAL(18,6)), 0) AS rrf
          FROM rk_s a FULL JOIN rk_b b
            ON a.qid = b.qid AND a.vec_id = b.vec_id)
        SELECT qid, vec_id, rnk_sq8, rnk_bq,
          CAST(rrf AS DOUBLE) AS rrf_score, rnk
        FROM (
          SELECT *, CAST(ROW_NUMBER() OVER (
              PARTITION BY qid ORDER BY rrf DESC, vec_id) AS INT) AS rnk
          FROM fused)
        WHERE rnk <= 10
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s32_mips_topk",
      (s, dir) =>
        // Maximum-inner-product search (see [[mipsTopk]]): Spark ranks
        // by cosine over norm-augmented vectors; the oracle ranks by
        // the raw inner product with no augmentation — independent
        // restatements whose hash match proves the MIPS→cosine
        // reduction exact on the real corpus.
        mipsTopk(emb(s, dir), nq = 5, k = 5),
      Some("""
        WITH e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        scored AS (
          SELECT q.qid, e.vec_id,
            list_sum(list_transform(list_zip(q.qv, e.v),
                                    p -> p[1] * p[2])) AS ip
          FROM e JOIN q ON e.vec_id <> q.qid)
        SELECT qid, vec_id, ROUND(ip, 6) AS ip, rnk FROM (
          SELECT qid, vec_id, ip,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY ip DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s33_mips_ivf",
      (s, dir) => {
        // The INDEXED MIPS serve path: s32's lift feeds the existing
        // IVF operator UNCHANGED — corpus lifted to [x, √(M²−|x|²)],
        // queries to [q, 0], then [[ivfTopk]] exactly as cosine
        // search uses it (lifted per-label centroids, lifted-cosine
        // probe, in-cell lifted-cosine rank). Because every lifted
        // corpus vector has norm M, the in-cell order IS raw
        // inner-product order — and the oracle PROVES that: it ranks
        // the probed cell by the raw dot product while emitting the
        // lifted cosine, so the hash matches only if the index's
        // order and true MIPS order agree row for row.
        val e = emb(s, dir)
        val en = e.withColumn("n2", dot(col("v"), col("v")))
        val m2 = en.agg(max(col("n2")).as("m2"))
        val lifted = en.crossJoin(broadcast(m2))
          .select(col("vec_id"), col("label"),
            concat(col("v"), array(sqrt(col("m2") - col("n2"))))
              .as("v"))
        val queries = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"),
            concat(col("v"), array(lit(0.0d))).as("qv"))
        // rankUnrounded: the lifted cosine is ip/(|q'|·M) — a
        // monotone image of the raw inner product the oracle ranks
        // by, but only BEFORE the 6-dp round; ranking the rounded
        // value could collapse distinct ips into a tie and hand the
        // order to vec_id (ADVICE r14).
        ivfTopk(lifted, queries, k = 5, rankUnrounded = true)
          .orderBy("qid", "rnk")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        n2 AS (
          SELECT vec_id, label, v,
            list_sum(list_transform(v, x -> x * x)) AS n2
          FROM e),
        mx AS (SELECT MAX(n2) AS m2 FROM n2),
        le AS (
          SELECT vec_id, label, v,
            list_append(v, sqrt(mx.m2 - n2)) AS xa
          FROM n2, mx),
        dims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM le, unnest(list_transform(range(1, len(xa) + 1),
                          i -> {'i': i, 'x': xa[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
                AS cx
            FROM dims GROUP BY label, dim)
          GROUP BY label),
        q AS (
          SELECT vec_id AS qid, v AS qv,
            list_append(v, CAST(0.0 AS DOUBLE)) AS qa
          FROM e WHERE vec_id < 5),
        probe AS (
          SELECT qid, qv, qa, label AS probe_label FROM (
            SELECT q.qid, q.qv, q.qa, c.label,
              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                (list_sum(list_transform(list_zip(q.qa, c.cv),
                                         p -> p[1] * p[2])) /
                 (sqrt(list_sum(list_transform(q.qa, x -> x * x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x * x)))))
                DESC, c.label) AS rn
            FROM q CROSS JOIN cent c) WHERE rn = 1),
        scored AS (
          SELECT p.qid, p.probe_label, l.vec_id,
            ROUND(list_sum(list_transform(list_zip(p.qa, l.xa),
                                          pr -> pr[1] * pr[2])) /
              (sqrt(list_sum(list_transform(p.qa, x -> x * x))) *
               sqrt(list_sum(list_transform(l.xa, x -> x * x)))), 6)
              AS cos_sim,
            list_sum(list_transform(list_zip(p.qv, l.v),
                                    pr -> pr[1] * pr[2])) AS ip
          FROM le l JOIN probe p
            ON l.label = p.probe_label AND l.vec_id <> p.qid)
        SELECT qid, probe_label, vec_id, cos_sim, rnk FROM (
          SELECT qid, probe_label, vec_id, cos_sim,
            ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY ip DESC, vec_id) AS rnk
          FROM scored)
        WHERE rnk <= 5
        ORDER BY qid, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "s34_index_drift",
      (s, dir) => {
        // Drift monitor (see [[indexDrift]]): per-cell occupancy
        // shift + out-of-box coordinate saturation of the CDC-drifted
        // corpus under the FROZEN artifacts, reduced to an integer
        // retrain verdict -- s24's audit discipline applied to the
        // artifacts themselves. Artifacts are the shared per-session
        // builds (trained on the ORIGINAL corpus, as deployed).
        val (cent, _) = ivfSq8TrainShared(s, dir, emb(s, dir))
        val (params, _) = sq8TrainShared(s, dir, emb(s, dir))
        indexDrift(emb(s, dir), cent, params)
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE embedding IS NOT NULL),
        cdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM cdims GROUP BY label, dim)
          GROUP BY label),
        gdims AS (
          SELECT CAST(u.i - 1 AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        stats AS (
          SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM gdims GROUP BY dim),
        grid AS (
          SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
          FROM stats),
        eff AS (
          SELECT vec_id,
            CASE WHEN vec_id % 7 = 0
                 THEN list_transform(v, x -> -x) ELSE v END AS v
          FROM e WHERE vec_id % 9 <> 0),
        at AS (
          SELECT vec_id, cell FROM (
            SELECT f.vec_id, c.label AS cell,
              ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
                (list_sum(list_transform(list_zip(f.v, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(f.v, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM e f CROSS JOIN cent c) WHERE rn = 1),
        an AS (
          SELECT vec_id, cell FROM (
            SELECT f.vec_id, c.label AS cell,
              ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
                (list_sum(list_transform(list_zip(f.v, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(f.v, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM eff f CROSS JOIN cent c) WHERE rn = 1),
        occt AS (SELECT cell, COUNT(*) AS n_train FROM at GROUP BY cell),
        occn AS (SELECT cell, COUNT(*) AS n_now FROM an GROUP BY cell),
        nt AS (SELECT COUNT(*) AS n_tot_train FROM e),
        nn AS (SELECT COUNT(*) AS n_tot_now FROM eff),
        sat AS (
          SELECT
            COALESCE(SUM(list_sum(list_transform(range(1, len(v) + 1),
              i -> CASE WHEN v[i] < los[i] OR v[i] > his[i]
                   THEN 1 ELSE 0 END))), 0) AS sat_coords,
            COALESCE(SUM(len(v)), 0) AS n_coords
          FROM eff, grid),
        satp AS (
          SELECT CAST(sat_coords AS BIGINT) AS sat_coords,
            CAST((1000000 * sat_coords) // nullif(n_coords, 0) AS BIGINT)
              AS sat_ppm
          FROM sat),
        cells AS (
          SELECT COALESCE(t.cell, n.cell) AS cell,
            CAST(COALESCE(t.n_train, 0) AS BIGINT) AS n_train,
            CAST(COALESCE(n.n_now, 0) AS BIGINT) AS n_now
          FROM occt t FULL JOIN occn n ON t.cell = n.cell),
        cd AS (
          SELECT cell, n_train, n_now,
            CAST((1000000 * abs(n_now * n_tot_train - n_train * n_tot_now))
                 // nullif(n_tot_train * n_tot_now, 0) AS BIGINT)
              AS occ_drift_ppm
          FROM cells, nt, nn),
        mx AS (
          SELECT CAST(COALESCE(MAX(occ_drift_ppm), 0) AS BIGINT)
            AS max_occ_drift_ppm FROM cd)
        SELECT cell, n_train, n_now, occ_drift_ppm, sat_ppm,
          max_occ_drift_ppm,
          CAST(sat_ppm >= 1000 OR max_occ_drift_ppm >= 50000 AS INT)
            AS retrain
        FROM cd, satp, mx
        ORDER BY cell""")),
    // ----------------------------------------------------------------
    Q(
      "s35_drift_rebuild",
      (s, dir) => {
        // Triggered rebuild (see [[driftRebuild]]): s34's verdict
        // fires a re-derivation of centroids + grid from the CURRENT
        // corpus, and the report shows frozen vs rebuilt occupancy
        // and saturation side by side -- the hash proves the rebuild
        // clears the drift (sat_ppm_rebuilt = 0 by construction of
        // the new box, checked, not assumed).
        val (cent, _) = ivfSq8TrainShared(s, dir, emb(s, dir))
        val (params, _) = sq8TrainShared(s, dir, emb(s, dir))
        driftRebuild(emb(s, dir), cent, params)
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings WHERE embedding IS NOT NULL),
        cdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                                        i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM cdims GROUP BY label, dim)
          GROUP BY label),
        gdims AS (
          SELECT CAST(u.i - 1 AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        stats AS (
          SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM gdims GROUP BY dim),
        grid AS (
          SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
          FROM stats),
        eff AS (
          SELECT vec_id, label,
            CASE WHEN vec_id % 7 = 0
                 THEN list_transform(v, x -> -x) ELSE v END AS v
          FROM e WHERE vec_id % 9 <> 0),
        at AS (
          SELECT vec_id, cell FROM (
            SELECT f.vec_id, c.label AS cell,
              ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
                (list_sum(list_transform(list_zip(f.v, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(f.v, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM e f CROSS JOIN cent c) WHERE rn = 1),
        an AS (
          SELECT vec_id, cell FROM (
            SELECT f.vec_id, c.label AS cell,
              ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
                (list_sum(list_transform(list_zip(f.v, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(f.v, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM eff f CROSS JOIN cent c) WHERE rn = 1),
        occt AS (SELECT cell, COUNT(*) AS n_train FROM at GROUP BY cell),
        occn AS (SELECT cell, COUNT(*) AS n_now FROM an GROUP BY cell),
        nt AS (SELECT COUNT(*) AS n_tot_train FROM e),
        nn AS (SELECT COUNT(*) AS n_tot_now FROM eff),
        sat AS (
          SELECT
            COALESCE(SUM(list_sum(list_transform(range(1, len(v) + 1),
              i -> CASE WHEN v[i] < los[i] OR v[i] > his[i]
                   THEN 1 ELSE 0 END))), 0) AS sat_coords,
            COALESCE(SUM(len(v)), 0) AS n_coords
          FROM eff, grid),
        satp AS (
          SELECT CAST((1000000 * sat_coords) // nullif(n_coords, 0)
            AS BIGINT) AS sat_ppm
          FROM sat),
        cells AS (
          SELECT COALESCE(t.cell, n.cell) AS cell,
            CAST(COALESCE(t.n_train, 0) AS BIGINT) AS n_train,
            CAST(COALESCE(n.n_now, 0) AS BIGINT) AS n_now
          FROM occt t FULL JOIN occn n ON t.cell = n.cell),
        cd AS (
          SELECT cell, n_train, n_now,
            CAST((1000000 * abs(n_now * n_tot_train - n_train * n_tot_now))
                 // nullif(n_tot_train * n_tot_now, 0) AS BIGINT)
              AS occ_drift_ppm
          FROM cells, nt, nn),
        mx AS (
          SELECT CAST(COALESCE(MAX(occ_drift_ppm), 0) AS BIGINT)
            AS max_occ_drift_ppm FROM cd),
        -- rebuilt artifacts: label means + min/max box of eff
        rdims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM eff, unnest(list_transform(range(1, len(v) + 1),
                           i -> {'i': i, 'x': v[i]})) AS s(u)),
        rcent AS (
          SELECT label, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM rdims GROUP BY label, dim)
          GROUP BY label),
        rstats AS (
          SELECT CAST(u.i - 1 AS INT) AS dim, MIN(u.x) AS lo, MAX(u.x) AS hi
          FROM eff, unnest(list_transform(range(1, len(v) + 1),
                           i -> {'i': i, 'x': v[i]})) AS s(u)
          GROUP BY 1),
        rgrid AS (
          SELECT list(lo ORDER BY dim) AS los, list(hi ORDER BY dim) AS his
          FROM rstats),
        ar AS (
          SELECT vec_id, cell FROM (
            SELECT f.vec_id, c.label AS cell,
              ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
                (list_sum(list_transform(list_zip(f.v, c.cv), p -> p[1]*p[2])) /
                 (sqrt(list_sum(list_transform(f.v, x -> x*x))) *
                  sqrt(list_sum(list_transform(c.cv, x -> x*x))))) DESC,
                c.label) AS rn
            FROM eff f CROSS JOIN rcent c) WHERE rn = 1),
        occr AS (SELECT cell, COUNT(*) AS n_rebuilt FROM ar GROUP BY cell),
        rsat AS (
          SELECT
            COALESCE(SUM(list_sum(list_transform(range(1, len(v) + 1),
              i -> CASE WHEN v[i] < los[i] OR v[i] > his[i]
                   THEN 1 ELSE 0 END))), 0) AS sat_coords_new,
            COALESCE(SUM(len(v)), 0) AS n_coords_new
          FROM eff, rgrid),
        rsatp AS (
          SELECT CAST((1000000 * sat_coords_new)
                      // nullif(n_coords_new, 0) AS BIGINT)
            AS sat_ppm_rebuilt
          FROM rsat)
        SELECT cd.cell, cd.n_train, cd.n_now,
          CAST(COALESCE(occr.n_rebuilt, 0) AS BIGINT) AS n_rebuilt,
          cd.occ_drift_ppm, satp.sat_ppm, rsatp.sat_ppm_rebuilt,
          CAST(satp.sat_ppm >= 1000 OR mx.max_occ_drift_ppm >= 50000
            AS INT) AS retrain,
          CASE WHEN satp.sat_ppm >= 1000 OR mx.max_occ_drift_ppm >= 50000
               THEN CAST(COALESCE(occr.n_rebuilt, 0) AS BIGINT)
               ELSE cd.n_now END AS serving_n,
          CASE WHEN satp.sat_ppm >= 1000 OR mx.max_occ_drift_ppm >= 50000
               THEN rsatp.sat_ppm_rebuilt
               ELSE satp.sat_ppm END AS serving_sat_ppm
        FROM cd LEFT JOIN occr ON cd.cell = occr.cell, satp, mx, rsatp
        ORDER BY cd.cell""")),
    // ----------------------------------------------------------------
    Q(
      "s36_mmr_rerank",
      (s, dir) =>
        // Diversity-aware serving (see [[mmrRerank]]): query 0's
        // top-20 cosine candidates greedily re-ranked to 8 by
        // MMR (lambda = 0.7, mu = 0.3) -- relevance traded against
        // redundancy with the already-returned results, the step a
        // retrieval endpoint runs between ANN search and the user.
        mmrRerank(emb(s, dir), kCand = 20, k = 8,
          lam = 0.7, mu = 0.3),
      Some(sqlMmrUnrolled(kCand = 20, k = 8, lam = 0.7, mu = 0.3))),
    // ------------------------------------------------------------------
    Q(
      "s37_pca_project",
      (s, dir) =>
        // Top-principal-component projection (see [[pcaProject]]):
        // the "all-but-the-top" embedding post-processing — each
        // vector's score along the corpus' dominant direction plus
        // the norm of what remains after removing it.
        pcaProject(emb(s, dir)),
      Some(sqlPcaUnrolled(dims = 64, iters = 20))),
    // ------------------------------------------------------------------
    Q(
      "s38_abtt_topk",
      (s, dir) =>
        // Retrieval in the all-but-the-top space (see [[abttTopk]]):
        // s01's cosine top-k re-run on s37's residual vectors — the
        // serving side of common-component removal.
        abttTopk(emb(s, dir), k = 5, nq = 5),
      Some(sqlAbttTopk(dims = 64, iters = 20, k = 5, nq = 5)))
  )

  /** All-but-the-top retrieval (s38) — the SERVING consequence of
    * s37: retrieval quality improves when the corpus' dominant common
    * direction (which inflates every pairwise cosine without
    * discriminating) is removed before ranking. Each vector becomes
    * its centered residual r = c − (c·v₁)v₁ in one map-only pass
    * under the broadcast (mean, v₁) literals, then s01's exact
    * machinery runs unchanged: per-side norms precomputed, query side
    * broadcast, one corpus pass, a per-query top-k window. Cost over
    * s01 is [[pcaAxis]] (two bounded-output passes) plus nothing —
    * the residual transform fuses into the scan projection.
    */
  def abttTopk(e: DataFrame, k: Int, nq: Int, dims: Int = 64,
      iters: Int = 20): DataFrame = {
    val s = e.sparkSession
    val rows = e.filter(col("v").isNotNull)
    val n = rows.count()
    val (m, v1) =
      if (n == 0L) (Array.fill(dims)(0.0),
        Array.tabulate(dims)(i => if (i == 0) 1.0 else 0.0))
      else pcaAxis(rows, n, dims, iters)
    val r = rows
      .withColumn("m", typedLit(m.toSeq))
      .withColumn("pc", typedLit(v1.toSeq))
      .withColumn("cvec", expr("zip_with(v, m, (a, b) -> a - b)"))
      .withColumn("pc1", dot(col("cvec"), col("pc")))
      .select(col("vec_id"),
        expr("zip_with(cvec, pc, (a, b) -> a - pc1 * b)").as("r"))
      .withColumn("nrm", sqrt(dot(col("r"), col("r"))))
    val queries = r.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("r").as("qr"),
        col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_resid").desc, col("vec_id"))
    r.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(dot(col("qr"), col("r")) / (col("qnrm") * col("nrm")), 6)
          .as("cos_resid"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  /** The s38 oracle: [[sqlPcaChain]]'s mean/axis, the residual
    * transform, and s01's ranking restatement.
    */
  private[graft] def sqlAbttTopk(dims: Int, iters: Int, k: Int,
      nq: Int): String =
    s"""
      WITH ${sqlPcaChain(dims, iters)},
      cent AS (
        SELECT e.vec_id,
          list_transform(range(1, ${dims + 1}),
            i -> e.v[i] - mean.m[i]) AS c
        FROM e, mean),
      sc AS (
        SELECT vec_id, c,
          list_sum(list_transform(
            list_zip(c, (SELECT v FROM v$iters)),
            p -> p[1] * p[2])) AS pc1
        FROM cent),
      rr AS MATERIALIZED (
        SELECT vec_id,
          list_transform(list_zip(c, (SELECT v FROM v$iters)),
            p -> p[1] - pc1 * p[2]) AS r
        FROM sc),
      q AS (SELECT vec_id AS qid, r AS qr FROM rr WHERE vec_id < $nq),
      scored AS (
        SELECT q.qid, rr.vec_id,
          ROUND(
            list_sum(list_transform(list_zip(q.qr, rr.r),
              p -> p[1] * p[2])) /
            (sqrt(list_sum(list_transform(q.qr, x -> x * x))) *
             sqrt(list_sum(list_transform(rr.r, x -> x * x)))), 6)
            AS cos_resid
        FROM rr JOIN q ON rr.vec_id <> q.qid)
      SELECT qid, vec_id, cos_resid, rnk FROM (
        SELECT qid, vec_id, cos_resid,
          ROW_NUMBER() OVER (PARTITION BY qid
                             ORDER BY cos_resid DESC, vec_id) AS rnk
        FROM scored)
      WHERE rnk <= $k
      ORDER BY qid, rnk"""

  /** Top-principal-component projection (s37) — the embedding
    * post-processing step behind "all-but-the-top" / SIF-style
    * common-component removal: the corpus' dominant variance
    * direction is found by 20 power-iteration steps on the exact
    * covariance, and every vector ships its score along it (pc1)
    * plus the L2 norm of its residual after that component is
    * removed.
    *
    * Scale shape — two corpus passes and a map-only apply:
    *  1. per-dim means: one posexplode + (dim)-keyed aggregate over
    *     exact DECIMAL sums (the seedCentroids discipline), dims
    *     rows fetched;
    *  2. covariance: each row folds its dims² centered products
    *     through a Generate feeding a PARTIAL aggregate — the
    *     combine happens before the exchange, so the shuffle carries
    *     ≤ dims² rows per task, never corpus rows; dims² = 4096 rows
    *     fetched (the t11 bounded-fetch convention);
    *  3. the 64×64 power iteration runs on the driver in
    *     microseconds, and the resulting (mean, direction) literals
    *     broadcast into a pure per-row projection.
    * The oracle restates ALL of it — decimal mean/covariance sums
    * and the 20 iterations unrolled as generated CTEs with the same
    * left-to-right index-order FP folds ([[sqlPcaUnrolled]]) — so
    * the hash match proves the distributed covariance and the
    * driver-side eigensolve bit-agree with the single-node
    * restatement.
    *
    * v₀ = e₁ with a norm-0 guard: a covariance that annihilates e₁
    * keeps v at e₁ (stated identically in the oracle); real
    * embedding covariances are dense, so the guard is never the
    * steady state.
    */
  def pcaProject(e: DataFrame, dims: Int = 64,
      iters: Int = 20): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val rows = e.filter(col("v").isNotNull)
    val n = rows.count()
    if (n == 0L)
      return Seq.empty[(Long, Double, Double)]
        .toDF("vec_id", "pc1", "resid_norm")
    val (m, v) = pcaAxis(rows, n, dims, iters)
    val mcol = typedLit(m.toSeq)
    rows.withColumn("m", mcol).withColumn("pc", typedLit(v.toSeq))
      .withColumn("cvec", expr("zip_with(v, m, (a, b) -> a - b)"))
      .withColumn("pc1", dot(col("cvec"), col("pc")))
      .select(col("vec_id"), round(col("pc1"), 6).as("pc1"),
        round(sqrt(expr(
          """aggregate(zip_with(cvec, pc, (a, b) -> a - pc1 * b),
               cast(0.0 as double), (acc, x) -> acc + x * x)""")), 6)
          .as("resid_norm"))
      .orderBy("vec_id")
  }

  /** (mean, top-eigenvector) of a (vec_id, v) frame — the shared
    * machinery of s37/s38. `rows` must be pre-filtered non-null and
    * `n` its count.
    */
  private[graft] def pcaAxis(rows: DataFrame, n: Long, dims: Int,
      iters: Int): (Array[Double], Array[Double]) = {
    val s = rows.sparkSession
    // One bounded pass yields both the per-dim mean AND the global
    // |x| bound (the extra max is free — same shuffle, same groups).
    val mRows = rows
      .select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg((sum(col("x").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("mx"),
        max(abs(col("x"))).as("ax"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val m: Array[Double] = mRows.map(_._2)
    val maxAbsX: Double =
      if (mRows.isEmpty) 0.0 else mRows.map(_._3).max
    val mcol = typedLit(m.toSeq)
    // The covariance fold multiplies each row's work by dims², so a
    // small input (one parquet block → ONE partition) would run the
    // whole corpus single-threaded. Fan out ONLY when the scan gives
    // fewer splits than cores — at real scale maxPartitionBytes
    // already yields thousands of partitions and no shuffle happens.
    val par = s.sparkContext.defaultParallelism
    val spread = if (rows.rdd.getNumPartitions < par)
      rows.repartition(par) else rows
    // Center once per row, then the outer product runs as the native
    // codegen'd [[graft.functions.OuterProduct]] (the HOF form pays
    // dims² interpreted lambda dispatches per row) — position
    // pos = i*dims + j carries the matrix coordinates through the
    // one bounded aggregation.
    // decimal(18,12) keeps Spark's compact-long Decimal fast path on
    // the dims²-per-row hot aggregation, but with ANSI off a cast of
    // any |product| ≥ 10⁶ silently becomes NULL and DROPS from the
    // covariance sum — a data-dependent divergence from the oracle's
    // DECIMAL(28,12). Precision only bounds range (scale-12 rounding
    // is identical), so pick the width from the PROVEN bound:
    // |centered| ≤ max|x| + max|m|, product ≤ bound². Falls back to
    // the wide (slower, never-nulling) type instead of corrupting.
    val centeredBound = maxAbsX + (if (m.isEmpty) 0.0 else m.map(math.abs).max)
    val prodDec =
      if (centeredBound * centeredBound < 1e6) "decimal(18,12)"
      else "decimal(28,12)"
    val cRows = spread
      .withColumn("m", mcol)
      .withColumn("cv", expr("zip_with(v, m, (a, b) -> a - b)"))
      .select(posexplode(VectorExpressions.outer(col("cv")))
        .as(Seq("pos", "p")))
      .groupBy("pos")
      .agg(sum(col("p").cast(prodDec)).as("sp"))
      .collect()
    val c = Array.ofDim[Double](dims, dims)
    cRows.foreach { r =>
      val pos = r.getInt(0)
      c(pos / dims)(pos % dims) = r.getDecimal(1).doubleValue / n
    }
    // Power iteration — left-to-right index-order folds, the same
    // order the oracle's list_sum walks.
    var v = Array.tabulate(dims)(i => if (i == 0) 1.0 else 0.0)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dims) { i =>
        var acc = 0.0
        var j = 0
        while (j < dims) { acc += c(i)(j) * v(j); j += 1 }
        acc
      }
      var nr = 0.0
      var i = 0
      while (i < dims) { nr += w(i) * w(i); i += 1 }
      val nrm = math.sqrt(nr)
      if (nrm != 0.0) v = w.map(_ / nrm)
    }
    (m, v)
  }

  /** The s37 oracle: decimal mean/covariance sums plus the power
    * iteration unrolled as `iters` generated CTE pairs — every dot
    * product a list_sum over an index-ordered zip, matching the
    * Spark side's fold order exactly.
    */
  private[graft] def sqlPcaUnrolled(dims: Int, iters: Int): String =
    s"""
      WITH ${sqlPcaChain(dims, iters)},
      cent AS (
        SELECT e.vec_id,
          list_transform(range(1, ${dims + 1}),
            i -> e.v[i] - mean.m[i]) AS c
        FROM e, mean),
      sc AS (
        SELECT vec_id, c,
          list_sum(list_transform(
            list_zip(c, (SELECT v FROM v$iters)),
            p -> p[1] * p[2])) AS pc1
        FROM cent)
      SELECT vec_id, ROUND(pc1, 6) AS pc1,
        ROUND(sqrt(list_sum(list_transform(
          list_zip(c, (SELECT v FROM v$iters)),
          p -> (p[1] - pc1 * p[2]) * (p[1] - pc1 * p[2])))), 6)
          AS resid_norm
      FROM sc ORDER BY vec_id"""

  /** The shared PCA CTE chain (s37/s38 oracles): `e` (non-null
    * doubles), `mean`, `cmat`, and v0..v`iters` of the unrolled power
    * iteration.
    */
  private[graft] def sqlPcaChain(dims: Int, iters: Int): String = {
    // MATERIALIZED is load-bearing: v$k references v${k-1} twice, so
    // DuckDB's default CTE inlining would expand the chain 2^iters
    // times (and re-open the parquet at every leaf).
    val steps = (1 to iters).map { k =>
      s"""w$k AS MATERIALIZED (
        SELECT list_transform(C, row ->
          list_sum(list_transform(list_zip(row, v),
            p -> p[1] * p[2]))) AS w
        FROM cmat, v${k - 1}),
      v$k AS MATERIALIZED (
        SELECT CASE WHEN nrm = 0 THEN (SELECT v FROM v${k - 1})
               ELSE list_transform(w, x -> x / nrm) END AS v
        FROM (SELECT w,
                sqrt(list_sum(list_transform(w, x -> x * x))) AS nrm
              FROM w$k))"""
    }.mkString(",\n        ")
    s"""e AS MATERIALIZED (
        SELECT vec_id,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      nn AS (SELECT COUNT(*) AS n FROM e),
      dimx AS (
        SELECT CAST(u.i AS INT) - 1 AS dim, u.x AS x
        FROM e, unnest(list_transform(range(1, len(v) + 1),
                       i -> {'i': i, 'x': v[i]})) AS s(u)),
      mean AS MATERIALIZED (
        SELECT list(mx ORDER BY dim) AS m FROM (
          SELECT dim,
            CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
              AS mx
          FROM dimx GROUP BY dim)),
      prods AS (
        SELECT ij.i AS i, ij.j AS j,
          (e.v[ij.i + 1] - mean.m[ij.i + 1]) *
          (e.v[ij.j + 1] - mean.m[ij.j + 1]) AS p
        FROM e, mean,
          (SELECT a.ii AS i, b.jj AS j
           FROM unnest(range(0, $dims)) AS a(ii),
                unnest(range(0, $dims)) AS b(jj)) ij),
      cmat AS MATERIALIZED (
        SELECT list(rowl ORDER BY i) AS C FROM (
          SELECT i, list(CAST(sp AS DOUBLE) / (SELECT n FROM nn)
                         ORDER BY j) AS rowl
          FROM (SELECT i, j, SUM(CAST(p AS DECIMAL(28,12))) AS sp
                FROM prods GROUP BY i, j)
          GROUP BY i)),
      v0 AS (SELECT list_transform(range(0, $dims),
               i -> CASE WHEN i = 0 THEN 1.0 ELSE 0.0 END) AS v),
      $steps"""
  }
}
