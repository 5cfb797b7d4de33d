package graft.ops

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  test("brute-force cosine top-k ranks the aligned vector first") {
    val sparkS = spark
    import sparkS.implicits._
    val df = Seq(
      (0L, 0, Seq(1f, 0f, 0f, 0f)),
      (1L, 0, Seq(0.9f, 0.1f, 0f, 0f)), // nearly aligned with 0
      (2L, 0, Seq(0f, 1f, 0f, 0f)), // orthogonal
      (3L, 0, Seq(-1f, 0f, 0f, 0f))) // opposite
      .toDF("vec_id", "label", "embedding")
    df.createOrReplaceTempView("tiny_emb")

    import org.apache.spark.sql.functions._
    val e = df.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = e.join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        Similarity.cosine(col("qv"), col("v")).as("cos"))
      .orderBy(col("cos").desc)
      .collect()
    assert(scored.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(scored.head.getDouble(2) > 0.99)
    assert(math.abs(scored(1).getDouble(2)) < 1e-12) // orthogonal ⇒ 0
    assert(scored(2).getDouble(2) < -0.99) // opposite ⇒ -1
  }

  test("s01/s03 run end-to-end on the testdata and return k rows per query") {
    val s01 = SparkEntry_queries("s01_cosine_topk")
    assert(s01.groupBy("qid").count().collect().forall(_.getLong(1) == 5))
    val s03 = SparkEntry_queries("s03_ivf_topk")
    assert(s03.select("qid").distinct().count() == 5)
  }

  private def SparkEntry_queries(name: String) =
    graft.SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")

  test("s15 range search: cell pruning skips far clusters, result stays exact") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // 3 tight clusters around near-orthogonal directions in R^64.
    def base(c: Int): Seq[Double] =
      (0 until 64).map(d => if (d / 8 == c) 1.0 else 0.01)
    val rows = for (c <- Seq(0, 3, 7); i <- 0 until 10)
      yield ((c * 100 + i).toLong, c,
        base(c).zipWithIndex.map { case (x, d) => x + 0.001 * ((i + d) % 5) })
    val e = rows.toDF("vec_id", "label", "v")
    val queries = e.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        sqrt(Similarity.dot(col("v"), col("v"))).as("qnrm"))
    // the triangle-inequality bound proves the two FAR cells empty
    val kept = Similarity.rangeKeptCells(e, queries, minCosine = 0.8)
      .select("klabel").collect().map(_.getInt(0)).toSet
    assert(kept == Set(0), s"expected only the query's cluster kept: $kept")
    // ...and the pruned result equals the unpruned brute force
    val brute = e.join(queries, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(Similarity.cosine(col("qv"), col("v")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val got = Similarity.rangeSearch(e, queries, minCosine = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == brute && got.nonEmpty, (got, brute))
    assert(got.forall(_._2 < 100), "matches must come from cluster 0")
  }

  test("s16 MaxSim: sub-vector permutation scores full marks where pooled cosine cannot") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    def pat(k: Int): Seq[Double] =
      (0 until 16).map(d => if (d == k) 1.0 else 0.05)
    val (a, b, c, d) = (pat(0), pat(3), pat(7), pat(11))
    val q = a ++ b ++ c ++ d
    val rows = Seq(
      (0L, 0, q), // the query itself (excluded from its results)
      (1L, 0, d ++ c ++ b ++ a), // same subs, PERMUTED
      (2L, 0, a ++ b ++ pat(13) ++ pat(14)), // half the subs match
      (3L, 0, pat(2) ++ pat(5) ++ pat(9) ++ pat(12))) // none match
    val e = rows.toDF("vec_id", "label", "v")
    val queries = e.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val got = Similarity.maxSimTopk(e, queries, subs = 4, k = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // permuted doc: every query sub finds its identical counterpart
    // -> exactly 4 x cos 1.0; a POOLED cosine of the same pair is far
    // from 1 (the averaging late interaction exists to avoid)
    assert(got.head == ((1L, 4.0, 1)), got.toSeq)
    val pooled = e.filter(col("vec_id") === 1L)
      .join(queries)
      .select(Similarity.cosine(col("qv"), col("v")))
      .head().getDouble(0)
    assert(pooled < 0.9, s"pooled cosine should blur the permutation: $pooled")
    // half-match ranks above no-match, with a score near 2
    assert(got(1)._1 == 2L && got(1)._2 > 1.9 && got(1)._2 < 3.0, got.toSeq)
    assert(got(2)._1 == 3L && got(2)._2 < 1.0, got.toSeq)
  }

  test("s17 refine: exact re-rank fixes orderings the 1-bit codes cannot see") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // Query 0 and two docs in the SAME orthant (identical sign bits,
    // Hamming 0 to the query for both): doc 5 is magnitude-skewed
    // (lower cosine), doc 10 is nearly aligned. The Hamming layer must
    // tie them (tie-break puts 5 first — the wrong answer); the exact
    // refine must put 10 first.
    val q = (0 until 64).map(i => if (i % 2 == 0) 1.0 else -1.0)
    val near = q.zipWithIndex.map { case (x, i) => x * (1.0 + 0.001 * i) }
    val skew = q.zipWithIndex.map { case (x, i) =>
      x * (if (i < 32) 5.0 else 0.2) }
    val far = q.map(-_) // opposite orthant: Hamming 64
    val e = Seq((0L, 0, q), (5L, 0, skew), (10L, 0, near), (20L, 0, far))
      .toDF("vec_id", "label", "v")
    val bq = Similarity.bqTopk(e, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(bq.take(2).map(_._2).toSeq == Seq(5L, 10L),
      s"premise: Hamming ties, id tie-break -> 5 first: ${bq.toSeq}")
    val refined = Similarity.bqRefinedTopk(e, shortlist = 3, k = 3)
      .filter(col("qid") === 0L).collect()
      .map(r => (r.getLong(1), r.getInt(3)))
    assert(refined.toSeq == Seq((10L, 1), (5L, 2), (20L, 3)),
      refined.toSeq)
  }

  test("s27 refined search: exact re-rank restores the cosine order " +
      "the integer SQ8 distance inverts") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // Doc 5 is the query SCALED ×5: cosine exactly 1.0 but L2-far, so
    // the SQ8 integer stage must rank it behind the L2-near doc 10 —
    // the inversion only the full-precision refine can fix.
    val q = (0 until 64).map(i => if (i % 2 == 0) 1.0 else -1.0)
    val scaled = q.map(_ * 5.0)
    val near = q.zipWithIndex.map { case (x, i) => x * (1.0 + 0.001 * i) }
    val far = q.map(-_)
    val e = Seq((0L, 0, q), (5L, 0, scaled), (10L, 0, near), (20L, 0, far))
      .toDF("vec_id", "label", "v")
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (cent, codes) = Similarity.ivfSq8Train(e)
    // The build pins exactly the two checkpoints it returns.
    def root(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id
    assert(spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore ==
      Set(root(cent), root(codes)))
    val quant = Similarity.ivfSq8Search(e, cent, codes, k = 3)
      .filter(col("qid") === 0L).collect().map(_.getLong(2))
    assert(quant.head == 10L && quant.last == 5L,
      s"premise: SQ8 puts the scaled doc last: ${quant.toSeq}")
    val got = Similarity.refinedSearch(e, cent, codes, kCand = 3, k = 3)
      .filter(col("qid") === 0L).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.map(x => (x._1, x._3)).toSeq ==
      Seq((5L, 1), (10L, 2), (20L, 3)), got.toSeq)
    assert(got.head._2 == 1.0, s"scaled doc's exact cosine: ${got.head}")
  }

  test("kmeans iteration reassigns mislabeled vectors to the near cluster") {
    val sparkS = spark
    import sparkS.implicits._
    // Two well-separated clusters in R^4; vectors 100/101 carry the
    // WRONG label, so the label seeds are slightly polluted — one
    // Lloyd assignment step must still pull each vector to its true
    // cluster (cosine to the dominant seed wins), shifting n_members
    // from the labeled 12/8 split to the true 10/10.
    val a = Seq(1.0, 0.0, 0.0, 0.1)
    val b = Seq(0.0, 1.0, 0.1, 0.0)
    def jitter(v: Seq[Double], i: Int) = v.map(_ + 0.01 * ((i % 3) - 1))
    val rows =
      (0 until 9).map(i => (i.toLong, 0, jitter(a, i))) ++
        Seq((100L, 1, jitter(a, 0))) ++ // true A, labeled B
        (0 until 9).map(i => (200L + i, 1, jitter(b, i))) ++
        Seq((101L, 0, jitter(b, 1))) // true B, labeled A
    val e = rows.toDF("vec_id", "label", "v")
    val out = Similarity.kmeansIterate(e).collect()
    val members = out.map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(members == Map(0 -> 10L, 1 -> 10L), s"members: $members")
    // Updated centroid of cluster 0 must point at A's direction.
    val c0 = out.filter(_.getInt(0) == 0).sortBy(_.getInt(1))
      .map(_.getDouble(3))
    assert(c0(0) > 0.8 && c0(1) < 0.2, s"c0: ${c0.toSeq}")
  }

  test("kmeans converges to a fixpoint on planted clusters") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions.col
    // Same planted two-cluster corpus as above, mislabeled seeds
    // included: run to convergence, then prove it IS a fixpoint by
    // applying one more assign/update round by hand — the means must
    // reproduce bit-for-bit (IEEE folds are exact given order), which
    // is exactly the loop's exit condition at eps = 0.
    val a = Seq(1.0, 0.0, 0.0, 0.1)
    val b = Seq(0.0, 1.0, 0.1, 0.0)
    def jitter(v: Seq[Double], i: Int) = v.map(_ + 0.01 * ((i % 3) - 1))
    val rows =
      (0 until 9).map(i => (i.toLong, 0, jitter(a, i))) ++
        Seq((100L, 1, jitter(a, 0))) ++
        (0 until 9).map(i => (200L + i, 1, jitter(b, i))) ++
        Seq((101L, 0, jitter(b, 1)))
    val e = rows.toDF("vec_id", "label", "v")

    val converged = Similarity.kmeansConverge(e, maxIter = 10, eps = 1e-12)
    def asMap(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val got = asMap(converged.collect())
    // The planted split is recovered...
    assert(got.keys.map(_._1).toSet == Set(0, 1))
    assert(got.filter(_._1._1 == 0).values.map(_._1).toSet == Set(10L))
    assert(got.filter(_._1._1 == 1).values.map(_._1).toSet == Set(10L))
    // ...and one further Lloyd round changes nothing: a true fixpoint,
    // not just maxIter exhaustion.
    val oneMore = Similarity.updateMeans(Similarity.assignClusters(
      e.select(col("vec_id"), col("v")),
      Similarity.centroidArrays(converged)))
    assert(asMap(oneMore.collect()) == got)
  }

  test("PQ: planted clusters share codes; ADC retrieves own-cluster first") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // 3 planted clusters of 8 vectors in 64-d: cluster c sits at
    // (c+1)·1⃗ plus a tiny per-vector deterministic perturbation, so
    // EVERY subspace separates the clusters (a subspace where all
    // clusters coincide would make its code legitimately arbitrary).
    val rows = for (c <- 0 until 3; i <- 0 until 8) yield {
      val v = (0 until 64).map { d =>
        (c + 1).toDouble + 0.01 * ((c * 8 + i + d) % 5)
      }
      (c * 8L + i, c, v)
    }
    val e = rows.toDF("vec_id", "label", "v")

    val (_, codes) = Similarity.pqTrain(e, rounds = 2)
    val byVec = codes.collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getInt(2)).toSeq).toMap
    // Same planted cluster → identical 4-code signature; different
    // clusters → different signatures (the blocks differ).
    val sigs = rows.groupBy(_._2).view
      .mapValues(_.map(r => byVec(r._1)).distinct).toMap
    sigs.foreach { case (c, perCluster) =>
      assert(perCluster.size == 1, s"cluster $c split codes: $perCluster")
    }
    assert(sigs.values.flatten.toSet.size == 3, s"clusters share codes: $sigs")

    // ADC top-5 for queries 0..2 (all cluster 0) must retrieve only
    // own-cluster members: compressed-domain distances preserve the
    // planted separation.
    val top = Similarity.pqAdcTopk(e, rounds = 2, k = 5).collect()
    assert(top.length == 15)
    top.foreach { r =>
      val (qid, nb) = (r.getLong(0), r.getLong(1))
      assert(nb / 8 == qid / 8,
        s"query $qid retrieved cross-cluster neighbor $nb")
    }
  }

  test("ANN recall@k vs the exact baseline on planted clusters (s03/s04/s08)") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // 8 planted clusters × 25 vectors in 64-d: cluster c owns dim
    // block [8c, 8c+8) at magnitude 4 plus a small deterministic
    // jitter, so true neighbors are cluster-mates by a wide margin
    // under BOTH metrics (cosine and L2). Every approximate path is
    // then measured against an independently-computed exact top-k —
    // the gate that catches a parameter change (bits, probes,
    // codebook size) silently destroying retrieval quality while the
    // hash gates stay green.
    val rows = for (c <- 0 until 8; i <- 0 until 25) yield {
      val v = (0 until 64).map(d =>
        (if (d / 8 == c) 4.0 else 0.0) + 0.01 * ((c * 25 + i + 3 * d) % 7))
      (c * 25L + i, c, v)
    }
    val e = rows.toDF("vec_id", "label", "v")
    val byId = rows.map(r => r._1 -> r._3).toMap

    def dotL(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cosL(a: Seq[Double], b: Seq[Double]) =
      dotL(a, b) / (math.sqrt(dotL(a, a)) * math.sqrt(dotL(b, b)))
    def l2L(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def exactTop(q: Long, k: Int, score: (Seq[Double], Seq[Double]) => Double,
        descending: Boolean): Set[Long] = {
      val qv = byId(q)
      // Rank by the operators' PUBLISHED contract: scores rounded to
      // 6 dp (the operators' output precision), ties by vec_id — so
      // recall measures retrieval quality, not sub-rounding-noise
      // tie-break differences between equal-to-contract candidates.
      val scored = rows.filter(_._1 != q).map { r =>
        (r._1, BigDecimal(score(qv, r._3))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      (if (descending) scored.sortBy(p => (-p._2, p._1))
       else scored.sortBy(p => (p._2, p._1))).take(k).map(_._1).toSet
    }
    def recall(got: Map[Long, Set[Long]], qids: Seq[Long], k: Int,
        score: (Seq[Double], Seq[Double]) => Double,
        descending: Boolean): Double = {
      // Average over the EXPECTED query set, not over whoever
      // retrieved anything: a regression that makes many queries
      // return zero rows (e.g. singleton LSH buckets) must score
      // those as 0, not silently drop them from the mean.
      val per = qids.map { q =>
        got.getOrElse(q, Set.empty[Long])
          .intersect(exactTop(q, k, score, descending)).size.toDouble / k
      }
      per.sum / per.size
    }
    def retrieved(df: org.apache.spark.sql.DataFrame, qCol: String,
        nCol: String): Map[Long, Set[Long]] =
      df.select(qCol, nCol).collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap

    // s03 IVF (single probe): planted clusters are exactly the cells,
    // so in-cell search must recover the exact top-5 completely.
    val qdf = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val ivfR = recall(
      retrieved(Similarity.ivfTopk(e, qdf, 5), "qid", "vec_id"),
      (0L until 5L), 5, cosL, descending = true)

    // s04 LSH k-NN join (4 bucket bits, k=3) over EVERY vector.
    val knnR = recall(
      retrieved(Similarity.knnJoin(e, bits = 4, k = 3), "vec_id", "nb"),
      rows.map(_._1), 3, cosL, descending = true)

    // s08 PQ/ADC top-5 for queries 0..2; exact metric is squared L2
    // (the PQ-canonical choice pqAdcTopk approximates).
    val adcR = recall(
      retrieved(Similarity.pqAdcTopk(e, rounds = 2, k = 5), "qid", "vec_id"),
      (0L until 3L), 5, l2L, descending = false)

    // s11 IVF-PQ (probes=2): coarse cells = planted clusters, so the
    // probed cells contain the true neighbors and residual-ADC ranks
    // within them; same compressed-domain resolution limit as s08.
    val (coarse, cells, cb, codes) = Similarity.ivfPqTrain(e, rounds = 2)
    val q3 = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val ivfpqDf = Similarity.ivfPqSearch(
      q3, coarse, cells, cb, codes, k = 5, probes = 2)
    val ivfpqGot = retrieved(ivfpqDf, "qid", "vec_id")
    val ivfpqR = recall(ivfpqGot, (0L until 3L), 5, l2L, descending = false)
    // The jitter pattern has period 7 in the member index, so each
    // query q has EXACT duplicates at q+7, q+14, q+21 — residual ADC
    // must put all three at the top (their codes equal the query's
    // own quantization, distance ≈ 0). This is the gate that matters
    // for a dedup/similarity deployment: the true duplicates are
    // never lost to quantization.
    val ivfpqTop3 = retrieved(ivfpqDf.filter(col("rnk") <= 3), "qid", "vec_id")
    (0L until 3L).foreach { q =>
      assert(ivfpqTop3(q) == Set(q + 7, q + 14, q + 21),
        s"IVF-PQ top-3 for $q: ${ivfpqTop3(q)}")
    }

    info(f"recall@5 IVF=$ivfR%.3f  recall@3 kNN-join=$knnR%.3f  recall@5 ADC=$adcR%.3f  recall@5 IVF-PQ=$ivfpqR%.3f")
    // Floors cited in each operator's scaladoc (measured: 1.000 /
    // 0.980 / 0.867, all deterministic). IVF is exact-complete by
    // construction (cells == planted clusters). The LSH join loses a
    // little to bucket-boundary splits. ADC quantizes every cluster
    // member to the same 4 codes, so ranking WITHIN a cluster falls
    // back to vec_id order — the compressed-domain resolution limit,
    // not a bug; a collapsed codebook would crater this to ~0.03.
    assert(ivfR >= 1.0, f"IVF recall@5 $ivfR%.3f < 1.0")
    assert(knnR >= 0.95, f"kNN-join recall@3 $knnR%.3f < 0.95")
    assert(adcR >= 0.85, f"ADC recall@5 $adcR%.3f < 0.85")
    // Measured 0.733 (deterministic): the exact-duplicate triple is
    // always retrieved (asserted above); ranks 4-5 lose to ~0.003
    // quantization error among the near-tied second shell — the
    // 4-byte-code resolution limit, not a retrieval bug.
    assert(ivfpqR >= 0.7, f"IVF-PQ recall@5 $ivfpqR%.3f < 0.7")
  }

  test("multi-probe IVF: recall climbs with probes on the real corpus; all cells = exact") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    // The real embeddings are only weakly clustered by label, so
    // single-probe IVF recall is intrinsically low there — the probes
    // dial is what makes IVF usable on such corpora. Baseline is
    // s01's own output (identical rounding contract and tie-break).
    val exact = graft.SparkEntry.queries("s01_cosine_topk")(spark, dir)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val nCells = e.select("label").distinct().count().toInt
    def recallAt(probes: Int): Double = {
      val got = Similarity.ivfTopk(e, queries, k = 5, probes = probes)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      exact.map { case (q, s) =>
        got.getOrElse(q, Set.empty).intersect(s).size.toDouble / 5
      }.sum / exact.size
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    val rAll = recallAt(nCells)
    info(f"IVF recall@5 on sf0.01: probes=1 $r1%.3f, probes=4 $r4%.3f, " +
      f"probes=$nCells%d (all) $rAll%.3f")
    // Monotone in probes, with a real uplift, and exact-complete when
    // every cell is searched (the algebraic identity that anchors the
    // dial: probes = |cells| ≡ brute force).
    assert(r4 >= r1 + 0.2, f"probes=4 recall $r4%.3f not above probes=1 $r1%.3f")
    assert(rAll == 1.0, f"all-cells probe must equal exact, got $rAll%.3f")
  }

  test("external-query ANN: IVF and ADC search a non-corpus query frame (qid collisions included)") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // The 8×25 planted corpus from the recall test; queries are the
    // PURE cluster directions — deliberately not corpus rows, with
    // qids 0..7 that COLLIDE with corpus vec_ids. excludeSelf = false
    // must ignore the collision: in corpus-member mode the id filter
    // would silently drop candidate vec_id == qid (the r8 advisory).
    val rows = for (c <- 0 until 8; i <- 0 until 25) yield {
      val v = (0 until 64).map(d =>
        (if (d / 8 == c) 4.0 else 0.0) + 0.01 * ((c * 25 + i + 3 * d) % 7))
      (c * 25L + i, c, v)
    }
    val e = rows.toDF("vec_id", "label", "v")
    val qvecs = (0 until 8).map(c =>
      (0 until 64).map(d => if (d / 8 == c) 4.0 else 0.0))

    def dotL(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def cosL(a: Seq[Double], b: Seq[Double]) =
      dotL(a, b) / (math.sqrt(dotL(a, a)) * math.sqrt(dotL(b, b)))
    // Exact top-5 over the WHOLE corpus, at the operators' published
    // contract (6-dp rounding, vec_id tie-break) — nothing excluded.
    def exactTop5(qv: Seq[Double]): Seq[Long] =
      rows.map(r => (r._1, BigDecimal(cosL(qv, r._3))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .sortBy(p => (-p._2, p._1)).take(5).map(_._1)
    val tops = qvecs.map(exactTop5)
    // Maximal collision by construction: each query's qid is its own
    // exact TOP-1 neighbor's corpus vec_id.
    val qs = qvecs.zip(tops).map { case (qv, top) => (top.head, qv) }
    val qdf = qs.toDF("qid", "qv")
    val exact = qs.map(_._1).zip(tops.map(_.toSet)).toMap

    val ivf = Similarity.ivfTopk(e, qdf, k = 5, probes = 1,
        excludeSelf = false)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(ivf.keySet == qs.map(_._1).toSet)
    ivf.foreach { case (q, got) =>
      assert(got.size == 5, s"query $q returned ${got.size} rows")
      assert(got == exact(q), // cells == planted clusters ⇒ exact-complete
        s"query $q: got $got, exact ${exact(q)}")
      assert(got.contains(q), s"colliding top-1 neighbor $q was dropped")
    }
    // And the advisory's failure mode is real: corpus-member mode on
    // the same external frame silently loses the top-1 neighbor of
    // every query (its vec_id equals the qid the filter excludes).
    val wrongMode = Similarity.ivfTopk(e, qdf, k = 5, probes = 1)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    qs.map(_._1).foreach(q =>
      assert(!wrongMode(q).contains(q),
        s"corpus-member mode unexpectedly kept vec_id == qid for $q"))

    // ADC against the same external frame: pre-trained artifacts,
    // every retrieved neighbor must be an own-cluster member.
    val (cent, codes) = Similarity.pqTrain(e, rounds = 2)
    val adc = Similarity.pqAdcSearch(qdf, cent, codes, k = 5,
        excludeSelf = false)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(adc.keySet == qs.map(_._1).toSet)
    adc.foreach { case (q, got) =>
      assert(got.size == 5, s"ADC query $q returned ${got.size} rows")
      got.foreach(nb => assert(nb / 25 == q / 25,
        s"ADC query $q retrieved cross-cluster neighbor $nb"))
    }
  }

  /** Local reference implementation of [[Similarity.chunkedMean]]'s
    * three-level fold convention: member fold in vec_id order within
    * chunks, chunk fold in chunk order within superchunks, superchunk
    * fold in superchunk order. IEEE addition is exact-deterministic
    * given order, so the distributed result must match bit-for-bit.
    */
  private def localChunkedMean(pairs: Seq[(Long, Double)]): Double = {
    val w = Similarity.meanChunkWidth
    val csums = pairs.groupBy(_._1 / w).toSeq.sortBy(_._1)
      .map { case (chunk, ms) =>
        (chunk, ms.sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _))
      }
    val ssums = csums.groupBy(_._1 / w).toSeq.sortBy(_._1)
      .map { case (sc, cs) =>
        (sc, cs.sortBy(_._1).map(_._2).foldLeft(0.0)(_ + _))
      }
    ssums.map(_._2).foldLeft(0.0)(_ + _) / pairs.size
  }

  test("SQ8 quantized top-k nearly matches exact L2 on the real corpus (s13)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val e = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    // ONE full exact-distance pass; the per-query top-5 and the
    // distance lookups for the ratio check both derive from it in
    // driver code (3 queries × corpus — small enough to hold).
    val dMap = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        Similarity.l2sq(col("qv"), col("v")).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val exact = dMap.groupBy(_._1._1).view.mapValues(
      _.toSeq.map { case ((_, v), d) => (d, v) }.sorted.take(5)
        .map(_._2).toSet).toMap
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val got = Similarity.sq8Topk(e, k = 5)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // The fresh build checkpoints nothing.
    assert(spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore == Set.empty)
    val recall = (0L until 3L)
      .map(qid => (exact(qid) & got(qid)).size / 5.0).sum / 3.0
    // The sharper property than recall: whatever SQ8 retrieves must be
    // nearly as CLOSE (in true L2) as the exact top-5 — quantization
    // may flip near-ties, never fetch a genuinely distant vector.
    val ratio = (0L until 3L).map { qid =>
      val gotMean = got(qid).toSeq.map(v => dMap((qid, v))).sum / 5.0
      val exactMean = exact(qid).toSeq.map(v => dMap((qid, v))).sum / 5.0
      gotMean / exactMean
    }.max
    info(f"SQ8 recall@5 vs exact L2 = $recall%.3f, worst distance ratio = $ratio%.4f")
    // Measured 0.733 / 1.0129 (deterministic): this corpus's second
    // shell is near-tied (the identical effect graded for IVF-PQ), so
    // rank flips among ~equidistant vectors cap set-recall — but the
    // retrieved candidates are within 1.3% of optimal true distance,
    // which is the guarantee 8-bit-per-dim quantization actually
    // makes (vs PQ's 4 B codes at 0.20 ADC recall on the same data).
    assert(recall >= 0.7, f"SQ8 recall@5 $recall%.3f < 0.7")
    assert(ratio <= 1.02, f"SQ8 worst mean-distance ratio $ratio%.4f > 1.02")
  }

  test("binary quantization: a planted duplicate ranks first at Hamming 0 (s14)") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // Query 0's exact duplicate (vec 10) must land rank 1 at distance
    // 0; its sign-flipped negation (vec 11) must land LAST of any
    // candidate — the two invariants sign-bit codes always honor.
    // Remaining vectors get alternating-sign patterns at varying
    // agreement so ranks in between are fully determined.
    val dim = 64
    def vec(signs: Int => Double): Seq[Double] =
      (0 until dim).map(i => signs(i))
    val base = vec(i => if (i % 2 == 0) 1.0 else -1.0)
    val rows = Seq(
      0L -> base,
      10L -> base, // exact duplicate
      11L -> base.map(-_), // all 64 bits flipped
      12L -> base.updated(0, -base(0)), // 1 bit off
      13L -> base.updated(0, -base(0)).updated(1, -base(1))) // 2 bits off
    val e = rows.toDF("vec_id", "v")
    val got = Similarity.bqTopk(e, k = 4)
      .filter(col("qid") === 0)
      .select("vec_id", "hamming").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((10L, 0), (12L, 1), (13L, 2), (11L, 64)), got)
  }

  test("s21 filtered top-k: pre-filter returns full k where post-filter starves") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // query 0 points at +x; vectors 1-3 are the UNGATED near
    // neighbors (any post-filtered top-3 would be exactly these, and
    // the gate would empty it); 5-7 are gated but farther
    val e = Seq(
      (0L, Seq(1f, 0f)),
      (1L, Seq(0.99f, 0.01f)), (2L, Seq(0.98f, 0.02f)),
      (3L, Seq(0.97f, 0.03f)),
      (5L, Seq(0.5f, 0.5f)), (6L, Seq(0.4f, 0.6f)), (7L, Seq(0.3f, 0.7f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val gate = Seq(5L, 6L, 7L).toDF("doc_id")
    val out = Similarity.filteredTopk(e, gate, k = 3)
      .filter(col("qid") === 0).collect()
    assert(out.length == 3, s"pre-filter must fill k: ${out.toSeq}")
    assert(out.map(_.getLong(1)).toSet == Set(5L, 6L, 7L), out.toSeq)
    // ranked by cosine among the SURVIVORS
    assert(out.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq == Seq(5L, 6L, 7L))
  }

  test("s20 index append: out-of-grid batch vectors saturate, cells assigned (no retrain)") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    def frame(rows: Seq[(Long, Int, Seq[Float])]) =
      rows.toDF("vec_id", "label", "embedding")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
    // base grid per dim: [0, 1]; two cells around (1,0) and (0,1)
    val base = frame(Seq(
      (1L, 0, Seq(1f, 0f)), (2L, 0, Seq(0.9f, 0.1f)),
      (3L, 1, Seq(0f, 1f)), (4L, 1, Seq(0.1f, 0.9f))))
    // batch: one in-grid vector near cell 0, one far OUTSIDE the grid
    val batch = frame(Seq(
      (10L, 9, Seq(0.8f, 0.2f)),
      (11L, 9, Seq(5f, -3f)))) // beyond hi on dim 0, below lo on dim 1
    val out = Similarity.indexAppend(base, batch).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2)))).toMap
    // in-grid vector: nearest cell by cosine is cell 0, codes in range
    assert(out(10L)._1 == 0)
    assert(out(10L)._2.forall(c => c >= 0 && c <= 255))
    // out-of-grid vector: codes SATURATE to the grid ends, cell still 0
    assert(out(11L)._1 == 0)
    assert(out(11L)._2 == Seq(255, 0), out(11L)._2)
  }

  test("s22 recall curve: probes=1 equals s19; recall monotone in probes") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val curve = Similarity.annRecallCurve(e, k = 5, probesList = Seq(1, 2, 4, 8))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // one row per (probes, qid)
    assert(curve.size == 4 * 5, curve)
    // the probes=1 column of the curve IS s19's recall
    val s19 = Similarity.annRecall(e, k = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    for (q <- s19.keys)
      assert(curve((1, q)) == s19(q), s"qid $q: ${curve((1, q))} vs ${s19(q)}")
    // recall never decreases as probes widen (cells are disjoint —
    // a deeper probe only ADDS candidates)
    for (q <- 0L until 5L; Seq(p1, p2) <- Seq(1, 2, 4, 8).sliding(2))
      assert(curve((p1, q)) <= curve((p2, q)),
        s"qid $q: recall@$p1=${curve((p1, q))} > recall@$p2=${curve((p2, q))}")
    // and widening probes genuinely helps somewhere on the real corpus
    assert((0L until 5L).exists(q => curve((8, q)) > curve((1, q))), curve)
  }

  test("s27: the refined serve's recall@5 beats the single-stage " +
      "quantized serve on the real corpus") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val e = graft.Tables.load(spark, dir, "embeddings")
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val (cent, codes) = Similarity.ivfSq8TrainShared(spark, dir, e)
    // exact top-5 baseline under the s19 rules (6-dp round, id ties)
    val withNrm = e.withColumn("nrm",
      sqrt(Similarity.dot(col("v"), col("v"))))
    val queries = withNrm.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val exact = withNrm
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(Similarity.dot(col("qv"), col("v")) /
          (col("qnrm") * col("nrm")), 6).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.ivfSq8Search(e, cent, codes, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .count(exact.contains)
    val refined = Similarity.refinedSearch(e, cent, codes,
        kCand = 20, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains)
    // the refined serve (wider probe + exact re-rank) must never
    // trail the single-stage quantized serve...
    assert(refined >= quant, s"refined $refined < quantized $quant")
    // ...and on the real corpus the bought-back recall is visible
    assert(refined > quant,
      s"refine bought nothing here: refined $refined == quant $quant" +
        " of ${exact.size} exact hits — corpus drifted?")
  }

  test("chunked mean fold bounds per-group state on a 100k-member cluster") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // One popular cluster with 100k members — the shape that OOM'd the
    // old O(cluster) collect_list design (every member in a single
    // aggregation buffer). The chunked fold must (a) keep every
    // level-1 buffer within meanChunkWidth, (b) spread the cluster
    // over ceil(n/width) chunks, and (c) reproduce the reference
    // fold bit-for-bit (chunk membership and the fold orders are
    // vec_id-determined, so this is exact, not approx).
    val n = 100000
    val xs = (0 until n).map(i => (i.toLong, 0, ((i * 31 + 7) % 997) / 997.0))
    val rows = xs.toDF("vec_id", "cluster", "x")
      .withColumn("dim", lit(1))
      .select("vec_id", "cluster", "dim", "x")

    val w = Similarity.meanChunkWidth
    val partials = Similarity.chunkedPartials(rows, Seq("cluster", "dim"))
      .select(col("chunk"), col("cn")).collect()
    assert(partials.length == (n + w - 1) / w, // ceil(n/width) chunks
      s"expected ${(n + w - 1) / w} chunks, got ${partials.length}")
    assert(partials.forall(_.getLong(1) <= w), // level-1 buffers bounded
      s"a chunk exceeded the $w-element bound")

    val out = Similarity.chunkedMean(rows, Seq("cluster", "dim")).collect()
    assert(out.length == 1)
    assert(out.head.getLong(2) == n)
    val expected = localChunkedMean(xs.map(r => (r._1, r._3)))
    assert(out.head.getDouble(3) == expected, // bit-for-bit, not ≈
      s"got ${out.head.getDouble(3)}, expected $expected")
  }

  test("chunked mean level-2 buffers are range-bounded across superchunks") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // The round-8 watch item: with two levels, the final buffer held
    // one struct per populated CHUNK — O(members/width) growth. The
    // third level groups chunks into fixed-width superchunks, so
    // level-2 buffers are range-bounded at `width` chunk structs and
    // the only still-growing buffer is level 3's one-struct-per-
    // superchunk (≤ width for vec_id < width³ ≈ 1.07e9). Plant 120k
    // members spread over ~940 superchunks (vec_id = i·8192, max
    // ≈ 0.98e9 — inside the documented range) and assert both the
    // bounds and the bit-exact three-level fold.
    val n = 120000
    val xs = (0 until n).map(i =>
      (i.toLong * 8192L, 0, ((i * 17 + 3) % 991) / 991.0))
    val rows = xs.toDF("vec_id", "cluster", "x")
      .withColumn("dim", lit(1))
      .select("vec_id", "cluster", "dim", "x")

    val w = Similarity.meanChunkWidth
    val chunksPerSuper = Similarity.chunkedPartials(rows, Seq("cluster", "dim"))
      .groupBy((col("chunk") / w).cast("long").as("schunk"))
      .agg(count(lit(1)).as("n_chunks"))
      .collect()
    assert(chunksPerSuper.length >= 100, // non-vacuous: many superchunks
      s"expected >=100 superchunks, got ${chunksPerSuper.length}")
    assert(chunksPerSuper.length <= w, // level-3 range bound holds
      s"${chunksPerSuper.length} superchunks exceed the documented $w bound")
    assert(chunksPerSuper.forall(_.getLong(1) <= w), // level-2 bounded
      s"a superchunk exceeded the $w-chunk bound")

    val out = Similarity.chunkedMean(rows, Seq("cluster", "dim")).collect()
    assert(out.length == 1)
    assert(out.head.getLong(2) == n)
    val expected = localChunkedMean(xs.map(r => (r._1, r._3)))
    assert(out.head.getDouble(3) == expected, // bit-for-bit, not ≈
      s"got ${out.head.getDouble(3)}, expected $expected")
  }

  test("chunkedMean equals the local three-level reference on random sparse ids") {
    val sparkS = spark
    import sparkS.implicits._
    // Property-style (fixed-seed deterministic): arbitrary NON-DENSE
    // non-negative vec_ids — gaps, cross-chunk strays, cross-SUPERCHUNK
    // strays, duplicates-free — must produce exactly the local chunked
    // fold. Catches chunk-membership or fold-order bugs the dense
    // planted test can't see. Id range spans multiple superchunks
    // (width² = 1 048 576), so the level-2/level-3 split is exercised.
    val rnd = new scala.util.Random(20260813L)
    (1 to 5).foreach { trial =>
      val n = 50 + rnd.nextInt(400)
      val ids = scala.collection.mutable.LinkedHashSet[Long]()
      while (ids.size < n) ids += math.abs(rnd.nextLong() % 8000000L)
      val data = ids.toSeq.map(id => (id, 0, 1, rnd.nextDouble()))
      val rows = data.toDF("vec_id", "cluster", "dim", "x")
      val out = Similarity.chunkedMean(rows, Seq("cluster", "dim")).collect()
      assert(out.length == 1 && out.head.getLong(2) == n, s"trial $trial")
      val expected = localChunkedMean(data.map(r => (r._1, r._4)))
      assert(out.head.getDouble(3) == expected, // bit-for-bit
        s"trial $trial: got ${out.head.getDouble(3)}, want $expected")
    }
  }

  test("semanticDedup keeps the far-from-centroid member of a dup pair") {
    val sparkS = spark
    import sparkS.implicits._
    // Two planted clusters; 10/11 are near-duplicates (cosine
    // ≈ 0.99995), every other within-cluster pair sits well below the
    // tau = 0.99 threshold.
    val rows = Seq(
      (10L, 0L, Seq(1.0, 0.0, 0.0, 0.1)),
      (11L, 0L, Seq(1.0, 0.01, 0.0, 0.1)),
      (12L, 0L, Seq(0.9, -0.3, 0.0, 0.0)),
      (20L, 1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (21L, 1L, Seq(0.2, 0.9, 0.0, 0.0)),
      (22L, 1L, Seq(-0.2, 0.9, 0.0, 0.0)))
    val out = Similarity.semanticDedup(
      rows.toDF("vec_id", "label", "v"), tau = 0.99)
      .orderBy("vec_id").collect()
    assert(out.length == 6) // one row per input vector
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      rows.map(r => (r._1, r._2))) // planted clusters survive assignment
    val byId = out.map(r =>
      r.getLong(0) -> (r.getDouble(2), r.getInt(3))).toMap
    // exactly one of the dup pair survives — the one FARTHER from the
    // centroid (lower cent_sim; vec_id would break an exact tie)
    assert(byId(10L)._2 + byId(11L)._2 == 1)
    val (kept, dropped) =
      if (byId(10L)._2 == 1) (10L, 11L) else (11L, 10L)
    assert(byId(kept)._1 < byId(dropped)._1 ||
      (byId(kept)._1 == byId(dropped)._1 && kept < dropped))
    // all non-duplicated vectors are kept
    Seq(12L, 20L, 21L, 22L).foreach(id =>
      assert(byId(id)._2 == 1, s"vector $id should be kept"))
  }

  test("IVF-PQ: recall climbs with probes on the real corpus") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val e = graft.Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    // Exact squared-L2 baseline under the operator's published
    // contract (distances rounded to 6 dp, ties by vec_id).
    val vecs = e.select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def exactTop(q: Long, k: Int): Set[Long] =
      vecs.filter(_._1 != q).map { case (id, v) =>
        (id, BigDecimal(vecs(q).zip(v).map(p => (p._1 - p._2) * (p._1 - p._2)).sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSeq.sortBy(p => (p._2, p._1)).take(k).map(_._1).toSet
    val (coarse, cells, cb, codes) = Similarity.ivfPqTrain(e, rounds = 2)
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val nCells = e.select("label").distinct().count().toInt
    def recallAt(probes: Int): Double = {
      val got = Similarity.ivfPqSearch(
        queries, coarse, cells, cb, codes, k = 5, probes = probes)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      (0L until 5L).map { q =>
        got.getOrElse(q, Set.empty[Long]).intersect(exactTop(q, 5)).size / 5.0
      }.sum / 5
    }
    val r1 = recallAt(1)
    val r4 = recallAt(4)
    val rAll = recallAt(nCells)
    info(f"IVF-PQ recall@5 on sf0.01: probes=1 $r1%.3f, probes=4 $r4%.3f, " +
      f"probes=$nCells%d (all) $rAll%.3f")
    // The real corpus is weakly clustered (single-probe IVF recall is
    // 0.12 there — the s09 measurement), so the probes dial, not the
    // cell structure, carries recall; and even at all-cells the raw
    // ADC ranking is bounded by the 4-byte quantization (measured
    // 0.20@5 here — which is WHY ivfPqSearchRefined exists). The raw
    // path gets monotonicity gates; the refined path gets the floor.
    assert(r4 >= r1, f"probes=4 recall $r4%.3f below probes=1 $r1%.3f")
    assert(rAll >= r4, f"all-cells recall $rAll%.3f below probes=4 $r4%.3f")
    def refinedRecall(probes: Int, shortlist: Int): Double = {
      val got = Similarity.ivfPqSearchRefined(
        queries, coarse, cells, cb, codes, e,
        k = 5, shortlist = shortlist, probes = probes)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      (0L until 5L).map { q =>
        got.getOrElse(q, Set.empty[Long]).intersect(exactTop(q, 5)).size / 5.0
      }.sum / 5
    }
    // The refinement's dial is the SHORTLIST: re-ranked recall is
    // exactly "did the ADC shortlist contain the true neighbors", so
    // it climbs with shortlist size where raw ADC@5 stays pinned at
    // the quantization bound. Measured here (all cells probed):
    // 0.40 @ 20, 0.48 @ 50, 0.76 @ 100, 0.92 @ 200 — gates set one
    // step below each measurement to absorb tie-order jitter.
    val sweep = Seq(20, 50, 100, 200).map(s => s -> refinedRecall(nCells, s))
    sweep.foreach { case (s, r) =>
      info(f"IVFADC+R recall@5 (all cells, shortlist=$s%d): $r%.3f") }
    val bySl = sweep.toMap
    assert(bySl(20) >= rAll,
      f"re-ranked recall ${bySl(20)}%.3f below raw ADC $rAll%.3f")
    sweep.sliding(2).foreach { case Seq((s1, r1s), (s2, r2s)) =>
      assert(r2s >= r1s,
        f"recall fell growing shortlist $s1%d→$s2%d: $r1s%.3f→$r2s%.3f") }
    assert(bySl(100) >= 0.6, f"recall@shortlist=100 ${bySl(100)}%.3f < 0.6")
    assert(bySl(200) >= 0.8, f"recall@shortlist=200 ${bySl(200)}%.3f < 0.8")
  }

  test("semanticDedupBlocked: identical vectors never separate; drops ⊆ exact's drops") {
    val sparkS = spark
    import sparkS.implicits._
    // 4 planted clusters × 12 members (64-d, block structure +
    // jitter), plus an EXACT duplicate of each cluster's first member
    // under a high id. Identical vectors share every SRP sign bit, so
    // sub-blocking can never separate a true duplicate pair — the
    // contract the scaladoc states.
    val rows = for (c <- 0 until 4; i <- 0 until 12) yield {
      val v = (0 until 64).map(d =>
        (if (d / 16 == c) 4.0 else 0.0) + 0.2 * ((c * 12 + i + 3 * d) % 5))
      (c * 12L + i, c.toLong, v)
    }
    val dups = (0 until 4).map(c =>
      (100L + c, c.toLong, rows.find(_._1 == c * 12L).get._3))
    val e = (rows ++ dups).toDF("vec_id", "label", "v")
    def keptMap(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    val exact = keptMap(Similarity.semanticDedup(e, tau = 0.999))
    val blocked = keptMap(
      Similarity.semanticDedupBlocked(e, tau = 0.999, blockBits = 4))
    assert(blocked.size == rows.size + dups.size)
    (0 until 4).foreach { c =>
      val (a, b) = (c * 12L, 100L + c)
      // the identical pair is resolved (never both kept) in BOTH
      // variants — blocking cannot hide an exact duplicate
      assert(blocked(a) + blocked(b) <= 1, s"pair ($a,$b) both kept")
      assert(exact(a) + exact(b) <= 1)
    }
    // Blocking only REMOVES comparisons: anything blocked drops, the
    // exact variant drops too (the approximation loses recall, never
    // invents a drop).
    blocked.foreach { case (id, k) =>
      if (k == 0) assert(exact(id) == 0, s"$id dropped only when blocked")
    }
  }

  test("s25 compaction: dead codes physically leave flagged cells only; " +
      "search equals the pure tombstone-gated search") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // Two clearly-separated cells of 10 vectors each. Cell 0 loses 3
    // vectors (30% → compact verdict); cell 1 loses 1 (10% → keeps
    // serving with a tombstone).
    def vec(axis: Int, i: Long): Seq[Double] =
      Seq.tabulate(4)(d =>
        (if (d == axis) 10.0 else 0.0) + 0.01 * ((i * (d + 3)) % 7))
    val e = ((0L until 10L).map(i => (i, 0, vec(0, i))) ++
      (10L until 20L).map(i => (i, 1, vec(1, i))))
      .toDF("vec_id", "label", "v")
    val (cent, codes) = Similarity.ivfSq8Train(e)
    val tomb = Seq(3L, 4L, 5L, 13L).toDF("dead_id")
    val (store, verdict) = Similarity.compactionStore(codes, tomb)
    assert(verdict.collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap == Map(0 -> 1, 1 -> 0))
    val byCell = store.groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("is_dead")).as("nd"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // the compacted cell's 3 dead rows are GONE from the store; the
    // un-rewritten cell still holds its dead row, flagged
    assert(byCell == Map(0 -> ((7L, 0L)), 1 -> ((10L, 1L))), byCell)
    // search over the rewritten store: no dead id ever surfaces, and
    // the result equals ivfSq8Search over a store with the dead rows
    // simply filtered out — compaction lost nothing, resurfaced
    // nothing
    val out = Similarity.compactionSearch(e, cent, codes, tomb,
      k = 3, probes = 1)
    val dead = Set(3L, 4L, 5L, 13L)
    val outRows = out.select("qid", "vec_id", "idist", "rnk")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(outRows.nonEmpty && !outRows.exists(r => dead(r._2)), outRows)
    val liveCodes = codes.join(tomb,
      col("vec_id") === col("dead_id"), "left_anti")
    val expected = Similarity.ivfSq8Search(e, cent, liveCodes, k = 3)
      .select("qid", "vec_id", "idist", "rnk")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(outRows == expected, (outRows, expected))
  }

  test("planeWeight matches the portable SQL md5-parity derivation") {
    // The oracle side derives each ±1 weight as
    //   CASE WHEN CAST('0x'||substr(md5(b||','||j),1,1) AS INT) % 2 = 0
    // — evaluate that exact expression in Spark SQL for every (b, j)
    // and compare with the driver-side derivation the literal plane
    // arrays are built from.
    import org.apache.spark.sql.functions._
    val sqlSide = spark.range(16).select(col("id").cast("int").as("b"))
      .crossJoin(spark.range(1, 65).select(col("id").cast("int").as("j")))
      .select(col("b"), col("j"),
        when((conv(substring(md5(concat_ws(",", col("b"), col("j"))), 1, 1),
          16, 10).cast("int") % 2) === 0, 1.0).otherwise(-1.0).as("w"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    for (b <- 0 until 16; j <- 1 to 64)
      assert(sqlSide((b, j)) == Similarity.planeWeight(b, j), s"(b=$b, j=$j)")
  }

  test("s28 matryoshka: an engineered prefix-rank flip is measured, " +
    "full width self-tests at 1.0") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // q's TRUE neighbor (id 11) is orthogonal to it on the first two
    // dims, while the distractor (id 10) matches the prefix exactly
    // and opposes on the tail — the truncation failure mode the curve
    // exists to measure: recall@1 must be 0.0 at width 2 and 1.0 at
    // width 4. Also exercises the zero-padded-query dot end-to-end.
    val e = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 1.0)), // the query (vec_id < 5)
      (10L, Seq(1.0, 0.0, 0.0, -1.0)), // prefix twin, full-width foe
      (11L, Seq(0.0, 1.0, 0.0, 1.0)), // prefix stranger, true neighbor
      (12L, Seq(-1.0, 0.0, -1.0, 0.0))) // far from everything
      .toDF("vec_id", "v")
    val out = Similarity.matryoshkaRecall(e, k = 1, cuts = Seq(2, 4))
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(out === Map(2 -> 0.0, 4 -> 1.0), out.toString)
  }

  test("s29 prototype prune: each cluster drops its most prototypical " +
    "quarter; ties break by vec_id; the outlier always survives") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    // cluster 0: three identical prototypes + one outlier; n=4 drops
    // rnk <= 1, the tie among the prototypes breaks to vec_id 10
    val e = Seq(
      (10L, 0, Seq(1.0, 0.0, 0.0, 0.0)),
      (11L, 0, Seq(1.0, 0.0, 0.0, 0.0)),
      (12L, 0, Seq(1.0, 0.0, 0.0, 0.0)),
      (13L, 0, Seq(0.0, 1.0, 0.0, 0.0)), // far from centroid — kept
      // cluster 1: four identical members — pure tie, 20 drops
      (20L, 1, Seq(0.0, 0.0, 1.0, 0.0)),
      (21L, 1, Seq(0.0, 0.0, 1.0, 0.0)),
      (22L, 1, Seq(0.0, 0.0, 1.0, 0.0)),
      (23L, 1, Seq(0.0, 0.0, 1.0, 0.0)))
      .toDF("vec_id", "label", "v")
    val out = Similarity.prototypePrune(e).collect()
      .map(r => r.getLong(0) -> ((r.getInt(3), r.getInt(5)))).toMap
    assert(out(10L)._2 == 0 && out(11L)._2 == 1 && out(12L)._2 == 1,
      out.toString)
    assert(out(13L) === ((4, 1)), out(13L).toString) // the hard example
    assert(out(20L)._2 == 0, out.toString)
    assert(Seq(21L, 22L, 23L).forall(out(_)._2 == 1), out.toString)
  }

  test("s30: farthest-first picks the known spread on an engineered corpus") {
    import spark.implicits._
    // Orthogonal axes are mutually at cosine distance 1; the diagonal
    // sits at 1 - 1/sqrt(2) ≈ 0.292893 from both e1 and e2. Start =
    // lowest id (1, on e1); both orthogonals are then tied at md=1 and
    // the tie breaks by vec_id (3 before 4); the diagonal is never
    // farthest. Coverage radius after k=3 = the diagonal's distance.
    val e = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)), // e1 — start (lowest id)
      (2L, Seq(1.0, 1.0, 0.0, 0.0)), // e1+e2 diagonal
      (3L, Seq(0.0, 1.0, 0.0, 0.0)), // e2 — 2nd pick (tie, lower id)
      (4L, Seq(0.0, 0.0, 1.0, 0.0))) // e3 — 3rd pick
      .toDF("vec_id", "v")
    val out = Similarity.kcenterSeeds(e, k = 3).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), Option(r.get(2)), r.getDouble(3))))
      .toMap
    val diag = BigDecimal(1.0 - 1.0 / math.sqrt(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1)._1 === 1L && out(1)._2.isEmpty, out.toString)
    assert(out(2) === ((3L, Some(1.0), diag)), out.toString)
    assert(out(3) === ((4L, Some(1.0), diag)), out.toString)
  }

  test("s31: RRF ranks consensus above either ranker's solo champion") {
    import spark.implicits._
    // sq8 says A first then B; bq says C first then B. B (rank 2 in
    // BOTH) must fuse above A and C (rank 1 in only one list):
    // 2/62 > 1/61. A and C tie and break by vec_id.
    val sq8 = Seq((0L, 10L, 1), (0L, 11L, 2))
      .toDF("qid", "vec_id", "rnk")
    val bq = Seq((0L, 12L, 1), (0L, 11L, 2))
      .toDF("qid", "vec_id", "rnk")
    val out = Similarity.rrfFusionOf(sq8, bq, k = 3).collect()
      .map(r => r.getInt(5) -> ((r.getLong(1),
        Option(r.get(2)), Option(r.get(3)), r.getDouble(4))))
      .toMap
    assert(out(1) === ((11L, Some(2), Some(2), 0.032258)), out.toString)
    assert(out(2) === ((10L, Some(1), None, 0.016393)), out.toString)
    assert(out(3) === ((12L, None, Some(1), 0.016393)), out.toString)
  }

  test("s32 MIPS: norm-augmented cosine ranks by inner product, not cosine") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Query q = vec 0 = [2, 0]. Candidates: w = [3, 4] (ip 6, cos .6),
    // z = [1, 0] (ip 2, cos 1.0), u = [.6, .8] (ip 1.2, cos .6).
    // Plain cosine would put z first; MIPS must put w first — the
    // large-norm vector wins on inner product despite the worse angle.
    val e = Seq(
      (0L, Seq(2.0, 0.0)),
      (10L, Seq(3.0, 4.0)),
      (11L, Seq(1.0, 0.0)),
      (12L, Seq(0.6, 0.8)))
      .toDF("vec_id", "v")
    val out = Similarity.mipsTopk(e, nq = 1, k = 3).collect()
      .map(r => r.getInt(3) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1) === ((10L, 6.0)), out.toString)
    assert(out(2) === ((11L, 2.0)), out.toString)
    assert(out(3) === ((12L, 1.2)), out.toString)
  }

  test("s32 lift is real: every augmented corpus vector has norm M") {
    import org.apache.spark.sql.functions._
    val e = Similarity.emb(spark, "/root/testdata/sf0.001")
    val n2 = e.select(Similarity.dot(col("v"), col("v")).as("n2"))
    val m2 = n2.agg(max("n2")).collect().head.getDouble(0)
    // Reconstruct the lift exactly as mipsTopk does and check the
    // invariant the reduction rests on: |x'|² = M² for every row.
    val lifted = e.crossJoin(broadcast(n2.agg(max(col("n2")).as("m2"))))
      .select(concat(col("v"),
        array(sqrt(col("m2") - Similarity.dot(col("v"), col("v")))))
        .as("xa"))
      .select(Similarity.dot(col("xa"), col("xa")).as("an2"))
    val Array(lo, hi) = lifted.agg(min("an2"), max("an2")).collect()
      .head.toSeq.map(_.asInstanceOf[Double]).toArray
    assert(math.abs(lo - m2) < 1e-9 * m2, s"lo=$lo m2=$m2")
    assert(math.abs(hi - m2) < 1e-9 * m2, s"hi=$hi m2=$m2")
  }

  test("s33: the lifted IVF's in-cell order is the raw inner-product order") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("s33_mips_ivf")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(4))) // qid, vec, rnk
    assert(out.length == 25, s"expected 5 queries × top-5: ${out.length}")
    val ids = out.flatMap(p => Seq(p._1, p._2)).toSet
    val vecs = Similarity.emb(spark, dir)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](2).toArray).toMap
      .filter { case (id, _) => ids.contains(id) }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    out.groupBy(_._1).foreach { case (qid, rows) =>
      val ranked = rows.sortBy(_._3)
        .map(p => (p._2, dot(vecs(qid), vecs(p._2))))
      // Non-increasing raw dot down the ranked list, vec_id breaking
      // exact ties — the property the lift is supposed to buy.
      ranked.sliding(2).foreach { case Array((v1, d1), (v2, d2)) =>
        assert(d1 > d2 || (d1 == d2 && v1 < v2),
          s"qid=$qid: rank order violates MIPS order: " +
            s"($v1, $d1) before ($v2, $d2)")
      }
    }
  }
  test("s34/s35: planted out-of-box vectors flip the retrain verdict; " +
      "the rebuild clears the drift") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions._
    def vec(label: Int, i: Int): Seq[Double] =
      if (label == 0) Seq(1.0 + 0.01 * i, 1.5, 0.1, 0.1)
      else Seq(0.1, 0.1, 1.0 + 0.01 * i, 1.5)
    // DRIFTED corpus: ids 7 and 14 re-upsert NEGATED (strictly
    // positive corpus -> every negated coordinate leaves the frozen
    // box), ids 9 and 18 delete.
    val hot = (1 to 20).map(i => (i.toLong, i % 2, vec(i % 2, i)))
      .toDF("vec_id", "label", "v")
    val centH = Similarity.seedCentroids(hot)
    val paramsH = Similarity.sq8Params(hot)
    val dH = Similarity.indexDrift(hot, centH, paramsH).collect()
    assert(dH.nonEmpty)
    // 2 fully-saturated vectors of 18 survivors: 8 of 72 coordinates
    // out of box = 111111 ppm >= the 1000 ppm bar -> retrain fires
    assert(dH.forall(_.getAs[Int]("retrain") == 1), dH.mkString(";"))
    assert(dH.head.getAs[Long]("sat_ppm") == 111111L, dH.head)
    val rH = Similarity.driftRebuild(hot, centH, paramsH).collect()
    // the rebuilt grid is the min/max box OF the drifted corpus:
    // saturation is zero, and the serving columns switch to rebuilt
    assert(rH.forall(_.getAs[Long]("sat_ppm_rebuilt") == 0L))
    assert(rH.forall(r => r.getAs[Long]("serving_n") ==
      r.getAs[Long]("n_rebuilt")))
    assert(rH.forall(_.getAs[Long]("serving_sat_ppm") == 0L))

    // QUIET corpus: no id divisible by 7 or 9 -> the CDC fixpoint is
    // the corpus itself; zero drift, verdict stays frozen.
    val quietIds = Seq(1, 2, 3, 4, 5, 6, 8, 10, 11, 12, 13, 15)
    val quiet = quietIds.map(i => (i.toLong, i % 2, vec(i % 2, i)))
      .toDF("vec_id", "label", "v")
    val centQ = Similarity.seedCentroids(quiet)
    val paramsQ = Similarity.sq8Params(quiet)
    val dQ = Similarity.indexDrift(quiet, centQ, paramsQ).collect()
    assert(dQ.nonEmpty)
    assert(dQ.forall(_.getAs[Int]("retrain") == 0), dQ.mkString(";"))
    assert(dQ.forall(_.getAs[Long]("occ_drift_ppm") == 0L))
    assert(dQ.head.getAs[Long]("sat_ppm") == 0L)
    val rQ = Similarity.driftRebuild(quiet, centQ, paramsQ).collect()
    assert(rQ.forall(r => r.getAs[Long]("serving_n") ==
      r.getAs[Long]("n_now")))
  }

  test("s36 MMR: a redundant near-duplicate of the top hit is demoted " +
      "below a diverse lower-relevance result") {
    val sparkS = spark
    import sparkS.implicits._
    // query 0; A1/A2 near-identical high-relevance clones; B diverse,
    // moderately relevant. Pure relevance ranks A1, A2, B; MMR must
    // return A1, B, A2 - the redundancy penalty is the operator.
    val q  = Seq(1.0, 1.0, 0.0, 0.0)
    val a1 = Seq(1.0, 1.0, 0.5, 0.0)
    val a2 = Seq(1.0, 1.0, 0.51, 0.0)
    val b  = Seq(1.0, 1.0, 0.0, 0.5)
    val e = Seq((0L, 0, q), (1L, 0, a1), (2L, 0, a2), (3L, 0, b))
      .toDF("vec_id", "label", "v")
    val got = Similarity.mmrRerank(e, kCand = 3, k = 3,
        lam = 0.7, mu = 0.3)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == Seq((1, 1L), (2, 3L), (3, 2L)), got)
  }

  test("s37 PCA: planar data recovers the analytic top component, " +
      "and pc1/residual obey Pythagoras") {
    val sparkS = spark
    import sparkS.implicits._
    def v64(a: Double, b: Double): Seq[Double] =
      Seq(a, b) ++ Seq.fill(62)(0.0)
    // Points in the (e1, e2) plane: mean (0,0), covariance
    // [[2.5, 1], [1, 0.5]] — dense in e1, so the e1 start never hits
    // the norm-0 guard. The spec re-derives the direction with its
    // OWN 20-step power iteration from the analytic covariance and
    // demands the operator's per-vector scores match it.
    val pts = Seq((1.0, 0.0), (-1.0, 0.0), (2.0, 1.0), (-2.0, -1.0))
    val e = pts.zipWithIndex.map { case ((a, b), i) =>
      (i.toLong, 0, v64(a, b)) }.toDF("vec_id", "label", "v")
    val got = Similarity.pcaProject(e, dims = 64, iters = 20).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    // Independent recompute on the 2x2 block (the rest is zero).
    var (v1, v2) = (1.0, 0.0)
    for (_ <- 1 to 20) {
      val (w1, w2) = (2.5 * v1 + 1.0 * v2, 1.0 * v1 + 0.5 * v2)
      val nrm = math.sqrt(w1 * w1 + w2 * w2)
      if (nrm != 0.0) { v1 = w1 / nrm; v2 = w2 / nrm }
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    pts.zipWithIndex.foreach { case ((a, b), i) =>
      val pc1 = a * v1 + b * v2
      val r1 = a - pc1 * v1
      val r2 = b - pc1 * v2
      val resid = math.sqrt(r1 * r1 + r2 * r2)
      val (gp, gr) = got(i.toLong)
      assert(math.abs(gp - pc1) < 2e-6, s"vec $i pc1 $gp vs $pc1")
      assert(math.abs(gr - resid) < 2e-6, s"vec $i resid $gr vs $resid")
      // Pythagoras: |centered|^2 == pc1^2 + resid^2 (v is unit).
      assert(math.abs((a * a + b * b) - (gp * gp + gr * gr)) < 1e-4,
        s"vec $i norm split")
      assert(r6(gr) == gr && r6(gp) == gp, "outputs are 6-dp rounded")
    }
    // The dominant direction leans e1 (var 2.5 > 0.5): the extreme
    // point (2,1) must carry the largest |pc1|.
    assert(got(2L)._1.abs >= got.values.map(_._1.abs).max - 1e-9)
  }

  test("s38 ABTT: removing the common component flips an " +
      "anti-correlated neighbor from cosine ~1 to negative") {
    val sparkS = spark
    import sparkS.implicits._
    def v64(a: Double, b: Double, c: Double): Seq[Double] =
      Seq(a, b, c) ++ Seq.fill(61)(0.0)
    // A huge shared e1 component with varying magnitude (so PC1 ≈ e1)
    // plus ±e2/e3 "meaning": raw cosine calls EVERYTHING a neighbor
    // (>0.99); in the residual space the e2-opposed vector must go
    // NEGATIVE and the e2-aligned one must rank first.
    val e = Seq(
      (0L, 0, v64(90.0, 1.0, 0.0)), // query
      (1L, 0, v64(110.0, 1.0, 0.0)), // same meaning
      (2L, 0, v64(100.0, -1.0, 0.0)), // opposite meaning
      (3L, 0, v64(120.0, 0.0, 1.0))) // orthogonal meaning
      .toDF("vec_id", "label", "v")
    val out = Similarity.abttTopk(e, k = 3, nq = 1).collect()
      .map(r => (r.getInt(3), r.getLong(1), r.getDouble(2)))
    assert(out.length == 3, out.mkString(";"))
    assert(out.head._2 == 1L, s"rank 1 should be the e2-aligned: $out")
    val cos2 = out.find(_._2 == 2L).get._3
    assert(cos2 < 0, s"e2-opposed residual cosine should be negative: $cos2")
    // And the raw cosine the removal corrects really was ~1.
    val raw = (90.0 * 100 - 1) /
      (math.sqrt(90.0 * 90 + 1) * math.sqrt(100.0 * 100 + 1))
    assert(raw > 0.99, s"premise: raw cosine $raw")
  }

}
