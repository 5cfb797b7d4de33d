package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Corpus-curation operators — the sampling/splitting/packing steps a
  * training-data pipeline runs after cleaning and dedup:
  *
  *  - c01: deterministic hash-Bernoulli sampling. Sampling by a
  *    content-stable hash (not rand()) is reproducible across reruns,
  *    engines and repartitionings, composes with incremental ingest
  *    (a doc's fate never changes as the corpus grows), and needs no
  *    RNG state — the only sampling that auditable 100 TB pipelines
  *    use. Pure codegen projection + filter, no shuffle.
  *  - c02: 3-way train/val/test split from the same hash family —
  *    split assignment is a pure function of doc_id, so train/test
  *    leakage can be audited by re-hashing.
  *  - c03: per-source quota (top-N by length) — caps any one source's
  *    contribution to the mix; one window per source partition.
  *  - c04: sequence packing — assign docs to fixed-token-budget bins
  *    (the batch-construction step before training). Streaming-greedy
  *    semantics: docs in deterministic order, bin = floor(tokens-
  *    before-this-doc / capacity); one running-sum window per source
  *    partition, everything else codegen.
  *
  * All four are oracle-checked bit-for-bit (md5-prefix hash family and
  * integer token arithmetic reproduce exactly in DuckDB).
  */
object Curation {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Portable uniform bucket in [0, 100): md5-prefix → int → mod.
    * Same construction as the minhash base hashes (Dedup) — the whole
    * family reproduces in DuckDB via `CAST('0x' || substr(md5(x),1,7)
    * AS BIGINT)`.
    */
  private def hashBucket(key: org.apache.spark.sql.Column) =
    conv(substring(md5(key.cast("string")), 1, 7), 16, 10)
      .cast("long") % 100

  /** FUZZY benchmark decontamination — c05's exact-gram overlap
    * misses paraphrased/partially-edited benchmark leakage; this is
    * the standard MinHash-LSH upgrade: corpus docs that share a full
    * minhash band with any benchmark doc (source 'src0' stands in for
    * the eval set, as in c05) are verified by exact shingle-set
    * Jaccard, and each contaminated doc reports its single
    * best-matching benchmark doc (ties break to the smaller id).
    *
    * Scale shape: the benchmark is small BY DEFINITION, so its band
    * signatures AND its shingle sets are broadcast (c05's discipline);
    * the corpus side streams through one map-side band join + one
    * map-side verify join — per corpus doc the work is O(its
    * candidates), there is no corpus×bench product anywhere, and
    * shuffles carry (id, 16-char hash) rows, never text. Signatures
    * and the Jaccard verify reuse the oracle-proven d02/d03 machinery
    * unchanged.
    */
  def fuzzyContamination(documents: DataFrame,
      minJaccard: Double): DataFrame = {
    val d = documents.filter(col("text").isNotNull)
    val sh0 = Dedup.shingleRows(d).localCheckpoint()
    val src = d.select(col("doc_id"), col("source"))
    val bands = Dedup.minhashBandsFrom(sh0).join(src, "doc_id")
    val bb = bands.filter(col("source") === "src0")
      .select(col("doc_id").as("bench_id"), col("band_id"),
        col("band_hash"))
    val cb = bands.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("band_id"), col("band_hash"))
    val cand = cb.join(broadcast(bb), Seq("band_id", "band_hash"))
      .select("doc_id", "bench_id").distinct()
    val sets = sh0.groupBy("doc_id")
      .agg(collect_set(substring(md5(col("t")), 1, 16)).as("sl"))
    // Only the BENCH docs' sets are broadcast — the corpus-side sets
    // stay distributed and join by id.
    val benchSets = sets.join(
      src.filter(col("source") === "src0").select("doc_id"),
      Seq("doc_id"), "left_semi")
    val inter = size(array_intersect(col("sa.sl"), col("sb.sl")))
    val jac = inter.cast("double") /
      (size(col("sa.sl")) + size(col("sb.sl")) - inter).cast("double")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("jaccard").desc, col("bench_id"))
    cand.as("c")
      .join(sets.as("sa"), col("c.doc_id") === col("sa.doc_id"))
      .join(broadcast(benchSets.as("sb")),
        col("c.bench_id") === col("sb.doc_id"))
      .select(col("c.doc_id").as("doc_id"),
        col("c.bench_id").as("bench_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("bench_id"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** TEMPERATURE-sampled mixture weights (c13) — the data-driven
    * counterpart of c06: where c06 applies a GIVEN per-source rate,
    * this COMPUTES the mixture from corpus statistics, the
    * α-temperature discipline of multilingual/multi-source training
    * mixes: source weight ∝ (token count)^α with α = 1/2, which
    * up-weights small sources relative to proportional sampling
    * without letting any giant source drown the mix. From the weights
    * and a token budget (half the corpus here) each source gets its
    * allocation and the implied epoch count — an allocation > 1 epoch
    * says the mix REPEATS a small source, the signal a curator reads
    * before raising α.
    *
    * Determinism across engines: token counts are exact integers;
    * sqrt of an exact double is one IEEE op; the weight denominator
    * sums DECIMAL(28,12)-truncated sqrts (exact, order-free — the D
    * rule) so every weight is a ratio of two identical doubles; the
    * allocation rounds via floor(x + 0.5) in both engines.
    *
    * Scale shape: one map-side token count feeding one per-source
    * partial-aggregated groupBy — the only corpus-sized work; the
    * total is a broadcast 1-row cross join and everything after is
    * sized by the SOURCE DOMAIN. At 100 TB this is a single pass.
    */
  def temperatureMix(documents: DataFrame): DataFrame = {
    val t = documents.filter(col("text").isNotNull)
      .select(col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    val sq = t.withColumn("sq",
      expr("cast(sqrt(cast(n_tokens as double)) as decimal(28,12))"))
    val tot = sq.agg(sum(col("sq")).as("tot_sq"),
      sum(col("n_tokens")).as("tot_tokens"))
    val weight = col("sq").cast("double") / col("tot_sq").cast("double")
    sq.crossJoin(broadcast(tot))
      .withColumn("weight", weight)
      .withColumn("alloc_tokens",
        floor(expr("tot_tokens div 2").cast("double") * col("weight")
          + 0.5).cast("long"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("weight"), 6).as("weight"),
        col("alloc_tokens"),
        round(col("alloc_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("epochs"))
      .orderBy("source")
  }

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    Q(
      "c01_hash_sample",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), col("source"),
            hashBucket(col("doc_id")).as("bucket"))
          .filter(col("bucket") < 10) // 10% sample
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id, source,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
            % 100 AS bucket
        FROM documents
        WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT)
            % 100 < 10
        ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "c02_train_split",
      (s, dir) =>
        // 80/10/10 split; per-split doc and char totals (the numbers a
        // data card reports).
        docs(s, dir)
          .select(col("source"), col("n_chars"),
            when(hashBucket(col("doc_id")) < 80, "train")
              .when(hashBucket(col("doc_id")) < 90, "val")
              .otherwise("test").as("split"))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"))
          .orderBy("split"),
      Some("""
        SELECT CASE
            WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                 AS BIGINT) % 100 < 80 THEN 'train'
            WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                 AS BIGINT) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split,
          COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY 1
        ORDER BY split""")),
    // ----------------------------------------------------------------
    Q(
      "c03_source_quota",
      (s, dir) => {
        // Cap each source at its 5 longest docs (unique tie-break on
        // doc_id — window-order rule, see D's scaladoc).
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        docs(s, dir)
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .orderBy("source", "rnk")
      },
      Some("""
        SELECT source, doc_id, n_chars, rnk FROM (
          SELECT source, doc_id, n_chars,
            ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY n_chars DESC, doc_id) AS rnk
          FROM documents)
        WHERE rnk <= 5
        ORDER BY source, rnk""")),
    // ----------------------------------------------------------------
    Q(
      "c04_sequence_packing",
      (s, dir) =>
        // Pack docs into 4096-token bins per source: running token
        // total in deterministic doc_id order; a doc's bin is the
        // budget-quotient of the tokens packed before it. Output is
        // the per-bin manifest (what a batch loader consumes). The
        // running total is [[packedCum]]'s two-pass parallel prefix
        // sum, not a per-source window — the oracle states the same
        // semantics as one SQL window (identical by associativity).
        packingManifest(docs(s, dir)),
      Some("""
        WITH tok AS (
          SELECT source, doc_id,
            CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                 x -> len(x) > 0)) AS INT) AS n_tokens
          FROM documents),
        packed AS (
          SELECT source, n_tokens,
            CAST((SUM(CAST(n_tokens AS BIGINT)) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens) // 4096 AS BIGINT) AS bin_id
          FROM tok)
        SELECT source, bin_id, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        FROM packed
        GROUP BY source, bin_id
        ORDER BY source, bin_id""")),
    // ----------------------------------------------------------------
    Q(
      "c05_decontaminate",
      (s, dir) => {
        // Benchmark decontamination: flag corpus docs whose 3-token
        // shingles overlap a held-out benchmark set (here: source
        // 'src0' stands in for the eval benchmark). The 100 TB shape:
        // the benchmark's DISTINCT gram hashes are small by definition
        // — broadcast them; the corpus side streams through one
        // map-side join + one groupBy(doc_id), shuffling (id, 16-char
        // hash) rows, never text. Same shingle family as the dedup
        // stack (Dedup.shingleRows), so gram hashing is already
        // oracle-portable.
        val d = docs(s, dir)
        val bench = Dedup.shingleRows(d.filter(col("source") === "src0"))
          .select(substring(md5(col("t")), 1, 16).as("bg"))
          .distinct()
        val corpus = Dedup.shingleRows(d.filter(col("source") =!= "src0"))
          .select(col("doc_id"), substring(md5(col("t")), 1, 16).as("g"))
          .distinct()
        val frac = col("n_hits").cast("double") /
          col("n_grams").cast("double")
        corpus.join(broadcast(bench), col("g") === col("bg"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"), count(col("bg")).as("n_hits"))
          .select(col("doc_id"), col("n_grams"), col("n_hits"),
            frac.as("contamination"),
            (frac >= 0.8).cast("int").as("flagged"))
          .orderBy("doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source,
            list_filter(string_split_regex(lower(text), '\s+'),
                        x -> len(x) > 0) AS tl
          FROM documents WHERE text IS NOT NULL),
        sh AS (
          SELECT doc_id, source,
            CASE WHEN len(tl) >= 3
              THEN list_transform(range(1, len(tl) - 1),
                                  i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
              ELSE [array_to_string(tl, ' ')] END AS sl
          FROM toks),
        gr AS (
          SELECT doc_id, source,
            unnest(list_distinct(list_transform(sl,
              t -> substr(md5(t), 1, 16)))) AS g
          FROM sh),
        bench AS (SELECT DISTINCT g FROM gr WHERE source = 'src0'),
        corpus AS (SELECT doc_id, g FROM gr WHERE source <> 'src0'),
        st AS (
          SELECT c.doc_id, COUNT(*) AS n_grams, COUNT(b.g) AS n_hits
          FROM corpus c LEFT JOIN bench b USING (g)
          GROUP BY c.doc_id)
        SELECT doc_id, n_grams, n_hits,
          CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE)
            AS contamination,
          CAST(CAST(n_hits AS DOUBLE) / CAST(n_grams AS DOUBLE) >= 0.8
               AS INT) AS flagged
        FROM st ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "c06_mixture_weights",
      (s, dir) => {
        // Training-mix construction: each source is DOWN-SAMPLED to
        // its own target rate (the "mixture weights" step that turns
        // raw source proportions into the designed training mix).
        // Rate per source is a pure function of the source id here
        // (srcN -> (N*37) mod 100); a real pipeline would broadcast a
        // weights table — the shape is the same: a per-row hash
        // threshold against a per-source rate, no shuffle at all
        // until the audit aggregation. Same auditable md5 bucket as
        // c01: a doc's fate is reproducible from its id alone.
        // try_cast, not CAST: Spark 4 runs ANSI-on, so a malformed or
        // overflowing suffix would THROW here while the DuckDB oracle's
        // TRY_CAST yields NULL — try_cast pins the same NULL semantics.
        val rate = (expr("try_cast(substring(source, 4, 10) AS INT)") * 37) % 100
        val kept = docs(s, dir)
          .withColumn("rate_pct", rate)
          .withColumn("keep",
            (hashBucket(col("doc_id")) < col("rate_pct")).cast("int"))
        kept.groupBy("source")
          .agg(max(col("rate_pct")).as("rate_pct"),
            count(lit(1)).as("n_in"),
            sum(col("keep")).cast("long").as("n_kept"))
          .withColumn("kept_frac",
            col("n_kept").cast("double") / col("n_in").cast("double"))
          .orderBy("source")
      },
      Some("""
        WITH k AS (
          SELECT source,
            (TRY_CAST(substr(source, 4, 10) AS INT) * 37) % 100 AS rate_pct,
            CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                           AS BIGINT) % 100
                      < (TRY_CAST(substr(source, 4, 10) AS INT) * 37) % 100
                 THEN 1 ELSE 0 END AS keep
          FROM documents)
        SELECT source, MAX(rate_pct) AS rate_pct,
          COUNT(*) AS n_in,
          CAST(SUM(keep) AS BIGINT) AS n_kept,
          CAST(SUM(keep) AS DOUBLE) / COUNT(*) AS kept_frac
        FROM k
        GROUP BY source
        ORDER BY source""")),
    // ----------------------------------------------------------------
    Q(
      "c07_shuffle_shards",
      (s, dir) => {
        // Reproducible global shuffle for training order — done the
        // way that SCALES: a true global sort/row_number would funnel
        // 100 TB through one ordering; instead each doc hashes to a
        // shard (md5 — auditable, reproducible from the id alone) and
        // gets a position WITHIN its shard (a partitioned window, one
        // shuffle on shard_id). A loader reading shards round-robin
        // sees a deterministic pseudo-random global order; re-running
        // the pipeline reproduces it bit-for-bit.
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
          16, 10).cast("long")
        val w = Window.partitionBy(col("shard_id"))
          .orderBy(col("h"), col("doc_id"))
        docs(s, dir)
          .select(col("doc_id"), h.as("h"))
          .withColumn("shard_id", (col("h") % 8).cast("int"))
          .withColumn("pos", row_number().over(w))
          .select("doc_id", "shard_id", "pos")
          .orderBy("shard_id", "pos")
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
            CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) AS h
          FROM documents)
        SELECT doc_id, CAST(h % 8 AS INT) AS shard_id,
          ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
        FROM h
        ORDER BY shard_id, pos""")),
    // ----------------------------------------------------------------
    Q(
      "c08_quality_weighted_sample",
      (s, dir) => {
        // Quality-WEIGHTED deterministic sampling — how curated
        // pretraining corpora actually upsample good text: each doc's
        // admission probability IS its quality score (t02's formula),
        // decided by the same content-stable hash family as c01, so
        // the sample is reproducible across reruns/engines/partitions
        // and composes with incremental ingest. The comparison is
        // integer-exact on both engines: bucket ∈ 0..99 (md5-derived)
        // admits iff bucket < ⌊quality·100⌋ — floor of a double both
        // engines compute bit-identically (t02's oracle proves the
        // quality arithmetic), so no double-tie can flip a row. Pure
        // projection + filter-free roster: one scan, no shuffle but
        // the final orderBy.
        // Composes from the SHARED definitions: TextFunctions'
        // qualitySignals/qualityScore (t02's exact expressions — its
        // oracle proves the arithmetic) and this object's hashBucket
        // (c01/c02's family) — neither can drift from its
        // oracle-backed source.
        docs(s, dir)
          .filter(col("text").isNotNull)
          .withColumn("toks", tokens(col("text")))
          .select(Seq(col("doc_id"), col("source")) ++
            qualitySignals(col("text"), col("toks")): _*)
          .filter(col("n_tokens") >= 1)
          .withColumn("quality",
            qualityScore(col("n_chars"), col("n_tokens"),
              col("n_stop"), col("n_punct")))
          .select(col("doc_id"), col("source"),
            hashBucket(col("doc_id")).cast("int").as("bucket"),
            floor(col("quality") * 100).cast("int").as("q_pct"))
          .withColumn("admitted",
            (col("bucket") < col("q_pct")).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id, source,
            $sqlQualitySignals
          FROM documents WHERE text IS NOT NULL),
        q AS (
          SELECT doc_id, source,
            $sqlQuality AS quality
          FROM c WHERE n_tokens >= 1)
        SELECT doc_id, source,
          CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
               AS BIGINT) % 100 AS INT) AS bucket,
          CAST(floor(quality * 100) AS INT) AS q_pct,
          CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
               AS BIGINT) % 100 < CAST(floor(quality * 100) AS INT)
               AS INT) AS admitted
        FROM q
        ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "c09_fuzzy_contamination",
      (s, dir) =>
        // Fuzzy decontamination (see [[fuzzyContamination]]): corpus
        // docs sharing a minhash band with a benchmark ('src0') doc,
        // verified at shingle-Jaccard >= 0.3, each reporting its
        // best-matching benchmark doc.
        fuzzyContamination(docs(s, dir), minJaccard = 0.3),
      Some(s"""
        ${Dedup.sqlBandsCte},
        src AS (
          SELECT doc_id, source FROM documents WHERE text IS NOT NULL),
        bb AS (
          SELECT b.doc_id AS bench_id, b.band_id, b.band_hash
          FROM bands b JOIN src USING (doc_id)
          WHERE src.source = 'src0'),
        cb AS (
          SELECT b.doc_id, b.band_id, b.band_hash
          FROM bands b JOIN src USING (doc_id)
          WHERE src.source <> 'src0'),
        cand AS (
          SELECT DISTINCT cb.doc_id, bb.bench_id
          FROM cb JOIN bb
            ON cb.band_id = bb.band_id AND cb.band_hash = bb.band_hash),
        shd AS (
          SELECT doc_id,
            list_distinct(list_transform(
              CASE WHEN len(tl) >= 3
                THEN list_transform(range(1, len(tl) - 1),
                       i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
                ELSE [array_to_string(tl, ' ')] END,
              t -> substr(md5(t), 1, 16))) AS sl
          FROM toks),
        jac AS (
          SELECT c.doc_id, c.bench_id,
            CAST(len(list_intersect(sa.sl, sb.sl)) AS DOUBLE) /
            CAST(len(sa.sl) + len(sb.sl)
                 - len(list_intersect(sa.sl, sb.sl)) AS DOUBLE)
              AS jaccard
          FROM cand c
          JOIN shd sa ON c.doc_id = sa.doc_id
          JOIN shd sb ON c.bench_id = sb.doc_id)
        SELECT doc_id, bench_id, jaccard FROM (
          SELECT doc_id, bench_id, jaccard,
            ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY jaccard DESC, bench_id) AS rn
          FROM jac WHERE jaccard >= 0.3)
        WHERE rn = 1
        ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "c10_curriculum_stages",
      (s, dir) => {
        // Curriculum construction: order the corpus by the quality
        // score (highest first — the easy/clean stage leads) and cut
        // it into 4 equal stages with per-stage stats — the manifest
        // a curriculum-learning schedule trains from. Composes t02's
        // oracle-proven quality expressions (c08's discipline).
        // Scale shape: NO corpus-wide sort or window anywhere — the
        // 6-dp quality domain is BOUNDED (≤ 1e6+1 values in [0,1]),
        // so stage boundaries come from cumulative counts over the
        // distinct-value table via [[tileSlices]]: one corpus-scale
        // groupBy(q) (map-side combined), then everything downstream
        // is domain-sized. Value offsets are two-level — a ≤1001-row
        // coarse-bucket table (floor(q·1000), monotone in q, so FP
        // rounding can never reorder it) offset by a broadcast
        // non-equi self-join, plus a within-bucket running count
        // PARTITIONED by bucket. The oracle states the same stages
        // with NTILE; the per-stage aggregates are functions of q
        // only, so doc_id tie order inside a value cannot move them.
        // Determinism: quality is engine-identical doubles
        // (integer-ratio arithmetic), rounded to 6 dp before the
        // decimal-exact stage sums.
        curriculumStages(docs(s, dir))
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id,
            $sqlQualitySignals
          FROM documents WHERE text IS NOT NULL),
        q AS (
          SELECT doc_id, ROUND($sqlQuality, 6) AS q
          FROM c WHERE n_tokens >= 1),
        staged AS (
          SELECT doc_id, q,
            NTILE(4) OVER (ORDER BY q DESC, doc_id) AS stage
          FROM q)
        SELECT stage, COUNT(*) AS n_docs,
          MIN(q) AS min_q, MAX(q) AS max_q,
          CAST(SUM(CAST(q AS DECIMAL(16,6))) AS DOUBLE) / COUNT(*)
            AS avg_q
        FROM staged
        GROUP BY stage
        ORDER BY stage""")),
    // ----------------------------------------------------------------
    Q(
      "c11_zorder_shards",
      (s, dir) => {
        // Z-order (Morton-curve) shard manifest — the data-LAYOUT
        // optimization for multi-dimensional file skipping: docs are
        // ordered by the bit-interleave of two curation dimensions
        // (length bucket × quality bucket, 4 bits each) and cut into
        // 8 equal shards. Because the z-curve keeps both dimensions
        // locally bounded, each shard's manifest row carries a tight
        // (bx, by) bounding box — a range query on EITHER dimension
        // skips shards whose box misses it, which a single-column
        // sort only provides for its own column. The manifest IS the
        // evidence: per-shard min/max of both dims. Scale shape: z
        // has ≤256 values, so NO corpus-scale sort or window exists —
        // one map-side-combined groupBy(z, bx, by) reduces the corpus
        // to ≤256 rows, value offsets are a broadcast non-equi
        // self-join over that table, and [[tileSlices]] restates
        // NTILE's boundaries as integer arithmetic (the oracle keeps
        // NTILE; aggregates are functions of z alone, so row order
        // inside a value is irrelevant). A writer would follow with
        // `repartitionByRange(z)` using these cuts. z stays pure
        // integer arithmetic — div/mod bit extraction, identical in
        // both engines; the encode/decode bijection is
        // property-tested in CurationSpec.
        zorderShards(docs(s, dir))
      },
      Some(s"""
        WITH c AS (
          SELECT doc_id,
            $sqlQualitySignals
          FROM documents WHERE text IS NOT NULL),
        b AS (
          SELECT doc_id,
            CAST(LEAST(FLOOR(n_chars / 128), 15) AS INT) AS bx,
            CAST(LEAST(FLOOR(ROUND($sqlQuality, 6) * 16), 15) AS INT)
              AS by
          FROM c WHERE n_tokens >= 1),
        zv AS (
          SELECT doc_id, bx, by, ${zFormula("//")} AS z FROM b),
        sh AS (
          SELECT bx, by, z,
            NTILE(8) OVER (ORDER BY z, doc_id) AS shard
          FROM zv)
        SELECT shard, COUNT(*) AS n_docs,
          MIN(z) AS min_z, MAX(z) AS max_z,
          MIN(bx) AS min_bx, MAX(bx) AS max_bx,
          MIN(by) AS min_by, MAX(by) AS max_by
        FROM sh
        GROUP BY shard
        ORDER BY shard""")),
    // ----------------------------------------------------------------
    Q(
      "c12_mixture_schedule",
      (s, dir) => {
        // Deterministic STRIDE schedule — the training-order schedule
        // the c06 mixture weights imply: each source advances through
        // its docs at stride 1/w (lottery/stride scheduling: doc r of
        // a source schedules at key (2r−1)/(2w)), so heavier sources
        // interleave proportionally more often, reproducibly, with
        // NO randomness. Output is the head of the global schedule (a
        // batch-construction preview); a trainer consumes the same
        // ordering streamed. Scale shape: per-source ranks come from
        // [[packedCum]] counting (chunk-parallel two-pass — NOT a
        // per-source window), the global head is orderBy+limit →
        // TakeOrderedAndProject (per-partition heaps), and pos is
        // derived on the ≤50 survivors (the t18 discipline).
        // Determinism: key = ratio of small exact integers — one
        // IEEE division, identical in both engines; ties break by
        // (source, doc_id). Sources with weight 0 are out of the mix.
        // try_cast, not CAST: Spark 4 runs ANSI-on, so a malformed or
        // overflowing suffix would THROW here while the DuckDB oracle's
        // TRY_CAST yields NULL — try_cast pins the same NULL semantics.
        val rate = (expr("try_cast(substring(source, 4, 10) AS INT)") * 37) % 100
        val ranked = packedCum(
          docs(s, dir)
            .select(col("doc_id"), col("source"))
            .withColumn("w", rate)
            .filter(col("w") >= 1)
            .withColumn("one", lit(1)),
          "one")
        ranked
          .withColumn("sched_key",
            (lit(2) * col("cum") - 1).cast("double") /
              (lit(2) * col("w")).cast("double"))
          .orderBy(col("sched_key"), col("source"), col("doc_id"))
          .limit(50)
          .withColumn("pos", row_number().over(
            Window.orderBy(col("sched_key"), col("source"), col("doc_id"))))
          .select(col("pos"), col("source"), col("doc_id"),
            col("sched_key"))
          .orderBy("pos")
      },
      Some("""
        WITH b AS (
          SELECT doc_id, source,
            (TRY_CAST(substr(source, 4, 10) AS INT) * 37) % 100 AS w
          FROM documents),
        r AS (
          SELECT doc_id, source, w,
            ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS r
          FROM b WHERE w >= 1),
        k AS (
          SELECT doc_id, source,
            CAST(2 * r - 1 AS DOUBLE) / CAST(2 * w AS DOUBLE)
              AS sched_key
          FROM r)
        SELECT pos, source, doc_id, sched_key FROM (
          SELECT ROW_NUMBER() OVER (
              ORDER BY sched_key, source, doc_id) AS pos,
            source, doc_id, sched_key
          FROM k)
        WHERE pos <= 50
        ORDER BY pos""")),
    // ----------------------------------------------------------------
    Q(
      "c13_temperature_mix",
      (s, dir) =>
        // α=1/2 temperature mixture computed FROM the corpus (see
        // [[temperatureMix]]): weight ∝ sqrt(source tokens), half-
        // corpus budget allocated per source, implied epochs — the
        // small-source repeat signal.
        temperatureMix(docs(s, dir)),
      Some("""
        WITH t AS (
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(len(list_filter(string_split_regex(lower(text),
              '\s+'), x -> len(x) > 0))) AS BIGINT) AS n_tokens
          FROM documents WHERE text IS NOT NULL
          GROUP BY source),
        s AS (
          SELECT source, n_docs, n_tokens,
            CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,12)) AS sq
          FROM t),
        tot AS (
          SELECT SUM(sq) AS tot_sq,
            CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM s),
        w AS (
          SELECT source, n_docs, n_tokens,
            CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE) AS wt,
            CAST(tot_tokens // 2 AS BIGINT) AS budget
          FROM s CROSS JOIN tot)
        SELECT source, n_docs, n_tokens,
          ROUND(wt, 6) AS weight,
          CAST(FLOOR(CAST(budget AS DOUBLE) * wt + 0.5) AS BIGINT)
            AS alloc_tokens,
          ROUND(CAST(FLOOR(CAST(budget AS DOUBLE) * wt + 0.5) AS DOUBLE)
                / CAST(n_tokens AS DOUBLE), 6) AS epochs
        FROM w
        ORDER BY source""")),
    // ----------------------------------------------------------------
    Q(
      "c14_temperature_resample",
      (s, dir) => {
        // c13's temperature weights EXECUTED (see
        // [[temperatureResample]]): the resampled-to-same-size corpus
        // with α=1/2 weights — small sources replicate (epochs > 1),
        // large ones thin out, every doc's copy count reproducible
        // from its id. The Spark side MATERIALIZES the replicas
        // (explode over the per-doc copy count — the corpus a
        // training run would read); the oracle restates the audit by
        // pure multiplication, so the hash match proves the
        // materialized mass equals the integer plan exactly.
        temperatureResample(docs(s, dir))
      },
      Some("""
        WITH t AS (
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(len(list_filter(string_split_regex(lower(text),
              '\s+'), x -> len(x) > 0))) AS BIGINT) AS n_tokens
          FROM documents WHERE text IS NOT NULL
          GROUP BY source),
        s AS (
          SELECT source, n_tokens,
            CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,12)) AS sq
          FROM t),
        tot AS (
          SELECT SUM(sq) AS tot_sq,
            CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM s),
        plan AS (
          SELECT source, n_tokens,
            a.alloc,
            a.alloc // n_tokens AS copies,
            ((a.alloc % n_tokens) * 100) // n_tokens AS frac_pct
          FROM (
            SELECT source, n_tokens,
              CAST(FLOOR(CAST(tot_tokens AS DOUBLE) *
                (CAST(sq AS DOUBLE) / CAST(tot_sq AS DOUBLE)) + 0.5)
                AS BIGINT) AS alloc
            FROM s CROSS JOIN tot) a),
        d AS (
          SELECT doc_id, source,
            CAST(len(list_filter(string_split_regex(lower(text),
              '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_toks,
            CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7)
                 AS BIGINT) % 100 AS bucket
          FROM documents WHERE text IS NOT NULL),
        rep AS (
          SELECT * FROM (
            SELECT d.source, p.alloc, p.copies, p.frac_pct,
              p.copies + CASE WHEN d.bucket < p.frac_pct
                              THEN 1 ELSE 0 END AS n_copies,
              d.n_toks
            FROM d JOIN plan p USING (source))
          WHERE n_copies >= 1)
        SELECT source, copies, frac_pct,
          CAST(SUM(n_copies) AS BIGINT) AS n_docs_out,
          CAST(SUM(n_toks * n_copies) AS BIGINT) AS out_tokens,
          alloc AS alloc_tokens,
          ROUND(CAST(SUM(n_toks * n_copies) AS DOUBLE)
                / CAST(alloc AS DOUBLE), 6) AS fill
        FROM rep
        GROUP BY source, copies, frac_pct, alloc
        ORDER BY source""")),
    // ----------------------------------------------------------------
    Q(
      "c15_leakage_safe_split",
      (s, dir) => {
        // Leakage-safe 80/10/10 split — the fix for c02's quiet flaw:
        // hashing the DOC id lets two near-duplicate docs straddle
        // train/test, and the eval answer leaks into training (the
        // exact failure d20/c09 exist to catch after the fact).
        // Splitting on the d08 CLOSURE family label prevents it BY
        // CONSTRUCTION: every transitively-connected near-dup family
        // shares one label, so it lands wholly in one split — the
        // url/domain-grouped split discipline of production corpora,
        // with the dedup graph as the grouping. Scale shape: d08's
        // fixpoint (banded LSH, per-round keyed joins, flat lineage
        // via localCheckpoint) plus one map-side hash projection; the
        // split decision adds NO shuffle.
        val fam = Dedup.connectedKeepers(docs(s, dir))
          .select(col("doc_id"), col("keeper").as("family"))
        fam.select(col("doc_id"), col("family"),
          when(hashBucket(col("family")) < 80, "train")
            .when(hashBucket(col("family")) < 90, "val")
            .otherwise("test").as("split"))
          .orderBy("doc_id")
      },
      // The oracle restates the family as d08's recursive reachability
      // closure (self-edges put singletons in `reach`), then applies
      // c02's bucket thresholds to the FAMILY id.
      Some(s"""
        ${graft.ops.Dedup.sqlBandsCte.replaceFirst(
          "WITH ", "WITH RECURSIVE ")},
        edges AS (
          SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_hash = b.band_hash),
        reach AS (
          SELECT u AS doc_id, v AS r FROM edges
          UNION
          SELECT t.doc_id, e.v FROM reach t JOIN edges e ON t.r = e.u),
        fam AS (
          SELECT doc_id, MIN(r) AS family FROM reach GROUP BY doc_id)
        SELECT doc_id, family,
          CASE
            WHEN CAST('0x' || substr(md5(CAST(family AS VARCHAR)), 1, 7)
                 AS BIGINT) % 100 < 80 THEN 'train'
            WHEN CAST('0x' || substr(md5(CAST(family AS VARCHAR)), 1, 7)
                 AS BIGINT) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split
        FROM fam
        ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "c16_dsir_select",
      (s, dir) =>
        // DSIR selection EXECUTION (see [[dsirSelect]]): t23's
        // importance weights turned into the per-doc keep verdict —
        // each source's top quarter by target-domain log-likelihood
        // ratio survives, deterministic ties by doc_id.
        dsirSelect(docs(s, dir)),
      Some(s"""
        WITH ${TextAnalysis.sqlDsirChain("src1", 4096)},
        sel AS (
          SELECT doc_id, source, dsir_logratio,
            ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY dsir_logratio DESC, doc_id)
              AS rn,
            COUNT(*) OVER (PARTITION BY source) AS n_src
          FROM wts)
        SELECT doc_id, source, dsir_logratio,
          CAST(rn <= (n_src + 3) // 4 AS INT) AS keep
        FROM sel
        ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "c17_token_budget",
      (s, dir) =>
        // Token-budget selection (see [[tokenBudgetSelect]]): admit
        // documents in (quality DESC, doc_id) order while the running
        // token total fits half the corpus' token mass. The ORACLE
        // states the naive global-sort prefix; Spark computes it via
        // the bounded histogram + boundary-bucket window — the hash
        // match proves the scale-right algorithm IS the global sort.
        tokenBudgetSelect(docs(s, dir)),
      Some(s"""
        WITH c AS (
          SELECT doc_id,
            $sqlQualitySignals
          FROM documents WHERE text IS NOT NULL),
        s AS (
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
            $sqlQuality AS quality
          FROM c WHERE n_tokens >= 1 AND n_chars >= 1),
        b AS (SELECT COALESCE(SUM(n_tokens), 0) // 2 AS budget FROM s),
        r AS (
          SELECT doc_id, n_tokens, quality,
            SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS cum
          FROM s)
        SELECT doc_id, n_tokens, ROUND(quality, 6) AS quality,
          CAST(cum <= b.budget AS INT) AS admitted
        FROM r, b ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "c18_source_budget",
      (s, dir) =>
        // Per-source token-budget selection (see
        // [[sourceBudgetSelect]]): half the corpus' token mass split
        // equally across sources, each source filled quality-first.
        // The ORACLE is the per-source global-sort prefix; Spark
        // computes it from the bounded (source, bucket) histogram —
        // the hash match proves the per-source histogram cut IS the
        // per-source sort.
        sourceBudgetSelect(docs(s, dir)),
      Some(s"""
        WITH c AS (
          SELECT doc_id, source,
            $sqlQualitySignals
          FROM documents WHERE text IS NOT NULL),
        s AS (
          SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
            $sqlQuality AS quality
          FROM c WHERE n_tokens >= 1 AND n_chars >= 1),
        a AS (
          SELECT (COALESCE(SUM(n_tokens), 0) // 2)
                 // COUNT(DISTINCT source) AS alloc
          FROM s),
        r AS (
          SELECT doc_id, source, n_tokens, quality,
            SUM(n_tokens) OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id) AS cum
          FROM s)
        SELECT doc_id, source, n_tokens, ROUND(quality, 6) AS quality,
          CAST(cum <= a.alloc AS INT) AS admitted
        FROM r, a ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "c19_graph_budget",
      (s, dir) =>
        // Graph-prior-weighted budget (see [[graphBudgetSelect]]):
        // BFS distance from the seed source over the band-sharing
        // source graph reweights c18's per-source allocation 4/2/1.
        // Integer-exact end to end, so the oracle's restatement (the
        // same 3 relaxations unrolled + the weighted prefix cut) is
        // mechanical.
        graphBudgetSelect(docs(s, dir)),
      Some(sqlGraphBudget(seed = "src1", rounds = 3))),
    // ----------------------------------------------------------------
    Q(
      "c20_classifier_budget",
      (s, dir) =>
        // Classifier-gated budget (see [[classifierBudgetSelect]]):
        // t28's trained score replaces the heuristic quality in
        // c17's prefix cut. The oracle re-derives the SAME ten GD
        // rounds (the shared sqlClassifierChain) and states the
        // global-sort prefix over the score; the hash match proves
        // fit + score + histogram cut end-to-end.
        classifierBudgetSelect(docs(s, dir)),
      Some(s"""
        WITH ${TextAnalysis.sqlClassifierChain("src1", 10, 0.5)},
        sc AS (
          SELECT doc_id, n_tokens,
            ${TextAnalysis.sqlClassifierSigmoid} AS score
          FROM (SELECT f.doc_id, f.n_tokens,
                  ${TextAnalysis.sqlClassifierZ("w")} AS z
                FROM f, w10 w)),
        b AS (SELECT COALESCE(SUM(n_tokens), 0) // 2 AS budget FROM sc),
        r AS (
          SELECT doc_id, n_tokens, score,
            SUM(n_tokens) OVER (ORDER BY score DESC, doc_id) AS cum
          FROM sc)
        SELECT doc_id, n_tokens, ROUND(score, 6) AS score,
          CAST(cum <= b.budget AS INT) AS admitted
        FROM r, b ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "c21_perplexity_budget",
      (s, dir) =>
        // Perplexity-gated budget (see [[perplexityBudgetSelect]]):
        // t29's Kneser–Ney LM score ranks the corpus and the token
        // budget admits the best-modeled half. The oracle re-derives
        // the SAME KN chain (shared sqlKnChain) and states the
        // global-sort prefix; Spark computes it via the bounded
        // histogram — the hash match proves LM fit + score + cut.
        perplexityBudgetSelect(docs(s, dir)),
      Some(s"""
        WITH ${TextAnalysis.sqlKnChain},
        b AS (SELECT COALESCE(SUM(n_tokens), 0) // 2 AS budget FROM kn),
        r AS (
          SELECT doc_id, n_tokens, avg_logprob_kn,
            SUM(n_tokens) OVER (ORDER BY avg_logprob_kn DESC, doc_id)
              AS cum
          FROM kn)
        SELECT doc_id, n_tokens,
          ROUND(avg_logprob_kn, 6) AS avg_logprob_kn,
          CAST(cum <= b.budget AS INT) AS admitted
        FROM r, b ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "c22_coreness_budget",
      (s, dir) =>
        // Coreness-prior budget (see [[corenessBudgetSelect]]): q85's
        // h-index coreness over the band-sharing source graph tiers
        // the per-source allocation min(core+1, 4) — low-core
        // (farm-shaped) sources lose budget share at equal quality.
        corenessBudgetSelect(docs(s, dir)),
      Some(sqlCorenessBudget(rounds = 4)))
  )

  /** The c19 oracle: d02's band CTE chain → source adjacency →
    * `rounds` unrolled min-plus relaxations (q78's convention) →
    * integer weights → the per-source weighted prefix cut.
    */
  private def sqlGraphBudget(seed: String, rounds: Int): String = {
    val steps = (1 to rounds).map { it =>
      s"""g$it AS MATERIALIZED (
          SELECT d.source, LEAST(d.dist, COALESCE(i.r, 9)) AS dist
          FROM g${it - 1} d LEFT JOIN (
            SELECT e.sb AS source, MIN(r.dist + 1) AS r
            FROM se e JOIN g${it - 1} r ON r.source = e.sa
            GROUP BY e.sb) i USING (source))"""
    }.mkString(",\n        ")
    s"""
        ${Dedup.sqlBandsCte},
        sbnd AS (
          SELECT DISTINCT d.source, b.band_id, b.band_hash
          FROM bands b JOIN documents d USING (doc_id)),
        se AS (
          SELECT DISTINCT a.source AS sa, b.source AS sb
          FROM sbnd a JOIN sbnd b USING (band_id, band_hash)
          WHERE a.source <> b.source),
        nodes AS (SELECT DISTINCT source FROM documents),
        g0 AS MATERIALIZED (
          SELECT source,
            CASE WHEN source = '$seed' THEN 0 ELSE 9 END AS dist
          FROM nodes),
        $steps,
        c AS (
          SELECT doc_id, source,
            $sqlQualitySignals
          FROM documents WHERE text IS NOT NULL),
        s AS (
          SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
            $sqlQuality AS quality
          FROM c WHERE n_tokens >= 1 AND n_chars >= 1),
        bb AS (SELECT COALESCE(SUM(n_tokens), 0) // 2 AS budget FROM s),
        ssrc AS (SELECT DISTINCT source FROM s),
        wts AS (
          SELECT g.source,
            CASE WHEN g.dist = 0 THEN 4
                 WHEN g.dist = 1 THEN 2 ELSE 1 END AS w
          FROM g$rounds g JOIN ssrc USING (source)),
        tw AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM wts),
        al AS (
          SELECT w.source, (bb.budget * w.w) // tw.sumw AS alloc
          FROM wts w, bb, tw),
        r AS (
          SELECT doc_id, source, n_tokens, quality,
            SUM(n_tokens) OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id) AS cum
          FROM s)
        SELECT r.doc_id, r.source, CAST(g.dist AS INT) AS dist,
          r.n_tokens, ROUND(r.quality, 6) AS quality,
          CAST(r.cum <= al.alloc AS INT) AS admitted
        FROM r JOIN al USING (source) JOIN g$rounds g USING (source)
        ORDER BY doc_id"""
  }

  /** DSIR selection execution (c16) — t23 scores the pool against the
    * target domain; this is the step a pipeline actually runs on the
    * scores: keep each source's top quarter by importance weight
    * (per-SOURCE quota, not a global cut, so one on-domain source
    * can't crowd every other source out of the mix — c03's discipline
    * applied to DSIR's signal). Deterministic rank: the 6-dp-rounded
    * weight is engine-identical, ties break by doc_id; the keep
    * boundary ⌈n/4⌉ = (n+3) div 4 is integer-exact. The paper
    * resamples with Gumbel noise; a production selection wants the
    * reproducible variant, so the quota rank replaces the noise.
    *
    * Scale shape: t23's cost (broadcast ratio table, integer-keyed
    * shuffles) plus ONE window partitioned by source — each source
    * sorts its own scored docs, no global sort, no driver collect.
    */
  def dsirSelect(documents: DataFrame): DataFrame = {
    val w = TextAnalysis.dsirWeights(documents, targetSource = "src1",
      buckets = 4096)
    val win = Window.partitionBy("source")
      .orderBy(col("dsir_logratio").desc, col("doc_id"))
    w.select(col("doc_id"), col("source"), col("dsir_logratio"),
        row_number().over(win).as("rn"),
        count(lit(1)).over(Window.partitionBy("source")).as("n_src"))
      .select(col("doc_id"), col("source"), col("dsir_logratio"),
        (col("rn") <= expr("(n_src + 3) div 4")).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** Token-budget selection (c17) — the corpus-level cut a
    * token-budgeted training run makes: admit documents in
    * (quality DESC, doc_id) order while the running token total fits
    * a global budget B = total_tokens div 2 ("the best half of the
    * corpus by tokens").
    *
    * Scale shape: the naive statement is a GLOBAL SORT plus a
    * single-partition running sum over the whole corpus — the one
    * thing a 100 TB pipeline must never do. This implementation
    * never sorts the corpus: quality folds into `buckets` integer
    * buckets (floor(q·buckets), t23's bounded-histogram discipline),
    * ONE map-side-combining aggregate builds the ≤ buckets+1-row
    * (bucket → token mass) histogram, the driver walks it descending
    * to find the boundary bucket b* and its leftover budget R
    * (bounded fetch, the t11 convention), and only the boundary
    * bucket's ~1/buckets-th of the corpus pays a window (quality
    * DESC, doc_id; running sum ≤ R). Buckets above b* admit
    * wholesale, buckets below reject wholesale. This EQUALS the
    * prefix greedy exactly: floor-bucketing preserves the quality
    * order across bucket boundaries, doc_id breaks ties within a
    * bucket, and n_tokens ≥ 1 makes the running sum strictly
    * monotone. Skew caveat: a corpus whose quality mass concentrates
    * in one bucket pays a proportionally larger boundary window —
    * raise `buckets` (the histogram stays bounded) if profiling
    * shows it.
    */
  def tokenBudgetSelect(documents: DataFrame,
      buckets: Int = 4096): DataFrame = {
    val scored = documents.filter(col("text").isNotNull)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id") +:
        qualitySignals(col("text"), col("toks")): _*)
      .filter(col("n_tokens") >= 1 && col("n_chars") >= 1)
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        qualityScore(col("n_chars"), col("n_tokens"),
          col("n_stop"), col("n_punct")).as("quality"))
      .withColumn("bucket",
        floor(col("quality") * buckets).cast("int"))
    globalFill(scored, "quality")
  }

  /** The global quality-prefix fill shared by c17/c20: one bounded
    * (bucket → token mass) histogram (≤ buckets+1 rows — the
    * histogram IS the sort at scale, and the half-mass budget falls
    * out of the same aggregate), a driver boundary walk, and ONE
    * window over the boundary bucket's slice alone. `rank` names the
    * (0,1)-valued ranking column; ranking/bucketing use its RAW
    * value, the emitted column is round(·, 6) (the repo's
    * emitted-doubles discipline).
    */
  private def globalFill(scored0: DataFrame, rank: String): DataFrame = {
    // Materialize the scored frame ONCE (r19, guide §1.2 "don't
    // compute things you throw away"): the histogram aggregate, the
    // boundary-bucket window and the emit join each re-derived the
    // whole scoring pass — for c21 that is THREE Kneser–Ney passes
    // per run (measured 3.9–6.5 s), for c20 three classifier scoring
    // passes. The frame is per-doc NARROW (doc_id, n_tokens, rank,
    // bucket — never text), so the checkpoint is cheap at any scale;
    // this is the "a deployment persists it" its scaladoc promised,
    // done in-query (the p04 intra-query checkpoint convention).
    val scored = scored0.localCheckpoint()
    val hist = scored.groupBy("bucket").agg(sum("n_tokens").as("mass"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(-_._1)
    val budget = hist.map(_._2).sum / 2
    var acc = 0L
    var boundary: Option[(Int, Long)] = None // (b*, mass above b*)
    hist.foreach { case (b, m) =>
      if (boundary.isEmpty) {
        if (acc + m > budget) boundary = Some((b, acc)) else acc += m
      }
    }
    boundary match {
      case None => // everything fits (empty corpus, or budget >= total)
        scored.select(col("doc_id"), col("n_tokens"),
          round(col(rank), 6).as(rank),
          lit(1).as("admitted")).orderBy("doc_id")
      case Some((bstar, above)) =>
        val leftover = budget - above
        val win = Window.orderBy(col(rank).desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // The ONLY window: over the boundary bucket's slice alone.
        val bnd = scored.filter(col("bucket") === bstar)
          .withColumn("cum", sum("n_tokens").over(win))
          .select(col("doc_id"),
            (col("cum") <= leftover).cast("int").as("adm_b"))
        scored.join(broadcast(bnd), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            round(col(rank), 6).as(rank),
            when(col("bucket") > bstar, lit(1))
              .otherwise(coalesce(col("adm_b"), lit(0))).as("admitted"))
          .orderBy("doc_id")
    }
  }

  /** Classifier-gated budget selection (c20) — t28's TRAINED score
    * replacing c17's heuristic quality in the token-budget cut: the
    * FineWeb-Edu admission pattern (train a quality/domain
    * classifier, gate the corpus on its score) composed end-to-end —
    * fit (10 GD rounds), score map-only, then the bounded-histogram
    * prefix cut over (score DESC, doc_id).
    *
    * Scale shape: t28's fit (iters cheap aggregate passes) plus
    * exactly [[tokenBudgetSelect]]'s cut — no global sort anywhere;
    * the score is computed twice (once inside the histogram
    * aggregate, once on the emit path), both map-only over the scan.
    */
  def classifierBudgetSelect(documents: DataFrame,
      seed: String = "src1", iters: Int = 10, lr: Double = 0.5,
      buckets: Int = 4096): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    TextAnalysis.classifierFit(documents, seed, iters, lr) match {
      case None =>
        Seq.empty[(Long, Long, Double, Int)]
          .toDF("doc_id", "n_tokens", "score", "admitted")
      case Some((feats, w)) =>
        val sc = TextAnalysis
          .classifierSigmoid(TextAnalysis.classifierZ(w))
        val scored = feats.select(col("doc_id"), col("n_tokens"),
          sc.as("score"))
          .withColumn("bucket",
            floor(col("score") * buckets).cast("int"))
        globalFill(scored, "score")
    }
  }

  /** Perplexity-gated budget selection (c21) — the CCNet admission
    * pattern (Wenzek et al. 2020): a count-based LM trained on a
    * held-in reference slice scores the corpus, and the token budget
    * admits the BEST-MODELED half (highest mean KN log-probability =
    * lowest perplexity) — t29's interpolated Kneser–Ney score
    * replacing c17's heuristic quality in the prefix cut, the third
    * ranking signal the budget machinery composes with (heuristic
    * c17, learned classifier c20, LM perplexity c21).
    *
    * Scale shape: t29's scoring (model tables are map-side-combining
    * aggregates of the DISTINCT bigram table; instances join the
    * finished per-pair score once) plus exactly
    * [[tokenBudgetSelect]]'s bounded-histogram cut — no global sort.
    * The LM score lands in (-∞, 0); buckets fold its practical range
    * [-16, 0] by a clamped monotone affine floor (clamping only
    * coarsens the histogram — within-bucket order is re-established
    * by the boundary window, so the cut still EQUALS the global
    * prefix). Like c20, the score frame is computed for the histogram
    * and again on the emit path; a deployment persists it.
    */
  def perplexityBudgetSelect(documents: DataFrame,
      buckets: Int = 4096): DataFrame = {
    val scored = TextAnalysis.knLogprob(documents)
      .withColumn("bucket",
        greatest(lit(0), least(lit(buckets),
          floor((col("avg_logprob_kn") + lit(16.0)) *
            lit(buckets.toDouble / 16.0)).cast("int"))))
    globalFill(scored, "avg_logprob_kn")
  }

  /** Per-source token-budget selection (c18) — the uniform-mixture
    * cap a multi-source training run enforces: half the corpus'
    * token mass split EQUALLY across sources (alloc = (total DIV 2)
    * DIV n_sources), each source filled with its own best documents
    * first — c17's quality-prefix greedy run independently per
    * source, so one over-represented scrape can't crowd the mix
    * (c03's discipline with token-exact accounting). Sources with
    * less mass than their allocation admit everything; leftover
    * allocation is NOT redistributed (the cap is the semantics).
    *
    * Scale shape: [[tokenBudgetSelect]]'s histogram argument per
    * source — ONE (source, bucket)-keyed aggregate bounded by
    * |sources|·(buckets+1) rows, a driver walk per source, and ONE
    * window over the union of per-source boundary slices
    * (partitioned by source, each slice ~1/buckets of its source).
    * Equality with the per-source global sort holds by c17's
    * argument applied within each partition.
    */
  def sourceBudgetSelect(documents: DataFrame,
      buckets: Int = 4096): DataFrame = {
    val scored = scoredWithSource(documents, buckets)
    val hist = sourceHistogram(scored)
    if (hist.isEmpty)
      return scored.select(col("doc_id"), col("source"),
        col("n_tokens"), round(col("quality"), 6).as("quality"),
        lit(1).as("admitted"))
    val alloc = hist.map(_._3).sum / 2 / hist.map(_._1).distinct.length
    perSourceFill(scored, hist, _ => alloc)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        round(col("quality"), 6).as("quality"), col("admitted"))
      .orderBy("doc_id")
  }

  /** (doc_id, source, n_tokens, quality, bucket) — the shared scored
    * projection of c18/c19.
    */
  private def scoredWithSource(documents: DataFrame,
      buckets: Int): DataFrame =
    documents.filter(col("text").isNotNull)
      .withColumn("toks", tokens(col("text")))
      .select(Seq(col("doc_id"), col("source")) ++
        qualitySignals(col("text"), col("toks")): _*)
      .filter(col("n_tokens") >= 1 && col("n_chars") >= 1)
      .select(col("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"),
        qualityScore(col("n_chars"), col("n_tokens"),
          col("n_stop"), col("n_punct")).as("quality"))
      .withColumn("bucket",
        floor(col("quality") * buckets).cast("int"))
      // One tokenize+score pass instead of three: the histogram
      // fetch, the boundary window and the emit join all consume this
      // narrow per-doc frame ([[globalFill]]'s r19 note).
      .localCheckpoint()

  /** The bounded (source, bucket, token mass) histogram — ≤
    * |sources|·(buckets+1) rows, the driver fetch both budget ops
    * plan from.
    */
  private def sourceHistogram(scored: DataFrame)
      : Array[(String, Int, Long)] =
    scored.groupBy("source", "bucket")
      .agg(sum("n_tokens").as("mass"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))

  /** The per-source quality-prefix fill shared by c18/c19: walk each
    * source's bucket histogram descending against its OWN allocation,
    * window only the boundary-bucket slices ([[tokenBudgetSelect]]'s
    * equality-with-the-sort argument, applied per source). Emits
    * `scored`'s columns plus `admitted`.
    */
  private def perSourceFill(scored: DataFrame,
      hist: Array[(String, Int, Long)],
      allocOf: String => Long): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    val bdf = hist.groupBy(_._1).map { case (src, rows) =>
      val alloc = allocOf(src)
      val desc = rows.map(t => t._2 -> t._3).sortBy(-_._1)
      var acc = 0L
      var b: Option[(Int, Long)] = None
      desc.foreach { case (bk, m) =>
        if (b.isEmpty) {
          if (acc + m > alloc) b = Some((bk, alloc - acc)) else acc += m
        }
      }
      (src, b.map(_._1).getOrElse(Int.MinValue),
        b.map(_._2).getOrElse(0L), b.isEmpty)
    }.toSeq.toDF("source", "bstar", "leftover", "allfit")
    val withB = scored.join(broadcast(bdf), Seq("source"))
    val win = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bnd = withB.filter(col("bucket") === col("bstar"))
      .withColumn("cum", sum("n_tokens").over(win))
      .select(col("doc_id"),
        (col("cum") <= col("leftover")).cast("int").as("adm_b"))
    withB.join(broadcast(bnd), Seq("doc_id"), "left")
      .withColumn("admitted",
        when(col("allfit") || col("bucket") > col("bstar"), lit(1))
          .otherwise(coalesce(col("adm_b"), lit(0))))
      .drop("bstar", "leftover", "allfit", "adm_b")
  }

  /** Graph-prior-weighted budget selection (c19) — the q77/q78 graph
    * tier composed into curation (the stated motivation of
    * [[graft.ops.Graph]]): a link-distance prior over SOURCES
    * reweights c18's per-source token allocation, so content-adjacent
    * sources get a larger share of the budget at equal quality — what
    * a crawl-frontier pipeline does with a seed-proximity signal.
    *
    * The source graph is derived from the corpus itself: sources are
    * adjacent when any of their documents share a MinHash band bucket
    * (d02's banding — shared near-dup content IS the link). BFS from
    * the seed source (`src1`, c16's DSIR target domain) gives an
    * integer hop distance (3 fixed rounds, sentinel 9 beyond), mapped
    * to weights 4/2/1 for dist 0/1/≥2; each source's allocation is
    * (budget · w) DIV Σw and the fill is c18's histogram cut.
    *
    * Scale shape: the band table is d02's (shuffles signatures, never
    * text); the source projection collapses it to ≤ |sources|·8·
    * |buckets-per-source| rows and the EDGE list is ≤ |sources|²
    * (sources are a catalog-scale dimension — thousands, not
    * billions), so the BFS runs on the driver over a bounded edge
    * set, exactly like c17's histogram walk. Everything downstream
    * is c18's machinery.
    */
  /** The band-sharing SOURCE graph shared by c19/c22: sources are
    * adjacent when any of their documents share a MinHash band bucket
    * (d02's banding — shared near-dup content IS the link). Directed
    * both ways, distinct. Bounded driver fetch: the edge set is
    * ≤ |sources|² and sources are a catalog-scale dimension
    * (thousands, not billions); the corpus-scale work is d02's band
    * pass, which shuffles signatures, never text.
    */
  private def sourceEdges(documents: DataFrame)
      : Array[(String, String)] = {
    val sb = Dedup.minhashBands(documents)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("band_id"), col("band_hash"))
      .distinct()
    sb.as("a").join(sb.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.source") =!= col("b.source"))
      .select(col("a.source").as("sa"), col("b.source").as("sb"))
      .distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
  }

  /** Fixed-round h-index coreness over a bounded symmetric edge list —
    * q85's recurrence run on the driver because the node set is the
    * source catalog (c19's BFS altitude argument). `rounds` rounds of
    * c_k(v) = min(c_{k-1}(v), h-index over neighbors' c_{k-1}); c_0 =
    * degree. Integer-exact and tie-insensitive (the h-index is
    * invariant under permuting equal neighbor values), so the oracle
    * restates it mechanically.
    */
  private[graft] def sourceCoreness(edges: Array[(String, String)],
      nodes: Array[String], rounds: Int): Map[String, Long] = {
    val adj = edges.groupBy(_._1).map { case (a, es) =>
      a -> es.map(_._2)
    }
    var c: Map[String, Long] = nodes.map(n =>
      n -> adj.get(n).map(_.length.toLong).getOrElse(0L)).toMap
    for (_ <- 1 to rounds) {
      val h = adj.map { case (n, nbrs) =>
        val vals = nbrs.map(c).sortBy(-_)
        n -> vals.zipWithIndex
          .map { case (v, i) => math.min(i + 1L, v) }.max
      }
      c = c.map { case (n, cv) =>
        n -> math.min(cv, h.getOrElse(n, 0L))
      }
    }
    c
  }

  /** Coreness-prior budget selection (c22) — q85's stated motivation
    * made real: spam rings and boilerplate farms sit in LOW cores of
    * the content-sharing graph (a farm's near-dup links concentrate
    * on few counterparties, so its h-index collapses under the
    * k-core peel), while well-embedded sources survive to deeper
    * cores. The coreness TIER of each source in the band-sharing
    * source graph reweights c18's per-source allocation — weight
    * min(coreness + 1, 4), so a low-core source loses budget share
    * at equal quality. Everything downstream is c18's bounded
    * histogram cut; the coreness recurrence is [[sourceCoreness]]
    * (q85 at catalog altitude). Scale shape: c19's — d02's band pass
    * is the only corpus-scale work.
    */
  def corenessBudgetSelect(documents: DataFrame,
      buckets: Int = 4096, rounds: Int = 4): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val scored = scoredWithSource(documents, buckets)
    val hist = sourceHistogram(scored)
    if (hist.isEmpty)
      return Seq.empty[(Long, String, Long, Long, Double, Int)]
        .toDF("doc_id", "source", "coreness", "n_tokens", "quality",
          "admitted")
    val edges = sourceEdges(documents)
    val allSources = documents.select(col("source")).distinct()
      .collect().map(_.getString(0))
    val core = sourceCoreness(edges, allSources, rounds)
    val budget = hist.map(_._3).sum / 2
    def weight(c: Long): Long = math.min(c + 1, 4L)
    val scoredSources = hist.map(_._1).distinct
    val sumW = scoredSources.map(src => weight(core(src))).sum
    val allocOf = (src: String) => budget * weight(core(src)) / sumW
    val coreDf = core.toSeq.toDF("source", "coreness")
    perSourceFill(scored, hist, allocOf)
      .join(broadcast(coreDf), Seq("source"))
      .select(col("doc_id"), col("source"), col("coreness"),
        col("n_tokens"), round(col("quality"), 6).as("quality"),
        col("admitted"))
      .orderBy("doc_id")
  }

  /** The c22 oracle: [[sourceCoreness]]'s h-index rounds unrolled over
    * the band-derived source edge set ([[sqlGraphBudget]]'s graph
    * CTEs + q85's step convention), then c18's weighted prefix cut.
    */
  private def sqlCorenessBudget(rounds: Int): String = {
    val steps = (1 to rounds).map { it =>
      s"""h$it AS MATERIALIZED (
          SELECT dst AS source, MAX(LEAST(rn, nc)) AS h FROM (
            SELECT e.sb AS dst, r.c AS nc,
              ROW_NUMBER() OVER (PARTITION BY e.sb
                                 ORDER BY r.c DESC) AS rn
            FROM se e JOIN k${it - 1} r ON r.source = e.sa)
          GROUP BY dst),
        k$it AS MATERIALIZED (
          SELECT k.source, LEAST(k.c, COALESCE(h.h, 0)) AS c
          FROM k${it - 1} k LEFT JOIN h$it h USING (source))"""
    }.mkString(",\n        ")
    s"""
        ${Dedup.sqlBandsCte},
        sbnd AS (
          SELECT DISTINCT d.source, b.band_id, b.band_hash
          FROM bands b JOIN documents d USING (doc_id)),
        se AS (
          SELECT DISTINCT a.source AS sa, b.source AS sb
          FROM sbnd a JOIN sbnd b USING (band_id, band_hash)
          WHERE a.source <> b.source),
        nodes AS (SELECT DISTINCT source FROM documents),
        deg AS (SELECT sa AS source, COUNT(*) AS c FROM se GROUP BY sa),
        k0 AS MATERIALIZED (
          SELECT n.source, COALESCE(d.c, 0) AS c
          FROM nodes n LEFT JOIN deg d USING (source)),
        $steps,
        c AS (
          SELECT doc_id, source,
            $sqlQualitySignals
          FROM documents WHERE text IS NOT NULL),
        s AS (
          SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
            $sqlQuality AS quality
          FROM c WHERE n_tokens >= 1 AND n_chars >= 1),
        bb AS (SELECT COALESCE(SUM(n_tokens), 0) // 2 AS budget FROM s),
        ssrc AS (SELECT DISTINCT source FROM s),
        wts AS (
          SELECT k.source, LEAST(k.c + 1, 4) AS w
          FROM k$rounds k JOIN ssrc USING (source)),
        tw AS (SELECT CAST(SUM(w) AS BIGINT) AS sumw FROM wts),
        al AS (
          SELECT w.source, (bb.budget * w.w) // tw.sumw AS alloc
          FROM wts w, bb, tw),
        r AS (
          SELECT doc_id, source, n_tokens, quality,
            SUM(n_tokens) OVER (PARTITION BY source
                                ORDER BY quality DESC, doc_id) AS cum
          FROM s)
        SELECT r.doc_id, r.source, CAST(k.c AS BIGINT) AS coreness,
          r.n_tokens, ROUND(r.quality, 6) AS quality,
          CAST(r.cum <= al.alloc AS INT) AS admitted
        FROM r JOIN al USING (source) JOIN k$rounds k USING (source)
        ORDER BY doc_id"""
  }

  def graphBudgetSelect(documents: DataFrame, seed: String = "src1",
      buckets: Int = 4096, rounds: Int = 3): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val scored = scoredWithSource(documents, buckets)
    val hist = sourceHistogram(scored)
    if (hist.isEmpty)
      return Seq.empty[(Long, String, Int, Long, Double, Int)]
        .toDF("doc_id", "source", "dist", "n_tokens", "quality",
          "admitted")
    // Source adjacency from shared band buckets — bounded driver
    // fetch (≤ |sources|² pairs).
    val edges = sourceEdges(documents)
    // Synchronous min-plus relaxation, `rounds` rounds — the same
    // recurrence as q78, run on the driver because the node set is
    // the bounded source catalog.
    val allSources = documents.select(col("source")).distinct()
      .collect().map(_.getString(0))
    var dist = allSources.map(src =>
      src -> (if (src == seed) 0 else 9)).toMap
    for (_ <- 1 to rounds) {
      val relaxed = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (sa, _) => dist(sa) + 1 }.min
      }
      dist = dist.map { case (src, d) =>
        src -> math.min(d, relaxed.getOrElse(src, 9))
      }
    }
    val budget = hist.map(_._3).sum / 2
    def weight(d: Int): Long = if (d == 0) 4L else if (d == 1) 2L else 1L
    val scoredSources = hist.map(_._1).distinct
    val sumW = scoredSources.map(src => weight(dist(src))).sum
    val allocOf = (src: String) => budget * weight(dist(src)) / sumW
    val distDf = dist.toSeq.toDF("source", "dist")
    perSourceFill(scored, hist, allocOf)
      .join(broadcast(distDf), Seq("source"))
      .select(col("doc_id"), col("source"), col("dist"),
        col("n_tokens"), round(col("quality"), 6).as("quality"),
        col("admitted"))
      .orderBy("doc_id")
  }

  /** Temperature-mixture EXECUTION (c14) — c13 computes the α=1/2
    * weights and implied epochs; this materializes them as an actual
    * resampled corpus of the SAME total token mass: each source's
    * allocation alloc_s = round(total · w_s) becomes an integer plan
    * (copies = alloc div n_tokens full replications, plus one extra
    * copy for the hash-admitted frac_pct = (alloc mod n_tokens)·100
    * div n_tokens percent of docs — the c01 bucket family, so a
    * doc's copy count is reproducible from its id alone). Small
    * sources REPLICATE (the epochs > 1 signal c13 reports), large
    * ones thin out — c06 can only downsample.
    *
    * Scale shape: one corpus pass for the token counts (c13's
    * aggregate), the ≤|sources|-row plan broadcasts back, and the
    * replication is a map-side explode of at most ⌈epochs⌉ copies —
    * no shuffle carries text; the audit aggregate partial-combines.
    * Integer plan arithmetic end-to-end, so the oracle's
    * multiplication restatement hash-matches the exploded mass.
    */
  def temperatureResample(documents: DataFrame): DataFrame = {
    val d = documents.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"),
        hashBucket(col("doc_id")).as("bucket"))
    val t = d.groupBy("source")
      .agg(sum(col("n_toks")).as("n_tokens"))
      .withColumn("sq",
        expr("cast(sqrt(cast(n_tokens as double)) as decimal(28,12))"))
    val tot = t.agg(sum(col("sq")).as("tot_sq"),
      sum(col("n_tokens")).as("tot_tokens"))
    val plan = t.crossJoin(broadcast(tot))
      .withColumn("alloc",
        floor(col("tot_tokens").cast("double") *
          (col("sq").cast("double") / col("tot_sq").cast("double")) +
          lit(0.5)).cast("long"))
      .select(col("source"), col("alloc"),
        expr("alloc div n_tokens").as("copies"),
        expr("((alloc % n_tokens) * 100) div n_tokens").as("frac_pct"))
    d.join(broadcast(plan), "source")
      .withColumn("n_copies",
        col("copies") +
          when(col("bucket") < col("frac_pct"), 1L).otherwise(0L))
      .filter(col("n_copies") >= 1) // sequence(1,0) is DESCENDING
      .select(col("source"), col("alloc"), col("copies"),
        col("frac_pct"), col("n_toks"),
        explode(sequence(lit(1L), col("n_copies"))).as("copy_id"))
      .groupBy("source", "copies", "frac_pct", "alloc")
      .agg(count(lit(1)).as("n_docs_out"),
        sum(col("n_toks")).as("out_tokens"))
      .select(col("source"), col("copies"), col("frac_pct"),
        col("n_docs_out"), col("out_tokens"),
        col("alloc").as("alloc_tokens"),
        round(col("out_tokens").cast("double") /
          col("alloc").cast("double"), 6).as("fill"))
      .orderBy("source")
  }

  /** NTILE(k) tile assignment computed from a DISTINCT-VALUE table —
    * the scale-safe replacement for a corpus-wide `ntile` window
    * (the r11 verdict's c10/c11 fix). Input: one row per distinct
    * ordering value with `cnt` (rows carrying the value) and `off`
    * (rows strictly before it in the total order) plus any carry
    * columns; rows of one value occupy global positions
    * [off+1, off+cnt]. Output: the input exploded to one row per
    * (value, tile) it overlaps, with `stage` (1-based tile) and
    * `rows_in` (how many of the value's rows land in that tile) —
    * exactly NTILE's first-(n mod k)-tiles-get-one-extra boundaries,
    * restated as pure integer arithmetic against a broadcast 1-row
    * total. No row-level sort anywhere: the corpus-scale work is the
    * groupBy that built the distinct table; everything here is sized
    * by the VALUE DOMAIN (bounded — 6-dp quality, 8-bit z), not the
    * corpus. Per-tile aggregates of functions of the value are then
    * exact: each overlapping value contributes ≥1 row to the tile, so
    * min/max over values equal min/max over rows, and weighted sums
    * use `rows_in`.
    */
  private[ops] def tileSlices(valsWithOff: DataFrame, k: Int): DataFrame = {
    // tile of global position p: the first (n mod k) tiles hold
    // floor(n/k)+1 rows, the rest floor(n/k) — NTILE's contract. The
    // CASE guards the szs=0 division (n < k ⇒ every p sits in the
    // first branch).
    def stageOf(p: String) = expr(
      s"""CASE WHEN $p <= big * (szs + 1)
            THEN ($p - 1) div (szs + 1) + 1
            ELSE big + ($p - big * (szs + 1) - 1) div szs + 1 END""")
    val tot = valsWithOff.agg(sum(col("cnt")).as("n_total"))
    valsWithOff.crossJoin(broadcast(tot))
      .withColumn("p1", col("off") + 1)
      .withColumn("p2", col("off") + col("cnt"))
      .withColumn("big", col("n_total") % k)
      .withColumn("szs", expr(s"n_total div $k"))
      // a value overlaps the contiguous tile range [stageOf(first),
      // stageOf(last)] — at most k entries per value
      .withColumn("stage", explode(sequence(stageOf("p1"), stageOf("p2"))))
      .withColumn("rows_in",
        least(col("stage") * col("szs") + least(col("stage"), col("big")),
          col("p2")) -
          greatest((col("stage") - 1) * col("szs") +
            least(col("stage") - 1, col("big")) + 1, col("p1")) + 1)
      .drop("p1", "p2", "big", "szs", "n_total")
  }

  /** Distributed per-source running token total in doc_id order — the
    * packing prefix sum (c04/c12/p04) WITHOUT the per-source
    * sequential window (the r11 verdict's c04 fix: source cardinality
    * is tiny, so `Window.partitionBy(source)` streams one source's
    * entire doc list through one task at 100×). Classic two-pass
    * parallel prefix sum: chunk ids are a PURE FUNCTION of doc_id
    * (equal-width id ranges against broadcast min/max bounds), so
    * both passes agree even when the input is recomputed — chunk
    * membership never depends on physical planning, and the operator
    * holds NO state or checkpoint of its own. Pass 1: per-(chunk,
    * source) running sums — every chunk packs in parallel; pass 2: a
    * chunk-offset table of ≤ C·|sources| rows turned into per-chunk
    * starting offsets and broadcast back. cum = chunk offset + local
    * running sum is BIT-IDENTICAL to the single-window formulation
    * (long sums are associative; chunk boundaries move work, never
    * values — pinned by CurationSpec's equality test).
    *
    * The input is scanned once per pass (twice total) — callers with
    * an EXPENSIVE upstream (p04's BPE-token table) materialize the
    * narrow (source, doc_id, tokens) projection themselves before
    * calling. Skew note: equal-width id ranges assume ids spread
    * across their span (true of the testdata's dense ids); a corpus
    * with pathological id clustering would derive chunks from
    * quantile bounds instead — same algorithm, different bound table.
    */
  def packedCum(tok: DataFrame, tokCol: String): DataFrame = {
    val c = 4 * tok.sparkSession.sparkContext.defaultParallelism
    val bounds = tok.agg(min(col("doc_id")).as("lo"),
      max(col("doc_id")).as("hi"))
    val chunked = tok.crossJoin(broadcast(bounds))
      .withColumn("chunk",
        expr(s"cast((doc_id - lo) div ((hi - lo) div $c + 1) as int)"))
      .drop("lo", "hi")
    val localW = Window.partitionBy(col("chunk"), col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // chunk ids ascend with the (source, doc_id) ranges, so the
    // offset of a chunk is the subtotal of lower-id chunks of the
    // same source — a window over the TINY subtotal table only.
    val offW = Window.partitionBy(col("source")).orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = chunked.groupBy("chunk", "source")
      .agg(sum(col(tokCol).cast("long")).as("subtot"),
        count(col(tokCol)).as("subcnt"))
      .withColumn("off", coalesce(sum(col("subtot")).over(offW), lit(0L)))
      .withColumn("offcnt",
        coalesce(sum(col("subcnt")).over(offW), lit(0L)))
      .select(col("chunk"), col("source"), col("off"), col("offcnt"))
    // SQL window SUM skips NULL token counts and is NULL only while
    // the frame holds no non-null value yet — reproduce that exactly
    // with non-null-seen counts (a chunk-leading NULL must inherit
    // the previous chunks' total, and a source-leading NULL must stay
    // NULL, not 0).
    chunked
      .withColumn("lcum", sum(col(tokCol).cast("long")).over(localW))
      .withColumn("lcnt", count(col(tokCol)).over(localW))
      .join(broadcast(offsets), Seq("chunk", "source"))
      .withColumn("cum",
        when(col("lcnt") + col("offcnt") > 0,
          coalesce(col("lcum"), lit(0L)) + col("off")))
      .drop("chunk", "lcum", "lcnt", "off", "offcnt")
  }

  /** c04's packing manifest from a (doc_id, source, text) frame —
    * 4096-token bins per source in doc_id order, running total via
    * [[packedCum]].
    */
  def packingManifest(documents: DataFrame): DataFrame =
    packedCum(
      documents
        .withColumn("n_tokens", size(tokens(col("text"))))
        .select(col("source"), col("doc_id"), col("n_tokens")),
      "n_tokens")
      .withColumn("bin_id", expr("(cum - n_tokens) div 4096"))
      .groupBy("source", "bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("bin_tokens"))
      .orderBy("source", "bin_id")

  /** c10's curriculum-stage manifest — quality-ordered NTILE(4) cut
    * computed from the bounded 6-dp distinct-value table via
    * [[tileSlices]] (no corpus-wide sort or window anywhere; see the
    * c10 registration comment for the full scale story).
    */
  def curriculumStages(documents: DataFrame): DataFrame = {
    val qv = documents
      .filter(col("text").isNotNull)
      .withColumn("toks", tokens(col("text")))
      .select(Seq(col("doc_id")) ++
        qualitySignals(col("text"), col("toks")): _*)
      .filter(col("n_tokens") >= 1)
      .select(round(qualityScore(col("n_chars"), col("n_tokens"),
        col("n_stop"), col("n_punct")), 6).as("q"))
    // The distinct-value table is consumed by FIVE branches (bucket
    // totals ×2 via the self-join, the offset join, and tileSlices'
    // total + main) — materialize the ONE corpus-scale reduction once
    // or every branch re-runs the quality scan (measured 17.6 s → 3 s
    // at ×20: README "Measured dedup scaling"). The table is
    // domain-bounded (≤ 1e6+1 six-dp values), so the checkpoint is
    // tiny.
    val byVal = qv.groupBy("q").agg(count(lit(1)).as("cnt"))
      .withColumn("qb", floor(col("q") * 1000).cast("int"))
      .localCheckpoint()
    val bTot = byVal.groupBy("qb").agg(sum(col("cnt")).as("btot"))
    // DESC order: a bucket's offset is the mass of HIGHER buckets
    val bOff = bTot.as("a")
      .join(broadcast(bTot.as("b")), col("b.qb") > col("a.qb"), "left")
      .groupBy(col("a.qb"))
      .agg(coalesce(sum(col("b.btot")), lit(0L)).as("boff"))
    val wIn = Window.partitionBy(col("qb")).orderBy(col("q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withOff = byVal.join(broadcast(bOff), "qb")
      .withColumn("off",
        col("boff") + coalesce(sum(col("cnt")).over(wIn), lit(0L)))
      .select(col("q"), col("cnt"), col("off"))
    tileSlices(withOff, 4)
      .groupBy("stage")
      .agg(
        sum(col("rows_in")).as("n_docs"),
        min(col("q")).as("min_q"),
        max(col("q")).as("max_q"),
        (sum(col("q").cast("decimal(16,6)") * col("rows_in"))
          .cast("double") / sum(col("rows_in"))).as("avg_q"))
      .select(col("stage").cast("int").as("stage"), col("n_docs"),
        col("min_q"), col("max_q"), col("avg_q"))
      .orderBy("stage")
  }

  /** c11's z-order shard manifest — windowless NTILE(8) cut over the
    * ≤256-value z table via [[tileSlices]] (see the c11 registration
    * comment).
    */
  def zorderShards(documents: DataFrame): DataFrame = {
    val b = documents
      .filter(col("text").isNotNull)
      .withColumn("toks", tokens(col("text")))
      .select(Seq(col("doc_id")) ++
        qualitySignals(col("text"), col("toks")): _*)
      .filter(col("n_tokens") >= 1)
      .select(col("doc_id"),
        least(floor(col("n_chars") / 128), lit(15)).cast("int")
          .as("bx"),
        least(floor(
          round(qualityScore(col("n_chars"), col("n_tokens"),
            col("n_stop"), col("n_punct")), 6) * 16), lit(15))
          .cast("int").as("by"))
      .withColumn("z", expr(zFormula("div")))
    // ≤256 rows consumed by four branches — materialize the one
    // corpus-scale reduction once (the c10 discipline).
    val byVal = b.groupBy("z", "bx", "by")
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // ASC order: a value's offset is the mass of LOWER z values —
    // a ≤256×256 broadcast non-equi self-join, corpus-independent
    val withOff = byVal.as("a")
      .join(broadcast(byVal.as("b")), col("b.z") < col("a.z"), "left")
      .groupBy(col("a.z"), col("a.bx"), col("a.by"), col("a.cnt"))
      .agg(coalesce(sum(col("b.cnt")), lit(0L)).as("off"))
    tileSlices(withOff, 8)
      .groupBy("stage")
      .agg(sum(col("rows_in")).as("n_docs"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"),
        min(col("bx")).as("min_bx"), max(col("bx")).as("max_bx"),
        min(col("by")).as("min_by"), max(col("by")).as("max_by"))
      .select(col("stage").cast("int").as("shard"), col("n_docs"),
        col("min_z"), col("max_z"), col("min_bx"), col("max_bx"),
        col("min_by"), col("max_by"))
      .orderBy("shard")
  }

  /** The 8-bit Morton interleave of two 4-bit buckets as pure
    * integer-arithmetic SQL, rendered with the engine's integer-div
    * operator (`div` Spark, `//` DuckDB) — ONE definition for both
    * sides so the bit layout can't drift. bx owns the odd bits, by
    * the even: z = Σᵢ ((bx div 2ⁱ) % 2)·2^(2i+1) + ((by div 2ⁱ) % 2)·2^(2i).
    */
  private[ops] def zFormula(intDiv: String): String =
    (0 until 4).map { i =>
      val (pb, qb) = (1 << i, 1 << (2 * i + 1))
      s"((bx $intDiv $pb) % 2) * $qb + ((by $intDiv $pb) % 2) * ${qb / 2}"
    }.mkString(" + ")
}
