package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Deduplication operators over the `documents` / `embeddings` tables:
  * exact (hash-groupBy), MinHash+LSH (shingle→minhash→band→bucket
  * join), SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - exact dedup is one shuffle on the content hash (never on the
  *    content itself — the hash is 16 bytes, the document is KBs);
  *  - MinHash/LSH turns the O(n²) pair problem into an equi-join on
  *    (band_id, band_hash), i.e. a plain shuffle join whose fan-out is
  *    bounded by bucket size; candidate verification touches only
  *    bucket-mates;
  *  - SimHash emits one 8-byte signature per doc; near-dup = small
  *    Hamming distance, again joinable via bit-prefix bucketing;
  *  - embedding near-dup blocks on a coarse key before any pairwise
  *    cosine: `label` in d06 (oracle baseline) and hyperplane LSH
  *    bands in d09 (the scale path — blocks stay similarity-local
  *    instead of growing with the corpus).
  *
  * md5-derived hash families are used wherever a DuckDB oracle checks
  * the result bit-for-bit; xxhash64 variants (d05, simhashes) are the
  * cheaper scale path — same algorithms, 8-byte hashes.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** (doc_id, shingle) rows — the shared head of every MinHash
    * pipeline.
    *
    * Two hard-won performance rules are encoded here:
    *  - repartition first: document corpora often arrive as few large
    *    files; the hash stage is CPU-bound, so fan it out to the
    *    cluster's parallelism instead of inheriting scan partitioning
    *    (one 580 KB file = one task = one core otherwise). The
    *    explicit count keeps AQE from coalescing the tiny exchange
    *    back to one partition.
    *  - explode a cheap INDEX sequence, not the shingle-string array:
    *    exploding `shingles3(toks)` inlines the string-building
    *    higher-order function into the Generate, where it is
    *    re-evaluated per OUTPUT row (~10 s for 240k shingles);
    *    exploding `sequence(...)` and building each shingle as a plain
    *    post-explode projection is whole-stage-codegen'd (~1 s).
    * Semantics are identical to explode(shingles3(toks)).
    */
  def shingleRows(documents: DataFrame): DataFrame = {
    val toks = col("toks")
    documents
      // Null text has no content identity: without this filter every
      // null-text doc hashes to the SAME (empty) band signature, they
      // all pair with each other, and their empty shingle sets divide
      // by zero in the Jaccard verify (found by NullInputSpec).
      .filter(col("text").isNotNull)
      .repartition(
        documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), toks,
        explode(sequence(lit(1), greatest(size(toks) - 2, lit(1))))
          .as("i"))
      .select(col("doc_id"),
        when(size(toks) >= 3,
          concat_ws(" ",
            element_at(toks, col("i")),
            element_at(toks, col("i") + 1),
            element_at(toks, col("i") + 2)))
          .otherwise(array_join(toks, " ")).as("t"))
  }

  /** Cross-corpus boilerplate n-gram filter (the RefinedWeb /
    * MassiveText "duplicated n-gram across documents" family —
    * complementary to t08's WITHIN-document repetition): an n-gram is
    * boilerplate when it occurs in at least `minDocs` DISTINCT
    * documents, and a document is dropped when more than `maxFrac` of
    * its n-gram positions are boilerplate. Catches template text,
    * navigation chrome, and licence blocks that exact/minhash dedup
    * miss because the surrounding document differs.
    *
    * Scale shape: one token scan builds each n-gram as a plain
    * post-explode projection (the shingleRows discipline — never
    * explode a HOF-built array); the corpus-frequency side deduplicates
    * (gram, doc_id) BEFORE counting (the q27 dedup-then-count rule, no
    * Expand) and both groupBys partial-aggregate map-side, so shuffles
    * carry (gram, id) pairs, never documents. The frequency table
    * joins back to the positions on the gram — a plain shuffle
    * equi-join whose build side is n-grams, not text. At 100 TB the
    * join key would be xxhash64(gram) (8 bytes vs the gram string);
    * the string key here keeps the oracle bit-checkable — the
    * algorithm is unchanged.
    *
    * Output (doc_id, n_grams, n_boiler, boiler_frac, is_kept), one row
    * per document with ≥ n tokens (shorter docs carry no window).
    */
  def boilerplateNgrams(
      documents: DataFrame, n: Int, minDocs: Int,
      maxFrac: Double): DataFrame = {
    require(n >= 2, s"n-gram width must be at least 2, got $n")
    val toks = col("toks")
    val grams = documents
      .filter(col("text").isNotNull)
      .repartition(
        documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .filter(size(toks) >= n)
      .select(col("doc_id"), toks,
        explode(sequence(lit(1), size(toks) - (n - 1))).as("i"))
      .select(col("doc_id"),
        concat_ws(" ",
          (0 until n).map(j => element_at(toks, col("i") + j)): _*)
          .as("gram"))
    val freq = grams.select("gram", "doc_id").distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
    grams.join(freq, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("nd") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        round(col("n_boiler").cast("double") /
          col("n_grams").cast("double"), 6).as("boiler_frac"),
        (col("n_boiler").cast("double") / col("n_grams").cast("double")
          <= maxFrac).cast("int").as("is_kept"))
      .orderBy("doc_id")
  }

  /** Eval-set DECONTAMINATION (the benchmark-overlap filter every
    * LLM training pipeline runs before the corpus ships — the GPT-3 /
    * PaLM n-gram-collision discipline): a training document is
    * contaminated when it shares at least one distinct `n`-gram with
    * any document of the held-out eval set, and contaminated
    * documents are flagged for removal so benchmark answers can't
    * leak into training text. Here the eval set is carved
    * deterministically from the corpus itself (doc_id % `evalMod` =
    * 0 — a stand-in for the real benchmark table, which arrives as a
    * separate small relation in production).
    *
    * Complements c05 (`Curation`): c05 scores a CONTAMINATION
    * FRACTION of 3-gram overlap against a source-slice benchmark and
    * flags at ≥ 80% — the near-copy detector; this is the strict
    * ANY-collision rule over wide grams (one shared 8-gram = out)
    * that production decontamination actually applies, with
    * per-eval-doc attribution (`n_eval_docs`) so a leaked benchmark
    * can be traced.
    *
    * Scale shape — the asymmetry IS the design: the eval side is
    * tiny (benchmarks are thousands of prompts, the corpus is 100 TB)
    * so its distinct gram set BROADCASTS and the contamination probe
    * is a map-side hash join against the training gram stream — the
    * corpus is never shuffled by gram. Grams build as post-explode
    * projections (the shingleRows discipline), dedup per (doc, gram)
    * BEFORE any join (the q27 rule), and carry 16-hex md5 prefixes,
    * never text. Hit accounting dedups (doc, gram) / (doc, eval_doc)
    * separately then counts — two plain aggregates, no Expand.
    *
    * Output (doc_id, n_grams, n_hit, n_eval_docs, is_kept), one row
    * per non-null-text TRAINING document (eval docs are not graded;
    * docs shorter than `n` tokens carry no window and keep
    * trivially).
    */
  def decontaminate(
      documents: DataFrame, n: Int, evalMod: Int): DataFrame = {
    require(n >= 2, s"n-gram width must be at least 2, got $n")
    require(evalMod >= 2, s"evalMod must be at least 2, got $evalMod")
    val toks = col("toks")
    val base = documents
      .filter(col("text").isNotNull)
      .repartition(
        documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("toks", tokens(col("text")))
    val isEval = col("doc_id") % evalMod === 0
    def grams(df: DataFrame): DataFrame = df
      .filter(size(toks) >= n)
      .select(col("doc_id"), toks,
        explode(sequence(lit(1), size(toks) - (n - 1))).as("i"))
      .select(col("doc_id"),
        substring(md5(concat_ws(" ",
          (0 until n).map(j => element_at(toks, col("i") + j)): _*)),
          1, 16).as("g"))
      .distinct()
    val evalGrams = grams(base.filter(isEval))
      .withColumnRenamed("doc_id", "eval_id")
    val trainGrams = grams(base.filter(!isEval))
    // (train doc, gram, eval doc) collision rows: map-side broadcast
    // probe — the corpus side never shuffles on the gram
    val hits = trainGrams.join(broadcast(evalGrams), "g")
    val nHit = hits.select("doc_id", "g").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    val nEval = hits.select("doc_id", "eval_id").distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_eval_docs"))
    val nGrams = trainGrams
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    base.filter(!isEval).select(col("doc_id"))
      .join(nGrams, Seq("doc_id"), "left")
      .join(nHit, Seq("doc_id"), "left")
      .join(nEval, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"),
        (coalesce(col("n_hit"), lit(0L)) === 0).cast("int")
          .as("is_kept"))
      .orderBy("doc_id")
  }

  /** Duplicated-passage REMOVAL (the exact-substring-dedup step of
    * RefinedWeb/Dolma-class pipelines): where [[boilerplateNgrams]]
    * (d13) only FLAGS documents, this rewrites their text — every
    * token position covered by an n-gram that occurs in ≥ `minDocs`
    * distinct documents is excised, and the document is rebuilt from
    * the surviving tokens in order. Unique text survives
    * byte-identical (modulo whitespace normalization: the rebuild
    * joins tokens with single spaces — tokens are ORIGINAL-case
    * whitespace splits, the t13 convention, because removal output is
    * training text, not a normalized signature).
    *
    * Scale shape — d13's gram machinery plus one map-only expansion:
    * grams build as post-explode projections (the shingleRows rule),
    * the frequency side dedups (gram, doc_id) before counting, the
    * gram join is a plain equi-join carrying (gram, start) pairs, and
    * coverage (gram start → n covered positions) explodes a constant
    * ≤ n-row sequence per duplicated gram. The rebuild groups once on
    * doc_id; the anti-join that drops covered positions is keyed
    * (doc_id, pos) — shuffles carry token rows, never documents. At
    * 100 TB the gram join key would be xxhash64(gram) (d13's note);
    * the string key keeps the oracle bit-checkable.
    *
    * Output (doc_id, n_tokens, n_removed, clean_text), one row per
    * non-null-text document.
    */
  def removePassages(
      documents: DataFrame, n: Int, minDocs: Int): DataFrame = {
    require(n >= 2, s"n-gram width must be at least 2, got $n")
    val toks = col("toks")
    val base = documents
      .filter(col("text").isNotNull)
      .repartition(
        documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("toks",
        filter(split(col("text"), "\\s+"), t => length(t) > 0))
    val tok = base
      .select(col("doc_id"), posexplode(toks).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok"))
    val grams = base
      .filter(size(toks) >= n)
      .select(col("doc_id"), toks,
        explode(sequence(lit(1), size(toks) - (n - 1))).as("i"))
      .select(col("doc_id"), col("i"),
        concat_ws(" ",
          (0 until n).map(j => element_at(toks, col("i") + j)): _*)
          .as("gram"))
    val dupGrams = grams.select("gram", "doc_id").distinct()
      .groupBy("gram").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("gram")
    val covered = grams.join(dupGrams, "gram")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (n - 1))).as("pos"))
      .distinct()
    val kept = tok.join(covered, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            p => p.getField("tok"))).as("clean_text"))
    base.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** The d15 oracle's CTE chain (original-case tokens with positions,
    * duplicated grams, covered positions, kept tokens, the per-doc
    * rebuild `agg`) — shared with p04's composed pipeline, which
    * consumes the cleaned text instead of the final roster.
    */
  val sqlRemovePassagesCtes: String = """d AS (
          SELECT doc_id,
            list_filter(string_split_regex(text, '\s+'),
                        x -> len(x) > 0) AS toks
          FROM documents WHERE text IS NOT NULL),
        tok AS (
          SELECT doc_id, u.i AS pos, u.t AS tok
          FROM d, unnest(list_transform(range(1, len(toks) + 1),
                         i -> {'i': i, 't': toks[i]})) AS s(u)),
        grams AS (
          SELECT doc_id, CAST(i AS INT) AS i,
            array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+4], ' ')
              AS gram
          FROM d, unnest(range(1, len(toks) - 3)) AS t(i)
          WHERE len(toks) >= 5),
        dup AS (
          SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM grams)
          GROUP BY gram HAVING COUNT(*) >= 2),
        covered AS (
          SELECT DISTINCT g.doc_id, CAST(g.i + o AS INT) AS pos
          FROM grams g JOIN dup USING (gram), unnest(range(0, 5)) AS t(o)),
        kept AS (
          SELECT t.doc_id, t.pos, t.tok FROM tok t
          LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
          WHERE c.doc_id IS NULL),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_kept,
            array_to_string(list(tok ORDER BY pos), ' ') AS clean_text
          FROM kept GROUP BY doc_id)"""

  /** Carter-Wegman modulus for the seeded minhash family (prime just
    * under 2^28, so `a + 31*b` stays far below 2^63).
    */
  val MinhashMod = 268435399L

  /** doc_id → 8 (band_id, band_hash) rows.
    *
    * Scale-critical shape: explode shingles to rows, derive all 32
    * minhash inputs in whole-stage-codegen projections (no
    * higher-order functions in the hot path), then groupBy(doc_id)
    * with 32 MIN aggregates — partial aggregation combines map-side,
    * so the shuffle carries one 32-column signature per doc, never
    * the shingles. (A first cut used nested transform/array_min HOFs:
    * interpreted, ~60× slower.)
    *
    * Hashing: 2 md5s per shingle + 32 arithmetic derivations
    * h_i = (a + i*b) mod p (a 2-universal family) instead of 32 md5s —
    * ~6× less digest work, and every step (hex-prefix → int,
    * (a + i*b) % p, decimal-string rendering) reproduces exactly in
    * the DuckDB oracle.
    */
  def minhashBands(documents: DataFrame): DataFrame =
    minhashBandsFrom(shingleRows(documents))

  /** Same, from precomputed (doc_id, t) shingle rows — lets callers
    * that ALSO need the shingles (d03's exact-Jaccard verify) compute
    * them once.
    */
  def minhashBandsFrom(sh: DataFrame): DataFrame = {
    val nHashes = 32
    val rowsPerBand = 4
    // Base hashes materialize as attributes FIRST so each md5 is
    // evaluated once per shingle, not once per derived hash.
    val hex7 = (seed: String) =>
      conv(substring(md5(concat(lit(seed), col("t"))), 1, 7), 16, 10)
        .cast("long")
    val based = sh.select(col("doc_id"),
      hex7("a ").as("ha"), hex7("b ").as("hb"))
    val hashed = based.select(
      col("doc_id") +:
        (0 until nHashes).map(i =>
          ((col("ha") + lit(i.toLong) * col("hb")) % MinhashMod)
            .as(s"h$i")): _*)
    val sig = hashed.groupBy("doc_id")
      .agg(
        min(col("h0")).as("m0"),
        (1 until nHashes).map(i => min(col(s"h$i")).as(s"m$i")): _*)
    val bands = array((0 until nHashes / rowsPerBand).map { b =>
      md5(concat_ws("|",
        (0 until rowsPerBand).map(r =>
          col(s"m${b * rowsPerBand + r}").cast("string")): _*))
    }: _*)
    sig.select(col("doc_id"),
      posexplode(bands).as(Seq("band_id", "band_hash")))
  }

  /** LSH candidate pairs (shared band) verified by exact shingle-set
    * Jaccard ≥ `minJaccard`.
    *
    * `maxBucket` bounds the quadratic in-bucket pair expansion against
    * adversarial skew: a band bucket holding b docs emits C(b,2)
    * candidates, so one bucket capturing 25% of an N-doc corpus makes
    * the candidate stage Θ(N²) however rare such buckets are
    * (measured: README "Adversarial bucket skew").
    * Buckets larger than the cap are dropped BEFORE expansion; such
    * buckets are near-certain clone families (only near-identical docs
    * collide on a full minhash band), which the linear keeper ops
    * (d01 exact / d07 / d08) collapse without enumerating pairs — run
    * those first on dup-heavy corpora. The default keeps the op exact
    * (every oracle-checked query is unaffected).
    */
  def lshCandidatePairs(documents: DataFrame, minJaccard: Double,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    // The shingle rows feed BOTH the banding and the verify sets —
    // materialize them once (at 100 TB the double tokenize+scan is 2×
    // the job's IO; locally it was ~20% of d03). Same pattern as
    // connectedKeepers' membership table.
    val sh0 = shingleRows(documents).localCheckpoint()
    val b = minhashBandsFrom(sh0)
    // Candidate pairs per bucket via groupBy + in-bucket expansion:
    // one shuffle on (band_id, band_hash), versus a self-join's two
    // exchanges + broadcast build. Buckets are tiny by construction
    // (only near-dups collide on a full band), so the quadratic
    // expansion is bounded; sort_array gives doc_a < doc_b for free.
    val buckets = b.groupBy("band_id", "band_hash")
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
    val pairs = buckets
      .select(explode(expr(
        """flatten(transform(sequence(1, size(ds) - 1), i ->
             transform(sequence(0, i - 1), j ->
               struct(ds[j] AS doc_a, ds[i] AS doc_b))))"""))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    // Distinct shingle sets via the fast exploded path + collect_set,
    // with each shingle replaced by a 16-hex-char md5 prefix: set
    // semantics are preserved (collision odds ~2^-64·|A|·|B|, and the
    // DuckDB oracle applies the identical hashing so the compare stays
    // exact), while the per-pair arrays shipped through the verify
    // join shrink ~3×. On dup-heavy corpora the verify join dominates
    // d03 — see README "Adversarial bucket skew".
    val sh = sh0
      .groupBy("doc_id")
      .agg(collect_set(substring(md5(col("t")), 1, 16)).as("sl"))
    pairs
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        // union can only be empty for content-free pairs; treat their
        // similarity as 0 rather than dividing by zero (ANSI mode).
        when(size(array_union(col("sa.sl"), col("sb.sl"))) > 0,
          size(array_intersect(col("sa.sl"), col("sb.sl")))
            .cast("double") /
            size(array_union(col("sa.sl"), col("sb.sl"))).cast("double"))
          .otherwise(lit(0.0)).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** CONTAINMENT near-dup pairs (d18) — the ASYMMETRIC relation the
    * whole Jaccard stack is blind to: a short document fully quoted
    * inside a much longer one has |A∩B|/|A| ≈ 1 but Jaccard ≈
    * |A|/|B| ≈ 0, so it never collides on a full minhash band and
    * d02/d03 can't see it. Candidates come from PREFIX FILTERING
    * (the AllPairs/PPJoin family): grams are globally ordered by
    * (corpus df asc, gram) — rarest first — and a doc A with
    * containment ≥ t = 9/10 in ANY container must share one of its
    * first |A| − ⌈t·|A|⌉ + 1 grams in that order (missing the whole
    * prefix bounds |A∩B| ≤ ⌈t|A|⌉ − 1 < t|A|), so joining only the
    * tiny per-doc prefix against the gram index is EXACT — no false
    * negatives. ⌈9·sz/10⌉ is computed as (9·sz + 9) div 10: pure
    * integer arithmetic, so the prefix boundary can never drift
    * between engines the way ceil(0.9·sz) in doubles could. Scale
    * shape: prefixes are df-ordered so their posting lists are the
    * corpus's RAREST grams (short by construction); shuffles carry
    * 16-hex gram hashes, never text; the verify ships two hashed
    * sets per candidate (d03's discipline); the gram table feeds
    * four consumers and is checkpointed once (the c10 lesson).
    * Emits (doc_a ⊆-candidate, doc_b container, set sizes, exact
    * containment) at ≥ t; mutual clones appear in both directions.
    */
  def containmentPairs(documents: DataFrame,
      maxPosting: Int = Int.MaxValue): DataFrame = {
    val hashed = shingleRows(documents)
      .select(col("doc_id"), substring(md5(col("t")), 1, 16).as("g"))
      .distinct()
      .localCheckpoint()
    val gdf = hashed.groupBy("g").agg(count(lit(1)).as("df"))
    val szs = hashed.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // Skew guard (lshCandidatePairs' maxBucket contract, applied to
    // prefix-gram POSTING LISTS): the candidate join emits one row
    // per (prefix occurrence × posting entry) of a gram, so one hot
    // gram reaching the prefixes of an adversarial corpus (tiny
    // near-identical docs over a small shingle vocabulary) makes the
    // enumeration quadratic however rare such grams are. With a cap
    // set, grams whose document frequency exceeds it ("hot") are
    // semi-join-filtered out of BOTH join sides BEFORE the prefix
    // ranks are computed, so the prefix budget is spent entirely on
    // retained ("cold") grams. With the budget kept at the FULL
    // |A| − ⌈9|A|/10⌉ + 1 (sz counts hot grams too), the capped mode
    // has an EXACT semantic: it emits precisely the ≥-0.9-containment
    // pairs that share at least one cold gram. Proof sketch: with k
    // hot grams in A and shared-cold count c ≥ max(1, ⌈9sz/10⌉ − k),
    // missing A's whole cold prefix bounds c ≤ max(0, ⌈9sz/10⌉−1−k) —
    // a contradiction either way. The only losses are pairs whose
    // ENTIRE intersection is hot grams — deep clone-family members,
    // which the linear keeper ops (d01/d07/d08) collapse without pair
    // enumeration; run those first on dup-heavy corpora (the d03
    // convention). d19 registers the capped mode against an oracle
    // stating that cold-witness semantic independently; default
    // MaxValue keeps the op fully exact (the registered d18 oracle).
    val cold =
      if (maxPosting == Int.MaxValue) hashed
      else hashed.join(gdf.filter(col("df") <= maxPosting).select("g"),
        Seq("g"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    val prefix = cold.join(gdf, "g")
      .withColumn("rn", row_number().over(w))
      .join(szs, "doc_id")
      .filter(col("rn") <= col("sz") - expr("(9 * sz + 9) div 10") + 1)
      .select(col("doc_id").as("doc_a"), col("g"))
    val cand = prefix
      .join(cold.select(col("doc_id").as("doc_b"), col("g")), "g")
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      // |A∩B| ≤ |B|, so containment ≥ 9/10 forces |B| ≥ ⌈9|A|/10⌉ —
      // prune candidates by SIZES before shipping shingle sets
      // through the verify join (exact: implied by the final
      // predicate; drops ~39% of sf0.1 candidates).
      .join(szs.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")),
        "doc_a")
      .join(szs.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")),
        "doc_b")
      .filter(col("sz_b") >= expr("(9 * sz_a + 9) div 10"))
      .select("doc_a", "doc_b")
    val sets = hashed.groupBy("doc_id")
      .agg(collect_set(col("g")).as("sl"))
    cand.join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(col("sa.sl")).as("n_a"), size(col("sb.sl")).as("n_b"),
        (size(array_intersect(col("sa.sl"), col("sb.sl"))).cast("double") /
          size(col("sa.sl")).cast("double")).as("containment"))
      .filter(col("containment") >= 0.9)
  }

  /** Edit-distance-VERIFIED near-duplicates — the fine-grained rung
    * below d03's set-Jaccard verify: LSH candidate pairs admitted at a
    * permissive Jaccard gate are re-verified with character-level
    * Levenshtein distance over a fixed `prefixLen`-char text prefix,
    * normalized by the longer prefix ("norm_ed"). Jaccard over shingle
    * SETS is blind to ordering and multiplicity; edit distance catches
    * both, so this is the standard precision pass over an LSH recall
    * stage.
    *
    * Scale shape: candidate generation is d03's banded-LSH machinery
    * unchanged (skew-cappable, shuffles signatures not text); the
    * verify join ships only the FIXED-LENGTH prefixes of the candidate
    * docs (never full documents), and Levenshtein runs once per
    * candidate pair — O(prefixLen²) each, bounded by construction, on
    * a pair set already thinned to near-certain duplicates. At 100 TB
    * the pair count tracks the true duplicate count (LSH property),
    * so the quadratic-per-pair cost never multiplies against the
    * corpus.
    */
  def editDistanceNearDup(documents: DataFrame, minJaccard: Double,
      prefixLen: Int, maxNormEd: Double): DataFrame = {
    val cand = lshCandidatePairs(documents, minJaccard)
    val pref = documents
      .filter(col("text").isNotNull)
      .select(col("doc_id"), substring(col("text"), 1, prefixLen).as("p"))
    cand
      .join(pref.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(pref.as("tb"), col("doc_b") === col("tb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        levenshtein(col("ta.p"), col("tb.p")).as("edit_dist"),
        greatest(length(col("ta.p")), length(col("tb.p"))).as("mx"))
      .withColumn("norm_ed",
        when(col("mx") > 0,
          round(col("edit_dist").cast("double") / col("mx").cast("double"),
            6))
          .otherwise(lit(0.0)))
      .filter(col("norm_ed") <= maxNormEd)
      .select("doc_a", "doc_b", "jaccard", "edit_dist", "norm_ed")
      .orderBy("doc_a", "doc_b")
  }

  /** Transitive LSH dedup closure: connected components over the
    * doc↔bucket bipartite graph via iterative min-label propagation
    * (doc label ← min over its buckets of the bucket's min member
    * label), run to fixpoint.
    *
    * This is the full-strength version of d07's one-hop keeper
    * election: chains A~B~C collapse to one keeper even when A and C
    * share no bucket. Iterative DataFrame algorithms need
    * `localCheckpoint()` per round — without it the join lineage grows
    * superlinearly and the driver re-optimizes an ever-deeper plan.
    * Convergence in O(cluster diameter) rounds; dedup clusters are
    * shallow, so `maxIter` is generous — and since the DuckDB oracle
    * states the EXACT closure, a non-converged result must FAIL, not
    * silently return partial labels (a chain deeper than maxIter
    * would otherwise elect several keepers per cluster undetected).
    */
  /** One min-label-propagation round of [[connectedKeepers]]: doc
    * label ← min over its buckets of the bucket's min member label.
    * Extracted so PlanSpec can pin the PER-ROUND physical plan (the
    * plan that runs O(diameter) times at scale — the returned final
    * DataFrame is just a checkpoint scan and pins nothing).
    */
  private[graft] def labelRound(
      member: DataFrame, labels: DataFrame): DataFrame = {
    val bucketMin = member.join(labels, "doc_id")
      .groupBy("band_id", "band_hash")
      .agg(min(col("label")).as("bl"))
    val cand = member.join(bucketMin, Seq("band_id", "band_hash"))
      .groupBy("doc_id")
      .agg(min(col("bl")).as("cand"))
    labels.join(cand, Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("label"), coalesce(col("cand"), col("label")))
          .as("label"))
  }

  /** Cluster-level LSH dedup — the operation a dup-heavy corpus
    * actually needs (d03's pair enumeration is quadratic in cluster
    * size; electing one keeper per cluster is linear). One hop of
    * min-propagation over bucket membership: keeper = min(doc_id)
    * across all of a doc's bucket-mates. (Full transitive closure
    * would iterate to a fixpoint — [[connectedKeepers]]; one hop
    * already collapses every same-bucket cluster.) The bands feed
    * BOTH the bucket-min agg and the join — materialize once or the
    * whole minhash pipeline (tokenize → explode → 2×md5 → 32-min agg)
    * executes twice (d03:142 pattern). Serves d07 and the skew smoke.
    */
  def oneHopKeepers(documents: DataFrame): DataFrame = {
    val b = minhashBands(documents).localCheckpoint()
    val bucketMin = b.groupBy("band_id", "band_hash")
      .agg(min(col("doc_id")).as("bucket_min"))
    b.join(bucketMin, Seq("band_id", "band_hash"))
      .groupBy("doc_id")
      .agg(min(col("bucket_min")).as("keeper"))
      .withColumn("is_kept", (col("keeper") === col("doc_id")).cast("int"))
  }

  /** Quality-aware family dedup (d17): d07's one-hop LSH families,
    * but the keeper is the HIGHEST-QUALITY member (t02's score from
    * the shared `qualityScore` formula; ties → lowest doc_id) instead
    * of the lowest id. This is what a real corpus pipeline does —
    * min-id keeping throws away the best copy whenever a cleaner
    * duplicate has a higher id. Shape: the family labels come from
    * [[oneHopKeepers]] (two keyed shuffles over band rows); quality is
    * a map-side projection on documents; the argmax is one window per
    * family (family cardinality ≈ corpus, partitions are duplicate
    * clusters — small by construction, skew-free after d03's
    * `maxBucket` cap upstream).
    */
  def qualityKeepers(documents: DataFrame): DataFrame = {
    val fam = oneHopKeepers(documents)
      .select(col("doc_id"), col("keeper").as("family"))
    val toksC = tokens(col("text"))
    val quality = documents
      .filter(col("text").isNotNull)
      .select(col("doc_id") +: qualitySignals(col("text"), toksC): _*)
      .select(col("doc_id"),
        qualityScore(col("n_chars"), col("n_tokens"), col("n_stop"),
          col("n_punct")).as("quality"))
    val w = Window.partitionBy("family")
      .orderBy(col("quality").desc, col("doc_id"))
    fam.join(quality, "doc_id")
      .withColumn("is_kept", (row_number().over(w) === 1).cast("int"))
      .select("doc_id", "family", "quality", "is_kept")
      .orderBy("doc_id")
  }

  def connectedKeepers(documents: DataFrame, maxIter: Int = 25): DataFrame = {
    // Materialize the membership table once — it is joined 2× per
    // round, and without the checkpoint the whole minhash pipeline
    // would lazily recompute on every join.
    val member = minhashBands(documents)
      .select("doc_id", "band_id", "band_hash")
      .localCheckpoint()
    var labels = documents.select(col("doc_id"),
      col("doc_id").as("label"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val updated = labelRound(member, labels).localCheckpoint()
      converged = updated.join(labels.withColumnRenamed("label", "old"),
        "doc_id").filter(col("label") =!= col("old")).isEmpty
      labels = updated
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedKeepers did not converge in $maxIter rounds — " +
          "component diameter exceeds maxIter; raise it")
    labels.select(col("doc_id"), col("label").as("keeper"),
      (col("label") === col("doc_id")).cast("int").as("is_kept"))
  }

  /** Embedding-cosine near-dup with LSH-bucket blocking — the 100 TB
    * path d06's label blocking concedes to in its own comment: label
    * blocks grow with the corpus (all-pairs within a block is
    * quadratic in block size), while hyperplane buckets stay
    * similarity-local. Two bands of 8 hyperplanes each (the same
    * banding trade-off as MinHash d02: a near-dup pair is a candidate
    * if EITHER band's 8 sign bits all agree — band count tunes
    * recall, band width tunes precision). Candidate generation is an
    * equi-join on (band_id, bucket); the pairwise cosine only ever
    * runs on bucket-mates.
    *
    * Input: (vec_id, label, v: array<double>). Output: (vec_a, vec_b,
    * cosine) for candidate pairs with cosine > `minCosine`.
    */
  def embeddingNearDupByBucket(e: DataFrame, minCosine: Double): DataFrame = {
    val withNorm = e
      .withColumn("nrm",
        sqrt(graft.functions.VectorExpressions.dot(col("v"), col("v"))))
    // Band buckets are pure projections (8 native literal-weight dot
    // products each — see Similarity.planeBit); attribute-ize BEFORE
    // the explode so the Generate doesn't re-evaluate the dots per
    // output row (the explode-of-built-array pitfall).
    def bandBucket(band: Int) =
      (0 until 8).map(i => Similarity.planeBit(col("v"), band * 8 + i, i))
        .reduce(_ + _).cast("int")
    val bands = e
      .withColumn("bk0", bandBucket(0))
      .withColumn("bk1", bandBucket(1))
      .select(col("vec_id"),
        posexplode(array(col("bk0"), col("bk1"))).as(Seq("band_id", "bucket")))
    val pairs = bands.as("x")
      .join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    pairs
      .join(withNorm.as("a"), col("vec_a") === col("a.vec_id"))
      .join(withNorm.as("b"), col("vec_b") === col("b.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        (graft.functions.VectorExpressions.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") > minCosine)
  }

  /** SimHash near-dup pairs via 4×15-bit band blocking over the 60-bit
    * md5-derived signature. Pigeonhole: a pair within Hamming distance
    * ≤3 differs in at most 3 of the 4 disjoint bands, so it agrees on
    * at least one — the blocking is EXACT for `maxHamming` ≤ 3 (no
    * recall loss, unlike MinHash's probabilistic bands). Candidates
    * come from an equi-join on (band_id, band_key); the bit_count
    * verify runs on bucket-mates only — O(candidates), never O(n²).
    */
  def simhashNearDup(documents: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxHamming <= 3,
      s"4-band blocking is exact only for Hamming <= 3, got $maxHamming")
    val sig = documents
      .filter(col("text").isNotNull)
      .repartition(
        documents.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), simhash60Md5("toks").as("simhash"))
      .localCheckpoint() // feeds both sides of the band self-join
    val bands0 = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 15).bitwiseAND(lit(32767L))): _*))
        .as(Seq("band_id", "band_key")))
    // Skew guard (same contract as lshCandidatePairs' maxBucket): the
    // band equi-join emits C(b,2) rows per b-member bucket, so one hot
    // bucket makes the join output quadratic in the corpus. With a cap
    // set, oversized buckets — near-certain identical-signature clone
    // families — are semi-join-filtered out of BOTH join sides before
    // any pair exists; collapse those families with the linear keeper
    // ops instead. Default MaxValue keeps the exact plan (no extra
    // aggregate) and the d11/st07 oracle semantics.
    val bands =
      if (maxBucket == Int.MaxValue) bands0
      else bands0.join(
        bands0.groupBy("band_id", "band_key")
          .agg(count(lit(1)).as("bn"))
          .filter(col("bn") <= maxBucket),
        Seq("band_id", "band_key"), "left_semi")
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming64(col("a.simhash"), col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** doc_id → 64-bit SimHash (native xxhash64 expression — the cheap
    * scale path).
    */
  def simhashes(documents: DataFrame): DataFrame = {
    documents
      .repartition(documents.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), simhash64("toks").as("simhash"))
  }

  /** d21 body: the per-source dedup IMPACT report — the number a
    * curator actually reads after a dedup pass: how many docs and how
    * much character mass each scrape loses to d07's keeper election,
    * and the drop ratio. Composes [[oneHopKeepers]] (two keyed
    * shuffles over band rows, never text) with one (doc_id)-equi join
    * back to the pruned (source, n_chars) projection and a
    * map-side-combining per-source aggregate — at 100 TB the report
    * costs the dedup pass it audits plus one scan-width join; the
    * output is |sources| rows.
    */
  def dedupImpact(documents: DataFrame): DataFrame = {
    val verdict = oneHopKeepers(documents)
    // LEFT join + COALESCE(is_kept, 1): the verdict exists only for
    // docs that produced shingles (null-text docs never enter the
    // band CTE), and an undedupable doc is KEPT by definition — an
    // inner join would silently drop it from n_docs/chars_total and
    // skew drop_ratio for any source carrying null-text rows
    // (ADVICE r14).
    documents.select(col("doc_id"), col("source"), col("n_chars"))
      .join(verdict.select(col("doc_id"), col("is_kept")),
        Seq("doc_id"), "left")
      .withColumn("is_kept", coalesce(col("is_kept"), lit(1)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((lit(1) - col("is_kept")).cast("long")).as("n_dropped"),
        sum(col("n_chars")).as("chars_total"),
        sum((col("n_chars") * (lit(1) - col("is_kept"))).cast("long"))
          .as("chars_dropped"))
      .select(col("source"), col("n_docs"), col("n_dropped"),
        col("chars_total"), col("chars_dropped"),
        round(col("chars_dropped").cast("double") /
          col("chars_total").cast("double"), 6).as("drop_ratio"))
      .orderBy("source")
  }

  val sqlBandsCte =
    s"""WITH toks AS ($sqlToks),
        sh AS ($sqlShingles),
        hb AS ($sqlBaseHashes),
        sig AS ($sqlBands),
        bands AS (
          SELECT doc_id, CAST(u.i AS INT) AS band_id, u.h AS band_hash
          FROM sig, unnest(bands) AS s(u))"""

  /** DuckDB toks→hs→sig→bands CTE chain for the 60-bit simhash, with
    * a parameterizable document gate — the ONE definition of the
    * signature derivation, composed by d04, d11/st07 and st09 (the
    * empty-token COALESCE fix had to touch three hand-copies before
    * this; a drift between copies silently desynchronizes an oracle).
    * The COALESCE makes an empty token list vote 0 >= 0 per bit
    * (DuckDB's list_sum([]) is NULL) — matching Spark's all-ones
    * zero-counter convention.
    */
  def sqlSimhashBandsCte(gate: String): String = s"""
        WITH toks AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\\s+'),
                        x -> len(x) > 0) AS tl
          FROM documents $gate),
        hs AS (
          SELECT doc_id,
            list_transform(tl,
              t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS bases
          FROM toks),
        sig AS (
          SELECT doc_id,
            CAST(list_sum(list_transform(range(0, 60), i ->
              CASE WHEN COALESCE(list_sum(list_transform(bases, h ->
                     CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)), 0) >= 0
                   THEN (CAST(1 AS BIGINT) << i)
                   ELSE CAST(0 AS BIGINT) END))
              AS BIGINT) AS simhash
          FROM hs),
        bands AS (
          SELECT doc_id, simhash, CAST(u AS INT) AS band_id,
            (simhash >> (CAST(u AS INT) * 15)) & 32767 AS band_key
          FROM sig, unnest([0, 1, 2, 3]) AS t(u))"""

  /** DuckDB restatement of [[simhashNearDup]] at maxHamming=3 — shared
    * by d11 (batch) and st07 (the streaming run of the same operator,
    * which must converge to the identical pair set).
    */
  val sqlSimhashNearDup: String =
    sqlSimhashBandsCte("WHERE text IS NOT NULL") + """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(bit_count(CAST(xor(a.simhash, b.simhash) AS BIT)) AS INT)
            AS hamming
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIT)) <= 3
        ORDER BY doc_a, doc_b"""

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    Q(
      "d01_exact_dedup",
      (s, dir) =>
        // Exact dedup: group on a 128-bit content hash, keep the
        // smallest doc_id as survivor. Shuffles 16-byte keys, not
        // documents.
        docs(s, dir)
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(
            count(lit(1)).as("n_copies"),
            min(col("doc_id")).as("keeper"))
          .orderBy("content_hash"),
      Some("""
        SELECT md5(text) AS content_hash, COUNT(*) AS n_copies,
          MIN(doc_id) AS keeper
        FROM documents
        GROUP BY md5(text)
        ORDER BY content_hash""")),
    // ----------------------------------------------------------------
    Q(
      "d02_minhash_lsh_bands",
      (s, dir) => minhashBands(docs(s, dir)).orderBy("doc_id", "band_id"),
      Some(s"""
        $sqlBandsCte
        SELECT doc_id, band_id, band_hash FROM bands
        ORDER BY doc_id, band_id""")),
    // ----------------------------------------------------------------
    Q(
      "d03_lsh_candidate_pairs",
      (s, dir) =>
        // LSH candidate generation + exact shingle-Jaccard verify.
        // The self-join is an equi-join on (band_id, band_hash): at
        // scale each bucket holds only near-duplicates, so the pair
        // fan-out stays tiny.
        lshCandidatePairs(docs(s, dir), minJaccard = 0.5)
          .orderBy("doc_a", "doc_b"),
      Some(s"""
        $sqlBandsCte,
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id),
        shd AS (
          SELECT doc_id,
            list_distinct(list_transform(
              CASE WHEN len(tl) >= 3
                THEN list_transform(range(1, len(tl) - 1),
                       i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
                ELSE [array_to_string(tl, ' ')] END,
              t -> substr(md5(t), 1, 16))) AS sl
          FROM toks)
        SELECT doc_a, doc_b,
          CAST(len(list_intersect(sa.sl, sb.sl)) AS DOUBLE) /
          CAST(len(sa.sl) + len(sb.sl)
               - len(list_intersect(sa.sl, sb.sl)) AS DOUBLE) AS jaccard
        FROM pairs
        JOIN shd sa ON doc_a = sa.doc_id
        JOIN shd sb ON doc_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.sl, sb.sl)) AS DOUBLE) /
              CAST(len(sa.sl) + len(sb.sl)
                   - len(list_intersect(sa.sl, sb.sl)) AS DOUBLE) >= 0.5
        ORDER BY doc_a, doc_b""")),
    // ----------------------------------------------------------------
    Q(
      "d04_simhash",
      (s, dir) => {
        // 60-bit SimHash per document, md5-derived token hashes —
        // oracle-checked bit-for-bit against DuckDB, computed by the
        // native Simhash60Md5 expression (one codegen call per doc).
        // (The xxhash64 variant, `simhashes`, is the cheaper scale
        // path, pinned by DedupSpec.)
        docs(s, dir)
          // NULL-text gate on BOTH sides: the null-intolerant native
          // expression yields NULL where the oracle's COALESCE would
          // yield all-ones — gate the divergence out, like every
          // other simhash consumer.
          .filter(col("text").isNotNull)
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .withColumn("toks", tokens(col("text")))
          .select(col("doc_id"), simhash60Md5("toks").as("simhash"))
          .orderBy("doc_id")
      },
      Some(sqlSimhashBandsCte(gate = "WHERE text IS NOT NULL") + """
        SELECT doc_id, simhash FROM sig ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "d05_minhash_bands_fast",
      (s, dir) => {
        // xxhash64 MinHash/LSH — the 100 TB path (8-byte hashes, no
        // hex strings), same explode→codegen-projection→min-agg shape
        // as d02. xxhash64 values are Spark-specific, so the oracle
        // states the INVARIANTS (the q58 pattern) — every exact
        // count below is DuckDB-reproducible, every property the
        // hashes must satisfy is a boolean:
        //  - n_docs / n_rows: one signature per non-null-text doc,
        //    exactly 8 (band_id, band_hash) rows each;
        //  - n_dup_docs: docs sharing a text with ≥1 other doc
        //    (DuckDB counts them too, so the next check is provably
        //    non-vacuous on this corpus);
        //  - dup_text_same_sig: identical text ⇒ identical shingle
        //    set ⇒ identical MinHash signature ⇒ all 8 band hashes
        //    agree — the algebraic core of MinHash banding.
        val nHashes = 32
        val rowsPerBand = 4
        val sh = shingleRows(docs(s, dir))
        val hashed = sh.select(
          col("doc_id") +:
            (0 until nHashes).map(i =>
              xxhash64(lit(i), col("t")).as(s"h$i")): _*)
        val sig = hashed.groupBy("doc_id")
          .agg(
            min(col("h0")).as("m0"),
            (1 until nHashes).map(i => min(col(s"h$i")).as(s"m$i")): _*)
        val bandsArr = array((0 until nHashes / rowsPerBand).map { b =>
          xxhash64((0 until rowsPerBand)
            .map(r => col(s"m${b * rowsPerBand + r}")): _*)
        }: _*)
        // Both invariant branches consume the bands: materialize the
        // (shingle → 32-hash → min-agg) pipeline ONCE (the d03
        // checkpoint rule — without this the dominant hash pass runs
        // twice, once per branch). Lifetime: the returned plan
        // references the checkpointed RDD lazily, so it cannot be
        // freed here — same per-query-per-session retention as d03's
        // shingle checkpoint (bounded: 8 small rows per doc).
        val bands = sig.select(col("doc_id"),
          posexplode(bandsArr).as(Seq("band_id", "band_hash")))
          .localCheckpoint()
        val perDoc = bands.groupBy("doc_id")
          .agg(count(lit(1)).as("nr"), countDistinct("band_id").as("nb"))
          .agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("nr")), lit(0L)).as("n_rows"),
            coalesce(min(col("nr") === 8 && col("nb") === 8), lit(true))
              .as("bands_per_doc_ok"))
        // th also feeds two branches (dup-doc count and the signature
        // check): materialize the text scan + md5 once too — narrow
        // rows, (doc_id, 16-byte hash).
        val th = docs(s, dir).filter(col("text").isNotNull)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("thash"))
          .localCheckpoint()
        val dupDocs = th.groupBy("thash").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1)
          .agg(coalesce(sum(col("c")), lit(0L)).as("n_dup_docs"))
        // Identical text ⇒ per (text, band) exactly one band hash.
        val dupOk = bands.join(th, "doc_id")
          .groupBy("thash", "band_id")
          .agg((countDistinct(col("band_hash")) === 1).as("ok"))
          .agg(coalesce(min(col("ok")), lit(true)).as("dup_text_same_sig"))
        // Three 1-row sides: both cross joins broadcast single rows.
        perDoc.crossJoin(broadcast(dupDocs)).crossJoin(broadcast(dupOk))
          .select(col("n_docs"), col("n_rows"), col("n_dup_docs"),
            col("bands_per_doc_ok"), col("dup_text_same_sig"))
      },
      Some("""
        WITH eligible AS (
          SELECT doc_id, md5(text) AS thash
          FROM documents WHERE text IS NOT NULL),
        g AS (SELECT thash, COUNT(*) AS c FROM eligible GROUP BY thash)
        SELECT (SELECT COUNT(*) FROM eligible) AS n_docs,
          8 * (SELECT COUNT(*) FROM eligible) AS n_rows,
          (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM g WHERE c > 1)
            AS n_dup_docs,
          TRUE AS bands_per_doc_ok,
          TRUE AS dup_text_same_sig""")),
    // ----------------------------------------------------------------
    Q(
      "d07_lsh_dedup_keepers",
      (s, dir) => oneHopKeepers(docs(s, dir)).orderBy("doc_id"),
      Some(s"""
        $sqlBandsCte,
        bm AS (
          SELECT band_id, band_hash, MIN(doc_id) AS bucket_min
          FROM bands GROUP BY band_id, band_hash)
        SELECT b.doc_id, MIN(bm.bucket_min) AS keeper,
          CAST(MIN(bm.bucket_min) = b.doc_id AS INT) AS is_kept
        FROM bands b JOIN bm USING (band_id, band_hash)
        GROUP BY b.doc_id
        ORDER BY b.doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "d08_lsh_connected_keepers",
      (s, dir) =>
        // Fixpoint dedup closure. The Spark side iterates min-label
        // propagation to convergence; the oracle states the same
        // transitive closure as a recursive reachability CTE (min over
        // all docs reachable through shared buckets = the component
        // min the fixpoint converges to).
        connectedKeepers(docs(s, dir)).orderBy("doc_id"),
      Some(s"""
        ${sqlBandsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        edges AS (
          SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_hash = b.band_hash),
        reach AS (
          SELECT u AS doc_id, v AS r FROM edges
          UNION
          SELECT t.doc_id, e.v FROM reach t JOIN edges e ON t.r = e.u)
        SELECT doc_id, MIN(r) AS keeper,
          CAST(MIN(r) = doc_id AS INT) AS is_kept
        FROM reach GROUP BY doc_id ORDER BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "d10_incremental_dedup",
      (s, dir) => {
        // Incremental ingestion dedup: admit a NEW batch (here: source
        // src19) only where its content hash is absent from the index
        // built over the existing corpus. The 100 TB shape: the index
        // side is 16-byte hashes (never documents), the join is
        // hash-on-hash, and the admitted set is exactly what an
        // append-only ingest would write — the batch never rescans the
        // corpus text.
        val d = docs(s, dir)
        val index = d.filter(col("source") =!= "src19")
          .select(md5(col("text")).as("h"))
          .distinct()
          .withColumn("seen", lit(1))
        d.filter(col("source") === "src19")
          .select(col("doc_id"), md5(col("text")).as("h"))
          .join(index, Seq("h"), "left")
          .select(col("doc_id"), col("h").as("content_hash"),
            coalesce(col("seen"), lit(0)).as("is_dup"))
          .orderBy("doc_id")
      },
      Some("""
        WITH index_h AS (
          SELECT DISTINCT md5(text) AS h, 1 AS seen
          FROM documents WHERE source <> 'src19'),
        batch AS (
          SELECT doc_id, md5(text) AS h
          FROM documents WHERE source = 'src19')
        SELECT b.doc_id, b.h AS content_hash,
          COALESCE(i.seen, 0) AS is_dup
        FROM batch b LEFT JOIN index_h i USING (h)
        ORDER BY b.doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "d11_simhash_near_dup",
      (s, dir) => {
        // d04's signature turned into an end-to-end near-dup detector:
        // block on 4 disjoint 15-bit bands of the 60-bit SimHash —
        // pigeonhole guarantees any pair within Hamming distance ≤3
        // agrees on at least one full band, so the blocking is EXACT
        // for the ≤3 threshold (no recall loss, unlike MinHash's
        // probabilistic bands) — then verify bit_count(xor) on
        // bucket-mates only (see [[simhashNearDup]]). At sf0.01:
        // 2 738 candidates → 20 pairs.
        simhashNearDup(docs(s, dir), maxHamming = 3)
          .orderBy("doc_a", "doc_b")
      },
      Some(sqlSimhashNearDup)),
    // ----------------------------------------------------------------
    Q(
      "d06_embedding_neardup",
      (s, dir) => {
        // Embedding-cosine near-dup with label blocking: pairwise
        // cosine only inside a block. Floats are cast to double
        // element-wise BEFORE any arithmetic; the native DotProduct
        // expression sums in index order — bit-identical to the DuckDB
        // oracle. Norms are precomputed per vector (N rows) instead of
        // per pair (N²/blocks rows).
        val dot = (a: Column, b: Column) =>
          graft.functions.VectorExpressions.dot(a, b)
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
          .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        e.as("a")
          .join(e.as("b"),
            col("a.label") === col("b.label") &&
              col("a.vec_id") < col("b.vec_id"))
          .select(
            col("a.vec_id").as("vec_a"),
            col("b.vec_id").as("vec_b"),
            col("a.label").as("label"),
            (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
              .as("cosine"))
          .filter(col("cosine") > 0.25)
          .orderBy("vec_a", "vec_b")
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
          list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
           sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
              (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
               sqrt(list_sum(list_transform(b.v, x -> x * x)))) > 0.25
        ORDER BY vec_a, vec_b""")),
    // ----------------------------------------------------------------
    Q(
      "d09_embedding_neardup_lsh",
      (s, dir) => {
        // d06's scale variant: block on hyperplane LSH bands instead
        // of label (candidate pairs drop ~10× at sf0.01 vs the 12344
        // label-mate pairs). Fully oracle-checked — the md5-parity
        // planes and index-order double dot products reproduce
        // bit-for-bit in DuckDB.
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
        embeddingNearDupByBucket(e, minCosine = 0.25)
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        planes AS (
          SELECT * FROM (VALUES
          ${Similarity.planesSqlValues}) AS t(b, w)),
        bands AS (
          SELECT vec_id, b // 8 AS band_id,
            CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(v, w),
                                                       p -> p[1] * p[2])) >= 0
                     THEN (1 << (b % 8)) ELSE 0 END) AS INT) AS bucket
          FROM e CROSS JOIN planes
          GROUP BY vec_id, b // 8),
        pairs AS (
          SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
          FROM bands x JOIN bands y
            ON x.band_id = y.band_id AND x.bucket = y.bucket
           AND x.vec_id < y.vec_id)
        SELECT vec_a, vec_b,
          list_sum(list_transform(list_zip(ea.v, eb.v), p -> p[1] * p[2])) /
          (sqrt(list_sum(list_transform(ea.v, x -> x * x))) *
           sqrt(list_sum(list_transform(eb.v, x -> x * x)))) AS cosine
        FROM pairs
        JOIN e ea ON vec_a = ea.vec_id
        JOIN e eb ON vec_b = eb.vec_id
        WHERE list_sum(list_transform(list_zip(ea.v, eb.v), p -> p[1] * p[2])) /
              (sqrt(list_sum(list_transform(ea.v, x -> x * x))) *
               sqrt(list_sum(list_transform(eb.v, x -> x * x)))) > 0.25
        ORDER BY vec_a, vec_b"""))
    ,
    // ----------------------------------------------------------------
    Q(
      "d12_semantic_dedup",
      (s, dir) => {
        // SemDeDup (see [[graft.ops.Similarity.semanticDedup]]):
        // cluster-blocked cosine neighborhoods, keep the member
        // farthest from its centroid. Every arithmetic step (decimal
        // seed means, index-order cosine folds, rank tie-breaks) is
        // bit-reproducible in DuckDB, so keep/drop decisions hash-
        // match exactly — no tolerance band.
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
        Similarity.semanticDedup(e, tau = 0.3).orderBy("vec_id")
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
          SELECT label AS cluster, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM dims GROUP BY label, dim)
          GROUP BY label),
        sims AS (
          SELECT e.vec_id, e.v, c.cluster,
            list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) /
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
          SELECT a.vec_id, a.v, a.cluster,
            list_sum(list_transform(list_zip(a.v, c.cv), p -> p[1]*p[2])) /
            (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
             sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS cent_sim
          FROM assign a JOIN cent c USING (cluster)),
        dom AS (
          SELECT DISTINCT a.vec_id FROM ws a JOIN ws b
            ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
           AND list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) /
               (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
                sqrt(list_sum(list_transform(b.v, x -> x*x)))) >= 0.3
           AND (b.cent_sim < a.cent_sim OR
                (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id)))
        SELECT w.vec_id, w.cluster, ROUND(w.cent_sim, 6) AS cent_sim,
          CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS is_kept
        FROM ws w LEFT JOIN dom d ON w.vec_id = d.vec_id
        ORDER BY w.vec_id"""))
    ,
    // ----------------------------------------------------------------
    Q(
      "d14_semantic_dedup_blocked",
      (s, dir) => {
        // d12 with the quadratic term bounded (see
        // [[graft.ops.Similarity.semanticDedupBlocked]]): pairs are
        // compared only within (cluster, 4-SRP-bit sub-block). The
        // sub-block split is md5-parity-deterministic, so the BLOCKED
        // semantics themselves hash-check — including exactly which
        // borderline neighbors the blocking forgoes vs d12.
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
        Similarity.semanticDedupBlocked(e, tau = 0.3, blockBits = 4)
          .orderBy("vec_id")
      },
      Some(s"""
        WITH e AS (
          SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        planes AS (
          SELECT * FROM (VALUES
          ${Similarity.planesSqlValues}) AS t(b, w)),
        blk AS (
          SELECT e.vec_id,
            CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(e.v, p.w),
                                                       q -> q[1] * q[2])) >= 0
                     THEN (1 << p.b) ELSE 0 END) AS INT) AS block
          FROM e CROSS JOIN planes p WHERE p.b < 4
          GROUP BY e.vec_id),
        dims AS (
          SELECT label, CAST(u.i AS INT) AS dim, u.x AS x
          FROM e, unnest(list_transform(range(1, len(v) + 1),
                         i -> {'i': i, 'x': v[i]})) AS s(u)),
        cent AS (
          SELECT label AS cluster, list(cx ORDER BY dim) AS cv FROM (
            SELECT label, dim,
              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cx
            FROM dims GROUP BY label, dim)
          GROUP BY label),
        sims AS (
          SELECT e.vec_id, e.v, c.cluster,
            list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2])) /
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
          SELECT a.vec_id, a.v, a.cluster, k.block,
            list_sum(list_transform(list_zip(a.v, c.cv), p -> p[1]*p[2])) /
            (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
             sqrt(list_sum(list_transform(c.cv, x -> x*x)))) AS cent_sim
          FROM assign a
          JOIN cent c USING (cluster)
          JOIN blk k ON a.vec_id = k.vec_id),
        dom AS (
          SELECT DISTINCT a.vec_id FROM ws a JOIN ws b
            ON a.cluster = b.cluster AND a.block = b.block
           AND a.vec_id <> b.vec_id
           AND list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2])) /
               (sqrt(list_sum(list_transform(a.v, x -> x*x))) *
                sqrt(list_sum(list_transform(b.v, x -> x*x)))) >= 0.3
           AND (b.cent_sim < a.cent_sim OR
                (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id)))
        SELECT w.vec_id, w.cluster, ROUND(w.cent_sim, 6) AS cent_sim,
          CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS is_kept
        FROM ws w LEFT JOIN dom d ON w.vec_id = d.vec_id
        ORDER BY w.vec_id"""))
    ,
    // ----------------------------------------------------------------
    Q(
      "d13_boilerplate_ngrams",
      (s, dir) =>
        // Cross-corpus boilerplate 5-grams (see [[boilerplateNgrams]]):
        // a gram present in >= 2 distinct docs is boilerplate; a doc
        // with > 20% boilerplate positions is dropped. At sf0.01 this
        // flags 47/500 docs — the near-dup clone families, found
        // WITHOUT any signature scheme (the n-gram-overlap complement
        // to d02's minhash).
        boilerplateNgrams(docs(s, dir), n = 5, minDocs = 2,
          maxFrac = 0.2),
      Some("""
        WITH toks AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\s+'),
                        x -> len(x) > 0) AS tl
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT doc_id, array_to_string(tl[i:i+4], ' ') AS gram
          FROM toks, unnest(range(1, len(tl) - 3)) AS s(i)
          WHERE len(tl) >= 5),
        freq AS (
          SELECT gram, COUNT(*) AS nd
          FROM (SELECT DISTINCT gram, doc_id FROM g) GROUP BY gram),
        per AS (
          SELECT g.doc_id, COUNT(*) AS n_grams,
            SUM(CASE WHEN freq.nd >= 2 THEN 1 ELSE 0 END) AS n_boiler
          FROM g JOIN freq USING (gram) GROUP BY g.doc_id)
        SELECT doc_id, n_grams, CAST(n_boiler AS BIGINT) AS n_boiler,
          ROUND(CAST(n_boiler AS DOUBLE) / n_grams, 6) AS boiler_frac,
          CAST(CAST(n_boiler AS DOUBLE) / n_grams <= 0.2 AS INT)
            AS is_kept
        FROM per
        ORDER BY doc_id"""))
    ,
    // ----------------------------------------------------------------
    Q(
      "d15_remove_passages",
      (s, dir) =>
        // Duplicated-passage REMOVAL (see [[removePassages]]): token
        // positions covered by a corpus-duplicated 5-gram are excised
        // and the text rebuilt from the survivors — the rewrite
        // counterpart of d13's flag-only filter. At sf0.01 this
        // rewrites 71/500 docs.
        removePassages(docs(s, dir), n = 5, minDocs = 2),
      Some(s"""
        WITH $sqlRemovePassagesCtes
        SELECT d.doc_id, CAST(len(d.toks) AS BIGINT) AS n_tokens,
          CAST(len(d.toks) - COALESCE(a.n_kept, 0) AS BIGINT)
            AS n_removed,
          COALESCE(a.clean_text, '') AS clean_text
        FROM d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "d16_editdist_neardup",
      (s, dir) =>
        // Edit-distance verify over LSH candidates (see
        // [[editDistanceNearDup]]): Jaccard gate relaxed to 0.3 so the
        // Levenshtein pass is the decisive filter (<= 40% of the
        // 500-char prefix edited).
        editDistanceNearDup(docs(s, dir), minJaccard = 0.3,
          prefixLen = 500, maxNormEd = 0.4),
      Some(s"""
        $sqlBandsCte,
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_id = b.band_id AND a.band_hash = b.band_hash
           AND a.doc_id < b.doc_id),
        shd AS (
          SELECT doc_id,
            list_distinct(list_transform(
              CASE WHEN len(tl) >= 3
                THEN list_transform(range(1, len(tl) - 1),
                       i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
                ELSE [array_to_string(tl, ' ')] END,
              t -> substr(md5(t), 1, 16))) AS sl
          FROM toks),
        cand AS (
          SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
              CAST(len(list_intersect(sa.sl, sb.sl)) AS DOUBLE) /
              CAST(len(sa.sl) + len(sb.sl)
                   - len(list_intersect(sa.sl, sb.sl)) AS DOUBLE)
                AS jaccard
            FROM pairs
            JOIN shd sa ON doc_a = sa.doc_id
            JOIN shd sb ON doc_b = sb.doc_id)
          WHERE jaccard >= 0.3),
        pref AS (
          SELECT doc_id, substr(text, 1, 500) AS p
          FROM documents WHERE text IS NOT NULL),
        ed AS (
          SELECT c.doc_a, c.doc_b, c.jaccard,
            CAST(levenshtein(pa.p, pb.p) AS INT) AS edit_dist,
            GREATEST(len(pa.p), len(pb.p)) AS mx
          FROM cand c
          JOIN pref pa ON c.doc_a = pa.doc_id
          JOIN pref pb ON c.doc_b = pb.doc_id)
        SELECT doc_a, doc_b, jaccard, edit_dist,
          CASE WHEN mx > 0
            THEN ROUND(CAST(edit_dist AS DOUBLE) / CAST(mx AS DOUBLE), 6)
            ELSE 0.0 END AS norm_ed
        FROM ed
        WHERE (CASE WHEN mx > 0
                 THEN ROUND(CAST(edit_dist AS DOUBLE) / CAST(mx AS DOUBLE), 6)
                 ELSE 0.0 END) <= 0.4
        ORDER BY doc_a, doc_b""")),
    // ----------------------------------------------------------------
    Q(
      "d17_quality_keepers",
      (s, dir) => qualityKeepers(docs(s, dir)),
      Some(s"""
        $sqlBandsCte,
        bm AS (
          SELECT band_id, band_hash, MIN(doc_id) AS bucket_min
          FROM bands GROUP BY band_id, band_hash),
        fam AS (
          SELECT b.doc_id, MIN(bm.bucket_min) AS family
          FROM bands b JOIN bm USING (band_id, band_hash)
          GROUP BY b.doc_id),
        qsig AS (
          SELECT doc_id,
            $sqlQualitySignals
          FROM documents WHERE text IS NOT NULL),
        q AS (
          SELECT doc_id,
            $sqlQuality AS quality
          FROM qsig)
        SELECT f.doc_id, f.family, q.quality,
          CAST(ROW_NUMBER() OVER (
            PARTITION BY f.family
            ORDER BY q.quality DESC, f.doc_id) = 1 AS INT) AS is_kept
        FROM fam f JOIN q USING (doc_id)
        ORDER BY f.doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "d18_containment_pairs",
      (s, dir) => containmentPairs(docs(s, dir)).orderBy("doc_a", "doc_b"),
      Some("""
        WITH toks AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\s+'),
                        x -> len(x) > 0) AS tl
          FROM documents WHERE text IS NOT NULL),
        sh0 AS (
          SELECT DISTINCT doc_id,
            substr(md5(t), 1, 16) AS g
          FROM (
            SELECT doc_id, unnest(
              CASE WHEN len(tl) >= 3
                THEN list_transform(range(1, len(tl) - 1),
                       i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
                ELSE [array_to_string(tl, ' ')] END) AS t
            FROM toks)),
        gdf AS (SELECT g, COUNT(*) AS df FROM sh0 GROUP BY g),
        szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh0 GROUP BY doc_id),
        pre AS (
          SELECT doc_id AS doc_a, g FROM (
            SELECT h.doc_id, h.g, s.sz,
              ROW_NUMBER() OVER (PARTITION BY h.doc_id
                                 ORDER BY d.df, h.g) AS rn
            FROM sh0 h JOIN gdf d USING (g) JOIN szs s USING (doc_id))
          WHERE rn <= sz - (9 * sz + 9) // 10 + 1),
        cand AS (
          SELECT DISTINCT p.doc_a, h.doc_id AS doc_b
          FROM pre p JOIN sh0 h USING (g)
          WHERE h.doc_id <> p.doc_a),
        sets AS (SELECT doc_id, list(g) AS sl FROM sh0 GROUP BY doc_id)
        SELECT c.doc_a, c.doc_b,
          CAST(len(sa.sl) AS INT) AS n_a,
          CAST(len(sb.sl) AS INT) AS n_b,
          CAST(len(list_intersect(sa.sl, sb.sl)) AS DOUBLE)
            / len(sa.sl) AS containment
        FROM cand c
        JOIN sets sa ON c.doc_a = sa.doc_id
        JOIN sets sb ON c.doc_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.sl, sb.sl)) AS DOUBLE)
              / len(sa.sl) >= 0.9
        ORDER BY c.doc_a, c.doc_b""")),
    // ----------------------------------------------------------------
    Q(
      "d19_containment_capped",
      // The SKEW-CAPPED containment tier (maxPosting = 16 — the cap
      // actually fires at sf0.1, where 669 grams exceed it): hot
      // grams leave both join sides before prefix ranking, and the
      // prefix budget is re-ranked over the retained cold grams (see
      // [[containmentPairs]]). The oracle below does NOT mirror the
      // capped machinery — it states the capped mode's exact SEMANTIC
      // independently: the ≥-0.9-containment pairs (computed with
      // d18's UNcapped construction) that share at least one gram
      // with df ≤ 16. A hash match proves the capped plan implements
      // that contract, at every SF, including where the cap bites.
      (s, dir) => containmentPairs(docs(s, dir), maxPosting = 16)
        .orderBy("doc_a", "doc_b"),
      Some("""
        WITH toks AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\s+'),
                        x -> len(x) > 0) AS tl
          FROM documents WHERE text IS NOT NULL),
        sh0 AS (
          SELECT DISTINCT doc_id,
            substr(md5(t), 1, 16) AS g
          FROM (
            SELECT doc_id, unnest(
              CASE WHEN len(tl) >= 3
                THEN list_transform(range(1, len(tl) - 1),
                       i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
                ELSE [array_to_string(tl, ' ')] END) AS t
            FROM toks)),
        gdf AS (SELECT g, COUNT(*) AS df FROM sh0 GROUP BY g),
        szs AS (SELECT doc_id, COUNT(*) AS sz FROM sh0 GROUP BY doc_id),
        pre AS (
          SELECT doc_id AS doc_a, g FROM (
            SELECT h.doc_id, h.g, s.sz,
              ROW_NUMBER() OVER (PARTITION BY h.doc_id
                                 ORDER BY d.df, h.g) AS rn
            FROM sh0 h JOIN gdf d USING (g) JOIN szs s USING (doc_id))
          WHERE rn <= sz - (9 * sz + 9) // 10 + 1),
        cand AS (
          SELECT DISTINCT p.doc_a, h.doc_id AS doc_b
          FROM pre p JOIN sh0 h USING (g)
          WHERE h.doc_id <> p.doc_a),
        sets AS (SELECT doc_id, list(g) AS sl FROM sh0 GROUP BY doc_id),
        colds AS (
          SELECT h.doc_id, list(h.g) AS cl
          FROM sh0 h JOIN gdf d USING (g)
          WHERE d.df <= 16 GROUP BY h.doc_id)
        SELECT c.doc_a, c.doc_b,
          CAST(len(sa.sl) AS INT) AS n_a,
          CAST(len(sb.sl) AS INT) AS n_b,
          CAST(len(list_intersect(sa.sl, sb.sl)) AS DOUBLE)
            / len(sa.sl) AS containment
        FROM cand c
        JOIN sets sa ON c.doc_a = sa.doc_id
        JOIN sets sb ON c.doc_b = sb.doc_id
        JOIN colds ca ON c.doc_a = ca.doc_id
        JOIN colds cb ON c.doc_b = cb.doc_id
        WHERE CAST(len(list_intersect(sa.sl, sb.sl)) AS DOUBLE)
              / len(sa.sl) >= 0.9
          AND len(list_intersect(ca.cl, cb.cl)) >= 1
        ORDER BY c.doc_a, c.doc_b""")),
    // ----------------------------------------------------------------
    Q(
      "d20_decontamination",
      (s, dir) =>
        // Eval-set decontamination (see [[decontaminate]]): 8-gram
        // collisions against the doc_id%23 held-out slice — the
        // benchmark-leak gate every training corpus crosses last.
        // 8 grams is the PaLM-class window; the broadcast eval-gram
        // probe is the whole scale story (the corpus never shuffles
        // by gram).
        decontaminate(docs(s, dir), n = 8, evalMod = 23),
      Some("""
        WITH toks AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\s+'),
                        x -> len(x) > 0) AS tl
          FROM documents WHERE text IS NOT NULL),
        g AS (
          SELECT DISTINCT doc_id,
            substr(md5(array_to_string(tl[i:i+7], ' ')), 1, 16) AS g
          FROM toks, unnest(range(1, len(tl) - 6)) AS s(i)
          WHERE len(tl) >= 8),
        ev AS (SELECT doc_id AS eval_id, g FROM g WHERE doc_id % 23 = 0),
        tr AS (SELECT doc_id, g FROM g WHERE doc_id % 23 <> 0),
        hits AS (
          SELECT tr.doc_id, tr.g, ev.eval_id FROM tr JOIN ev USING (g)),
        nh AS (
          SELECT doc_id, COUNT(*) AS n_hit
          FROM (SELECT DISTINCT doc_id, g FROM hits) GROUP BY doc_id),
        ne AS (
          SELECT doc_id, COUNT(*) AS n_eval_docs
          FROM (SELECT DISTINCT doc_id, eval_id FROM hits)
          GROUP BY doc_id),
        cnt AS (SELECT doc_id, COUNT(*) AS n_grams FROM tr GROUP BY doc_id)
        SELECT t.doc_id,
          COALESCE(c.n_grams, 0) AS n_grams,
          COALESCE(nh.n_hit, 0) AS n_hit,
          COALESCE(ne.n_eval_docs, 0) AS n_eval_docs,
          CAST(COALESCE(nh.n_hit, 0) = 0 AS INT) AS is_kept
        FROM toks t
        LEFT JOIN cnt c USING (doc_id)
        LEFT JOIN nh USING (doc_id)
        LEFT JOIN ne USING (doc_id)
        WHERE t.doc_id % 23 <> 0
        ORDER BY t.doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "d21_dedup_impact",
      (s, dir) => dedupImpact(docs(s, dir)),
      Some(s"""
        $sqlBandsCte,
        bm AS (
          SELECT band_id, band_hash, MIN(doc_id) AS bucket_min
          FROM bands GROUP BY band_id, band_hash),
        verdict AS (
          SELECT b.doc_id,
            CAST(MIN(bm.bucket_min) = b.doc_id AS INT) AS is_kept
          FROM bands b JOIN bm USING (band_id, band_hash)
          GROUP BY b.doc_id)
        SELECT d.source, COUNT(*) AS n_docs,
          CAST(SUM(1 - COALESCE(v.is_kept, 1)) AS BIGINT) AS n_dropped,
          CAST(SUM(d.n_chars) AS BIGINT) AS chars_total,
          CAST(SUM(d.n_chars * (1 - COALESCE(v.is_kept, 1))) AS BIGINT)
            AS chars_dropped,
          ROUND(CAST(SUM(d.n_chars * (1 - COALESCE(v.is_kept, 1))) AS DOUBLE) /
                CAST(SUM(d.n_chars) AS DOUBLE), 6) AS drop_ratio
        FROM documents d LEFT JOIN verdict v USING (doc_id)
        GROUP BY d.source ORDER BY d.source"""))
    ,
    // ----------------------------------------------------------------
    Q(
      "d22_exact_substring_dedup",
      (s, dir) =>
        // Exact-substring passage removal (see
        // [[exactSubstringDedup]]): every character covered by a
        // duplicated substring of >= 40 chars — at ANY alignment —
        // excised, the Lee et al. 2022 semantics d15's fixed token
        // n-grams approximate.
        exactSubstringDedup(docs(s, dir)),
      Some(sqlExactSubstringDedup(minLen = 40))),
    // ----------------------------------------------------------------
    Q(
      "d23_exact_substring_fast",
      (s, dir) =>
        // d22's semantics at the 100 TB shuffle width (see
        // [[exactSubstringDedupFast]]): 8-byte rolling Karp–Rabin
        // fingerprints replace the 40-char window keys; the oracle is
        // d22's string-window restatement VERBATIM, so the hash match
        // doubles as the collision-freeness certificate.
        exactSubstringDedupFast(docs(s, dir)),
      Some(sqlExactSubstringDedup(minLen = 40))),
    // ----------------------------------------------------------------
    Q(
      "d24_incremental_dedup",
      (s, dir) =>
        // Incremental dedup maintenance (see [[incrementalDedup]]):
        // the base era's band signatures PERSISTED to parquet, only
        // the delta hashed today, admission = no shared band with the
        // stored corpus or a smaller-id delta doc. The q88/q89
        // discipline applied to the dedup tier.
        incrementalDedup(docs(s, dir)),
      Some(sqlIncrementalDedup)),
    // ----------------------------------------------------------------
    Q(
      "d25_incremental_dedup_verified",
      (s, dir) =>
        // d24's store screen composed with d03's exact-Jaccard verify
        // tier (see [[incrementalDedupVerified]]): band hits against
        // the persisted signature store become candidate PAIRS, each
        // confirmed by exact shingle-set Jaccard >= 0.8 before the
        // document is rejected — a band false positive is re-admitted.
        incrementalDedupVerified(docs(s, dir)),
      Some(sqlIncrementalDedupVerified))
  )

  /** Incremental dedup maintenance (d24) — the q88/q89 seeded-refresh
    * discipline applied to the dedup tier: the daily production shape
    * of MinHash/LSH dedup, where yesterday's corpus is represented by
    * its PERSISTED band-signature store and only today's delta
    * documents are tokenized and hashed. The corpus splits at the
    * median doc_id (floorDiv — the q87 floor rule; the id axis stands
    * in for the ingest date the testdata lacks): base-era docs'
    * signatures are computed batch-style and written to parquet (the
    * store build is yesterday's run, paid here so the oracle can
    * check the whole pipeline), then TODAY's work touches only the
    * delta — its signatures, one band-keyed join against the store
    * read back from disk, and a d07-style min-id keeper election
    * inside the delta:
    *
    *   - `dup_of_base`: the delta doc shares a (band_id, band_hash)
    *     with a stored base doc — the corpus already has this
    *     content; the store answers WITHOUT re-reading base text.
    *   - `dup_in_delta`: it shares a band with a SMALLER-id delta doc
    *     (first-writer-wins — computed linearly via per-band min ids,
    *     never in-bucket pair expansion).
    *   - `admitted`: neither — the doc enters the corpus, and a real
    *     deployment would append its signatures to the store.
    *
    * Band-sharing is the same candidate semantics as d07's keeper
    * families (only near-identical docs collide on a full minhash
    * band); the exact-Jaccard verify tier (d03) composes after
    * admission screening when byte-budgets allow.
    *
    * Scale shape: today's cost is hashing the DELTA (explode →
    * codegen projections → min-agg, the d02 shape) plus one
    * (band_id, band_hash)-keyed shuffle against a store that holds 8
    * band hashes per doc — signature-sized, never corpus-sized — and
    * a map-side-combining per-band MIN inside the delta. Nothing
    * re-reads or re-tokenizes the base corpus; that is the entire
    * point of the operator.
    */
  def incrementalDedup(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val d = documents.filter(col("text").isNotNull)
    val b = d.agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .collect()(0) // 1-row bounded fetch
    if (b.isNullAt(0))
      return Seq.empty[(Long, Int, Int, Int)]
        .toDF("doc_id", "dup_of_base", "dup_in_delta", "admitted")
    val cut = Math.floorDiv(b.getLong(0) + b.getLong(1), 2L)
    // Yesterday's run: base signatures persisted — the artifact.
    val storeRoot = graft.ops.SourceSinks.tmp("graft_d24")
    val store = new java.io.File(storeRoot, "sigs").getAbsolutePath
    minhashBands(d.filter(col("doc_id") <= cut))
      .write.mode("overwrite").parquet(store)
    val stored = s.read
      .schema("doc_id BIGINT, band_id INT, band_hash STRING")
      .parquet(store)
    // Today: hash ONLY the delta, and persist ITS signatures beside
    // the base's — exactly what a deployment does (today's delta is
    // tomorrow's base; the store only ever grows by signature-sized
    // appends). The read-back also shares one signature job across
    // the three consumers below without a checkpoint whose lifetime
    // would have to outlive this lazy result (a localCheckpoint here
    // could not be freed safely before the caller materializes).
    val deltaStore = new java.io.File(storeRoot, "sigs_delta")
      .getAbsolutePath
    minhashBands(d.filter(col("doc_id") > cut))
      .write.mode("overwrite").parquet(deltaStore)
    val deltaSigs = s.read
      .schema("doc_id BIGINT, band_id INT, band_hash STRING")
      .parquet(deltaStore)
    val deltaDocs = deltaSigs.select("doc_id").distinct()
    val hitsBase = deltaSigs
      .join(stored.select("band_id", "band_hash"),
        Seq("band_id", "band_hash"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("fb", lit(1))
    val minDelta = deltaSigs.groupBy("band_id", "band_hash")
      .agg(min("doc_id").as("m"))
    val hitsDelta = deltaSigs
      .join(minDelta, Seq("band_id", "band_hash"))
      .filter(col("doc_id") > col("m"))
      .select("doc_id").distinct()
      .withColumn("fd", lit(1))
    deltaDocs
      .join(hitsBase, Seq("doc_id"), "left")
      .join(hitsDelta, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("fb"), lit(0)).as("dup_of_base"),
        coalesce(col("fd"), lit(0)).as("dup_in_delta"),
        (coalesce(col("fb"), lit(0)) === 0 &&
          coalesce(col("fd"), lit(0)) === 0)
          .cast("int").as("admitted"))
      .orderBy("doc_id")
  }

  /** Incremental dedup with exact-verify admission (d25) — the
    * composition d24's scaladoc gestures at, closing the
    * false-positive-rejection story: the reference-grade pipeline
    * never rejects a document on a band hit alone, because a full
    * minhash band CAN collide for docs that are merely similar-ish
    * (or, rarely, not similar at all); it confirms each screen hit
    * with exact Jaccard on the candidate pair (d03's verify tier)
    * and re-admits the false positives.
    *
    * Same median-id cut and persisted band-signature store as d24;
    * the differences are downstream of the screen:
    *
    *   - the store join is an INNER join producing candidate
    *     (delta doc, base doc) PAIRS instead of d24's left-semi
    *     verdict — `screened` = the doc hit ≥ 1 stored band,
    *     `n_candidates` = how many distinct base docs it collided
    *     with;
    *   - each pair is verified by exact shingle-set Jaccard ≥ 0.8,
    *     computed as the INTEGER cross-multiplication
    *     10·|A∩B| ≥ 8·|A∪B| (no FP division crosses the engine
    *     boundary); `confirmed_dup` = some candidate passed;
    *   - `admitted` = NOT confirmed — a screen hit whose best exact
    *     Jaccard falls short is a band false positive and the doc
    *     enters the corpus after all.
    *
    * Scale shape: everything up to the screen is d24 (delta-only
    * hashing, band-keyed store join — signature-sized, never
    * corpus-sized). The verify tier re-reads TEXT only for docs the
    * screen actually touched (candidate delta docs + their base
    * candidates — a left-semi onto documents), ships 16-hex-hashed
    * shingle SETS through the pair join (d03's discipline), and the
    * pair count is band-candidate-bounded: only near-identical docs
    * collide on a full band, so fan-out stays tiny — this is
    * precisely the byte-budget the d24 scaladoc's "when byte-budgets
    * allow" clause prices.
    */
  def incrementalDedupVerified(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    val d = documents.filter(col("text").isNotNull)
    val b = d.agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .collect()(0) // 1-row bounded fetch
    if (b.isNullAt(0))
      return Seq.empty[(Long, Int, Long, Int, Int)]
        .toDF("doc_id", "screened", "n_candidates", "confirmed_dup",
          "admitted")
    val cut = Math.floorDiv(b.getLong(0) + b.getLong(1), 2L)
    // Yesterday's artifact + today's delta signatures, persisted and
    // read back — d24's storage discipline, shared verbatim.
    val storeRoot = graft.ops.SourceSinks.tmp("graft_d25")
    val store = new java.io.File(storeRoot, "sigs").getAbsolutePath
    minhashBands(d.filter(col("doc_id") <= cut))
      .write.mode("overwrite").parquet(store)
    val stored = s.read
      .schema("doc_id BIGINT, band_id INT, band_hash STRING")
      .parquet(store)
    val deltaStore = new java.io.File(storeRoot, "sigs_delta")
      .getAbsolutePath
    minhashBands(d.filter(col("doc_id") > cut))
      .write.mode("overwrite").parquet(deltaStore)
    val deltaSigs = s.read
      .schema("doc_id BIGINT, band_id INT, band_hash STRING")
      .parquet(deltaStore)
    val deltaDocs = deltaSigs.select("doc_id").distinct()
    // The SCREEN, as candidate pairs: one band-keyed shuffle join
    // whose right side is the signature-sized store.
    val cand = deltaSigs
      .join(stored.select(col("band_id"), col("band_hash"),
        col("doc_id").as("base_id")), Seq("band_id", "band_hash"))
      .select(col("doc_id"), col("base_id")).distinct()
      .localCheckpoint() // feeds the touched-doc semi AND the verify
    // The VERIFY: shingle sets ONLY for docs the screen touched.
    val touched = cand.select("doc_id")
      .unionByName(cand.select(col("base_id").as("doc_id")))
      .distinct()
    val sets = shingleRows(d.join(touched, Seq("doc_id"), "left_semi"))
      .groupBy("doc_id")
      .agg(collect_set(substring(md5(col("t")), 1, 16)).as("sl"))
      .localCheckpoint() // both sides of the pair join read it
    val per = cand
      .join(sets.select(col("doc_id").as("da"), col("sl").as("sla")),
        col("doc_id") === col("da"))
      .join(sets.select(col("doc_id").as("db"), col("sl").as("slb")),
        col("base_id") === col("db"))
      .withColumn("inter",
        size(array_intersect(col("sla"), col("slb"))))
      .select(col("doc_id"),
        (col("inter") * 10 >=
          (size(col("sla")) + size(col("slb")) - col("inter")) * 8)
          .cast("int").as("ok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_candidates"), max("ok").as("confirmed"))
    deltaDocs.join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_candidates").isNotNull.cast("int").as("screened"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("confirmed"), lit(0)).as("confirmed_dup"),
        (coalesce(col("confirmed"), lit(0)) === 0)
          .cast("int").as("admitted"))
      .orderBy("doc_id")
  }

  /** The d25 oracle: d24's cut/band CTEs + d03's hashed shingle-set
    * restatement, the screen as candidate pairs, the verify as the
    * same integer cross-multiplication.
    */
  // lazy: declared after `all`, which captures it at object init.
  private[graft] lazy val sqlIncrementalDedupVerified: String =
    s"""
      $sqlBandsCte,
      cutv AS (
        SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS cut
        FROM documents WHERE text IS NOT NULL),
      bb AS (SELECT b.* FROM bands b, cutv WHERE b.doc_id <= cut),
      db AS (SELECT b.* FROM bands b, cutv WHERE b.doc_id > cut),
      cand AS (
        SELECT DISTINCT d.doc_id, b.doc_id AS base_id
        FROM db d JOIN bb b ON d.band_id = b.band_id
                           AND d.band_hash = b.band_hash),
      shd AS (
        SELECT doc_id,
          list_distinct(list_transform(
            CASE WHEN len(tl) >= 3
              THEN list_transform(range(1, len(tl) - 1),
                     i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
              ELSE [array_to_string(tl, ' ')] END,
            t -> substr(md5(t), 1, 16))) AS sl
        FROM toks),
      pj AS (
        SELECT c.doc_id,
          CASE WHEN 10 * len(list_intersect(sa.sl, sb.sl)) >=
            8 * (len(sa.sl) + len(sb.sl)
                 - len(list_intersect(sa.sl, sb.sl)))
          THEN 1 ELSE 0 END AS ok
        FROM cand c
        JOIN shd sa ON c.doc_id = sa.doc_id
        JOIN shd sb ON c.base_id = sb.doc_id),
      per AS (
        SELECT doc_id, COUNT(*) AS n_candidates, MAX(ok) AS confirmed
        FROM pj GROUP BY doc_id)
      SELECT dd.doc_id,
        CAST(per.doc_id IS NOT NULL AS INT) AS screened,
        CAST(COALESCE(per.n_candidates, 0) AS BIGINT) AS n_candidates,
        CAST(COALESCE(per.confirmed, 0) AS INT) AS confirmed_dup,
        CAST(COALESCE(per.confirmed, 0) = 0 AS INT) AS admitted
      FROM (SELECT DISTINCT doc_id FROM db) dd
      LEFT JOIN per ON dd.doc_id = per.doc_id
      ORDER BY dd.doc_id"""

  /** The d24 oracle: bands for BOTH eras restated via the shared
    * [[sqlBandsCte]] chain, the same median-id cut, base-hit semi
    * and per-band min-id election in SQL.
    */
  // lazy: declared after `all`, which captures it at object init.
  private[graft] lazy val sqlIncrementalDedup: String =
    s"""
      $sqlBandsCte,
      cutv AS (
        SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS cut
        FROM documents WHERE text IS NOT NULL),
      bb AS (SELECT b.* FROM bands b, cutv WHERE b.doc_id <= cut),
      db AS (SELECT b.* FROM bands b, cutv WHERE b.doc_id > cut),
      hitsb AS (
        SELECT DISTINCT d.doc_id FROM db d
        JOIN bb ON d.band_id = bb.band_id
               AND d.band_hash = bb.band_hash),
      mind AS (
        SELECT band_id, band_hash, MIN(doc_id) AS m
        FROM db GROUP BY band_id, band_hash),
      hitsd AS (
        SELECT DISTINCT d.doc_id FROM db d
        JOIN mind m ON d.band_id = m.band_id
                   AND d.band_hash = m.band_hash
                   AND d.doc_id > m.m)
      SELECT dd.doc_id,
        CAST(hb.doc_id IS NOT NULL AS INT) AS dup_of_base,
        CAST(hd.doc_id IS NOT NULL AS INT) AS dup_in_delta,
        CAST(hb.doc_id IS NULL AND hd.doc_id IS NULL AS INT)
          AS admitted
      FROM (SELECT DISTINCT doc_id FROM db) dd
      LEFT JOIN hitsb hb ON dd.doc_id = hb.doc_id
      LEFT JOIN hitsd hd ON dd.doc_id = hd.doc_id
      ORDER BY dd.doc_id"""

  /** Exact-substring passage dedup (d22) — the published standard for
    * training-corpus passage removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": suffix-array
    * ExactSubstr): remove every character that lies inside a
    * substring of length ≥ `minLen` occurring MORE THAN ONCE in the
    * corpus, at any alignment — within a document or across
    * documents. d15 approximates this with fixed token 5-grams and
    * misses any duplicate that never spans five whole shared tokens;
    * here the anchor set is EVERY length-`minLen` character window,
    * so the removed region is exactly the union of all duplicated
    * ≥-`minLen` substrings:
    *
    *   - a duplicated substring of length M ≥ minLen duplicates each
    *     of its M − minLen + 1 length-`minLen` windows, and the union
    *     of their [p, p+minLen) intervals is precisely the substring;
    *   - conversely every flagged window IS a duplicated substring —
    *     no false removal.
    *
    * Like the published ExactSubstr tool, ALL copies of a duplicated
    * span are removed (the acknowledged quirk of the paper's
    * released implementation), which also makes the verdict a pure
    * per-position predicate — no keeper election, no ordering.
    *
    * Scale shape: one Generate emits n − minLen + 1 anchor windows
    * per document (the per-row array is len·minLen chars — bounded
    * by doc length, never corpus); duplicate detection is a
    * map-side-combining groupBy on the window key plus a left-semi
    * join back (skew-safe even for a globally common window — see
    * [[excision]]); interval union is the
    * classic gaps-and-islands window PARTITIONED PER DOCUMENT
    * (bounded by doc length); the rebuild is a per-row fold over the
    * merged islands. The shuffle carries ~minLen× the corpus bytes —
    * at 100 TB a deployment swaps the window key for a Karp–Rabin
    * rolling fingerprint (8 bytes, computed map-side, same grouping)
    * or the paper's suffix array; the count/island/rebuild skeleton
    * is unchanged, which is what this operator pins.
    *
    * Output per document: char counts, merged duplicate-region
    * count, and the md5 of the REBUILT text — the oracle recomputes
    * the rebuild independently, so the hash match proves the excision
    * byte-exact, not just the arithmetic.
    */
  def exactSubstringDedup(documents: DataFrame,
      minLen: Int = 40): DataFrame = {
    val d = docFrame(documents)
    // Repartition the doc frame BEFORE the window materialization
    // (guide §2.5: one unsplittable input file → repartition right
    // after the read): the corpus ships as a single one-row-group
    // parquet, so this per-row-HEAVIEST pass (each doc expands into
    // len·minLen characters of window keys) would otherwise run in
    // ONE task regardless of core count. Parallelism derives from
    // the session, not a local constant; measured at sf0.1/local[32]
    // d22 drops 5.7 → 2.4 s (min-of-2), while the same repartition
    // applied globally LOSES on every lighter pass (d23's native
    // fingerprints, one-pass tokenizers) — so it lives exactly here,
    // not in Tables.load.
    //
    // GUARDED on the scan's observed parallelism (r19 verdict item
    // 6): at 100 TB the corpus is thousands of splittable files and
    // an unconditional round-robin here would shuffle the full
    // corpus text for nothing. The guard reads the source scan's
    // partition count (documents is scan-rooted — no exchange below
    // it, so .rdd plans without materializing AQE stages); only when
    // the scan cannot feed at least half the session's cores does
    // the unsplittable-input fix apply.
    val par = d.sparkSession.sparkContext.defaultParallelism
    val scanParts = documents.rdd.getNumPartitions
    val pre0 = d.filter(col("len") >= minLen)
    val pre = if (scanParts < par / 2) pre0.repartition(par) else pre0
    val grams = pre
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(1, len - $minLen + 1), " +
          s"p -> substring(text, p, $minLen))")).as(Seq("off", "g")))
      .select(col("doc_id"), (col("off") + 1).cast("int").as("p"),
        col("g"))
    excision(d, grams, minLen)
  }

  /** Exact-substring dedup via rolling Karp–Rabin fingerprints (d23) —
    * d22's SEMANTICS at the 100 TB shuffle width: instead of shipping
    * every length-`minLen` character window as a shuffle key (minLen×
    * the corpus bytes), each window ships one 8-byte double-modulus
    * fingerprint computed by the native codegen'd
    * [[graft.functions.RollingFingerprints]] expression — O(n) per
    * document, one static call per row, no per-window substring
    * materialization. Everything downstream (window-keyed count,
    * per-doc island union, rebuild) is d22's code, SHARED.
    *
    * The oracle is d22's oracle VERBATIM: equal windows hash equal by
    * construction and unequal windows collide with probability ≈ 2⁻⁶²
    * per pair, so the byte-exact md5 match against the
    * string-window restatement is simultaneously the correctness
    * proof and the collision-freeness certificate on the corpus under
    * test (the d05 invariant-oracle discipline, but exact). The spec
    * additionally pins rolling ≡ direct recomputation and d23 ≡ d22
    * on multibyte (non-ASCII) text — the fingerprint rolls over CODE
    * POINTS, the unit both engines' `substring` counts.
    */
  def exactSubstringDedupFast(documents: DataFrame,
      minLen: Int = 40): DataFrame = {
    val s = documents.sparkSession
    val d = docFrame(documents)
    val grams = d.filter(col("len") >= minLen)
      .select(col("doc_id"),
        posexplode(graft.functions.RollingHash.fingerprints(
          expr("encode(text, 'UTF-8')"), minLen)).as(Seq("off", "g")))
      .select(col("doc_id"), (col("off") + 1).cast("int").as("p"),
        col("g"))
    excision(d, grams, minLen)
  }

  /** (doc_id, text, len) — the shared head of d22/d23. */
  private def docFrame(documents: DataFrame): DataFrame =
    documents.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        length(col("text")).as("len"))

  /** The shared d22/d23 tail: flag windows whose corpus count exceeds
    * 1, union the flagged intervals per document, excise and rebuild.
    * `grams` is (doc_id, p, g) with g of ANY equatable type — the
    * character window itself (d22) or its fingerprint (d23).
    */
  private def excision(d: DataFrame, grams: DataFrame,
      minLen: Int): DataFrame = {
    // Windows whose corpus count exceeds 1 (same doc or not) flag
    // their [p, p+minLen) interval. Shape: groupBy(g).count →
    // left-semi back onto grams, NOT count().over(partitionBy(g)) —
    // the window form materializes every corpus-wide occurrence of
    // one window key in a single task, so a globally common window
    // (whitespace runs, boilerplate) skews all its rows into one
    // straggler at the operator's own 100 TB scale; the groupBy gets
    // map-side partial aggregation and the semi-join re-shuffles
    // grams evenly across partitions. Measured head-to-head at sf0.1
    // (r18, min-of-2 on the excision pass alone): d23 window 1.21 s
    // vs groupBy 1.46 s, d22 window 0.70 s vs 0.75 s — the window
    // form is ~7-20% faster on UNIFORM data (one shuffle vs two),
    // but its worst case is unbounded per-key materialization, so
    // the skew-safe shape is the one that survives a scale-up.
    val dupKeys = grams.groupBy("g")
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > 1)
      .select("g")
    val flagged = grams.join(dupKeys, Seq("g"), "left_semi")
      .select(col("doc_id"), col("p").as("s"),
        (col("p") + minLen).cast("int").as("e"))
    // Gaps-and-islands per doc: a window that starts at or before the
    // running max end extends the island (adjacent = contiguous
    // region, still one cut).
    val wp = Window.partitionBy("doc_id").orderBy("s")
    val islands = flagged
      .withColumn("maxe", max("e").over(
        wp.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("maxe").isNull || col("s") > col("maxe"), 1)
          .otherwise(0))
      .withColumn("island", sum("brk").over(wp))
      .groupBy("doc_id", "island")
      .agg(min("s").as("s"), max("e").as("e"))
    val per = islands.groupBy("doc_id")
      .agg(sum(col("e") - col("s")).cast("long").as("n_dup_chars"),
        count(lit(1)).as("n_regions"),
        sort_array(collect_list(struct(col("s"), col("e"))))
          .as("ivs"))
    d.join(per, Seq("doc_id"), "left")
      .withColumn("clean", coalesce(expr(
        """aggregate(ivs,
             named_struct('acc', cast('' as string), 'prev', 1),
             (st, iv) -> named_struct(
               'acc', concat(st.acc,
                 substring(text, st.prev, iv.s - st.prev)),
               'prev', iv.e),
             st -> concat(st.acc,
               substring(text, st.prev, len - st.prev + 1)))"""),
        col("text")))
      .select(col("doc_id"), col("len").cast("long").as("n_chars"),
        coalesce(col("n_dup_chars"), lit(0L)).as("n_dup_chars"),
        (col("len") - coalesce(col("n_dup_chars"), lit(0L)))
          .cast("long").as("n_kept_chars"),
        coalesce(col("n_regions"), lit(0L)).as("n_regions"),
        md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** The d22 oracle: the identical window-count / island-merge /
    * segment-rebuild statement — string_agg over the complement
    * segments reconstructs the clean text independently.
    */
  private[graft] def sqlExactSubstringDedup(minLen: Int): String =
    s"""
      WITH d AS (
        SELECT doc_id, text, CAST(length(text) AS INT) AS len
        FROM documents WHERE text IS NOT NULL),
      g AS (
        SELECT doc_id, CAST(t.p AS INT) AS p,
          substring(text, CAST(t.p AS INT), $minLen) AS g
        FROM d, unnest(range(1, len - $minLen + 2)) AS t(p)
        WHERE len >= $minLen),
      f AS (
        SELECT doc_id, p AS s, p + $minLen AS e FROM (
          SELECT doc_id, p, COUNT(*) OVER (PARTITION BY g) AS c
          FROM g)
        WHERE c > 1),
      isl0 AS (
        SELECT doc_id, s, e,
          MAX(e) OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
        FROM f),
      isl1 AS (
        SELECT doc_id, s, e,
          SUM(CASE WHEN maxe IS NULL OR s > maxe THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY s
                  ROWS UNBOUNDED PRECEDING) AS island
        FROM isl0),
      isl AS (
        SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
        FROM isl1 GROUP BY doc_id, island),
      seg AS (
        SELECT doc_id,
          COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
            AS ks,
          s AS ke
        FROM isl
        UNION ALL
        SELECT i.doc_id, MAX(i.e) AS ks, MIN(d.len) + 1 AS ke
        FROM isl i JOIN d USING (doc_id) GROUP BY i.doc_id),
      agg AS (
        SELECT s.doc_id,
          string_agg(substring(d.text, s.ks, s.ke - s.ks), ''
                     ORDER BY s.ks) AS clean,
          CAST(SUM(s.ke - s.ks) AS BIGINT) AS n_kept
        FROM seg s JOIN d USING (doc_id)
        GROUP BY s.doc_id),
      st AS (
        SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS n_dup_chars,
          COUNT(*) AS n_regions
        FROM isl GROUP BY doc_id)
      SELECT d.doc_id, CAST(d.len AS BIGINT) AS n_chars,
        COALESCE(st.n_dup_chars, 0) AS n_dup_chars,
        CAST(d.len - COALESCE(st.n_dup_chars, 0) AS BIGINT)
          AS n_kept_chars,
        COALESCE(st.n_regions, 0) AS n_regions,
        md5(COALESCE(a.clean, d.text)) AS clean_md5
      FROM d
      LEFT JOIN st USING (doc_id)
      LEFT JOIN agg a USING (doc_id)
      ORDER BY d.doc_id"""
}
