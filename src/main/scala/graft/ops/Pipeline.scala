package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Checkpoints, SessionMemo, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.types.DecimalType

/** The composed real-world use: a training-data cleaning pipeline as
  * ONE declarative plan — quality gate → canonical-fingerprint dedup →
  * per-source stats. Because it's a single DataFrame expression,
  * Catalyst fuses the stages (the tokenizer runs once, pruning reaches
  * the scan) — the reason to build pipelines in the engine instead of
  * chaining jobs through files.
  */
object Pipeline {

  val all: Seq[Q] = Seq(
    Q(
      "p01_clean_corpus",
      (s, dir) => {
        val scored = Tables.load(s, dir, "documents")
          .withColumn("toks", tokens(col("text")))
          .withColumn("n_tokens", size(col("toks")))
          .withColumn("stop_ratio",
            size(filter(col("toks"), t => t.isin("the", "a", "an", "and",
              "or", "of", "to", "in", "is"))).cast("double") /
              col("n_tokens"))
          // quality gate: long enough and stopword-bearing
          .filter(col("n_tokens") >= 20 && col("stop_ratio") > 0.0)
          .withColumn("fingerprint",
            md5(concat_ws(" ", array_sort(array_distinct(col("toks"))))))
        // canonical dedup: survivor = min doc_id per fingerprint
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("fingerprint")).orderBy(col("doc_id"))
        scored
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("total_tokens"),
            (sum(col("n_tokens")).cast("double") / count(lit(1)))
              .as("avg_tokens"))
          .orderBy("source")
      },
      sqlP01),
    // ----------------------------------------------------------------
    Q(
      "p02_crossmodal_topk",
      (s, dir) => {
        // Cross-modal composition: text-side quality gate, join the
        // embedding by id, similarity-rank the survivors against a
        // query vector. One declarative plan across both modalities;
        // the doc table never ships its text past the gate (projection
        // pruning), the embedding side shuffles only gated ids.
        val dot = (a: Column, b: Column) =>
          graft.functions.VectorExpressions.dot(a, b)
        val gated = Tables.load(s, dir, "documents")
          .withColumn("toks", tokens(col("text")))
          .filter(size(col("toks")) >= 40)
          .select("doc_id")
        val e = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), transform(col("embedding"),
            x => x.cast("double")).as("v"))
        val qv = e.filter(col("vec_id") === 0)
          .select(col("v").as("qv"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("cos_sim").desc, col("doc_id"))
        e.join(gated, e("vec_id") === gated("doc_id"))
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(qv))
          .select(col("doc_id"),
            round(dot(col("qv"), col("v")) /
              (sqrt(dot(col("qv"), col("qv"))) *
                sqrt(dot(col("v"), col("v")))), 6).as("cos_sim"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .orderBy("rnk")
      },
      Some("""
        WITH gated AS (
          SELECT doc_id FROM documents
          WHERE text IS NOT NULL
            AND len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> len(x) > 0)) >= 40),
        e AS (
          SELECT vec_id,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        scored AS (
          SELECT g.doc_id,
            ROUND(list_sum(list_transform(list_zip(qv.qv, e.v), p -> p[1]*p[2])) /
              (sqrt(list_sum(list_transform(qv.qv, x -> x*x))) *
               sqrt(list_sum(list_transform(e.v, x -> x*x)))), 6) AS cos_sim
          FROM e JOIN gated g ON e.vec_id = g.doc_id
          CROSS JOIN qv
          WHERE e.vec_id <> 0)
        SELECT doc_id, cos_sim, rnk FROM (
          SELECT doc_id, cos_sim,
            ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS rnk
          FROM scored)
        WHERE rnk <= 10
        ORDER BY rnk""")),
    // ----------------------------------------------------------------
    Q(
      "p03_training_corpus",
      (s, dir) => {
        // The WHOLE training-data pipeline as one job: metadata
        // quality gate → LSH keeper election (dedup) → benchmark
        // decontamination → deterministic 80% hash sample →
        // char-budget packing manifest. Everything the engine's
        // corpus operators exist for, composed. Scale notes: the
        // minhash bands are computed ONCE and checkpointed (feeds
        // both sides of the election); the benchmark gram set is
        // broadcast; every shuffle after the gate carries ids +
        // 16-char hashes or per-source running sums — never text.
        val d = Tables.load(s, dir, "documents")
        val gated = d.filter(col("text").isNotNull &&
          col("n_chars") >= 100 && col("source") =!= "src0")
        // The gated shingle rows feed BOTH the minhash banding and the
        // decontamination grams — materialize once (d03's pattern; a
        // second tokenize+explode pass over the corpus would double
        // the job's dominant cost).
        val sh0 = Dedup.shingleRows(gated).localCheckpoint()
        // dedup: one-hop min-propagation keeper election (d07). The
        // bands feed both the bucket-min agg and the join — second
        // checkpoint, same reason.
        val b = Dedup.minhashBandsFrom(sh0).localCheckpoint()
        val bucketMin = b.groupBy("band_id", "band_hash")
          .agg(min(col("doc_id")).as("bucket_min"))
        val keepers = b.join(bucketMin, Seq("band_id", "band_hash"))
          .groupBy("doc_id")
          .agg(min(col("bucket_min")).as("keeper"))
          .filter(col("keeper") === col("doc_id"))
          .select("doc_id")
        // decontamination vs the held-out source (c05)
        val bench = Dedup.shingleRows(d.filter(col("source") === "src0"))
          .select(substring(md5(col("t")), 1, 16).as("bg"))
          .distinct()
        val grams = sh0.join(keepers, "doc_id")
          .select(col("doc_id"), substring(md5(col("t")), 1, 16).as("g"))
          .distinct()
        val clean = grams
          .join(broadcast(bench), col("g") === col("bg"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("ng"), count(col("bg")).as("nh"))
          .filter(col("nh").cast("double") / col("ng").cast("double")
            < 0.8)
          .select("doc_id")
        // deterministic hash sample (c01 family)
        val sampled = gated.join(clean, "doc_id")
          .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 7),
            16, 10).cast("long") % 100 < 80)
        // char-budget packing manifest (c04 shape, n_chars as budget)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        sampled
          .withColumn("cum", sum(col("n_chars")).over(w))
          .withColumn("bin_id", expr("(cum - n_chars) div 4096"))
          .groupBy("source", "bin_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("bin_chars"))
          .orderBy("source", "bin_id")
      },
      Some("""
        WITH gated AS (
          SELECT doc_id, source, n_chars, lower(text) AS lt
          FROM documents
          WHERE text IS NOT NULL AND n_chars >= 100 AND source <> 'src0'),
        toks AS (
          SELECT doc_id,
            list_filter(string_split_regex(lt, '\s+'),
                        x -> len(x) > 0) AS tl
          FROM gated),
        sh AS (
          SELECT doc_id,
            CASE WHEN len(tl) >= 3
              THEN list_transform(range(1, len(tl) - 1),
                                  i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
              ELSE [array_to_string(tl, ' ')] END AS sl
          FROM toks),
        hb AS (
          SELECT doc_id,
            list_transform(sl, t -> [
              CAST('0x' || substr(md5('a ' || t), 1, 7) AS BIGINT),
              CAST('0x' || substr(md5('b ' || t), 1, 7) AS BIGINT)]) AS hs
          FROM sh),
        sig AS (
          SELECT doc_id,
            list_transform(range(0, 8), band -> {
              'i': band,
              'h': md5(array_to_string(
                     list_transform(range(0, 4), r ->
                       CAST(list_aggregate(
                         list_transform(hs, p ->
                           (p[1] + (band*4 + r) * p[2]) % 268435399),
                         'min') AS VARCHAR)),
                     '|'))}) AS bands
          FROM hb),
        bands AS (
          SELECT doc_id, CAST(u.i AS INT) AS band_id, u.h AS band_hash
          FROM sig, unnest(bands) AS s(u)),
        bm AS (
          SELECT band_id, band_hash, MIN(doc_id) AS bucket_min
          FROM bands GROUP BY band_id, band_hash),
        keepers AS (
          SELECT b.doc_id
          FROM bands b JOIN bm USING (band_id, band_hash)
          GROUP BY b.doc_id HAVING MIN(bm.bucket_min) = b.doc_id),
        btoks AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '\s+'),
                        x -> len(x) > 0) AS tl
          FROM documents WHERE text IS NOT NULL AND source = 'src0'),
        bsh AS (
          SELECT doc_id,
            CASE WHEN len(tl) >= 3
              THEN list_transform(range(1, len(tl) - 1),
                                  i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
              ELSE [array_to_string(tl, ' ')] END AS sl
          FROM btoks),
        bench AS (
          SELECT DISTINCT unnest(list_transform(sl,
            t -> substr(md5(t), 1, 16))) AS g
          FROM bsh),
        kg AS (
          SELECT k.doc_id,
            unnest(list_distinct(list_transform(sh.sl,
              t -> substr(md5(t), 1, 16)))) AS g
          FROM sh JOIN keepers k USING (doc_id)),
        decon AS (
          SELECT kg.doc_id
          FROM kg LEFT JOIN bench b USING (g)
          GROUP BY kg.doc_id
          HAVING CAST(COUNT(b.g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 < 0.8),
        sampled AS (
          SELECT g.doc_id, g.source, g.n_chars
          FROM gated g JOIN decon USING (doc_id)
          WHERE CAST('0x' || substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 7)
                     AS BIGINT) % 100 < 80),
        packed AS (
          SELECT source, n_chars,
            CAST((SUM(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_chars) // 4096 AS BIGINT) AS bin_id
          FROM sampled)
        SELECT source, bin_id, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS bin_chars
        FROM packed
        GROUP BY source, bin_id
        ORDER BY source, bin_id""")),
    // ----------------------------------------------------------------
    Q(
      "p04_tokenized_corpus",
      (s, dir) => {
        // The round-11 pieces composed into the tokenization leg of a
        // training pipeline, as ONE declarative job: duplicated-
        // passage removal (d15) rewrites the text, BPE encode (t17)
        // induces a vocabulary ON THE CLEANED CORPUS and tokenizes it
        // with real token counts, and the c04 packing manifest bins
        // by BPE tokens instead of whitespace counts — the budget a
        // sequence loader actually consumes. Fully-excised docs
        // (clean_text = '') drop out before tokenization. Scale
        // shape: each stage keeps its own audited plan (gram
        // machinery, distinct-word merge chain, running-sum window);
        // the only added joins are doc_id equi-joins carrying counts.
        val d = Tables.load(s, dir, "documents")
        // The cleaned corpus feeds THREE consumers (the induction's
        // round-0 vocabulary, the per-doc word table, and the
        // distinct-word encode input) — materialize d15's rewrite
        // once instead of re-running its gram machinery per consumer
        // (the p03 checkpoint rule; measured 8.5 s → ~4 s at sf0.1).
        val cleaned = Dedup.removePassages(d, n = 5, minDocs = 2)
          .filter(length(col("clean_text")) > 0)
          .select(col("doc_id"), col("clean_text").as("text"))
          .localCheckpoint()
        val enc = TextAnalysis.bpeEncode(cleaned, merges = 5)
          .select("doc_id", "n_tokens")
        // Packing prefix sum via Curation.packedCum's two-pass
        // parallel form (c04's plan) — not a per-source sequential
        // window; the oracle states the same semantics as one window.
        // packedCum scans its input once per pass, and THIS input
        // carries the whole BPE encode — materialize the narrow token
        // table once (the same checkpoint discipline as `cleaned`).
        Curation.packedCum(
          enc.join(d.select("doc_id", "source"), "doc_id")
            .select(col("source"), col("doc_id"), col("n_tokens"))
            .localCheckpoint(),
          "n_tokens")
          .withColumn("bin_id", expr("(cum - n_tokens) div 1024"))
          .groupBy("source", "bin_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).cast("long").as("bin_tokens"))
          .orderBy("source", "bin_id")
      },
      Some(s"""
        WITH ${Dedup.sqlRemovePassagesCtes},
        cleaned AS (
          SELECT d.doc_id, COALESCE(a.clean_text, '') AS text
          FROM d LEFT JOIN agg a USING (doc_id)
          WHERE len(COALESCE(a.clean_text, '')) > 0),
        ${TextAnalysis.sqlBpeEncodeChain(5, "cleaned")},
        enc AS (
          SELECT doc_id, CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens
          FROM wd JOIN v5 v USING (w)
          GROUP BY doc_id),
        src AS (SELECT doc_id, source FROM documents),
        packed AS (
          SELECT source, n_tokens,
            CAST((SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - n_tokens) // 1024 AS BIGINT) AS bin_id
          FROM enc JOIN src USING (doc_id))
        SELECT source, bin_id, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        FROM packed
        GROUP BY source, bin_id
        ORDER BY source, bin_id""")),
    // ----------------------------------------------------------------
    Q(
      "p05_data_card",
      (s, dir) => {
        // Per-source data card — the audit report a corpus release
        // ships with: volume, token mass, mean quality, exact-dup
        // mass, language spread. Three branches over the same pruned
        // projection, each a map-side-combining aggregate, joined on
        // the tiny source key — NO multi-countDistinct in one agg
        // (that plans an Expand multiplying rows ×N; the q27/q56
        // lesson): distincts are dedup-THEN-count branches instead.
        // Determinism: token/char sums are exact longs; mean quality
        // sums per-doc 6-dp-rounded quality as DECIMAL(10,6) (exact,
        // associative) and divides the exact total by the exact count
        // once; stop_frac divides two exact longs.
        val d = Tables.load(s, dir, "documents")
          .filter(col("text").isNotNull)
        val toksC = tokens(col("text"))
        val base = d.select(
          col("source") +: col("lang") +: md5(col("text")).as("h") +:
            qualitySignals(col("text"), toksC): _*)
          .withColumn("q6",
            round(qualityScore(col("n_chars"), col("n_tokens"),
              col("n_stop"), col("n_punct")), 6).cast("decimal(10,6)"))
        val stats = base.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"),
          (sum(col("q6")).cast("double") / count(lit(1)))
            .as("avg_quality"),
          (sum(col("n_stop").cast("long")).cast("double") /
            sum(col("n_tokens").cast("long"))).as("stop_frac"))
        val uniq = base.select("source", "h").distinct()
          .groupBy("source").agg(count(lit(1)).as("n_uniq"))
        val langs = base.select("source", "lang").distinct()
          .groupBy("source").agg(count(lit(1)).as("n_langs"))
        stats.join(uniq, "source").join(langs, "source")
          .select(col("source"), col("n_docs"), col("total_tokens"),
            col("avg_quality"), col("stop_frac"),
            (col("n_docs") - col("n_uniq")).as("dup_docs"),
            col("n_langs"))
          .orderBy("source")
      },
      Some(s"""
        WITH base AS (
          SELECT source, lang, md5(text) AS h,
            ${graft.functions.TextFunctions.sqlQualitySignals}
          FROM documents WHERE text IS NOT NULL),
        scored AS (
          SELECT source, lang, h, n_tokens, n_stop,
            CAST(ROUND(${graft.functions.TextFunctions.sqlQuality}, 6)
                 AS DECIMAL(10,6)) AS q6
          FROM base),
        stats AS (
          SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
            CAST(SUM(q6) AS DOUBLE) / COUNT(*) AS avg_quality,
            CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tokens) AS stop_frac
          FROM scored GROUP BY source),
        uniq AS (
          SELECT source, COUNT(*) AS n_uniq
          FROM (SELECT DISTINCT source, h FROM scored) GROUP BY source),
        langs AS (
          SELECT source, COUNT(*) AS n_langs
          FROM (SELECT DISTINCT source, lang FROM scored) GROUP BY source)
        SELECT s.source, s.n_docs, s.total_tokens, s.avg_quality,
          s.stop_frac, s.n_docs - u.n_uniq AS dup_docs, l.n_langs
        FROM stats s JOIN uniq u USING (source) JOIN langs l USING (source)
        ORDER BY s.source""")),
    // ----------------------------------------------------------------
    Q(
      "p06_release_manifest",
      (s, dir) => {
        val path = new java.io.File(SourceSinks.tmp("graft_p06"),
          "release").getAbsolutePath
        releaseManifest(s, Tables.load(s, dir, "documents"), path)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source, text,
            len(list_filter(string_split_regex(lower(text), '\s+'),
                x -> len(x) > 0)) AS n_tokens
          FROM documents WHERE text IS NOT NULL),
        g AS (SELECT * FROM toks WHERE n_tokens >= 20)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT))
            AS digest
        FROM g GROUP BY source
        ORDER BY source""")),
    // ----------------------------------------------------------------
    Q(
      "p07_incremental_refresh",
      (s, dir) => {
        // Incremental corpus REFRESH — the ingest-side composition
        // s20/s23 mirror on the index side: a new delta (d10's src19
        // batch convention) flows through content-hash dedup against
        // the EXISTING corpus, within-batch dedup, and the t02
        // quality gate, and the output is the refresh audit a daily
        // ingest run reports: how much of the delta was admitted and
        // why the rest was dropped, with token mass per verdict.
        // Rejection precedence (already-in-corpus ≻ duplicate-within-
        // batch ≻ low-quality) is stated identically in the oracle.
        // Scale shape: the corpus side ships ONLY distinct 32-char
        // hashes (d10's rule — the batch never rescans corpus text);
        // within-batch dedup is a window keyed by content hash (group
        // size = duplicate family size); quality is map-side; the
        // audit aggregate map-side-combines.
        val d = Tables.load(s, dir, "documents")
        val index = d.filter(col("source") =!= "src19")
          .select(md5(col("text")).as("h")).distinct()
          .withColumn("seen", lit(1))
        val wDup = Window.partitionBy(col("h")).orderBy(col("doc_id"))
        val batch = d.filter(col("source") === "src19")
          .filter(col("text").isNotNull)
          .withColumn("toks", tokens(col("text")))
          .select(Seq(col("doc_id"), md5(col("text")).as("h")) ++
            qualitySignals(col("text"), col("toks")): _*)
          .withColumn("q", when(col("n_tokens") >= 1,
            round(qualityScore(col("n_chars"), col("n_tokens"),
              col("n_stop"), col("n_punct")), 6)).otherwise(lit(0.0)))
        batch.join(broadcast(index), Seq("h"), "left")
          .withColumn("rn", row_number().over(wDup))
          .select(col("n_tokens"),
            when(col("seen") === 1, "dup_vs_base")
              .when(col("rn") > 1, "dup_within")
              .when(col("q") < 0.5, "low_quality")
              .otherwise("admitted").as("status"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("total_tokens"))
          .orderBy("status")
      },
      Some(s"""
        WITH index_h AS (
          SELECT DISTINCT md5(text) AS h
          FROM documents WHERE source <> 'src19'),
        b0 AS (
          SELECT doc_id, md5(text) AS h,
            ${graft.functions.TextFunctions.sqlQualitySignals}
          FROM documents
          WHERE source = 'src19' AND text IS NOT NULL),
        bq AS (
          SELECT doc_id, h, n_tokens,
            CASE WHEN n_tokens >= 1
              THEN ROUND(${graft.functions.TextFunctions.sqlQuality}, 6)
              ELSE 0.0 END AS q,
            ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
          FROM b0),
        st AS (
          SELECT n_tokens,
            CASE WHEN h IN (SELECT h FROM index_h) THEN 'dup_vs_base'
              WHEN rn > 1 THEN 'dup_within'
              WHEN q < 0.5 THEN 'low_quality'
              ELSE 'admitted' END AS status
          FROM bq)
        SELECT status, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM st GROUP BY status
        ORDER BY status""")),
    // ----------------------------------------------------------------
    Q(
      "p08_admission_gate",
      (s, dir) => {
        // Corpus ADMISSION GATE — the final per-document verdict a
        // training run consumes, composing the round's three quality
        // tiers in the order production pipelines apply them:
        // benchmark decontamination (d20, any shared 8-gram with the
        // held-out eval slice), Gopher repetition filters (t16), and
        // reference-LM coherence (t22's Stupid-Backoff score against
        // a corpus-relative threshold). Rejection precedence is
        // contaminated ≻ repetitive ≻ low_lm — a leaked benchmark doc
        // is reported as such even when it is also repetitive, so the
        // audit attributes loss to the gate that MUST fire.
        //
        // The LM bar is corpus-relative (decimal-exact mean of the
        // graded docs' scores, minus 0.03 nats): an absolute logprob
        // threshold would drift with vocabulary size as the corpus
        // grows, while distance-below-mean is stable across SFs (and
        // engine-identical: the mean divides an exact DECIMAL sum —
        // the D.dbl discipline — before one IEEE subtract).
        //
        // Scale shape: each signal pipeline is its own corpus scan
        // (map-heavy, pruned to doc_id/text) whose output is one
        // bounded row per doc — the joins after them carry only
        // (doc_id, flag) rows, never text. The LM output feeds both
        // the threshold aggregate and the per-doc verdict, so it is
        // localCheckpoint'ed once (the p03 rule — without it the
        // whole bigram pipeline would execute twice); the 1-row
        // threshold crosses back in as a broadcast scalar (t10
        // convention). The presentation sort lives HERE, not in
        // admissionGate: p09 consumes the same frame through a
        // filter + partitioned write where row order is irrelevant,
        // so the gate body must not pay the global-sort exchange.
        admissionGate(s, dir).orderBy("doc_id")
      },
      sqlP08),
    // ----------------------------------------------------------------
    Q(
      "p09_gated_release",
      (s, dir) => {
        // The release step AFTER the gate — the full pipeline arc
        // (gate -> release) as one job: p08's ADMITTED documents
        // written as a source-partitioned parquet release, read BACK
        // from the release files (p06's discipline: every manifest
        // number is computed from what a consumer will actually
        // read), and summarized per source with token mass and the
        // order-independent XOR digest. The oracle computes the same
        // manifest from the base tables THROUGH the gate, so a lost
        // partition, truncated write, or a gate/release verdict
        // mismatch all surface as a digest/count failure. Scale
        // shape: p08's gate cost plus one partitioned write and a
        // pruned read — the release layout is the same per-source
        // directory tree a 100 TB consumer prunes without opening.
        val path = new java.io.File(SourceSinks.tmp("graft_p09"),
          "release").getAbsolutePath
        val admitted = admissionGate(s, dir)
          .filter(col("verdict") === "admitted")
          .select("doc_id")
        Tables.load(s, dir, "documents")
          .join(admitted, "doc_id")
          .withColumn("n_tokens", size(tokens(col("text"))))
          .select(col("doc_id"), col("source"), col("text"),
            col("n_tokens"))
          .write.mode("overwrite").partitionBy("source").parquet(path)
        s.read
          .schema("doc_id BIGINT, text STRING, n_tokens INT, source STRING")
          .parquet(path)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("total_tokens"),
            expr("bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10)" +
              " as bigint))").as("digest"))
          .orderBy("source")
      },
      // p08's gate CTEs (toks additionally carries text for the
      // digest), then the p06 manifest over the admitted set.
      Some("""
        WITH toks AS (
          SELECT doc_id, source, text,
            list_filter(string_split_regex(lower(text), '\s+'),
                        x -> len(x) > 0) AS tl
          FROM documents WHERE text IS NOT NULL),
        g8 AS (
          SELECT DISTINCT doc_id,
            substr(md5(array_to_string(tl[i:i+7], ' ')), 1, 16) AS g
          FROM toks, unnest(range(1, len(tl) - 6)) AS s(i)
          WHERE len(tl) >= 8),
        dhit AS (
          SELECT DISTINCT t.doc_id
          FROM (SELECT doc_id, g FROM g8 WHERE doc_id % 23 <> 0) t
          JOIN (SELECT DISTINCT g FROM g8 WHERE doc_id % 23 = 0) e
            USING (g)),
        g2 AS (
          SELECT doc_id, array_to_string(tl[i:i+1], ' ') AS gram
          FROM toks, unnest(range(1, len(tl))) AS s(i)
          WHERE len(tl) >= 2),
        t2 AS (
          SELECT doc_id, MAX(cnt) AS cnt2 FROM (
            SELECT doc_id, gram, COUNT(*) AS cnt
            FROM g2 GROUP BY doc_id, gram)
          GROUP BY doc_id),
        g3 AS (
          SELECT doc_id, array_to_string(tl[i:i+2], ' ') AS gram
          FROM toks, unnest(range(1, len(tl) - 1)) AS s(i)
          WHERE len(tl) >= 3),
        t3 AS (
          SELECT doc_id, MAX(cnt) AS cnt3 FROM (
            SELECT doc_id, gram, COUNT(*) AS cnt
            FROM g3 GROUP BY doc_id, gram)
          GROUP BY doc_id),
        g5 AS (
          SELECT doc_id, CAST(i AS INT) AS p,
            array_to_string(tl[i:i+4], ' ') AS gram
          FROM toks, unnest(range(1, len(tl) - 3)) AS s(i)
          WHERE len(tl) >= 5),
        d5 AS (
          SELECT doc_id, gram FROM g5
          GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
        cov AS (
          SELECT doc_id, COUNT(DISTINCT pos) AS cov FROM (
            SELECT g.doc_id, g.p + CAST(u.o AS INT) AS pos
            FROM g5 g JOIN d5 USING (doc_id, gram),
                 unnest(range(0, 5)) AS u(o))
          GROUP BY doc_id),
        rep AS (
          SELECT t.doc_id,
            CAST(ROUND(CAST(COALESCE(t2.cnt2 * 2, 0) AS DOUBLE)
                       / len(t.tl), 6) <= CAST(0.20 AS DOUBLE)
             AND ROUND(CAST(COALESCE(t3.cnt3 * 3, 0) AS DOUBLE)
                       / len(t.tl), 6) <= CAST(0.18 AS DOUBLE)
             AND ROUND(CAST(COALESCE(cov.cov, 0) AS DOUBLE)
                       / len(t.tl), 6) <= CAST(0.30 AS DOUBLE)
              AS INT) AS rep_ok
          FROM toks t
          LEFT JOIN t2 USING (doc_id)
          LEFT JOIN t3 USING (doc_id)
          LEFT JOIN cov USING (doc_id)),
        tok AS (
          SELECT doc_id, CAST(u.i AS INT) AS pos, u.t AS term
          FROM toks, unnest(list_transform(range(1, len(tl) + 1),
                            i -> {'i': i, 't': tl[i]})) AS s(u)),
        bi AS (
          SELECT doc_id, pos, term,
            lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM tok),
        uni AS (
          SELECT term, COUNT(*) AS cnt FROM tok
          WHERE doc_id % 10 <> 0 GROUP BY term),
        bc AS (
          SELECT prev, term, COUNT(*) AS bcnt
          FROM bi WHERE prev IS NOT NULL AND doc_id % 10 <> 0
          GROUP BY prev, term),
        tot AS (SELECT COUNT(*) AS total FROM tok
                WHERE doc_id % 10 <> 0),
        sc AS (
          SELECT b.doc_id, b.pos,
            ROUND(CASE
              WHEN b.prev IS NULL THEN
                ln(CASE WHEN u.cnt IS NOT NULL
                   THEN CAST(u.cnt AS DOUBLE) / CAST(t.total AS DOUBLE)
                   ELSE 1.0 / CAST(t.total AS DOUBLE) END)
              WHEN c.bcnt IS NOT NULL THEN
                ln(CAST(c.bcnt AS DOUBLE) / CAST(p.cnt AS DOUBLE))
              ELSE
                ln(0.4 * (CASE WHEN u.cnt IS NOT NULL
                   THEN CAST(u.cnt AS DOUBLE) / CAST(t.total AS DOUBLE)
                   ELSE 1.0 / CAST(t.total AS DOUBLE) END))
            END, 6) AS lnp
          FROM bi b
          LEFT JOIN uni u USING (term)
          LEFT JOIN uni p ON p.term = b.prev
          LEFT JOIN bc c ON c.prev = b.prev AND c.term = b.term
          CROSS JOIN tot t),
        lm AS (
          SELECT doc_id,
            ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                           list(lnp ORDER BY pos)),
                              (a, b) -> a + b) / COUNT(*), 6) AS score
          FROM sc GROUP BY doc_id),
        thr AS (
          SELECT CAST(SUM(CAST(score AS DECIMAL(27,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) - CAST(0.03 AS DOUBLE)
            AS thr
          FROM lm WHERE doc_id % 23 <> 0),
        adm AS (
          SELECT t.doc_id, t.source, t.text,
            CAST(len(t.tl) AS BIGINT) AS n_tokens
          FROM toks t
          LEFT JOIN dhit dh ON t.doc_id = dh.doc_id
          JOIN rep ON rep.doc_id = t.doc_id
          JOIN lm ON lm.doc_id = t.doc_id
          CROSS JOIN thr
          WHERE t.doc_id % 23 <> 0
            AND dh.doc_id IS NULL
            AND rep.rep_ok = 1
            AND lm.score >= thr.thr)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT))
            AS digest
        FROM adm
        GROUP BY source
        ORDER BY source"""))
  )

  /** Per-(session, dir) memo of the gate verdict frame: p08 AND p09
    * both consume it, so a 2-pass bench would otherwise run the full
    * three-tier gate four times. Reuse, invalidation on a rewrite of
    * `documents`, and freeing: see [[graft.SessionMemo]].
    */
  private val gateMemo =
    new SessionMemo[String, DataFrame](Checkpoints.free)

  /** The p08 gate body, factored so p09's release step can consume
    * the same verdict frame; memoized per (session, dir) and pinned
    * as ONE localCheckpoint. See the p08 entry for the design notes.
    */
  def admissionGate(s: SparkSession, dir: String): DataFrame =
    gateMemo(s, dir, Seq(Tables.path(dir, "documents"))) {
      val (verdictFrame, lm) = admissionGateFresh(s, dir)
      val pinned = verdictFrame.localCheckpoint()
      // The pinned verdict supersedes the intermediate lm pin.
      Checkpoints.free(lm)
      pinned
    }

  /** The un-memoized gate construction (verdict frame, plus the
    * intermediate lm checkpoint the caller must free once done) —
    * factored so PlanSpec can pin the REAL join plan (the memoized
    * frame is a checkpoint scan).
    */
  private[graft] def admissionGateFresh(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val d = Tables.load(s, dir, "documents")
    val decon = Dedup.decontaminate(d, n = 8, evalMod = 23)
      .select(col("doc_id"), col("is_kept").as("decon_ok"))
    val rep = TextAnalysis.repetitionSignals(d)
      .select(col("doc_id"), col("is_kept").as("rep_ok"))
    val lm = TextAnalysis.bigramLogprob(d)
      .filter(col("doc_id") % 23 =!= 0)
      .select(col("doc_id"), col("n_tokens"),
        col("avg_logprob_sb"))
      .localCheckpoint()
    val thr = lm.agg(
      (sum(col("avg_logprob_sb").cast(DecimalType(27, 6)))
        .cast("double") / count(lit(1)).cast("double") -
        lit(0.03)).as("thr"))
    val verdictFrame = d
      .filter(col("text").isNotNull && col("doc_id") % 23 =!= 0)
      .select(col("doc_id"), col("source"))
      .join(decon, "doc_id")
      .join(rep, "doc_id")
      .join(lm, "doc_id")
      .crossJoin(broadcast(thr))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("decon_ok"), col("rep_ok"),
        (col("avg_logprob_sb") >= col("thr")).cast("int")
          .as("lm_ok"),
        when(col("decon_ok") === 0, "contaminated")
          .when(col("rep_ok") === 0, "repetitive")
          .when(col("avg_logprob_sb") < col("thr"), "low_lm")
          .otherwise("admitted").as("verdict"))
    (verdictFrame, lm)
  }

  // Independent restatement: the repetition gate needs only each
  // doc's MAX n-gram count (which gram wins a tie never moves the
  // keep bit), so the oracle skips t16's top-1 window entirely;
  // decontamination is an EXISTS against the eval gram set rather
  // than d20's hit accounting.
  private def sqlP08: Option[String] = Some("""
        WITH toks AS (
          SELECT doc_id, source,
            list_filter(string_split_regex(lower(text), '\s+'),
                        x -> len(x) > 0) AS tl
          FROM documents WHERE text IS NOT NULL),
        g8 AS (
          SELECT DISTINCT doc_id,
            substr(md5(array_to_string(tl[i:i+7], ' ')), 1, 16) AS g
          FROM toks, unnest(range(1, len(tl) - 6)) AS s(i)
          WHERE len(tl) >= 8),
        dhit AS (
          SELECT DISTINCT t.doc_id
          FROM (SELECT doc_id, g FROM g8 WHERE doc_id % 23 <> 0) t
          JOIN (SELECT DISTINCT g FROM g8 WHERE doc_id % 23 = 0) e
            USING (g)),
        g2 AS (
          SELECT doc_id, array_to_string(tl[i:i+1], ' ') AS gram
          FROM toks, unnest(range(1, len(tl))) AS s(i)
          WHERE len(tl) >= 2),
        t2 AS (
          SELECT doc_id, MAX(cnt) AS cnt2 FROM (
            SELECT doc_id, gram, COUNT(*) AS cnt
            FROM g2 GROUP BY doc_id, gram)
          GROUP BY doc_id),
        g3 AS (
          SELECT doc_id, array_to_string(tl[i:i+2], ' ') AS gram
          FROM toks, unnest(range(1, len(tl) - 1)) AS s(i)
          WHERE len(tl) >= 3),
        t3 AS (
          SELECT doc_id, MAX(cnt) AS cnt3 FROM (
            SELECT doc_id, gram, COUNT(*) AS cnt
            FROM g3 GROUP BY doc_id, gram)
          GROUP BY doc_id),
        g5 AS (
          SELECT doc_id, CAST(i AS INT) AS p,
            array_to_string(tl[i:i+4], ' ') AS gram
          FROM toks, unnest(range(1, len(tl) - 3)) AS s(i)
          WHERE len(tl) >= 5),
        d5 AS (
          SELECT doc_id, gram FROM g5
          GROUP BY doc_id, gram HAVING COUNT(*) >= 2),
        cov AS (
          SELECT doc_id, COUNT(DISTINCT pos) AS cov FROM (
            SELECT g.doc_id, g.p + CAST(u.o AS INT) AS pos
            FROM g5 g JOIN d5 USING (doc_id, gram),
                 unnest(range(0, 5)) AS u(o))
          GROUP BY doc_id),
        rep AS (
          SELECT t.doc_id,
            CAST(ROUND(CAST(COALESCE(t2.cnt2 * 2, 0) AS DOUBLE)
                       / len(t.tl), 6) <= CAST(0.20 AS DOUBLE)
             AND ROUND(CAST(COALESCE(t3.cnt3 * 3, 0) AS DOUBLE)
                       / len(t.tl), 6) <= CAST(0.18 AS DOUBLE)
             AND ROUND(CAST(COALESCE(cov.cov, 0) AS DOUBLE)
                       / len(t.tl), 6) <= CAST(0.30 AS DOUBLE)
              AS INT) AS rep_ok
          FROM toks t
          LEFT JOIN t2 USING (doc_id)
          LEFT JOIN t3 USING (doc_id)
          LEFT JOIN cov USING (doc_id)),
        tok AS (
          SELECT doc_id, CAST(u.i AS INT) AS pos, u.t AS term
          FROM toks, unnest(list_transform(range(1, len(tl) + 1),
                            i -> {'i': i, 't': tl[i]})) AS s(u)),
        bi AS (
          SELECT doc_id, pos, term,
            lag(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM tok),
        uni AS (
          SELECT term, COUNT(*) AS cnt FROM tok
          WHERE doc_id % 10 <> 0 GROUP BY term),
        bc AS (
          SELECT prev, term, COUNT(*) AS bcnt
          FROM bi WHERE prev IS NOT NULL AND doc_id % 10 <> 0
          GROUP BY prev, term),
        tot AS (SELECT COUNT(*) AS total FROM tok
                WHERE doc_id % 10 <> 0),
        sc AS (
          SELECT b.doc_id, b.pos,
            ROUND(CASE
              WHEN b.prev IS NULL THEN
                ln(CASE WHEN u.cnt IS NOT NULL
                   THEN CAST(u.cnt AS DOUBLE) / CAST(t.total AS DOUBLE)
                   ELSE 1.0 / CAST(t.total AS DOUBLE) END)
              WHEN c.bcnt IS NOT NULL THEN
                ln(CAST(c.bcnt AS DOUBLE) / CAST(p.cnt AS DOUBLE))
              ELSE
                ln(0.4 * (CASE WHEN u.cnt IS NOT NULL
                   THEN CAST(u.cnt AS DOUBLE) / CAST(t.total AS DOUBLE)
                   ELSE 1.0 / CAST(t.total AS DOUBLE) END))
            END, 6) AS lnp
          FROM bi b
          LEFT JOIN uni u USING (term)
          LEFT JOIN uni p ON p.term = b.prev
          LEFT JOIN bc c ON c.prev = b.prev AND c.term = b.term
          CROSS JOIN tot t),
        lm AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
            ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                           list(lnp ORDER BY pos)),
                              (a, b) -> a + b) / COUNT(*), 6) AS score
          FROM sc GROUP BY doc_id),
        thr AS (
          SELECT CAST(SUM(CAST(score AS DECIMAL(27,6))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) - CAST(0.03 AS DOUBLE)
            AS thr
          FROM lm WHERE doc_id % 23 <> 0)
        SELECT t.doc_id, t.source, lm.n_tokens,
          CAST(dh.doc_id IS NULL AS INT) AS decon_ok,
          rep.rep_ok,
          CAST(lm.score >= thr.thr AS INT) AS lm_ok,
          CASE WHEN dh.doc_id IS NOT NULL THEN 'contaminated'
               WHEN rep.rep_ok = 0 THEN 'repetitive'
               WHEN lm.score < thr.thr THEN 'low_lm'
               ELSE 'admitted' END AS verdict
        FROM toks t
        LEFT JOIN dhit dh ON t.doc_id = dh.doc_id
        JOIN rep ON rep.doc_id = t.doc_id
        JOIN lm ON lm.doc_id = t.doc_id
        CROSS JOIN thr
        WHERE t.doc_id % 23 <> 0
        ORDER BY t.doc_id""")

  /** The release/export step (p06): the gated corpus WRITTEN as a
    * source-partitioned parquet release, read BACK from the release
    * files, and summarized as the manifest a release ships with —
    * per-source rows, token mass, content digest. Everything in the
    * manifest is computed from the files a consumer will actually
    * read, so a lost partition or truncated write shows up as a
    * digest/count mismatch against the oracle (which computes from
    * the source tables directly). The digest is an order-independent
    * XOR of each doc's 60-bit md5 prefix (the simhash60 hash family)
    * — file and row order can't move it, and it can't overflow, so
    * it needs no width escape hatch at any corpus size. `partitionBy`
    * gives the release the layout a 100 TB consumer needs: per-source
    * directories a filtered read prunes without opening
    * (PartitionFilters — spec-pinned).
    */
  def releaseManifest(s: SparkSession, documents: DataFrame,
      path: String): DataFrame = {
    documents
      .filter(col("text").isNotNull)
      .withColumn("n_tokens", size(tokens(col("text"))))
      .filter(col("n_tokens") >= 20)
      .select(col("doc_id"), col("source"), col("text"), col("n_tokens"))
      .write.mode("overwrite").partitionBy("source").parquet(path)
    // Explicit read schema: an all-filtered (empty) corpus writes NO
    // part files, and schema inference on an empty release dir throws
    // (the st08 empty-stream lesson, caught by EmptyInputSpec here).
    s.read
      .schema("doc_id BIGINT, text STRING, n_tokens INT, source STRING")
      .parquet(path)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        expr("bit_xor(cast(conv(substring(md5(text), 1, 15), 16, 10)" +
          " as bigint))").as("digest"))
      .orderBy("source")
  }

  private def sqlP01: Option[String] = Some("""
        WITH scored AS (
          SELECT doc_id, source, tl,
            len(tl) AS n_tokens,
            CAST(len(list_filter(tl, x -> x IN ('the','a','an','and','or',
              'of','to','in','is'))) AS DOUBLE) / len(tl) AS stop_ratio
          FROM (SELECT doc_id, source,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> len(x) > 0) AS tl
                FROM documents)),
        gated AS (
          SELECT doc_id, source, n_tokens,
            md5(array_to_string(list_sort(list_distinct(tl)), ' ')) AS fingerprint
          FROM scored
          WHERE n_tokens >= 20 AND stop_ratio > 0.0),
        kept AS (
          SELECT source, n_tokens FROM (
            SELECT source, n_tokens,
              ROW_NUMBER() OVER (PARTITION BY fingerprint
                                 ORDER BY doc_id) AS rn
            FROM gated) WHERE rn = 1)
        SELECT source, COUNT(*) AS n_docs,
          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
        FROM kept
        GROUP BY source
        ORDER BY source""")
}
