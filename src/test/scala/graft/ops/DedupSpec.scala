package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions

/** Proves the near-dup machinery actually catches near-duplicates —
  * the testdata documents are all distinct, so the oracle-checked
  * query entries only pin determinism; these synthetic fixtures pin
  * detection.
  */
class DedupSpec extends SparkSpec {

  private val base = (1 to 60).map(i => s"tok$i").mkString(" ")
  // one token changed out of 60 → shingle-Jaccard ≈ 0.95
  private val nearDup = base.replace("tok30", "changed")
  private val unrelated = (1 to 60).map(i => s"other$i").mkString(" ")

  private lazy val docsDf = {
    val sparkS = spark
    import sparkS.implicits._
    Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
  }

  test("LSH candidate pairs find the near-duplicate and only it") {
    val pairs = Dedup.lshCandidatePairs(docsDf, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("shingle jaccard of the near-dup pair is high") {
    val j = Dedup.lshCandidatePairs(docsDf, minJaccard = 0.5)
      .collect().head.getDouble(2)
    assert(j > 0.8, s"jaccard $j")
  }

  test("simhash: near-dups are close in Hamming space, unrelated far") {
    val sh = Dedup.simhashes(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < 12,
      s"near-dup hamming ${ham(sh(1L), sh(2L))}")
    assert(ham(sh(1L), sh(3L)) > 16,
      s"unrelated hamming ${ham(sh(1L), sh(3L))}")
  }

  test("minhash bands: identical docs share all bands") {
    val sparkS = spark
    import sparkS.implicits._
    val dups = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val bands = Dedup.minhashBands(dups).collect()
      .groupBy(_.getInt(1)).values
    assert(bands.forall(rows =>
      rows.map(_.getString(2)).distinct.size == 1))
  }

  test("LSH recall/precision across several planted families") {
    val sparkS = spark
    import sparkS.implicits._
    // 5 independent base texts, 3 near-dup variants each (one token
    // changed per variant), plus 5 unrelated docs.
    val rows = (0 until 5).flatMap { f =>
      val fam = (1 to 60).map(i => s"f${f}tok$i").mkString(" ")
      (0 until 3).map { v =>
        (f * 10L + v,
          if (v == 0) fam else fam.replace(s"f${f}tok${20 + v}", s"x$v"))
      }
    } ++ (0 until 5).map(i =>
      (900L + i, (1 to 60).map(j => s"lone${i}w$j").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(df, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall: every within-family pair found
    val expected = (0 until 5).flatMap { f =>
      val ids = (0 until 3).map(f * 10L + _)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(expected.subsetOf(pairs), s"missing: ${expected -- pairs}")
    // precision: no cross-family or lone-doc pairs
    assert(pairs == expected, s"spurious: ${pairs -- expected}")
  }

  test("simhash near-dup: band blocking is exact vs brute force at Hamming <= 3") {
    val sparkS = spark
    import sparkS.implicits._
    // Mixed corpus: identical copies (Hamming 0), one-token variants
    // (small but text-dependent distance), unrelated docs. The banding
    // must reproduce the brute-force all-pairs answer exactly — the
    // pigeonhole guarantee, not a recall estimate.
    val rows = (0 until 6).flatMap { f =>
      val fam = (1 to 60).map(i => s"s${f}w$i").mkString(" ")
      Seq((f * 10L, fam), (f * 10L + 1, fam),
        (f * 10L + 2, fam.replace(s"s${f}w30", "mut")))
    } ++ (0 until 6).map(i =>
      (800L + i, (1 to 60).map(j => s"iso${i}q$j").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val sigs = df
      .withColumn("toks", TextFunctions.tokens(col("text")))
      .select(col("doc_id"), TextFunctions.simhash60Md5("toks").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    assert(brute.exists(_._3 == 0), "fixture must contain exact dups")
    val got = Dedup.simhashNearDup(df, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute,
      s"missing: ${brute -- got}; spurious: ${got -- brute}")
  }

  test("maxBucket drops only oversized-bucket pairs (skew guard)") {
    val sparkS = spark
    import sparkS.implicits._
    // One 8-member clone family (every band → one 8-doc bucket) plus
    // one small near-dup pair. Capped at 4: the family's C(8,2) pairs
    // vanish, the small pair survives — for BOTH pair enumerators.
    val fam = (1 to 60).map(i => s"hot$i").mkString(" ")
    val small = (1 to 60).map(i => s"cold$i").mkString(" ")
    val df = ((0L until 8L).map(i => (i, fam)) ++
      Seq((100L, small), (101L, small.replace("cold30", "mut"))))
      .toDF("doc_id", "text")
    val famPairs = for (a <- 0L until 8L; b <- 0L until 8L if a < b)
      yield (a, b)

    val simAll = Dedup.simhashNearDup(df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simAll == famPairs.toSet + ((100L, 101L)))
    val simCap = Dedup.simhashNearDup(df, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simCap == Set((100L, 101L)), s"got $simCap")

    val lshAll = Dedup.lshCandidatePairs(df, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshAll == famPairs.toSet + ((100L, 101L)))
    val lshCap = Dedup.lshCandidatePairs(df, minJaccard = 0.5, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshCap == Set((100L, 101L)), s"got $lshCap")
  }

  test("property: native simhash60 ≡ HOF on random unicode token arrays") {
    val sparkS = spark
    import sparkS.implicits._
    // Random token lists over a unicode-heavy alphabet (multi-byte
    // UTF-8 exercises the md5-input encoding), sizes 0..40 including
    // the empty array.
    val tokGen = org.scalacheck.Gen.choose(0, 40).flatMap(n =>
      org.scalacheck.Gen.listOfN(n,
        org.scalacheck.Gen.choose(1, 6).flatMap(len =>
          org.scalacheck.Gen.listOfN(len, org.scalacheck.Gen.oneOf(
            ('a' to 'z') ++ Seq('ü', 'é', '中', '文', '€', '0', '9')))
            .map(_.mkString))))
    val params = org.scalacheck.Gen.Parameters.default
    val docs = (1 to 40).map { i =>
      val seed = org.scalacheck.rng.Seed(i.toLong * 104729)
      (i.toLong, tokGen(params, seed).get)
    }
    val rows = docs.toDF("doc_id", "toks")
      .select(col("doc_id"),
        TextFunctions.simhash60Md5("toks").as("native"),
        TextFunctions.simhash60Md5Hof("toks").as("hof"),
        TextFunctions.simhash64("toks").as("native64"),
        TextFunctions.simhash64Hof("toks").as("hof64"))
      .collect()
    assert(rows.length == 40)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"md5 doc ${r.getLong(0)}")
      assert(r.getLong(3) == r.getLong(4), s"xx doc ${r.getLong(0)}")
    }
  }

  test("native simhash60 expression is bit-identical to the HOF form") {
    val sparkS = spark
    import sparkS.implicits._
    // Fixture + edge cases: empty text (empty token array → all-ones
    // by the zero-counter convention) and a 1-token doc.
    val df = (Seq((0L, ""), (1L, "solo")) ++
      (2 to 20).map(i => (i.toLong, (1 to 40).map(j => s"v${i}w$j").mkString(" "))))
      .toDF("doc_id", "text")
      .withColumn("toks", TextFunctions.tokens(col("text")))
    val both = df.select(col("doc_id"),
      TextFunctions.simhash60Md5("toks").as("native"),
      TextFunctions.simhash60Md5Hof("toks").as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"doc ${r.getLong(0)}")
    }
    assert(both.find(_.getLong(0) == 0L).get.getLong(1) == (1L << 60) - 1)
  }

  test("connected keepers: variant chains collapse to one keeper") {
    val sparkS = spark
    import sparkS.implicits._
    // A family of 1-token variants of one base text (pairwise near-dup
    // via shared bands) + one unrelated doc.
    val family = (0 until 4).map { i =>
      (10L + i, base.replace(s"tok${10 + i * 7}", s"mut$i"))
    }
    val df = (family :+ ((99L, unrelated))).toDF("doc_id", "text")
    val keepers = Dedup.connectedKeepers(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(family.map(_._1).map(keepers).toSet == Set(10L),
      s"family keepers: $keepers")
    assert(keepers(99L) == 99L)
  }

  test("embedding near-dup: LSH-bucket blocking has identical recall to all-pairs") {
    val sparkS = spark
    import sparkS.implicits._
    // Planted corpus: 40 random base vectors, 10 of which get a
    // near-identical copy (relative perturbation 1e-3 → cosine
    // ≈ 0.9999995). Seeded → fully deterministic.
    val rnd = new scala.util.Random(42)
    val bases = (0 until 40).map(_ => Array.fill(64)(rnd.nextGaussian()))
    val dups = (0 until 10).map { i =>
      (100L + i, bases(i).map(x => x + rnd.nextGaussian() * 1e-3 * math.abs(x)))
    }
    val rows = bases.zipWithIndex.map { case (v, i) =>
      (i.toLong, i.toLong % 5, v.toSeq)
    } ++ dups.map { case (id, v) => (id, (id - 100) % 5, v.toSeq) }
    val e = rows.toDF("vec_id", "label", "v")

    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // Ground truth: brute-force all-pairs near-dups at 0.99.
    val all = rows.map { case (id, _, v) => id -> v.toArray }
    val truth = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= 0.99
    } yield (ia, ib)).toSet
    assert(truth.size == 10, s"expected the 10 planted pairs, got $truth")

    // Bucket blocking must find every one of them (identical recall
    // to quadratic all-pairs), with zero spurious high-cos pairs.
    val found = Dedup.embeddingNearDupByBucket(e, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth, s"missing: ${truth -- found}, extra: ${found -- truth}")
  }

  test("boilerplate n-grams: shared template flagged, unique docs kept") {
    val sparkS = spark
    import sparkS.implicits._
    // Docs 1-3 share a 30-token template followed by 5 unique tokens;
    // docs 4-5 are fully unique. Template-interior 5-grams (26 per
    // doc) appear in 3 distinct docs → boilerplate; the 5 tail-touching
    // grams and the unique docs' grams occur once.
    val template = (1 to 30).map(i => s"boil$i").mkString(" ")
    def tail(s: Int) = (1 to 5).map(i => s"u${s}x$i").mkString(" ")
    def uniq(s: Int) = (1 to 30).map(i => s"v${s}x$i").mkString(" ")
    val df = Seq(
      (1L, s"$template ${tail(1)}"), (2L, s"$template ${tail(2)}"),
      (3L, s"$template ${tail(3)}"), (4L, uniq(4)), (5L, uniq(5)))
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateNgrams(df, n = 5, minDocs = 2,
      maxFrac = 0.2).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(4))).toMap
    // 35 tokens → 31 grams; 26 template-interior grams are shared.
    Seq(1L, 2L, 3L).foreach { d =>
      assert(out(d) == ((31L, 26L, 0)), s"doc $d: ${out(d)}")
    }
    Seq(4L, 5L).foreach { d =>
      assert(out(d) == ((26L, 0L, 1)), s"doc $d: ${out(d)}")
    }
  }

  test("d15 passage removal: planted duplicates excised, unique text byte-identical") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions.col
    // Docs 1 and 2 share a planted 7-token passage (covered by
    // duplicated 5-grams at every position); their unique halves
    // differ. Doc 3 is entirely unique. Doc 4 IS the passage — fully
    // excised. Doc 5 is below the gram width and survives whole.
    val passage = "alpha beta gamma delta epsilon zeta eta"
    val df = Seq(
      (1L, s"one two three four five $passage"),
      (2L, s"$passage six seven eight nine ten"),
      (3L, "completely unique text with no shared grams at all"),
      (4L, passage),
      (5L, "tiny doc"))
      .toDF("doc_id", "text")
    val out = Dedup.removePassages(df, n = 5, minDocs = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((12L, 7L, "one two three four five")))
    assert(out(2L) == ((12L, 7L, "six seven eight nine ten")))
    assert(out(3L) ==
      ((9L, 0L, "completely unique text with no shared grams at all")))
    assert(out(4L) == ((7L, 7L, "")))
    assert(out(5L) == ((2L, 0L, "tiny doc")))
  }

  test("d22 exact-substring dedup: arbitrary-alignment passage excised " +
      "where d15's token grams are blind, self-repeats removed, rebuild " +
      "byte-exact") {
    val sparkS = spark
    import sparkS.implicits._
    def run(seq: Seq[(Long, String)]) = Dedup
      .exactSubstringDedup(seq.toDF("doc_id", "text"), minLen = 40)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5)))).toMap
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // Non-repetitive fillers (indexed triplets, distinct letter per
    // filler) so the ONLY >=40-char duplicates are the planted ones.
    def fill(c: Char, n: Int): String =
      (0 until n).map(i => f"$c$i%02d").mkString
    // The shared passage has NO spaces and lands at DIFFERENT offsets
    // inside each doc (60- vs 75-char prefixes), glued directly into
    // the surrounding token — no five whole tokens are shared, so
    // d15's fixed token grams cannot see it; d22 must cut exactly it.
    val passage = fill('p', 20) // 60 chars
    val doc1 = fill('a', 20) + passage + fill('b', 20)
    val doc2 = fill('c', 25) + passage + fill('d', 20)
    // Self-repetition: the SAME 54-char phrase twice WITHIN one doc
    // (both copies removed — the published ExactSubstr behavior).
    // Distinct sentinel chars around each copy stop the maximal
    // duplicate from extending into the fillers' shared digits.
    val q = fill('q', 18) // 54 chars
    val doc3 = fill('x', 20) + "#" + q + "%" + fill('y', 20) +
      "&" + q + "@" + fill('z', 20)
    val doc4 = fill('m', 40) // fully unique
    val out = run(Seq((1L, doc1), (2L, doc2), (3L, doc3), (4L, doc4)))
    // docs 1/2: exactly the 60 passage chars, one region each.
    assert(out(1L) == ((180L, 60L, 120L, 1L,
      md5hex(fill('a', 20) + fill('b', 20)))), out(1L))
    assert(out(2L) == ((195L, 60L, 135L, 1L,
      md5hex(fill('c', 25) + fill('d', 20)))), out(2L))
    // doc 3: both internal copies cut, two regions.
    assert(out(3L) == ((292L, 108L, 184L, 2L,
      md5hex(fill('x', 20) + "#" + "%" + fill('y', 20) +
        "&" + "@" + fill('z', 20)))), out(3L))
    // doc 4: untouched, md5 of the original text.
    assert(out(4L) == ((120L, 0L, 120L, 0L, md5hex(doc4))), out(4L))
    // d15's token 5-grams are provably blind here: no doc loses a
    // single token (the passage never spans five shared whole tokens).
    val d15 = Dedup.removePassages(
      Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text"),
      n = 5, minDocs = 2).collect()
    assert(d15.forall(_.getLong(2) == 0L),
      "d15 unexpectedly saw the unaligned passage")
  }

  test("d23 rolling fingerprints: rolling == direct recomputation, " +
      "and the fast path reproduces d22 byte-exactly on multibyte text") {
    val sparkS = spark
    import sparkS.implicits._
    import graft.functions.RollingFingerprints
    // The rolling update must equal the windowed recomputation for
    // every position — ASCII, 2- and 3-byte UTF-8, repeats, and the
    // shorter-than-window edge.
    val samples = Seq(
      "the quick brown fox jumps over the lazy dog and then some more",
      "café au lait 中文文本 mixed script café au lait again and again",
      "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
      "short")
    for (t <- samples; l <- Seq(5, 12, 40)) {
      val bytes = t.getBytes("UTF-8")
      assert(RollingFingerprints.compute(bytes, l).toSeq ==
        RollingFingerprints.computeDirect(bytes, l).toSeq,
        s"rolling != direct for len=$l text=$t")
    }
    // d23 == d22 on a corpus with a multibyte shared passage at
    // DIFFERENT byte offsets (2-byte é's shift the byte grid, so a
    // byte-windowed hash would misalign; code points keep it exact).
    def fill(c: Char, n: Int): String =
      (0 until n).map(i => f"$c$i%02d").mkString
    val passage = "café".repeat(12) + fill('p', 4) // 60 cps
    val docs = Seq(
      (1L, "ééé" + fill('a', 19) + passage + fill('b', 20)),
      (2L, fill('c', 25) + passage + fill('d', 20)),
      (3L, fill('m', 40))).toDF("doc_id", "text")
    def run(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      f(docs).collect().map(_.mkString("|")).toSeq
    val slow = run(Dedup.exactSubstringDedup(_))
    val fast = run(Dedup.exactSubstringDedupFast(_))
    assert(slow == fast, s"d23 diverged from d22:\n$slow\n$fast")
    // Non-vacuous: the shared passage really was excised.
    assert(slow.exists(_.contains("|60|")), slow)
  }

  test("d16 edit-distance verify: reorder-blind Jaccard caught, near-identical kept") {
    val sparkS = spark
    import sparkS.implicits._
    // Character-DISJOINT halves (letters a..j vs m..v), so the block
    // swap cannot cheaply align token-by-token: its edit distance is
    // ~the full text length, while the shingle sets stay ~identical.
    def enc(pre: Char, base: Char, i: Int): String =
      s"$pre${(base + i / 10).toChar}${(base + i % 10).toChar}"
    val half1 = (0 until 20).map(i => enc('q', 'a', i)).mkString(" ")
    val half2 = (0 until 20).map(i => enc('z', 'm', i)).mkString(" ")
    val base = s"$half1 $half2"
    val df = Seq(
      (1L, base),
      // one token's tail chars swapped -> edit distance 2, kept
      (2L, base.replace("qaf", "qfa")),
      // halves SWAPPED: shingle set ~identical (Jaccard blind to
      // order) but every character must move -> rejected by ED
      (3L, s"$half2 $half1"))
      .toDF("doc_id", "text")
    // premise: the swapped doc IS an LSH candidate at the 0.3 gate
    val cand = Dedup.lshCandidatePairs(df, minJaccard = 0.3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.contains((1L, 3L)), s"LSH premise broken: ${cand.toSeq}")
    val out = Dedup
      .editDistanceNearDup(df, minJaccard = 0.3, prefixLen = 500,
        maxNormEd = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(3)).toMap
    // the one-token edit survives with exactly 2 swapped chars
    assert(out((1L, 2L)) == 2, out)
    // the block swap is a candidate but fails the edit-distance verify
    assert(!out.contains((1L, 3L)), out)
    assert(!out.contains((2L, 3L)), out)
  }

  test("d17 quality keepers: the best copy wins, not the lowest id") {
    val sparkS = spark
    import sparkS.implicits._
    // doc 2 is a near-dup of doc 1 (same 60-token prefix, all shingles
    // shared) with a stopword-rich tail: higher stop ratio AND more
    // chars -> strictly higher quality score, but a HIGHER doc_id —
    // min-id keeping (d07) would throw it away.
    val df = Seq(
      (1L, base),
      (2L, base + " the and of to in is"),
      (3L, unrelated)).toDF("doc_id", "text")
    val out = Dedup.qualityKeepers(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(3)))).toMap
    assert(out(1L)._1 == out(2L)._1, s"1 and 2 must share a family: $out")
    assert(out(2L)._2 == 1 && out(1L)._2 == 0,
      s"higher-quality doc 2 must be the keeper: $out")
    assert(out(3L)._2 == 1, s"unrelated doc is its own keeper: $out")
  }

  test("shingles3: sliding 3-grams, short docs collapse to one shingle") {
    val sparkS = spark
    import sparkS.implicits._
    val out = Seq("a b c d", "a b").toDF("text")
      .select(TextFunctions.shingles3(TextFunctions.tokens(col("text")))
        .as("sl"))
      .collect().map(_.getSeq[String](0).toList)
    assert(out(0) == List("a b c", "b c d"))
    assert(out(1) == List("a b"))
  }

  test("d18 containment: a quoted doc is found inside its container; " +
      "Jaccard-style symmetry is NOT required") {
    val sparkS = spark
    import sparkS.implicits._
    val quoted = (1 to 10).map(i => f"q$i%02d").mkString(" ")
    val container = quoted + " " +
      (100 to 160).map(i => s"fill$i").mkString(" ")
    val df = Seq(
      (1L, quoted), // 8 shingles, every one inside doc 2
      (2L, container), // much larger: Jaccard(1,2) ~ 8/69 — d03-blind
      (3L, (200 to 240).map(i => s"oth$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(df)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // the quoted doc's shingles all appear in the container (the
    // seam shingles q09 q10 fill100... exist only in doc 2, which
    // only LOWERS containment of 2-in-1, never 1-in-2)
    assert(out.contains((1L, 2L)) && out((1L, 2L)) == 1.0, out)
    // the asymmetric direction is below threshold; unrelated docs
    // never pair
    assert(!out.contains((2L, 1L)), out)
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L), out)
  }

  test("d19 capped containment: adversarial tiny-doc clone family is " +
      "bounded out; cold-witnessed pairs survive; capped == cold-witness " +
      "semantic") {
    val sparkS = spark
    import sparkS.implicits._
    // Adversarial corpus for the UNcapped enumerator: 40 identical
    // 5-token docs over a 5-token vocabulary. Every shingle's posting
    // list has 40+ entries, every doc mutually contains every other →
    // 40×39 = 1560 ordered pairs from 3 distinct grams.
    val clones = (0L until 40L).map(i => (i, "x1 x2 x3 x4 x5"))
    // A cold-witnessed containment pair riding on top: A's gram set is
    // {(x1 x2 x3) — HOT, df ≥ 42; (x2 x3 r1), (x3 r1 r2) — cold,
    // df = 2}. A ⊆ B at containment 1.0, and the witness grams are
    // cold, so the cap must NOT lose this pair.
    val a = (100L, "x1 x2 x3 r1 r2")
    val b = (101L, "x1 x2 x3 r1 r2 fillb1 fillb2 fillb3")
    val df = (clones :+ a :+ b).toDF("doc_id", "text")
    val uncapped = Dedup.containmentPairs(df)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.containmentPairs(df, maxPosting = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // Uncapped: the full quadratic family plus the planted pair.
    assert(uncapped.size == 40 * 39 + 1, uncapped.size)
    // Capped: the clone family's grams all exceed the cap (whole
    // intersection hot → the documented drop) — the enumeration is
    // BOUNDED instead of quadratic — while the cold-witnessed pair
    // survives exactly.
    assert(capped == Set((100L, 101L)), capped)
    // The capped mode's exact contract, checked wholesale: capped ==
    // { uncapped pairs sharing ≥ 1 gram with df ≤ cap }.
    val grams = Dedup.shingleRows(df)
      .select(col("doc_id"),
        substring(md5(col("t")), 1, 16).as("g")).distinct()
    val cold = grams.join(
      grams.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 8).select("g"), Seq("g"), "left_semi")
    val witnessed = cold.as("ca").join(cold.as("cb"),
        col("ca.g") === col("cb.g") &&
          col("ca.doc_id") =!= col("cb.doc_id"))
      .select(col("ca.doc_id").as("da"), col("cb.doc_id").as("db"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(capped == uncapped.filter(witnessed), (capped, uncapped))
  }

  test("d20 decontamination: an 8-gram shared with an eval doc flags " +
      "the training doc; clean and sub-window docs keep; eval docs " +
      "are not graded") {
    val sparkS = spark
    import sparkS.implicits._
    val evalA = (1 to 8).map(i => s"a$i").mkString(" ")   // doc 0  (eval)
    val evalB = (1 to 8).map(i => s"b$i").mkString(" ")   // doc 23 (eval)
    val df = Seq(
      (0L, evalA), (23L, evalB),
      // contaminated by BOTH eval docs: carries each one's 8-gram
      (1L, s"$evalA mid $evalB"),
      // clean: 10 fresh tokens → 3 windows, zero collisions
      (2L, (1 to 10).map(i => s"c$i").mkString(" ")),
      // shorter than the window → no gram, trivially kept
      (3L, "s1 s2 s3")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(df, n = 8, evalMod = 23)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))))
      .toMap
    // eval docs 0 and 23 are carved out, never graded
    assert(got.keySet == Set(1L, 2L, 3L), got.keySet)
    // doc 1: 10 windows over 17 tokens; exactly the two planted grams
    // collide, one per eval doc → dropped
    assert(got(1L) == ((10L, 2L, 2L, 0)), got(1L))
    assert(got(2L) == ((3L, 0L, 0L, 1)), got(2L))
    assert(got(3L) == ((0L, 0L, 0L, 1)), got(3L))
  }

  test("d21: per-source impact counts the clone loss and char mass exactly") {
    val sparkS = spark
    import sparkS.implicits._
    val clone = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu"
    val uniq = "one two three four five six seven eight nine ten " +
      "eleven twelve"
    val docs = Seq(
      (1L, clone, "srcA", clone.length.toLong),
      (2L, clone, "srcA", clone.length.toLong), // exact clone → dropped
      (3L, uniq, "srcB", uniq.length.toLong))
      .toDF("doc_id", "text", "source", "n_chars")
    val out = Dedup.dedupImpact(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out("srcA") ===
      ((2L, 1L, 2L * clone.length, clone.length.toLong, 0.5)),
      out.toString)
    assert(out("srcB") ===
      ((1L, 0L, uniq.length.toLong, 0L, 0.0)), out.toString)
  }

  test("d24 incremental dedup: a delta clone of a STORED base doc is " +
      "flagged against the signature store, delta-internal clones " +
      "elect the min id, fresh content is admitted") {
    val sparkS = spark
    import sparkS.implicits._
    // ids 1..6 → cut = 3: base {1, 2, 3}, delta {4, 5, 6}.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (3L, "lorem ipsum dolor sit amet consectetur"),
      (4L, "alpha beta gamma delta epsilon zeta"), // clone of base 1
      (5L, "totally fresh unique content nothing else"),
      (6L, "totally fresh unique content nothing else")) // clone of 5
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(docs)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
      .toSeq
    // Only the DELTA is judged (base docs are the corpus, never
    // re-examined): 4 hits the store, 6 loses to 5 inside the delta,
    // 5 is admitted.
    assert(out == Seq(
      (4L, 1, 0, 0),
      (5L, 0, 0, 1),
      (6L, 0, 1, 0)), out)
  }

  test("d25 verified admission: a confirmed clone is rejected, a band " +
      "FALSE POSITIVE (shared band, exact Jaccard below threshold) is " +
      "re-admitted, fresh content never reaches the verify tier") {
    val sparkS = spark
    import sparkS.implicits._
    // Manufacture a genuine band false positive: a catalog of
    // partial mutations of one base text, screened by the REAL
    // banding machinery (lshCandidatePairs at threshold 0 = every
    // shared-band pair with its exact Jaccard) — the first pair whose
    // band collides while its exact Jaccard < 0.8 is the specimen.
    // Deterministic: the md5-derived minhash family is fixed, so the
    // same variant collides on every run.
    val baseToks = (0 until 20).map(i => s"w$i")
    val variants = (1 to 40).map { i =>
      val keep = 20 - (4 + i % 6)
      (i.toLong,
        (baseToks.take(keep) ++
          (keep until 20).map(j => s"x${i}_$j")).mkString(" "))
    }
    val catalog = ((0L, baseToks.mkString(" ")) +: variants)
      .toDF("doc_id", "text")
    val fp = Dedup.lshCandidatePairs(catalog, minJaccard = 0.0)
      .filter(col("doc_a") === 0L && col("jaccard") < 0.8)
      .orderBy("doc_b")
      .collect()
    assert(fp.nonEmpty, "no band false positive in 40 variants — " +
      "mutation catalog needs widening")
    val fpText = variants(fp.head.getLong(1).toInt - 1)._2
    // ids 1..20 → cut = 10: base {1, 2, 3}, delta {11, 12, 13}.
    val docs = Seq(
      (1L, baseToks.mkString(" ")),                  // FP's base side
      (2L, "one two three four five six seven"),
      (3L, "lorem ipsum dolor sit amet consectetur"),
      (11L, "one two three four five six seven"),    // clone of base 2
      (12L, fpText),                                 // band FP vs base 1
      (13L, "totally fresh unique content nothing"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedupVerified(docs)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getInt(4)))
      .toSeq
    // 11: screened AND confirmed (J = 1) → rejected. 12: screened but
    // the exact verify fails → RE-ADMITTED (the whole point of d25 —
    // d24 would have rejected it). 13: never screened.
    assert(out.map(t => (t._1, t._2, t._4, t._5)) == Seq(
      (11L, 1, 1, 0), (12L, 1, 0, 1), (13L, 0, 0, 1)), out)
    assert(out.find(_._1 == 11L).get._3 >= 1L)
    // And d24's screen-only verdict indeed rejects doc 12 — the
    // difference IS the verify tier.
    val screenOnly = Dedup.incrementalDedup(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(screenOnly(12L) == 1, "specimen no longer collides")
  }
}
