package graft.ops

import graft.SparkSpec

/** Known-answer tests for the text-analysis operators whose semantics
  * aren't self-evident from the oracle SQL (the oracle pins
  * determinism; these pin the math).
  */
class TextAnalysisSpec extends SparkSpec {

  test("t13 chunking matches an independent local implementation on sf0.001") {
    // Re-derive every chunk in plain Scala (whitespace split, 64-token
    // windows at stride 48) and compare digests — an off-by-one in
    // either engine's slice/window arithmetic fails here with the
    // doc/chunk named.
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("t13_chunk_documents")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getString(3)))
      .toMap
    val docs = graft.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = docs.flatMap { case (id, text) =>
      val tl = text.split("\\s+").filter(_.nonEmpty)
      if (tl.isEmpty) Seq.empty
      else {
        val nChunks = if (tl.length <= 64) 1 else (tl.length - 64 + 47) / 48 + 1
        (0 until nChunks).map { k =>
          val w = tl.slice(k * 48, k * 48 + 64)
          (id, k) -> (w.length, md5hex(w.mkString(" ")))
        }
      }
    }.toMap
    assert(got.size == want.size,
      s"chunk count: got ${got.size}, want ${want.size}")
    want.foreach { case (key, v) =>
      assert(got.get(key).contains(v), s"doc/chunk $key: ${got.get(key)} != $v")
    }
    // The overlap is real: some doc must have >1 chunk, and every
    // non-final chunk holds exactly 64 tokens.
    assert(want.keys.exists(_._2 > 0), "corpus has no multi-chunk doc")
    val perDoc = want.keys.groupBy(_._1).view.mapValues(_.map(_._2).max)
    perDoc.foreach { case (id, kMax) =>
      (0 until kMax).foreach { k =>
        assert(want((id, k))._1 == 64, s"doc $id chunk $k not full")
      }
      assert(want((id, kMax))._1 >= (if (kMax > 0) 17 else 1),
        s"doc $id last chunk below the 17-token floor")
    }
  }

  test("t14 pii scrub: every email/phone redacted and counted, nothing else touched") {
    val out = graft.SparkEntry.queries("t14_pii_scrub")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}".r
    val phone = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}".r
    out.foreach { r =>
      val (key, nE, nP, clean) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))
      // The synthesized corpus plants exactly one of each per row.
      assert(nE == 1 && nP == 1, s"row $key counts ($nE, $nP)")
      assert(email.findFirstIn(clean).isEmpty, s"row $key leaked an email")
      assert(phone.findFirstIn(clean).isEmpty, s"row $key leaked a phone")
      assert(clean.contains("<EMAIL>") && clean.contains("<PHONE>"))
      // Non-PII content survives verbatim.
      assert(clean.startsWith(f"Customer#$key%09d of "), s"row $key: $clean")
    }
  }

  test("tfidf: rare terms outrank common ones, tf scales the score") {
    val sparkS = spark
    import sparkS.implicits._
    // N=3; df: apple 2, banana 2, cherry 2, date 1.
    val df = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry apple date"))
      .toDF("doc_id", "text")
    val top = TextAnalysis.tfidfTop(df, k = 4).collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> (r.getString(1), r.getDouble(4)))
      .toMap
    // doc 1: apple tf=2 → 2·ln(3/2) ≈ 0.81 beats banana ln(3/2) ≈ 0.41
    assert(top((1L, 1))._1 == "apple")
    assert(math.abs(top((1L, 1))._2 - 2 * math.log(1.5)) < 1e-5)
    // doc 3: date (df=1) → ln(3) ≈ 1.10 outranks both df=2 terms
    assert(top((3L, 1))._1 == "date")
    assert(math.abs(top((3L, 1))._2 - math.log(3.0)) < 1e-5)
    // doc 2: banana/cherry tie on score → term order breaks the tie
    assert(top((2L, 1))._1 == "banana" && top((2L, 2))._1 == "cherry")
  }

  test("tfidf: corpus-wide terms score zero") {
    val sparkS = spark
    import sparkS.implicits._
    val df = Seq((1L, "same text"), (2L, "same words"))
      .toDF("doc_id", "text")
    val scores = TextAnalysis.tfidfTop(df, k = 3).collect()
      .map(r => r.getString(1) -> r.getDouble(4)).toMap
    assert(scores("same") == 0.0) // df = N → ln(1) = 0
    assert(scores("text") > 0.0 && scores("words") > 0.0)
  }

  test("applyMerge is greedy left-to-right, incl. overlapping runs") {
    val sparkS = spark
    import sparkS.implicits._
    import org.apache.spark.sql.functions.col
    def merged(syms: Seq[String], x: String, y: String): Seq[String] =
      Seq(Tuple1(syms)).toDF("syms")
        .select(TextAnalysis.applyMerge(col("syms"), x, y).as("m"))
        .head().getSeq[String](0)
    // disjoint matches all merge at once
    assert(merged(Seq("a", "b", "a", "b"), "a", "b") == Seq("ab", "ab"))
    // x=y: runs pair up greedily — k consecutive → ⌊k/2⌋ merges
    assert(merged(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(merged(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(merged(Seq("b", "a", "a", "a", "a", "a", "b"), "a", "a") ==
      Seq("b", "aa", "aa", "a", "b"))
    // no match → unchanged; match against merged symbol doesn't fire
    assert(merged(Seq("aa", "a"), "a", "a") == Seq("aa", "a"))
    assert(merged(Seq("x"), "a", "b") == Seq("x"))
  }

  test("bpe induction: first round equals t11's top pair; vocab shrinks") {
    val sparkS = spark
    import sparkS.implicits._
    // 'aaab' x3, 'abab' x2 → round-1 pairs: (a,a) 3·2=6? no — run
    // parity: 'aaab' contributes (a,a)x2,(a,b)x1 per occurrence →
    // (a,a)=6, (a,b)=3+4=7... enumerate: aaab: aa,aa,ab; abab:
    // ab,ba,ab. So ab: 3·1+2·2=7, aa: 3·2=6, ba: 2. Top = (a,b).
    val df = Seq((1L, "aaab aaab abab"), (2L, "aaab abab"))
      .toDF("doc_id", "text")
    val steps = TextAnalysis.bpeInduce(df, merges = 2).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getString(2), r.getLong(3)))
      .toMap
    assert(steps(1) == ("a", "b", 7L), s"got ${steps(1)}")
    // after merging (a,b): aaab→[a,a,ab], abab→[ab,ab] →
    // round-2 pairs: (a,a)=3, (a,ab)=3, (ab,ab)=2 → tie on n=3,
    // lex tie-break picks lhs 'a', rhs 'a' < 'ab'.
    assert(steps(2) == ("a", "a", 3L), s"got ${steps(2)}")
  }

  test("t17 bpe encode matches an independent sequential implementation on sf0.001") {
    // The closed-form applyMerge is DESIGNED to equal greedy
    // left-to-right sequential merging — re-derive every document's
    // tokenization with a plain sequential loop over the same merges
    // and compare counts + digests. An arithmetic drift in the
    // closed form (or in the per-doc reassembly order) fails here
    // with the doc named.
    val dir = "/root/testdata/sf0.001"
    val docsDf = graft.Tables.load(spark, dir, "documents")
    val merges = TextAnalysis.bpeInduce(docsDf, merges = 5)
      .orderBy("step").collect()
      .map(r => (r.getString(1), r.getString(2)))
    def mergeOnce(s: Vector[String], x: String, y: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i < s.length - 1 && s(i) == x && s(i + 1) == y) {
          out += (x + y); i += 2
        } else { out += s(i); i += 1 }
      }
      out.result()
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = docsDf.select("doc_id", "text").collect()
      .filter(!_.isNullAt(1)).map { r =>
        val words = r.getString(1).toLowerCase.split("\\s+")
          .filter(_.nonEmpty).toVector
        val encoded = words.map { w =>
          merges.foldLeft(w.map(_.toString).toVector) {
            case (s, (x, y)) => mergeOnce(s, x, y)
          }
        }
        r.getLong(0) -> ((words.size.toLong, encoded.map(_.size.toLong).sum,
          md5hex(encoded.flatten.mkString("\u0001"))))
      }.toMap
    val got = TextAnalysis.bpeEncode(docsDf, merges = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, w) =>
      assert(got(id) == w, s"doc $id: got ${got(id)}, want $w")
    }
  }

  test("t15 unigram logprob: hand-computed scores; rare-token docs score lower") {
    val sparkS = spark
    import sparkS.implicits._
    // Corpus: 6 tokens total — 'the' ×3, 'cat' ×2, 'zyx' ×1.
    //   p(the)=1/2, p(cat)=1/3, p(zyx)=1/6.
    val df = Seq(
      (1L, "the cat the"), (2L, "the cat"), (3L, "zyx"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogprob(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lnThe = r6(math.log(3.0 / 6)) // per-term round-6 FIRST,
    val lnCat = r6(math.log(2.0 / 6)) // then the ordered fold
    val lnZyx = r6(math.log(1.0 / 6))
    assert(got(1) == ((3L, r6((lnThe + lnCat + lnThe) / 3))), got(1))
    assert(got(2) == ((2L, r6((lnThe + lnCat) / 2))), got(2))
    assert(got(3) == ((1L, r6(lnZyx))), got(3))
    assert(!got.contains(4L), "null-text doc must not be scored")
    // the rare-token doc is the quality outlier the filter exists for
    assert(got(3)._2 < got(1)._2 && got(3)._2 < got(2)._2)
  }

  test("t22 bigram stupid-backoff: seen-bigram, backoff, and OOV paths hand-computed") {
    val sparkS = spark
    import sparkS.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // Reference slice = doc_id % 10 != 0 → docs 1,2 train; 10 is
    // held out. Train tokens: the×3 cat×2 sat×2 → N=7.
    // Train bigrams: (the,cat)×2 (cat,sat)×2 (sat,the)×1.
    val df = Seq(
      (1L, "the cat sat"),
      (2L, "the cat sat the"),
      // held-out: "dog" is OOV; (cat,the) is an UNSEEN bigram of two
      // seen unigrams; (the,cat) is seen.
      (10L, "cat the cat dog"),
      (11L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogprob(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!got.contains(11L), "null-text doc must not be scored")
    val n = 7.0
    // doc 1: U(the)=3/7; S(cat|the)=2/3; S(sat|cat)=2/2.
    val d1 = Seq(math.log(3 / n), math.log(2.0 / 3), math.log(2.0 / 2))
      .map(r6)
    assert(got(1L) == ((3L, r6(d1.sum / 3))), got(1L))
    // doc 2 adds S(the|sat)=1/2.
    val d2 = d1 :+ r6(math.log(1.0 / 2))
    assert(got(2L) == ((4L, r6(d2.sum / 4))), got(2L))
    // doc 10: U(cat)=2/7; (cat,the) unseen → 0.4·U(the)=0.4·(3/7);
    // (the,cat) seen → 2/3; dog OOV after seen prev → 0.4·(1/7).
    val d10 = Seq(math.log(2 / n), math.log(0.4 * (3 / n)),
      math.log(2.0 / 3), math.log(0.4 * (1.0 / n))).map(r6)
    assert(got(10L) == ((4L, r6(d10.sum / 4))), got(10L))
    // the held-out incoherent doc is the outlier the filter exists for
    assert(got(10L)._2 < got(1L)._2 && got(10L)._2 < got(2L)._2)
  }

  test("t16 repetition signals: hand-computed fractions, tie-breaks, and coverage union") {
    val sparkS = spark
    import sparkS.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val df = Seq(
      // doc 1: "a b" x3 + trailing c. 2-grams: "a b"x3, "b a"x2,
      // "b c"x1. 3-grams tie at 2 ("a b a", "b a b") -> lexicographic
      // pick. 5-grams all distinct -> zero coverage.
      (1L, "a b a b a b c"),
      // doc 2: "x y z" x3 + w. Dup 5-grams "x y z x y" (starts 1,4)
      // and "y z x y z" (starts 2,5) cover positions 1-8 U 2-9 = 1-9.
      // 2-gram tie ("x y" vs "y z", both 3) -> lexicographic pick.
      (2L, "x y z x y z x y z w"),
      // doc 3: single token -> no n-grams at all (left-join path).
      (3L, "q"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(!got.contains(4L), "null-text doc must not be scored")
    val d1 = got(1L)
    assert(d1.getLong(1) == 7L && d1.getDouble(2) == r6(4.0 / 7), d1)
    assert(d1.getString(3) == "a b" && d1.getDouble(4) == r6(6.0 / 7), d1)
    assert(d1.getString(5) == "a b a" && d1.getDouble(6) == r6(6.0 / 7), d1)
    assert(d1.getDouble(7) == 0.0 && d1.getInt(8) == 0, d1)
    val d2 = got(2L)
    assert(d2.getLong(1) == 10L && d2.getDouble(2) == 0.6, d2)
    assert(d2.getString(3) == "x y" && d2.getDouble(4) == 0.6, d2)
    assert(d2.getString(5) == "x y z" && d2.getDouble(6) == 0.9, d2)
    assert(d2.getDouble(7) == 0.9 && d2.getInt(8) == 0, d2)
    val d3 = got(3L)
    assert(d3.getLong(1) == 1L && d3.getDouble(2) == 0.0, d3)
    assert(d3.isNullAt(3) && d3.getDouble(4) == 0.0, d3)
    assert(d3.isNullAt(5) && d3.getDouble(6) == 0.0, d3)
    assert(d3.getDouble(7) == 0.0 && d3.getInt(8) == 1, d3)
  }

  test("t18 BM25: hand-computed scores, tf saturation, and idf down-weighting") {
    val sparkS = spark
    import sparkS.implicits._
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 4 docs, query {q, z}. 'q' occurs in all 3 non-null docs (low
    // idf), 'z' only in doc 3 (high idf). dl = 4,2,4; avgdl = 10/3.
    val df = Seq(
      (1L, "q q q pad"), // tf(q)=3, saturating
      (2L, "q pad"), // tf(q)=1, short doc (length normalization)
      (3L, "z q pad pad"), // the only 'z' doc
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis
      .bm25Rank(df, Seq("q", "z"), k1 = 1.2, b = 0.75, topK = 10)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2)))
      .toMap
    val avgdl = 10.0 / 3
    def contrib(tf: Double, df: Double, dl: Double, n: Double): Double =
      r6(math.log((n - df + 0.5) / (df + 0.5) + 1.0) *
        (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))))
    val s1 = contrib(3, 3, 4, 3)
    val s2 = contrib(1, 3, 2, 3)
    val s3 = contrib(1, 3, 4, 3) + contrib(1, 1, 4, 3)
    assert(got(1L)._1 == s1, (got(1L), s1))
    assert(got(2L)._1 == s2, (got(2L), s2))
    assert(got(3L)._1 == s3, (got(3L), s3))
    assert(!got.contains(4L), "null-text doc must not be ranked")
    // the rare-term doc outranks everything; saturation keeps tf=3
    // below 3x the tf=1 contribution
    assert(got(3L)._2 == 1 && s1 < 3 * s2, (s1, s2, s3))
  }

  test("t19 bpe round trip: every doc decodes back to its canonical text") {
    val sparkS = spark
    import sparkS.implicits._
    // Mixed case + irregular whitespace: decode must reproduce the
    // CANONICAL form (lowercased, single-space-joined) — exactly what
    // the tokenizer consumed — and repeated words exercise the
    // distinct-word map fan-out.
    val df = Seq(
      (1L, "Low low lower lowest"),
      (2L, "  spaced\tout\n text  "),
      (3L, "low lower low lower"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeRoundTrip(df, merges = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L), got)
    // losslessness: every document round-trips
    assert(got.values.forall(_._2 == 1), got)
    // the digest is of the canonical text, independent of merges
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L)._3 == md5hex("low low lower lowest"), got(1L))
    assert(got(2L)._3 == md5hex("spaced out text"), got(2L))
    // merges really applied: token count < character count
    val chars1 = "lowlowlowerlowest".length
    assert(got(1L)._1 < chars1, got(1L))
  }

  test("t23/c16: DSIR weights rank on-domain pool docs above off-domain") {
    import spark.implicits._
    // Target domain (src1) speaks a fixed vocabulary; the pool (srcA)
    // holds ONE doc reusing the target's phrases and three gibberish
    // docs sharing no gram with it. The on-domain doc must score
    // strictly highest, and c16's per-source top-quarter (ceil(4/4)=1)
    // must keep exactly that doc.
    val domain = "solar panel energy grid storage battery capacity " +
      "inverter solar panel energy grid storage battery"
    val docs = Seq(
      (1L, domain, "src1"),
      (2L, "solar grid battery storage panel energy capacity inverter",
        "src1"),
      (10L, "solar panel energy grid storage battery inverter capacity",
        "srcA"),
      (11L, "qx wv zk jm pl rt yh uo qa ws ed rf", "srcA"),
      (12L, "mn bv cx zl kj hg fd sa poi uyt rew qas", "srcA"),
      (13L, "aa1 bb2 cc3 dd4 ee5 ff6 gg7 hh8 ii9 jj0 kk1 ll2", "srcA"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "length(text) AS n_chars")
    val dir = tempDir("t23-spec")
      .toFile.getAbsolutePath
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val w = graft.SparkEntry.queries("t23_dsir_weights")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // target docs are never scored; all four pool docs are
    assert(w.keySet === Set(10L, 11L, 12L, 13L), w)
    assert(Seq(11L, 12L, 13L).forall(id => w(10L) > w(id)),
      s"on-domain doc must outscore gibberish: $w")
    // off-domain docs share no bucket with the target: every feature
    // carries the same smoothed-zero target mass, so their ratio is
    // negative (pool-common features are LESS likely under target)
    assert(Seq(11L, 12L, 13L).forall(id => w(id) < 0.0), w)
    val keep = graft.SparkEntry.queries("c16_dsir_select")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(keep === Map(10L -> 1, 11L -> 0, 12L -> 0, 13L -> 0), keep)
  }

  test("t24: a perfect cnt ∝ 1/rank corpus fits slope −1; OLS matches a JVM recompute") {
    val sparkS = spark
    import sparkS.implicits._
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
    // Source "pow": counts 12/6/4/3 at ranks 1..4 — exactly 12/rank,
    // so y = ln 12 − 1·x and the fit must return slope −1 (up to the
    // per-term round-6 inputs). Source "flat": all counts equal → the
    // fitted slope is 0.
    val pow = Seq.fill(12)("aa") ++ Seq.fill(6)("bb") ++
      Seq.fill(4)("cc") ++ Seq.fill(3)("dd")
    val docs = Seq(
      (1L, pow.mkString(" "), "pow"),
      (2L, "ee ff gg hh", "flat"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.zipfSlope(docs, k = 100).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // Independent OLS over the rounded (x, y) points, as documented.
    def ols(counts: Seq[Long]): (Double, Double) = {
      val pts = counts.zipWithIndex.map { case (c, i) =>
        (r6(math.log(i + 1.0)), r6(math.log(c.toDouble))) }
      val n = pts.size.toDouble
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val sl = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      (r6(sl), r6((sy - sl * sx) / n))
    }
    val (slP, icP) = ols(Seq(12L, 6L, 4L, 3L))
    assert(out("pow") === ((4L, slP, icP)), out.toString)
    assert(math.abs(slP + 1.0) < 1e-4, s"power-law slope $slP")
    assert(math.abs(icP - r6(math.log(12.0))) < 1e-4, s"intercept $icP")
    val (slF, icF) = ols(Seq(1L, 1L, 1L, 1L))
    assert(out("flat") === ((4L, slF, icF)), out.toString)
    assert(slF === 0.0 && math.abs(icF) < 1e-12, s"flat slope $slF")
  }

  test("t25: entropy is 0 for a one-token doc, ln k for uniform, and " +
    "matches a JVM recompute for a skewed doc") {
    val sparkS = spark
    import sparkS.implicits._
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6
    val docs = Seq(
      (1L, "a a a a"), // degenerate: one term → H = 0
      (2L, "a b c d"), // uniform over 4 → H = ln 4
      (3L, "a a b")) // skewed: H = −(2/3·ln 2/3 + 1/3·ln 1/3)
      .toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // Independent recompute with the documented rounding contract:
    // per-term ln rounded to 6 dp before the ordered sum.
    def h(counts: Seq[Long]): Double = {
      val n = counts.sum.toDouble
      r6(-counts.map(c => (c / n) * r6(math.log(c / n))).sum)
    }
    assert(out(1L) === ((4L, 1L, 0.0)), out.toString)
    assert(out(2L) === ((4L, 4L, h(Seq(1L, 1L, 1L, 1L)))), out.toString)
    assert(math.abs(out(2L)._3 - math.log(4.0)) < 1e-5, out.toString)
    assert(out(3L) === ((3L, 2L, h(Seq(2L, 1L)))), out.toString)
    // Uniform strictly beats skewed beats degenerate.
    assert(out(2L)._3 > out(3L)._3 && out(3L)._3 > out(1L)._3)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("t26: first occurrence kept in place, later repeats dropped, " +
    "trailing odd token ignored, short docs yield zero chunks") {
    val sparkS = spark
    import sparkS.implicits._
    val docs = Seq(
      // chunks: [a b][a b][c d][a b] -> clean [a b][c d]
      (1L, "a b a b c d a b"),
      // repeat AFTER an intervening distinct chunk still drops, and
      // the intervening chunk keeps its position: [x y][p q][x y]
      // -> [x y][p q]; the 7th token "z" is an incomplete chunk and
      // is ignored entirely (aligned partition, not a remainder).
      (2L, "x y p q x y z"),
      (3L, "only"), // 1 token -> 0 chunks
      (4L, "a b")) // exactly one chunk, nothing to remove
      .toDF("doc_id", "text")
    val out = TextAnalysis.intraDocDedup(docs, width = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) === ((4, 2, md5hex("a b c d"))), out.toString)
    assert(out(2L) === ((3, 1, md5hex("x y p q"))), out.toString)
    assert(out(3L) === ((0, 0, md5hex(""))), out.toString)
    assert(out(4L) === ((1, 0, md5hex("a b"))), out.toString)
  }

  test("t27: a chunk in >=3 docs is scrubbed everywhere, a 2-doc " +
    "chunk survives, and a fully-boilerplate doc vanishes") {
    val sparkS = spark
    import sparkS.implicits._
    val boiler = "terms of service apply and all rights reserved" // 8

    val pair = "subscribe to our newsletter for weekly updates now"
    val docs = Seq(
      // boilerplate at position 0, unique tail
      (1L, s"$boiler u1 u2 u3 u4 u5 u6 u7 u8"),
      // boilerplate at position 1 (scrub is position-independent);
      // also carries the 2-doc chunk, which must survive
      (2L, s"v1 v2 v3 v4 v5 v6 v7 v8 $boiler $pair"),
      // doc that is NOTHING but boilerplate -> zero kept chunks ->
      // no output row (both engines drop the empty group)
      (3L, boiler),
      // second holder of the 2-doc chunk: below minDocs, kept
      (4L, s"$pair w1 w2 w3 w4 w5 w6 w7 w8"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateScrub(docs, width = 8, minDocs = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(!out.contains(3L), s"fully-boilerplate doc kept: $out")
    assert(out(1L) === ((1L, md5hex("u1 u2 u3 u4 u5 u6 u7 u8"))))
    assert(out(2L) === ((2L,
      md5hex("v1 v2 v3 v4 v5 v6 v7 v8 " + pair))))
    assert(out(4L) === ((2L,
      md5hex(pair + " w1 w2 w3 w4 w5 w6 w7 w8"))))
  }

  test("t29: Kneser-Ney matches an independent JVM recompute, and an " +
      "unseen continuation floors instead of scoring -inf") {
    import spark.implicits._
    val train1 = "a b a b c"
    val train2 = "b a b b"
    val held = "a b z" // doc 10 is held out; z is never a continuation
    val docs = Seq((1L, train1), (2L, train2), (10L, held))
      .toDF("doc_id", "text")
    val got = TextAnalysis.knLogprob(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // Independent recompute over explicit token lists.
    def toks(s: String) = s.split("\\s+").toSeq
    val trainToks = Seq(toks(train1), toks(train2))
    val bc = trainToks.flatMap(t => t.zip(t.tail))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cv = bc.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1f = bc.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1b = bc.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val tt = bc.size.toLong
    // HALF_UP like Spark's round(), not rint's half-even
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def lnp(prev: String, term: String): Double = {
      val pc = n1b.get(term).map(_.toDouble / tt)
        .getOrElse(1.0 / (tt + 1))
      val p =
        if (prev == "" || !cv.contains(prev)) pc
        else math.max(bc.getOrElse((prev, term), 0L).toDouble - 0.75,
          0.0) / cv(prev) +
          ((0.75 * n1f(prev)) / cv(prev)) * pc
      r6(math.log(p))
    }
    def avg(text: String): Double = {
      val t = toks(text)
      val ps = ("" +: t.init).zip(t).map { case (p, w) => lnp(p, w) }
      r6(ps.sum / t.size)
    }
    Seq(1L -> train1, 2L -> train2, 10L -> held).foreach { case (id, t) =>
      assert(got(id)._1 == toks(t).size.toLong, got)
      assert(math.abs(got(id)._2 - avg(t)) < 1e-9,
        s"doc $id: got ${got(id)._2}, want ${avg(t)}")
    }
    // The unseen continuation is finite (the type-space floor) and
    // the held-out doc scores strictly worse than a training doc.
    assert(!got(10L)._2.isNegInfinity && !got(10L)._2.isNaN, got)
    assert(got(10L)._2 < got(1L)._2, got)
  }

  test("t28: the classifier separates a feature-distinct target " +
      "domain, and learns NOTHING when the signal is switched off") {
    import spark.implicits._
    // ON: src1 docs are long and punctuation-free; the rest are
    // short and punctuation-heavy — the engineered features carry
    // the label, so 10 GD rounds must separate them.
    val longClean = (1 to 60).map(i => f"word$i%03d").mkString(" ")
    val shortNoisy = "a!!! b??? c,,, d... e;;; f:::"
    val on = Seq(
      (1L, longClean, "src1"), (2L, longClean + " extra", "src1"),
      (10L, shortNoisy, "srcA"), (11L, shortNoisy + " g!!!", "srcA"),
      (12L, shortNoisy, "srcB"))
      .toDF("doc_id", "text", "source")
    val scoredOn = TextAnalysis.qualityClassifier(on)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(3)))
    val srcScores = scoredOn.filter(_._2 == 1).map(_._3)
    val restScores = scoredOn.filter(_._2 == 0).map(_._3)
    assert(srcScores.min > restScores.max,
      s"no separation: $scoredOn")
    // OFF: identical feature profiles across sources — the gradient
    // has no feature direction to move along, so scores collapse to
    // one value for every doc (the classifier can only fit the base
    // rate, never invent a split).
    val off = Seq(
      (1L, longClean, "src1"), (2L, longClean, "srcA"),
      (3L, longClean, "srcB"), (4L, longClean, "srcC"))
      .toDF("doc_id", "text", "source")
    val scoredOff = TextAnalysis.qualityClassifier(off)
      .collect().map(r => r.getDouble(3)).distinct
    assert(scoredOff.length == 1, s"off-signal scores split: $scoredOff")
  }
}
