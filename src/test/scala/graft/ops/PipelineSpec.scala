package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Behavioral pins for the composed pipelines (plan shapes live in
  * PlanSpec; the oracle rows check the real corpus). p08's gate logic
  * is exercised here on an ENGINEERED corpus where each gate has an
  * unambiguous doc to fire on — the real testdata can't guarantee a
  * doc that is simultaneously contaminated AND repetitive, which is
  * exactly the case the precedence rule exists for.
  */
class PipelineSpec extends SparkSpec {

  test("p08: admission verdicts fire per gate with stated precedence") {
    import spark.implicits._
    // 21 tokens, all 2/3-grams unique, no repeated 5-gram -> passes
    // every repetition threshold (3-gram gate needs n_tokens >= 17).
    val natural = "the quick brown fox jumps over the lazy dog while " +
      "rain falls on green hills and birds sing near the river"
    val evalText =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // contains eval's 8-gram window 5 times -> contaminated AND
    // repetitive: precedence must report 'contaminated'
    val leaked = Seq.fill(5)(
      "alpha beta gamma delta epsilon zeta eta theta").mkString(" ")
    // within-doc repetition only -> 'repetitive'
    val spammy = Seq.fill(30)("spam").mkString(" ")
    // 40 unique gibberish tokens; id 30 is OUTSIDE the LM reference
    // slice (30 % 10 == 0) so every bigram backs off to the OOV floor
    // -> far below the corpus-relative threshold -> 'low_lm'
    val junk = (1 to 40).map(i => s"zx${i}qv").mkString(" ")
    val docs = ((1L to 8L).map(id => (id, natural)) ++ Seq(
      (23L, evalText), // eval slice (23 % 23 == 0) — never graded
      (24L, leaked),
      (25L, spammy),
      (30L, junk)))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'srcX' AS source",
        "length(text) AS n_chars")
    val dir = tempDir("p08-spec").toFile.getAbsolutePath
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("p08_admission_gate")(spark, dir)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(3), r.getInt(4), r.getInt(5), r.getString(6))))
      .toMap
    assert(!out.contains(23L), s"eval doc graded: $out")
    val (dc, rc, _, vc) = out(24L)
    assert((dc, rc, vc) === ((0, 0, "contaminated")),
      s"contaminated+repetitive doc must report contamination: $out")
    assert(out(25L)._1 == 1 && out(25L)._2 == 0 &&
      out(25L)._4 == "repetitive", s"spam doc: ${out(25L)}")
    assert(out(30L) === ((1, 1, 0, "low_lm")), s"junk doc: ${out(30L)}")
    (1L to 8L).foreach { id =>
      assert(out(id) === ((1, 1, 1, "admitted")), s"doc $id: ${out(id)}")
    }
  }

  test("p09: release manifest carries exactly the admitted docs") {
    import spark.implicits._
    // Same engineered corpus as the p08 spec: docs 1-8 are the only
    // admitted ones (leaked/spammy/junk each trip a gate, 23 is eval),
    // so the read-back manifest must show srcX with 8 docs and their
    // 21-token texts. The 8 texts are IDENTICAL, so the XOR digest of
    // an even count of equal values is exactly 0 — any lost partition
    // (7 docs) or resurfaced rejected doc flips it nonzero.
    val natural = "the quick brown fox jumps over the lazy dog while " +
      "rain falls on green hills and birds sing near the river"
    val evalText =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val leaked = Seq.fill(5)(
      "alpha beta gamma delta epsilon zeta eta theta").mkString(" ")
    val spammy = Seq.fill(30)("spam").mkString(" ")
    val junk = (1 to 40).map(i => s"zx${i}qv").mkString(" ")
    val docs = ((1L to 8L).map(id => (id, natural)) ++ Seq(
      (23L, evalText), (24L, leaked), (25L, spammy), (30L, junk)))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'srcX' AS source",
        "length(text) AS n_chars")
    val dir = tempDir("p09-spec").toFile.getAbsolutePath
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("p09_gated_release")(spark, dir).collect()
    assert(rows.length === 1, s"one source expected: ${rows.toSeq}")
    val r = rows.head
    assert(r.getString(0) === "srcX")
    assert(r.getLong(1) === 8L, s"admitted docs: $r")
    assert(r.getLong(2) === 8L * 21L, s"token mass: $r")
    assert(r.getLong(3) === 0L, s"digest of 8 identical texts: $r")
  }
}
