package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Round-16 additions: Hangul in the script repertoire (+ `ko` in
  * t26), the persisted CJK token-array artifact behind a
  * tokenizer-version stamp, and the stamp's loud-failure contract. */
class RoundSixteenOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def toks(s: String): Seq[String] = {
    import spark.implicits._
    Seq(s).toDF("t").select(TextOps.scriptTokens(col("t")))
      .head.getSeq[String](0)
  }

  test("Hangul syllables and jamo are single script tokens; embedded " +
    "Latin runs stay word-like") {
    assert(toks("한국어") == Seq("한", "국", "어"))
    assert(toks("한ab국 12어") == Seq("한", "ab", "국", "12", "어"))
    // decomposed jamo (U+1100 block) tokenize per code point too
    assert(toks("ᄀᄂ") == Seq("ᄀ", "ᄂ"))
    // driver twin agrees (the analyzer-equality doctrine)
    assert(TextOps.scriptTokensStr("한ab국 12어") ==
      Seq("한", "ab", "국", "12", "어"))
  }

  test("Korean text is no longer invisible to the cjk_ratio gate: a " +
    "Hangul doc passes t25 where the old repertoire mis-gated it") {
    import spark.implicits._
    val ko = (1 to 60).map(i => TextOps.CjkHangulTo(i % 21)).mkString
    val got = TextOps.scriptGopherFilter(
      Seq((1L, ko)).toDF("doc_id", "text"), "doc_id", "text",
      minTokens = 50L, maxTokens = 400L, minCjkRatioQ6 = 500000L)
      .collect().head
    assert(got.getLong(3) == 1000000L && got.getBoolean(4),
      "60 Hangul chars must read as 60 CJK tokens at ratio 1.0")
  }

  test("t26 answers ko: syllable text, jamo text, and Korean with " +
    "embedded hanja — and kana still wins for Japanese") {
    import spark.implicits._
    val docs = Seq(
      (1L, "한국어로 쓴 문장"),
      (2L, "한자 混用 문장이다"), // hanja minority → still ko
      (3L, "日本語の文です")) // kana present → ja even with kanji
      .toDF("doc_id", "text")
    val got = TextOps.scriptLangId(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(got == Map(1L -> "ko", 2L -> "ko", 3L -> "ja"))
  }

  test("r08 analyzer forms Hangul-Hangul bigrams (Lucene-CJK treats " +
    "Hangul like the other CJK scripts)") {
    assert(Search.cjkAnalyze("한국어") ==
      Seq("한", "국", "어", "한국", "국어"))
    assert(Search.cjkAnalyze("한ab국") == Seq("한", "ab", "국"),
      "a Latin run breaks the bigram chain")
  }

  test("cjkHangulFixture maps the 21 letters to distinct syllables " +
    "and deletes spaces, like the other script fixtures") {
    import spark.implicits._
    val out = Seq("the part").toDF("text")
      .select(TextOps.cjkHangulFixture(col("text"))).head.getString(0)
    val expected = "the part".filter(_ != ' ')
      .map(c => TextOps.CjkHangulTo(TextOps.CjkFrom.indexOf(c))).mkString
    assert(out == expected && !out.contains(' '))
  }

  test("persisted token arrays ≡ in-session derivation: the artifact " +
    "round-trips parquet exactly and terms derived from it equal " +
    "cjkIndexTerms run directly") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      TextOps.cjkFixture(col("text")).as("text"))
    val dir = IndexPaths.dir("r16_tokens_spec", sf)
    TextOps.cjkTokensWrite(docs, "doc_id", "text", dir)
    val loaded = TextOps.cjkTokensLoad(spark, dir)
    val direct = docs.select(col("doc_id"),
      TextOps.scriptTokens(col("text")).as("toks"))
    assert(loaded.exceptAll(direct).isEmpty &&
      direct.exceptAll(loaded).isEmpty)
    val termsFromStore = loaded.select(col("doc_id"),
      Search.cjkIndexTermsFromTokens(col("toks")).as("terms"))
    val termsDirect = docs.select(col("doc_id"),
      Search.cjkIndexTerms(col("text")).as("terms"))
    assert(termsFromStore.exceptAll(termsDirect).isEmpty &&
      termsDirect.exceptAll(termsFromStore).isEmpty)
  }

  test("tokenizer-version stamp: a stale or absent stamp fails loudly " +
    "at load, a current one passes") {
    val dir = IndexPaths.dir("r16_stamp_spec", sf)
    new java.io.File(dir).mkdirs()
    // absent stamp (pre-versioning store, or a publish that died)
    val eAbsent = intercept[IllegalStateException] { IndexMeta.check(dir) }
    assert(eAbsent.getMessage.contains("artifact version mismatch"))
    // stale stamp (store built by an older tokenizer definition)
    java.nio.file.Files.write(
      new java.io.File(dir, "_ARTIFACT_VERSION").toPath,
      "tok-0000000000000000".getBytes("UTF-8"))
    val eStale = intercept[IllegalStateException] { IndexMeta.check(dir) }
    assert(eStale.getMessage.contains("tok-0000000000000000"))
    IndexMeta.stamp(dir)
    IndexMeta.check(dir) // current: no throw
  }

  test("d24 precision vs d23 recall: a lightly-edited CJK benchmark " +
    "quote is verified near-dup (actionable), an incidental one-gram " +
    "share is not — and the word-level d17 sees neither") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def cjkStr(n: Int): String =
      Seq.fill(n)(TextOps.CjkTo(rnd.nextInt(21))).mkString
    val bench = cjkStr(60)
    // one mid-string edit: kills ≤5 of ~56 5-gram windows → J ≥ ~0.8
    val edited = bench.updated(30,
      TextOps.CjkTo((TextOps.CjkTo.indexOf(bench(30)) + 1) % 21))
    // shares exactly the benchmark's FIRST window, otherwise unrelated
    val incidental = bench.take(5) + cjkStr(55)
    val unrelated = cjkStr(60)
    val corpus = Seq((10L, edited), (11L, incidental), (12L, unrelated))
      .toDF("doc_id", "text")
    val probe = Seq((1L, bench)).toDF("doc_id", "text")
    // d23's tripwire fires on BOTH the quote and the incidental share —
    // high recall, but the flag alone cannot say which doc to drop
    val hits = Dedup.cjkContaminationHits(corpus, "doc_id", "text",
      probe, "text").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(10L) && hits(10L) >= 40,
      "the edited quote shares most windows")
    assert(hits.get(11L).contains(1L),
      "the incidental doc shares exactly one window")
    assert(!hits.contains(12L))
    // d24's Jaccard verify separates them: the quote is flagged with
    // high overlap, the incidental share is not flagged at all
    val d24 = Dedup.cjkDecontaminateNearDup(corpus, probe,
      "doc_id", "text", threshold = 0.6).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(d24.contains(10L) && d24(10L) >= 0.6 && !d24.contains(11L))
    // and the word-level d17 is blind to the whole unsegmented corpus
    // (every doc is ONE whitespace token — below the 3-gram floor)
    assert(Dedup.decontaminateNearDup(corpus, probe,
      "doc_id", "text", threshold = 0.6).isEmpty)
  }

  test("d24 ⊆ d23 on the harness corpus: every verified near-dup of a " +
    "benchmark doc shares at least one char gram with it") {
    val d24 = Dedup.queries("d24_cjk_decontaminate_neardup")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val d23 = Dedup.queries("d23_cjk_decontaminate")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(d24.nonEmpty, "the planted near-dups must cross the src0 split")
    assert(d24.subsetOf(d23))
  }

  test("empty-night serve: a delta producing ZERO pairs returns the " +
    "published labels exactly, and equals mergeComponents over an " +
    "empty edge set — the two branches can never diverge") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val dir = IndexPaths.dir("r16_empty_night", sf)
    Dedup.minhashPublishStanding(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", 0.6, dir)
    // a delta sharing NO 3-gram with anything: every token unique to
    // its doc and absent from the corpus vocabulary — band candidates
    // may still collide, but the exact-Jaccard verify kills them all
    val delta = (1 to 4).map { i =>
      (9000L + i, (1 to 12).map(j => s"zz${i}x$j").mkString(" "))
    }.toDF("doc_id", "text")
    val served = Dedup.minhashServeIncremental(spark, delta,
      "doc_id", "text", 0.6, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val published = spark.read.parquet(s"$dir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == published,
      "an empty delta night must return the store's labels as-is")
    // and the fast path's argued identity holds literally: merging an
    // EMPTY edge set reproduces the published labels
    val emptyEdges = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val merged = Clusters.mergeComponents(
        spark.read.parquet(s"$dir/labels"), emptyEdges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged == published,
      "mergeComponents over zero edges must be an identity on labels")
  }

  test("cjkServeDelta refuses an unstamped store (the d21 load seam)") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      TextOps.cjkFixture(col("text")).as("text"))
    val dir = IndexPaths.dir("r16_d21_stamp_spec", sf)
    Dedup.cjkPublishIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dir)
    // published by the current tokenizer: serves fine
    Dedup.cjkServeDelta(spark, docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", 0.6, dir).count()
    // simulate a tokenizer change since publish: the serve must fail
    // loudly, not silently miss every pair
    java.nio.file.Files.write(
      new java.io.File(dir, "_ARTIFACT_VERSION").toPath,
      "tok-ffffffffffffffff".getBytes("UTF-8"))
    intercept[IllegalStateException] {
      Dedup.cjkServeDelta(spark, docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", 0.6, dir)
    }
  }

  test("d21 tokens seam ≡ raw text: publish+serve from pre-tokenized " +
    "arrays equals publish+serve from the raw documents exactly") {
    // the artifact-sourced harness shape (cjkPublishIndexTokens /
    // cjkServeDeltaTokens over stored toks) must be a pure plumbing
    // change: same pairs, same jaccards, bit for bit
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      TextOps.cjkFixture(col("text")).as("text"))
    val toksDf = docs.select(col("doc_id"),
      TextOps.scriptTokens(col("text")).as("toks"))
    val dirRaw = IndexPaths.dir("r16_d21_raw_spec", sf)
    val dirTok = IndexPaths.dir("r16_d21_tok_spec", sf)
    Dedup.cjkPublishIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", dirRaw)
    Dedup.cjkPublishIndexTokens(
      toksDf.filter(col("doc_id") % 2 === 0), dirTok)
    def out(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    val raw = out(Dedup.cjkServeDelta(spark,
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", 0.6, dirRaw))
    val tok = out(Dedup.cjkServeDeltaTokens(spark,
      toksDf.filter(col("doc_id") % 2 =!= 0), 0.6, dirTok))
    assert(raw.nonEmpty, "spec needs a non-empty pair set to compare")
    assert(tok == raw, "tokens-seam serve must equal raw-text serve")
    // cross-wiring also agrees: tokens delta against the raw-published
    // store (one artifact, two arrival shapes)
    val crossWired = out(Dedup.cjkServeDeltaTokens(spark,
      toksDf.filter(col("doc_id") % 2 =!= 0), 0.6, dirRaw))
    assert(crossWired == raw,
      "a pre-tokenized delta must band identically against a raw-published store")
  }

  test("graft_inter_count ≡ size(array_intersect) on every real " +
    "shingle-array pair, plus the empty/disjoint/identical edges") {
    // every cross pair of real sorted-distinct shingle arrays from the
    // fixture corpus — the exact input class the verify paths feed it
    val hs = Dedup.shingleHashArrays(
      Tables.documents(spark, sf).select(col("doc_id"),
        TextOps.cjkFixture(col("text")).as("text"))
        .select(col("doc_id"),
          concat_ws(" ", TextOps.scriptTokens(col("text"))).as("t")),
      "doc_id", "t", 5)
    val pairs = hs.select(col("hs").as("hs_a"))
      .crossJoin(hs.select(col("hs").as("hs_b")))
    val mismatches = pairs
      .withColumn("fast", expr("graft_inter_count(hs_a, hs_b)"))
      .withColumn("ref", size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .filter(col("fast") =!= col("ref"))
      .count()
    assert(mismatches == 0L,
      "two-pointer count must equal array_intersect size on sorted distinct arrays")
    // crafted edges: empty vs non-empty, disjoint, identical, subset
    import spark.implicits._
    val edges = Seq(
      (Seq.empty[Long], Seq(1L, 2L), 0L),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L), 0L),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3L),
      (Seq(2L, 3L), Seq(1L, 2L, 3L, 9L), 2L)).toDF("a", "b", "want")
    assert(edges.filter(expr("graft_inter_count(a, b)") =!= col("want")).count() == 0L)
  }

  test("d25 semantic decontamination: an embedding-space copy is " +
    "flagged where every token-level tripwire is blind; orthogonal " +
    "vectors are not; and the flags agree with d05's exact pair set") {
    import spark.implicits._
    // crafted: bench vector b, corpus has an exact copy (a rewritten
    // benchmark item embeds where the original does — zero shared
    // n-grams, cosine ≈ 1), a mild paraphrase direction, and an
    // orthogonal unrelated doc
    val bench = Seq((0L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),     // exact semantic copy
      (2L, Seq(0.9f, 0.1f, 0f, 0f)), // close paraphrase
      (3L, Seq(0f, 0f, 1f, 0f)))     // unrelated
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDecontaminate(corpus, bench,
      "vec_id", "embedding", 0.45)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out.keySet == Set(1L, 2L), s"expected 1,2 flagged, got $out")
    assert(math.abs(out(1L) - 1.0) < 1e-9)
    assert(!out.contains(3L), "orthogonal corpus vector must not be flagged")
    // harness-table consistency: per corpus vector, n_bench_matches
    // equals the number of d05 exact pairs linking it to a bench
    // vector at the same threshold
    val vecs = Tables.embeddings(spark, sf)
    val d25 = Dedup.semanticDecontaminate(
      vecs.filter(col("vec_id") % 10 =!= 0),
      vecs.filter(col("vec_id") % 10 === 0),
      "vec_id", "embedding", 0.45)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d05 = Dedup.cosineNearDup(vecs, "vec_id", "embedding", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val crossCounts = d05
      .flatMap { case (a, b) =>
        if (a % 10 == 0 && b % 10 != 0) Some(b)
        else if (b % 10 == 0 && a % 10 != 0) Some(a)
        else None
      }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(d25 == crossCounts,
      s"d25 flags must equal d05's cross-set pair counts: $d25 vs $crossCounts")
  }

  test("d26 ⊆ d25: the bucket-gated sweep flags a subset with counts " +
    "bounded by the exact sweep's, and an exact copy is always caught") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
    def run(f: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
                String, String, Double) => org.apache.spark.sql.DataFrame) =
      f(vecs.filter(col("vec_id") % 10 =!= 0),
        vecs.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", 0.45)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = run(Dedup.semanticDecontaminate)
    val gated = run(Dedup.semanticDecontaminateLsh(_, _, _, _, _))
    assert(gated.keySet.subsetOf(exact.keySet),
      "bucket gate must never invent a flag the exact sweep lacks")
    gated.foreach { case (id, (n, mx)) =>
      assert(n <= exact(id)._1, s"gated count for $id exceeds exact")
      assert(mx <= exact(id)._2 + 1e-12, s"gated max_cos for $id exceeds exact")
    }
    // the contamination class that matters most — an exact copy —
    // shares every hyperplane side with its original, so the gate
    // cannot lose it
    val bench = Seq((0L, Seq.fill(64)(0.1f).updated(0, 1f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq((1L, Seq.fill(64)(0.1f).updated(0, 1f)),
      (2L, Seq.fill(64)(0f).updated(1, -1f)))
      .toDF("vec_id", "embedding")
    val copyCaught = Dedup.semanticDecontaminateLsh(corpus, bench,
      "vec_id", "embedding", 0.45)
      .collect().map(_.getLong(0)).toSet
    assert(copyCaught == Set(1L),
      "an exact copy must be flagged by the gated sweep at full recall")
  }
}
