package graft.functions

import graft.etl.TestSpark
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native codegen expressions must be value-identical to the
  * pure-builtin HOF forms they replace (which are in turn mirrored by
  * the DuckDB oracle SQL). */
class NativeFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("graft_dot equals the zip_with/aggregate fold, bit for bit") {
    val e = graft.ops.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"),
        col("embedding"))
    val both = e.select(
      expr("graft_dot(embedding, embedding)").as("fast"),
      expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, x) -> acc + x)").as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("graft_dot handles mixed float/double inputs") {
    val e = graft.ops.Tables.embeddings(spark, sf).limit(10)
      .select(col("embedding"),
        expr("transform(embedding, x -> cast(x as double))").as("vd"))
    val both = e.select(
      expr("graft_dot(embedding, vd)").as("mixed"),
      expr("graft_dot(vd, vd)").as("dd"))
    assert(both.filter(col("mixed") =!= col("dd")).count() == 0)
  }

  test("graft_dot matches HOF null semantics on length mismatch and null elements") {
    // expected values hand-evaluated from the HOF's contract (the HOF
    // form itself would be rewritten to DotProduct by the installed
    // optimizer rule, so it can't serve as the reference here):
    // zip_with pads the shorter array with null and a null product
    // poisons the aggregate fold → any mismatch or null element is NULL
    import spark.implicits._
    val rows = Seq(
      (Seq[Option[Double]](Some(1), Some(2)), Seq[Option[Double]](Some(3), Some(4))),
      (Seq[Option[Double]](Some(1), Some(2)), Seq[Option[Double]](Some(3))),
      (Seq[Option[Double]](Some(1), None), Seq[Option[Double]](Some(3), Some(4))),
      (Seq[Option[Double]](), Seq[Option[Double]]()))
      .toDF("a", "b")
      .select(expr("graft_dot(a, b)").as("d"))
      .collect()
    assert(rows(0).getDouble(0) == 11.0)
    assert(rows(1).isNullAt(0), "length mismatch must be null")
    assert(rows(2).isNullAt(0), "null element must be null")
    assert(rows(3).getDouble(0) == 0.0)
  }

  test("graft_polyhash equals the split/ascii/aggregate fold") {
    val d = graft.ops.Tables.documents(spark, sf)
    val both = d.select(
      expr("graft_polyhash(text)").as("fast"),
      expr(s"aggregate(transform(split(text, ''), ch -> ascii(ch)), 0L, " +
           s"(acc, x) -> (acc * 31 + x) % ${graft.ops.Hashing.P}L)").as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("graft_polyhash is null-safe and empty-safe") {
    import spark.implicits._
    val rows = Seq(Some("abc"), Some(""), None).toDF("s")
      .select(expr("graft_polyhash(s)").as("h")).collect()
    assert(rows(0).getLong(0) == (('a' * 31 + 'b') * 31 + 'c') % 1000000007L)
    assert(rows(1).getLong(0) == 0L)
    assert(rows(2).isNullAt(0))
  }

  test("session extensions register graft functions without explicit register()") {
    // TestSpark sets spark.sql.extensions=graft.plans.GraftExtensions —
    // the functions must resolve with no runtime registration call.
    import spark.implicits._
    val out = Seq("xy").toDF("s").selectExpr("graft_polyhash(s)").collect()
    assert(out.head.getLong(0) == ('x' * 31 + 'y') % 1000000007L)
    // every registered name resolves to its expression class, and each
    // typed constructor analyzes to the same expression as its SQL form
    import GraftFunctions._
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0), Seq("a", "b", "a", "b"),
        "martha", "marhta", Seq(1L, 2L, 5L), Seq(2L, 5L, 7L)))
      .toDF("va", "vb", "tk", "sa", "sb", "ha", "hb")
    val cases: Seq[(String, Column)] = Seq(
      "graft_dot(va, vb)" -> dot(col("va"), col("vb")),
      "graft_polyhash(sa)" -> polyHash(col("sa")),
      "graft_shingle_hashes(tk, 2, 1)" -> shingleHashes(col("tk"), 2),
      "graft_shingle_hashes(tk, 2, 0)" -> shingleHashes(col("tk"), 2, combined = false),
      "graft_minhash(tk, 2)" -> minHash(col("tk"), 2),
      "graft_simhash(tk)" -> simHash(col("tk")),
      "graft_jaro_winkler(sa, sb)" -> jaroWinkler(col("sa"), col("sb")),
      "graft_inter_count(ha, hb)" -> interCount(col("ha"), col("hb")),
      "graft_token_counts(tk)" -> tokenCounts(col("tk")))
    val registry = graft.plans.GraftExtensions.functions
      .map { case (name, cls, _) => name -> cls }.toMap
    assert(cases.map(_._1.takeWhile(_ != '(')).toSet == registry.keySet)
    def analyzed(c: Column) = {
      val q = df.select(c.as("r"))
      val e = q.queryExecution.analyzed match {
        case Project(Seq(a: Alias), _) => a.child
        case p => fail(s"unexpected plan:\n$p")
      }
      (e, q.collect().toSeq)
    }
    cases.foreach { case (sql, typed) =>
      val (viaSql, sqlRows) = analyzed(expr(sql))
      val (viaTyped, typedRows) = analyzed(typed)
      assert(viaSql.getClass == registry(sql.takeWhile(_ != '(')), sql)
      assert(viaTyped == viaSql, sql)
      assert(typedRows == sqlRows, sql)
    }
  }

  /** The HOF/string reference forms the token-window expressions must
    * reproduce bit-for-bit (these are what the DuckDB oracles mirror). */
  private def shingleStrings(n: Int) =
    s"array_distinct(transform(sequence(0, size(tk) - $n), " +
    s"i -> concat_ws(' ', ${(0 until n).map(j => s"tk[i+$j]").mkString(", ")})))"

  private def tokens(df: org.apache.spark.sql.DataFrame, col0: String) =
    df.select(expr(s"filter(split($col0, ' '), x -> x <> '')").as("tk"))

  test("graft_shingle_hashes(combined) equals hashing the shingle strings") {
    val d = tokens(graft.ops.Tables.documents(spark, sf), "text")
      .filter(size(col("tk")) >= 3)
    val both = d.select(
      expr("graft_shingle_hashes(tk, 3, 1)").as("fast"),
      expr(s"array_sort(transform(${shingleStrings(3)}, s -> " +
           "graft_polyhash(s) * 1000000009L + graft_polyhash(reverse(s))))").as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("graft_shingle_hashes(forward) and graft_minhash match the string path") {
    import spark.implicits._
    // adversarial tokens: unicode (code-point hashing), repeated shingles
    // (distinctness), single-window and window-count edges
    val d = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c a b c a b c a b c",
      "範例 說明 文字 範例 說明",
      "x y z",
      "one two three four").toDF("text")
    val t = tokens(d, "text").filter(size(col("tk")) >= 3)
    val fwd = t.select(
      expr("graft_shingle_hashes(tk, 3, 0)").as("fast"),
      expr(s"array_sort(transform(${shingleStrings(3)}, s -> graft_polyhash(s)))").as("ref"))
    assert(fwd.filter(col("fast") =!= col("ref")).count() == 0)
    val mhRef = (0 until graft.ops.Hashing.MinHashA.length).map { i =>
      s"array_min(transform(${shingleStrings(3)}, s -> " +
      s"(${graft.ops.Hashing.MinHashA(i)}L * graft_polyhash(s) + " +
      s"${graft.ops.Hashing.MinHashB(i)}L) % ${graft.ops.Hashing.P}L))"
    }.mkString("array(", ", ", ")")
    val mh = t.select(expr("graft_minhash(tk, 3)").as("fast"), expr(mhRef).as("ref"))
    assert(mh.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("graft_jaro_winkler pins the textbook values (incl. boost threshold + empties)") {
    import spark.implicits._
    // q6 values cross-checked against DuckDB's jaro_winkler_similarity
    val cases = Seq(
      ("martha", "marhta", 961111L),    // transposition + prefix boost
      ("dixon", "dicksonx", 813333L),
      ("DWAYNE", "DUANE", 840000L),
      ("jellyfish", "smellyfish", 896296L), // no common prefix → no boost
      ("ax", "abcdef", 555556L),        // jaro ≤ 0.7 → boost suppressed
      ("", "abc", 0L),                  // empty side → 0 (DuckDB semantics)
      ("ab", "ba", 0L),                 // window 0: no matches
      ("same", "same", 1000000L))
    val got = cases.toDF("a", "b", "want")
      .withColumn("got",
        round(expr("graft_jaro_winkler(a, b)") * lit(1e6)).cast("long"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[Long]("got") == r.getAs[Long]("want"),
        s"${r.getString(0)} / ${r.getString(1)}")
    }
    // null propagates
    val n = Seq(("x", Option.empty[String])).toDF("a", "b")
      .selectExpr("graft_jaro_winkler(a, b)").collect()
    assert(n.head.isNullAt(0))
  }

  test("graft_simhash equals the relational count/bit-explode form") {
    val d = graft.ops.Tables.documents(spark, "/root/testdata/sf0.01")
    val fast = graft.ops.Dedup.simhash(d, "doc_id", "text")
    val ref = d
      .select(col("doc_id"), explode(expr("filter(split(text, ' '), x -> x <> '')")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("h", expr("graft_polyhash(token)"))
      .select(col("doc_id"), col("cnt"), col("h"), explode(expr("sequence(0, 31)")).as("j"))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(when(expr("(h div shiftleft(1L, j)) % 2") === 1, col("cnt"))
        .otherwise(-col("cnt"))).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0, expr("shiftleft(1L, j)")).otherwise(0L)).as("simhash"))
    assert(fast.count() == ref.count())
    assert(fast.join(ref, Seq("doc_id", "simhash")).count() == fast.count())
  }

  test("token-window expressions equal the string forms on random token arrays") {
    // property check: arbitrary token mixes (ascii words, CJK, digits,
    // punctuation, 1-char tokens) across n = 2..4 — the native
    // Rabin-Karp composition must match hashing the built shingle
    // strings exactly, every time
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val token = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)).suchThat(_.nonEmpty),
      Gen.oneOf("範例", "说明", "テスト", "a", "zz", "x1", ".", "!?", "@@@"))
    val gen = for {
      n <- Gen.choose(2, 4)
      toks <- Gen.listOf(token)
    } yield (n, toks)
    val p = Prop.forAll(gen) { case (n, toks) =>
      val df = Seq(toks).toDF("tk").filter(size(col("tk")) >= n)
      val rows = df.select(
        expr(s"graft_shingle_hashes(tk, $n, 1)").as("fast"),
        expr(s"array_sort(transform(${shingleStrings(n)}, s -> " +
             "graft_polyhash(s) * 1000000009L + graft_polyhash(reverse(s))))").as("ref")).collect()
      rows.isEmpty || {
        val r = rows.head
        r.getSeq[Long](0) == r.getSeq[Long](1)
      }
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(80), p)
    assert(r.passed, r.status.toString)
  }

  test("token-window expressions handle empty and too-short inputs") {
    import spark.implicits._
    val rows = Seq(Seq[String](), Seq("a"), Seq("a", "b")).toDF("tk")
      .select(
        expr("graft_shingle_hashes(tk, 3, 1)").as("sh"),
        expr("graft_simhash(tk)").as("sim"))
      .collect()
    assert(rows.forall(_.getSeq[Long](0).isEmpty), "no window => empty hash array")
    assert(rows(0).getLong(1) == 0L, "no tokens => simhash 0")
  }

  test("optimizer rule rewrites the HOF dot-product pattern to DotProduct") {
    val e = graft.ops.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.expr(
        "transform(embedding, x -> cast(x as double))").as("v"))
      .selectExpr("aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, x) -> acc + x) AS dot")
    val optimized = e.queryExecution.optimizedPlan
    val rewritten = optimized.expressions.exists(_.exists {
      case _: graft.functions.DotProduct => true
      case _ => false
    })
    assert(rewritten, s"expected DotProduct in optimized plan:\n$optimized")
    // and the rewrite preserves values against the un-optimized HOF form
    val viaRule = e.collect().map(_.getDouble(0))
    val viaDot = graft.ops.Tables.embeddings(spark, sf)
      .selectExpr("graft_dot(embedding, embedding) AS dot")
      .collect().map(_.getDouble(0))
    assert(viaRule.sorted.sameElements(viaDot.sorted))
  }
}
