package graft.ops

import graft.etl.TestSpark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Targeted checks for the round-9 operators — each verified against a
  * brute-force recomputation or a hand-computed fixture, independent
  * of the DuckDB oracle that checks the same answers cross-engine. */
class RoundNineOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("c19 incremental merge: delta bridges standing clusters, equals full recompute") {
    import spark.implicits._
    // standing: {1,2} and {3,4}; delta pair 2-3 bridges them, 5-6 is a
    // brand-new cluster — merged labels must equal CC over all pairs
    val standingPairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val deltaPairs = Seq((2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val standing = Clusters.connectedComponents(standingPairs, "doc_a", "doc_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = labels(Clusters.mergeComponents(standing, deltaPairs))
    assert(merged == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L))
    val full = labels(Clusters.connectedComponents(
      standingPairs.unionByName(deltaPairs), "doc_a", "doc_b"))
    assert(merged == full, "star-contracted merge must equal full recompute")
    // a standing SINGLETON label (doc 9 alone in its cluster) rolls
    // forward untouched when no delta pair reaches it
    val withSingleton = standing.unionByName(
      Seq((9L, 9L)).toDF("doc_id", "cluster_id"))
    val rolled = labels(Clusters.mergeComponents(withSingleton, deltaPairs))
    assert(rolled.get(9L).contains(9L),
      "untouched singleton labels must survive the merge")
    assert(rolled - 9L == merged)
    // and on the real pair table: the catalog split reproduces c01
    val got = labels(Clusters.queries("c19_incremental_cc")(spark, sf))
    val want = labels(Clusters.sharedComponents(spark, sf))
    assert(got == want)
  }

  test("s16 soft dedup: full-weight docs always kept, gate deterministic") {
    val docs = Tables.documents(spark, sf)
    val weights = Clusters.dedupWeightsFromComponents(docs, "doc_id",
        Clusters.sharedComponents(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kept = Sampling.queries("s16_soft_dedup_sample")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    // weight 1e6 (singletons / cluster reps of size 1) pass the coin
    // unconditionally — soft dedup never drops unduplicated content
    val full = weights.filter(_._2 == 1000000L).keySet
    assert(full.subsetOf(kept), "full-weight docs must always be kept")
    // only down-weighted (clustered) docs can be dropped
    val dropped = weights.keySet -- kept
    assert(dropped.forall(d => weights(d) < 1000000L))
    assert(dropped.nonEmpty, "fixture must down-sample some cluster member")
    // the deterministic coin: a second invocation keeps the same rows
    val again = Sampling.queries("s16_soft_dedup_sample")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("e24 A/B readout: counts recompute, z-score formula, degenerate guards") {
    val row = Events.queries("e24_ab_test")(spark, "/root/testdata/sf0.01")
      .collect().head
    val (n0, c0, n1, c1) = (row.getLong(0), row.getLong(1), row.getLong(3),
      row.getLong(4))
    // independent recompute of the experiment counts
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val pu = ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") >= Events.ConvertValue, 1L).otherwise(0L)).as("conv"))
      .withColumn("v", expr("pmod(graft_polyhash(cast(user_id as string)), 2)"))
      .collect().map(r => (r.getLong(2), r.getLong(1)))
    assert(n0 == pu.count(_._1 == 0) && n1 == pu.count(_._1 == 1))
    assert(c0 == pu.filter(_._1 == 0).map(_._2).sum &&
      c1 == pu.filter(_._1 == 1).map(_._2).sum)
    // z recomputed with the same op sequence on the driver
    val (p0, p1) = (c0.toDouble / n0.toDouble, c1.toDouble / n1.toDouble)
    val pp = (c0 + c1).toDouble / (n0 + n1).toDouble
    val z = (p1 - p0) / math.sqrt(pp * (1.0 - pp) *
      (1.0 / n0.toDouble + 1.0 / n1.toDouble))
    assert(row.getLong(7) == math.round(z * 1e6))
    // degenerate guard: everyone converts → se = 0 → z is NULL, rates
    // still read out
    import spark.implicits._
    val allConv = Seq((1L, "purchase", 500.0), (2L, "purchase", 500.0),
      (3L, "purchase", 500.0), (4L, "purchase", 500.0))
      .toDF("user_id", "event_type", "value")
    val deg = Events.abTestReadout(allConv, "user_id", "event_type",
      col("event_type") === "purchase" && col("value") >= 150.0)
      .collect().head
    assert(deg.isNullAt(7), "all-converted experiment must null the z-score")
    assert(deg.getLong(2) == 1000000L && deg.getLong(5) == 1000000L)
  }

  test("e25 CUPED: driver recompute, strong-covariate reduction, identity case") {
    // harness run: vr in (0, 1]; theta/lifts defined
    val row = Events.queries("e25_cuped")(spark, "/root/testdata/sf0.01")
      .collect().head
    assert(row.getLong(0) > 0 && row.getLong(1) > 0)
    assert(!row.isNullAt(2) && !row.isNullAt(3) && !row.isNullAt(4))
    assert(!row.isNullAt(5), "harness covariate must be non-degenerate")
    val vr = row.getLong(5)
    assert(vr > 0L && vr <= 1000000L, s"variance ratio $vr out of (0, 1e6]")
    // crafted frame: 40 users over 2 days; pre-period spend x_u known,
    // post-period spend = 2·x_u + variant-dependent shift. The strong
    // covariate must cut the variance hard and the adjusted lift must
    // land nearer the true shift than the raw lift can be distorted
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-03 00:00:00")
    val rows = (1L to 40L).flatMap { u =>
      val x = (u % 7).toDouble * 10.0 + 5.0
      Seq((u, t0, "purchase", x), (u, t1, "purchase", 2.0 * x))
    }
    val ev = rows.toDF("user_id", "ts", "event_type", "value")
    val r = Events.cupedReadout(ev, "user_id", "ts",
      col("event_type") === "purchase", "value").collect().head
    // y = 2x exactly → corr = 1 → variance ratio rounds to 0, and the
    // adjusted lift collapses to ~the (zero) treatment effect
    assert(r.getLong(5) == 0L, s"perfect covariate must zero vr, got ${r.getLong(5)}")
    assert(math.abs(r.getLong(4)) <= 1L,
      s"cuped lift must collapse to the true zero effect, got ${r.getLong(4)}")
    // theta = cov/var = 2 in q6
    assert(r.getLong(2) == 2000000L, s"theta ${r.getLong(2)}")
  }

  test("p05 incremental maintenance equals the one-shot minhash clustering") {
    def labels2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val incremental = labels2(
      graft.SparkEntry.queries("p05_incremental_maintenance")(spark, sf))
    val oneShot = labels2(Clusters.queries("c03_clusters_minhash")(spark, sf))
    assert(incremental == oneShot,
      "persist → serve-delta → star-merge must reproduce the full clustering")
    assert(incremental.nonEmpty)
  }

  test("er07 union blocking: candidates superset last-token's, pairs counted once") {
    val part = Tables.part(spark, sf)
    def pairs(blocked: org.apache.spark.sql.DataFrame) = blocked.as("a")
      .join(blocked.as("b"), col("a.blk") === col("b.blk")
        && col("a.name") < col("b.name"))
      .select(col("a.name"), col("b.name")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val lastOnly = pairs(
      part.select(col("p_name").as("name")).distinct()
        .withColumn("blk", element_at(split(col("name"), " "), -1)))
    val union = pairs(Entity.unionBlockedNames(part, "p_name"))
    assert(lastOnly.subsetOf(union),
      "first∪last candidates must contain every last-token candidate")
    assert(union.size > lastOnly.size,
      "the first-token pass must contribute new candidates on this dictionary")
    // pairs agreeing on BOTH keys count once: the audit's n_cand equals
    // the distinct pair-set size, not the keyed join's row count
    val row = Entity.blockingAuditOf(part, "p_name",
      Entity.unionBlockedNames(part, "p_name"),
      sampleMod = Entity.AuditSampleMod).collect().head
    assert(row.getLong(1) == union.size)
  }

  test("er08 union-blocked canonical map merges a superset of er02's variants") {
    val at = "/root/testdata/sf0.01"
    def merged(name: String) =
      Entity.queries(name)(spark, at).collect()
        .map(r => (r.getString(0), r.getString(1)))
        .filter { case (n, c) => n != c }.toMap
    val er02 = merged("er02_canonical_map")
    val er08 = merged("er08_union_map")
    // the union scheme's JW verify admits every er02 pair on this
    // dictionary (all lev<=2 matches score JW >= the er04 floor), and
    // only ADDS pairs beyond them: every er02-merged name stays merged
    // (possibly to a lexicographically smaller canon)
    assert(er02.keySet.subsetOf(er08.keySet),
      "every variant er02 merges must also be merged by er08")
    assert(er08.size > er02.size,
      s"union pairs must merge new variants (er02=${er02.size}, er08=${er08.size})")
    // identity preserved for isolated names
    val all = Entity.queries("er08_union_map")(spark, at).collect()
    assert(all.exists(r => r.getString(0) == r.getString(1)),
      "names with no fuzzy neighbor must map to themselves")
  }

  test("q49 two-phase percentile_cont is bit-identical to q48's windowed baseline") {
    def rows(name: String, dir: String) =
      Relational.queries(name)(spark, dir).collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1)
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val base = rows("q48_quantile_cont", dir)
      val twoPhase = rows("q49_quantile_cont_2p", dir)
      assert(twoPhase.sameElements(base),
        s"two-phase continuous quantiles must equal the windowed exact path at $dir")
    }
  }

  test("k19 IVFPQ: full-width gate equals pure PQ, restricted gate stays exact") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    // nprobe = every cell ⇒ the coarse gate admits the whole corpus
    // and IVFPQ must collapse to exactly the k08 ADC search
    val allCells = rows(Similarity.ivfPqServe(spark, sf, Similarity.KmeansK))
    val purePq = rows(Similarity.queries("k08_pq_adc")(spark, sf))
    assert(allCells == purePq,
      "IVFPQ at nprobe = k_cells must equal the ungated PQ search")
    // the catalog's restricted gate: right shape, exact scores on
    // survivors (each returned cosine equals the brute-force cosine
    // for the same pair)
    val k19 = Similarity.queries("k19_ivfpq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byProbe = k19.groupBy(_._1)
    assert(byProbe.keySet == (0L until Similarity.NumProbes).toSet)
    byProbe.values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq == (1L to Similarity.TopK).toSeq)
      assert(rs.forall(r => r._3 != r._1))
    }
    val exactCos = graft.ops.Similarity
      .knnBrute(Tables.embeddings(spark, sf), "vec_id", "embedding",
        _ < Similarity.NumProbes, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    k19.foreach { case (p, _, n, cos) =>
      assert(math.abs(exactCos((p, n)) - cos) < 1e-12,
        s"pair ($p,$n): refined score must be the exact cosine")
    }
  }

  test("r06 persisted BM25: load equals build, serve equals r01, pushed scan") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_r06_spec").toString
    val (p, l, st) = Search.bm25BuildIndex(docs, "doc_id", "text")
    Search.bm25WriteIndex(p, l, st, dir)
    val (lp, ll, ls) = Search.bm25LoadIndex(spark, dir)
    // round trip is bit-identical on all three tables
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(lp) == rows(p) && rows(ll) == rows(l) && rows(ls) == rows(st))
    // serving from the loaded index equals the query-time r01 path
    val served = Search.bm25QueryIndex(lp, ll, ls).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = Search.bm25TopK(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == direct, "persisted serve must equal the r01 ranking")
    // the term prune reaches the parquet postings scan as a pushed
    // filter — a query reads its posting lists, not the index
    val formatted = Search.bm25QueryIndex(lp, ll, ls)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters: [In(token"),
      formatted.take(3000))
  }

  test("er09 persisted map: parquet round trip bit-identical, applies like the built map") {
    val facts = Tables.part(spark, sf)
    val built = Entity.canonicalMapFromPairs(facts, "p_name",
      Entity.jaroWinklerPairsUnion(facts, "p_name"))
    val dir = java.nio.file.Files.createTempDirectory("graft_er09_spec").toString
    Entity.canonicalWriteMap(built, dir)
    val loaded = Entity.canonicalLoadMap(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(loaded) == rows(built), "loaded map must equal the built map")
    // the serve half works off the loaded copy: rollup(loaded) ≡
    // rollup(built) — consumers never touch the pair machinery
    assert(rows(Entity.entityRollupFromMap(facts, "p_name", loaded)) ==
      rows(Entity.entityRollupFromMap(facts, "p_name", built)))
  }

  test("p06 search maintenance equals the one-shot r01 ranking") {
    val got = graft.SparkEntry.queries("p06_search_maintenance")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Search.bm25TopK(Tables.documents(spark, sf), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want,
      "persist → load → delta merge → serve must equal the one-shot ranking")
  }

  test("r07 incremental merge: merged index equals full build bit-for-bit") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val merged = Search.bm25MergeIndex(
      Search.bm25BuildIndex(docs.filter($"doc_id" % 2 === 0), "doc_id", "text"),
      Search.bm25BuildIndex(docs.filter($"doc_id" % 2 =!= 0), "doc_id", "text"))
    val full = Search.bm25BuildIndex(docs, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(merged._1) == rows(full._1), "postings must concatenate")
    assert(rows(merged._2) == rows(full._2), "lexicon dfs must add exactly")
    assert(rows(merged._3) == rows(full._3), "corpus stats must add exactly")
    // and the merged serve is the r01 ranking
    val served = Search.bm25QueryIndex(merged._1, merged._2, merged._3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = Search.bm25TopK(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served == direct)
  }

  test("m08 video near-dup: frame-set Jaccard, boilerplate frames priced out") {
    import spark.implicits._
    // A={1,2,3,4}, B={1,2,3,9}: |∩|=3, |∪|=5 → 600000; C={7,8} pairs
    // with nobody
    val crafted = Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L),
      (2L, 1L), (2L, 2L), (2L, 3L), (2L, 9L),
      (3L, 7L), (3L, 8L)).toDF("doc_id", "frame_hash")
    val got = Multimodal.videoNearDupPairs(crafted, floorQ6 = 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 5L, 600000L)))
    // a boilerplate frame (df > maxDf) creates no pairs at all: 60
    // otherwise-disjoint docs sharing hash 99 stay dissimilar
    val boiler = (100L until 160L).flatMap(d => Seq((d, 99L), (d, d)))
      .toDF("doc_id", "frame_hash")
    assert(Multimodal.videoNearDupPairs(boiler, floorQ6 = 1L).count() == 0)
    // ...but the SAME shape under the cap does pair (sanity that the
    // zero above is the cap, not a bug)
    val under = (100L until 110L).flatMap(d => Seq((d, 99L), (d, d)))
      .toDF("doc_id", "frame_hash")
    assert(Multimodal.videoNearDupPairs(under, floorQ6 = 1L).count() > 0)
    // harness run: ordered pairs, every row at or above the floor
    val rows = Multimodal.queries("m08_video_neardup")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(4) >= Multimodal.VideoJacFloorQ6)
    }
  }

  test("m09 media clusters: every m08 pair lands in one cluster, labels minimal") {
    val pairs = Multimodal.queries("m08_video_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val labels = Multimodal.queries("m09_media_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // membership: exactly the docs touched by a pair; pairs co-cluster
    assert(labels.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
    pairs.foreach { case (a, b) => assert(labels(a) == labels(b),
      s"pair ($a,$b) must share a cluster") }
    // each label is its cluster's minimum member id (the c01 contract)
    labels.groupBy(_._2).foreach { case (lbl, members) =>
      assert(lbl == members.keys.min)
    }
  }

  test("v12 Benford: digit extraction, share accounting, embedded constants") {
    import spark.implicits._
    // crafted frame: leading digits are position-independent of
    // magnitude — 1, 19.5, 123, 2.7, 255, 9000 → digits 1,1,1,2,2,9;
    // sub-1 values are excluded
    val crafted = Seq(1.0, 19.5, 123.0, 2.7, 255.0, 9000.0, 0.4)
      .toDF("v")
    val got = Profile.benfordAudit(crafted, "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 9L -> 1L))
    // the embedded q6 constants are the Benford masses and total 1
    assert(Profile.BenfordQ6(1) == 301030L)
    assert(math.abs(Profile.BenfordQ6.values.sum - 1000000L) <= 9)
    // on the harness column: digits in 1..9, observed shares account
    // for the whole filtered table (Σ truncated shares within 9 ulps)
    val rows = Profile.queries("v12_benford")(spark, sf).collect()
    assert(rows.forall(r => r.getLong(0) >= 1 && r.getLong(0) <= 9))
    val obsSum = rows.map(_.getLong(2)).sum
    assert(obsSum > 1000000L - 9 && obsSum <= 1000000L)
    rows.foreach(r => assert(r.getLong(4) == r.getLong(2) - r.getLong(3)))
  }

  test("k23 MRL: prefix shortlist refines to exact scores with useful recall") {
    val k23 = Similarity.queries("k23_mrl_knn")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // shape: every probe answered with a full 1..k ranking
    val byProbe = k23.groupBy(_._1)
    assert(byProbe.keySet == (0L until Similarity.NumProbes).toSet)
    byProbe.values.foreach(rs =>
      assert(rs.map(_._2).sorted.toSeq == (1L to Similarity.TopK).toSeq))
    // every returned score is the EXACT cosine for the pair (the
    // refine contract — truncation affects WHICH pairs, never scores)
    val exactCos = Similarity.knnBrute(Tables.embeddings(spark, sf),
        "vec_id", "embedding", _ < Similarity.NumProbes, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    k23.foreach { case (p, _, n, s) =>
      assert(math.abs(exactCos((p, n)) - s) < 1e-12)
    }
    // generic (non-MRL) embeddings: the 16-dim prefix still recovers a
    // useful share of true neighbors through the refine-50 shortlist
    val approx = k23.map(t => (t._1, t._3)).toSet
    val exact = Similarity.sharedKnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.5, f"prefix recall@5 = $recall%.2f, expected >= 0.5")
  }

  test("k22 SQ8 recall equals the direct overlap of k21 against the baseline") {
    val approx = Similarity.queries("k21_sq8")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Similarity.sharedKnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val wantHits = exact.groupBy(_._1).map { case (p, rs) =>
      p -> rs.count(approx.contains).toLong
    }
    val got = Similarity.queries("k22_sq8_recall")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => t._1 -> t._2).toMap == wantHits)
    got.foreach { case (_, hits, q6) =>
      assert(q6 == math.round(hits.toDouble / Similarity.TopK * 1000000.0))
    }
  }

  test("x14 per-group AMS: group atoms sum to the whole, exacts recompute") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
    val rows = Sketches.amsF2By(events, "event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.map(_._1).toSet ==
      events.select($"event_type").distinct().collect().map(_.getString(0)).toSet)
    // exact side recomputes per group
    rows.foreach { case (g, _, exact) =>
      val want = events.filter($"event_type" === g)
        .groupBy($"user_id").agg(count(lit(1)).as("c"))
        .agg(sum($"c" * $"c")).head().getLong(0)
      assert(exact == want, s"group $g exact F2")
    }
    // every group's estimate lands in the x13 3x envelope
    rows.foreach { case (g, est, exact) =>
      assert(est > exact / 3 && est < exact * 3, s"group $g estimate $est vs $exact")
    }
  }

  test("x13 AMS: linear sketch, self-consistency, estimates track exact sizes") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
    def zVec(df: org.apache.spark.sql.DataFrame) = {
      val r = Sketches.amsZ(df, "user_id").head()
      (0 until Sketches.AmsR).map(i => r.getLong(i))
    }
    // linearity: the sketch of a disjoint union is the component sum —
    // the mergeability that lets shards/deltas combine by addition
    val all = zVec(events)
    val even = zVec(events.filter($"event_id" % 2 === 0))
    val odd = zVec(events.filter($"event_id" % 2 === 1))
    assert(all == even.zip(odd).map { case (a, b) => a + b },
      "Z(A ⊎ B) must equal Z(A) + Z(B) component-wise")
    // self-consistency: the join-size inner product of a sketch with
    // itself IS the F2 readout of the same sketch
    val za = Sketches.amsZ(events, "user_id")
    val self = Sketches.amsJoinSize(za, za).head().getLong(0)
    val f2Row = Sketches.amsF2(events, "user_id").head()
    assert(self == f2Row.getLong(0), "Z·Z div r must equal est_f2")
    // accuracy: r=16 gives ~35% relative std — assert a 3x envelope on
    // both the self-join and the cross-join estimates
    val exactF2 = f2Row.getLong(1)
    assert(f2Row.getLong(0) > exactF2 / 3 && f2Row.getLong(0) < exactF2 * 3)
    val zb = Sketches.amsZ(events.filter($"event_id" % 2 === 1), "user_id")
    val cross = Sketches.amsJoinSize(Sketches.amsZ(
      events.filter($"event_id" % 2 === 0), "user_id"), zb).head().getLong(0)
    val exactJoin = events.filter($"event_id" % 2 === 0)
      .groupBy($"user_id").agg(count(lit(1)).as("ca"))
      .join(events.filter($"event_id" % 2 === 1)
        .groupBy($"user_id").agg(count(lit(1)).as("cb")), "user_id")
      .agg(sum($"ca" * $"cb")).head().getLong(0)
    assert(cross > exactJoin / 3 && cross < exactJoin * 3,
      s"join-size estimate $cross must track exact $exactJoin")
  }

  test("s17 diversity sample: per-cluster caps, deterministic, assignment subset") {
    import spark.implicits._
    val assign = Similarity.sharedKmeansAssign(spark, sf)
    val kept = Sampling.clusterBalancedSample(assign, "vec_id", "cluster",
      Sampling.DiversityCap)
    // each cluster contributes min(cap, |cluster|) rows
    val want = assign.groupBy($"cluster").count().collect()
      .map(r => r.getLong(0) -> math.min(Sampling.DiversityCap.toLong,
        r.getLong(1))).toMap
    val got = kept.groupBy($"cluster").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "per-cluster kept counts must be min(cap, size)")
    // kept rows are assignment rows (no synthesized members), and the
    // kept SET is repartition-invariant (the deterministic hash rank)
    val keptSet = kept.select($"vec_id", $"cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val assignSet = assign.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(keptSet.subsetOf(assignSet))
    val re = Sampling.clusterBalancedSample(assign.repartition(7), "vec_id",
      "cluster", Sampling.DiversityCap)
      .select($"vec_id", $"cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(re == keptSet, "kept set must not depend on partitioning")
  }

  test("k21 SQ8: 8-bit codes, batch-independent encode, high recall vs exact") {
    import spark.implicits._
    val vn = Similarity.sharedNormalized(spark, sf)
    val stats = Similarity.sqTrainStats(vn)
    val enc = Similarity.sqEncodeWith(vn, stats)
    // every code is an 8-bit value
    val codeBounds = enc.selectExpr(
      "aggregate(codes, cast(1 as int), (acc, c) -> " +
        "CASE WHEN c >= 0 AND c <= 255 THEN acc ELSE 0 END) AS ok")
      .agg(min($"ok")).head().getInt(0)
    assert(codeBounds == 1, "all SQ codes must lie in [0, 255]")
    // frozen-stats encode is batch-independent: a subset encoded
    // against the full-corpus stats gets exactly its full-encode codes
    val sub = Similarity.sqEncodeWith(vn.filter($"vec_id" % 3 === 0), stats)
      .select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val full = enc.select($"vec_id", $"codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    sub.foreach { case (id, cs) => assert(full(id) == cs,
      s"vec $id: frozen-stats encode must not depend on the batch") }
    // compressed top-k tracks the exact baseline closely: 2^20-grained
    // probe, 8-bit corpus ⇒ recall@5 well above any useful ANN bar
    val approx = Similarity.queries("k21_sq8")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = Similarity.sharedKnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.8, f"SQ8 recall@5 = $recall%.2f, expected >= 0.8")
  }

  test("k18 frozen-codebook encode: batch-independent, nearest-stored-centroid") {
    val e = Tables.embeddings(spark, sf)
    val (_, cbs) = Similarity.pqTrainIndex(e, "vec_id", "embedding")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        (1 until r.size).map(r.getLong).toSeq)).sortBy(_._1).toSeq
    // batch independence — the incremental-append contract: a vector's
    // code depends only on (vector, codebook), so encoding two
    // sub-batches separately equals encoding them together
    val odds = e.filter(col("vec_id") % 2 =!= 0)
    val together = norm(Similarity.pqEncodeWith(odds, "vec_id", "embedding", cbs))
    val split =
      (norm(Similarity.pqEncodeWith(
          odds.filter(col("vec_id") % 4 === 1), "vec_id", "embedding", cbs)) ++
        norm(Similarity.pqEncodeWith(
          odds.filter(col("vec_id") % 4 === 3), "vec_id", "embedding", cbs)))
        .sortBy(_._1)
    assert(together == split, "encoding must not depend on batch composition")
    // independent argmax recompute on the driver for a sample: each
    // emitted code is the stored centroid maximizing dot/|c| (the same
    // left-fold double arithmetic graft_dot runs), ties to min cluster
    val cb = cbs.collect().map(r => (r.getAs[Number](0).longValue,
      r.getAs[Number](1).longValue, r.getSeq[Double](2))).groupBy(_._1)
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    val nvs = Similarity.sharedNormalized(spark, sf)
      .filter(col("vec_id") % 2 =!= 0).limit(20)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val got = together.toMap
    val sub = 64 / Similarity.PqSubspaces
    nvs.foreach { case (id, nv) =>
      (0 until Similarity.PqSubspaces).foreach { i =>
        val sv = nv.slice(i * sub, (i + 1) * sub)
        val best = cb(i.toLong).map { case (_, cl, cent) =>
          (-(dot(sv, cent) / math.sqrt(dot(cent, cent))), cl)
        }.min._2
        assert(got(id)(i) == best,
          s"vec $id subspace $i: code ${got(id)(i)} != argmax $best")
      }
    }
    // and the k18 delta entry covers every delta vector exactly once
    val delta = Similarity.queries("k18_pq_encode_delta")(spark, sf)
      .collect().map(_.getLong(0))
    assert(delta.length == delta.distinct.length)
    assert(delta.forall(_ % 2 == 1) && delta.nonEmpty)
  }

  test("p04 media curation equals composing the m05/m06 catalog stages") {
    // one-plan composition vs gluing the already-verified catalog
    // outputs by hand: m06's cut frames, kept only when (doc, frame)
    // is m05's corpus-wide keeper for that hash
    val cuts = Multimodal.queries("m06_scene_change")(spark, sf)
      .filter(col("is_cut"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    val keepers = Multimodal.queries("m05_frame_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
      .map { t: (Long, Long, Long) => (t._2, t._3, t._1) } // (doc, frame, hash)
    val frames = Multimodal.queries("m02_media_frames")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val want = cuts.flatMap { case (doc, idx, scene) =>
      val h = frames((doc, idx))
      if (keepers.contains((doc, idx, h))) Some((doc, idx, h, scene)) else None
    }.toSet
    val got = graft.SparkEntry.queries("p04_media_curation")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got == want,
      "the one-plan pipeline must equal the hand-glued catalog stages")
    assert(got.nonEmpty && got.size < frames.size,
      "curation must keep a strict, non-empty subset of frames")
  }

  test("er07 audit: union blocking lifts pair completeness over er06's key") {
    val at = "/root/testdata/sf0.01"
    val er06 = Entity.queries("er06_blocking_audit")(spark, at).collect().head
    val er07 = Entity.queries("er07_union_audit")(spark, at).collect().head
    // same ground truth (n_true from the same sample + JW floor)
    assert(er06.getLong(4) == er07.getLong(4))
    // the acceptance metric: materially higher pair completeness
    assert(er07.getLong(6) > er06.getLong(6),
      s"union pc_q6 ${er07.getLong(6)} must beat last-token pc_q6 ${er06.getLong(6)}")
    // at a bounded candidate cost: n_cand at most doubles (two passes)
    assert(er07.getLong(1) <= 2L * er06.getLong(1))
  }
}
