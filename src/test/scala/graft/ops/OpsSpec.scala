package graft.ops

import graft.etl.TestSpark
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator sanity over the sf0.001 testdata: every catalog query
  * runs, returns rows, and key invariants hold. (Value-level parity with
  * DuckDB is the driver's correctness gate; golden report parity is
  * GoldenPipelineSpec.) */
class OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("every catalog query executes and returns rows at sf0.001") {
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every oracle key has a matching query key") {
    val qs = graft.SparkEntry.queries.keySet
    val orphans = graft.SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("q09 top-k is ordered and bounded") {
    val rows = Relational.queries("q09_topk_orders")(spark, sf).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getDouble(2))
    assert(prices.sameElements(prices.sorted(Ordering[Double].reverse)))
  }

  test("q08 keep-first dedup yields one row per order, the lowest line") {
    val df = Relational.queries("q08_dedup_keepfirst")(spark, sf)
    val total = df.count()
    val orders = df.select("l_orderkey").distinct().count()
    assert(total == orders)
  }

  test("d02 jaccard values lie in (0, 1] and pairs are ordered") {
    val rows = Dedup.queries("d02_ngram_jaccard")(spark, sf).collect()
    assert(rows.nonEmpty, "expected planted near-dups at sf0.001")
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(3)
      assert(j >= 0.6 && j <= 1.0)
    }
  }

  test("d06 prefix-filtered jaccard equals the full-index jaccard exactly") {
    // prefix filtering must be a LOSSLESS candidate pruning: same pairs,
    // same inter counts, same jaccard doubles — at two scales and at a
    // second threshold to exercise different prefix lengths
    for ((dir, t) <- Seq((sf, 0.6), (sf, 0.35), ("/root/testdata/sf0.01", 0.6))) {
      val docs = Tables.documents(spark, dir)
      val full = Dedup.jaccardPairs(docs, "doc_id", "text", t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val pre = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(pre == full, s"prefix!=full at dir=$dir t=$t " +
        s"(missing=${(full -- pre).take(3)}, extra=${(pre -- full).take(3)})")
    }
  }

  test("d02/d06 stay equivalent when the df cap binds (crafted hyper-frequent shingle)") {
    // testdata df maxes at ~25, far below MaxShingleDf — so the capped
    // paths (d02 drops the bucket; d06 array_excepts the hash from its
    // verify intersection) only diverge-or-agree at corpus scale. Force
    // the cap here: every doc shares the stop-shingle "a b c" (df 5 >
    // maxDf 4); the two paths must still produce identical df-capped
    // pairs, inter counts, and jaccard doubles.
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c x1 x2 x3 x4 x5"),
      (2L, "a b c x1 x2 x3 x4 x6"),
      (3L, "a b c y1 y2 y3 y4 y5"),
      (4L, "a b c y1 y2 y3 y4 y6"),
      (5L, "a b c z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val full = key(Dedup.jaccardPairs(docs, "doc_id", "text", 0.3, 3, maxDf = 4).collect())
    val pre = key(Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 0.3, 3, maxDf = 4).collect())
    assert(full.nonEmpty, "crafted near-dup pairs must survive the cap")
    assert(pre == full, s"capped prefix!=full " +
      s"(missing=${(full -- pre).take(3)}, extra=${(pre -- full).take(3)})")
    // and the cap genuinely binds on this corpus (inter excludes "a b c")
    val uncapped = key(Dedup.jaccardPairs(docs, "doc_id", "text", 0.3, 3, maxDf = 1000).collect())
    assert(uncapped != full, "crafted corpus must actually exercise the df cap")
  }

  test("d08 verified MinHash = exact pairs restricted to band candidates") {
    // on testdata the df cap is slack, so d02 computes TRUE Jaccard —
    // d08 must equal d02's rows for exactly the (doc_a, doc_b) the d03
    // bands surfaced, with identical inter counts and jaccard doubles
    val docs = Tables.documents(spark, sf)
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val verified = Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.6)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(verified.nonEmpty, "planted near-dups must survive verification")
    val expected = exact.filter { case (k, _) => cand(k) }
    assert(verified == expected,
      s"missing=${(expected.keySet -- verified.keySet).take(3)} " +
        s"extra=${(verified.keySet -- expected.keySet).take(3)}")
  }

  test("star contraction: 1000-node chain converges in O(log n) rounds") {
    import spark.implicits._
    // the adversarial case for min-label propagation: a path graph of
    // diameter 999 (propagation would need ~500 rounds). Contraction
    // must land every node on root 0 in ~log2(n) rounds.
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = Clusters.connectedComponentsContracted(chain, "a", "b")
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 1000)
    assert(got.forall(_._2 == 0L), s"non-root labels: ${got.filter(_._2 != 0L).take(3).mkString(",")}")
    assert(rounds <= 20, s"chain took $rounds rounds — not O(log n)")
  }

  test("star contraction ≡ min-label propagation on random graphs and harness pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // sparse random graph: many small components, some with chains
    val edges = (0 until 300).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .toDF("a", "b")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asSet(Clusters.connectedComponents(edges, "a", "b", contract = true)) ==
      asSet(Clusters.connectedComponents(edges, "a", "b")))
    val pairs = Dedup.jaccardPairs(Tables.documents(spark, sf), "doc_id", "text", 0.6)
    assert(asSet(Clusters.connectedComponents(pairs, "doc_a", "doc_b", contract = true)) ==
      asSet(Clusters.connectedComponents(pairs, "doc_a", "doc_b")))
  }

  test("cc driver fast path ≡ distributed min-label fixpoint (gate forced both ways)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // chains + random components: exercises multi-round propagation on
    // the distributed branch and path compression on the driver branch
    val edges = ((0 until 400).map(_ => (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong)) ++
      (500L until 540L).map(i => (i, i + 1))).toDF("a", "b")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaDriver = asSet(Clusters.connectedComponents(edges, "a", "b"))
    val prev = spark.conf.getOption("graft.cc.maxDriverEdges")
    spark.conf.set("graft.cc.maxDriverEdges", "0") // force the fixpoint
    try {
      val viaFixpoint = asSet(Clusters.connectedComponents(edges, "a", "b"))
      assert(viaDriver == viaFixpoint,
        s"driver-path labels diverge: onlyDriver=${(viaDriver -- viaFixpoint).take(3)} " +
          s"onlyFixpoint=${(viaFixpoint -- viaDriver).take(3)}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("graft.cc.maxDriverEdges", v)
        case None => spark.conf.unset("graft.cc.maxDriverEdges")
      }
    }
  }

  test("c01 connected components: chain graph, clique merge, and union-find cross-check") {
    import spark.implicits._
    // a 6-node path (forces multiple propagation rounds: diameter 5),
    // a separate triangle, and an isolated edge
    val edges = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L),
      (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L)).toDF("doc_a", "doc_b")
    val got = Clusters.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L to 15L).forall(got(_) == 10L), s"path must collapse to 10: $got")
    assert((20L to 22L).forall(got(_) == 20L))
    assert(got(30L) == 30L && got(31L) == 30L)
    assert(got.size == 11)

    // cross-check the real query against a local union-find on the pairs
    val pairs = Dedup.jaccardPairs(Tables.documents(spark, sf), "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(x => x -> find(x)).toMap
    val c01 = Clusters.queries("c01_dup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c01 == expected, "spark components must equal local union-find")

    // a corpus with no duplicates: empty pair set must converge to an
    // empty labeling, not NPE on the null label-sum
    val none = Clusters.connectedComponents(
      edges.filter(col("doc_a") < 0), "doc_a", "doc_b")
    assert(none.count() == 0)
  }

  test("c11 triangles: K4 gives 3 per node, squares and chains give none") {
    import spark.implicits._
    // K4 on {1..4} (4 triangles, 3 per node), a 4-cycle on {10..13}
    // (no triangles), a chain {20,21,22}; edge direction shuffled to
    // exercise canonicalization, one duplicate + one self-loop ignored
    val edges = Seq((1L, 2L), (3L, 1L), (1L, 4L), (2L, 3L), (4L, 2L), (3L, 4L),
      (10L, 11L), (11L, 12L), (13L, 12L), (10L, 13L),
      (20L, 21L), (21L, 22L),
      (2L, 1L), (5L, 5L)).toDF("doc_a", "doc_b")
    val got = Clusters.triangleCounts(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"K4 expected 3 per node, got $got")
  }

  test("c12 LPA matches a local synchronous simulation on a bridged-triangles graph") {
    import spark.implicits._
    // two triangles {1,2,3} and {7,8,9} joined by the bridge 3-7, plus
    // the isolated edge 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L), (8L, 9L),
      (7L, 9L), (3L, 7L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Clusters.labelPropagation(pairs, "doc_a", "doc_b", Clusters.LpaIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local synchronous replay with the same tie-break
    val adj = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L), (8L, 9L),
        (7L, 9L), (3L, 7L), (20L, 21L))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    var lbl = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to Clusters.LpaIters) {
      lbl = adj.map { case (n, nbrs) =>
        val cnt = nbrs.map(lbl).groupBy(identity).view.mapValues(_.size)
        n -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got == lbl, s"got $got expected $lbl")
    // triangles must resolve to separate communities despite the bridge
    assert(Set(1L, 2L, 3L).map(got).size == 1 && Set(7L, 8L, 9L).map(got).size == 1)
    assert(got(1L) != got(7L), "the single bridge edge must not merge the families")
  }

  test("e17 CDC compaction: latest upsert wins, trailing tombstone erases the key") {
    import spark.implicits._
    val sfDir = sf
    val ev = Tables.events(spark, sfDir)
    val got = Events.queries("e17_cdc_merge")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    // local recomputation: latest (us, event_id) row per user, dropped
    // if it's an error tombstone
    val local = ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .groupBy(_._1).view.mapValues(_.maxBy(t => (t._3, t._2))).toMap
    val expected = local.filter(_._2._4 != "error")
      .map { case (u, t) => u -> (t._2, t._5) }
    assert(got == expected, "compaction must equal local latest-wins")
    // at least one user IS erased by a trailing tombstone, else the
    // delete path is vacuous on this data
    assert(local.size > got.size, "no user ended on a tombstone")
  }

  test("e18 state merge: base-only, overlap, and delta-only groups add exactly") {
    import spark.implicits._
    val ts = (h: Int, m: Int) =>
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val ev = Seq(
      (ts(0, 10), "view", 1.25), (ts(0, 40), "view", 2.50),   // base only
      (ts(1, 5), "click", 3.00),                              // overlap: base half
      (ts(1, 55), "click", 4.75),                             // overlap: delta half
      (ts(2, 30), "buy", 10.00)                               // delta only
    ).toDF("ts", "event_type", "value")
    val cut = ts(1, 30)
    def refreshed(splits: org.apache.spark.sql.DataFrame*) =
      Events.mergeHourlyStates(splits.map(Events.hourlyAggState): _*)
        .collect().map(r =>
          (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
    val two = refreshed(ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut))
    val direct = refreshed(ev)
    assert(two == direct, "refresh must equal full recompute")
    // hand-checked groups: overlap hour sums across both inputs
    val h = 3600L
    val t0 = ts(0, 0).toInstant.getEpochSecond
    assert(two((t0, "view")) == ((2L, 3.75)))
    assert(two((t0 + h, "click")) == ((2L, 7.75)))
    assert(two((t0 + 2 * h, "buy")) == ((1L, 10.0)))
    // three-way split (associativity of the merge) agrees too
    val three = refreshed(ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "buy"))
    assert(three == direct)
  }

  test("q39 auto-salted join: equals plain join; only hot keys salt") {
    import spark.implicits._
    // key 1 is hot (6 rows >= threshold 3), keys 2/3 cold; key 4 has
    // no dim match and must vanish from the inner join
    val fact = ((1 to 6).map(i => (1L, i.toLong)) ++
      Seq((2L, 7L), (3L, 8L), (4L, 9L))).toDF("k", "row")
    val dim = Seq((1L, "a"), (2L, "b"), (3L, "c"), (5L, "e")).toDF("dk", "name")
    val got = Skew.autoSaltedJoin(fact, dim, "k", "dk", salts = 3,
        saltOn = col("row"), hotThreshold = 3L)
      .select("k", "row", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("k", "row", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == plain && plain.size == 8, s"auto-salted join drifted: $got")
    // the harness instance detects real hot keys, else the query is a
    // plain salted join in disguise
    val li = Tables.lineitem(spark, sf)
    val hot = li.groupBy(col("l_orderkey")).count().filter(col("count") >= 8L).count()
    assert(hot > 0, "no hot l_orderkey at this SF; lower the threshold")
  }

  test("e19 resample: gap hours appear and interpolate linearly") {
    import spark.implicits._
    // type a: 2 events at hour 0, 8 at hour 3 -> gap hours 1, 2 must
    // appear with n NULL and interp 4.000, 6.000 (exact milli-units)
    val mk = (h: Int, i: Int) =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:${i % 60}%02d"), "a", 0.0)
    val ev = ((0 until 2).map(mk(0, _)) ++ (0 until 8).map(mk(3, _)))
      .toDF("ts", "event_type", "value")
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      .toInstant.getEpochSecond
    val rows = Events.resampleInterpolate(Events.hourlyCounts(ev))
      .collect().map(r => r.getLong(1) -> (r.get(2), r.getLong(3))).toMap
    assert(rows.size == 4, s"grid must densify to 4 hours: $rows")
    assert(rows(base) == ((2L, 2000L)) && rows(base + 3 * 3600) == ((8L, 8000L)))
    assert(rows(base + 3600) == ((null, 4000L)) &&
      rows(base + 2 * 3600) == ((null, 6000L)), s"linear fill drifted: $rows")
  }

  test("v05 key/FD checks on a crafted frame") {
    import spark.implicits._
    val df = Seq((1L, "a", "x"), (2L, "a", "x"), (3L, "a", "y"),
      (3L, "b", "z"), (4L, "b", "z")).toDF("id", "g", "v")
    def one(out: org.apache.spark.sql.DataFrame) = {
      val r = out.collect().head
      (r.getLong(1), r.getLong(2), r.getBoolean(3))
    }
    // id has one duplicated value (3) among 4 groups
    assert(one(Profile.keyCheck(df, "k", Seq("id"))) == ((4L, 1L, false)))
    // (id, g) identifies rows
    assert(one(Profile.keyCheck(df, "k2", Seq("id", "g"))) == ((5L, 0L, true)))
    // g=a maps to {x, y} -> violated; g=b maps to {z} -> fine
    assert(one(Profile.fdCheck(df, "f", Seq("g"), "v")) == ((2L, 1L, false)))
    // v -> g holds (x->a, y->a, z->b)
    assert(one(Profile.fdCheck(df, "f2", Seq("v"), "g")) == ((3L, 0L, true)))
  }

  test("v04 MAD outliers: hand-computed medians on a known frame") {
    import spark.implicits._
    // stratum a: x = 1,2,3,4,100 -> med 3 (lower), ad = 2,1,0,1,97,
    // mad = 1 (lower median of 0,1,1,2,97), outliers: ad > 3 -> {100}
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 100L),
      ("b", 7L), ("b", 7L)).toDF("source", "n_chars")
    val got = Profile.madOutliers(df, "source", "n_chars")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("a") == ((3L, 1L, 1L, 5L)), s"stratum a: ${got("a")}")
    assert(got("b") == ((7L, 0L, 0L, 2L)), s"stratum b: ${got("b")}")
  }

  test("c10 leak-safe split: clusters are split-atomic, singletons degenerate to s03") {
    val c10 = Clusters.queries("c10_leak_safe_split")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(c10.size == Tables.documents(spark, sf).count(), "one row per doc")
    val comps = Clusters.queries("c01_dup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every cluster member carries the keeper's rep and the SAME split
    comps.groupBy(_._2).foreach { case (keeper, members) =>
      val splits = members.keys.map(c10(_)).toSet
      assert(splits.size == 1, s"cluster $keeper straddles splits: $splits")
      assert(splits.head._1 == keeper, s"cluster $keeper rep mismatch")
    }
    // docs outside any cluster: rep = own id, split = s03's coin
    val s03 = Sampling.queries("s03_split_assign")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    c10.filterNot { case (id, _) => comps.contains(id) }.foreach {
      case (id, (rep, split)) =>
        assert(rep == id && split == s03(id),
          s"unpaired doc $id must match s03: got ($rep, $split)")
    }
  }

  test("c03/c04 minhash-sourced clustering: subset of exact-pair clustering, consistent corpus") {
    // band recall can only DROP edges vs the exact d02 pair set, so every
    // c03 cluster assignment must map each doc to a label ≥ its c01 label
    // (fewer merges → labels can only stay or split upward), and c04 must
    // keep a superset of c02's kept docs
    val c01 = Clusters.queries("c01_dup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c03 = Clusters.queries("c03_clusters_minhash")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c03.keySet.subsetOf(c01.keySet),
      "minhash-paired docs must be a subset of exact-paired docs")
    c03.foreach { case (id, label) =>
      assert(label >= c01(id), s"doc $id: band-sourced label $label below exact ${c01(id)}")
    }
    val c02Kept = Clusters.queries("c02_dedup_corpus")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val c04Kept = Clusters.queries("c04_dedup_minhash")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(c02Kept.subsetOf(c04Kept),
      "dropping edges can only keep MORE docs — c04 must cover c02's keepers")
  }

  test("c02 dedup corpus keeps exactly one doc per cluster plus all unpaired docs") {
    val total = Tables.documents(spark, sf).count()
    val comps = Clusters.queries("c01_dup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nonKeepers = comps.count { case (id, c) => id != c }
    val kept = Clusters.queries("c02_dedup_corpus")(spark, sf).count()
    assert(kept == total - nonKeepers)
    // keepers themselves survive
    val keptIds = Clusters.queries("c02_dedup_corpus")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    comps.foreach { case (id, c) =>
      assert(keptIds.contains(id) == (id == c), s"doc $id cluster $c kept=${keptIds.contains(id)}")
    }
  }

  test("d07 LSH near-dup pairs are a subset of the exact pairs") {
    val exact = Dedup.queries("d05_embedding_neardup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.queries("d07_neardup_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.nonEmpty, "expected planted near-dups to share a bucket")
    assert((lsh -- exact).isEmpty, "bucketing must only REMOVE pairs")
  }

  test("d03 minhash-LSH candidates cover the high-jaccard pairs") {
    val jac = Dedup.queries("d02_ngram_jaccard")(spark, sf).collect()
      .filter(_.getDouble(3) >= 0.9).map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.queries("d03_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = jac -- cand
    assert(missed.isEmpty, s"LSH missed near-dup pairs: $missed")
  }

  test("t07 redaction cascade on crafted PII rows") {
    import spark.implicits._
    val d = Seq(
      (1L, "contact me at a.b+c@ex-ample.org or 12345 extension 678"),
      (2L, "two mails x@y.io z9@q.net and card 1234567890123456"),
      (3L, "clean text no pii at all"),
      (4L, "")).toDF("doc_id", "text")
    val r = TextOps.withRedaction(d, "text")
      .select("doc_id", "redacted", "n_emails", "n_nums")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getString(1) == "contact me at [EMAIL] or [NUM] extension 678")
    assert(r(1L).getLong(2) == 1 && r(1L).getLong(3) == 1)
    assert(r(2L).getString(1) == "two mails [EMAIL] [EMAIL] and card [NUM]")
    assert(r(2L).getLong(2) == 2 && r(2L).getLong(3) == 1)
    assert(r(3L).getString(1) == "clean text no pii at all")
    assert(r(3L).getLong(2) == 0 && r(3L).getLong(3) == 0)
    assert(r(4L).getString(1) == "")
  }

  test("s01/s02 sampling is deterministic, stratified, and bounded") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val s1a = Sampling.queries("s01_sample_rate")(spark, "/root/testdata/sf0.01")
      .collect().map(_.getLong(0)).sorted
    val s1b = Sampling.queries("s01_sample_rate")(spark, "/root/testdata/sf0.01")
      .collect().map(_.getLong(0)).sorted
    assert(s1a.sameElements(s1b), "rate sample must be identical across runs")
    // rough rate sanity: en ~0.5 of ~218 en docs, binomial 5-sigma bounds
    val enTotal = docs.filter(col("lang") === "en").count().toDouble
    val enKept = Sampling.queries("s01_sample_rate")(spark, "/root/testdata/sf0.01")
      .filter(col("lang") === "en").count().toDouble
    assert(math.abs(enKept - 0.5 * enTotal) < 5 * math.sqrt(enTotal * 0.25),
      s"en kept $enKept of $enTotal, expected ~half")
    val s2 = Sampling.queries("s02_sample_fixed")(spark, "/root/testdata/sf0.01")
    val perLang = s2.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.values.forall(_ == 20), s"expected exactly 20 per lang: $perLang")
    // the rank window must compile to WindowGroupLimit (map-side k-prune
    // before the exchange — the scale contract of the operator)
    val plan = s2.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$plan")
  }

  test("s08 exact stratified sample keeps exactly ceil(frac·n) per stratum") {
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.queries("s08_stratified_exact")(spark, d)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      assert(kept(lang) == math.ceil(n * 0.15).toLong,
        s"$lang: kept ${kept(lang)} of $n, expected ceil(0.15·$n)")
    }
    // the kept set is the s02 machinery's hash order: rk is 1..k dense
    val rks = Sampling.queries("s08_stratified_exact")(spark, d)
      .filter(col("lang") === "en").collect().map(_.getLong(2)).sorted
    assert(rks.sameElements(1L to rks.length), "rk must be dense 1..k")
  }

  test("q28 gaps-islands matches a per-user brute-force recomputation") {
    val rows = Relational.queries("q28_gaps_islands")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // brute force: sort each user's events, run-length encode
    val events = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val brute = events.groupBy(_._1).flatMap { case (uid, es) =>
      val sorted = es.sortBy(_._2)
      val islands = scala.collection.mutable.ListBuffer
        .empty[scala.collection.mutable.ListBuffer[(Long, String)]]
      sorted.foreach { case (_, eid, typ) =>
        if (islands.nonEmpty && islands.last.head._2 == typ)
          islands.last += ((eid, typ))
        else islands += scala.collection.mutable.ListBuffer((eid, typ))
      }
      islands.filter(_.size >= 2).map { isl =>
        (uid, isl.head._2, isl.map(_._1).min, isl.map(_._1).max,
          isl.size.toLong)
      }
    }.toSet
    assert(rows == brute,
      s"islands differ: extra=${rows -- brute} missing=${brute -- rows}")
  }

  test("s03 split assignment is total, weight-proportional, and growth-stable") {
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    val assigned = Sampling.queries("s03_split_assign")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(assigned.size == docs.count(), "every doc gets exactly one split")
    val counts = assigned.values.groupBy(identity).view.mapValues(_.size).toMap
    val n = assigned.size.toDouble
    Sampling.DefaultSplits.foreach { case (name, w) =>
      val got = counts.getOrElse(name, 0).toDouble
      assert(math.abs(got - w * n) < 5 * math.sqrt(n * w * (1 - w)),
        s"$name: $got of $n, expected ~${w * n}")
    }
    // growth stability: assignments computed on a SUBSET agree row-for-
    // row with the full corpus — membership is a function of the id only
    val subset = Sampling
      .splitAssign(docs.filter(col("doc_id") % 3 === 0), "doc_id",
        Sampling.DefaultSplits)
      .collect().map(r => r.getLong(0) -> r.getString(r.length - 1)).toMap
    subset.foreach { case (id, s) =>
      assert(assigned(id) == s, s"doc $id migrated from ${assigned(id)} to $s")
    }
  }

  test("d09 contamination hits are exactly the docs sharing a probe shingle") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    // local ground truth from the string-level shingle sets
    def shingleSet(rows: Array[(Long, String)]): Map[Long, Set[String]] =
      rows.map { case (id, text) =>
        val tk = text.split(" ").filter(_.nonEmpty)
        id -> (if (tk.length < 3) Set.empty[String]
               else tk.sliding(3).map(_.mkString(" ")).toSet)
      }.toMap
    val all = docs.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val probe = shingleSet(all.filter(_._3 == "src0").map(t => (t._1, t._2)))
      .values.flatten.toSet
    val corpus = shingleSet(all.filter(_._3 != "src0").map(t => (t._1, t._2)))
    val expected = corpus.map { case (id, sh) => id -> (sh & probe).size }
      .filter(_._2 > 0)
    val got = Dedup.queries("d09_decontaminate")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == expected, "hit counts must equal string-level ground truth")
  }

  test("x05 histogram sketch: shard merge is exact and quantiles bucket-bound the truth") {
    val d = "/root/testdata/sf0.01"
    val li = Tables.lineitem(spark, d)
    val width = 1000.0
    val whole = Sketches.queries("x05_hist_quantiles")(spark, d).collect().head
    // merge invariance: two disjoint shards re-merged read out identically
    val (a, b) = (li.filter(col("l_orderkey") % 2 === 0),
      li.filter(col("l_orderkey") % 2 =!= 0))
    val merged = Sketches.histQuantiles(
      Sketches.histMerge(
        Sketches.histRegisters(a, "l_extendedprice", width),
        Sketches.histRegisters(b, "l_extendedprice", width)),
      width, Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")).collect().head
    assert(merged == whole, "shard-merge read-out must be bit-identical")
    // deterministic error contract: est ≤ true quantile < est + width
    val n = li.count()
    val sortedVals = li.select(col("l_extendedprice").cast("double"))
      .orderBy(col("l_extendedprice")).collect().map(_.getDouble(0))
    Seq(0.5 -> 0, 0.9 -> 1, 0.99 -> 2).foreach { case (q, i) =>
      val truth = sortedVals((math.ceil(n * q) - 1).toInt)
      val est = whole.getDouble(i)
      assert(est <= truth && truth < est + width,
        s"q=$q: est $est must bucket-bound truth $truth")
    }
  }

  test("new operators degrade cleanly on empty inputs") {
    val docs = Tables.documents(spark, sf)
    val none = docs.filter(col("doc_id") < 0)
    // d09: empty probe set → no contamination hits (not an error/NPE)
    assert(Dedup.contaminationHits(docs, "doc_id", "text", none, "text")
      .count() == 0)
    // d10: empty delta → no pairs; empty corpus → no pairs
    assert(Dedup.minhashVerifiedAgainst(docs, none, "doc_id", "text", 0.6)
      .count() == 0)
    assert(Dedup.minhashVerifiedAgainst(none, docs, "doc_id", "text", 0.6)
      .count() == 0)
    // x05: empty registers → one row of NULL quantiles (agg over zero
    // rows), the SQL-natural "no data" read-out
    val empty = Sketches.histQuantiles(
      Sketches.histRegisters(none, "n_chars", 10.0), 10.0,
      Seq(0.5 -> "p50"))
    val row = empty.collect()
    assert(row.length == 1 && row.head.isNullAt(0),
      "empty sketch must read out as NULL, not throw")
    // s03: single split → every doc lands in it
    val one = Sampling.splitAssign(docs, "doc_id", Seq("all" -> 1.0))
    assert(one.filter(col("split") =!= "all").count() == 0)
  }

  test("t16 novelty: unique text scores 10^6, duplicated text scores 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup of 1
      (3L, "zeta eta theta iota kappa")       // fully novel
    ).toDF("doc_id", "text")
    val out = TextOps.shingleNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // docs 1/2 share every shingle (df=2) → zero novelty
    assert(out(1L)._3 == 0L && out(2L)._3 == 0L)
    // doc 3's shingles appear nowhere else → full novelty
    assert(out(3L) == ((3L, 3L, 1000000L)))
  }

  test("a05 curriculum: stages are monotone in n_words, total, and quartile-bounded") {
    val docs = Tables.documents(spark, sf)
    val out = Pack.curriculumStages(docs, "doc_id", "text").cache()
    try {
      assert(out.count() == docs.count(), "assignment must be total")
      val k = Pack.CurriculumStages
      assert(out.filter(col("stage") < 1 || col("stage") > k).count() == 0)
      // value-determined: same n_words → same stage
      assert(out.groupBy("n_words").agg(countDistinct("stage").as("s"))
        .filter(col("s") > 1).count() == 0)
      // monotone: max n_words of stage i ≤ min n_words of stage i+1
      val bounds = out.groupBy("stage")
        .agg(min("n_words").as("lo"), max("n_words").as("hi"))
        .orderBy("stage").collect()
      bounds.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(2) <= b.getLong(1))
        case _ => ()
      }
      // each stage's cumulative count covers at least its quartile cut:
      // stage ≤ q exactly when cum(n_words) ≤ ceil(N·q/k) at the value
      // boundary, so cum count through stage q must reach ⌈N·q/k⌉
      val n = out.count()
      val cums = out.groupBy("stage").count().orderBy("stage")
        .collect().map(_.getLong(1)).scanLeft(0L)(_ + _).tail
      cums.zipWithIndex.foreach { case (c, i) =>
        assert(c >= ((i + 1) * n + k - 1) / k - n / k,
          s"stage ${i + 1} cumulative $c far below its quartile cut")
      }
    } finally out.unpersist()
  }

  test("e20 decayed value: hand-computed shifts on a crafted frame") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    def at(days: Int) = new java.sql.Timestamp(
      base.getTime + days.toLong * 86400000L)
    val ev = Seq(
      (1L, at(0), 10.00), // age 2 days at tmax=day2 → 1000·2^20/4
      (1L, at(2), 2.50),  // newest → 250·2^20
      (2L, at(1), 0.01)   // age 1 day → 1·2^20/2
    ).toDF("user_id", "ts", "value")
    val got = Events.decayedValue(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((1000L * 1048576L / 4 + 250L * 1048576L, 2L)))
    assert(got(2L) == ((1048576L / 2, 1L)))
  }

  test("v09 quarantine: crafted rows trip exactly their rules") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s + " 00:00:00")
    // group mean for '1-URGENT' = 100.00 → 200.00 trips r1 (>1.5×),
    // 10.00 trips r3 (<0.5×); the 'O'+1995 row trips r2 only
    val orders = Seq(
      (1L, "O", 200.00, ts("1997-06-01"), "1-URGENT"),
      (2L, "F", 10.00, ts("1997-06-01"), "1-URGENT"),
      (3L, "F", 90.00, ts("1997-06-01"), "1-URGENT"),
      (4L, "O", 100.00, ts("1995-06-01"), "5-LOW"),
      (5L, "F", 100.00, ts("1997-06-01"), "5-LOW")
    ).toDF("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate",
      "o_orderpriority")
    val got = Profile.quarantineOrders(orders)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (("price_above_1p5x_mean", 1L)),
      2L -> (("urgent_low_value", 1L)),
      4L -> (("stale_open", 1L))))
  }

  test("m07 energy segments: spans are exact runs of loud frames") {
    val segs = Multimodal.energySegments(spark, sf).cache()
    try {
      assert(segs.count() > 0)
      // span arithmetic: every segment covers exactly its frame count
      assert(segs.filter(col("n_frames") =!=
        col("seg_end") - col("seg_start") + 1).count() == 0)
      // maximality: consecutive segments of a doc never touch (a quiet
      // frame separates them, else they'd be one island)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("seg_start"))
      assert(segs.withColumn("prev_end", lag(col("seg_end"), 1).over(w))
        .filter(col("prev_end").isNotNull &&
          col("seg_start") <= col("prev_end") + 1).count() == 0)
    } finally segs.unpersist()
  }

  test("k13 knn classification: votes are bounded and labels come from neighbors") {
    val out = Similarity.knnClassify(Tables.embeddings(spark, sf),
      "vec_id", "embedding", "label", _ < Similarity.NumProbes,
      Similarity.TopK).cache()
    try {
      assert(out.count() == Similarity.NumProbes)
      assert(out.filter(col("n_votes") < 1 ||
        col("n_votes") > Similarity.TopK).count() == 0)
      // correct ⟺ pred == true, row by row
      assert(out.filter(col("correct") =!=
        (col("pred_label") === col("true_label"))).count() == 0)
    } finally out.unpersist()
  }

  test("e21 nearest as-of picks the closer side; equidistant ties go earlier") {
    import spark.implicits._
    val left = Seq((1L, 10L, 1000000L), (2L, 10L, 5000000L))
      .toDF("lid", "user_id", "lts")
    val right = Seq(
      (101L, 10L, 400000L, "early"),  // 600ms before left 1
      (102L, 10L, 1500000L, "late"),  // 500ms after left 1 → closer
      (103L, 10L, 4000000L, "tieA"),  // 1s before left 2 (tie, earlier)
      (104L, 10L, 6000000L, "tieB")   // 1s after left 2
    ).toDF("rid", "user_id", "rts", "tag")
    val got = Joins.asOfNearest(left, right, Seq("user_id"),
        "lid", "lts", "rts", "rid", toleranceMicros = 3600000000L)
      .select("lid", "tag").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(got == Map(1L -> "late", 2L -> "tieA"))
  }

  test("k14 purity: shares are bounded and cluster sizes total the corpus") {
    val e = Tables.embeddings(spark, sf)
    val out = Similarity.queries("k14_cluster_purity")(spark, sf).cache()
    try {
      assert(out.filter(col("purity_q6") <= 0 ||
        col("purity_q6") > 1000000L).count() == 0)
      assert(out.filter(col("n_top") > col("n_vecs")).count() == 0)
      val total = out.agg(sum("n_vecs")).collect().head.getLong(0)
      assert(total == e.count(), "every vector must land in one cluster")
    } finally out.unpersist()
  }

  test("d18 span scrub removes exactly the corpus-duplicated windows") {
    import spark.implicits._
    val boiler = "a b c d e" // 5-gram duplicated across docs 1 and 2
    val docs = Seq(
      (1L, s"$boiler x1 y1 z1 w1"),
      (2L, s"$boiler x2 y2 z2 w2"),
      (3L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val got = Dedup.scrubDupSpans(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // docs 1/2: only the shared window "a b c d e" is duplicated →
    // tokens 1-5 drop, the 4 unique tail tokens stay
    assert(got(1L) == ((9L, 4L)) && got(2L) == ((9L, 4L)))
    // doc 3 shares nothing → untouched
    assert(got(3L) == ((8L, 8L)))
  }

  test("c15 k-core: triangles survive the 2-core, chains peel away") {
    import spark.implicits._
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), // triangle — every node deg 2
      (3L, 4L), (4L, 5L), (5L, 6L)  // pendant chain — peels entirely
    ).toDF("doc_a", "doc_b")
    val got = Clusters.kCore(pairs, "doc_a", "doc_b", k = 2, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("e22 markov transitions: rows normalize and counts match a crafted timeline") {
    import spark.implicits._
    def at(s: Int) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // user 1: a→b→a ; user 2: a→b  ⇒ (a→b): 2, (b→a): 1
    val ev = Seq(
      (1L, 1L, at(1), "a"), (2L, 1L, at(2), "b"), (3L, 1L, at(3), "a"),
      (4L, 2L, at(1), "a"), (5L, 2L, at(2), "b")
    ).toDF("event_id", "user_id", "ts", "event_type")
    val got = Events.markovTransitions(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 1000000L)),   // a only ever goes to b
      ("b", "a") -> ((1L, 1000000L))))
  }

  test("t17 ref coverage: reference docs are excluded and shares are bounded") {
    val out = TextOps.refCoverage(Tables.documents(spark, sf),
      "doc_id", "text", col("source") === "src0").cache()
    try {
      val refIds = Tables.documents(spark, sf)
        .filter(col("source") === "src0").select("doc_id")
      assert(out.join(refIds, Seq("doc_id"), "left_semi").count() == 0)
      assert(out.filter(col("coverage_q6") < 0 ||
        col("coverage_q6") > 1000000L).count() == 0)
      assert(out.filter(col("n_ref_hits") > col("n_shingles")).count() == 0)
    } finally out.unpersist()
  }

  test("v10 referential: clean synthetic FKs pass; crafted orphans are counted") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq((1L, 10L, ts("1996-01-05")), (2L, 99L, ts("1996-01-06")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val customer = Seq(Tuple1(10L)).toDF("c_custkey")
    val lineitem = Seq((1L, ts("1996-01-07")), (1L, ts("1996-01-01")),
      (7L, ts("1996-01-08"))).toDF("l_orderkey", "l_shipdate")
    val got = Profile.referentialChecks(orders, customer, lineitem)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "lineitem.l_orderkey resolves in orders" -> 1L, // l_orderkey=7
      "orders.o_custkey resolves in customer" -> 1L,  // custkey=99
      "lineitem ships on/after order date" -> 1L))    // ships Jan 1 < Jan 5
  }

  test("s13 waterfill: small strata fully funded, the large stratum capped") {
    import spark.implicits._
    // capacities a=10, b=20, c=100 tokens; budget 60 → a,b fully
    // funded (10·3 ≤ 60; 20·2 ≤ 50), c capped at λ = 30 (30% rate)
    val docs = (
      (1 to 2).map(i => (i.toLong, "a", "t1 t2 t3 t4 t5")) ++
      (11 to 14).map(i => (i.toLong, "b", "t1 t2 t3 t4 t5")) ++
      (101 to 120).map(i => (i.toLong, "c", "t1 t2 t3 t4 t5"))
    ).toDF("doc_id", "lang", "text")
    val out = Sampling.waterfillSample(docs, "doc_id", "lang",
      expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long"),
      budget = 60L).cache()
    try {
      assert(out.filter(col("lang") === "a").count() == 2, "a keeps all")
      assert(out.filter(col("lang") === "b").count() == 4, "b keeps all")
      val c = out.filter(col("lang") === "c").count()
      assert(c > 0 && c < 20, s"c must be thinned by the 30% water level, got $c")
    } finally out.unpersist()
  }

  test("q45 running distinct counts priorities cumulatively per customer") {
    import spark.implicits._
    val ts = (s: String) => java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, 7L, ts("1996-01-01"), "P1"),
      (2L, 7L, ts("1996-01-02"), "P1"),
      (3L, 7L, ts("1996-01-03"), "P2"),
      (4L, 8L, ts("1996-01-01"), "P9")
    ).toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val got = orders
      .withColumn("n", size(collect_set(col("o_orderpriority")).over(w)).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("c16 PPR: seedless components score exactly 0; seeds dominate their star") {
    import spark.implicits._
    // component A: seed 1 at the center of a star; component B: a
    // seedless pair — its mass must be identically zero (integer
    // arithmetic, not epsilon-small)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val seeds = Seq(Tuple1(1L)).toDF("doc_id")
    val got = Clusters.personalizedPageRank(pairs, "doc_a", "doc_b",
        seeds, "doc_id", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) == 0L && got(11L) == 0L, s"seedless component leaked mass: $got")
    assert(got(1L) > got(2L) && got(2L) == got(3L) && got(3L) == got(4L),
      s"seed must outrank its symmetric satellites: $got")
    assert(got(2L) > 0L, "satellites one hop from the seed must receive mass")
  }

  test("q46 month-over-month delta: signed basis points on a crafted series") {
    val out = graft.SparkEntry.queries("q46_mom_delta")(spark, sf)
      .orderBy("month_start").collect()
    assert(out.length > 1)
    assert(out.head.isNullAt(2), "first month has no prior to compare")
    // recompute each delta from the revenue column with BigInt math
    out.sliding(2).foreach {
      case Array(a, b) =>
        val (prev, cur) = (a.getLong(1), b.getLong(1))
        val expect =
          if (cur >= prev) (BigInt(cur - prev) * 10000 / BigInt(prev)).toLong
          else -((BigInt(prev - cur) * 10000) / BigInt(prev)).toLong
        assert(b.getLong(2) == expect, s"month ${b.getLong(0)}")
      case _ => ()
    }
  }

  test("q26 salted join equals the plain join row-for-row and spreads hot keys") {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val ord = Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val salted = Skew.saltedJoin(li, ord, "l_orderkey", "o_orderkey",
        salts = 8, saltOn = struct(col("l_linenumber"), col("l_partkey")))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    val plain = li
      .join(ord.withColumnRenamed("o_orderkey", "l_orderkey"), Seq("l_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
    assert(salted == plain, "salting must not change the join result")
    // the salt must actually spread: rows of one multi-line order land
    // on more than one salt value
    val spread = li
      .withColumn("_salt", pmod(xxhash64(
        struct(col("l_linenumber"), col("l_partkey"))), lit(8L)))
      .groupBy(col("l_orderkey"))
      .agg(countDistinct(col("_salt")).as("n_salts"), count(lit(1)).as("n"))
      .filter(col("n") >= 4)
    assert(spread.filter(col("n_salts") > 1).count() > 0,
      "multi-row keys must hash to multiple salts")
  }

  test("d10 incremental dedup = full-corpus verified pairs restricted to cross-set") {
    // band keys are per-doc, so a cross-parity pair bands together in
    // the incremental join iff it does in the whole-corpus d08 run —
    // d10 must equal d08 filtered to (even, odd) pairs, re-oriented
    val d08 = Dedup.queries("d08_minhash_verified")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = d08.collect {
      case (a, b) if a % 2 == 0 && b % 2 == 1 => (a, b)
      case (a, b) if a % 2 == 1 && b % 2 == 0 => (b, a)
    }
    val d10 = Dedup.queries("d10_incremental_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d10 == expected, s"d10 $d10 vs cross-parity d08 $expected")
  }

  test("d17 near-dup decontamination ⊆ d09 n-gram hits, with max_jaccard ≥ threshold") {
    val d = "/root/testdata/sf0.01"
    // a near-duplicate of a benchmark doc (jaccard ≥ 0.6) necessarily
    // shares ≥1 probe n-gram, so d17's flagged ids must be a subset of
    // d09's — and every flagged doc carries a verified score
    val d09 = Dedup.queries("d09_decontaminate")(spark, d)
      .collect().map(_.getLong(0)).toSet
    val d17 = Dedup.queries("d17_decontaminate_neardup")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(d17.nonEmpty, "harness corpus must contain cross-source near-dups")
    assert(d17.map(_._1).toSet.subsetOf(d09),
      "near-dup contamination must imply n-gram contamination")
    d17.foreach { case (id, n, j) =>
      assert(n >= 1 && j >= 0.6 && j <= 1.0, s"doc $id: n=$n j=$j")
    }
  }

  test("k12 hard negatives: every neighbor is cross-label and ranked below k01's same-label hits") {
    val d = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, d)
    val labels = emb.collect()
      .map(r => (r.getLong(0), r.getAs[Number](2).longValue)).toMap
    val rows = Similarity.queries("k12_hard_negatives")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 50) // 10 probes × 5
    rows.foreach { case (p, _, nb, _) =>
      assert(labels(p) != labels(nb), s"probe $p neighbor $nb share a label")
    }
    // a probe's best hard negative can never beat its best unrestricted
    // neighbor from k01 (the unrestricted max dominates)
    val k01best = Similarity.queries("k01_knn_brute")(spark, d)
      .filter(col("rnk") === 1).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    rows.filter(_._2 == 1).foreach { case (p, _, _, cos) =>
      assert(cos <= k01best(p) + 1e-12, s"probe $p hard-neg beats k01 best")
    }
  }

  test("c13 BFS: crafted chain gets exact hop depths, capped at maxDepth") {
    import spark.implicits._
    // chain 1-2-3-4-5-6 plus isolated seed 10; seeds = {1, 10}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val seeds = Seq(1L, 10L).toDF("doc_id")
    val got = Clusters.bfsDepth(pairs, "doc_a", "doc_b", seeds, "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // depth cap 3: node 5 (4 hops) and 6 never appear; isolated seed
    // keeps depth 0
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 10L -> 0L))
  }

  test("a04 shard export: dense per-shard positions, full coverage, decorrelated order") {
    val d = "/root/testdata/sf0.01"
    val rows = Pack.queries("a04_shuffle_shards")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 500 && rows.map(_._1).distinct.length == 500)
    // pos is dense 0..n-1 inside every shard (a loader can stream each
    // shard independently), and every doc landed in a valid shard
    rows.groupBy(_._2).foreach { case (shard, rs) =>
      assert(shard >= 0 && shard < Pack.ShuffleShards)
      assert(rs.map(_._3).sorted.toSeq == (0L until rs.length).toSeq,
        s"shard $shard positions not dense")
    }
    // hash permutation decorrelates from id order: within a shard, the
    // doc ids at consecutive positions must not be globally ascending
    val s0 = rows.filter(_._2 == rows.head._2).sortBy(_._3).map(_._1)
    assert(s0.zip(s0.tail).exists { case (a, b) => a > b },
      "shard order must not follow ingest order")
  }

  test("k11 standardization: per-dim mean ~0, sd ~1, constant dims map to 0") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 5.0f, 7.0f)),
      (2L, Array(3.0f, 5.0f, 9.0f)),
      (3L, Array(5.0f, 5.0f, 14.0f))).toDF("vec_id", "embedding")
    val z = Similarity.standardize(df, "vec_id", "embedding")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // dim 1 is constant → all zeros, no division-by-zero blowup
    assert(Seq(1L, 2L, 3L).forall(v => z((v, 1L)) == 0L))
    // dim 0: mean 3, population sd = sqrt(8/3); z(1) = -2/sd ≈ -1.2247
    assert(math.abs(z((1L, 0L)) + 1224745L) <= 1)
    assert(z((2L, 0L)) == 0L)
    assert(math.abs(z((3L, 0L)) - 1224745L) <= 1)
    // every dim's z-scores sum to ~0 and their squares average to ~1e12
    for (dim <- Seq(0L, 2L)) {
      val zs = Seq(1L, 2L, 3L).map(v => z((v, dim)).toDouble)
      assert(math.abs(zs.sum) < 10, s"dim $dim mean off: $zs")
      assert(math.abs(zs.map(x => x * x).sum / 3 - 1e12) < 1e7,
        s"dim $dim variance off: $zs")
    }
  }

  test("t15 hashed classifier matches the closed-form fold on a crafted doc") {
    import spark.implicits._
    val df = Seq((1L, "a b a"), (2L, "")).toDF("doc_id", "text")
    val rows = TextOps.hashedClassifier(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // empty doc filtered out; "a b a" → distinct token keys for a, b
    assert(rows.keySet == Set(1L))
    val P = Hashing.P
    def key(t: String) = {
      def ph(s: String) = s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % P)
      ph(t) * 1000000009L + ph(t.reverse)
    }
    def w(k: Long) = (((k % TextOps.ClfBuckets) * TextOps.ClfA + TextOps.ClfC) % P)
      .toDouble / P.toDouble * 2.0 - 1.0
    val ks = Seq(key("a"), key("b")).sorted
    val expect = math.round(ks.map(w).foldLeft(0.0)(_ + _) / 2.0 * 1e6)
    assert(rows(1L) == ((2L, expect, expect > 0)))
  }

  test("s04 weighted sampling: deterministic, extreme weights are certain") {
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    val a = Sampling.queries("s04_sample_weighted")(spark, d)
      .collect().map(_.getLong(0)).sorted
    val b = Sampling.queries("s04_sample_weighted")(spark, d)
      .collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b), "weighted sample must be identical across runs")
    // weight 1.0 keeps everything, weight 0.0 keeps nothing
    assert(Sampling.sampleByWeight(docs, "doc_id", "1.0").count() == docs.count())
    assert(Sampling.sampleByWeight(docs, "doc_id", "0.0").count() == 0)
    // kept set ⊆ what a uniformly-higher weight keeps (monotone in weight)
    val low = Sampling.sampleByWeight(docs, "doc_id",
      "least(cast(n_chars as double) / 8000.0, 1.0)")
      .collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(a.toSet), "halving weights must only drop rows")
  }

  test("x06 per-group histogram quantiles bucket-bound each group's truth") {
    val d = "/root/testdata/sf0.01"
    val li = Tables.lineitem(spark, d)
    val width = 1000.0
    val got = Sketches.queries("x06_hist_by_group")(spark, d)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val byGroup = li.select(col("l_returnflag"), col("l_extendedprice").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    byGroup.foreach { case (g, vals) =>
      val (p50, p90) = got(g)
      Seq(0.5 -> p50, 0.9 -> p90).foreach { case (q, est) =>
        val truth = vals((math.ceil(vals.length * q) - 1).toInt)
        assert(est <= truth && truth < est + width,
          s"group $g q=$q: est $est must bucket-bound truth $truth")
      }
    }
  }

  test("b01 bloom semi-join equals plain semi-join and actually prunes") {
    val d = "/root/testdata/sf0.01"
    val fact = Tables.lineitem(spark, d)
    val dim = Tables.orders(spark, d).filter(col("o_totalprice") > 490000.0)
    val bloom = BloomJoin.bloomSemiJoin(fact, dim, "l_orderkey", "o_orderkey")
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val plain = fact.join(
        dim.select(col("o_orderkey").as("l_orderkey")).distinct(),
        Seq("l_orderkey"), "left_semi")
      .select("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(bloom == plain, "bloom prefilter must not change the join result")
    // the prefilter alone must pass only a small superset of members:
    // with ~2% selectivity and a 2% fp rate, well under half survives
    val words = BloomJoin.buildBitmap(dim, "o_orderkey")
    val setBits = words.map(java.lang.Long.bitCount).sum
    assert(setBits > 0 && setBits < BloomJoin.Bits / 2,
      s"bitmap half-full ($setBits/${BloomJoin.Bits}) — fp rate would collapse")
  }

  test("x01 HLL estimate: within 3 standard errors and partition-invariant") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    val exact = li.select("l_partkey").distinct().count().toDouble
    val est = Sketches.hllDistinct(li.select("l_partkey"), "l_partkey")
      .collect().head.getDouble(1)
    // m = 64 → standard error 1.04/sqrt(64) = 13%; allow 3 sigma
    assert(math.abs(est - exact) / exact < 0.39,
      s"est $est vs exact $exact out of tolerance")
    // register max is mergeable: any repartitioning yields the SAME bits
    val est13 = Sketches.hllDistinct(
      li.select("l_partkey").repartition(13), "l_partkey")
      .collect().head.getDouble(1)
    assert(est == est13, "estimate must be partition-invariant bit-for-bit")
  }

  test("x04 HLL at m=256: within 3 standard errors, tighter regime than m=64") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    val exact = li.select("l_partkey").distinct().count().toDouble
    val est = Sketches.hllDistinct(li.select("l_partkey"), "l_partkey", p = 8)
      .collect().head
    assert(est.getLong(0) == 256L, "n_registers must report 2^p")
    // m = 256 → standard error 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert(math.abs(est.getDouble(1) - exact) / exact < 0.195,
      s"p=8 est ${est.getDouble(1)} vs exact $exact out of 3-sigma tolerance")
    // per-p merge stays bit-exact: disjoint shards at p=8 ≡ whole input
    val (a, b) = (li.filter(col("l_partkey") % 2 === 0).select("l_partkey"),
      li.filter(col("l_partkey") % 2 =!= 0).select("l_partkey"))
    val merged = Sketches.hllEstimate(
      Sketches.hllMerge(
        Sketches.hllRegisters(a, "l_partkey", p = 8),
        Sketches.hllRegisters(b, "l_partkey", p = 8)), p = 8)
      .collect().head.getDouble(1)
    assert(merged == est.getDouble(1),
      "p=8 shard-merge must be bit-identical to whole-input")
  }

  test("x07 overlap estimate: union reads like the unioned input, bounds hold") {
    val d = "/root/testdata/sf0.01"
    val li = Tables.lineitem(spark, d)
    val ra = li.filter(col("l_returnflag") === "R").select("l_partkey")
    val ab = li.filter(col("l_returnflag") === "A").select("l_partkey")
    val row = Sketches.queries("x07_hll_overlap")(spark, d).collect().head
    val (estA, estB, estU, estI) =
      (row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3))
    // merged registers must read out bit-identically to sketching the
    // physically unioned input — merge ≡ union is the sketch's contract
    val unionEst = Sketches.hllDistinct(ra.unionByName(ab), "l_partkey")
      .collect().head.getDouble(1)
    assert(estU == unionEst, "register-merge union must equal unioned-input sketch")
    // inclusion-exclusion stays within the summed 3-sigma bounds
    val exactA = ra.distinct().count().toDouble
    val exactB = ab.distinct().count().toDouble
    val exactI = ra.intersect(ab).count().toDouble
    val slack = 0.39 * (exactA + exactB) // 3 sigma at m=64 per operand
    assert(math.abs(estI - exactI) < slack,
      s"est intersect $estI vs exact $exactI beyond slack $slack")
    assert(estA > 0 && estB > 0 && estI <= math.min(estA, estB) + slack)
  }

  test("x01 register merge of disjoint shards equals the whole-input sketch") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01").select("l_partkey")
    val (a, b) = (li.filter(col("l_partkey") % 2 === 0),
      li.filter(col("l_partkey") % 2 =!= 0))
    val merged = Sketches.hllEstimate(
      Sketches.hllMerge(
        Sketches.hllRegisters(a, "l_partkey"),
        Sketches.hllRegisters(b, "l_partkey")))
      .collect().head.getDouble(1)
    val whole = Sketches.hllDistinct(li, "l_partkey").collect().head.getDouble(1)
    assert(merged == whole, "shard-merge must be bit-identical to whole-input")
  }

  test("x02 CMS estimates dominate exact counts and stay within the error bound") {
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    import spark.implicits._
    val exact = docs
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("token"))
      .filter(col("token").isin(TextOps.Stopwords: _*))
      .groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = docs
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("token"))
      .count()
    val est = Sketches.queries("x02_cms_freq")(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == TextOps.Stopwords.toSet)
    TextOps.Stopwords.foreach { w =>
      val ex = exact.getOrElse(w, 0L)
      assert(est(w) >= ex, s"CMS must never underestimate: $w est=${est(w)} exact=$ex")
      // 2N/w Markov bound per row, taken to the min over d rows — allow
      // the full single-row bound as slack
      assert(est(w) - ex <= 2.0 * total / Sketches.CmsWidth + 1,
        s"$w overestimate ${est(w) - ex} beyond bound")
    }
  }

  test("x09 per-group CMS dominates exact per-group counts within each group's bound") {
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    import spark.implicits._
    val exact = docs
      .select(col("lang"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("token"))
      .filter(col("token").isin(TextOps.Stopwords: _*))
      .groupBy("lang", "token").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val totals = docs
      .select(col("lang"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("token"))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = Sketches.queries("x09_cms_by_group")(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(est.keySet.map(_._1) == totals.keySet, "one sketch per group")
    est.foreach { case ((g, w), e) =>
      val ex = exact.getOrElse((g, w), 0L)
      assert(e >= ex, s"($g,$w) est=$e < exact=$ex")
      // collision mass is bounded by the GROUP's stream, not the corpus
      assert(e - ex <= 2.0 * totals(g) / Sketches.CmsWidth + 1,
        s"($g,$w) overestimate ${e - ex} beyond the group bound")
    }
  }

  test("s09 temperature rates flatten toward the tail and realize binomially") {
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d)
    val stats = docs
      .select(col("lang"),
        expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("n"))
      .groupBy("lang").agg(sum("n").as("t"), count(lit(1)).as("nd"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val total = stats.values.map(_._1).sum.toDouble
    val pw = stats.view.mapValues { case (t, _) =>
      math.pow(t / total, 1.0 / Sampling.Temperature) }.toMap
    val sw = pw.values.sum
    val rate = stats.map { case (g, (t, _)) =>
      g -> math.min(1.0, Sampling.TemperatureBudget * (pw(g) / sw) / t) }
    // τ=2 upweights the token-poorest stratum relative to the richest
    val poorest = stats.minBy(_._2._1)._1
    val richest = stats.maxBy(_._2._1)._1
    assert(rate(poorest) > rate(richest),
      s"temperature must favor the tail: $rate")
    val kept = Sampling.queries("s09_temperature_sample")(spark, d)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    stats.foreach { case (g, (_, nd)) =>
      val exp = rate(g) * nd
      val sd = math.sqrt(nd * rate(g) * (1 - rate(g)))
      assert(math.abs(kept.getOrElse(g, 0L) - exp) <= 5 * sd + 1,
        s"$g kept ${kept.getOrElse(g, 0L)}, expected ~$exp (5σ=$sd)")
    }
  }

  test("k07 recall agrees with a direct overlap computation") {
    val exact = Similarity.queries("k01_knn_brute")(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val approx = Similarity.queries("k02_knn_lsh")(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = Similarity.queries("k07_lsh_recall")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(recall.keySet == exact.keySet, "one recall row per probe")
    recall.foreach { case (p, (hits, q6)) =>
      val expected = (exact(p) intersect approx.getOrElse(p, Set.empty)).size
      assert(hits == expected, s"probe $p: $hits vs direct $expected")
      assert(q6 == math.round(expected.toDouble / Similarity.TopK * 1e6))
    }
    // the LSH index on this data is useful but not perfect — recall
    // must sit strictly between 0 and 1 somewhere, else the metric
    // exercise is vacuous
    assert(recall.values.exists(_._1 < Similarity.TopK), "some misses")
    assert(recall.values.exists(_._1 > 0), "some hits")
  }

  test("t18 subword counts dominate word counts and grow with word length") {
    val joined = TextOps.queries("t18_subword_tokens")(spark, sf)
      .join(TextOps.withTokenCounts(Tables.documents(spark, sf), "text")
        .select("doc_id", "n_ws_tokens"), "doc_id")
    // every word costs at least one token, so subword >= whitespace count
    assert(joined.filter(col("n_subword_tokens") < col("n_ws_tokens"))
      .count() == 0)
    // and the corpus-wide total is strictly larger (long words split)
    val (sub, ws) = joined
      .agg(sum("n_subword_tokens"), sum("n_ws_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(sub > ws, s"subword total $sub should exceed word total $ws")
    import spark.implicits._
    // chunking is exact on crafted words: 9 chars = 3 chunks, each
    // costing 1 or 2 depending on the rare gate — bounds [3, 6]
    val one = Seq((1L, "abcdefghi")).toDF("doc_id", "text")
      .select(TextOps.subwordTokens("text")).collect().head.getLong(0)
    assert(one >= 3 && one <= 6)
  }

  test("shared near-dup tables equal a fresh per-query recomputation") {
    val docs = Tables.documents(spark, sf)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
    val fresh = norm(Clusters.connectedComponents(
      Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.6),
      "doc_a", "doc_b"))
    val shared = norm(Clusters.sharedComponents(spark, sf))
    assert(shared.sameElements(fresh),
      "memoized component table must be row-identical to a fresh fixpoint")
    // and the memo returns the same frame on re-access (no recompute)
    assert(Clusters.sharedComponents(spark, sf) eq
      Clusters.sharedComponents(spark, sf))
  }

  test("k15 persisted PQ index: load-then-query equals train-then-query") {
    val e = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_spec")
      .toString
    val (codes, cbs) = Similarity.pqTrainIndex(e, "vec_id", "embedding")
    Similarity.pqWriteIndex(codes, cbs, dir)
    val (lCodes, lCbs) = Similarity.pqLoadIndex(spark, dir)
    // the persisted index is byte-faithful: codes and codebooks read
    // back exactly (ints and doubles both parquet-exact)
    assert(lCodes.count() == codes.count())
    assert(lCbs.count() == cbs.count())
    def served(c: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame) =
      Similarity.pqQueryIndex(e, "vec_id", "embedding", c, b,
          _ < Similarity.NumProbes, Similarity.TopK)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    val fresh = served(codes, cbs)
    val loaded = served(lCodes, lCbs)
    assert(loaded.sameElements(fresh),
      "serving from the loaded index must be row-identical to the trained one")
    // and both equal the one-shot k08 path on the same data
    val oneShot = Similarity.queries("k08_pq_adc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(loaded.sameElements(oneShot),
      "persisted round trip must match the one-shot train+query path")
  }

  test("d19 persisted MinHash index: serve-from-loaded equals in-flow dedup") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
    val delta = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_mh_spec").toString
    Dedup.minhashWriteIndex(corpus, "doc_id", "text", dir)
    val (sigs, bands) = Dedup.minhashLoadIndex(spark, dir)
    // the persisted tables are byte-faithful (longs and strings both
    // parquet-exact): same row counts as a fresh computation
    assert(sigs.count() ==
      Dedup.minhashBandRows(corpus, "doc_id", "text").select("doc_id")
        .distinct().count())
    assert(bands.count() == Dedup.minhashBandRows(corpus, "doc_id", "text").count())
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2))
    val fresh = norm(Dedup.minhashVerifiedAgainst(corpus, delta,
      "doc_id", "text", threshold = 0.6))
    val loaded = norm(Dedup.minhashServeDelta(corpus,
      bands.withColumnRenamed("doc_id", "corpus_id"), delta,
      "doc_id", "text", threshold = 0.6))
    assert(loaded.sameElements(fresh),
      "serving the delta from the loaded band table must be row-identical " +
        "to the in-flow cross-set dedup")
    // and the catalog entry (write+load+serve in one plan) agrees too
    val catalog = norm(Dedup.queries("d19_minhash_persisted")(spark, sf))
    assert(catalog.sameElements(fresh),
      "d19 catalog round trip must match the in-flow d10 path")
  }

  test("k08 PQ+refine: structure, exact scores on survivors, useful recall") {
    val rows = Similarity.queries("k08_pq_adc")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.keySet == (0L until Similarity.NumProbes).toSet)
    byProbe.values.foreach { rs =>
      assert(rs.sortBy(_._2).map(_._2).toSeq == (1L to Similarity.TopK).toSeq)
      assert(rs.forall(r => r._3 != r._1), "no self-neighbor")
    }
    // survivors carry EXACT cosines: each returned score must equal the
    // brute-force cosine for the same (probe, neighbor) pair when brute
    // ranked it (k01 computes a·b/(|a||b|), k08 unit-normalizes first —
    // same value within float wiggle)
    val brute = Similarity.queries("k01_knn_brute")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    rows.foreach { case (p, _, n, s) =>
      brute.get((p, n)).foreach(c =>
        assert(math.abs(c - s) < 1e-9, s"($p,$n): k08 $s vs k01 $c"))
    }
    // the shortlist-then-refine index must be USEFUL on this corpus:
    // most probes' true nearest neighbor survives the ADC shortlist
    // (deterministic pipeline — measured 0.7 top-1 / 0.46 recall@5 at
    // sf0.001; pinned with margin)
    val top1 = rows.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    val bruteTop1 = Similarity.queries("k01_knn_brute")(spark, sf).collect()
      .filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val agree = bruteTop1.count { case (p, n) => top1.get(p).contains(n) }
    assert(agree >= Similarity.NumProbes / 2,
      s"top-1 agreement $agree/${Similarity.NumProbes} below half")
  }

  test("k10 RP sketch+refine: structure, exact scores on survivors, useful recall") {
    val rows = Similarity.queries("k10_rp_knn")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.keySet == (0L until Similarity.NumProbes).toSet)
    byProbe.values.foreach { rs =>
      assert(rs.sortBy(_._2).map(_._2).toSeq == (1L to Similarity.TopK).toSeq)
      assert(rs.forall(r => r._3 != r._1), "no self-neighbor")
    }
    // survivors carry EXACT cosines (same contract as k08)
    val brute = Similarity.queries("k01_knn_brute")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    rows.foreach { case (p, _, n, s) =>
      brute.get((p, n)).foreach(c =>
        assert(math.abs(c - s) < 1e-9, s"($p,$n): k10 $s vs k01 $c"))
    }
    // a 16-dim ±1 sketch preserves cosine order well enough that most
    // probes' true nearest neighbor survives the 50-deep shortlist
    val top1 = rows.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    val bruteTop1 = Similarity.queries("k01_knn_brute")(spark, sf).collect()
      .filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val agree = bruteTop1.count { case (p, n) => top1.get(p).contains(n) }
    assert(agree >= Similarity.NumProbes / 2,
      s"top-1 agreement $agree/${Similarity.NumProbes} below half")
  }

  test("k01 brute-force top-k: ranks 1..5 per probe, ordered by cosine") {
    val rows = Similarity.queries("k01_knn_brute")(spark, sf).collect()
      .groupBy(_.getLong(0))
    assert(rows.keySet == (0L until Similarity.NumProbes).toSet)
    rows.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to Similarity.TopK).toSeq)
      val byRank = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("k02 LSH neighbors are a subset of same-bucket exact scoring") {
    // every (probe, neighbor) the LSH variant returns must appear in the
    // brute-force ranking with cosine no higher than the exact rank-1
    val brute = Similarity.queries("k01_knn_brute")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val lsh = Similarity.queries("k02_knn_lsh")(spark, sf).collect()
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      brute.get(key).foreach(c => assert(math.abs(c - r.getDouble(3)) < 1e-12))
    }
  }

  test("k02 LSH generalizes to non-64-dim embeddings") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val data = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    val vecs = data.toDF("vec_id", "embedding")
    val out = Similarity.knnLsh(vecs, "vec_id", "embedding", _ < 3, k = 2, dims = 8)
      .collect()
    assert(out.nonEmpty, "8-dim LSH returned no candidates")
    val m = data.toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    out.foreach { r =>
      val (p, n) = (r.getLong(0), r.getLong(2))
      assert(r.getLong(1) >= 1L && r.getLong(1) <= 2L)
      assert(p != n)
      val exp = dot(m(p), m(n)) / (math.sqrt(dot(m(p), m(p))) * math.sqrt(dot(m(n), m(n))))
      assert(math.abs(exp - r.getDouble(3)) < 1e-12,
        s"cosine mismatch for ($p, $n): got ${r.getDouble(3)}, want $exp")
    }
  }

  test("k03 IVF search: ranks within cell, no self-matches") {
    val rows = Similarity.queries("k03_ivf_knn")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (probe, rs) =>
      val ranks = rs.map(_.getLong(1)).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq, s"probe $probe ranks: $ranks")
      assert(rs.forall(_.getLong(2) != probe), "neighbor must not be the probe")
      assert(rs.map(_.getInt(3)).distinct.length == 1,
        "all neighbors must come from the probe's chosen cell")
    }
  }

  test("k03 nprobe widens monotonically toward the brute answer") {
    val e = Tables.embeddings(spark, sf)
    def ids(nprobe: Int) =
      Similarity.ivfKnn(e, "vec_id", "embedding", "label",
        _ < Similarity.NumProbes, 3, nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
    val one = ids(1)
    val all = ids(Int.MaxValue) // every cell = exact search
    assert(one.nonEmpty)
    // exact top-3 over all cells must dominate cosine-wise: every rank-1
    // neighbor found with nprobe=1 whose cell was correct stays; the
    // nprobe=max result equals brute-force top-3 restricted semantics
    val brute = Similarity.knnBrute(e, "vec_id", "embedding",
      _ < Similarity.NumProbes, 3).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(all == brute, "nprobe = #cells must equal the exact search")
  }

  test("k04 k-means recovers well-separated crafted clusters") {
    import spark.implicits._
    // 3 orthogonal directions, 20 noisy members each — any sane k-means
    // run must put members of the same direction in the same cluster
    val rnd = new scala.util.Random(11)
    val data = (0L until 60L).map { i =>
      val axis = (i % 3).toInt
      val base = Array.fill(6)(0.05f * (rnd.nextFloat() - 0.5f))
      base(axis * 2) += 1f
      (i, base)
    }
    val out = Similarity.kmeansAssign(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 3, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == 60)
    (0 until 3).foreach { axis =>
      val labels = data.collect { case (i, _) if i % 3 == axis => out(i) }
      assert(labels.distinct.length == 1,
        s"axis $axis split across clusters ${labels.distinct.mkString(",")}")
    }
    assert((0L until 3L).map(out).distinct.length == 3,
      "distinct axes must land in distinct clusters")
  }

  test("k04 assignments are invariant under input repartitioning") {
    val e = Tables.embeddings(spark, sf)
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansAssign(df, "vec_id", "embedding",
        Similarity.KmeansK, Similarity.KmeansIters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(e) == run(e.repartition(7)),
      "quantized k-means must not depend on partitioning")
  }

  test("k05 trained IVF: neighbors come from the probe's trained cell") {
    val e = Tables.embeddings(spark, sf)
    val assign = Similarity.kmeansAssign(e, "vec_id", "embedding",
      Similarity.KmeansK, Similarity.KmeansIters)
    val cellOf = assign.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val rows = Similarity.ivfKnnTrained(e, "vec_id", "embedding", assign,
      _ < Similarity.NumProbes, 3).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (probe, rs) =>
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq)
      rs.foreach { r =>
        assert(r.getLong(2) != probe)
        assert(cellOf(r.getLong(2)) == r.getLong(3),
          "neighbor must belong to the cell it was scored in")
      }
    }
  }

  test("m01 media metadata checksum equals the portable text hash") {
    val meta = Multimodal.queries("m01_media_meta")(spark, sf)
    val joined = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.GraftFunctions.polyHash(col("text")).as("fp"))
      .join(meta, "doc_id")
    assert(joined.filter(col("fp") =!= col("checksum")).count() == 0)
  }

  test("t04 fingerprint matches a locally computed reference value") {
    val row = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") === 0).collect().head
    def poly(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % Hashing.P)
    val fp = TextOps.queries("t04_fingerprint")(spark, sf)
      .filter(col("doc_id") === 0).collect().head.getLong(1)
    assert(fp == poly(row.getString(1)))
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)

  test("e07 funnel semantics on crafted sequences") {
    import spark.implicits._
    val Hour = 3600000000L
    // user 1: click then purchase in-window (converts);
    // user 2: purchase BEFORE click only (no conversion);
    // user 3: click, purchase exactly at click ts (excluded: strictly after);
    // user 4: click, purchase at exactly +1h (included: inclusive bound)
    val df = Seq(
      (1L, 1L, "click", 1000L), (2L, 1L, "purchase", 2000L),
      (3L, 2L, "purchase", 1000L), (4L, 2L, "click", 2000L),
      (5L, 3L, "click", 5000L), (6L, 3L, "purchase", 5000L),
      (7L, 4L, "click", 0L), (8L, 4L, "purchase", Hour))
      .toDF("event_id", "user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("event_id", "user_id", "event_type", "ts")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(1L, Hour)
    val out = df
      .withColumn("next_pur_us",
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_clicks"), count(col("next_pur_us")).as("n_converted"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 1L))
    assert(out(2L) == (1L, 0L), "purchase before click must not convert")
    assert(out(3L) == (1L, 0L), "same-instant purchase excluded (strictly after)")
    assert(out(4L) == (1L, 1L), "purchase at exactly +1h included")
  }

  test("e02 session counts: at least one session per active user") {
    val rows = Events.queries("e02_sessionize")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 1L && r.getLong(1) <= r.getLong(2)))
  }

  test("t08 repetition stats on crafted documents") {
    import spark.implicits._
    // "a b a b a b": bigrams [a b, b a, a b, b a, a b] → n=5, unique=2,
    // modal "a b"×3; one-word and empty docs have no bigrams → NULL fracs
    val docs = Seq((1L, "a b a b a b"), (2L, "x"), (3L, ""),
      (4L, "u v w"), (5L, "r r r r")).toDF("doc_id", "text")
    val out = TextOps.withRepetition(docs, "text")
      .select("doc_id", "n_bigrams", "n_unique_bigrams", "dup_bigram_frac",
        "top_bigram_count", "top_bigram_frac")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 5L && out(1L).getLong(2) == 2L)
    assert(out(1L).getDouble(3) == 0.6 && out(1L).getLong(4) == 3L &&
      out(1L).getDouble(5) == 0.6)
    Seq(2L, 3L).foreach { id =>
      assert(out(id).getLong(1) == 0L && out(id).isNullAt(3) && out(id).isNullAt(5))
    }
    assert(out(4L).getLong(1) == 2L && out(4L).getLong(2) == 2L &&
      out(4L).getDouble(3) == 0.0)
    // "r r r r": bigrams [r r, r r, r r] — one value, run of 3
    assert(out(5L).getLong(4) == 3L && out(5L).getDouble(5) == 1.0)
  }

  test("d12 containment catches an embedded doc that Jaccard misses") {
    import spark.implicits._
    val small = "w1 w2 w3 w4 w5 w6"
    val big = small + " " + (1 to 30).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big),
      (3L, "totally different words here entirely")).toDF("doc_id", "text")
    // every shingle of doc 1 appears in doc 2 → containment(1→2) = 1.0
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(cont.exists { case (src, sup, c) => src == 1L && sup == 2L && c == 1.0 },
      s"embedded doc must contain at 1.0: ${cont.mkString(", ")}")
    assert(!cont.exists(_._1 == 2L), "the big doc is NOT contained in the small one")
    // symmetric Jaccard misses the same pair: 4 shared of 37 union
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.6)
      .collect()
    assert(jac.isEmpty, s"jaccard must miss the embedding: ${jac.mkString(", ")}")
  }

  test("c06 keeps each cluster's longest doc, not its min id") {
    import spark.implicits._
    val base = "join filter window sort merge scan batch stream"
    val docs = Seq(
      (10L, base, 8L),                       // truncated variant, SMALLER id
      (11L, base + " extra", 14L),           // full variant — must win
      (12L, "unrelated text standing alone completely", 5L))
      .toDF("doc_id", "text", "n_chars")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.6)
    assert(pairs.count() == 1, "10 and 11 must pair")
    val kept = Clusters.dedupCorpusBest(docs, "doc_id", "n_chars",
      pairs, "doc_a", "doc_b").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L),
      s"keeper must be the longest (11), singleton passes through: $kept")
    // contrast: identity-keeper c02 would keep min id 10
    val c02kept = Clusters.dedupCorpus(docs, "doc_id", pairs, "doc_a", "doc_b")
      .collect().map(_.getLong(0)).toSet
    assert(c02kept == Set(10L, 12L))
  }

  test("d13 banding finds exactly the brute-force hamming ball") {
    // completeness of the pigeonhole: banding + verify must equal the
    // all-pairs popcount over the same signatures
    val sigs = Dedup.simhash(Tables.documents(spark, sf), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      if java.lang.Long.bitCount(sa ^ sb) <= 1
    } yield (a, b, java.lang.Long.bitCount(sa ^ sb).toLong)).toSet
    val banded = Dedup.queries("d13_simhash_pairs")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute,
      s"missing=${(brute -- banded).take(5)} extra=${(banded -- brute).take(5)}")
  }

  test("a03 sliding chunks cover every token with the declared overlap") {
    import spark.implicits._
    val text40 = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text40), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val rows = Pack.slidingChunks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    // 40 tokens, chunk 24, stride 16 → starts 0 and 16; second reaches the end
    assert(d1.map(_._3).toSeq == Seq(0L, 16L), s"starts: ${d1.toSeq}")
    assert(d1(0)._4 == 24L && d1(1)._4 == 24L)
    assert(d1(0)._5.endsWith("w24") && d1(1)._5.startsWith("w17") &&
      d1(1)._5.endsWith("w40"), "8-token overlap carries context across the seam")
    // short doc → one whole-doc chunk; empty doc absent
    val d2 = rows.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._4 == 3L && d2.head._5 == "a b c")
    assert(!rows.exists(_._1 == 3L))
  }

  test("q32 RFM digits are balanced quartiles within each segment") {
    val rows = Relational.queries("q32_rfm")(spark, sf)
      .collect().map(r => (r.getString(1), r.getString(5)))
    assert(rows.forall(_._2.matches("[1-4]{3}")), "rfm is three quartile digits")
    rows.groupBy(_._1).foreach { case (seg, rs) =>
      (0 until 3).foreach { axis =>
        val sizes = rs.groupBy(_._2.charAt(axis)).view.mapValues(_.size).values
        assert(sizes.max - sizes.min <= 1,
          s"$seg axis $axis quartiles must differ by <= 1: ${sizes.toSeq}")
      }
    }
  }

  test("q29 ntile buckets are balanced and order-monotone per stratum") {
    val rows = Relational.queries("q29_ntile_buckets")(spark, sf)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_._3).view.mapValues(_.size).values
      assert(sizes.max - sizes.min <= 1, s"$lang buckets must differ by <= 1")
      // bucket is monotone in the order key
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._3).sameElements(sorted.map(_._3).sorted),
        s"$lang bucket assignment must follow the n_chars order")
    }
  }

  test("k06 filtered knn returns only eligible neighbors, still k-deep") {
    val eligible = Tables.embeddings(spark, sf)
      .filter(col("label") < 5).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val rows = Similarity.queries("k06_filtered_knn")(spark, sf).collect()
    assert(rows.forall(r => eligible.contains(r.getLong(2))),
      "every neighbor must satisfy the metadata predicate")
    val perProbe = rows.groupBy(_.getLong(0))
    assert(perProbe.keySet == (0L until Similarity.NumProbes).toSet)
    perProbe.values.foreach(rs =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to Similarity.TopK),
        "pre-filtering must still fill all k ranks"))
    // contrast with unfiltered k01: at least one probe's neighbor set
    // changes (the predicate is selective, so this must bind)
    val k01 = Similarity.queries("k01_knn_brute")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(rows.exists(r => !k01.contains((r.getLong(0), r.getLong(2)))),
      "the filter must actually change some neighbor lists")
  }

  test("t12 collapses stutter runs, keeps first occurrences, idempotent") {
    import spark.implicits._
    val docs = Seq((1L, "the the the cat cat sat"), (2L, "a b a b"),
      (3L, "")).toDF("doc_id", "text")
    val out = TextOps.withDedupAdjacent(docs, "text")
      .select("doc_id", "cleaned", "n_removed")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "the cat sat" && out(1L).getLong(2) == 3L)
    // non-adjacent repeats survive (this is stutter removal, not distinct)
    assert(out(2L).getString(1) == "a b a b" && out(2L).getLong(2) == 0L)
    assert(out(3L).getString(1) == "" && out(3L).getLong(2) == 0L)
    // idempotence: a second pass removes nothing
    val once = TextOps.withDedupAdjacent(docs, "text")
      .select(col("doc_id"), col("cleaned").as("text"))
    val again = TextOps.withDedupAdjacent(once, "text")
      .select("n_removed").collect().map(_.getLong(0))
    assert(again.forall(_ == 0L), "second pass must be a no-op")
  }

  test("q30 full outer surfaces both exclusive sides on the sf0.01 data") {
    val rows = Relational.queries("q30_full_outer")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(rows.exists(r => r._1 == 0L && r._2 > 0L), "1997-only customers exist")
    assert(rows.exists(r => r._1 > 0L && r._2 == 0L), "1996-only customers exist")
    assert(rows.exists(r => r._1 > 0L && r._2 > 0L), "both-year customers exist")
  }

  test("m05 frame dedup partitions the frame table exactly") {
    val frames = Multimodal.mediaFrames(spark, sf)
    val total = frames.count()
    val rows = Multimodal.queries("m05_frame_dedup")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == total,
      "copy counts must partition the frame table")
    // every keeper is a real (doc, frame) coordinate of its hash
    val byCoord = frames.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    rows.foreach { r =>
      assert(byCoord((r.getLong(2), r.getLong(3))) == r.getLong(0),
        s"keeper (${r.getLong(2)},${r.getLong(3)}) must carry hash ${r.getLong(0)}")
    }
  }

  test("e11 trending top-k is bounded, ranked, and map-side pruned") {
    val q = Events.queries("e11_trending_topk")(spark, sf)
    val rows = q.collect().groupBy(_.getLong(0))
    rows.foreach { case (_, rs) =>
      assert(rs.length <= 3)
      val ordered = rs.sortBy(_.getLong(3))
      assert(ordered.map(_.getDouble(2)).sameElements(
        ordered.map(_.getDouble(2)).sorted(Ordering[Double].reverse)),
        "rank must follow total_value DESC")
    }
    assert(q.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "constant-k rank must prune map-side")
  }

  test("e14 z-scores reconcile with a direct trailing-window computation") {
    val hourly = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    val expected = hourly.groupBy(_._1).flatMap { case (typ, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.indices.flatMap { i =>
        val trail = sorted.slice(math.max(0, i - 24), i).map(_._3.toDouble)
        if (trail.length < 2) None
        else {
          val mu = trail.sum / trail.length
          val sd = math.sqrt(
            trail.map(x => (x - mu) * (x - mu)).sum / (trail.length - 1))
          if (sd <= 0) None
          else Some((sorted(i)._2, typ) ->
            math.round((sorted(i)._3 - mu) / sd * 1e3))
        }
      }
    }.toMap
    val got = Events.queries("e14_hourly_anomaly")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(got.keySet == expected.keySet,
      s"scored-hour sets differ by ${(got.keySet diff expected.keySet).take(3)}")
    // direct two-pass variance vs the engine's streaming moments can
    // differ in the last quantized digit — allow 1 milli-unit
    got.foreach { case (k, z) =>
      assert(math.abs(z - expected(k)) <= 1, s"$k: $z vs ${expected(k)}")
    }
  }

  test("e12 forward as-of picks each error's earliest eligible purchase") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value")).collect()
    val errs = ev.filter(_.getString(2) == "error")
    val purs = ev.filter(_.getString(2) == "purchase")
    val expected = errs.flatMap { e =>
      val cands = purs.filter(p => p.getLong(1) == e.getLong(1) &&
        p.getLong(3) >= e.getLong(3) && p.getLong(3) < e.getLong(3) + 3600000000L)
      if (cands.isEmpty) None
      else {
        val best = cands.minBy(p => (p.getLong(3), p.getLong(0)))
        Some((e.getLong(0), best.getLong(0)))
      }
    }.toSet
    val got = Events.queries("e12_asof_forward")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("s10 weighted reservoir equals the direct priority-key computation") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val P = Hashing.P
    val A = Hashing.MinHashA(0)
    val B = Hashing.MinHashB(0)
    // the integer priority key ⌊(h+1)·S/w⌋ — k smallest win (≡ k largest
    // priorities w/u, Duffield–Lund–Thorup), pure int64 on every engine
    def hv(id: Long) = (((id % P + P) % P) * A + B) % P
    val expected = docs.filter(_._2 > 0)
      .map { case (id, w) => (id, (hv(id) + 1) * 1000000L / w) }
      .sortBy { case (id, k) => (k, id) }.take(20).map(_._1).toSet
    val got = Sampling.queries("s10_weighted_reservoir")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(got == expected, s"diff=${(expected diff got) ++ (got diff expected)}")
  }

  test("d15 signature estimate tracks d08's exact jaccard within estimator noise") {
    val exact = Dedup.queries("d08_minhash_verified")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val est = Dedup.queries("d15_minhash_estimate")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // every exact near-dup pair (J >= 0.6) must surface in the estimate
    // list at threshold 0.5 unless the estimator undershot by > 0.1 —
    // allow a small miss count, but the bulk must agree closely
    val common = exact.keySet intersect est.keySet
    assert(common.size >= exact.size * 0.8,
      s"estimate missed too many exact pairs: ${exact.size - common.size}")
    // per-pair: |est − J| within 4 J-DEPENDENT standard errors
    // (se = √(J(1−J)/16)) plus the half-component quantization step —
    // a degenerate estimator (est pinned at any constant) fails this,
    // since pairs with exact J = 1 have se = 0 and demand est = 1
    common.foreach { k =>
      val j = exact(k)
      val bound = 4 * math.sqrt(j * (1 - j) / 16.0) + 1.0 / 32 + 1e-9
      assert(math.abs(j - est(k)) <= bound,
        s"pair $k: est ${est(k)} vs exact $j beyond $bound")
    }
    // the J-dependent bound has teeth: the harness near-dups sit at
    // J >= 0.9 where it is ~0.28, so an estimator pinned at the 0.5
    // threshold could not pass (|0.9 - 0.5| = 0.4); the J = 1 case is
    // covered by the crafted twins below
    // identical docs agree on every component
    import spark.implicits._
    val twins = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val t = Dedup.minhashEstimatedPairs(twins, "doc_id", "text", 0.5).collect()
    assert(t.length == 1 && t.head.getDouble(3) == 1.0)
  }

  test("c07 dup rates reconcile with the c01 cluster membership") {
    val dupIds = Clusters.queries("c01_dup_clusters")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val bySource = Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val rows = Clusters.queries("c07_dup_rate")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    bySource.groupBy(_._2).foreach { case (src, docs) =>
      val (n, dups, q6) = rows(src)
      assert(n == docs.length)
      val expected = docs.count(d => dupIds.contains(d._1))
      assert(dups == expected, s"$src: $dups vs direct $expected")
      assert(q6 == math.round(expected.toDouble / docs.length * 1e6))
    }
  }

  test("d14 canonicalizes case/spacing variants that d01 keeps apart") {
    import spark.implicits._
    val docs = Seq((1L, "The  Fast   Query"), (2L, "the fast query"),
      (3L, " THE FAST QUERY "), (4L, "a different doc")).toDF("doc_id", "text")
    val d14 = Dedup.exactDedupNormalized(docs, "doc_id", "text").collect()
    assert(d14.length == 2, "three variants + one distinct = two signatures")
    val dupRow = d14.find(_.getLong(2) == 3L).get
    assert(dupRow.getLong(1) == 1L, "keeper is the min id of the variant group")
    assert(Dedup.exactDedup(docs, "doc_id", "text").count() == 4,
      "raw exact dedup must keep all four apart")
  }

  test("q31 SCD-2 intervals tile each entity's timeline with one current row") {
    val rows = Relational.queries("q31_scd2_intervals")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    rows.groupBy(_._1).foreach { case (uid, rs) =>
      assert(rs.count(_._4) == 1, s"user $uid must have exactly one current row")
      val sorted = rs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3.contains(b._2),
            s"user $uid: valid_to of one version must equal the next's valid_from")
        case _ =>
      }
      assert(sorted.last._3.isEmpty, "the last version is open-ended")
    }
  }

  test("v02 rules count violations exactly on crafted dirty data") {
    import spark.implicits._
    val dirty = Seq((1L, 5L), (1L, -2L), (2L, 3L),
      (3L, -1L)).toDF("id", "v")
    val parent = Seq(1L, 2L).toDF("pk")
    val report = Profile.checkConstraints(Seq(
        Profile.uniqueRule("id unique", dirty, "id"),
        Profile.rule("v >= 0", dirty, col("v") >= 0),
        Profile.refRule("id -> parent", dirty, "id", parent, "pk")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(report("id unique") == (1L, false), "one duplicated id")
    assert(report("v >= 0") == (2L, false), "two negative values")
    assert(report("id -> parent") == (1L, false), "id 3 is an orphan")
    // the harness star schema itself is clean
    val harness = Profile.queries("v02_constraints")(spark, sf).collect()
    assert(harness.forall(_.getBoolean(2)),
      s"harness data must satisfy every rule: ${harness.mkString(", ")}")
  }

  test("p03 curation pipeline equals the composition of its stage queries") {
    val kept = Clusters.queries("c02_dedup_corpus")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val good = TextOps.queries("t09_gopher_filter")(spark, sf)
      .collect().filter(r => !r.isNullAt(4) && r.getBoolean(4))
      .map(_.getLong(0)).toSet
    val splits = Sampling.queries("s03_split_assign")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = (kept intersect good).map(id => id -> splits(id)).toMap
    val p03 = graft.SparkEntry.queries("p03_curation_pipeline")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(p03 == expected,
      s"missing=${(expected.keySet -- p03.keySet).take(5)} " +
        s"extra=${(p03.keySet -- expected.keySet).take(5)}")
  }

  test("null text degrades to NULL features or absent rows, never a throw") {
    // malformed JSONL ingestion produces null-text rows
    // (CorpusSourcesSpec), so every text operator must tolerate them
    import spark.implicits._
    val docs = Seq((1L, "some real text here", "en", "src0", 19L),
      (2L, null.asInstanceOf[String], "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // enrichers: the null row survives with NULL features
    val q = TextOps.withQuality(docs, "text").collect()
    assert(q.length == 2 && q.exists(r => r.getLong(0) == 2L && r.isNullAt(5)))
    val e = TextOps.withEntropy(docs, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(e(2L).isNullAt(e(2L).fieldIndex("entropy_q6")))
    // generators/pair ops: the null row simply contributes nothing
    assert(Pack.slidingChunks(docs, "doc_id", "text")
      .collect().forall(_.getLong(0) == 1L))
    assert(Dedup.simhashPairs(docs, "doc_id", "text").collect().isEmpty)
    assert(Dedup.jaccardPairs(docs, "doc_id", "text", 0.5).collect().isEmpty)
    assert(TextOps.unigramLogProb(docs, "doc_id", "text")
      .collect().forall(_.getLong(0) == 1L))
    assert(TextOps.gopherFilter(docs, "doc_id", "text", "lang").count() == 2)
  }

  test("t11 entropy on crafted documents matches the closed forms") {
    import spark.implicits._
    val docs = Seq((1L, "a a a a"), (2L, "p q r s"), (3L, ""),
      (4L, "x x y y")).toDF("doc_id", "text")
    val out = TextOps.withEntropy(docs, "text")
      .select("doc_id", "n_words", "entropy_q6")
      .collect().map(r => r.getLong(0) -> r).toMap
    // one repeated word → entropy 0
    assert(out(1L).getLong(1) == 4L && out(1L).getLong(2) == 0L)
    // all distinct → ln(4)
    assert(out(2L).getLong(2) == math.round(math.log(4.0) * 1e6))
    // empty → no distribution
    assert(out(3L).getLong(1) == 0L && out(3L).isNullAt(2))
    // two values, 2/2 split → ln(2)
    assert(out(4L).getLong(2) == math.round(math.log(2.0) * 1e6))
  }

  test("t10 unigram score ranks in-vocab text above OOV gibberish") {
    import spark.implicits._
    // vocabSize=2 truncates to {a, b}; doc 3 is pure OOV
    val docs = Seq((1L, "a a b a b a"), (2L, "a b z"),
      (3L, "q r s t")).toDF("doc_id", "text")
    val out = TextOps.unigramLogProb(docs, "doc_id", "text", vocabSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .map(t => t._1 -> t).toMap
    assert(out(1L)._2 == 6L, "n_tokens counts every occurrence")
    assert(out(1L)._3 > out(2L)._3 && out(2L)._3 > out(3L)._3,
      s"score must fall with OOV mass: $out")
    // closed form for doc 3: every token OOV → ln(1/(13+2+1)) each
    assert(out(3L)._3 == math.round(math.log(1.0 / 16.0) * 1e6))
  }

  test("t13 bigram score separates coherent text from same-unigram word salad") {
    import spark.implicits._
    // corpus bigram counts: "a b"=3, "b a"=3, rest 1 each → top-2 model
    // keeps exactly {a b, b a}; unigrams a=6, b=5 → top-2 vocab {a, b}
    val docs = Seq((1L, "a b a b a b"), (2L, "b b a a"), (3L, "a z"),
      (4L, "solo")).toDF("doc_id", "text")
    val out = TextOps.bigramLogProb(docs, "doc_id", "text",
        vocabSize = 2, bigramTop = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 1-token doc has no bigrams → absent, not zero-scored
    assert(!out.contains(4L))
    assert(out(1L)._1 == 5L, "n_bigrams counts every adjacent pair")
    // doc 2 reuses doc 1's unigrams but its bigrams are mostly unseen
    assert(out(1L)._2 > out(2L)._2,
      s"word salad must score below coherent text: $out")
    // closed form, doc 3: single OOV bigram, conditioned on a (c1=6):
    // ln((0+1)/(6+2+1))
    assert(out(3L)._2 == math.round(math.log(1.0 / 9.0) * 1e6))
    // closed form, doc 1: ab×3 at ln(4/9), ba×2 at ln(4/8)
    assert(out(1L)._2 == math.round(
      (3 * math.log(4.0 / 9.0) + 2 * math.log(4.0 / 8.0)) / 5.0 * 1e6))
  }

  test("a01 global packing equals a sequential scan and is partition-invariant") {
    import spark.implicits._
    val cap = 10L
    val weights = Seq(3L, 9L, 4L, 10L, 25L, 1L, 0L, 7L, 2L, 6L)
    val docs = weights.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "n_chars")
    // sequential reference: exclusive prefix sum in id order
    val expected = weights.scanLeft(0L)(_ + _).dropRight(1).zipWithIndex
      .map { case (start, i) => (i.toLong, start / cap, start % cap) }.toSet
    for (parts <- Seq(1, 3, 8)) {
      val got = Pack.packChunks(docs.repartition(parts), "doc_id", "n_chars", cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"parts=$parts")
    }
  }

  test("a01/a02 packing invariants on the corpus") {
    val a01 = Pack.queries("a01_pack_chunks")(spark, sf).collect()
    // chunk ids are dense from 0; offsets bounded by capacity
    val maxChunk = a01.map(_.getLong(1)).max
    assert(a01.map(_.getLong(1)).toSet == (0L to maxChunk).toSet,
      "global chunk ids must be dense")
    a01.foreach(r => assert(r.getLong(2) >= 0 && r.getLong(2) < Pack.DefaultCapacity))
    // a02: within each source the packing matches a per-source sequential scan
    val docs = Tables.documents(spark, sf)
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.map(_._3).scanLeft(0L)(_ + _).dropRight(1).zip(sorted).map {
        case (start, (_, id, _)) =>
          (src, id, start / Pack.DefaultCapacity, start % Pack.DefaultCapacity)
      }.toSeq
    }.toSet
    val got = Pack.queries("a02_pack_by_source")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
  }

  test("r01 bm25 ranks higher-tf docs first on a crafted corpus") {
    import spark.implicits._
    // same length docs: doc 1 saturated with query terms, doc 2 one hit,
    // doc 3 none (absent from results); doc 4 longer with one hit —
    // length normalization must rank it below doc 2
    val docs = Seq(
      (1L, "spark query fast spark query fast"),
      (2L, "spark pad pad pad pad pad"),
      (3L, "pad pad pad pad pad pad"),
      (4L, "spark pad pad pad pad pad pad pad pad pad pad pad"))
      .toDF("doc_id", "text")
    val rows = Search.bm25TopK(docs, "doc_id", "text").collect()
    val ids = rows.map(_.getLong(0))
    assert(ids.head == 1L, s"saturated doc must rank first, got ${ids.toSeq}")
    assert(!ids.contains(3L), "doc without query terms must not appear")
    val score = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(score(2L) > score(4L), "longer doc with same tf must score lower")
    val scores = rows.map(_.getLong(1))
    assert(scores.sameElements(scores.sorted(Ordering[Long].reverse)))
  }

  test("r03 tf-idf cosine length-normalizes and rewards query-term purity") {
    import spark.implicits._
    // doc 1 is PURE query terms (cosine 1 up to idf weighting); doc 2
    // has the same query tf diluted by off-query mass — cosine must
    // rank 1 above 2 (raw dot product alone would tie them); doc 3 has
    // no query terms (absent)
    val docs = Seq(
      (1L, "spark query fast"),
      (2L, "spark query fast pad pad pad pad pad pad"),
      (3L, "pad pad pad pad"),
      (4L, "spark spark spark query query fast"))
      .toDF("doc_id", "text")
    val rows = Search.tfidfCosineTopK(docs, "doc_id", "text").collect()
    val score = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!score.contains(3L), "doc without query terms must not appear")
    assert(score(1L) > score(2L),
      s"dilution must lower cosine: $score")
    val scores = rows.map(_.getLong(1))
    assert(scores.sameElements(scores.sorted(Ordering[Long].reverse)))
  }

  test("x08 bottom-k: exact under capacity, 3-sigma above it, merge-invariant") {
    import spark.implicits._
    // under capacity the sketch IS the distinct set → exact count
    val tiny = (1 to 50).map(i => s"v$i").toDF("v")
    val exact = Sketches.bottomKEstimate(Sketches.bottomKSketch(tiny, "v")).head()
    assert(exact.getLong(1) == 50L && exact.getDouble(2) == 50.0)
    // above capacity: estimate within 3 standard errors of the truth
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    val truth = li.select("l_partkey").distinct().count().toDouble
    val est = Sketches.bottomKEstimate(
      Sketches.bottomKSketch(li.select(col("l_partkey")), "l_partkey"))
      .head().getDouble(2)
    val se = truth / math.sqrt(Sketches.BottomK - 2)
    assert(math.abs(est - truth) <= 3 * se,
      s"est=$est truth=$truth beyond 3se=${3 * se}")
    // sketch(shards merged) == sketch(whole), bit-identical artifact
    val parts = Seq(
      li.filter(col("l_orderkey") % 3 === 0),
      li.filter(col("l_orderkey") % 3 === 1),
      li.filter(col("l_orderkey") % 3 === 2))
      .map(p => Sketches.bottomKSketch(p.select(col("l_partkey")), "l_partkey"))
    val merged = Sketches.bottomKMerge(Sketches.BottomK, parts: _*)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val whole = Sketches.bottomKSketch(li.select(col("l_partkey")), "l_partkey")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(merged == whole)
  }

  test("r02 phrase match counts exact adjacencies only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "fast query fast query"),   // two occurrences
      (2L, "fast slow query"),         // words present, not adjacent
      (3L, "query fast"),              // reversed order only
      (4L, "a fast query b"))          // one occurrence
      .toDF("doc_id", "text")
    val out = Search.phraseMatch(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 4L -> 1L))
  }

  test("s06 two-pass token budget equals the s05 window spec at any budget") {
    val docs = Tables.documents(spark, sf)
    val tokens = expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long")
    def kept(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // budgets straddling every regime: trims inside the top bucket,
    // mid-corpus, barely trims, and keeps everything
    for (budget <- Seq(50L, 300L, 2500L, 1000000L)) {
      val base = kept(Sampling.tokenBudget(docs, "doc_id", "lang",
        tokens, "n_chars", budget))
      val twoPass = kept(Sampling.tokenBudgetTwoPass(docs, "doc_id", "lang",
        tokens, "n_chars", budget))
      assert(twoPass == base, s"budget $budget: two-pass diverged from window spec")
      // and the decomposition is partitioning-invariant
      val repart = kept(Sampling.tokenBudgetTwoPass(docs.repartition(7),
        "doc_id", "lang", tokens, "n_chars", budget))
      assert(repart == base, s"budget $budget: repartition changed the kept set")
    }
    // budget 0 keeps nothing on either path
    assert(Sampling.tokenBudget(docs, "doc_id", "lang", tokens, "n_chars", 0L)
      .count() == 0L)
    assert(Sampling.tokenBudgetTwoPass(docs, "doc_id", "lang", tokens, "n_chars", 0L)
      .count() == 0L)
  }

  test("d11 exact-duplicate docs have dup_frac 1.0; fractions stay in [0,1]") {
    val stats = Dedup.queries("d11_dup_ngram_spans")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    stats.values.foreach { case (n, dup, frac) =>
      assert(dup >= 0 && dup <= n && frac >= 0.0 && frac <= 1.0)
    }
    // crafted corpus pins the span semantics exactly: twins share ALL
    // grams, a unique doc shares none, a doc embedding one twin 5-gram
    // shares exactly that position
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g"),                  // exact twin of 2
      (2L, "a b c d e f g"),
      (3L, "h i j k l m n o"),                // unique
      (4L, "p q r s t a b c d e u v w"))      // embeds twins' "a b c d e"
      .toDF("doc_id", "text")
    val crafted = Dedup.dupNgramStats(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(crafted(1L) == ((3L, 3L, 1.0)) && crafted(2L) == ((3L, 3L, 1.0)))
    assert(crafted(3L) == ((4L, 0L, 0.0)))
    assert(crafted(4L) == ((9L, 1L, 1.0 / 9.0)))
  }

  test("t09 gopher rules fire individually on crafted documents") {
    import spark.implicits._
    val docs = Seq(
      // 20 words, normal lengths, has stopwords → keep
      (1L, ("the quick brown fox jumps over the lazy dog and " * 2).trim, "en"),
      (2L, "too short a doc", "en"),                       // < 15 words
      (3L, Seq.fill(20)("pneumonoultramicroscopics").mkString(" "), "en"), // mean_wl > 12
      (4L, Seq.fill(20)("wort").mkString(" "), "en"),      // no stopwords, en → drop
      (5L, Seq.fill(20)("wort").mkString(" "), "de"))      // no stopwords, non-en → keep
      .toDF("doc_id", "text", "lang")
    val out = TextOps.gopherFilter(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false, 5L -> true))
  }

  test("s07 mixture sampling: kept sets grow monotonically with the budget") {
    val docs = Tables.documents(spark, sf)
    val tokens = expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long")
    def kept(budget: Long): Set[Long] =
      Sampling.mixtureSample(docs, "doc_id", "lang", tokens,
        Sampling.MixtureWeights, budget)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val sets = Seq(1000L, 6000L, 100000L, 100000000L).map(kept)
    sets.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo.subsetOf(hi), "raising the budget must only add documents")
    }
    // a budget covering every stratum at weight-min keeps the whole corpus
    assert(sets.last.size == docs.count().toInt)
    // a stratum with no weight disappears entirely
    val noEn = Sampling.mixtureSample(docs, "doc_id", "lang", tokens,
      Sampling.MixtureWeights - "en", 100000000L)
    assert(noEn.filter(col("lang") === "en").count() == 0)
    assert(noEn.filter(col("lang") =!= "en").count() > 0)
  }

  test("q27 grouping sets equal the union of its constituent group-bys") {
    val out = Relational.queries("q27_grouping_sets")(spark, sf).collect()
    val li = Tables.lineitem(spark, sf)
    val byBoth = li.groupBy("l_returnflag", "l_linestatus").count().count()
    val byStatus = li.select("l_linestatus").distinct().count()
    assert(out.length == byBoth + byStatus + 1)
    // the grand-total row aggregates everything
    val grand = out.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1 && grand.head.getLong(3) == li.count())
  }

  test("c05 semantic dedup flags exactly the dominated ends of in-cluster pairs") {
    val out = Clusters.queries("c05_semantic_dedup")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val emb = Tables.embeddings(spark, sf)
    assert(out.size == emb.count().toInt, "one row per vector")
    // independent reference: brute-force pairs at the same tau,
    // restricted to pairs whose ends share a c05 cluster
    val pairs = Dedup.cosineNearDup(emb, "vec_id", "embedding",
      Clusters.SemDedupTau)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectDup = pairs.collect {
      case (a, b) if out(a)._1 == out(b)._1 => math.max(a, b)
    }.toSet
    val flagged = out.collect { case (id, (_, true)) => id }.toSet
    assert(flagged == expectDup,
      s"flag set diverged: extra=${flagged -- expectDup} missing=${expectDup -- flagged}")
    assert(flagged.nonEmpty, "testdata should contain semantic near-dups")
  }

  test("d16 line dedup keeps exactly one copy of every distinct segment") {
    val out = Dedup.lineDedup(Tables.documents(spark, sf), "doc_id", "text")
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    out.values.foreach { case (nSegs, nKept, text) =>
      assert(nKept <= nSegs)
      // reassembled text word count ≡ kept segments' words (no seg > 8w)
      val words = text.split(" ").count(_.nonEmpty)
      assert(words <= nKept * Dedup.LineWords)
    }
    // corpus-wide: total kept == number of distinct segments
    val segs = Tables.documents(spark, sf)
      .select(explode(expr(
        s"transform(sequence(0, (size(filter(split(text, ' '), x -> x <> '')) - 1) div ${Dedup.LineWords}), " +
        s"i -> array_join(slice(filter(split(text, ' '), x -> x <> ''), i * ${Dedup.LineWords} + 1, ${Dedup.LineWords}), ' '))"))
        .as("seg"))
      .distinct().count()
    assert(out.values.map(_._2).sum == segs,
      "sum(n_kept) must equal the corpus-wide distinct segment count")
  }

  test("d16 drops a repeated line from every doc but the first") {
    import spark.implicits._
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8" // exactly one 8-word segment
    val docs = Seq(
      (1L, s"$boiler u1 u2 u3 u4 u5 u6 u7 u8"),
      (2L, s"$boiler v1 v2 v3 v4 v5 v6 v7 v8"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(out(1L) == s"$boiler u1 u2 u3 u4 u5 u6 u7 u8")
    assert(out(2L) == "v1 v2 v3 v4 v5 v6 v7 v8", "doc 2 must lose the boilerplate")
    assert(out(3L) == "w1 w2 w3 w4 w5 w6 w7 w8")
  }

  test("m06 scene ids are 1-based, nondecreasing, and count the cuts") {
    val rows = Multimodal.queries("m06_scene_change")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (_, fs) =>
      val sorted = fs.sortBy(_._2)
      assert(sorted.head._3.isEmpty, "first frame has no predecessor")
      assert(sorted.head._4 && sorted.head._5 == 1L, "first frame opens scene 1")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._5 == a._5 + (if (b._4) 1 else 0), "scene id = running cut count")
        case _ => ()
      }
    }
    assert(rows.exists(r => !r._4),
      "some near-identical adjacent frames should continue a scene")
    assert(rows.exists(r => r._4 && r._3.nonEmpty),
      "some frames should open a new scene mid-document")
  }

  test("t14 lexical diversity invariants hold and match a hand case") {
    import spark.implicits._
    val rows = TextOps.queries("t14_lexical_diversity")(spark, sf).collect()
    rows.foreach { r =>
      val (w, t, h) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(h <= t && t <= w && t >= 1)
    }
    val hand = TextOps.lexicalDiversity(
      Seq((1L, "a b a c c c")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert((hand.getLong(1), hand.getLong(2), hand.getLong(3)) == ((6L, 3L, 1L)))
    assert(hand.getLong(4) == 500000L) // 3/6 in micro-units
  }

  test("s11 DSIR scores equal a from-scratch recomputation and rank target-like docs first") {
    import spark.implicits._
    val P = Hashing.P
    val B = 8
    def ph(tok: String): Long =
      tok.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % P)
    val target = Seq((100L, "alpha beta alpha gamma", "en"),
      (101L, "beta beta alpha", "en")).toDF("doc_id", "text", "lang")
    val raw = Seq(
      (1L, "alpha beta alpha beta gamma", "en"), // target-like
      (2L, "zeta yota kappa zeta zeta", "en"),   // off-target
      (3L, "alpha zeta beta yota", "en"))        // mixed
      .toDF("doc_id", "text", "lang")
    val got = Sampling.dsirSelect(raw, target, "doc_id", "text",
        buckets = B, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // from-scratch model: bucket counts on each side, smoothed ln ratio
    // quantized to q6, per-doc exact integer fold
    def buckets(docs: Seq[(Long, String)]): Seq[(Long, Long)] =
      docs.flatMap { case (id, t) =>
        t.split(" ").filter(_.nonEmpty).map(tok => (id, ph(tok) % B)) }
    val tb = buckets(Seq(100L -> "alpha beta alpha gamma", 101L -> "beta beta alpha"))
    val rb = buckets(Seq(1L -> "alpha beta alpha beta gamma",
      2L -> "zeta yota kappa zeta zeta", 3L -> "alpha zeta beta yota"))
    val ct = tb.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cr = rb.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def llr(b: Long): Long = math.round((
      math.log((ct.getOrElse(b, 0L) + 1).toDouble / (tb.size + B)) -
      math.log((cr.getOrElse(b, 0L) + 1).toDouble / (rb.size + B))) * 1e6)
    val expected = rb.groupBy(_._1).view
      .mapValues(_.groupBy(_._2).map { case (b, xs) => xs.size * llr(b) }.sum)
      .toMap
    assert(got == expected, s"got $got expected $expected")
    assert(got(1L) > got(2L),
      "the target-like doc must outscore the off-target doc")
  }

  test("s12 epoch mix emits floor/ceil copies per the deterministic coin, dense copy_idx") {
    val docs = Tables.documents(spark, sf)
    val got = Sampling.epochMix(docs, "doc_id", "lang",
      Sampling.EpochSpec, Sampling.EpochDefault).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perDoc = got.groupBy(x => (x._1, x._2)).view.mapValues(_.map(_._3).sorted).toMap
    val langs = docs.select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val P = Hashing.P
    val A = Hashing.MinHashA(0)
    val Bc = Hashing.MinHashB(0)
    langs.foreach { case (id, lang) =>
      val e = Sampling.EpochSpec.getOrElse(lang, Sampling.EpochDefault)
      val base = math.floor(e).toLong
      val thr = ((e - math.floor(e)) * P).toLong
      val h = (((id % P + P) % P) * A + Bc) % P
      val n = base + (if (h < thr) 1L else 0L)
      val copies = perDoc.getOrElse((id, lang), Array.empty[Long]).toSeq
      assert(copies == (0L until n).toSeq,
        s"doc $id ($lang, e=$e): copies $copies != 0 until $n")
    }
    // repartition leaves the multiset identical
    val rep = Sampling.epochMix(docs.repartition(7), "doc_id", "lang",
      Sampling.EpochSpec, Sampling.EpochDefault).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(rep.toSeq == got.sorted.toSeq)
  }

  test("c14 dedup weights: 1/|cluster| micro-units, singletons weight 1") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Clusters.dedupWeights(docs, "doc_id", pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 333333L, 2L -> 333333L, 3L -> 333333L,
      4L -> 1000000L, 5L -> 500000L, 6L -> 500000L), s"got $got")
  }

  test("v07 snapshot diff classifies crafted add/remove/change exactly") {
    import spark.implicits._
    val old = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text")
    val neu = Seq((1L, "one"), (2L, "two EDITED"), (4L, "four"))
      .toDF("doc_id", "text")
    val got = Profile.snapshotDiff(old, neu, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 4L -> "added"),
      s"got $got")
  }

  test("q41 mode picks the max-count priority per status") {
    val counts = Tables.orders(spark, sf)
      .groupBy("o_orderstatus", "o_orderpriority").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out2 = Relational.queries("q41_mode")(spark, sf)
      .collect().map(r => (r.getString(0), (r.getString(1), r.getLong(2)))).toMap
    counts.groupBy(_._1).foreach { case (status, cs) =>
      val best = cs.map(_._3).max
      val (mp, n) = out2(status)
      assert(n == best, s"$status mode count must be the max")
      val tied = cs.filter(_._3 == best).map(_._2).min
      assert(mp == tied, s"$status tiebreak must pick the smallest priority")
    }
  }
}
