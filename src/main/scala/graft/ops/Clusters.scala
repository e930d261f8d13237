package graft.ops

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution — the step AFTER pair generation that a
  * production dedup pipeline actually acts on (SURVEY.md §7.5
  * extensions): near-dup pairs from [[Dedup]] are edges of an
  * undirected graph; each connected component is one duplicate cluster;
  * the canonical keeper is the minimum doc id in the component.
  *
  * Spark shape: iterative MIN-LABEL PROPAGATION. Every node starts
  * labeled with itself; each round every node takes the min of its own
  * and its neighbors' labels; at fixpoint every node carries its
  * component's minimum id. Each round is one shuffle join
  * (edges ⋈ labels) plus a groupBy min — fully distributed, and the
  * round count is the graph DIAMETER, not the graph size. Near-dup
  * graphs are unions of small dense cliques (that is what "duplicates"
  * means), so the diameter is tiny and 2–3 rounds converge; for
  * adversarial long-chain graphs the known fix is star-contraction
  * (large-star/small-star, Kiveris et al.), which contracts paths in
  * O(log n) rounds — noted here as the documented boundary, same
  * pattern as the k03 centroid-broadcast note.
  *
  * The driver loop holds only the convergence COUNTER (one long per
  * round) — labels never leave the executors; each round's frame is
  * cached and the previous round unpersisted, so peak storage is two
  * label tables.
  *
  * Determinism: min is associative/commutative and the iteration is a
  * monotone fixpoint — the result is independent of execution order,
  * partitioning, and round batching, which is what lets a DuckDB
  * recursive CTE reproduce it exactly.
  */
object Clusters {

  /** Connected components over an undirected pair list.
    *
    * The RETURNED frame reads the final round's localCheckpoint (already
    * materialized by the convergence check): downstream actions replay
    * nothing, and the executor blocks are released by the context
    * cleaner once the frame is unreferenced — same ownership contract
    * as a checkpointed GraphX result.
    *
    * @param pairs frame with two id columns (`a`, `b`), each row an edge
    * @return `(doc_id, cluster_id)` — one row per node that appears in
    *         at least one edge, labeled with its component's min id */
  def connectedComponents(pairs: DataFrame, a: String, b: String): DataFrame = {
    val edges = pairs.select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .union(pairs.select(col(b).cast("long").as("src"), col(a).cast("long").as("dst")))
      .distinct()
      .cache()
    // SMALL-GRAPH FAST PATH (r19, guide §3.1's broadcast doctrine
    // applied to the fixpoint): when the deduped edge list fits the
    // driver comfortably, a union-find beats ANY distributed fixpoint
    // — the er/name graphs, media pair graphs, and star-merge inputs
    // are dictionary-sized by construction, yet each paid 4-8 tiny
    // convergence shuffles of almost pure per-job fixed cost. The
    // count() below materializes the cache the first labelSum job
    // would have paid anyway; the collect reads cached blocks. Labels
    // are identical to the fixpoint's (per-component MIN member id —
    // pinned by OpsSpec's path-parity case). The gate is a DATA-size
    // threshold (rows of the doubled edge list), not a core-count
    // tune: on a 100 TB corpus whose near-dup graph outgrows it, the
    // same call takes the distributed branch. Tunable per session via
    // `graft.cc.maxDriverEdges` (0 disables the fast path — the spec
    // uses that to pin both branches against each other).
    val maxDriverEdges =
      try pairs.sparkSession.conf.get("graft.cc.maxDriverEdges", "1048576").toLong
      catch { case _: NumberFormatException => 1048576L }
    if (maxDriverEdges > 0 && edges.count() <= maxDriverEdges) {
      val rows = edges.collect()
      edges.unpersist()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.get(x)
        while (p != x) { // path halving
          val gp = parent.get(p)
          parent.put(x, gp)
          x = gp
          p = parent.get(x)
        }
        x
      }
      rows.foreach { r =>
        val (s, d) = (r.getLong(0), r.getLong(1))
        if (!parent.containsKey(s)) parent.put(s, s)
        if (!parent.containsKey(d)) parent.put(d, d)
        val (rs, rd) = (find(s), find(d))
        // union by MIN id: the root is always the component's smallest
        // member seen so far, so the final find() IS the min label
        if (rs < rd) parent.put(rd, rs)
        else if (rd < rs) parent.put(rs, rd)
      }
      val labels = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach(id => labels += ((id, find(id))))
      val spark = pairs.sparkSession
      import spark.implicits._
      return labels.toSeq.toDF("doc_id", "cluster_id")
    }
    // localCheckpoint, not cache: `next` references `labels` twice (join
    // + union), so lineage doubles every round — harmless at dup-clique
    // depth (2-3 rounds) but exponential on a high-diameter graph.
    // Checkpointing materializes the round to executor blocks and cuts
    // the plan; labels still never touch the driver. LAZY (r19): the
    // eager form ran one materialization job per checkpoint PLUS the
    // convergence-sum job — with eager = false the sum aggregation
    // below is the single action that both materializes the round's
    // blocks and reads the convergence statistic (one job per round,
    // was two).
    var labels = edges.select(col("src").as("id"), col("src").as("label"))
      .distinct()
      .localCheckpoint(false)
    // Convergence check rides the SAME aggregation that materializes the
    // round: labels are monotone non-increasing, so the label-sum
    // strictly decreases on every non-converged round and the fixpoint
    // is exactly "sum unchanged" — no join against the previous labels,
    // one job per round. Decimal sum: no overflow at any id range.
    // sum over an EMPTY label table is SQL NULL — coalesce to 0 so a
    // pair-free input (a corpus with no duplicates) converges instead
    // of NPE-ing on the comparison
    def labelSum(l: DataFrame): java.math.BigDecimal =
      l.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
        .collect().head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      // each node's next label: min over (its label, its neighbors' labels)
      val prop = edges
        .join(labels.withColumnRenamed("id", "src")
          .withColumnRenamed("label", "src_label"), Seq("src"))
        .select(col("dst").as("id"), col("src_label").as("label"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
      // POINTER JUMP (r19, guide §1.2 "the distributed algorithm"):
      // shortcut each node's freshly-propagated label through the
      // PREVIOUS round's label of that label — path doubling, so a
      // chain's remaining propagation distance roughly halves per
      // round and convergence needs ~log(diameter) rounds instead of
      // diameter (er08's name-chain graph measured 8 rounds → 4).
      // Using the previous (already-materialized) label table keeps
      // the round at one action and avoids re-executing `prop` twice;
      // values stay ids of component members (a label IS a member's
      // id, its previous label IS a member's id), min is monotone,
      // so the fixpoint — and the emitted component-min labels — are
      // unchanged. The left join + coalesce only guards labels of
      // nodes outside the table, which cannot occur (every label is
      // a node id); `least` keeps monotonicity explicit.
      val next = prop
        .join(labels.select(col("id").as("label"), col("label").as("_ll")),
          Seq("label"), "left")
        .select(col("id"),
          coalesce(least(col("label"), col("_ll")), col("label")).as("label"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
    }
    edges.unpersist()
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** INCREMENTAL component maintenance (c19) — merge a DELTA batch's
    * near-dup pairs into STANDING cluster labels without re-running the
    * fixpoint over the standing edge set: collapse each standing
    * cluster to a STAR around its representative (`doc → cluster_id`
    * edges — diameter ≤ 2 regardless of the original cluster's shape)
    * and run [[connectedComponents]] over stars ∪ delta pairs.
    * Connectivity is preserved exactly — a path through a standing
    * cluster becomes a 2-hop path through its rep — so the merged
    * labels equal a full recompute over (standing pairs ∪ delta pairs)
    * verbatim (c19 shares c01's oracle), while the fixpoint's round
    * count is bounded by the NEW merge chains: the standing corpus's
    * internal diameter never costs a round again. Edge volume is
    * |clustered standing docs| + |delta pairs| — NOT the standing pair
    * list, which a growing corpus never wants to re-read.
    *
    * This is the nightly cluster-maintenance job: the d19 persisted-
    * band serve emits exactly the delta-vs-corpus (and a delta-self
    * pass the delta-vs-delta) pair list this consumes; labels roll
    * forward without the history ever being re-paired. */
  def mergeComponents(standing: DataFrame, newPairs: DataFrame): DataFrame = {
    val stars = standing.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("doc_a"), col("cluster_id").as("doc_b"))
    val merged = connectedComponents(
      stars.unionByName(newPairs.select(col("doc_a"), col("doc_b"))),
      "doc_a", "doc_b")
    // carry forward standing SINGLETON labels (doc_id == cluster_id
    // with no other member): they generate no star edge, so unless a
    // delta pair touches them they would silently vanish from the
    // rolled-forward label table — "labels roll forward" must mean ALL
    // labels. Docs the merge did relabel win via the anti-join.
    merged.unionByName(
      standing.join(merged, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id")))
  }

  /** [[connectedComponents]] with the adversarial-graph escape hatch:
    * `contract = true` switches to star contraction. */
  def connectedComponents(pairs: DataFrame, a: String, b: String,
                          contract: Boolean): DataFrame =
    if (contract) connectedComponentsContracted(pairs, a, b)._1
    else connectedComponents(pairs, a, b)

  /** Connected components by STAR CONTRACTION (alternating large-star /
    * small-star, Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the documented fix for min-label propagation's
    * long-chain boundary: propagation needs diameter-many rounds (a
    * pathological 1M-node chain = 1M shuffles), contraction halves path
    * lengths every round and converges in O(log²·) rounds — ~10 for a
    * 1000-node chain (pinned by OpsSpec).
    *
    * Round = two edge rewrites, each one hash shuffle + a per-node
    * window min (no collect, no driver state beyond the convergence
    * counters):
    *  - LARGE-STAR: every node's strictly-larger neighbors re-link to
    *    the minimum of its closed neighborhood — `min(v) over
    *    (partition by u)` on the bidirected edge list, emit `(v,
    *    least(min, u))` for `v > u`;
    *  - SMALL-STAR: edges keyed by their larger endpoint re-link that
    *    node and all its ≤-neighbors to their collective minimum.
    * Both emit canonical `(hi, lo)` edges (`hi > lo` invariant holds by
    * construction, so no re-canonicalization shuffle). Fixpoint = the
    * edge set stops changing (exact `except` check, not a checksum); at
    * fixpoint every component is a star centered on its minimum id.
    *
    * Output identical to [[connectedComponents]] (OpsSpec pins equality
    * on the harness pairs, random graphs, and chains — so c01's oracle
    * covers this path too). Returns (labels, rounds); rounds is the
    * contraction-round count, exposed for the convergence spec. */
  def connectedComponentsContracted(pairs: DataFrame, a: String,
                                    b: String): (DataFrame, Int) = {
    val raw = pairs
      .select(col(a).cast("long").as("x"), col(b).cast("long").as("y"))
    val nodes = raw
      .select(explode(array(col("x"), col("y"))).as("id")).distinct()
    // localCheckpoint (not cache): each round references the previous
    // round's edges 4× (bidirect union + except), so lineage doubles per
    // round — at the ~10 rounds a chain needs, an un-truncated plan is
    // exponentially large before a single task runs. Checkpointing
    // materializes to executor-local blocks and CUTS the plan, the
    // standard idiom for iterative graph algorithms (GraphX does the
    // same); propagation above survives on cache only because dup
    // cliques converge in 2-3 rounds.
    // lazy checkpoints (r19): the convergence count() is the action that
    // materializes each round's blocks — eager ran a separate
    // materialization job per round on top of it
    var edges = raw.filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("hi"),
        least(col("x"), col("y")).as("lo"))
      .distinct().localCheckpoint(false)
    var n = edges.count()
    var rounds = 0
    var converged = n == 0L
    import org.apache.spark.sql.expressions.Window
    while (!converged) {
      require(rounds < 100, "star contraction failed to converge in 100 rounds")
      val wU = Window.partitionBy(col("u"))
      val ls = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
        .withColumn("m", least(min(col("v")).over(wU), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
      val wHi = Window.partitionBy(col("hi"))
      val ss = ls.withColumn("m", min(col("lo")).over(wHi))
      val next = ss.filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(ss.select(col("hi"), col("m").as("lo")))
        .distinct().localCheckpoint(false)
      val nNext = next.count()
      converged = nNext == n && next.except(edges).isEmpty
      edges = next
      n = nNext
      rounds += 1
    }
    // at fixpoint the edges are (member, component-min) stars; roots and
    // self-loop-only nodes label themselves via the left join
    val labels = nodes
      .join(edges.select(col("hi").as("id"), col("lo").as("parent")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("parent"), col("id")).as("cluster_id"))
    (labels, rounds)
  }

  /** Cluster summary: keeper (= cluster id = min doc id) and member
    * count per duplicate cluster. Output: `(cluster_id, n_members)`. */
  def clusterSummary(components: DataFrame): DataFrame =
    components.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"))

  /** Shared near-dup graph tables for the catalog's c-family.
    *
    * Eight catalog entries (c01/c02/c06/c07/c08/c10/c14 via the
    * component table; c09/c11/c12/c13/c15/c16 via the raw pairs) run
    * over the SAME d02 pair source — `jaccardPairs(documents, τ=0.6)` —
    * and, until round 8, each recomputed candidate generation (and
    * seven of them the CC fixpoint) from scratch: ~30 s of redundant
    * iterative work per bench session, and at corpus scale a full
    * shingle-shuffle per query. A production dedup deployment
    * materializes the pair list and the component table ONCE per
    * (corpus, threshold) and lets every downstream consumer read it —
    * this memo is that move, session-scoped so Verify/Bench share
    * within a run while test suites (fresh sessions) stay isolated.
    *
    * `localCheckpoint` materializes the pairs to executor blocks
    * (content is deterministic, so every consumer sees identical rows);
    * the CC result is already checkpointed by [[connectedComponents]]'s
    * final round. Keyed by (session, data dir) — reference equality on
    * the session; entries are two small frames (dup pairs + dup docs),
    * released with the session.
    *
    * Lock scope, stated deliberately: the single monitor is held WHILE
    * a build materializes (localCheckpoint jobs included), so two
    * threads first-building different (session, dir) keys serialize.
    * That is the accepted trade for nest-safety (builds call other
    * memo entries from inside their bodies — per-key locks would
    * deadlock or reintroduce the `computeIfAbsent` failure), and the
    * harness is single-process/single-catalog-run, where contention is
    * the work the memo exists to share anyway. Entries for stopped
    * sessions are not evicted — acceptable for bounded-lifetime
    * processes (Verify/Bench/tests); a long-lived multi-session server
    * would want eviction keyed off `SparkSession.stop`. */
  private val sharedMemo =
    new java.util.HashMap[(SparkSession, String, String), DataFrame]()

  /** NOT ConcurrentHashMap.computeIfAbsent: the builds NEST (a
    * component-table build calls the pair-table memo from inside its
    * mapping function), and computeIfAbsent throws
    * `IllegalStateException: Recursive update` whenever the outer and
    * inner keys happen to share a hash bin — a data-dir-dependent
    * landmine (it fired on `data/sf1`, not on the sf0.1 path). A
    * JVM-monitor lock is reentrant, so the nested build is legal by
    * construction; builders only DECLARE lazy plans (no Spark jobs run
    * under the lock except localCheckpoint materialization, which is
    * what the memo exists to share anyway). */
  private def memo(s: SparkSession, d: String, key: String)
                  (build: => DataFrame): DataFrame =
    sharedMemo.synchronized {
      val k = (s, d, key)
      val existing = sharedMemo.get(k)
      if (existing != null) existing
      else {
        val built = build
        sharedMemo.put(k, built)
        built
      }
    }

  /** The catalog's d02 pair table (`doc_a, doc_b, jaccard` at τ=0.6 over
    * `documents`), computed once per (session, dir). */
  def sharedPairs(s: SparkSession, d: String): DataFrame =
    memo(s, d, "pairs") {
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.6).localCheckpoint()
    }

  /** The component table over [[sharedPairs]], computed once per
    * (session, dir). */
  def sharedComponents(s: SparkSession, d: String): DataFrame =
    memo(s, d, "cc") {
      connectedComponents(sharedPairs(s, d), "doc_a", "doc_b")
    }

  /** The c12 LPA community table over [[sharedPairs]], computed once
    * per (session, dir) — shared by c12 and c17 (a deployment scores
    * the SAME partition it publishes, so the two must share one LPA
    * run for the score to mean anything). */
  def sharedCommunities(s: SparkSession, d: String): DataFrame =
    memo(s, d, "lpa") {
      labelPropagation(sharedPairs(s, d), "doc_a", "doc_b", LpaIters)
    }

  /** The d08 band-then-verify pair table (the 100 TB-scale pair source),
    * computed once per (session, dir) — shared by c03/c04 and d08. */
  def sharedMinhashPairs(s: SparkSession, d: String): DataFrame =
    memo(s, d, "mh_pairs") {
      Dedup.minhashVerifiedPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.6).localCheckpoint()
    }

  /** The component table over [[sharedMinhashPairs]] (c03/c04). */
  def sharedMinhashComponents(s: SparkSession, d: String): DataFrame =
    memo(s, d, "mh_cc") {
      connectedComponents(sharedMinhashPairs(s, d), "doc_a", "doc_b")
    }

  /** The CJK char-gram near-dup pair table (d20's output over the
    * fixture-derived unsegmented corpus), computed once per (session,
    * dir) — shared by d20 and the p11 curation composition, the
    * [[sharedPairs]] move on the char seam. */
  def sharedCjkPairs(s: SparkSession, d: String): DataFrame =
    memo(s, d, "cjk_pairs") {
      // shingle from the persisted token arrays (re-joined on the
      // space the shingler splits on — an exact round-trip because
      // script tokens never contain ASCII space), so the pair build
      // shares the artifact's one tokenizer pass with r08-r11
      Dedup.minhashVerifiedPairs(
        sharedCjkTokens(s, d).select(col("doc_id"),
          concat_ws(" ", col("toks")).as("_script_text")),
        "doc_id", "_script_text", 0.6,
        Dedup.CjkCharShingleN, Dedup.MaxBandDocs).localCheckpoint()
    }

  /** The component table over [[sharedCjkPairs]] (p11). */
  def sharedCjkComponents(s: SparkSession, d: String): DataFrame =
    memo(s, d, "cjk_cc") {
      connectedComponents(sharedCjkPairs(s, d), "doc_a", "doc_b")
    }

  /** The session's PERSISTED script-token arrays over the CJK fixture
    * corpus — written once per (session, dir) through the real
    * artifact seam ([[TextOps.cjkTokensWrite]]: parquet + tokenizer
    * stamp) and read back, so every consumer is the load path a
    * deployment actually serves from. The ONE fold+regex pass of the
    * whole CJK family lives here. */
  def sharedCjkTokens(s: SparkSession, d: String): DataFrame =
    memo(s, d, "cjk_tokens") {
      val dir = IndexPaths.dir("cjk_tokens", d)
      graft.ops.TextOps.cjkTokensWrite(
        Tables.documents(s, d).select(col("doc_id"),
          graft.ops.TextOps.cjkFixture(col("text")).as("text")),
        "doc_id", "text", dir)
      graft.ops.TextOps.cjkTokensLoad(s, dir)
    }

  /** Unigram+bigram term arrays derived from [[sharedCjkTokens]] — no
    * regex (slices + one zip_with over the parquet-backed tokens), so
    * r08/r09/r11 all source from the stored artifact and a solo run
    * costs the same as an in-catalog one (the r15 verdict's r11
    * item). STILL materialized (localCheckpoint): the bm25/tfidf
    * consumers each read the terms twice (corpus scalars + postings),
    * and re-running even the cheap bigram build per pass measured
    * 2.7× on r08 — derive once per session, serve from the
    * checkpoint. */
  def sharedCjkTerms(s: SparkSession, d: String): DataFrame =
    memo(s, d, "cjk_terms") {
      sharedCjkTokens(s, d).select(col("doc_id"),
        graft.ops.Search.cjkIndexTermsFromTokens(col("toks")).as("terms"))
        .localCheckpoint()
    }

  /** The end of the dedup pipeline: the corpus with every non-keeper
    * removed — each duplicate cluster keeps exactly its min-id doc,
    * unpaired docs pass through untouched. One anti-join against the
    * (tiny) non-keeper set: `|components| − |clusters|` rows, which
    * broadcast at any realistic dup rate. */
  def dedupCorpus(docs: DataFrame, id: String,
                  pairs: DataFrame, a: String, b: String): DataFrame =
    dedupCorpusFromComponents(docs, id, connectedComponents(pairs, a, b))

  /** [[dedupCorpus]] over a PRECOMPUTED component table (`doc_id,
    * cluster_id`) — the shape a deployment with a materialized
    * [[sharedComponents]] runs. */
  def dedupCorpusFromComponents(docs: DataFrame, id: String,
                                comp: DataFrame): DataFrame = {
    val nonKeepers = comp
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(id))
    docs.join(nonKeepers, Seq(id), "left_anti")
  }

  /** [[dedupCorpus]] with the keeper chosen by QUALITY, not identity
    * (c06): real curation pipelines keep each duplicate cluster's BEST
    * document — here longest (`qualityKey` DESC), ties on min id — not
    * its arbitrary min-id member, because near-dup clusters routinely
    * mix a full document with its truncated or boilerplate-wrapped
    * variants and the min id is as likely to be the mutilated copy.
    *
    * Same scale envelope as c02: the component table is dup-docs-sized
    * (tiny relative to the corpus), so the quality join broadcasts it
    * against the corpus, the keeper rank windows over the component
    * table alone, and the resulting non-keeper set anti-joins back —
    * the corpus itself never shuffles. */
  def dedupCorpusBest(docs: DataFrame, id: String, qualityKey: String,
                      pairs: DataFrame, a: String, b: String): DataFrame =
    dedupCorpusBestFromComponents(docs, id, qualityKey,
      connectedComponents(pairs, a, b))

  /** [[dedupCorpusBest]] over a precomputed component table. */
  def dedupCorpusBestFromComponents(docs: DataFrame, id: String,
                                    qualityKey: String,
                                    components: DataFrame): DataFrame = {
    val comp = components
      .select(col("doc_id").as(id), col("cluster_id"))
    val scored = docs.select(col(id), col(qualityKey))
      .join(broadcast(comp), Seq(id))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col(qualityKey).desc, col(id))
    val nonKeepers = scored
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") > 1)
      .select(col(id))
    docs.join(broadcast(nonKeepers), Seq(id), "left_anti")
  }

  /** Per-stratum duplication report (c07) — the observability readout a
    * dedup deployment actually watches: for each source (or language,
    * or crawl snapshot), how many documents belong to some near-dup
    * cluster and what fraction of the stratum that is. High per-source
    * dup rates localize the crawler or converter responsible.
    *
    * The component table is dup-docs-sized, so it broadcasts onto the
    * corpus scan; the rest is one groupBy over (stratum) with counts —
    * no corpus shuffle beyond the aggregation's partials. Rate is
    * micro-unit quantized. Output: `(stratum, n_docs, n_dup_docs,
    * dup_rate_q6)`. */
  def dupRateByStratum(docs: DataFrame, id: String, strata: String,
                       pairs: DataFrame, a: String, b: String): DataFrame =
    dupRateByStratumFromComponents(docs, id, strata,
      connectedComponents(pairs, a, b))

  /** [[dupRateByStratum]] over a precomputed component table. */
  def dupRateByStratumFromComponents(docs: DataFrame, id: String,
                                     strata: String,
                                     comp: DataFrame): DataFrame = {
    val dupDocs = comp
      .select(col("doc_id").as(id)).withColumn("_dup", lit(1L))
    docs.select(col(id), col(strata))
      .join(broadcast(dupDocs), Seq(id), "left")
      .groupBy(col(strata))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("_dup"), lit(0L))).as("n_dup_docs"))
      .withColumn("dup_rate_q6",
        round(col("n_dup_docs").cast("double") / col("n_docs").cast("double")
          * lit(1e6)).cast("long"))
  }

  /** Duplication-discount loss weights (c14) — SOFT deduplication: keep
    * every document but weight each near-dup cluster member by
    * `1/|cluster|`, so a cluster contributes one document's worth of
    * training loss in total instead of |cluster|× (the loss-reweighting
    * alternative to c02's hard drop — preferable when near-dups carry
    * complementary fragments, and reversible: the weight column, not
    * the corpus, changes between experiments). Non-duplicated docs get
    * weight 1. Weights are exact micro-units, `10⁶ div |cluster|` —
    * integer division, both engines bit-identical.
    *
    * Scale shape: identical to [[dupRateByStratum]] — the component
    * table (dup-docs-sized) joins its own cluster-size aggregate and
    * broadcasts onto the corpus; the corpus itself never shuffles.
    * Output: `(id, weight_q6)` for every input doc. */
  def dedupWeights(docs: DataFrame, id: String,
                   pairs: DataFrame, a: String, b: String): DataFrame =
    dedupWeightsFromComponents(docs, id, connectedComponents(pairs, a, b))

  /** [[dedupWeights]] over a precomputed component table. */
  def dedupWeightsFromComponents(docs: DataFrame, id: String,
                                 comp: DataFrame): DataFrame = {
    val sized = comp.join(
        comp.groupBy(col("cluster_id")).agg(count(lit(1)).as("_sz")),
        Seq("cluster_id"))
      .select(col("doc_id").as(id), col("_sz"))
    docs.select(col(id))
      .join(broadcast(sized), Seq(id), "left")
      .select(col(id),
        coalesce(expr("1000000 div _sz"), lit(1000000L)).as("weight_q6"))
  }

  /** SEMANTIC deduplication (c05) — SemDeDup (Abbas et al., 2023,
    * arXiv:2303.09540) re-expressed relationally: near-duplicate
    * MEANING, not near-duplicate text, caught by comparing embeddings
    * only WITHIN k-means clusters. Cluster the corpus with
    * [[Similarity.kmeansAssign]] (k chosen so clusters are small —
    * SemDeDup uses k ≈ corpus/1000), score cosine on within-cluster
    * pairs only, and flag every vector that has a smaller-id
    * within-cluster neighbor at cosine ≥ `tau`.
    *
    * The flag is the one-pass DOMINANCE rule (drop b if some kept-or-
    * dropped a < b is τ-close), not transitive closure — feed the pair
    * list to [[connectedComponents]] when full semantic clusters are
    * wanted, exactly as c01 does for d02's textual pairs.
    *
    * Scale shape: the O(n²) cosine pass of d05 becomes Σ|cluster|²
    * — the whole point of SemDeDup — and the pair scan is a plain
    * self-equi-join on the cluster key: clusters co-locate via the
    * shuffle, a hot cluster spills rather than OOMs, and k is the
    * knob that bounds |cluster|. The k-means train is k04's: one
    * corpus scan per iteration, O(k·dims) driver exchange.
    * Output: `(vec_id, cluster, is_dup)` — one row per vector. */
  def semanticDedup(vectors: DataFrame, id: String, vec: String,
                    k: Int, iters: Int, tau: Double): DataFrame = {
    val assign = Similarity.kmeansAssign(vectors, id, vec, k, iters)
    val v = vectors.select(col(id).as("vec_id"),
        expr(s"transform($vec, x -> cast(x as double))").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .join(assign, "vec_id")
    val dups = v.as("a").join(v.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .filter(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
    v.select(col("vec_id"), col("cluster"))
      .join(dups.withColumn("_d", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("_d"), lit(false)).as("is_dup"))
  }

  /** c05's cosine threshold: same planted-vs-background separation
    * argument as d05 (planted near-dups ≥ 0.9, background ≤ 0.1). */
  val SemDedupTau = 0.45

  /** PageRank over the near-dup graph (c09) — the iterative JOIN-based
    * message-passing pattern (contributions flow along edges each
    * round) that complements c01's monotone min-label fixpoint: rank
    * centrality identifies template/boilerplate hubs that sit inside
    * many near-dup pairs. Fixed `iters` power iterations, damping 0.85.
    *
    * Arithmetic is FIXED-POINT integer micro-units, not doubles: each
    * round sums contributions across a node's in-edges, and a double
    * sum's partial-aggregation order is partition-dependent — long
    * sums are associative, so the result is partitioning-invariant and
    * a DuckDB unrolled-CTE chain reproduces it bit-exactly (the k04
    * generated-oracle pattern). Truncation div loses ≤1 micro-unit of
    * mass per term — rank ORDER, the consumable, is unaffected.
    *
    * Scale shape: edges×deg precomputed once and cached; each round is
    * one hash join (edges ⋈ ranks on src) + one keyed aggregation —
    * no driver state beyond N (one long, same contract as the CC
    * convergence counter); localCheckpoint truncates the iterative
    * lineage exactly as [[connectedComponentsContracted]] does.
    * Output: `(doc_id, pr_micro)` — rank mass in micro-units. */
  def pageRank(pairs: DataFrame, a: String, b: String,
               iters: Int): DataFrame = {
    // materialize the edge table ONCE: its lineage holds the whole
    // pair-generation pipeline, and deg/pr0/every round re-reads it —
    // without the checkpoint each of those re-ran candidate generation
    // (measured 22 s for 5 rounds at sf0.1; ~4 s with it)
    val edges = pairs
      .select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .union(pairs.select(col(b).cast("long").as("src"),
        col(a).cast("long").as("dst")))
      .distinct()
      .localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // contributions need src's degree every round: attach it once
    val edgesDeg = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("deg")).cache()
    val n = deg.count() // one driver long (node count)
    if (n == 0) return pairs.sparkSession.emptyDataFrame
      .select(lit(0L).as("doc_id"), lit(0L).as("pr_micro")).limit(0)
    val teleport = 150000L / n // (1-d)·10^6 / N, truncated
    // the iteration count is FIXED (no per-round convergence action), so
    // the rounds unroll into ONE lazy plan materialized by a single
    // end-of-loop checkpoint (r19, guide §1.2): the per-round eager
    // localCheckpoint ran one materialization job per round whose only
    // purpose was lineage truncation — at 5 rounds that is 5 driver
    // round-trips and 5 block writes for a linearly-growing plan a
    // single job plans and executes fine (each round references pr
    // once, so lineage grows linearly, not exponentially — the CC
    // fixpoint's doubling hazard does not arise). deg's repeated
    // subtree reads the checkpointed edges and stage-caches under AQE.
    var pr = deg.select(col("src").as("id"), lit(1000000L / n).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = edgesDeg
        .join(pr.withColumnRenamed("id", "src")
          .withColumnRenamed("pr", "spr"), Seq("src"))
        .select(col("dst").as("id"), expr("spr div deg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("c"))
      pr = deg.select(col("src").as("id"))
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(teleport) + expr("(850 * coalesce(c, 0L)) div 1000")).as("pr"))
    }
    // one eager checkpoint materializes all rounds, THEN the cache can
    // release — unpersisting before materialization would re-derive
    // edgesDeg once per unrolled round
    val out = pr.localCheckpoint()
    edgesDeg.unpersist()
    out.select(col("id").as("doc_id"), col("pr").as("pr_micro"))
  }

  /** c09 iteration count: near-dup cliques mix in a handful of rounds. */
  val PageRankIters = 5

  /** PERSONALIZED PageRank (c16) — c09 with the teleport mass pinned
    * to a SEED set instead of spread uniformly: scores become
    * "relevance to the seeds through the graph", the graded companion
    * of c13's hop counts (BFS says how FAR from the benchmark a doc
    * sits; PPR says how MUCH of the benchmark's influence reaches it,
    * discounting by every path's length and branching). Docs in
    * components containing no seed score exactly 0 — the integer
    * arithmetic makes that a provable invariant, not a float epsilon.
    *
    * Same loop/scale shape as [[pageRank]]: edges materialized once,
    * per-round shuffle on the key, rank vector never on the driver;
    * the only extra state is a 0/1 seed flag carried on the node
    * table. Integer micro-units throughout (`1e6/|S|` start mass,
    * `0.15e6/|S|` teleport, damped contributions `(850·c) div 1000`).
    * Output: `(doc_id, ppr_micro)`. */
  def personalizedPageRank(pairs: DataFrame, a: String, b: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int): DataFrame = {
    val edges = pairs
      .select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .union(pairs.select(col(b).cast("long").as("src"),
        col(a).cast("long").as("dst")))
      .distinct()
      .localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, "src")
      .select(col("src"), col("dst"), col("deg")).cache()
    val seedIds = seeds.select(col(seedCol).cast("long").as("id")).distinct()
    val nodes = deg.select(col("src").as("id"))
      .join(seedIds.withColumn("_s", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("_s"), lit(0L)).as("s"))
      .localCheckpoint()
    val nSeeds = nodes.filter(col("s") === 1L).count()
    if (nSeeds == 0) return pairs.sparkSession.emptyDataFrame
      .select(lit(0L).as("doc_id"), lit(0L).as("ppr_micro")).limit(0)
    val tele = 150000L / nSeeds
    // fixed iteration count → unrolled lazy rounds + ONE end-of-loop
    // checkpoint (the pageRank note above: one materialization job for
    // the whole power iteration instead of one per round)
    var pr = nodes
      .select(col("id"), (col("s") * lit(1000000L / nSeeds)).as("pr"))
    for (_ <- 1 to iters) {
      val contrib = edgesDeg
        .join(pr.withColumnRenamed("id", "src")
          .withColumnRenamed("pr", "spr"), Seq("src"))
        .select(col("dst").as("id"), expr("spr div deg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("c"))
      pr = nodes
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (col("s") * lit(tele) + expr("(850 * coalesce(c, 0L)) div 1000"))
            .as("pr"))
    }
    val out = pr.localCheckpoint()
    edgesDeg.unpersist()
    out.select(col("id").as("doc_id"), col("pr").as("ppr_micro"))
  }

  /** The c16 power iteration as unrolled oracle CTEs — c09's generator
    * plus a seed flag on the node table; MATERIALIZED against DuckDB's
    * CTE inlining (each round references edges/deg/nodes). */
  def pprOracleSql(pairsSql: String, seedWhere: String, iters: Int): String = {
    val head =
      s"""WITH pairs AS MATERIALIZED ($pairsSql),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |seeds AS MATERIALIZED (
         |  SELECT DISTINCT doc_id AS id FROM documents WHERE $seedWhere),
         |nodes AS MATERIALIZED (
         |  SELECT d.src AS id, CASE WHEN s.id IS NOT NULL THEN 1 ELSE 0 END AS s
         |  FROM deg d LEFT JOIN seeds s ON s.id = d.src),
         |ns AS MATERIALIZED (SELECT CAST(sum(s) AS BIGINT) AS n FROM nodes),
         |pr0 AS MATERIALIZED (
         |  SELECT id, s * (1000000 // (SELECT n FROM ns)) AS pr FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |pr$i AS MATERIALIZED (
         |  SELECT nd.id,
         |    nd.s * (150000 // (SELECT n FROM ns))
         |      + (850 * coalesce(sc.c, 0)) // 1000 AS pr
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.pr // dg.deg) AS c
         |    FROM edges e JOIN pr${i - 1} p ON e.src = p.id
         |    JOIN deg dg ON dg.src = e.src
         |    GROUP BY e.dst) sc ON nd.id = sc.id)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT id AS doc_id, CAST(pr AS BIGINT) AS ppr_micro FROM pr$iters"
  }

  /** c13 hop cap: the audit horizon for contamination spread. */
  val BfsMaxDepth = 3

  /** Multi-source BFS depth (c13) — the "contamination blast radius"
    * audit: minimum hop count from ANY seed document (here the
    * benchmark stand-in corpus) through near-dup edges, capped at
    * `maxDepth` hops. Where d09/d17 flag direct contamination, this
    * answers the follow-up an auditor asks next: what else is one or
    * two near-dup steps away from a contaminated doc (the
    * paraphrase-of-a-paraphrase chain d17's pairwise threshold cuts
    * off)? Depth 0 = the seeds themselves.
    *
    * Determinism & scale: exactly `maxDepth` synchronous relaxation
    * rounds (fixed, so the oracle unrolls them as CTEs — the c09/c12
    * recipe); each round is one join on the materialized-once edge
    * table + a min-aggregation; frontiers never touch the driver;
    * localCheckpoint truncates the iterative lineage. Rounds = hop
    * cap, not graph diameter — the cap is the contract, so the
    * long-chain boundary CC needs star contraction for cannot arise.
    * Output: `(doc_id, depth)` for every doc within `maxDepth` hops. */
  def bfsDepth(pairs: DataFrame, a: String, b: String,
               sources: DataFrame, srcCol: String,
               maxDepth: Int): DataFrame = {
    val edges = pairs
      .select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .union(pairs.select(col(b).cast("long").as("src"),
        col(a).cast("long").as("dst")))
      .distinct()
      .localCheckpoint()
    // fixed relaxation count (the hop cap IS the contract) → unrolled
    // lazy rounds, ONE end-of-loop checkpoint (the pageRank note): one
    // materialization job instead of one per hop. Each round references
    // the previous dist twice (join + union), so the unrolled plan
    // holds 2^maxDepth copies of the seed subtree — at the capped 3
    // hops that is 8 copies of a cheap distinct whose identical
    // exchanges stage-cache under AQE, not the unbounded doubling the
    // CC fixpoint must checkpoint against.
    var dist = sources
      .select(col(srcCol).cast("long").as("id"), lit(0L).as("depth"))
      .distinct()
    for (_ <- 1 to maxDepth) {
      dist = edges
        .join(dist.withColumnRenamed("id", "src")
          .withColumnRenamed("depth", "sd"), Seq("src"))
        .select(col("dst").as("id"), (col("sd") + 1L).as("depth"))
        .union(dist)
        .groupBy(col("id")).agg(min(col("depth")).as("depth"))
    }
    dist.localCheckpoint().select(col("id").as("doc_id"), col("depth"))
  }

  /** The c13 unrolled-CTE oracle: d0 … d`maxDepth`, each round the
    * same relax-and-min the Spark loop computes. Composes over the
    * same pair SQL and seed predicate as the catalog query. */
  def bfsOracleSql(pairsSql: String, seedWhere: String,
                   maxDepth: Int): String = {
    val rounds = (1 to maxDepth).map { i =>
      s"""d$i AS (
         |  SELECT id, min(depth) AS depth FROM (
         |    SELECT e.dst AS id, d${i - 1}.depth + 1 AS depth
         |    FROM d${i - 1} JOIN edges e ON e.src = d${i - 1}.id
         |    UNION ALL
         |    SELECT id, depth FROM d${i - 1}) u
         |  GROUP BY id)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS ($pairsSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |d0 AS (
       |  SELECT DISTINCT doc_id AS id, CAST(0 AS BIGINT) AS depth
       |  FROM documents WHERE ($seedWhere)),
       |$rounds
       |SELECT id AS doc_id, CAST(depth AS BIGINT) AS depth
       |FROM d$maxDepth""".stripMargin
  }

  /** c12 iteration count: synchronous LPA on near-dup graphs settles
    * (or enters its stable alternation) within a few rounds. */
  val LpaIters = 3

  /** Label-propagation COMMUNITIES (c12) — the lighter-weight
    * community detector next to c01's connected components: every node
    * starts as its own label; each synchronous round a node adopts the
    * most frequent label among its NEIGHBORS (ties → smallest label).
    * Where CC answers "transitively linked at all?", LPA's majority
    * vote resists a single spurious bridge edge gluing two template
    * families together — the failure mode of pure connectivity on
    * near-dup graphs.
    *
    * Determinism: fixed `iters` synchronous rounds (the unrolled-CTE
    * oracle replays them exactly), integer counts, total-order
    * tie-break (count DESC, label ASC) — no convergence test, no
    * randomized ordering (asynchronous LPA is run-order-dependent; the
    * synchronous variant trades a possible 2-cycle oscillation for
    * replayability, which fixed iters make irrelevant).
    *
    * Scale shape: the edge table materializes ONCE (c09's lesson —
    * its lineage holds pair generation); each round is one join on
    * src + one (dst, label) count + one per-dst top-1 window
    * (WindowGroupLimit prunes map-side); labels never touch the
    * driver; localCheckpoint truncates the iterative lineage.
    * Output: `(doc_id, community)`. */
  def labelPropagation(pairs: DataFrame, a: String, b: String,
                       iters: Int): DataFrame = {
    val edges = pairs
      .select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
      .union(pairs.select(col(b).cast("long").as("src"),
        col(a).cast("long").as("dst")))
      .distinct()
      .localCheckpoint()
    val nodes = edges.select(col("src")).distinct()
    // fixed synchronous rounds → unrolled lazy plan + ONE end-of-loop
    // checkpoint (the pageRank note): lab is referenced once per round,
    // so lineage grows linearly and a single materialization job
    // replaces one per round
    var lab = nodes.select(col("src").as("id"), col("src").as("lbl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("c").desc, col("lbl"))
    for (_ <- 1 to iters) {
      val pick = edges
        .join(lab.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("id"), col("lbl").as("_new"))
      lab = nodes.select(col("src").as("id"))
        .join(pick, Seq("id"), "left")
        .select(col("id"), coalesce(col("_new"), col("id")).as("lbl"))
    }
    lab.localCheckpoint()
      .select(col("id").as("doc_id"), col("lbl").as("community"))
  }

  /** The c12 synchronous rounds as a generated unrolled-CTE chain
    * (the k04/c09 oracle pattern). */
  def lpaOracleSql(pairsSql: String, iters: Int): String = {
    val head =
      s"""WITH pairs AS ($pairsSql),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |nodes AS (SELECT DISTINCT src FROM edges),
         |l0 AS (SELECT src AS id, src AS lbl FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |p$i AS (
         |  SELECT id, lbl FROM (
         |    SELECT e.dst AS id, p.lbl, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, p.lbl) AS rn
         |    FROM edges e JOIN l${i - 1} p ON e.src = p.id
         |    GROUP BY e.dst, p.lbl) t
         |  WHERE rn = 1),
         |l$i AS (
         |  SELECT n.src AS id, coalesce(p.lbl, n.src) AS lbl
         |  FROM nodes n LEFT JOIN p$i p ON n.src = p.id)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT id AS doc_id, lbl AS community FROM l$iters"
  }

  /** Community MODULARITY (c17) — Newman's Q for a node→community
    * assignment over the near-dup graph, the quality score that says
    * whether c12's communities are real structure or noise: per
    * community c, contrib(c) = L_c/m − (d_c/2m)², where L_c =
    * intra-community edges, d_c = summed member degrees, m = total
    * undirected edges; Q = Σ contrib. A partition with Q near 0 is no
    * better than random wiring — the gate a pipeline checks before
    * trusting per-community decisions (keeper election, split
    * atomicity) downstream.
    *
    * Exact integer contract: contrib(c) = (4·m·L_c − d_c²) / (4m²) —
    * numerator and denominator are exact integer counts, published in
    * micro-units via magnitude division (sign split keeps Spark's
    * truncating `div` and DuckDB's flooring `//` in agreement on the
    * negative contributions, the q46 recipe). Long bounds: |num·1e6| ≤
    * 4m²·1e6, safe through m ≈ 7.5e5 edges per evaluated graph — far
    * above any near-dup pair table this engine materializes per
    * corpus shard; re-quantize to q3 before that bound bites.
    *
    * Scale shape: one edge canonicalize + distinct, two broadcast-able
    * joins against the (nodes-sized) label table, then community-keyed
    * counts — everything collapses map-side; the 1-row m frame is the
    * only crossJoin. Output: `(community, n_nodes, degree_sum,
    * intra_edges, contrib_q6)`. */
  def modularity(pairs: DataFrame, a: String, b: String,
                 communities: DataFrame): DataFrame = {
    val edges = pairs.select(
        least(col(a).cast("long"), col(b).cast("long")).as("u"),
        greatest(col(a).cast("long"), col(b).cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val lab = communities.select(col("doc_id").cast("long").as("id"),
      col("community").cast("long").as("comm"))
    val eLab = edges
      .join(lab.select(col("id").as("u"), col("comm").as("cu")), Seq("u"))
      .join(lab.select(col("id").as("v"), col("comm").as("cv")), Seq("v"))
    val intra = eLab.filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("intra_edges"))
    val degc = eLab.select(col("cu").as("community"))
      .union(eLab.select(col("cv").as("community")))
      .groupBy(col("community")).agg(count(lit(1)).as("degree_sum"))
    val m = edges.agg(count(lit(1)).as("m_edges"))
    lab.groupBy(col("comm").as("community")).agg(count(lit(1)).as("n_nodes"))
      .join(degc, Seq("community"), "left")
      .join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("degree_sum", "intra_edges"))
      .crossJoin(broadcast(m))
      .withColumn("num",
        lit(4L) * col("m_edges") * col("intra_edges")
          - col("degree_sum") * col("degree_sum"))
      .withColumn("contrib_q6",
        when(col("num") >= 0,
          expr("(num * 1000000L) div (4 * m_edges * m_edges)"))
          .otherwise(-expr("((-num) * 1000000L) div (4 * m_edges * m_edges)")))
      .select(col("community"), col("n_nodes"), col("degree_sum"),
        col("intra_edges"), col("contrib_q6"))
  }

  /** THRESHOLD STABILITY (c18) — how a near-dup clustering decomposes
    * when the similarity threshold tightens: per τ=base cluster, how
    * many τ=strict sub-clusters it splits into and how dominant the
    * largest is. The readout a dedup deployment checks before
    * committing to a threshold — a cluster that shatters into many
    * small sub-clusters at τ+0.15 was glued by borderline edges
    * (paraphrase drift), while one that stays whole is a genuine
    * template family; keeper election and split atomicity (c06/c10)
    * are only trustworthy on the stable kind.
    *
    * The strict pair set is the SAME pair table filtered at the
    * higher jaccard — candidate generation, df cap, and the exact
    * jaccard are shared, so "stricter" means exactly the same
    * machinery with a higher cut, on both engines. Docs in no strict
    * pair are their own singleton sub-cluster. Scale shape: one extra
    * CC fixpoint over the (smaller) strict pair set plus two
    * cluster-keyed counts; the τ=base component table is the shared
    * memo. Output: `(cluster_id, n_members, n_subclusters,
    * max_sub_q6)`. */
  def thresholdStability(pairs: DataFrame, a: String, b: String,
                         jac: String, tauStrict: Double,
                         comp: DataFrame): DataFrame = {
    val sub = connectedComponents(pairs.filter(col(jac) >= tauStrict), a, b)
      .select(col("doc_id"), col("cluster_id").as("_sub0"))
    comp
      .join(sub, Seq("doc_id"), "left")
      .withColumn("sub", coalesce(col("_sub0"), col("doc_id")))
      .groupBy(col("cluster_id"), col("sub"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("cluster_id"))
      .agg(sum(col("c")).as("n_members"),
        count(lit(1)).as("n_subclusters"),
        expr("(max(c) * 1000000L) div sum(c)").as("max_sub_q6"))
  }

  /** Per-node TRIANGLE participation (c11) — the local-clustering
    * readout over the near-dup graph: a doc in many triangles sits in a
    * dense clique (template/boilerplate family, the c09 hubs confirmed
    * structurally), while a doc in a long chain of pairwise matches has
    * none — the signal that separates "one template, many fills" from
    * "chained paraphrase drift", which c01's components cannot see.
    *
    * The classic distributed shape: canonicalize each edge to u<v, then
    * ONE self-join path e1(x,y)⋈e2(y,z)⋈e3(x,z) — with ordered edges,
    * every triangle x<y<z materializes exactly once, so no /3 fudge and
    * no double counting. Each join shuffles on its (long) key only;
    * near-dup graphs are sparse so the wedge frame stays edge-bounded.
    * Output: `(doc_id, n_triangles)` — docs in ≥1 triangle. */
  def triangleCounts(pairs: DataFrame, a: String, b: String): DataFrame = {
    val e = pairs.select(
        least(col(a).cast("long"), col(b).cast("long")).as("u"),
        greatest(col(a).cast("long"), col(b).cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
  }

  /** LEAKAGE-SAFE split assignment (c10) — the correctness fix to s03
    * that near-dup-aware pipelines need: hash-splitting on `doc_id`
    * sends two near-duplicates to train and test independently, so the
    * test set silently contains paraphrases of training documents
    * (train/test contamination via duplication). The fix: every member
    * of a near-dup cluster inherits its cluster REPRESENTATIVE's id
    * (the CC min-label keeper), and the split coin is flipped on the
    * representative — a whole cluster lands in one split, atomically.
    * Docs outside any cluster are their own representative, so on a
    * dup-free corpus c10 degenerates to s03 exactly.
    *
    * Scale shape: the component table is dup-docs-sized (tiny relative
    * to the corpus) so it broadcasts onto the corpus scan; the split
    * itself stays [[Sampling.splitAssign]]'s zero-shuffle map-side
    * expression, now over `rep_id`. Same stability contract as s03:
    * membership is a pure function of (rep graph, id), so re-runs and
    * corpus growth never migrate a cluster between splits unless the
    * cluster itself changes. Output: `(doc_id, rep_id, split)`. */
  def leakSafeSplit(docs: DataFrame, id: String,
                    pairs: DataFrame, a: String, b: String,
                    splits: Seq[(String, Double)]): DataFrame =
    leakSafeSplitFromComponents(docs, id, connectedComponents(pairs, a, b),
      splits)

  /** [[leakSafeSplit]] over a precomputed component table. */
  def leakSafeSplitFromComponents(docs: DataFrame, id: String,
                                  components: DataFrame,
                                  splits: Seq[(String, Double)]): DataFrame = {
    val comp = components
      .select(col("doc_id").as(id), col("cluster_id"))
    val withRep = docs.select(col(id))
      .join(broadcast(comp), Seq(id), "left")
      .withColumn("rep_id", coalesce(col("cluster_id"), col(id).cast("long")))
    Sampling.splitAssign(withRep, "rep_id", splits)
      .select(col(id), col("rep_id"), col("split"))
  }

  /** c15 k-core parameters: the 2-core keeps only docs inside cyclic
    * near-dup structure (cliques of exact/near variants) — peeled in a
    * fixed round budget, which converges long before 6 on bounded-size
    * dup clusters. */
  val KCoreK = 2
  val KCoreRounds = 6

  /** k-CORE decomposition readout (c15): iteratively peel nodes of
    * degree < k from the near-dup graph; what survives is the densely
    * interconnected boilerplate — template families and mass-duplicated
    * chrome that pairwise Jaccard flags edge-by-edge but only the core
    * structure identifies as a COHESIVE block (a tree of borderline
    * matches peels away entirely; a clique of template instances
    * stays). Output: `(v, deg)` — surviving nodes with their degree in
    * the final peeled edge set.
    *
    * Fixed `rounds` of synchronous peeling, NOT run-to-fixpoint: like
    * c13's hop cap, the round budget bounds the job count at any graph
    * size (the oracle unrolls the identical rounds, so parity holds
    * whether or not the peel has converged). Each round is one
    * degree aggregation + two semi-joins on the shrinking edge set;
    * `localCheckpoint` truncates lineage so round r never re-runs
    * candidate generation. */
  def kCore(pairs: DataFrame, a: String, b: String, k: Int,
            rounds: Int): DataFrame = {
    var edges = pairs
      .select(col(a).cast("long").as("a"), col(b).cast("long").as("b"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val keep = edges.select(col("a").as("v"))
        .union(edges.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("v"))
      edges = edges
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint()
    }
    edges.select(col("a").as("v")).union(edges.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
  }

  /** The c15 peel as a generated unrolled-CTE chain (the c09/c13
    * pattern): e0 … e`rounds`, each round filtering the previous edge
    * set to endpoints whose degree within it is ≥ k. */
  def kCoreOracleSql(pairsSql: String, k: Int, rounds: Int): String = {
    // MATERIALIZED, not plain CTEs: DuckDB inlines CTEs by default, and
    // each peel round references its predecessor 3× — inlined, that's
    // 3^rounds copies of the whole pair-generation subtree (it showed
    // up as "too many open files" at 6 rounds)
    val head =
      s"""WITH pairs AS MATERIALIZED ($pairsSql),
         |e0 AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs)""".stripMargin
    val peels = (1 to rounds).map { r =>
      s"""k$r AS MATERIALIZED (
         |  SELECT v FROM (
         |    SELECT v, count(*) AS deg FROM (
         |      SELECT a AS v FROM e${r - 1} UNION ALL SELECT b AS v FROM e${r - 1}) u
         |    GROUP BY v) d WHERE deg >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT v FROM k$r) AND b IN (SELECT v FROM k$r))""".stripMargin
    }
    (head +: peels).mkString(",\n") +
      s"""
         |SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS v FROM e$rounds UNION ALL SELECT b AS v FROM e$rounds) u
         |GROUP BY v""".stripMargin
  }

  /** Every c-family entry consumes the MATERIALIZED [[sharedPairs]] /
    * [[sharedComponents]] tables (and c03/c04 their minhash twins):
    * candidate generation and the CC fixpoint run once per session, not
    * once per query — the deployment shape, and the oracles are
    * unchanged because the shared tables are row-identical to the
    * per-query recomputation they replace. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the 2-core of the d02 near-dup graph: cohesive template blocks
    "c15_kcore" -> ((s, d) =>
      kCore(sharedPairs(s, d), "doc_a", "doc_b", KCoreK, KCoreRounds)),
    // contamination blast radius: hops from the benchmark stand-in
    // (src0) through the d02 near-dup graph, capped at BfsMaxDepth
    "c13_contamination_radius" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      bfsDepth(sharedPairs(s, d), "doc_a", "doc_b",
        docs.filter(col("source") === "src0"), "doc_id", BfsMaxDepth)
    }),
    // clusters over the d02 near-dup pairs: every doc that has at least
    // one near-dup, labeled with its cluster's canonical keeper
    "c01_dup_clusters" -> ((s, d) => sharedComponents(s, d)),
    // c19: label maintenance — standing clusters built from the
    // even-doc pairs, the pairs touching odd docs arriving as the
    // delta; the star-contracted merge must reproduce the full
    // recompute (c01's oracle verbatim)
    "c19_incremental_cc" -> ((s, d) => {
      val pairs = sharedPairs(s, d)
      val standing = connectedComponents(
        pairs.filter(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0),
        "doc_a", "doc_b")
      mergeComponents(standing,
        pairs.filter(col("doc_a") % 2 =!= 0 || col("doc_b") % 2 =!= 0))
    }),
    // the deduplicated corpus: near-dup clusters keep their min-id doc
    "c02_dedup_corpus" -> ((s, d) =>
      dedupCorpusFromComponents(Tables.documents(s, d), "doc_id",
        sharedComponents(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),
    // c01/c02 over the SCALE pair source: d08's band-then-verify
    // (minhashVerifiedPairs) — the pipeline a corpus-scale user actually
    // runs, where candidate generation is band-bounded instead of
    // bucket-expanded. Composed oracle: the d08 pair SQL feeds the same
    // recursive-CTE fixpoint.
    "c03_clusters_minhash" -> ((s, d) => sharedMinhashComponents(s, d)),
    "c04_dedup_minhash" -> ((s, d) =>
      dedupCorpusFromComponents(Tables.documents(s, d), "doc_id",
        sharedMinhashComponents(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),
    "c05_semantic_dedup" -> ((s, d) =>
      semanticDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        Similarity.KmeansK, Similarity.KmeansIters, SemDedupTau)),
    // per-source duplication observability over the d02 pair source
    "c07_dup_rate" -> ((s, d) =>
      dupRateByStratumFromComponents(Tables.documents(s, d), "doc_id",
        "source", sharedComponents(s, d))),
    // soft dedup: per-doc 1/|cluster| loss weights over the same pairs
    "c14_dedup_weights" -> ((s, d) =>
      dedupWeightsFromComponents(Tables.documents(s, d), "doc_id",
        sharedComponents(s, d))),
    // c02 with the keeper chosen by quality (longest doc) instead of
    // min id — what a curation pipeline actually keeps
    "c06_dedup_keep_best" -> ((s, d) =>
      dedupCorpusBestFromComponents(Tables.documents(s, d), "doc_id",
        "n_chars", sharedComponents(s, d))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),
    // cluster-size histogram: the shape of the duplication problem at a
    // glance (many pairs vs few huge template clusters) — two tiny
    // aggregations over the component table
    "c08_cluster_sizes" -> ((s, d) =>
      clusterSummary(sharedComponents(s, d))
        .groupBy(col("n_members").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))),
    // rank centrality over the same near-dup graph
    "c09_pagerank" -> ((s, d) =>
      pageRank(sharedPairs(s, d), "doc_a", "doc_b", PageRankIters)),
    // graded benchmark relevance: teleport pinned to the src0 seeds
    "c16_ppr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      personalizedPageRank(sharedPairs(s, d), "doc_a", "doc_b",
        docs.filter(col("source") === "src0"), "doc_id", PageRankIters)
    }),
    // majority-vote communities over the same near-dup graph
    "c12_label_prop" -> ((s, d) => sharedCommunities(s, d)),
    "c17_modularity" -> ((s, d) =>
      modularity(sharedPairs(s, d), "doc_a", "doc_b",
        sharedCommunities(s, d))),
    "c18_threshold_stability" -> ((s, d) =>
      thresholdStability(sharedPairs(s, d), "doc_a", "doc_b",
        "jaccard", 0.75, sharedComponents(s, d))),
    // contamination-free train/val/test: split on the cluster keeper
    "c10_leak_safe_split" -> ((s, d) =>
      leakSafeSplitFromComponents(Tables.documents(s, d), "doc_id",
        sharedComponents(s, d), Sampling.DefaultSplits)),
    // clique density per doc over the same near-dup graph
    "c11_triangles" -> ((s, d) =>
      triangleCounts(sharedPairs(s, d), "doc_a", "doc_b")))

  /** The recursive connected-components fixpoint as oracle SQL: the
    * `edges → comp → lab(id, cluster)` CTE chain over a pair source.
    * Shared by c01–c04, c06, and composed pipelines (p03) — one text,
    * not N copies to keep coordinated. `withLab = false` stops at
    * `comp` for the c01/c03 form that aggregates labels itself. */
  def componentsCte(pairsSql: String, withLab: Boolean = true): String = {
    val base =
      s"""pairs AS ($pairsSql),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |comp(id, label) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, c.label FROM comp c JOIN edges e ON e.src = c.id)""".stripMargin
    if (withLab)
      base + ",\nlab AS (SELECT id, min(label) AS cluster FROM comp GROUP BY id)"
    else base
  }

  /** The c09 fixed-point power iteration as a generated unrolled-CTE
    * chain (the k04 kmeansOracleSql pattern): pr0 … pr`iters`, each
    * round the same integer teleport + damped contribution sum the
    * Spark loop computes. `//` (DuckDB) ≡ `div` (Spark) on the
    * non-negative longs involved. */
  def pageRankOracleSql(pairsSql: String, iters: Int): String = {
    val head =
      s"""WITH pairs AS ($pairsSql),
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM deg),
         |pr0 AS (SELECT src AS id, 1000000 // (SELECT n FROM nn) AS pr FROM deg)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s""",
         |pr$i AS (
         |  SELECT d.src AS id,
         |    150000 // (SELECT n FROM nn)
         |      + (850 * coalesce(s.c, 0)) // 1000 AS pr
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.pr // dg.deg) AS c
         |    FROM edges e JOIN pr${i - 1} p ON e.src = p.id
         |    JOIN deg dg ON dg.src = e.src
         |    GROUP BY e.dst) s ON d.src = s.id)""".stripMargin
    }.mkString
    head + rounds +
      s"\nSELECT id AS doc_id, CAST(pr AS BIGINT) AS pr_micro FROM pr$iters"
  }

  def oracle: Map[String, String] = {
    val m = oracleBase
    // c19's merged labels equal the full recompute by construction
    // (star contraction preserves connectivity) — shared oracle
    m + ("c19_incremental_cc" -> m("c01_dup_clusters"))
  }

  private def oracleBase: Map[String, String] = Map(
    "c15_kcore" ->
      kCoreOracleSql(Dedup.oracle("d02_ngram_jaccard"), KCoreK, KCoreRounds),
    "c16_ppr" ->
      pprOracleSql(Dedup.oracle("d02_ngram_jaccard"),
        "source = 'src0'", PageRankIters),
    "c13_contamination_radius" ->
      bfsOracleSql(Dedup.oracle("d02_ngram_jaccard"),
        "source = 'src0'", BfsMaxDepth),
    // the same fixpoint as a recursive CTE: comp enumerates
    // (node, label-of-any-node-that-reaches-it); min per node = the
    // component minimum — identical to min-label propagation's fixpoint
    "c01_dup_clusters" ->
      s"""WITH RECURSIVE ${componentsCte(Dedup.oracle("d02_ngram_jaccard"), withLab = false)}
         |SELECT id AS doc_id, min(label) AS cluster_id FROM comp GROUP BY id""".stripMargin,
    "c02_dedup_corpus" ->
      s"""WITH RECURSIVE ${componentsCte(Dedup.oracle("d02_ngram_jaccard"))}
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM lab WHERE cluster < id)""".stripMargin,
    "c03_clusters_minhash" ->
      s"""WITH RECURSIVE ${componentsCte(Dedup.oracle("d08_minhash_verified"), withLab = false)}
         |SELECT id AS doc_id, min(label) AS cluster_id FROM comp GROUP BY id""".stripMargin,
    "c04_dedup_minhash" ->
      s"""WITH RECURSIVE ${componentsCte(Dedup.oracle("d08_minhash_verified"))}
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM lab WHERE cluster < id)""".stripMargin,
    "c07_dup_rate" ->
      s"""WITH RECURSIVE ${componentsCte(Dedup.oracle("d02_ngram_jaccard"))}
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN lab.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  CAST(round(sum(CASE WHEN lab.id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |             / count(*)::DOUBLE * 1000000.0) AS BIGINT) AS dup_rate_q6
         |FROM documents LEFT JOIN lab ON documents.doc_id = lab.id
         |GROUP BY source""".stripMargin,
    "c08_cluster_sizes" ->
      s"""WITH RECURSIVE ${componentsCte(Dedup.oracle("d02_ngram_jaccard"))},
         |sizes AS (SELECT cluster, count(*) AS sz FROM lab GROUP BY cluster)
         |SELECT sz AS cluster_size, count(*) AS n_clusters
         |FROM sizes GROUP BY sz""".stripMargin,
    // c14 — same CC fixpoint + cluster sizes; 10⁶ // size is exact
    // integer division on both engines, absent rows weight 10⁶
    "c14_dedup_weights" ->
      s"""WITH RECURSIVE ${componentsCte(Dedup.oracle("d02_ngram_jaccard"))},
         |sizes AS (SELECT cluster, count(*) AS sz FROM lab GROUP BY cluster)
         |SELECT d.doc_id,
         |  coalesce(1000000 // s.sz, 1000000) AS weight_q6
         |FROM documents d
         |LEFT JOIN lab l ON l.id = d.doc_id
         |LEFT JOIN sizes s ON s.cluster = l.cluster""".stripMargin,
    "c09_pagerank" ->
      pageRankOracleSql(Dedup.oracle("d02_ngram_jaccard"), PageRankIters),
    "c12_label_prop" ->
      lpaOracleSql(Dedup.oracle("d02_ngram_jaccard"), LpaIters),
    // c18 — the 0.6 CC chain (shared `pairs` CTE carries jaccard), a
    // second prefixed recursive CC over the >= 0.75 filter of the SAME
    // pair table, singleton fallback to own id, integer ratios
    "c18_threshold_stability" ->
      s"""WITH RECURSIVE ${componentsCte(Dedup.oracle("d02_ngram_jaccard"))},
         |p75 AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.75),
         |e75 AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM p75
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM p75),
         |c75(id, label) AS (
         |  SELECT src, src FROM e75
         |  UNION
         |  SELECT e.dst, c.label FROM c75 c JOIN e75 e ON e.src = c.id),
         |l75 AS (SELECT id, min(label) AS sub FROM c75 GROUP BY id),
         |m AS (
         |  SELECT lab.id, lab.cluster, coalesce(l75.sub, lab.id) AS sub
         |  FROM lab LEFT JOIN l75 ON l75.id = lab.id),
         |sz AS (SELECT cluster, sub, CAST(count(*) AS BIGINT) AS c
         |       FROM m GROUP BY 1, 2)
         |SELECT cluster AS cluster_id, CAST(sum(c) AS BIGINT) AS n_members,
         |  CAST(count(*) AS BIGINT) AS n_subclusters,
         |  (max(c) * 1000000) // CAST(sum(c) AS BIGINT) AS max_sub_q6
         |FROM sz GROUP BY cluster""".stripMargin,
    // c17 — the c12 LPA chain as a CTE, then pure integer edge/degree
    // counts and the q46 magnitude-division CASE for signed contribs
    "c17_modularity" ->
      s"""WITH lpa AS (${lpaOracleSql(Dedup.oracle("d02_ngram_jaccard"), LpaIters)}),
         |p2 AS (${Dedup.oracle("d02_ngram_jaccard")}),
         |e AS (
         |  SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
         |  FROM p2 WHERE doc_a <> doc_b),
         |lab AS (SELECT doc_id AS id, community AS comm FROM lpa),
         |el AS (
         |  SELECT e.u, e.v, lu.comm AS cu, lv.comm AS cv
         |  FROM e JOIN lab lu ON lu.id = e.u JOIN lab lv ON lv.id = e.v),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM e),
         |nn AS (SELECT comm AS community, CAST(count(*) AS BIGINT) AS n_nodes
         |  FROM lab GROUP BY 1),
         |dg AS (SELECT community, CAST(count(*) AS BIGINT) AS degree_sum FROM (
         |  SELECT cu AS community FROM el UNION ALL SELECT cv FROM el) z GROUP BY 1),
         |ia AS (SELECT cu AS community, CAST(count(*) AS BIGINT) AS intra_edges
         |  FROM el WHERE cu = cv GROUP BY 1),
         |j AS (
         |  SELECT nn.community, nn.n_nodes,
         |    coalesce(dg.degree_sum, 0) AS degree_sum,
         |    coalesce(ia.intra_edges, 0) AS intra_edges, m.m_edges
         |  FROM nn LEFT JOIN dg ON dg.community = nn.community
         |    LEFT JOIN ia ON ia.community = nn.community, m)
         |SELECT community, n_nodes, degree_sum, intra_edges,
         |  CASE WHEN 4 * m_edges * intra_edges - degree_sum * degree_sum >= 0
         |    THEN ((4 * m_edges * intra_edges - degree_sum * degree_sum) * 1000000)
         |      // (4 * m_edges * m_edges)
         |    ELSE -(((degree_sum * degree_sum - 4 * m_edges * intra_edges) * 1000000)
         |      // (4 * m_edges * m_edges))
         |  END AS contrib_q6
         |FROM j""".stripMargin,
    // c11 — identical ordered-edge wedge join; every triangle x<y<z
    // appears once, each member credited via unnest
    "c11_triangles" ->
      s"""WITH pairs AS (${Dedup.oracle("d02_ngram_jaccard")}),
         |e AS (
         |  SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
         |  FROM pairs WHERE doc_a <> doc_b),
         |tri AS (
         |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
         |  FROM e e1 JOIN e e2 ON e1.v = e2.u
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |m AS (SELECT unnest([x, y, z]) AS doc_id FROM tri)
         |SELECT doc_id, count(*) AS n_triangles FROM m GROUP BY doc_id""".stripMargin,
    // c10 — the same CC fixpoint, rep = cluster label (else own id),
    // then s03's split CASE verbatim over rep_id
    "c10_leak_safe_split" ->
      s"""WITH RECURSIVE ${componentsCte(Dedup.oracle("d02_ngram_jaccard"))},
         |rep AS (
         |  SELECT d.doc_id, CAST(coalesce(l.cluster, d.doc_id) AS BIGINT) AS rep_id
         |  FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
         |SELECT doc_id, rep_id,
         |  ${Sampling.splitSql("rep_id", Sampling.DefaultSplits)} AS split
         |FROM rep""".stripMargin,
    "c06_dedup_keep_best" ->
      s"""WITH RECURSIVE ${componentsCte(Dedup.oracle("d02_ngram_jaccard"))},
         |ranked AS (
         |  SELECT l.id,
         |    row_number() OVER (PARTITION BY l.cluster
         |                       ORDER BY d.n_chars DESC, l.id) AS rk
         |  FROM lab l JOIN documents d ON d.doc_id = l.id)
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rk > 1)""".stripMargin,
    // c05 — the k04 kmeans CTE chain (shared generator) + within-cluster
    // cosine dominance over the final assignment
    "c05_semantic_dedup" -> Similarity.kmeansOracleSql(
      Similarity.KmeansK, Similarity.KmeansIters, body =
        s""",
           |nv AS (
           |  SELECT q.vec_id, a.cluster, q.v,
           |    sqrt(reduce(list_prepend(0.0, list_transform(q.v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           |  FROM q JOIN a${Similarity.KmeansIters} a USING (vec_id)),
           |dup AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM nv a JOIN nv b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           |  WHERE reduce(list_prepend(0.0, list_transform(range(1, 65), i -> a.v[i] * b.v[i])), (acc, x) -> acc + x)
           |      / (a.nrm * b.nrm) >= $SemDedupTau)
           |SELECT n.vec_id, n.cluster, (d.vec_id IS NOT NULL) AS is_dup
           |FROM nv n LEFT JOIN dup d ON n.vec_id = d.vec_id""".stripMargin))
}
