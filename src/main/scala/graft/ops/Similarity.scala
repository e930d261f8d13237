package graft.ops

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (SURVEY.md §7.5):
  * brute-force cosine top-k as the correctness baseline, a
  * random-hyperplane LSH-bucketed variant, and an IVF-style two-stage
  * search — public parameterized functions, instantiated on the harness
  * `embeddings` table by the `queries` map.
  *
  * Scale reasoning:
  *  - brute force is O(probes × corpus): fine when the probe set is
  *    small (it broadcasts) — the corpus side streams through one
  *    codegen'd map stage plus a per-probe top-k window. It is the
  *    exact-answer baseline the approximate variants are judged against.
  *  - the LSH variant buckets the corpus ONCE by 4 signed random
  *    hyperplanes (16 buckets) and joins probe→bucket, so per-probe work
  *    drops to corpus/16; at 1000 executors the bucket key is the
  *    shuffle key and no pair outside a shared bucket is ever scored.
  *    Hyperplane weights are integer-valued and derived from a public
  *    LCG formula so the DuckDB oracle reproduces the same buckets
  *    bit-for-bit.
  *  - the IVF variant coarse-quantizes by cell centroid (stage 1) and
  *    searches exactly only within the chosen cell (stage 2).
  *
  * All float math is double-widened and left-folded in index order via
  * the native [[graft.functions.DotProduct]] — bit-identical across
  * engines (see Dedup.cosineNearDup note).
  */
object Similarity {
  val NumProbes = 10
  val TopK = 5
  val NumPlanes = 4

  /** Integer hyperplane weights w(i,j) from an LCG over (i,j) — portable
    * to SQL as a literal list. `dims` strides the plane index so any
    * embedding width gets a distinct deterministic weight matrix. */
  def weight(i: Int, j: Int, dims: Int = 64): Long =
    ((1103515245L * (i * dims + j) + 12345L) % 2039L) - 1019L

  /** Element quantization scale for the IVF centroid sums: a power of
    * two, so `x * Quant` only shifts the exponent (exact in IEEE) and
    * `floor` lands on the same integer in every engine. */
  val Quant = 1048576L

  /** The EMBEDDING-ENCODER revision every persisted vector artifact is
    * a function of. The harness embeddings are fixed test data, so
    * this is a literal; a real deployment sets it to the model
    * checkpoint hash that produced the vectors. Baked into each
    * store family's version fingerprint below: re-encoding the corpus
    * bumps this, and every stale persisted index then FAILS AT LOAD
    * instead of silently serving near-zero recall (the
    * [[IndexMeta]] contract, closed over the vector seam — a PQ code
    * or coarse cell is meaningless against vectors from a different
    * encoder, but nothing about the parquet bytes says so). */
  val EncoderVersion = "emb-v1"

  /** Version fingerprint of a persisted PQ index ([[pqWriteIndex]]):
    * encoder revision + every constant the codes/codebooks are a
    * function of. Derived from the live constants, so changing any of
    * them auto-invalidates stale stores. */
  def pqVersion: String =
    s"graft-pq-1 $EncoderVersion dims=64 m=$PqSubspaces k=$PqK " +
      s"iters=$PqIters quant=$Quant"

  /** Version fingerprint of a persisted SQ8 index ([[sqWriteIndex]]). */
  def sqVersion: String =
    s"graft-sq8-1 $EncoderVersion dims=64 quant=$Quant"

  /** Version fingerprint of a persisted IVF coarse quantizer
    * ([[ivfWriteCoarse]]). */
  def ivfVersion: String =
    s"graft-ivf-1 $EncoderVersion dims=64 k=$KmeansK " +
      s"iters=$KmeansIters quant=$Quant"

  private def cosCol: Column =
    dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))

  /** Normalize caller columns to `(vec_id, v, nrm)`. */
  private def prep(vectors: DataFrame, id: String, vec: String): DataFrame = {
    vectors.select(col(id).as("vec_id"), col(vec).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  private def topKPerProbe(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("cos"))
  }

  /** Exact k-NN: rows matching `isProbe` (on the id column) broadcast
    * against the corpus; top-k per probe by cosine.
    * Output: `(probe_id, rnk, neighbor_id, cos)`. */
  def knnBrute(vectors: DataFrame, id: String, vec: String,
               isProbe: Column => Column, k: Int): DataFrame = {
    val v = prep(vectors, id, vec)
    val probes = v.filter(isProbe(col("vec_id")))
    topKPerProbe(
      v.as("b").join(broadcast(probes.as("a")),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("probe_id"), col("b.vec_id").as("neighbor_id"),
          cosCol.as("cos")), k)
  }

  /** k-NN CLASSIFICATION (k13) — label held-out probe vectors by
    * majority vote over their k nearest labeled neighbors: the
    * classic nonparametric classifier, and the shape of
    * label-propagation QA over an embedded corpus ("does the corpus'
    * own geometry reproduce the labels we assigned?"). Probes are
    * EXCLUDED from the voting corpus (train/test split, not just
    * self-exclusion), votes are integer counts, and both the rank
    * boundary and the vote winner break ties deterministically
    * (neighbor id; then smaller label).
    *
    * Scale shape = [[knnBrute]]: probes broadcast, one corpus pass,
    * rank window per probe; the vote is a probe-cardinality
    * aggregation after the top-k prune, so it costs nothing at any
    * corpus size. Output: `(probe_id, pred_label, n_votes,
    * true_label, correct)`. */
  def knnClassify(vectors: DataFrame, id: String, vec: String,
                  label: String, isProbe: Column => Column,
                  k: Int): DataFrame = {
    val v = vectors.select(col(id).as("vec_id"), col(vec).as("v"),
        col(label).as("lbl"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val probes = v.filter(isProbe(col("vec_id")))
    val corpus = v.filter(!isProbe(col("vec_id")))
    val wRank = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    corpus.as("b").crossJoin(broadcast(probes.as("a")))
      .select(col("a.vec_id").as("probe_id"), col("a.lbl").as("true_label"),
        col("b.vec_id").as("neighbor_id"), col("b.lbl").as("n_label"),
        cosCol.as("cos"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
      .groupBy(col("probe_id"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("n_votes"))
      // majority vote as an aggregate argmax (votes DESC, label ASC —
      // unique prefix), not a per-probe row_number sort: same rows, one
      // fewer window exchange+sort in the plan
      .groupBy(col("probe_id"))
      .agg(min(struct((-col("n_votes")).as("nv"), col("n_label").as("n_label"),
        col("n_votes").as("n_votes"),
        col("true_label").as("true_label"))).as("b"))
      .select(col("probe_id"),
        col("b.n_label").cast("long").as("pred_label"),
        col("b.n_votes").as("n_votes"),
        col("b.true_label").cast("long").as("true_label"),
        (col("b.n_label") === col("b.true_label")).as("correct"))
  }

  /** FILTERED k-NN (k06) — "hybrid search": top-k nearest among only
    * the vectors satisfying a METADATA predicate (the filtered-ANN
    * feature of every production vector store: "nearest products in
    * stock", "nearest docs with this license"). Probes come from the
    * full set; only the eligible corpus is scored.
    *
    * The predicate applies to the RAW frame before projection, so it
    * sits directly on the scan — at any scale the ineligible vectors
    * never leave the parquet reader (`PushedFilters`, pinned by
    * PlanAssertionsSpec), which is the pre-filter strategy; a
    * post-filter ANN (search-then-filter) under-fills k when the
    * predicate is selective. Output shape = [[knnBrute]]. */
  def knnFiltered(vectors: DataFrame, id: String, vec: String,
                  isProbe: Column => Column, corpusFilter: Column,
                  k: Int): DataFrame = {
    val corpus = prep(vectors.filter(corpusFilter), id, vec)
    val probes = prep(vectors, id, vec).filter(isProbe(col("vec_id")))
    topKPerProbe(
      corpus.as("b").join(broadcast(probes.as("a")),
          col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("probe_id"), col("b.vec_id").as("neighbor_id"),
          cosCol.as("cos")), k)
  }

  /** MAXIMUM INNER-PRODUCT search (k16) — top-k by raw dot product,
    * not cosine: the retrieval mode of recommendation / two-tower
    * models, where the corpus norms CARRY signal (a popular item's
    * longer embedding should outrank an equally-aligned niche one) and
    * cosine's normalization would erase it.
    *
    * Plan shape = [[knnBrute]]: probes broadcast, one codegen'd corpus
    * pass, per-probe top-k window (WindowGroupLimit prunes map-side).
    * The score is the exact left-folded [[graft.functions.DotProduct]],
    * so rank order is bit-identical to the oracle's.
    *
    * Sublinear serving note: MIPS is not LSH-able directly (inner
    * product violates the triangle inequality), but the standard
    * norm-augmentation reduction (Bachrach et al., RecSys'14) maps it
    * to cosine search: append sqrt(M² − ‖x‖²) to each corpus vector
    * (M = max corpus norm) and 0 to each probe — augmented corpus
    * norms are all M, so augmented-cosine order = dot-product order
    * and the [[knnLsh]]/[[ivfKnn]]/[[pqAdcKnn]] index family applies
    * unchanged. This entry is the exact baseline that reduction is
    * measured against (recall metrics k07/k09 compose the same way).
    * Output: `(probe_id, rnk, neighbor_id, dot)`. */
  def mipsBrute(vectors: DataFrame, id: String, vec: String,
                isProbe: Column => Column, k: Int): DataFrame = {
    val v = prep(vectors, id, vec)
    val probes = v.filter(isProbe(col("vec_id")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("dot").desc, col("neighbor_id"))
    v.as("b").join(broadcast(probes.as("a")),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("probe_id"), col("b.vec_id").as("neighbor_id"),
        dot(col("a.v"), col("b.v")).as("dot"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("dot"))
  }

  /** Approximate k-NN: only candidates sharing the probe's LSH bucket
    * (sign bits of [[NumPlanes]] integer hyperplanes) are scored. Same
    * output shape as [[knnBrute]]; recall < 1 by construction. */
  def knnLsh(vectors: DataFrame, id: String, vec: String,
             isProbe: Column => Column, k: Int, dims: Int = 64): DataFrame = {
    val bitCols = (0 until NumPlanes).map { i =>
      val w = (0 until dims).map(j => s"${weight(i, j, dims)}D").mkString(", ")
      when(dot(col("v"), expr(s"array($w)")) > 0d, 1 << i).otherwise(0)
    }
    val v = prep(vectors, id, vec).withColumn("bucket", bitCols.reduce(_ + _))
    val probes = v.filter(isProbe(col("vec_id")))
    topKPerProbe(
      v.as("b").join(broadcast(probes.as("a")),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("probe_id"), col("b.vec_id").as("neighbor_id"),
          cosCol.as("cos")), k)
  }

  /** Recall@k of an approximate neighbor list against the exact one
    * (k07) — the evaluation harness an ANN deployment runs whenever the
    * index, the data distribution, or a knob (bands, nprobe, k) moves:
    * per probe, the fraction of the exact top-k the approximate index
    * recovered. Both inputs are `(probe_id, rnk, neighbor_id, …)`
    * frames (any of k01/k02/k03/k05/k06); the join is probe+neighbor
    * keyed over two k·probes-sized frames — negligible at any corpus
    * size, so measuring recall continuously is free.
    * Output: `(probe_id, n_hits, recall_q6)`. */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.select(col("probe_id"), col("neighbor_id"))
      .join(approx.select(col("probe_id"), col("neighbor_id"))
          .withColumn("_hit", lit(1L)),
        Seq("probe_id", "neighbor_id"), "left")
      .groupBy(col("probe_id"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_q6",
        round(col("n_hits").cast("double") / lit(k.toDouble) * lit(1e6))
          .cast("long"))

  /** IVF-style two-stage ANN: `cell` plays the coarse cells (a real
    * deployment would k-means them); stage 1 finds each probe's nearest
    * cell centroid, stage 2 searches exactly but ONLY within that cell —
    * per-probe work drops from O(corpus) to O(corpus / cells), and the
    * centroid table is a broadcast.
    *
    * Centroids are exact integer arithmetic: each element quantizes to
    * `floor(x · 2²⁰)` (power-of-two scale — the multiply is exact) and
    * sums per (cell, position). Integer sums are order-independent and
    * mergeable, so the aggregate partial is O(dims) per cell — a hot
    * cell never concentrates its vectors in one buffer (the previous
    * collect_list fold held O(cell·dims) and would OOM an executor at
    * 100×), and the result is deterministic AND expressible in portable
    * SQL, so k03 carries a full DuckDB oracle. Works for any embedding
    * width (no hardcoded dim). `nprobe` is the standard IVF recall knob:
    * search the `nprobe` nearest cells instead of 1 — cost scales
    * linearly, recall approaches exact as nprobe → cells (the harness
    * query keeps nprobe = 1, so the oracle is unchanged; callers tune
    * it per workload). Output:
    * `(probe_id, rnk, neighbor_id, cell, cos)`. */
  def ivfKnn(vectors: DataFrame, id: String, vec: String, cell: String,
             isProbe: Column => Column, k: Int, nprobe: Int = 1): DataFrame = {
    val v = vectors
      .select(col(id).as("vec_id"), col(vec).as("v"), col(cell).as("cell"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cents = vectors
      .select(col(cell).as("cell"),
        posexplode(expr(
          s"transform($vec, x -> cast(floor(cast(x as double) * ${Quant}D) as bigint))"))
          .as(Seq("pos", "q")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, sq, n))), " +
        s"s -> (cast(s.sq as double) / cast(s.n as double)) / ${Quant}D)")
        .as("centroid"))
      .withColumn("cnrm", sqrt(dot(col("centroid"), col("centroid"))))
    val probes = v.filter(isProbe(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
    val wCell = Window.partitionBy(col("probe_id"))
      .orderBy(col("ccos").desc, col("cell"))
    val probeCell = probes.crossJoin(broadcast(cents))
      .withColumn("ccos",
        dot(col("pv"), col("centroid")) / (col("pnrm") * col("cnrm")))
      .withColumn("crnk", row_number().over(wCell))
      .filter(col("crnk") <= nprobe)
      .select(col("probe_id"), col("pv"), col("pnrm"), col("cell"))
    val wK = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    v.join(broadcast(probeCell), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cell"),
        (dot(col("pv"), col("v")) / (col("pnrm") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(wK).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("cell"), col("cos"))
  }

  /** k-means defaults for the harness catalog entries (k04/k05). */
  val KmeansK = 8
  val KmeansIters = 3

  /** Seed-permutation hash for k-means init: affine family member 1 of
    * [[Hashing.MinHashA]] (member 0 belongs to the sampling operators),
    * with the pmod guard so negative ids stay fair. Portable to DuckDB
    * literal-for-literal. */
  private val SeedA = Hashing.MinHashA(1)
  private val SeedB = Hashing.MinHashB(1)
  private val SeedP = Hashing.P

  /** Deterministic distributed k-means (Lloyd's) over an embedding
    * column; returns the final assignment `(vec_id, cluster)`. This is
    * the IVF index *build* the k03 scaladoc promised ("a real deployment
    * would k-means them") — feed the result to [[ivfKnnTrained]].
    *
    * Determinism & oracle-parity choices (k04 carries a full DuckDB
    * oracle, generated by [[kmeansOracleSql]] as the unrolled CTE chain):
    *  - SEEDS: the k vectors with the smallest affine hash of their id —
    *    a fixed pseudo-random permutation every engine replays (`rand()`
    *    re-rolls per partition on recovery/repartition). Fetched with
    *    orderBy+limit = `TakeOrderedAndProject`: per-partition top-k then
    *    a k-row merge, NO single-partition global sort.
    *  - ASSIGN (spherical k-means): each vector goes to the centroid
    *    maximizing `dot(v, c)/|c|` — the cosine argmax (dividing by the
    *    constant `|v|` cannot change it), ties broken on cluster id. The
    *    k·dims centroid table broadcasts; the corpus side is one
    *    codegen'd map + a per-vector rank window.
    *  - UPDATE: member elements quantize to `floor(x·2²⁰)` (the
    *    power-of-two [[Quant]] trick from [[ivfKnn]]) so per-(cluster,
    *    pos) sums are order-independent longs — mergeable map-side
    *    partials, identical under any partitioning, bit-reproducible in
    *    DuckDB. Between iterations the k·dims sums come back to the
    *    driver (same O(k·d) driver state as Spark MLlib's KMeans — never
    *    data-sized) and go out as the next broadcast.
    *  - FIXED iteration count (no convergence predicate) keeps the SQL
    *    replay static; a cluster that loses all members drops out of
    *    later rounds in both engines alike.
    *
    * At 100 TB each iteration is one corpus scan plus a k·dims-bounded
    * shuffle — the canonical scalable k-means shape. Requires non-zero
    * vectors (a zero seed centroid would make the cosine undefined). */
  def kmeansAssign(vectors: DataFrame, id: String, vec: String,
                   k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, "k-means needs k >= 1 and iters >= 1")
    val spark = vectors.sparkSession
    import spark.implicits._
    val v = vectors.select(
        col(id).as("vec_id"),
        expr(s"transform($vec, x -> cast(x as double))").as("v"))
      .withColumn("qv",
        expr(s"transform(v, x -> cast(floor(x * ${Quant}D) as bigint))"))
    // scanned once per iteration (+ once for seeding) — cache for the
    // training loop, release before handing back the lazy assignment
    v.persist()
    try {
      val hc = expr(s"((((vec_id % ${SeedP}L + ${SeedP}L) % ${SeedP}L) " +
        s"* ${SeedA}L + ${SeedB}L) % ${SeedP}L)")
      // sort+limit+collect returns rows in sort order (TakeOrderedAndProject)
      val seed: Seq[(Long, Seq[Long], Long)] = v
        .select(col("qv"), hc.as("h"), col("vec_id"))
        .orderBy(col("h"), col("vec_id")).limit(k)
        .collect().toSeq.zipWithIndex
        .map { case (r, i) => ((i + 1).toLong, r.getSeq[Long](0), 1L) }

      def assign(cents: Seq[(Long, Seq[Long], Long)]): DataFrame = {
        val cdf = cents.toDF("cluster", "sq", "n")
          .withColumn("centroid", expr(
            s"transform(sq, s -> (cast(s as double) / cast(n as double)) / ${Quant}D)"))
          .withColumn("cnrm", sqrt(dot(col("centroid"), col("centroid"))))
          .select(col("cluster"), col("centroid"), col("cnrm"))
        // argmax as an AGGREGATE, not a window: a per-vector row_number
        // would sort k candidate rows per vector; min over the
        // (-score, cluster, qv) struct is the same unique argmax
        // (score DESC, cluster ASC — the (-score, cluster) prefix is
        // unique, so later fields never decide) with map-side partials
        // and no sort at corpus scale.
        v.crossJoin(broadcast(cdf))
          .withColumn("score", dot(col("v"), col("centroid")) / col("cnrm"))
          .groupBy(col("vec_id"))
          .agg(min(struct((-col("score")).as("ns"), col("cluster").as("cluster"),
            col("qv").as("qv"))).as("b"))
          .select(col("vec_id"), col("b.cluster").as("cluster"),
            col("b.qv").as("qv"))
      }

      var cents = seed
      var out: DataFrame = null
      for (i <- 1 to iters) {
        val a = assign(cents)
        if (i < iters)
          cents = a
            .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "q")))
            .groupBy(col("cluster"), col("pos"))
            .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
            .groupBy(col("cluster"))
            .agg(expr("transform(array_sort(collect_list(struct(pos, sq))), s -> s.sq)")
                .as("sq"),
              max(col("n")).as("n"))
            .collect().toSeq
            .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
            .sortBy(_._1)
        else out = a.select(col("vec_id"), col("cluster"))
      }
      out
    } finally v.unpersist(false)
  }

  /** [[ivfKnn]] over TRAINED cells: joins a `(vec_id, cluster)`
    * assignment — typically [[kmeansAssign]]'s output — onto the vectors
    * and runs the same two-stage search with the learned partition as
    * the coarse quantizer. The pre-existing `cell`-column variant stays
    * for corpora that arrive already partitioned. Output column `cell`
    * carries the trained cluster id. */
  def ivfKnnTrained(vectors: DataFrame, id: String, vec: String,
                    assign: DataFrame, isProbe: Column => Column,
                    k: Int, nprobe: Int = 1): DataFrame = {
    val cells = assign.select(col("vec_id").as(id), col("cluster").as("ivf_cell"))
    ivfKnn(vectors.join(cells, id), id, vec, "ivf_cell", isProbe, k, nprobe)
  }

  /** [[ivfKnnTrained]] swept over several `nprobe` values with the
    * sweep-INVARIANT work shared (k17; guide §1.2 "don't compute
    * things twice"): the cell-centroid derivation (a corpus×dims
    * explode + shuffle) and the corpus-side norm scan depend only on
    * (vectors, assign) — the naive per-np calls re-ran both once per
    * sweep point (4× here). The per-(probe, cell) scores are ranked
    * ONCE; each sweep point is a rank filter over the tiny ranked
    * table plus its own candidate join and top-k tail. Values are
    * identical to the per-np calls: same centroid arithmetic (integer
    * quantized sums — order-independent), same window total order,
    * same top-k tail; doubles round-trip the checkpoints bit-exactly.
    * Checkpoint discipline: `v` is LAZY (its first consumer, the
    * probe-table job, scans every partition); the ranked probe-cell
    * table is EAGER (probes × k rows — tiny — consumed by every sweep
    * branch of the final action). */
  def ivfKnnTrainedSweep(vectors: DataFrame, id: String, vec: String,
                         assign: DataFrame, isProbe: Column => Column,
                         k: Int, nprobes: Seq[Int]): Seq[(Int, DataFrame)] = {
    val cells = assign.select(col("vec_id").as(id), col("cluster").as("ivf_cell"))
    val joined = vectors.join(cells, id)
    val v = joined
      .select(col(id).as("vec_id"), col(vec).as("v"), col("ivf_cell").as("cell"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .localCheckpoint(false)
    val cents = joined
      .select(col("ivf_cell").as("cell"),
        posexplode(expr(
          s"transform($vec, x -> cast(floor(cast(x as double) * ${Quant}D) as bigint))"))
          .as(Seq("pos", "q")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .groupBy(col("cell"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(pos, sq, n))), " +
        s"s -> (cast(s.sq as double) / cast(s.n as double)) / ${Quant}D)")
        .as("centroid"))
      .withColumn("cnrm", sqrt(dot(col("centroid"), col("centroid"))))
    val wCell = Window.partitionBy(col("probe_id"))
      .orderBy(col("ccos").desc, col("cell"))
    val probeCellRanked = v.filter(isProbe(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("v").as("pv"), col("nrm").as("pnrm"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos",
        dot(col("pv"), col("centroid")) / (col("pnrm") * col("cnrm")))
      .withColumn("crnk", row_number().over(wCell))
      .select(col("probe_id"), col("pv"), col("pnrm"), col("cell"), col("crnk"))
      .localCheckpoint()
    val wK = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    nprobes.map { np =>
      val probeCell = probeCellRanked.filter(col("crnk") <= np)
        .select(col("probe_id"), col("pv"), col("pnrm"), col("cell"))
      np -> v.join(broadcast(probeCell), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("cell"),
          (dot(col("pv"), col("v")) / (col("pnrm") * col("nrm"))).as("cos"))
        .withColumn("rnk", row_number().over(wK).cast("long"))
        .filter(col("rnk") <= k)
        .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("cell"),
          col("cos"))
    }
  }

  /** PQ defaults (k08): 4 subspaces × 8 codes = 4096 cells over the
    * harness's 64-dim embeddings (16-dim subvectors); real deployments
    * run 8–16 subspaces × 256 codes on the same shape. */
  val PqSubspaces = 4
  val PqK = 8
  val PqIters = 2

  /** ADC shortlist size for the exact re-rank stage. */
  val PqRefine = 50

  /** Product-quantization ADC search (k08) — the MEMORY-compressed ANN
    * scale path (Jégou et al., TPAMI 2011): train an independent
    * [[kmeansAssign]] codebook per vector SUBSPACE, represent each
    * corpus vector by its per-subspace code tuple (m·log₂(codebook)
    * bits instead of dims×4 bytes — the 64-dim corpus here compresses
    * 42×), and answer queries by Asymmetric Distance Computation: the
    * probe stays exact, one dot against each subspace centroid builds a
    * (probes × codebook) distance table per subspace, and a corpus
    * vector's score is just the SUM of table lookups for its codes —
    * no per-pair float math at all.
    *
    * Scale shape: training is k04's (one corpus scan per iter per
    * subspace, O(k·dims) driver exchange); encoding rides the final
    * assignment; the distance tables are (probes × codebook) rows —
    * they BROADCAST, so scoring is a map-side lookup join over the
    * code table plus the per-probe top-k window (WindowGroupLimit
    * prunes map-side). The corpus embedding column is never read at
    * query time — only the integer codes — which is the entire point
    * at 100 TB of vectors.
    *
    * Determinism: same argument as k04 — quantized centroid sums,
    * seed-hash init, fixed iterations; ADC adds only left-folded dots
    * and an m-term left-to-right sum evaluated identically by both
    * engines. Vectors are L2-normalized before encoding (PQ-for-cosine),
    * so the ADC score estimates the same cosine k01 ranks by, and the
    * final `refine`-deep shortlist is re-ranked by EXACT cosine.
    * Output: `(probe_id, rnk, neighbor_id, score)` — score is the exact
    * unit-vector cosine of the refined survivors. */
  def pqAdcKnn(vectors: DataFrame, id: String, vec: String,
               isProbe: Column => Column, k: Int,
               m: Int = PqSubspaces, codebook: Int = PqK,
               iters: Int = PqIters, dims: Int = 64,
               refine: Int = PqRefine): DataFrame = {
    val vn = pqNormalized(vectors, id, vec)
    val (codes, codebooks) = pqTrainOnNormalized(vn, m, codebook, iters, dims)
    pqQueryOnNormalized(vn, codes, codebooks, isProbe, k, m, refine, dims)
  }

  /** The L2-normalization + checkpoint prologue shared by the PQ train
    * and query paths (see [[pqAdcKnn]] for why both the normalization
    * and the materialization matter). */
  private def pqNormalized(vectors: DataFrame, id: String,
                           vec: String): DataFrame = {
    vectors.select(col(id).as("vec_id"),
        expr(s"transform($vec, x -> cast(x as double))").as("dv"))
      .withColumn("nrm", sqrt(dot(col("dv"), col("dv"))))
      .select(col("vec_id"), expr("transform(dv, x -> x / nrm)").as("nv"))
      .localCheckpoint()
  }

  /** TRAIN the PQ index (k15 persistence seam): per-subspace k-means on
    * the normalized corpus, returning the two frames a deployment
    * stores — `codes` `(vec_id, c0..c{m-1})`, the whole corpus as m
    * small integers per vector, and `codebooks` `(sub, cluster,
    * centroid)`, m·codebook rows. Together they are the complete
    * standing index: query time never touches the corpus floats. */
  def pqTrainIndex(vectors: DataFrame, id: String, vec: String,
                   m: Int = PqSubspaces, codebook: Int = PqK,
                   iters: Int = PqIters,
                   dims: Int = 64): (DataFrame, DataFrame) =
    pqTrainOnNormalized(pqNormalized(vectors, id, vec), m, codebook, iters,
      dims)

  private def pqTrainOnNormalized(vn: DataFrame, m: Int, codebook: Int,
                                  iters: Int,
                                  dims: Int): (DataFrame, DataFrame) = {
    require(m >= 1 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    // L2-normalize BEFORE encoding (PQ-for-cosine): on unit vectors the
    // ADC inner product approximates exactly the cosine k01 ranks by —
    // unnormalized, varying corpus norms would make dot-ranking answer a
    // different question than the cosine baseline. The normalized
    // corpus arrives checkpointed (pqNormalized): every subspace's
    // training loop re-reads it, and at production scale this is the
    // standard "persist the prepared vectors before training" step
    // (DISK_ONLY if they exceed memory).
    def subExpr(i: Int) = s"slice(nv, ${i * sub + 1}, $sub)"
    // per-subspace codebooks: final code assignment + RAW mean centroid
    // of the final members (the g/c CTE pair of the oracle).
    // The m trainings are INDEPENDENT driver-coordinated loops (seed
    // collect + one centroid collect each) — run them on separate
    // threads so their jobs overlap instead of serializing 2m driver
    // round-trips (Spark's scheduler interleaves jobs across threads;
    // this is how any multi-index build should submit).
    val parts = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence((0 until m).toList.map { i => Future {
      val sf = vn.select(col("vec_id"), expr(subExpr(i)).as("sub"))
      val codes = kmeansAssign(sf, "vec_id", "sub", codebook, iters)
      val qv = sf.select(col("vec_id"),
        expr(s"transform(sub, x -> cast(floor(cast(x as double) * ${Quant}D) as bigint))")
          .as("qv"))
      val cents = codes.join(qv, "vec_id")
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "q")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .groupBy(col("cluster"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, sq))), s -> s.sq)")
            .as("sq"),
          max(col("n")).as("n"))
        .select(col("cluster"),
          expr(s"transform(sq, s -> (cast(s as double) / cast(n as double)) / ${Quant}D)")
            .as("centroid"))
      (codes, cents)
    } }), Duration.Inf).toIndexedSeq
    }
    // the two index frames a deployment persists: wide integer code
    // tuples + tall per-subspace codebooks
    val codes = parts.zipWithIndex.map { case ((c, _), i) =>
      c.select(col("vec_id"), col("cluster").as(s"c$i"))
    }.reduce(_.join(_, "vec_id"))
    val codebooks = parts.zipWithIndex.map { case ((_, cents), i) =>
      cents.select(lit(i).as("sub"), col("cluster"), col("centroid"))
    }.reduce(_.unionByName(_))
    (codes, codebooks)
  }

  /** ENCODE vectors against a FROZEN codebook (k18) — the incremental
    * half of a standing PQ index, and the ANN twin of d19's
    * delta-vs-persisted-bands serve: a nightly batch of new vectors is
    * quantized with the codebooks already trained (and persisted, see
    * [[pqWriteIndex]]), its m-integer code tuples appended to the code
    * table — NO retraining, no touch of the standing corpus at all.
    * Retrain only when drift accumulates (k09's recall readout is the
    * trigger a deployment watches).
    *
    * Assignment rule: cosine argmax against the STORED centroids with
    * training's `min(struct(-score, cluster))` tie-break. The stored
    * centroids are the final-member means — one Lloyd step past the
    * centroids that produced the trained assignment — so a boundary
    * vector may re-encode to a (closer) different code than its
    * trained one. That is the FAISS train/encode convention and the
    * serve-consistent choice: the ADC distance tables score codes
    * against exactly these stored centroids, so nearest-stored-
    * centroid codes minimize the quantization error the serve path
    * actually incurs. A vector's code depends only on (vector,
    * codebook), never on what else rides in the batch (pinned by the
    * batch-independence spec).
    *
    * Scale shape: codebooks are m·codebook rows → broadcast; encoding
    * is one map-side pass over the delta (cross join against ≤ 32
    * rows + an aggregate argmin), m subspaces as parallel branches of
    * one scan. Output: `(vec_id, c0..c{m-1})`. */
  def pqEncodeWith(vectors: DataFrame, id: String, vec: String,
                   codebooks: DataFrame, m: Int = PqSubspaces,
                   dims: Int = 64): DataFrame = {
    val vn = pqNormalized(vectors, id, vec)
    val sub = dims / m
    // ONE pass (r19, guide §2.4): the per-subspace form ran m crossJoin
    // + groupBy(vec_id) branches and re-joined them m-1 times — m
    // aggregate exchanges plus m-1 join shuffles, all keyed on vec_id,
    // carrying zero information the single aggregate below doesn't.
    // Instead the whole m·codebook table broadcasts once (same total
    // fan-out: m·codebook scored rows per vector), each row scores its
    // own subspace slice, and the m argmins fall out of one
    // groupBy(vec_id) as conditional min-structs — min ignores the
    // nulls the `when` leaves on other subspaces' rows, so each b_i is
    // the same (-score, cluster) minimum the per-subspace aggregate
    // computed, over the identical score set (same slice, same dot,
    // same divide). One exchange total; output bit-identical.
    val cb = broadcast(codebooks
      .select(col("sub"), col("cluster"), col("centroid"),
        sqrt(dot(col("centroid"), col("centroid"))).as("cnrm")))
    val scored = vn.crossJoin(cb)
      .withColumn("score",
        dot(expr(s"slice(nv, cast(sub * $sub + 1 as int), $sub)"), col("centroid"))
          / col("cnrm"))
    val aggs = (0 until m).map { i =>
      min(when(col("sub") === i,
        struct((-col("score")).as("ns"), col("cluster").as("cluster"))))
        .as(s"b$i")
    }
    scored.groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id") +:
        (0 until m).map(i => col(s"b$i.cluster").as(s"c$i")): _*)
  }

  /** Write a trained PQ index ([[pqTrainIndex]]) as two parquet tables
    * under `dir` — the persistence half of a standing ANN index: train
    * once, serve many probe batches without re-reading corpus floats.
    * Codes and codebooks are integers and doubles, both of which
    * parquet round-trips bit-exactly, so load-then-query ≡
    * train-then-query (pinned by OpsSpec and the k15 oracle, which is
    * k08's verbatim). */
  def pqWriteIndex(codes: DataFrame, codebooks: DataFrame,
                   dir: String): Unit = {
    // unstamp → write → stamp: a crash mid-publish (or mid-REpublish
    // over a previously valid store) leaves the dir unstamped, so the
    // load seam fails closed instead of serving torn codes under the
    // previous stamp
    IndexMeta.unstamp(dir)
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    codebooks.write.mode("overwrite").parquet(s"$dir/codebooks")
    IndexMeta.stampVersion(dir, pqVersion)
  }

  /** Load a persisted PQ index written by [[pqWriteIndex]], failing
    * loudly unless its [[pqVersion]] stamp matches the current
    * encoder + quantizer definition. */
  def pqLoadIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    IndexMeta.checkVersion(dir, pqVersion)
    (spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/codebooks"))
  }

  /** Serve the catalog probes from a PUBLISHED PQ index directory
    * (codes + codebooks loaded from parquet, corpus floats touched
    * only via the shared normalized frame) — k15's serve half, split
    * out so the bench can time it apart from the index-build I/O. */
  def pqServeLoaded(s: SparkSession, d: String, dir: String): DataFrame = {
    val (codes, cbs) = pqLoadIndex(s, dir)
    pqQueryOnNormalized(sharedNormalized(s, d), codes, cbs,
      _ < NumProbes, TopK, PqSubspaces, PqRefine, 64)
  }

  /** SERVE probes against a trained (possibly loaded) PQ index: ADC
    * shortlist from the code tuples + codebook distance tables, exact
    * cosine re-rank of the `refine` survivors. The corpus embedding
    * column is read only for the probe rows and the shortlist — the
    * standing-index query path. */
  def pqQueryIndex(vectors: DataFrame, id: String, vec: String,
                   codes: DataFrame, codebooks: DataFrame,
                   isProbe: Column => Column, k: Int,
                   m: Int = PqSubspaces, refine: Int = PqRefine,
                   dims: Int = 64): DataFrame =
    pqQueryOnNormalized(pqNormalized(vectors, id, vec), codes, codebooks,
      isProbe, k, m, refine, dims)

  /** ADC distance tables for a normalized probe frame: one
    * `(probe_id, c_i, dt_i)` table per subspace — exact probe
    * subvector × stored centroids, all broadcast-sized. Shared by the
    * ungated PQ serve and the cell-gated IVFPQ serve so the scoring
    * arithmetic can never diverge between them. */
  private def adcTables(probes: DataFrame, codebooks: DataFrame,
                        m: Int, sub: Int): Seq[DataFrame] =
    (0 until m).map { i =>
      probes.select(col("vec_id").as("probe_id"),
          expr(s"slice(nv, ${i * sub + 1}, $sub)").as("pv"))
        .crossJoin(broadcast(codebooks.filter(col("sub") === i)
          .select(col("cluster"), col("centroid"))))
        .select(col("probe_id"), col("cluster").as(s"c$i"),
          dot(col("pv"), col("centroid")).as(s"dt$i"))
    }

  /** The ADC lookup-sum over a candidate code frame: join the
    * remaining distance tables (`from` onward — a base that already
    * carries `probe_id` starts at 0, one acquiring it from dt0 starts
    * at 1), drop self-pairs, sum the m lookups. */
  private def adcScore(base: DataFrame, dts: Seq[DataFrame], m: Int,
                       from: Int): DataFrame =
    (from until m).foldLeft(base) { (acc, i) =>
        acc.join(broadcast(dts(i)), Seq(s"c$i", "probe_id"))
      }
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        (0 until m).map(i => col(s"dt$i")).reduce(_ + _).as("cos"))

  private def pqQueryOnNormalized(vn: DataFrame, codes: DataFrame,
                                  codebooks: DataFrame,
                                  isProbe: Column => Column, k: Int,
                                  m: Int, refine: Int,
                                  dims: Int): DataFrame = {
    val probes = vn.filter(isProbe(col("vec_id")))
    val dts = adcTables(probes, codebooks, m, dims / m)
    // corpus code tuples acquire probe_id from the first table, then
    // score by lookups only
    adcRefine(
      adcScore(codes.join(broadcast(dts(0)), Seq("c0")), dts, m, from = 1),
      vn, k, refine)
  }

  /** The shared ADC→exact tail (k08/k15/k19): shortlist the top
    * `refine` per probe by ADC score — chosen without touching any
    * corpus float — then re-rank the shortlist by EXACT unit-vector
    * cosine (the FAISS IVFPQ+R recipe). Quantization error costs
    * recall only when a true neighbor misses the whole shortlist.
    * `scored` carries `(probe_id, neighbor_id, cos)` with `cos` = the
    * ADC estimate. */
  private def adcRefine(scored: DataFrame, vn: DataFrame, k: Int,
                        refine: Int): DataFrame = {
    val adcW = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val shortlist = scored
      .withColumn("arnk", row_number().over(adcW))
      .filter(col("arnk") <= refine)
      .select(col("probe_id"), col("neighbor_id"))
    val exact = shortlist
      .join(vn.select(col("vec_id").as("probe_id"), col("nv").as("pnv")), "probe_id")
      .join(vn.select(col("vec_id").as("neighbor_id"), col("nv").as("nnv")), "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"),
        dot(col("pnv"), col("nnv")).as("cos"))
    topKPerProbe(exact, k).withColumnRenamed("cos", "score")
  }

  /** Random-projection width (k10): 64-dim embeddings sketch to 16
    * signed-sum coordinates — a 4× bandwidth cut with JL-style distance
    * preservation adequate for shortlisting (the refine pass restores
    * exactness). */
  val RpDims = 16

  /** Shortlist depth for k10's exact re-rank (same role as [[PqRefine]]). */
  val RpRefine = 50

  /** ±1 projection sign `s(i,j)` from a splitmix64 finalizer over the
    * flat index — NOT the [[weight]] LCG: that one is affine in
    * `i·dims+j`, so row `i+1` would be row `i`'s sequence shifted by
    * `dims` and the 16 sketch rows would be strongly correlated
    * (effective rank ≪ 16, measured top-1 recall 3/10). The avalanche
    * mix makes rows independent. Both engines consume the signs as
    * baked literals, so portability never constrains the formula. */
  def rpSign(i: Int, j: Int, dims: Int = 64): Int = {
    var z = (i.toLong * dims + j) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    if ((z ^ (z >>> 31)) >= 0) 1 else -1
  }

  /** Random-projection k-NN (k10) — the DIMENSIONALITY-reduction ANN
    * path (sign random projection / sparse JL, Achlioptas 2003):
    * L2-normalize, sketch every vector once to [[RpDims]] coordinates
    * `p_i = Σ_j s(i,j)·v_j` with a deterministic ±1 matrix, shortlist
    * per probe by the cosine OF THE SKETCHES, and re-rank the top
    * `refine` survivors by exact cosine on the full vectors — the
    * third member of the compressed-index family: k02 prunes by
    * bucket equality (recall cliff when a true neighbor lands one
    * bucket over), k08 compresses to code tuples (needs training),
    * k10 is training-free and keeps a graded distance so the
    * shortlist ranking degrades smoothly.
    *
    * Scale shape: the sketch is one codegen'd map pass over the corpus
    * (projection matrix is a literal — nothing broadcast, nothing
    * trained); candidate scoring reads 16 doubles per pair instead of
    * 64 (at 100 TB of vectors the scoring stage is memory-bandwidth
    * bound, so the 4× sketch cut is a ~4× scan cut); probes broadcast;
    * the full-width floats are touched only for the `refine`-deep
    * shortlist. Composes with k02's bucketing when probe volume makes
    * even sketched all-pairs too hot.
    *
    * Determinism: ±1·x products are exact in IEEE, both engines
    * left-fold the same order, and ties break on neighbor_id — the
    * same cross-engine contract as k08. Output: `(probe_id, rnk,
    * neighbor_id, score)`, score = exact unit-vector cosine. */
  def rpKnn(vectors: DataFrame, id: String, vec: String,
            isProbe: Column => Column, k: Int,
            pdims: Int = RpDims, dims: Int = 64,
            refine: Int = RpRefine): DataFrame = {
    val vn = vectors.select(col(id).as("vec_id"),
        expr(s"transform($vec, x -> cast(x as double))").as("dv"))
      .withColumn("nrm", sqrt(dot(col("dv"), col("dv"))))
      .select(col("vec_id"), expr("transform(dv, x -> x / nrm)").as("nv"))
    val projCols = (0 until pdims).map { i =>
      val s = (0 until dims).map(j => s"${rpSign(i, j, dims)}D").mkString(", ")
      dot(col("nv"), expr(s"array($s)"))
    }
    val vp = vn.withColumn("pv", array(projCols: _*))
      .withColumn("pnrm", sqrt(dot(col("pv"), col("pv"))))
      .select("vec_id", "pv", "pnrm")
    sketchShortlistRefine(vn, vp, isProbe, k, refine)
  }

  /** The shared sketch→shortlist→exact-refine tail (k10/k23): score
    * all pairs by the cosine of the SKETCH column `pv`, keep the
    * `refine`-deep shortlist per probe, re-rank by exact full-width
    * cosine. Identical IEEE op order however the sketch was made.
    *
    * Degenerate-sketch guard: a vector whose sketch is all zeros (a
    * normalized embedding with an all-zero leading prefix in k23, or
    * all 16 ±1 projections cancelling in k10) has pnrm = 0, and the
    * raw division would yield NaN/Inf — Spark sorts NaN HIGHEST, so
    * one degenerate corpus vector would flood every probe's shortlist
    * and silently cost recall. The CASE pins such pairs to −2, below
    * any real cosine, so degenerate sketches rank last identically in
    * both engines (no NULL-ordering dependence). */
  private def sketchShortlistRefine(vn: DataFrame, vp: DataFrame,
                                    isProbe: Column => Column, k: Int,
                                    refine: Int): DataFrame = {
    val probes = vp.filter(isProbe(col("vec_id")))
    val scored = vp.as("b").join(broadcast(probes.as("a")),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("probe_id"), col("b.vec_id").as("neighbor_id"),
        when(col("a.pnrm") * col("b.pnrm") === 0.0d, -2.0d)
          .otherwise(dot(col("a.pv"), col("b.pv")) / (col("a.pnrm") * col("b.pnrm")))
          .as("pcos"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val shortlist = scored.withColumn("arnk", row_number().over(w))
      .filter(col("arnk") <= refine)
      .select(col("probe_id"), col("neighbor_id"))
    val exact = shortlist
      .join(vn.select(col("vec_id").as("probe_id"), col("nv").as("pnv")), "probe_id")
      .join(vn.select(col("vec_id").as("neighbor_id"), col("nv").as("nnv")), "neighbor_id")
      .select(col("probe_id"), col("neighbor_id"),
        dot(col("pnv"), col("nnv")).as("cos"))
    topKPerProbe(exact, k).withColumnRenamed("cos", "score")
  }

  /** Matryoshka prefix width for k23 — the leading 16 of 64 dims. */
  val MrlDims = 16

  /** Truncated-prefix (Matryoshka) k-NN (k23) — shortlist by the
    * cosine of the LEADING `mdims` coordinates, refine exact: the
    * serving pattern Matryoshka Representation Learning embeddings
    * (Kusupati et al. 2022) are trained for, where information
    * concentrates in the prefix so truncation IS the compression — no
    * training (vs PQ), no projection pass (vs k10's JL sketch), no
    * bucketing cliff (vs LSH); the index is literally the first
    * quarter of each stored vector. On generic (non-MRL) embeddings
    * the prefix is an arbitrary 16-dim marginal — the same smooth
    * degradation as k10 with ZERO sketch cost; on MRL checkpoints the
    * shortlist recall approaches full-width. The harness embeddings
    * are generic, which the k23-vs-k10 recall readout makes visible
    * rather than hides.
    *
    * Scale shape: identical to k10 minus the projection pass — the
    * scoring stage reads mdims/dims of each vector (memory-bandwidth
    * cut), full-width floats touched only for the `refine`-deep
    * shortlist; probes broadcast, corpus never shuffles. Output:
    * `(probe_id, rnk, neighbor_id, score)`, score = exact cosine. */
  def mrlKnn(vectors: DataFrame, id: String, vec: String,
             isProbe: Column => Column, k: Int,
             mdims: Int = MrlDims, refine: Int = RpRefine): DataFrame = {
    val vn = vectors.select(col(id).as("vec_id"),
        expr(s"transform($vec, x -> cast(x as double))").as("dv"))
      .withColumn("nrm", sqrt(dot(col("dv"), col("dv"))))
      .select(col("vec_id"), expr("transform(dv, x -> x / nrm)").as("nv"))
    val vp = vn.select(col("vec_id"), expr(s"slice(nv, 1, $mdims)").as("pv"))
      .withColumn("pnrm", sqrt(dot(col("pv"), col("pv"))))
    sketchShortlistRefine(vn, vp, isProbe, k, refine)
  }

  /** DuckDB replay of [[kmeansAssign]]: the fixed iterations unrolled
    * into a generated CTE chain (`q` → seed `g0` → per-iteration
    * `n{i-1}` centroids / `a{i}` assignments / `g{i}` sums). `body`
    * is the final SELECT, defaulting to the k04 assignment dump; k05
    * passes the IVF-search SQL instead, referencing `q` and the last
    * `a{iters}`. */
  def kmeansOracleSql(k: Int, iters: Int, dims: Int = 64,
                      body: String = "", prefix: String = "",
                      vecSql: String = "embedding",
                      withFinalCentroids: Boolean = false): String =
    "WITH " + kmeansCtes(k, iters, dims, prefix, vecSql, withFinalCentroids)
      .mkString(",\n") + "\n" +
      (if (body.nonEmpty) body
       else s"SELECT vec_id, cluster FROM ${prefix}a$iters")

  /** The CTE list of [[kmeansOracleSql]], exposed so a composite oracle
    * (k08 runs one k-means PER SUBSPACE) can splice several prefixed
    * instances into one WITH chain. `withFinalCentroids` appends
    * `{prefix}c$iters(cluster, centroid)` — the raw (un-normalized)
    * mean of the FINAL assignment, which ADC scoring consumes. */
  def kmeansCtes(k: Int, iters: Int, dims: Int, prefix: String,
                 vecSql: String,
                 withFinalCentroids: Boolean,
                 srcWhere: String = "TRUE"): Seq[String] = {
    val p = prefix
    def fold(a: String, b: String) =
      s"reduce(list_prepend(0.0, list_transform(range(1, ${dims + 1}), " +
        s"j -> $a[j] * $b[j])), (acc, x) -> acc + x)"
    def nrm(a: String) =
      s"sqrt(reduce(list_prepend(0.0, list_transform($a, x -> x * x)), (acc, x) -> acc + x))"
    def gCte(name: String, src: String) =
      s"""$name AS (
         |  SELECT cluster, list(sq ORDER BY pos) AS sq, max(n) AS n FROM (
         |    SELECT cluster, pos, sum(qe) AS sq, count(*) AS n FROM (
         |      SELECT cluster, idx.j AS pos, qv[idx.j] AS qe
         |      FROM $src, (SELECT unnest(range(1, ${dims + 1})) AS j) idx) e
         |    GROUP BY 1, 2) p
         |  GROUP BY cluster)""".stripMargin
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""${p}q AS (
       |  SELECT vec_id, list_transform($vecSql, x -> x::DOUBLE) AS v,
       |    list_transform($vecSql, x -> CAST(floor(x::DOUBLE * $Quant) AS BIGINT)) AS qv
       |  FROM embeddings WHERE ($srcWhere))""".stripMargin
    ctes += s"""${p}g0 AS (
       |  SELECT cluster, sq, n FROM (
       |    SELECT row_number() OVER (ORDER BY
       |        (((vec_id % $SeedP + $SeedP) % $SeedP) * $SeedA + $SeedB) % $SeedP,
       |        vec_id) AS cluster,
       |      qv AS sq, 1::BIGINT AS n
       |    FROM ${p}q) s
       |  WHERE cluster <= $k)""".stripMargin
    for (i <- 1 to iters) {
      ctes += s"""${p}n${i - 1} AS (
         |  SELECT cluster, centroid, ${nrm("centroid")} AS cnrm FROM (
         |    SELECT cluster, list_transform(sq, s -> (s::DOUBLE / n::DOUBLE) / $Quant) AS centroid
         |    FROM ${p}g${i - 1}) c)""".stripMargin
      ctes += s"""${p}a$i AS (
         |  SELECT vec_id, qv, cluster FROM (
         |    SELECT ${p}q.vec_id, ${p}q.qv, c.cluster,
         |      row_number() OVER (PARTITION BY ${p}q.vec_id
         |        ORDER BY ${fold(s"${p}q.v", "c.centroid")} / c.cnrm DESC, c.cluster) AS rnk
         |    FROM ${p}q, ${p}n${i - 1} c) t
         |  WHERE rnk = 1)""".stripMargin
      if (i < iters) ctes += gCte(s"${p}g$i", s"${p}a$i")
    }
    if (withFinalCentroids) {
      ctes += gCte(s"${p}g$iters", s"${p}a$iters")
      ctes += s"""${p}c$iters AS (
         |  SELECT cluster, list_transform(sq, s -> (s::DOUBLE / n::DOUBLE) / $Quant) AS centroid
         |  FROM ${p}g$iters)""".stripMargin
    }
    ctes.toSeq
  }

  /** Per-dimension corpus standardization (k11) — z-score feature
    * scaling, the preprocessing pass in front of k-means / IVF / PQ
    * whenever dimensions carry different scales (StandardScaler in
    * MLlib/sklearn terms; PQ codebooks in particular degrade badly
    * when a few dimensions dominate the subspace distances).
    *
    * Scale shape: pass 1 reduces the corpus to a DIMS-row stats table
    * (count + exact integer sums per dimension — elements quantized to
    * q6 longs first, so the fold is associative integer arithmetic,
    * partition-order-proof on both engines; Σq² held as decimal(38,0)
    * against overflow); pass 2 broadcasts the stats and normalizes
    * map-side — the corpus itself never shuffles in either pass. This
    * is the canonical two-pass fit/transform split: at 100 TB the
    * stats frame is still `dims` rows.
    *
    * Constant dimensions (sd = 0) emit z = 0 instead of a division by
    * zero — the CASE guard is mirrored in the oracle. Output:
    * `(vec_id, dim, z_q6)` — exploded, relational, exact. */
  def standardize(vectors: DataFrame, id: String, vec: String): DataFrame = {
    val q = vectors.select(col(id).as("vec_id"),
      posexplode(expr(
        s"transform($vec, x -> cast(round(cast(x as double) * 1000000.0) as long))"))
        .as(Seq("dim", "q")))
    val mu = col("sq").cast("double") / col("n").cast("double")
    val stats = q.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("sq2"))
      .select(col("dim"), mu.as("mu_q"),
        sqrt(col("sq2").cast("double") / col("n").cast("double") - mu * mu)
          .as("sd_q"))
    q.join(broadcast(stats), Seq("dim"))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        when(col("sd_q") > 0,
          round((col("q").cast("double") - col("mu_q")) / col("sd_q") * lit(1e6))
            .cast("long"))
          .otherwise(lit(0L)).as("z_q6"))
  }

  /** Hard-negative mining (k12) — for each probe, the top-k most
    * similar vectors with a DIFFERENT label: the contrastive-training
    * data generator (anchor, hard negative) every embedding-model
    * pipeline runs between curation and training (in-batch negatives
    * are easy; the pairs that move the loss are the near-miss
    * confusables this query surfaces). Same broadcast-probe one-pass
    * corpus scan as k01 — the label inequality rides the join
    * condition, so no corpus row survives to the rank window unless it
    * is a genuine cross-label candidate; per-probe top-k is the
    * map-side-pruned rank window (WindowGroupLimit).
    *
    * Output: `(probe_id, rnk, neighbor_id, cos)` — k rows per probe. */
  def hardNegatives(vectors: DataFrame, id: String, vec: String,
                    label: String, isProbe: Column => Column,
                    k: Int): DataFrame = {
    val v = vectors
      .select(col(id).as("vec_id"), col(label).as("lbl"), col(vec).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val probes = v.filter(isProbe(col("vec_id")))
    topKPerProbe(
      v.as("b").join(broadcast(probes.as("a")),
          col("a.lbl") =!= col("b.lbl"))
        .select(col("a.vec_id").as("probe_id"),
          col("b.vec_id").as("neighbor_id"), cosCol.as("cos")), k)
  }

  // ───── Shared training memo (the Clusters.memo pattern) ─────

  /** Memoized TRAINED artifacts shared across the k-family catalog
    * entries, keyed by (session, data dir). Training an index is the
    * expensive, reusable half of every ANN query — a deployment trains
    * once and serves many probe batches, and a catalog run should look
    * the same: k04/k05/k14/k17 consume ONE k-means assignment,
    * k08/k09/k15 ONE PQ index, k01/k07/k09/k17 ONE exact baseline.
    * Entries are localCheckpoint-materialized linear-or-smaller frames
    * (assignment: 2 longs/vector; PQ codes: m ints/vector; codebooks:
    * m·codebook rows; exact baseline: probes×k rows), released with
    * the session.
    *
    * Same lock discipline as [[Clusters]]' memo (see its scaladoc's
    * `computeIfAbsent` warning): builds NEST (the PQ-index build calls
    * the normalized-corpus memo from inside its body), so the single
    * reentrant JVM monitor is correct by construction. It serializes
    * only first-build materialization per (session, dir) — exactly the
    * work the memo exists to share. Single-process harness use is
    * assumed; entries for stopped sessions are not evicted. */
  private val trainedMemo =
    new java.util.HashMap[(SparkSession, String, String), AnyRef]()

  /** Contexts that already carry the eviction listener below — one
    * listener per SparkContext, evicting every memo entry whose
    * session rode on it when the context ends, so a long-lived
    * multi-session server doesn't accumulate checkpointed RDDs for
    * stopped applications. */
  private val evictionHooked =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]())

  private def ensureEviction(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (evictionHooked.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          trainedMemo.synchronized {
            val it = trainedMemo.keySet().iterator()
            while (it.hasNext) if (it.next()._1.sparkContext eq sc) it.remove()
          }
      })
  }

  private def memo[T <: AnyRef](s: SparkSession, d: String, key: String)
                               (build: => T): T =
    trainedMemo.synchronized {
      ensureEviction(s)
      val k = (s, d, key)
      val existing = trainedMemo.get(k)
      if (existing != null) existing.asInstanceOf[T]
      else { val built = build; trainedMemo.put(k, built); built }
    }

  /** The L2-normalized harness embeddings (the PQ prologue, already
    * checkpoint-materialized by [[pqNormalized]]), once per
    * (session, dir). */
  def sharedNormalized(s: SparkSession, d: String): DataFrame =
    memo(s, d, "nv") {
      pqNormalized(Tables.embeddings(s, d), "vec_id", "embedding")
    }

  /** The k04 k-means assignment (KmeansK × KmeansIters over the
    * harness embeddings), trained once per (session, dir) — consumed
    * by k04, k05's coarse quantizer, k14's purity readout and k17's
    * nprobe sweep. */
  def sharedKmeansAssign(s: SparkSession, d: String): DataFrame =
    memo(s, d, "kmeans") {
      kmeansAssign(Tables.embeddings(s, d), "vec_id", "embedding",
        KmeansK, KmeansIters).localCheckpoint()
    }

  /** The k08 PQ index (codes + codebooks) at catalog defaults, trained
    * once per (session, dir) — consumed by k08's serve path, k09's
    * recall readout and k15's persistence round trip. */
  def sharedPqIndex(s: SparkSession, d: String): (DataFrame, DataFrame) =
    memo(s, d, "pq") {
      val (codes, cbs) = pqTrainOnNormalized(sharedNormalized(s, d),
        PqSubspaces, PqK, PqIters, 64)
      (codes.localCheckpoint(), cbs.localCheckpoint())
    }

  /** The exact brute-force baseline at catalog defaults — the frame
    * k01 answers with and k07/k09/k17 measure recall against — once
    * per (session, dir). */
  def sharedKnnBrute(s: SparkSession, d: String): DataFrame =
    memo(s, d, "brute") {
      knnBrute(Tables.embeddings(s, d), "vec_id", "embedding",
        _ < NumProbes, TopK).localCheckpoint()
    }

  /** Serve the catalog probes from the shared PQ index — k08's answer,
    * consumed verbatim as k09's approximate side. A lazy plan over the
    * memoized index frames: serving is broadcast lookups + the refine
    * re-rank, cheap enough to re-declare per consumer. */
  private def sharedPqServe(s: SparkSession, d: String): DataFrame = {
    val (codes, cbs) = sharedPqIndex(s, d)
    pqQueryOnNormalized(sharedNormalized(s, d), codes, cbs,
      _ < NumProbes, TopK, PqSubspaces, PqRefine, 64)
  }

  /** k19's probe width: 2 of the 8 coarse cells are searched. */
  val IvfPqNprobe = 2

  /** IVF+PQ COMBINED search (k19) — THE production ANN index (FAISS
    * IVFPQ): the trained coarse quantizer restricts each probe to its
    * `nprobe` nearest cells, only those cells' members are ADC-scored
    * from their integer code tuples, and the shortlist re-ranks by
    * exact cosine. Composes the two SHARED trained artifacts — the
    * k04 assignment as the coarse quantizer, the k08 codes/codebooks
    * for ADC — so the entry trains nothing of its own.
    *
    * Scale shape, multiplied out: the cell restriction cuts the ADC
    * candidate set to ~nprobe/k_cells of the corpus BEFORE any
    * scoring; scoring touches only code tuples (integers) with the
    * probe-side distance tables broadcast; the corpus float column is
    * read for the `refine`-deep shortlist only. At 100 TB of vectors
    * this is the memory-and-compute shape deployments actually run —
    * k05 (IVF, exact in-cell) and k08 (PQ, whole-corpus ADC) are its
    * two halves, k09/k17-style recall readouts tune its
    * nprobe/refine.
    *
    * Cell-ranking determinism: cell centroids are the exact
    * quantized-integer means of each cell's NORMALIZED members (the
    * k05 centroid recipe on the PQ-normalized corpus), ranked by the
    * same left-folded cosine with (ccos DESC, cell) total order. */
  /** Exact quantized-mean centroids of clustered members `(cluster,
    * qv)` → `(cluster, centroid, cnrm)`: the deterministic per-cell
    * centroid recipe (integer sums reconstructed in pos order, one
    * division per element) used by the IVFPQ coarse gate — the same
    * math [[ivfKnn]]'s inline cents block and the kmeans training
    * rounds evaluate. */
  private def quantMeanCentroids(members: DataFrame): DataFrame =
    members
      .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "q")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .groupBy(col("cluster"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, sq))), s -> s.sq)")
          .as("sq"),
        max(col("n")).as("n"))
      .select(col("cluster"),
        expr(s"transform(sq, s -> (cast(s as double) / cast(n as double)) / ${Quant}D)")
          .as("centroid"))
      .withColumn("cnrm", sqrt(dot(col("centroid"), col("centroid"))))

  /** The IVFPQ coarse-gate centroids over the harness corpus —
    * normalized members' exact quantized means per trained cell —
    * memoized like every other trained artifact (k19 and k20 in one
    * session share one build). */
  def sharedCellCentroids(s: SparkSession, d: String): DataFrame =
    memo(s, d, "ivfpq_cents") {
      quantMeanCentroids(
        sharedNormalized(s, d)
          .select(col("vec_id"),
            expr(s"transform(nv, x -> cast(floor(x * ${Quant}D) as bigint))")
              .as("qv"))
          .join(sharedKmeansAssign(s, d), "vec_id")
          .select(col("cluster"), col("qv")))
        .localCheckpoint()
    }

  /** Write the trained COARSE QUANTIZER (the k04 cell assignment +
    * its exact quantized-mean centroids) as two parquet tables under
    * `dir` — the missing half of the IVFPQ deployment story: k15
    * persists the PQ codes/codebooks, this persists the layer k19
    * gates on, so a fresh session serves the production index with NO
    * retraining of either layer. Longs and doubles both round-trip
    * parquet bit-exactly, so serve-from-loaded ≡ serve-from-trained
    * (pinned by the p07 oracle — k19's verbatim — and the load≡train
    * spec). */
  def ivfWriteCoarse(assign: DataFrame, cellCentroids: DataFrame,
                     dir: String): Unit = {
    IndexMeta.unstamp(dir)
    assign.select(col("vec_id"), col("cluster"))
      .write.mode("overwrite").parquet(s"$dir/assign")
    cellCentroids.write.mode("overwrite").parquet(s"$dir/centroids")
    IndexMeta.stampVersion(dir, ivfVersion)
  }

  /** Load a persisted coarse quantizer written by [[ivfWriteCoarse]]:
    * `(assign, cellCentroids)` — failing loudly unless its
    * [[ivfVersion]] stamp matches the current encoder + quantizer
    * definition. */
  def ivfLoadCoarse(spark: SparkSession,
                    dir: String): (DataFrame, DataFrame) = {
    IndexMeta.checkVersion(dir, ivfVersion)
    (spark.read.parquet(s"$dir/assign"),
      spark.read.parquet(s"$dir/centroids"))
  }

  /** Assign NEW vectors to cells of a FROZEN coarse quantizer (the
    * k18 move on the coarse layer): cosine argmax against the stored
    * cell centroids with training's `min(struct(-score, cluster))`
    * tie-break — the nightly delta batch enters the standing IVFPQ
    * index by appending these rows to the loaded assignment (and its
    * [[pqEncodeWith]] codes to the loaded code table), no retraining,
    * no touch of the standing corpus. Same serve-consistency argument
    * as [[pqEncodeWith]]: the gate ranks cells against exactly these
    * stored centroids, so nearest-stored-centroid membership minimizes
    * the gate misses the serve path actually incurs. Map-side: the
    * centroids broadcast (k rows), the batch never shuffles. A
    * vector's cell depends only on (vector, centroids) — pinned by
    * the batch-independence spec. Output: `(vec_id, cluster)`. */
  def ivfCoarseEncodeWith(vectors: DataFrame, id: String, vec: String,
                          cellCentroids: DataFrame): DataFrame = {
    val vn = pqNormalized(vectors, id, vec)
    vn.crossJoin(broadcast(cellCentroids))
      .withColumn("score", dot(col("nv"), col("centroid")) / col("cnrm"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("score")).as("ns"),
        col("cluster").as("cluster"))).as("b"))
      .select(col("vec_id"), col("b.cluster").as("cluster"))
  }

  /** Publish the COMPLETE production ANN index under `dir` — PQ
    * codes/codebooks (`dir/pq`) + coarse assignment/centroids
    * (`dir/coarse`), all from the shared trained artifacts: the write
    * half of the p07 nightly loop. */
  def ivfPqWriteAll(s: SparkSession, d: String, dir: String): Unit = {
    val (codes, cbs) = sharedPqIndex(s, d)
    pqWriteIndex(codes, cbs, s"$dir/pq")
    ivfWriteCoarse(sharedKmeansAssign(s, d), sharedCellCentroids(s, d),
      s"$dir/coarse")
  }

  /** Serve the catalog probes from a PUBLISHED index directory — every
    * artifact loaded from parquet, nothing trained in-session (the
    * corpus floats are read only for probes and the refine shortlist,
    * via the shared normalized frame): the serve half of the p07
    * nightly loop, and what a crashed-and-restarted server runs. */
  def ivfPqServeLoaded(s: SparkSession, d: String, dir: String,
                       nprobe: Int = IvfPqNprobe): DataFrame = {
    val (codes, cbs) = pqLoadIndex(s, s"$dir/pq")
    val (assign, cents) = ivfLoadCoarse(s, s"$dir/coarse")
    ivfPqOnNormalized(sharedNormalized(s, d), codes, cbs, assign, cents,
      _ < NumProbes, TopK, nprobe, PqSubspaces, PqRefine, 64)
  }

  /** EXPUNGE-DELETES compaction of a published IVFPQ store (k28) — the
    * r15 move on the ANN family, the last of the four tombstoned
    * stores: k25's serve anti-joins its delete set on every query, so
    * serve cost degrades monotonically as deletions accrue; this pass
    * drops the tombstoned vectors' rows from the PER-VECTOR tables —
    * the PQ code list and the coarse cell assignment — while the
    * TRAINED artifacts (codebooks, cell centroids) stay untouched
    * (they are corpus statistics, not memberships; FAISS's
    * remove_ids does exactly this). Each family dir rewrites beside
    * itself and swaps under its own [[IndexMeta]] stamp
    * ([[StoreSwap]]), so a crash mid-swap leaves that dir unservable
    * rather than mixed; after the swap the tombstone set RETIRES.
    *
    * Rebuild equivalence: the serve's only use of the two compacted
    * tables is the codes⋈assignment inner join feeding ADC — dropping
    * a vec_id from codes (k25's anti-join) and dropping it from both
    * tables produce the identical joined set, so
    * `compact → ivfPqServeLoaded` equals k25's tombstone serve
    * bit-for-bit and k28 shares its oracle. Cost: two broadcast
    * anti-joins over narrow int tables — corpus-linear I/O, no
    * retraining, no re-encode. */
  /** [[ivfPqCompactStore]] behind the deletes-ratio merge policy
    * ([[StoreSwap.deletesExceed]]) — compact only when the tombstoned
    * code rows exceed `maxDeleteRatio` of the store; returns whether
    * it compacted (true ⇒ the tombstone set retires). */
  def ivfPqCompactIfNeeded(spark: SparkSession, dir: String,
                           tombstones: DataFrame,
                           maxDeleteRatio: Double = 0.1): Boolean = {
    val (dead, total) = StoreSwap.deadAndTotal(
      pqLoadIndex(spark, s"$dir/pq")._1, "vec_id", tombstones)
    val go = StoreSwap.deletesExceed(dead, total, maxDeleteRatio)
    if (go) ivfPqCompactStore(spark, dir, tombstones)
    go
  }

  def ivfPqCompactStore(spark: SparkSession, dir: String,
                        tombstones: DataFrame): Unit = {
    val ts = broadcast(tombstones.select(col("vec_id")).distinct())
    // ORDER MATTERS: coarse first, pq second. The ratio probe
    // ([[ivfPqCompactIfNeeded]]) reads the CODES table, so a crash
    // between the two swaps must leave codes still carrying its dead
    // rows — the retry's probe then still fires and the rerun heals
    // both dirs (each anti-join is idempotent over already-compacted
    // rows). The reverse order would leave codes clean and assign
    // dirty, the probe reading dead≈0 forever — a half-compacted
    // state the policy could never see.
    locally { // coarse family: assignment shrinks, centroids persist
      val cDir = s"$dir/coarse"
      val (assign, _) = ivfLoadCoarse(spark, cDir) // stamp-checked
      val tmp = StoreSwap.freshScratch(cDir)
      assign.join(ts, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$tmp/assign")
      StoreSwap.swapSubtables(cDir, Seq("assign"), ivfVersion)
    }
    locally { // PQ family: codes shrink, codebooks persist
      val pqDir = s"$dir/pq"
      val (codes, _) = pqLoadIndex(spark, pqDir) // stamp-checked
      val tmp = StoreSwap.freshScratch(pqDir)
      codes.join(ts, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$tmp/codes")
      StoreSwap.swapSubtables(pqDir, Seq("codes"), pqVersion)
    }
  }

  /** The generic IVFPQ search over CALLER artifacts (the library-API
    * form the catalog instantiates): normalized vectors, a trained
    * cell `assign`ment, its `cellCentroids`, and a PQ index — gate
    * each probe to its `nprobe` top cells, ADC-score only gated
    * members' codes, refine exactly. */
  def ivfPqQuery(vectors: DataFrame, id: String, vec: String,
                 codes: DataFrame, codebooks: DataFrame,
                 assign: DataFrame, cellCentroids: DataFrame,
                 isProbe: Column => Column, k: Int, nprobe: Int,
                 m: Int = PqSubspaces, refine: Int = PqRefine,
                 dims: Int = 64): DataFrame = {
    val vn = pqNormalized(vectors, id, vec)
    ivfPqOnNormalized(vn, codes, codebooks, assign, cellCentroids,
      isProbe, k, nprobe, m, refine, dims)
  }

  private def ivfPqOnNormalized(vn: DataFrame, codes: DataFrame,
                                codebooks: DataFrame, assign: DataFrame,
                                cellCentroids: DataFrame,
                                isProbe: Column => Column, k: Int,
                                nprobe: Int, m: Int, refine: Int,
                                dims: Int): DataFrame = {
    val probes = vn.filter(isProbe(col("vec_id")))
    val wCell = Window.partitionBy(col("probe_id"))
      .orderBy(col("ccos").desc, col("cluster"))
    val probeCells = probes.select(col("vec_id").as("probe_id"), col("nv"))
      .crossJoin(broadcast(cellCentroids))
      .withColumn("ccos", dot(col("nv"), col("centroid")) / col("cnrm"))
      .withColumn("crnk", row_number().over(wCell))
      .filter(col("crnk") <= nprobe)
      .select(col("probe_id"), col("cluster").as("cell"))
    val dts = adcTables(probes, codebooks, m, dims / m)
    val restricted = codes
      .join(assign.select(col("vec_id"), col("cluster").as("cell")),
        "vec_id")
      .join(broadcast(probeCells), Seq("cell"))
    adcRefine(adcScore(restricted, dts, m, from = 0), vn, k, refine)
  }

  /** The k19/k20 harness instantiation: every artifact comes from the
    * shared memo — the entry trains nothing of its own. */
  def ivfPqServe(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val (codes, cbs) = sharedPqIndex(s, d)
    ivfPqOnNormalized(sharedNormalized(s, d), codes, cbs,
      sharedKmeansAssign(s, d), sharedCellCentroids(s, d),
      _ < NumProbes, TopK, nprobe, PqSubspaces, PqRefine, 64)
  }

  /** TOMBSTONE-AWARE IVFPQ SERVE (k25) — deletions WITHOUT an index
    * rebuild: the production index keeps every trained artifact
    * (cells, codes, codebooks) untouched, and a tombstone TABLE is
    * anti-joined onto the code list at serve time, so deleted vectors
    * can never reach the ADC scoring or the exact refine. This is how
    * a deployed ANN index honors takedowns/right-to-erasure between
    * nightly rebuilds — the delete path is a parquet append to the
    * tombstone table, O(deletes), not O(index).
    *
    * Scale shape: the anti-join keys on `vec_id`, the SAME key as the
    * codes⋈assignment join it sits beside, so it rides that exchange
    * (or broadcasts, when the tombstone set is small — AQE decides);
    * the standing corpus is never re-encoded and the gate/ADC/refine
    * plan is k19's verbatim. Probes are NOT tombstone-filtered: a
    * deleted vector may still query, it just can't be returned.
    * Output: k19's `(probe_id, rnk, neighbor_id, score)`. */
  def ivfPqServeTombstoned(s: SparkSession, d: String,
                           tombstones: DataFrame,
                           nprobe: Int = IvfPqNprobe): DataFrame = {
    val (codes, cbs) = sharedPqIndex(s, d)
    ivfPqOnNormalized(sharedNormalized(s, d),
      codes.join(tombstones.select(col("vec_id")), Seq("vec_id"),
        "left_anti"),
      cbs, sharedKmeansAssign(s, d), sharedCellCentroids(s, d),
      _ < NumProbes, TopK, nprobe, PqSubspaces, PqRefine, 64)
  }

  /** METADATA-FILTERED IVFPQ SERVE (k26) — constrained vector search,
    * the feature every production vector store ships beside plain kNN
    * (FAISS `IDSelector`, the filtered-search mode of the hosted
    * vector DBs): "nearest neighbors among vectors whose metadata
    * passes a predicate". This is the PRE-filter strategy: the
    * eligibility set semi-joins the code list BEFORE ADC scoring, so
    * the shortlist, the refine, and the final top-k all rank eligible
    * vectors only — each probe gets its full k eligible answers. A
    * POST-filter (rank first, drop ineligible after) would silently
    * return fewer than k whenever good neighbors fail the predicate —
    * the classic filtered-ANN recall trap; under a selective predicate
    * a production engine may widen nprobe to compensate, which the
    * `nprobe` parameter already exposes.
    *
    * Scale shape = k25's: the semi-join keys on `vec_id`, the same key
    * as the codes⋈assignment join beside it, so it rides that exchange
    * or broadcasts under AQE; trained artifacts are untouched and the
    * corpus is never re-encoded — the predicate is serve-time state,
    * not index state. Probes are not filtered: any vector may query,
    * only the RETURNABLE set is constrained.
    * Output: k19's `(probe_id, rnk, neighbor_id, score)`. */
  def ivfPqServeFiltered(s: SparkSession, d: String,
                         eligible: DataFrame,
                         nprobe: Int = IvfPqNprobe): DataFrame = {
    val (codes, cbs) = sharedPqIndex(s, d)
    ivfPqOnNormalized(sharedNormalized(s, d),
      codes.join(eligible.select(col("vec_id")), Seq("vec_id"),
        "left_semi"),
      cbs, sharedKmeansAssign(s, d), sharedCellCentroids(s, d),
      _ < NumProbes, TopK, nprobe, PqSubspaces, PqRefine, 64)
  }

  // ───── Scalar quantization (SQ8) — k21 ─────

  /** SQ8 range stats (the "train" half of scalar quantization): per
    * dimension, the corpus minimum and range of the Quant-scaled
    * normalized elements, assembled into ONE broadcastable row
    * `(qmins, widths)` of dims-length long arrays.
    *
    * Scale shape: one posexplode → 64-key aggregation (map-side
    * partials collapse the per-element fan-out before the exchange),
    * then a 64-row assembly — the stats row is O(dims) no matter the
    * corpus size, the SQ analog of k11's two-pass fit. */
  def sqTrainStats(vn: DataFrame): DataFrame =
    sqQuantized(vn)
      .select(posexplode(col("qv")).as(Seq("dim", "q")))
      .groupBy(col("dim"))
      .agg(min(col("q")).as("qmin"), (max(col("q")) - min(col("q"))).as("width"))
      .agg(expr("array_sort(collect_list(struct(dim, qmin, width)))").as("s"))
      .select(expr("transform(s, x -> x.qmin)").as("qmins"),
        expr("transform(s, x -> x.width)").as("widths"))

  /** Quant-scaled integer elements of the normalized corpus — the
    * common integer domain the SQ stats, codes and probe side all live
    * in (floor(nv·2²⁰), the PQ centroid-sum recipe). */
  private def sqQuantized(vn: DataFrame): DataFrame =
    vn.select(col("vec_id"),
      expr(s"transform(nv, x -> cast(floor(x * ${Quant}D) as bigint))").as("qv"))

  /** ENCODE vectors against FROZEN SQ stats (the k18 move on the SQ
    * seam): each element to an 8-bit code `(q−qmin)·255 div width`
    * (0 for constant dimensions) — pure map-side arithmetic after the
    * one-row stats broadcast, so a delta batch appends to a standing
    * code table without touching the corpus. All operands are
    * non-negative, so Spark's truncating `div` and DuckDB's flooring
    * `//` agree by construction. Output: `(vec_id, codes)`. */
  def sqEncodeWith(vn: DataFrame, stats: DataFrame): DataFrame =
    sqQuantized(vn).crossJoin(broadcast(stats))
      .select(col("vec_id"),
        expr("zip_with(zip_with(qv, qmins, (x, mn) -> x - mn), widths, " +
          "(dx, w) -> CASE WHEN w = 0 THEN cast(0 as bigint) " +
          "ELSE (dx * 255) div w END)").as("codes"),
        col("qmins"), col("widths"))

  /** SQ8-compressed k-NN (k21) — the THIRD production index family
    * next to PQ (k08) and IVF (k05): FAISS's `ScalarQuantizer` path.
    * Each normalized corpus vector is stored as dims 8-bit codes
    * (16× smaller than float32; vs PQ's m integers the codes keep
    * per-dimension structure and need no codebook training — range
    * stats only, one cheap corpus pass). Serving is asymmetric: the
    * probe stays at full Quant precision while each corpus element is
    * reconstructed from its code (`qmin + code·width div 255`), and
    * the score is the exact integer dot `Σ rec_j·probe_j` — entirely
    * deterministic int64 arithmetic (|rec|,|probe| ≤ 2²⁰ ⇒ the
    * 64-term sum ≤ 2⁴⁶), so both engines agree bit-for-bit with no
    * float fold anywhere in the serve path.
    *
    * Scale shape: stats are one O(dims) aggregation; encode and
    * reconstruction are map-side under a one-row broadcast; probes
    * broadcast against the code table exactly like [[knnBrute]] — the
    * corpus never shuffles. At 100 TB the wins compound: the standing
    * side a serve scan reads is the 64-byte code table, not the
    * 256-byte float corpus. Output: `(probe_id, rnk, neighbor_id,
    * score_q)` with the integer reconstruction score. */
  def sqAdcKnn(vectors: DataFrame, id: String, vec: String,
               isProbe: Column => Column, k: Int): DataFrame = {
    val vn = pqNormalized(vectors, id, vec)
    sqAdcOnNormalized(vn, isProbe, k)
  }

  /** TRAIN the SQ8 index (the k24 persistence seam): the two frames a
    * deployment stores — the one-row per-dimension range `stats` and
    * the `codes` table `(vec_id, codes)`, dims 8-bit values per
    * vector. Together they are the complete standing index, the SQ
    * analog of [[pqTrainIndex]]'s codes+codebooks pair. */
  def sqTrainIndex(vn: DataFrame): (DataFrame, DataFrame) = {
    val stats = sqTrainStats(vn)
    (stats, sqEncodeWith(vn, stats).select(col("vec_id"), col("codes")))
  }

  /** Persist a trained SQ8 index under `dir` (stats/codes parquet) —
    * the k15/d19 move on the third index family. Everything is int64,
    * which parquet round-trips bit-exactly, so load-then-serve ≡
    * train-then-serve (k24 shares k21's oracle verbatim; pinned by
    * the load≡train spec). */
  def sqWriteIndex(stats: DataFrame, codes: DataFrame, dir: String): Unit = {
    IndexMeta.unstamp(dir)
    stats.write.mode("overwrite").parquet(s"$dir/stats")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    IndexMeta.stampVersion(dir, sqVersion)
  }

  /** Load a persisted SQ8 index written by [[sqWriteIndex]]:
    * `(stats, codes)` — failing loudly unless its [[sqVersion]] stamp
    * matches the current encoder + quantizer definition. */
  def sqLoadIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    IndexMeta.checkVersion(dir, sqVersion)
    (spark.read.parquet(s"$dir/stats"),
      spark.read.parquet(s"$dir/codes"))
  }

  /** THE SQ8 decode formula — `qmin + code·width div 255` over a frame
    * carrying `codes`/`widths`/`qmins` — defined once so the in-session
    * (k21) and loaded (k24) serve paths can never silently diverge:
    * both reconstructions splice in this same expression text. */
  private val SqDecodeExpr: String =
    "zip_with(zip_with(codes, widths, (c, w) -> (c * w) div 255), " +
      "qmins, (t, mn) -> mn + t)"

  /** Reconstruct integer corpus elements from a (possibly loaded)
    * code table + stats row: [[SqDecodeExpr]], map-side under the
    * one-row stats broadcast — the decode half every SQ serve runs.
    * Output: `(vec_id, rv)`. */
  private def sqReconstruct(codes: DataFrame, stats: DataFrame): DataFrame =
    codes.crossJoin(broadcast(stats))
      .select(col("vec_id"), expr(SqDecodeExpr).as("rv"))

  /** SERVE probes from a published SQ8 index directory — stats and
    * codes loaded from parquet, nothing trained in-session (the k24
    * entry; corpus floats are touched only via the shared normalized
    * frame's probe rows): the p07 move on the SQ family. */
  def sqServeLoaded(s: SparkSession, d: String, dir: String,
                    k: Int = TopK): DataFrame = {
    val (stats, codes) = sqLoadIndex(s, dir)
    sqServeRecon(sqReconstruct(codes, stats), sharedNormalized(s, d),
      _ < NumProbes, k)
  }

  private def sqAdcOnNormalized(vn: DataFrame, isProbe: Column => Column,
                                k: Int): DataFrame = {
    // In-session serve attaches the one-row stats frame ONCE:
    // sqEncodeWith already carries qmins/widths alongside the codes,
    // so the reconstruction reuses that broadcast instead of paying a
    // second stats cross-join ([[sqReconstruct]] exists only for the
    // loaded k24 path, where the code table arrives bare from parquet).
    val recon = sqEncodeWith(vn, sqTrainStats(vn))
      .select(col("vec_id"), expr(SqDecodeExpr).as("rv"))
    sqServeRecon(recon, vn, isProbe, k)
  }

  /** The shared SQ8 scoring tail over reconstructed integer vectors:
    * exact int64 dot against the Quant-precision probes, per-probe
    * top-k — identical whether `recon` came from in-session training
    * (k21) or a loaded index (k24). */
  private def sqServeRecon(recon: DataFrame, vn: DataFrame,
                           isProbe: Column => Column, k: Int): DataFrame = {
    val probes = sqQuantized(vn).filter(isProbe(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("qv").as("pq"))
    val scored = recon.as("b").join(broadcast(probes.as("a")),
        col("a.probe_id") =!= col("b.vec_id"))
      .select(col("a.probe_id"), col("b.vec_id").as("neighbor_id"),
        expr("aggregate(zip_with(rv, pq, (r, p) -> r * p), " +
          "cast(0 as bigint), (acc, x) -> acc + x)").as("score_q"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score_q").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"), col("score_q"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the production composite: coarse cells gate, PQ codes score,
    // exact refine ranks — all from the shared trained artifacts
    "k19_ivfpq" -> ((s, d) => ivfPqServe(s, d, IvfPqNprobe)),
    // k19 under a standing delete set (every vec_id ≡ 3 mod 7): the
    // tombstones anti-join the code list at serve, nothing retrains
    "k25_tombstone_serve" -> ((s, d) =>
      ivfPqServeTombstoned(s, d,
        Tables.embeddings(s, d).select(col("vec_id"))
          .filter(col("vec_id") % 7 === 3))),
    // k29: k25 with the delete set STREAMED in (the r16 takedown-feed
    // shape on the ANN family): vector deletes drain through
    // TombstoneStream into the standing set (batchId-keyed idempotent
    // appends), and the k25 serve anti-joins the ACCUMULATED set off
    // the code list. Set union over any batch split equals the static
    // %7==3 table (zero streaming state; the serve's anti-join is
    // set-semantic), so k29 shares k25's oracle verbatim. Set dir
    // cleared at entry start (no stream checkpoint here).
    "k29_tombstone_stream" -> ((s, d) => {
      val setDir = IndexPaths.dir("k29_tombstones", d)
      IndexPaths.clear(setDir)
      // embeddings.parquet is a single FILE at the driver's sf dirs
      // but a parquet DIRECTORY in ScaleGen output (the r12 note)
      val src = new java.io.File(d, "embeddings.parquet")
      val (srcDir, glob) =
        if (src.isDirectory) (src.getPath, "*.parquet")
        else (d, "embeddings.parquet")
      graft.streaming.TombstoneStream.runAvailableNow(s, srcDir,
        graft.streaming.DeconStream.rawSchema, "vec_id", setDir,
        deltaFilter = col("vec_id") % 7 === 3, glob = glob)
      ivfPqServeTombstoned(s, d,
        graft.streaming.TombstoneStream.loadSet(s, setDir))
    }),
    // k28: k25's deletes EXPUNGED at rebuild time — publish the full
    // IVFPQ store, compact the tombstoned vectors out of codes +
    // assignment (trained artifacts untouched), retire the set, and
    // serve all-loaded with no tombstone logic; equals k25 exactly
    "k28_ann_compacted_serve" -> ((s, d) => {
      val dir = IndexPaths.dir("k28_index", d)
      ivfPqWriteAll(s, d, dir)
      ivfPqCompactStore(s, dir,
        Tables.embeddings(s, d).select(col("vec_id"))
          .filter(col("vec_id") % 7 === 3))
      ivfPqServeLoaded(s, d, dir)
    }),
    // k19 under a metadata predicate (even labels only): the
    // eligibility set semi-joins the code list before ADC, so every
    // probe ranks its full top-k among the eligible vectors
    "k26_filtered_ann" -> ((s, d) =>
      ivfPqServeFiltered(s, d,
        Tables.embeddings(s, d).filter(col("label") % 2 === 0)
          .select(col("vec_id")))),
    // recall@k of the filtered index serve against the filtered EXACT
    // baseline (k06's machinery under k26's predicate) — the number
    // that says whether nprobe must widen under a selective filter:
    // the coarse gate was trained on the WHOLE corpus, so a filter
    // that empties a probe's best cells shows up here, not in k20
    "k27_filtered_recall" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      recallAtK(
        knnFiltered(emb, "vec_id", "embedding", _ < NumProbes,
          col("label") % 2 === 0, TopK),
        ivfPqServeFiltered(s, d,
          emb.filter(col("label") % 2 === 0).select(col("vec_id"))),
        TopK)
    }),
    // SQ8: training-free 8-bit compression, integer-exact ADC serve
    "k21_sq8" -> ((s, d) =>
      sqAdcOnNormalized(sharedNormalized(s, d), _ < NumProbes, TopK)),
    // k24: the SQ8 index persisted (stats + codes parquet) and served
    // back entirely from the loaded artifacts - the k15/p07 round
    // trip on the third index family; shares k21's oracle verbatim
    "k24_sq8_persisted" -> ((s, d) => {
      val dir = IndexPaths.dir("sq_index", d)
      val (stats, codes) = sqTrainIndex(sharedNormalized(s, d))
      sqWriteIndex(stats, codes, dir)
      sqServeLoaded(s, d, dir)
    }),
    // recall@k of the combined index vs the exact baseline — the
    // number that tunes k19's nprobe/refine pair (its loss composes
    // the coarse gate's misses with PQ shortlist misses; k17 and k09
    // read out the two components separately)
    "k20_ivfpq_recall" -> ((s, d) =>
      recallAtK(sharedKnnBrute(s, d), ivfPqServe(s, d, IvfPqNprobe),
        TopK)),
    "k12_hard_negatives" -> ((s, d) =>
      hardNegatives(Tables.embeddings(s, d), "vec_id", "embedding", "label",
        _ < NumProbes, TopK)),
    "k11_standardize" -> ((s, d) =>
      standardize(Tables.embeddings(s, d), "vec_id", "embedding")),
    "k13_knn_classify" -> ((s, d) =>
      knnClassify(Tables.embeddings(s, d), "vec_id", "embedding", "label",
        _ < NumProbes, TopK)),
    // Cluster-quality readout: label PURITY of the k04 clustering
    // (majority-label share per cluster) — the standard external
    // validation metric when a labeled subset exists, and the check
    // that gates whether trained IVF cells (k05) are worth probing.
    // Per-cluster state after the k04 assignment is (k × labels)
    // counts; both readout windows share one exchange on cluster.
    "k14_cluster_purity" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val labeled = sharedKmeansAssign(s, d)
        .join(e.select(col("vec_id"), col("label").as("lbl")), Seq("vec_id"))
      val wTop = Window.partitionBy(col("cluster"))
        .orderBy(col("c").desc, col("lbl"))
      labeled.groupBy(col("cluster"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("n_vecs", sum(col("c")).over(
          Window.partitionBy(col("cluster"))))
        .withColumn("_rk", row_number().over(wTop))
        .filter(col("_rk") === 1)
        .select(col("cluster"), col("n_vecs"),
          col("lbl").cast("long").as("top_label"), col("c").as("n_top"),
          expr("(c * 1000000L) div n_vecs").as("purity_q6"))
    }),
    "k01_knn_brute" -> ((s, d) => sharedKnnBrute(s, d)),
    "k16_mips" -> ((s, d) =>
      mipsBrute(Tables.embeddings(s, d), "vec_id", "embedding",
        _ < NumProbes, TopK)),
    "k02_knn_lsh" -> ((s, d) =>
      knnLsh(Tables.embeddings(s, d), "vec_id", "embedding",
        _ < NumProbes, TopK)),
    // hybrid search: nearest neighbors among label < 5 vectors only (a
    // comparison, so it reaches the parquet reader as a pushed filter)
    "k06_filtered_knn" -> ((s, d) =>
      knnFiltered(Tables.embeddings(s, d), "vec_id", "embedding",
        _ < NumProbes, col("label") < 5, TopK)),
    "k03_ivf_knn" -> ((s, d) =>
      ivfKnn(Tables.embeddings(s, d), "vec_id", "embedding", "label",
        _ < NumProbes, 3)
        .withColumnRenamed("cell", "label")),
    "k04_kmeans" -> ((s, d) => sharedKmeansAssign(s, d)),
    "k05_ivf_trained" -> ((s, d) =>
      ivfKnnTrained(Tables.embeddings(s, d), "vec_id", "embedding",
        sharedKmeansAssign(s, d), _ < NumProbes, 3)),
    // recall@k of the LSH index vs the exact baseline — the
    // index-quality metric, computed by the engine itself
    "k07_lsh_recall" -> ((s, d) =>
      recallAtK(
        sharedKnnBrute(s, d),
        knnLsh(Tables.embeddings(s, d), "vec_id", "embedding",
          _ < NumProbes, TopK),
        TopK)),
    // memory-compressed search: per-subspace codebooks + ADC lookups,
    // served from the shared trained index
    "k08_pq_adc" -> ((s, d) => sharedPqServe(s, d)),
    // k15: the PERSISTED-index serve path — train the k08 index, WRITE
    // codes+codebooks to parquet, LOAD them back, and serve the probes
    // from the loaded index only. A deployment trains once and serves
    // many probe batches; this entry exercises that full round trip.
    // Output (and oracle) are k08's verbatim: parquet round-trips the
    // integer codes and double centroids bit-exactly, so persistence
    // changes where the index lives, not what it answers.
    "k15_pq_persisted" -> ((s, d) => {
      val idxDir = IndexPaths.dir("pq_index", d)
      val (codes, cbs) = sharedPqIndex(s, d)
      pqWriteIndex(codes, cbs, idxDir)
      pqServeLoaded(s, d, idxDir)
    }),
    // k17: the nprobe RECALL SWEEP — recall@k of the trained IVF index
    // at nprobe ∈ {1, 2, 4} in one frame: the tuning curve a
    // deployment reads to pick its latency/recall operating point
    // (each nprobe multiplies stage-2 work by ~nprobe/k_cells; the
    // sweep says what that buys). One k-means training + one exact
    // baseline are shared across the three branches; each branch is
    // the k05 search at a different probe width.
    "k17_nprobe_recall" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val assign = sharedKmeansAssign(s, d)
      val exact = sharedKnnBrute(s, d)
      // nprobe = KmeansK searches every cell — brute force by another
      // name, so that branch's recall is exactly 1: the sweep carries
      // its own calibration endpoint. The sweep variant shares the
      // centroid build + corpus norm scan across the four points
      // (r19; they re-ran per point before).
      ivfKnnTrainedSweep(e, "vec_id", "embedding", assign,
        _ < NumProbes, TopK, Seq(1, 2, 4, KmeansK)).map { case (np, knn) =>
        recallAtK(exact, knn, TopK).withColumn("nprobe", lit(np.toLong))
      }.reduce(_ unionByName _)
        .select(col("nprobe"), col("probe_id"), col("n_hits"),
          col("recall_q6"))
    }),
    // recall@k of the PQ index vs the exact baseline (k07's metric
    // pointed at the compressed index) — the number a deployment tunes
    // refine/codebook against
    "k09_pq_recall" -> ((s, d) =>
      recallAtK(sharedKnnBrute(s, d), sharedPqServe(s, d), TopK)),
    // recall@k of the SQ8 index (k07's metric pointed at k21) — closes
    // the readout symmetry: every compressed index in the family (LSH
    // k07, PQ k09, IVF k17, IVFPQ k20, SQ8 k22) carries its own
    // engine-computed quality number against the shared exact baseline
    "k22_sq8_recall" -> ((s, d) =>
      recallAtK(sharedKnnBrute(s, d),
        sqAdcOnNormalized(sharedNormalized(s, d), _ < NumProbes, TopK),
        TopK)),
    // training-free compressed search: ±1 sketch shortlist + exact
    // refine — the dimensionality-reduction member of the index family
    "k10_rp_knn" -> ((s, d) =>
      rpKnn(Tables.embeddings(s, d), "vec_id", "embedding",
        _ < NumProbes, TopK)),
    // Matryoshka truncation: the prefix IS the index — zero sketch
    // cost, smooth degradation, exact refine
    "k23_mrl_knn" -> ((s, d) =>
      mrlKnn(Tables.embeddings(s, d), "vec_id", "embedding",
        _ < NumProbes, TopK)),
    // k18: INCREMENTAL index growth — codebooks trained on the even
    // half (the standing corpus), the odd half (a delta batch) encoded
    // against them FROZEN: the nightly append a PQ deployment runs
    // between retrains (d19's move on the ANN seam)
    "k18_pq_encode_delta" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val (_, cbs) = pqTrainIndex(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding")
      pqEncodeWith(e.filter(col("vec_id") % 2 =!= 0), "vec_id",
        "embedding", cbs)
    }))

  def oracle: Map[String, String] = {
    val wLists = (0 until NumPlanes).map { i =>
      (0 until 64).map(j => weight(i, j)).mkString("[", ", ", "]")
    }
    val bucketSql = (0 until NumPlanes).map { i =>
      s"""CASE WHEN reduce(list_prepend(0.0, list_transform(range(1, 65),
         |  k -> v[k] * (${wLists(i)}::BIGINT[])[k])), (acc, x) -> acc + x) > 0
         |  THEN ${1 << i} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    val cosSql =
      """reduce(list_prepend(0.0, list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])),
        |           (acc, x) -> acc + x) / (a.nrm * b.nrm)""".stripMargin
    Map(
      // k11 — same q6 element quantization, exact integer sums per dim
      // (HUGEINT ≡ decimal(38,0)), identical IEEE op order for mu/sd/z
      "k11_standardize" ->
        """WITH u AS (
          |  SELECT vec_id, unnest(list_transform(embedding, (x, i) ->
          |    {'dim': CAST(i - 1 AS BIGINT),
          |     'q': CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)})) AS s
          |  FROM embeddings),
          |q AS (SELECT vec_id, s.dim AS dim, s.q AS q FROM u),
          |stats AS (
          |  SELECT dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS sq,
          |    sum(q * q) AS sq2
          |  FROM q GROUP BY dim),
          |st AS (
          |  SELECT dim, sq::DOUBLE / n::DOUBLE AS mu_q,
          |    sqrt(sq2::DOUBLE / n::DOUBLE
          |         - (sq::DOUBLE / n::DOUBLE) * (sq::DOUBLE / n::DOUBLE)) AS sd_q
          |  FROM stats)
          |SELECT q.vec_id, q.dim,
          |  CASE WHEN st.sd_q > 0
          |    THEN CAST(round((q.q::DOUBLE - st.mu_q) / st.sd_q * 1000000.0) AS BIGINT)
          |    ELSE 0 END AS z_q6
          |FROM q JOIN st ON st.dim = q.dim""".stripMargin,
      // k13 — k01's scored/ranked CTEs over the disjoint train side,
      // then integer vote counts with the same two-level tie-break
      "k13_knn_classify" ->
        s"""WITH v AS (
           |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v
           |  FROM embeddings),
           |n AS (
           |  SELECT vec_id, label, v,
           |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           |  FROM v),
           |scored AS (
           |  SELECT a.vec_id AS probe_id, a.label AS true_label,
           |    b.vec_id AS neighbor_id, b.label AS n_label,
           |    $cosSql AS cos
           |  FROM n a JOIN n b ON a.vec_id < $NumProbes AND b.vec_id >= $NumProbes),
           |ranked AS (
           |  SELECT probe_id, true_label, n_label,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM scored),
           |votes AS (
           |  SELECT probe_id, true_label, n_label, CAST(count(*) AS BIGINT) AS n_votes
           |  FROM ranked WHERE rnk <= $TopK GROUP BY 1, 2, 3),
           |win AS (
           |  SELECT probe_id, true_label, n_label, n_votes,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY n_votes DESC, n_label) AS rk
           |  FROM votes)
           |SELECT probe_id, CAST(n_label AS BIGINT) AS pred_label, n_votes,
           |  CAST(true_label AS BIGINT) AS true_label,
           |  n_label = true_label AS correct
           |FROM win WHERE rk = 1""".stripMargin,
      // k16 — k01's CTE shape scored by the raw left-folded dot
      // product (no norm division); same 0.0-seeded reduce as cosSql
      "k16_mips" ->
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |scored AS (
           |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           |    reduce(list_prepend(0.0, list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])),
           |           (acc, x) -> acc + x) AS dot
           |  FROM v a JOIN v b ON a.vec_id < $NumProbes AND a.vec_id <> b.vec_id),
           |ranked AS (
           |  SELECT probe_id, neighbor_id, dot,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY dot DESC, neighbor_id) AS rnk
           |  FROM scored)
           |SELECT probe_id, rnk, neighbor_id, dot FROM ranked WHERE rnk <= $TopK""".stripMargin,
      // k21 — the SQ8 pipeline replayed relationally: normalized
      // elements floor-quantized at 2^20 (the PQ recipe), per-dim
      // min/range stats, 8-bit encode, reconstruction, integer dot.
      // Every division has a non-negative numerator and denominator,
      // so DuckDB's flooring `//` ≡ Spark's truncating `div`.
      "k21_sq8" ->
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |n AS (
           |  SELECT vec_id, v,
           |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           |  FROM v),
           |nv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM n),
           |qd AS (
           |  SELECT vec_id, s.dim AS dim, s.q AS q FROM (
           |    SELECT vec_id, unnest(list_transform(nv, (x, i) ->
           |      {'dim': CAST(i AS BIGINT),
           |       'q': CAST(floor(x * $Quant.0) AS BIGINT)})) AS s
           |    FROM nv) u),
           |stats AS (
           |  SELECT dim, min(q) AS qmin, max(q) - min(q) AS width
           |  FROM qd GROUP BY dim),
           |enc AS (
           |  SELECT vec_id, dim,
           |    CASE WHEN width = 0 THEN 0
           |         ELSE ((q - qmin) * 255) // width END AS code
           |  FROM qd JOIN stats USING (dim)),
           |rec AS (
           |  SELECT vec_id, dim, qmin + (code * width) // 255 AS r
           |  FROM enc JOIN stats USING (dim)),
           |scored AS (
           |  SELECT p.vec_id AS probe_id, r.vec_id AS neighbor_id,
           |    CAST(sum(r.r * p.q) AS BIGINT) AS score_q
           |  FROM rec r JOIN qd p ON p.dim = r.dim
           |  WHERE p.vec_id < $NumProbes AND r.vec_id <> p.vec_id
           |  GROUP BY 1, 2),
           |ranked AS (
           |  SELECT probe_id, neighbor_id, score_q,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY score_q DESC, neighbor_id) AS rnk
           |  FROM scored)
           |SELECT probe_id, rnk, neighbor_id, score_q FROM ranked WHERE rnk <= $TopK""".stripMargin,
      "k01_knn_brute" ->
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |n AS (
           |  SELECT vec_id, v,
           |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           |  FROM v),
           |scored AS (
           |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           |    $cosSql AS cos
           |  FROM n a JOIN n b ON a.vec_id < $NumProbes AND a.vec_id <> b.vec_id),
           |ranked AS (
           |  SELECT probe_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM scored)
           |SELECT probe_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= $TopK""".stripMargin,
      // k06 — k01 with the eligibility predicate on the corpus side
      // k12 — k06's CTE shape with the label INEQUALITY as the join
      // predicate (cross-label candidates only)
      "k12_hard_negatives" ->
        s"""WITH v AS (
           |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |n AS (
           |  SELECT vec_id, label, v,
           |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           |  FROM v),
           |scored AS (
           |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           |    $cosSql AS cos
           |  FROM n a JOIN n b ON a.vec_id < $NumProbes AND a.label <> b.label),
           |ranked AS (
           |  SELECT probe_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM scored)
           |SELECT probe_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= $TopK""".stripMargin,
      "k06_filtered_knn" ->
        s"""WITH v AS (
           |  SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |n AS (
           |  SELECT vec_id, label, v,
           |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           |  FROM v),
           |scored AS (
           |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           |    $cosSql AS cos
           |  FROM n a JOIN n b ON a.vec_id < $NumProbes AND a.vec_id <> b.vec_id
           |  WHERE b.label < 5),
           |ranked AS (
           |  SELECT probe_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM scored)
           |SELECT probe_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= $TopK""".stripMargin,
      "k02_knn_lsh" ->
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |n AS (
           |  SELECT vec_id, v,
           |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm,
           |    $bucketSql AS bucket
           |  FROM v),
           |scored AS (
           |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
           |    $cosSql AS cos
           |  FROM n a JOIN n b
           |    ON a.vec_id < $NumProbes AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
           |ranked AS (
           |  SELECT probe_id, neighbor_id, cos,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM scored)
           |SELECT probe_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= $TopK""".stripMargin,
      // Exact mirror of ivfKnn: floor(x·2^20) quantization (power-of-two
      // scale — bit-exact in both engines), integer sums per (cell,
      // pos), centroid elements rebuilt in pos order via list(ORDER BY),
      // then the same two-stage rank with identical tie-breaks. The
      // testdata embedding width (64) is inlined here; the Spark side is
      // width-generic.
      "k03_ivf_knn" ->
        s"""WITH n AS (
           |  SELECT vec_id, label AS cell, list_transform(embedding, x -> x::DOUBLE) AS v,
           |    sqrt(reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x)) AS nrm
           |  FROM embeddings),
           |q AS (
           |  SELECT cell, i AS pos, CAST(floor(v[i] * $Quant) AS BIGINT) AS q
           |  FROM n, (SELECT unnest(range(1, 65)) AS i) idx),
           |cq AS (SELECT cell, pos, sum(q) AS sq, count(*) AS cnt FROM q GROUP BY 1, 2),
           |cent AS (
           |  SELECT cell, list((sq::DOUBLE / cnt::DOUBLE) / $Quant ORDER BY pos) AS centroid
           |  FROM cq GROUP BY cell),
           |cn AS (
           |  SELECT cell, centroid,
           |    sqrt(reduce(list_prepend(0.0, list_transform(centroid, x -> x * x)), (acc, x) -> acc + x)) AS cnrm
           |  FROM cent),
           |pc AS (
           |  SELECT probe_id, pv, pnrm, cell FROM (
           |    SELECT p.vec_id AS probe_id, p.v AS pv, p.nrm AS pnrm, c.cell,
           |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
           |        reduce(list_prepend(0.0, list_transform(range(1, 65), i -> p.v[i] * c.centroid[i])), (acc, x) -> acc + x)
           |          / (p.nrm * c.cnrm) DESC, c.cell) AS crnk
           |    FROM n p, cn c WHERE p.vec_id < $NumProbes) t
           |  WHERE crnk = 1),
           |scored AS (
           |  SELECT pc.probe_id, b.vec_id AS neighbor_id, pc.cell,
           |    reduce(list_prepend(0.0, list_transform(range(1, 65), i -> pc.pv[i] * b.v[i])), (acc, x) -> acc + x)
           |      / (pc.pnrm * b.nrm) AS cos
           |  FROM pc JOIN n b ON b.cell = pc.cell AND b.vec_id <> pc.probe_id),
           |ranked AS (
           |  SELECT probe_id, neighbor_id, cell, cos,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM scored)
           |SELECT probe_id, rnk, neighbor_id, cell AS label, cos FROM ranked WHERE rnk <= 3""".stripMargin,
      "k04_kmeans" -> kmeansOracleSql(KmeansK, KmeansIters),
      // k14 — k04's CTE chain, labels joined back, majority share per
      // cluster with the same (count desc, label) tie-break
      "k14_cluster_purity" -> kmeansOracleSql(KmeansK, KmeansIters, body =
        s""",
           |lb AS (
           |  SELECT a.cluster, e.label AS lbl
           |  FROM a$KmeansIters a JOIN embeddings e USING (vec_id)),
           |ct AS (SELECT cluster, lbl, CAST(count(*) AS BIGINT) AS c
           |       FROM lb GROUP BY 1, 2),
           |rd AS (
           |  SELECT cluster, lbl, c,
           |    CAST(sum(c) OVER (PARTITION BY cluster) AS BIGINT) AS n_vecs,
           |    row_number() OVER (PARTITION BY cluster ORDER BY c DESC, lbl) AS rk
           |  FROM ct)
           |SELECT cluster, n_vecs, CAST(lbl AS BIGINT) AS top_label, c AS n_top,
           |  (c * 1000000) // n_vecs AS purity_q6
           |FROM rd WHERE rk = 1""".stripMargin),
      // k05 = the k03 search over a{iters}' trained cells: the kmeans CTE
      // chain plus the IVF two-stage SQL (CTE q is shared; the IVF base
      // relation joins the final assignment on vec_id).
      "k05_ivf_trained" -> kmeansOracleSql(KmeansK, KmeansIters, body =
        s""",
           |n AS (
           |  SELECT q.vec_id, a.cluster AS cell, q.v, q.qv,
           |    sqrt(reduce(list_prepend(0.0, list_transform(q.v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
           |  FROM q JOIN a$KmeansIters a USING (vec_id)),
           |qq AS (
           |  SELECT cell, idx.i AS pos, qv[idx.i] AS qe
           |  FROM n, (SELECT unnest(range(1, 65)) AS i) idx),
           |cq AS (SELECT cell, pos, sum(qe) AS sq, count(*) AS cnt FROM qq GROUP BY 1, 2),
           |cent AS (
           |  SELECT cell, list((sq::DOUBLE / cnt::DOUBLE) / $Quant ORDER BY pos) AS centroid
           |  FROM cq GROUP BY cell),
           |cn AS (
           |  SELECT cell, centroid,
           |    sqrt(reduce(list_prepend(0.0, list_transform(centroid, x -> x * x)), (acc, x) -> acc + x)) AS cnrm
           |  FROM cent),
           |pc AS (
           |  SELECT probe_id, pv, pnrm, cell FROM (
           |    SELECT p.vec_id AS probe_id, p.v AS pv, p.nrm AS pnrm, c.cell,
           |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
           |        reduce(list_prepend(0.0, list_transform(range(1, 65), i -> p.v[i] * c.centroid[i])), (acc, x) -> acc + x)
           |          / (p.nrm * c.cnrm) DESC, c.cell) AS crnk
           |    FROM n p, cn c WHERE p.vec_id < $NumProbes) t
           |  WHERE crnk = 1),
           |scored AS (
           |  SELECT pc.probe_id, b.vec_id AS neighbor_id, pc.cell,
           |    reduce(list_prepend(0.0, list_transform(range(1, 65), i -> pc.pv[i] * b.v[i])), (acc, x) -> acc + x)
           |      / (pc.pnrm * b.nrm) AS cos
           |  FROM pc JOIN n b ON b.cell = pc.cell AND b.vec_id <> pc.probe_id),
           |ranked AS (
           |  SELECT probe_id, neighbor_id, cell, cos,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
           |  FROM scored)
           |SELECT probe_id, rnk, neighbor_id, cell, cos FROM ranked WHERE rnk <= 3""".stripMargin)) match {
      // k07 composes the k01/k02 texts verbatim (the recall of the
      // approximate list against the exact one, per probe)
      case m =>
        // recall readout shared by k07 (LSH) and k09 (PQ): overlap of
        // the approximate list against the exact one, per probe
        def recallSql(approxSql: String) =
          s"""WITH exact AS (${m("k01_knn_brute")}),
             |approx AS ($approxSql)
             |SELECT e.probe_id,
             |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |  CAST(round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             |             / ${TopK.toDouble} * 1000000.0) AS BIGINT) AS recall_q6
             |FROM exact e LEFT JOIN approx a
             |  ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
             |GROUP BY e.probe_id""".stripMargin
        // k08 — one prefixed k-means CTE chain per subspace, spliced into
        // a single WITH; ADC = per-subspace distance tables joined onto
        // the code tuples, score evaluated dt0 + dt1 + … like Spark
        val k08Sql = {
        val sub = 64 / PqSubspaces
        // unit-normalized element j, mirroring Spark's dv[j] / |dv|
        val nrmSql = "sqrt(reduce(list_prepend(0.0, list_transform(embedding, " +
          "x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x))"
        def nSlice(i: Int) =
          s"list_transform(range(${i * sub + 1}, ${(i + 1) * sub + 1}), " +
            s"j -> embedding[j]::DOUBLE / $nrmSql)"
        val subCtes = (0 until PqSubspaces).flatMap { i =>
          kmeansCtes(PqK, PqIters, sub, s"s$i", nSlice(i),
            withFinalCentroids = true)
        }
        def dot(a: String, b: String) =
          s"reduce(list_prepend(0.0, list_transform(range(1, ${sub + 1}), " +
            s"j -> $a[j] * $b[j])), (acc, x) -> acc + x)"
        val probeCols = (0 until PqSubspaces).map(i =>
          s"${nSlice(i)} AS pv$i").mkString(",\n    ")
        val dtCtes = (0 until PqSubspaces).map(i =>
          s"""dt$i AS (
             |  SELECT p.vec_id AS probe_id, c.cluster AS c$i,
             |    ${dot(s"p.pv$i", "c.centroid")} AS dt$i
             |  FROM probes p, s${i}c$PqIters c)""".stripMargin)
        val codeJoins = (1 until PqSubspaces).map(i =>
          s"JOIN s${i}a$PqIters a$i ON a$i.vec_id = a0.vec_id").mkString("\n  ")
        val dtJoins = (0 until PqSubspaces).map(i =>
          if (i == 0) "JOIN dt0 d0 ON d0.c0 = a0.cluster"
          else s"JOIN dt$i d$i ON d$i.c$i = a$i.cluster AND d$i.probe_id = d0.probe_id")
          .mkString("\n  ")
        val scoreSum = (0 until PqSubspaces).map(i => s"d$i.dt$i").mkString(" + ")
        s"""WITH ${(subCtes ++ Seq(
              s"probes AS (\n  SELECT vec_id,\n    $probeCols\n  FROM embeddings WHERE vec_id < $NumProbes)") ++
              dtCtes).mkString(",\n")},
           |scored AS (
           |  SELECT d0.probe_id, a0.vec_id AS neighbor_id, $scoreSum AS adc
           |  FROM s0a$PqIters a0
           |  $codeJoins
           |  $dtJoins
           |  WHERE a0.vec_id <> d0.probe_id),
           |shortlist AS (
           |  SELECT probe_id, neighbor_id FROM (
           |    SELECT probe_id, neighbor_id,
           |      row_number() OVER (PARTITION BY probe_id ORDER BY adc DESC, neighbor_id) AS arnk
           |    FROM scored) t
           |  WHERE arnk <= $PqRefine),
           |fullnv AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x -> x::DOUBLE / $nrmSql) AS nv
           |  FROM embeddings),
           |exact AS (
           |  SELECT s.probe_id, s.neighbor_id,
           |    reduce(list_prepend(0.0, list_transform(range(1, 65),
           |      j -> p.nv[j] * n.nv[j])), (acc, x) -> acc + x) AS score
           |  FROM shortlist s
           |  JOIN fullnv p ON p.vec_id = s.probe_id
           |  JOIN fullnv n ON n.vec_id = s.neighbor_id),
           |ranked AS (
           |  SELECT probe_id, neighbor_id, score,
           |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rnk
           |  FROM exact)
           |SELECT probe_id, rnk, neighbor_id, score FROM ranked WHERE rnk <= $TopK""".stripMargin
        }
        // k19 — the k08 ADC text gated by the coarse quantizer: the
        // raw-vector kmeans chain (cq prefix) supplies the cell
        // assignment, cell centroids are exact quantized means of the
        // NORMALIZED members, probes keep their nprobe top cells, and
        // the scored CTE adds the cell join before the dt lookups
        val k19Sql = {
          val sub = 64 / PqSubspaces
          val nrmSql = "sqrt(reduce(list_prepend(0.0, list_transform(embedding, " +
            "x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x))"
          def nSlice(i: Int) =
            s"list_transform(range(${i * sub + 1}, ${(i + 1) * sub + 1}), " +
              s"j -> embedding[j]::DOUBLE / $nrmSql)"
          val subCtes = (0 until PqSubspaces).flatMap { i =>
            kmeansCtes(PqK, PqIters, sub, s"s$i", nSlice(i),
              withFinalCentroids = true)
          }
          val coarseCtes = kmeansCtes(KmeansK, KmeansIters, 64, "cq",
            "embedding", withFinalCentroids = false)
          def dot(a: String, b: String) =
            s"reduce(list_prepend(0.0, list_transform(range(1, ${sub + 1}), " +
              s"j -> $a[j] * $b[j])), (acc, x) -> acc + x)"
          def dot64(a: String, b: String) =
            s"reduce(list_prepend(0.0, list_transform(range(1, 65), " +
              s"j -> $a[j] * $b[j])), (acc, x) -> acc + x)"
          val probeCols = ((0 until PqSubspaces).map(i =>
            s"${nSlice(i)} AS pv$i") :+
            s"list_transform(embedding, x -> x::DOUBLE / $nrmSql) AS pnv")
            .mkString(",\n    ")
          val dtCtes = (0 until PqSubspaces).map(i =>
            s"""dt$i AS (
               |  SELECT p.vec_id AS probe_id, c.cluster AS c$i,
               |    ${dot(s"p.pv$i", "c.centroid")} AS dt$i
               |  FROM probes p, s${i}c$PqIters c)""".stripMargin)
          val cellCtes = Seq(
            s"""fullnv AS (
               |  SELECT vec_id,
               |    list_transform(embedding, x -> x::DOUBLE / $nrmSql) AS nv
               |  FROM embeddings)""".stripMargin,
            s"""qn AS (
               |  SELECT vec_id,
               |    list_transform(nv, x -> CAST(floor(x * $Quant) AS BIGINT)) AS qv
               |  FROM fullnv)""".stripMargin,
            s"""ce AS (
               |  SELECT a.cluster, idx.j AS pos, qn.qv[idx.j] AS qe
               |  FROM qn JOIN cqa$KmeansIters a USING (vec_id),
               |    (SELECT unnest(range(1, 65)) AS j) idx)""".stripMargin,
            s"""cs AS (
               |  SELECT cluster, pos, sum(qe) AS sq, count(*) AS n
               |  FROM ce GROUP BY 1, 2)""".stripMargin,
            s"""ncent AS (
               |  SELECT cluster,
               |    list((sq::DOUBLE / n::DOUBLE) / $Quant ORDER BY pos) AS centroid
               |  FROM cs GROUP BY cluster)""".stripMargin,
            s"""cn AS (
               |  SELECT cluster, centroid,
               |    sqrt(reduce(list_prepend(0.0, list_transform(centroid, x -> x * x)), (acc, x) -> acc + x)) AS cnrm
               |  FROM ncent)""".stripMargin,
            s"""pc AS (
               |  SELECT probe_id, cluster AS cell FROM (
               |    SELECT p.vec_id AS probe_id, c.cluster,
               |      row_number() OVER (PARTITION BY p.vec_id
               |        ORDER BY ${dot64("p.pnv", "c.centroid")} / c.cnrm DESC, c.cluster) AS crnk
               |    FROM probes p, cn c) t
               |  WHERE crnk <= $IvfPqNprobe)""".stripMargin)
          val codeJoins = (1 until PqSubspaces).map(i =>
            s"JOIN s${i}a$PqIters a$i ON a$i.vec_id = a0.vec_id").mkString("\n  ")
          val dtJoins = (0 until PqSubspaces).map(i =>
            s"JOIN dt$i d$i ON d$i.c$i = a$i.cluster AND d$i.probe_id = pc.probe_id")
            .mkString("\n  ")
          val scoreSum = (0 until PqSubspaces).map(i => s"d$i.dt$i").mkString(" + ")
          s"""WITH ${(subCtes ++ coarseCtes ++ Seq(
                s"probes AS (\n  SELECT vec_id,\n    $probeCols\n  FROM embeddings WHERE vec_id < $NumProbes)") ++
                cellCtes ++ dtCtes).mkString(",\n")},
             |scored AS (
             |  SELECT pc.probe_id, a0.vec_id AS neighbor_id, $scoreSum AS adc
             |  FROM s0a$PqIters a0
             |  $codeJoins
             |  JOIN cqa$KmeansIters ac ON ac.vec_id = a0.vec_id
             |  JOIN pc ON pc.cell = ac.cluster
             |  $dtJoins
             |  WHERE a0.vec_id <> pc.probe_id),
             |shortlist AS (
             |  SELECT probe_id, neighbor_id FROM (
             |    SELECT probe_id, neighbor_id,
             |      row_number() OVER (PARTITION BY probe_id ORDER BY adc DESC, neighbor_id) AS arnk
             |    FROM scored) t
             |  WHERE arnk <= $PqRefine),
             |exact AS (
             |  SELECT s.probe_id, s.neighbor_id,
             |    reduce(list_prepend(0.0, list_transform(range(1, 65),
             |      j -> p.nv[j] * n.nv[j])), (acc, x) -> acc + x) AS score
             |  FROM shortlist s
             |  JOIN fullnv p ON p.vec_id = s.probe_id
             |  JOIN fullnv n ON n.vec_id = s.neighbor_id),
             |ranked AS (
             |  SELECT probe_id, neighbor_id, score,
             |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rnk
             |  FROM exact)
             |SELECT probe_id, rnk, neighbor_id, score FROM ranked WHERE rnk <= $TopK""".stripMargin
        }
        // k10 — the ±1 sketch relationally: literal sign lists (the
        // same LCG rows as Spark), sketch-cosine shortlist, exact
        // re-rank on the unit vectors; every fold left-to-right in
        // index order like graft_dot
        val k10Sql = {
          val nrmSql = "sqrt(reduce(list_prepend(0.0, list_transform(embedding, " +
            "x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x))"
          val projCols = (0 until RpDims).map { i =>
            val s = (0 until 64).map(j => rpSign(i, j)).mkString("[", ", ", "]")
            s"reduce(list_prepend(0.0, list_transform(range(1, 65), " +
              s"j -> nv[j] * ($s::DOUBLE[])[j])), (acc, x) -> acc + x)"
          }.mkString("[", ",\n    ", "]")
          s"""WITH fullnv AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE / $nrmSql) AS nv
             |  FROM embeddings),
             |p AS (
             |  SELECT vec_id, $projCols AS pv FROM fullnv),
             |pp AS (
             |  SELECT vec_id, pv,
             |    sqrt(reduce(list_prepend(0.0, list_transform(pv, x -> x * x)), (acc, x) -> acc + x)) AS pnrm
             |  FROM p),
             |sc AS (
             |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
             |    CASE WHEN a.pnrm * b.pnrm = 0 THEN -2.0
             |      ELSE reduce(list_prepend(0.0, list_transform(range(1, ${RpDims + 1}), i -> a.pv[i] * b.pv[i])), (acc, x) -> acc + x)
             |        / (a.pnrm * b.pnrm) END AS pcos
             |  FROM pp a JOIN pp b ON a.vec_id < $NumProbes AND a.vec_id <> b.vec_id),
             |shortlist AS (
             |  SELECT probe_id, neighbor_id FROM (
             |    SELECT probe_id, neighbor_id,
             |      row_number() OVER (PARTITION BY probe_id ORDER BY pcos DESC, neighbor_id) AS arnk
             |    FROM sc) t
             |  WHERE arnk <= $RpRefine),
             |exact AS (
             |  SELECT s.probe_id, s.neighbor_id,
             |    reduce(list_prepend(0.0, list_transform(range(1, 65),
             |      j -> p.nv[j] * n.nv[j])), (acc, x) -> acc + x) AS score
             |  FROM shortlist s
             |  JOIN fullnv p ON p.vec_id = s.probe_id
             |  JOIN fullnv n ON n.vec_id = s.neighbor_id),
             |ranked AS (
             |  SELECT probe_id, neighbor_id, score,
             |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rnk
             |  FROM exact)
             |SELECT probe_id, rnk, neighbor_id, score FROM ranked WHERE rnk <= $TopK""".stripMargin
        }
        // k23 — k10's CTE chain with the PREFIX SLICE as the sketch
        // (pv = nv[1:MrlDims]) and no projection arithmetic at all
        val k23Sql = {
          val nrmSql = "sqrt(reduce(list_prepend(0.0, list_transform(embedding, " +
            "x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x))"
          s"""WITH fullnv AS (
             |  SELECT vec_id,
             |    list_transform(embedding, x -> x::DOUBLE / $nrmSql) AS nv
             |  FROM embeddings),
             |pp AS (
             |  SELECT vec_id, nv[1:$MrlDims] AS pv,
             |    sqrt(reduce(list_prepend(0.0, list_transform(nv[1:$MrlDims], x -> x * x)), (acc, x) -> acc + x)) AS pnrm
             |  FROM fullnv),
             |sc AS (
             |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
             |    CASE WHEN a.pnrm * b.pnrm = 0 THEN -2.0
             |      ELSE reduce(list_prepend(0.0, list_transform(range(1, ${MrlDims + 1}), i -> a.pv[i] * b.pv[i])), (acc, x) -> acc + x)
             |        / (a.pnrm * b.pnrm) END AS pcos
             |  FROM pp a JOIN pp b ON a.vec_id < $NumProbes AND a.vec_id <> b.vec_id),
             |shortlist AS (
             |  SELECT probe_id, neighbor_id FROM (
             |    SELECT probe_id, neighbor_id,
             |      row_number() OVER (PARTITION BY probe_id ORDER BY pcos DESC, neighbor_id) AS arnk
             |    FROM sc) t
             |  WHERE arnk <= $RpRefine),
             |exact AS (
             |  SELECT s.probe_id, s.neighbor_id,
             |    reduce(list_prepend(0.0, list_transform(range(1, 65),
             |      j -> p.nv[j] * n.nv[j])), (acc, x) -> acc + x) AS score
             |  FROM shortlist s
             |  JOIN fullnv p ON p.vec_id = s.probe_id
             |  JOIN fullnv n ON n.vec_id = s.neighbor_id),
             |ranked AS (
             |  SELECT probe_id, neighbor_id, score,
             |    row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rnk
             |  FROM exact)
             |SELECT probe_id, rnk, neighbor_id, score FROM ranked WHERE rnk <= $TopK""".stripMargin
        }
        // k17 — the k05 trained-IVF chain with `crnk <= nprobe`, one
        // branch per nprobe, each wrapped in the k07 recall readout;
        // branches recompute the (cheap at oracle scale) k-means chain
        // rather than share CTEs across a UNION — correctness text,
        // not a performance artifact
        val k17Sql = {
          def ivfAtNprobe(np: Int) = kmeansOracleSql(KmeansK, KmeansIters,
            body = s""",
               |n AS (
               |  SELECT q.vec_id, a.cluster AS cell, q.v, q.qv,
               |    sqrt(reduce(list_prepend(0.0, list_transform(q.v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
               |  FROM q JOIN a$KmeansIters a USING (vec_id)),
               |qq AS (
               |  SELECT cell, idx.i AS pos, qv[idx.i] AS qe
               |  FROM n, (SELECT unnest(range(1, 65)) AS i) idx),
               |cq AS (SELECT cell, pos, sum(qe) AS sq, count(*) AS cnt FROM qq GROUP BY 1, 2),
               |cent AS (
               |  SELECT cell, list((sq::DOUBLE / cnt::DOUBLE) / $Quant ORDER BY pos) AS centroid
               |  FROM cq GROUP BY cell),
               |cn AS (
               |  SELECT cell, centroid,
               |    sqrt(reduce(list_prepend(0.0, list_transform(centroid, x -> x * x)), (acc, x) -> acc + x)) AS cnrm
               |  FROM cent),
               |pc AS (
               |  SELECT probe_id, pv, pnrm, cell FROM (
               |    SELECT p.vec_id AS probe_id, p.v AS pv, p.nrm AS pnrm, c.cell,
               |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
               |        reduce(list_prepend(0.0, list_transform(range(1, 65), i -> p.v[i] * c.centroid[i])), (acc, x) -> acc + x)
               |          / (p.nrm * c.cnrm) DESC, c.cell) AS crnk
               |    FROM n p, cn c WHERE p.vec_id < $NumProbes) t
               |  WHERE crnk <= $np),
               |scored AS (
               |  SELECT pc.probe_id, b.vec_id AS neighbor_id,
               |    reduce(list_prepend(0.0, list_transform(range(1, 65), i -> pc.pv[i] * b.v[i])), (acc, x) -> acc + x)
               |      / (pc.pnrm * b.nrm) AS cos
               |  FROM pc JOIN n b ON b.cell = pc.cell AND b.vec_id <> pc.probe_id),
               |ranked AS (
               |  SELECT probe_id, neighbor_id, cos,
               |    row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
               |  FROM scored)
               |SELECT probe_id, rnk, neighbor_id, cos FROM ranked WHERE rnk <= $TopK""".stripMargin)
          Seq(1, 2, 4, KmeansK).map { np =>
            s"""SELECT CAST($np AS BIGINT) AS nprobe, r.probe_id, r.n_hits, r.recall_q6
               |FROM (
               |${recallSql(ivfAtNprobe(np))}
               |) r""".stripMargin
          }.mkString("\nUNION ALL\n")
        }
        // k18 — per-subspace training restricted to the even half
        // (srcWhere), then each odd vector assigned by the SAME
        // cosine-argmax rank the training rounds use, against the
        // frozen final centroids
        val k18Sql = {
          val sub = 64 / PqSubspaces
          val nrmSql = "sqrt(reduce(list_prepend(0.0, list_transform(embedding, " +
            "x -> x::DOUBLE * x::DOUBLE)), (acc, x) -> acc + x))"
          def nSlice(i: Int) =
            s"list_transform(range(${i * sub + 1}, ${(i + 1) * sub + 1}), " +
              s"j -> embedding[j]::DOUBLE / $nrmSql)"
          val subCtes = (0 until PqSubspaces).flatMap { i =>
            kmeansCtes(PqK, PqIters, sub, s"s$i", nSlice(i),
              withFinalCentroids = true, srcWhere = "vec_id % 2 = 0")
          }
          def fold(a: String, b: String) =
            s"reduce(list_prepend(0.0, list_transform(range(1, ${sub + 1}), " +
              s"j -> $a[j] * $b[j])), (acc, x) -> acc + x)"
          def cnrm(c: String) =
            s"sqrt(reduce(list_prepend(0.0, list_transform($c, x -> x * x)), (acc, x) -> acc + x))"
          val deltaCols = (0 until PqSubspaces).map(i =>
            s"${nSlice(i)} AS dv$i").mkString(",\n    ")
          val encCtes = (0 until PqSubspaces).map { i =>
            s"""enc$i AS (
               |  SELECT vec_id, cluster AS c$i FROM (
               |    SELECT d.vec_id, c.cluster,
               |      row_number() OVER (PARTITION BY d.vec_id
               |        ORDER BY ${fold(s"d.dv$i", "c.centroid")} / ${cnrm("c.centroid")} DESC, c.cluster) AS rnk
               |    FROM delta d, s${i}c$PqIters c) t
               |  WHERE rnk = 1)""".stripMargin
          }
          val encJoins = (1 until PqSubspaces).map(i =>
            s"JOIN enc$i USING (vec_id)").mkString("\n")
          val codeCols = (0 until PqSubspaces).map(i => s"c$i").mkString(", ")
          s"""WITH ${(subCtes ++ Seq(
                s"delta AS (\n  SELECT vec_id,\n    $deltaCols\n  FROM embeddings WHERE vec_id % 2 = 1)") ++
                encCtes).mkString(",\n")}
             |SELECT vec_id, $codeCols
             |FROM enc0
             |$encJoins""".stripMargin
        }
        m + ("k07_lsh_recall" -> recallSql(m("k02_knn_lsh"))) +
          ("k08_pq_adc" -> k08Sql) +
          // k15 trains the same index, persists it, and serves from the
          // loaded copy — by construction the same rows as k08
          ("k15_pq_persisted" -> k08Sql) +
          ("k09_pq_recall" -> recallSql(k08Sql)) +
          ("k17_nprobe_recall" -> k17Sql) +
          ("k10_rp_knn" -> k10Sql) +
          ("k18_pq_encode_delta" -> k18Sql) +
          ("k19_ivfpq" -> k19Sql) +
          ("k20_ivfpq_recall" -> recallSql(k19Sql)) +
          // k25 — k19's text with the tombstone predicate on the
          // candidate side of scored (probes stay unfiltered, exactly
          // like the Spark anti-join on the code list)
          ("k25_tombstone_serve" -> {
            val guard = "WHERE a0.vec_id <> pc.probe_id)"
            require(k19Sql.contains(guard),
              "k19Sql scored-CTE text changed; update the k25 injection")
            k19Sql.replace(guard,
              "WHERE a0.vec_id <> pc.probe_id AND a0.vec_id % 7 <> 3)")
          }) +
          // k29 — the streamed delete set unions to the static %7==3
          // table (r16's argument on the ANN family), so the serve
          // shares k25's text
          ("k29_tombstone_stream" -> {
            val guard = "WHERE a0.vec_id <> pc.probe_id)"
            require(k19Sql.contains(guard),
              "k19Sql scored-CTE text changed; update the k29 injection")
            k19Sql.replace(guard,
              "WHERE a0.vec_id <> pc.probe_id AND a0.vec_id % 7 <> 3)")
          }) +
          // k28 — compact-then-serve equals k25's tombstone serve
          // (dropping a vec_id from codes alone or from codes AND
          // assignment yields the same codes⋈assignment join), so the
          // compacted entry shares k25's text
          ("k28_ann_compacted_serve" -> {
            val guard = "WHERE a0.vec_id <> pc.probe_id)"
            require(k19Sql.contains(guard),
              "k19Sql scored-CTE text changed; update the k28 injection")
            k19Sql.replace(guard,
              "WHERE a0.vec_id <> pc.probe_id AND a0.vec_id % 7 <> 3)")
          }) +
          // k26 — the same injection point with the metadata
          // eligibility subquery (semi-join ≡ IN on a key column)
          ("k26_filtered_ann" -> {
            val guard = "WHERE a0.vec_id <> pc.probe_id)"
            require(k19Sql.contains(guard),
              "k19Sql scored-CTE text changed; update the k26 injection")
            k19Sql.replace(guard,
              "WHERE a0.vec_id <> pc.probe_id AND a0.vec_id IN " +
                "(SELECT vec_id FROM embeddings WHERE label % 2 = 0))")
          }) +
          // k27 — the k07/k09 recall shape with BOTH sides swapped to
          // their filtered variants: exact = k06's text under k26's
          // predicate, approx = k26's text
          ("k27_filtered_recall" -> {
            val k26Sql = {
              val guard = "WHERE a0.vec_id <> pc.probe_id)"
              k19Sql.replace(guard,
                "WHERE a0.vec_id <> pc.probe_id AND a0.vec_id IN " +
                  "(SELECT vec_id FROM embeddings WHERE label % 2 = 0))")
            }
            val fb = m("k06_filtered_knn")
            require(fb.contains("label < 5"),
              "k06 oracle predicate changed; update the k27 exact side")
            val exactSql = fb.replace("label < 5", "label % 2 = 0")
            s"""WITH exact AS ($exactSql),
               |approx AS ($k26Sql)
               |SELECT e.probe_id,
               |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               |  CAST(round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
               |             / ${TopK.toDouble} * 1000000.0) AS BIGINT) AS recall_q6
               |FROM exact e LEFT JOIN approx a
               |  ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id
               |GROUP BY e.probe_id""".stripMargin
          }) +
          ("k22_sq8_recall" -> recallSql(m("k21_sq8"))) +
          ("k23_mrl_knn" -> k23Sql) +
          // k24 trains the same SQ8 index, persists stats+codes, and
          // serves from the loaded copy - all int64, so by
          // construction the same rows as k21
          ("k24_sq8_persisted" -> m("k21_sq8"))
    }
  }
}
