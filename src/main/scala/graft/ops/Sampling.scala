package graft.ops

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data curation
  * (SURVEY.md §7.5 extensions): rate-based stratified sampling and
  * fixed-count-per-stratum selection.
  *
  * Production corpus subsampling must be DETERMINISTIC — re-running the
  * pipeline (or re-computing a lost partition!) has to pick the same
  * rows, which rules out `rand()`: Spark's sample/rand are seeded per
  * partition, so a repartition or recovery changes the sample. Both
  * operators here key on an affine hash of the row id,
  * `h(id) = ((id mod P)·a + b) mod P` (the [[Hashing.MinHashA]]/`B`
  * family — `id mod P` first so the product stays < 2^60, no ANSI
  * overflow at any id), which is a fixed pseudo-random total order over
  * rows that any engine reproduces exactly — the DuckDB oracles mirror
  * it literal-for-literal.
  *
  * Scale shapes:
  *  - [[sampleByRate]] is a pure map-side filter — zero shuffles, zero
  *    state, trivially parallel at any corpus size;
  *  - [[sampleFixedPerStratum]] is a rank window, which Spark executes
  *    with `WindowGroupLimit`: each map task pre-prunes to the k
  *    smallest rows per stratum BEFORE the exchange, so the shuffle
  *    carries at most k·(map partitions) rows per stratum, not the
  *    stratum's full population (same idiom as the q08 keep-first
  *    dedup).
  */
object Sampling {
  /** Affine-hash family member used for the sampling permutation. */
  private val A = Hashing.MinHashA(0)
  private val B = Hashing.MinHashB(0)
  private val P = Hashing.P

  // pmod, not %: both engines' % follows the dividend's sign, so a
  // negative id would hash negative and always pass the rate gate —
  // the (x % P + P) % P form keeps the coin fair over the full id range
  private def hExpr(id: String): String =
    s"(((($id % ${P}L + ${P}L) % ${P}L) * ${A}L + ${B}L) % ${P}L)"

  private def h(id: String): Column = expr(hExpr(id))

  /** SQL fragment of [[h]] for the DuckDB oracles. */
  private def hSql(id: String): String =
    s"(((($id % $P + $P) % $P) * $A + $B) % $P)"

  /** Keep each row iff `h(id) < rate(stratum)·P` — per-stratum Bernoulli
    * sampling with a deterministic coin. Rates are compared as exact
    * long thresholds (`⌊rate·P⌋`), so engines agree bit-for-bit. */
  def sampleByRate(df: DataFrame, id: String, strata: String,
                   rates: Map[String, Double], default: Double): DataFrame = {
    val thr = rates.foldLeft(lit((default * P).toLong)) {
      case (acc, (k, r)) => when(col(strata) === k, lit((r * P).toLong)).otherwise(acc)
    }
    df.filter(h(id) < thr)
  }

  /** The CASE threshold of [[sampleByRate]] as oracle SQL. */
  private def thrSql(strata: String, rates: Map[String, Double],
                     default: Double): String =
    if (rates.isEmpty) (default * P).toLong.toString
    else "CASE " + rates.map { case (k, r) =>
      s"WHEN $strata = '$k' THEN ${(r * P).toLong}"
    }.mkString(" ") + s" ELSE ${(default * P).toLong} END"

  /** The k rows with the smallest `h(id)` per stratum — a deterministic
    * fixed-size sample (equivalently: the first k of a fixed
    * pseudo-random permutation). Ties (hash collisions) break on the id
    * itself, keeping the order total. Appends `rk` (1-based). */
  def sampleFixedPerStratum(df: DataFrame, id: String, strata: String,
                            k: Int): DataFrame = {
    val w = Window.partitionBy(col(strata)).orderBy(h(id), col(id))
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Embedding-cluster cap for s17 — with KmeansK=8 cells over the
    * harness embeddings, 20/cell keeps a balanced ~160-vector core. */
  val DiversityCap = 20

  /** Cluster-balanced (diversity-first) subset selection (s17) — keep
    * at most `cap` members per EMBEDDING-SPACE cluster, so the sample
    * flattens the corpus' semantic-density skew instead of mirroring
    * it: web-scale corpora are dominated by a few huge near-duplicate
    * topic modes, and uniform sampling reproduces exactly that
    * imbalance (the observation behind SemDeDup's cluster pruning and
    * DataComp's balanced subsets). The blocking artifact is k04's
    * k-means assignment — for the catalog the SHARED memoized one, so
    * s17 trains nothing — and within each cell the keep rule is the
    * s02 deterministic smallest-hash rank: re-runs, repartitions and
    * corpus growth inside a cell never churn the kept prefix.
    *
    * Scale shape: the window rides the (id, cluster) assignment pairs
    * — 2 longs/vector, never the embedding payload — behind one
    * exchange on the cluster key; at production K (∝√n cells) the
    * per-cell partitions stay small and the output is K·cap rows.
    * Output: the capped assignment rows + `rk` (1-based). */
  def clusterBalancedSample(assign: DataFrame, id: String,
                            cluster: String, cap: Int): DataFrame =
    sampleFixedPerStratum(assign, id, cluster, cap)

  /** Deterministic train/val/test split assignment (s03) — every
    * training pipeline's first partitioning decision. Each row lands in
    * the split whose cumulative hash range covers `h(id)`: the
    * assignment is a pure map-side expression (zero shuffles, zero
    * state), stable under repartition/recovery/re-runs (same affine-
    * hash coin as [[sampleByRate]]), and docs never migrate between
    * splits when the corpus grows — the membership of a given id is a
    * function of the id alone, the property that keeps yesterday's test
    * set uncontaminated by tomorrow's training run.
    *
    * `splits` are (name, weight) in order; weights normalize to 1. */
  def splitAssign(df: DataFrame, id: String,
                  splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    val total = splits.map(_._2).sum
    // cumulative EXACT long thresholds — engines agree bit-for-bit
    val cuts = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(f => (f * P).toLong)
    val c = splits.map(_._1).zip(cuts).init
      .foldRight(lit(splits.last._1): Column) { case ((name, cut), acc) =>
        when(h(id) < cut, lit(name)).otherwise(acc)
      }
    df.withColumn("split", c)
  }

  /** The CASE expression of [[splitAssign]] as oracle SQL (public so
    * composed-pipeline oracles can reuse it verbatim). */
  def splitSql(id: String, splits: Seq[(String, Double)]): String = {
    val total = splits.map(_._2).sum
    val cuts = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .tail.map(f => (f * P).toLong)
    "CASE " + splits.map(_._1).zip(cuts).init.map { case (name, cut) =>
      s"WHEN ${hSql(id)} < $cut THEN '$name'"
    }.mkString(" ") + s" ELSE '${splits.last._1}' END"
  }

  /** The split spec the s03 harness query instantiates. */
  val DefaultSplits: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Per-ROW weighted Bernoulli sampling (s04): keep each row with
    * probability `weightExpr` (any expression in [0, 1] — a quality
    * score, a per-source up/down-weight, a length-based curriculum
    * rate). The same deterministic affine coin as [[sampleByRate]], so
    * re-runs, repartitions, and recomputed partitions keep identical
    * rows; still a pure map-side filter, zero shuffles. The comparison
    * is `h(id) < floor(weight·P)` with the product computed in IEEE
    * doubles — both engines round identically, so the oracle matches
    * bit-for-bit even at weight boundaries. */
  def sampleByWeight(df: DataFrame, id: String, weightExpr: String): DataFrame =
    df.filter(h(id) < floor(expr(weightExpr).cast("double") * P).cast("long"))

  /** SQL mirror of [[sampleByWeight]]'s predicate — public so
    * composite oracles (s16's soft-dedup gate) can reuse the exact
    * coin text. */
  def weightSql(id: String, weightExpr: String): String =
    s"${hSql(id)} < CAST(floor(($weightExpr)::DOUBLE * $P) AS BIGINT)"

  /** Token-budget corpus cap (s05) — the curation step that holds a
    * training mix to a fixed token budget per stratum (per language,
    * per source): order each stratum's docs by `priority` DESC (ties on
    * the id), keep docs while the running token total stays within
    * `budget`. Output: `(stratum, id, n_tokens)` of the kept docs.
    *
    * Scale caveat, deliberate (same pattern as q24 vs q25): the running
    * sum is a window over the whole stratum, and a window partition
    * cannot split — with few strata (5 languages) each stratum is one
    * unsplittable sort+scan task at corpus scale. This is the exact,
    * oracle-checkable baseline; [[tokenBudgetTwoPass]] computes the
    * identical kept set with no stratum-sized window anywhere. */
  def tokenBudget(df: DataFrame, id: String, strata: String,
                  tokens: Column, priority: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(strata))
      .orderBy(col(priority).desc, col(id))
    df.withColumn("n_tokens", tokens)
      .withColumn("_cum", sum(col("n_tokens")).over(w))
      .filter(col("_cum") <= budget)
      .select(col(strata), col(id), col("n_tokens"))
  }

  /** [[tokenBudget]], SCALE PATH (s06) — same kept set (it shares s05's
    * oracle text verbatim) via two-phase histogram-prune selection
    * instead of one unsplittable per-stratum running-sum window:
    *   Pass 1 — bucket `priority` by `bucketWidth` and sum tokens per
    *     (stratum, bucket) with a fully splittable groupBy; the only
    *     window runs over this HISTOGRAM (≤ #buckets rows per stratum),
    *     descending, to find each stratum's BRACKET bucket — the bucket
    *     whose cumulative token total first exceeds the budget — and
    *     `below`, the total in buckets above it.
    *   Pass 2 — buckets above the bracket are kept wholesale (their
    *     running total is ≤ below ≤ budget at every doc); buckets below
    *     are dropped wholesale; only BRACKET-bucket docs run the exact
    *     running sum, seeded at `below` — a window whose partition is
    *     one bucket's population, bounded by `bucketWidth`, not the
    *     stratum (shrink the width — or re-bracket recursively — to
    *     tighten the bound).
    * Equivalence: bucketing by `priority div width` is monotone in the
    * keep order, so the global running total at any doc decomposes into
    * whole-buckets-above + within-bucket prefix — exactly what the
    * bracket + seeded window compute. Priorities must be non-negative
    * (integer `div` bucketing). */
  def tokenBudgetTwoPass(df: DataFrame, id: String, strata: String,
                         tokens: Column, priority: String, budget: Long,
                         bucketWidth: Long = 32L): DataFrame = {
    val vals = df.select(col(strata).as("g"), col(id).as("_id"),
        col(priority).cast("long").as("pr"), tokens.as("n_tokens"))
      .withColumn("bkt", expr(s"pr div $bucketWidth"))
    val hist = vals.groupBy(col("g"), col("bkt"))
      .agg(sum(col("n_tokens")).as("wsum"))
    val cum = hist.withColumn("cum",
      sum(col("wsum")).over(Window.partitionBy(col("g")).orderBy(col("bkt").desc)))
    // ≤ 1 row per stratum → broadcast; absent row = stratum under budget
    val bracket = cum
      .filter(col("cum") > budget && col("cum") - col("wsum") <= budget)
      .select(col("g").as("bg"), col("bkt").as("bbkt"),
        (col("cum") - col("wsum")).as("below"))
    val joined = vals.join(broadcast(bracket),
      vals("g") === col("bg"), "left")
    val above = joined
      .filter(col("bbkt").isNull || col("bkt") > col("bbkt"))
      .select(col("g"), col("_id"), col("n_tokens"))
    val w2 = Window.partitionBy(col("g")).orderBy(col("pr").desc, col("_id"))
    val inBracket = joined.filter(col("bkt") === col("bbkt"))
      .withColumn("_cum", col("below") + sum(col("n_tokens")).over(w2))
      .filter(col("_cum") <= budget)
      .select(col("g"), col("_id"), col("n_tokens"))
    above.union(inBracket)
      .select(col("g").as(strata), col("_id").as(id), col("n_tokens"))
  }

  /** The harness token-budget spec: cap each language at [[BudgetTokens]]
    * whitespace tokens, preferring longer documents (`n_chars` DESC). */
  val BudgetTokens = 2500L

  /** Mixture resampling (s07) — re-weight a corpus toward TARGET stratum
    * proportions (the application step of domain-reweighting methods like
    * DoReMi: weights come in, the engine realizes them): stratum `g`
    * gets sampling rate `min(1, budget·w_g / tokens_g)`, so the expected
    * kept-token mass of each stratum approaches `budget·w_g`, and each
    * row keeps via the same deterministic affine coin as [[sampleByRate]].
    *
    * Two-pass, both scale-flat: the totals aggregation collapses to one
    * row per stratum (map-side partials), the rate table broadcasts
    * back, and the keep decision is a map-side filter — no data-sized
    * shuffle anywhere, same recovery-stable guarantees as s01/s04.
    * Strata without a weight rate 0 (dropped entirely).
    * Output: `(stratum, id, n_tokens)` of kept rows. */
  def mixtureSample(df: DataFrame, id: String, strata: String,
                    tokens: Column, weights: Map[String, Double],
                    budget: Long): DataFrame = {
    val wCol = weights.foldLeft(lit(0.0)) { case (acc, (k, w)) =>
      when(col(strata) === k, lit(w)).otherwise(acc)
    }
    val rates = df.withColumn("n_tokens", tokens)
      .groupBy(col(strata)).agg(sum(col("n_tokens")).as("_toks"))
      .withColumn("_rate", least(lit(1.0),
        lit(budget.toDouble) * wCol / col("_toks").cast("double")))
      .select(col(strata), col("_rate"))
    df.withColumn("n_tokens", tokens)
      .join(broadcast(rates), strata)
      .filter(h(id) < floor(col("_rate") * P).cast("long"))
      .select(col(strata), col(id), col("n_tokens"))
  }

  /** The s07 harness spec: skew the five languages toward en/zh under a
    * 6000-token budget. */
  val MixtureWeights: Map[String, Double] =
    Map("en" -> 0.4, "zh" -> 0.3, "de" -> 0.1, "es" -> 0.1, "fr" -> 0.1)
  val MixtureBudget = 6000L

  /** The s13 harness budget. */
  val WaterfillBudget = 6000L

  /** Exact budget WATERFILLING across strata (s13) — the allocation
    * rule s07/s09 approximate with weights, solved exactly: every
    * stratum gets `min(capacity, λ)` tokens where the water level λ is
    * chosen so allocations sum to the budget — small strata keep
    * EVERYTHING, large strata are capped at one common level (the
    * UniMax allocation, Chung et al. 2023). Classic closed form over
    * the capacity-ascending order: stratum j is fully funded iff
    * `c_j·(n−j+1) ≤ B − prefix_{j−1}`; the first unfunded row fixes
    * `λ = (B − prefix) div remaining`. Every comparison is an integer
    * cross-multiply — no division until the final q6 rate, so both
    * engines pick the identical funding cut.
    *
    * Scale shape: identical to s07 — one totals aggregation, then ALL
    * waterfill arithmetic on the stratum-cardinality frame (the
    * unpartitioned windows run on #strata rows), rate table broadcast
    * back, map-side keep gate `h·10⁶ < mrate·P`. Output: `(stratum,
    * id, n_tokens)`. */
  def waterfillSample(df: DataFrame, id: String, strata: String,
                      tokens: Column, budget: Long): DataFrame = {
    val byC = Window.orderBy(col("_toks"), col(strata))
    val exclPre = byC.rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val rates = df.withColumn("n_tokens", tokens)
      .groupBy(col(strata)).agg(sum(col("n_tokens")).as("_toks"))
      // A zero-token stratum would make the q6 rate a division by zero
      // (Spark `div` → NULL → silently gated out; DuckDB `//` need not
      // agree). Such a stratum consumes no budget and none of its docs
      // can pass a token gate anyway, so drop it from the rate table —
      // its docs fall out of the inner join, and the remaining strata's
      // waterfill is unchanged (zero-token strata sort first, are
      // trivially funded, and contribute 0 to every prefix sum). The
      // oracle mirrors the same WHERE, so both engines agree by
      // construction.
      .filter(col("_toks") > 0)
      .withColumn("j", row_number().over(byC))
      .withColumn("pre", coalesce(sum(col("_toks")).over(exclPre), lit(0L)))
      .withColumn("rem", count(lit(1)).over(all) - col("j") + 1)
      .withColumn("funded",
        col("_toks") * col("rem") <= lit(budget) - col("pre"))
      .withColumn("u", min(when(!col("funded"), col("j"))).over(all))
      .withColumn("lam", max(when(col("j") === col("u"),
        expr(s"(${budget}L - pre) div rem"))).over(all))
      .withColumn("alloc", when(col("u").isNull || col("j") < col("u"),
        col("_toks")).otherwise(col("lam")))
      .withColumn("_mrate", expr("(alloc * 1000000L) div _toks"))
      .select(col(strata), col("_mrate"))
    df.withColumn("n_tokens", tokens)
      .join(broadcast(rates), strata)
      .filter(h(id) * lit(1000000L) < col("_mrate") * lit(P))
      .select(col(strata), col(id), col("n_tokens"))
  }

  /** Temperature-scaled mixture (s09) — [[mixtureSample]] with the
    * target weights DERIVED from the corpus itself instead of handed
    * in: stratum `g`'s weight is its token share raised to `1/τ` and
    * renormalized, the standard multilingual temperature-sampling rule
    * (τ→∞ flattens toward uniform, τ=1 keeps natural proportions) used
    * because natural web shares starve tail languages. The realized
    * rate is then `min(1, budget·w_g/tokens_g)` with the same
    * deterministic affine coin.
    *
    * One extra wrinkle over s07, zero extra passes: shares need the
    * GLOBAL token total, which is a window-sum over the (stratum-
    * cardinality) totals frame — tiny, no data-sized work. Everything
    * else keeps s07's shape: one totals aggregation, broadcast rate
    * table, map-side filter. Output: `(stratum, id, n_tokens)`. */
  def temperatureSample(df: DataFrame, id: String, strata: String,
                        tokens: Column, tau: Double,
                        budget: Long): DataFrame = {
    require(tau > 0, "temperature must be positive")
    // Cross-engine determinism discipline: pow is the ONLY operation in
    // this chain that IEEE 754 does not require to be correctly rounded
    // (JVM Math.pow vs libm pow may differ in the last ulp), so its
    // output is quantized to integer q12 units IMMEDIATELY. Everything
    // downstream is then exact integer arithmetic (Σ _pw over longs —
    // also order-free, so no ordered-frame pinning needed for the fold)
    // or correctly-rounded double ops on bit-identical inputs (/, *,
    // least), which both engines must round identically. When the
    // exponent is exactly 0.5 (τ = 2, the shipped spec) the chain uses
    // sqrt instead — sqrt IS required to be correctly rounded, so both
    // engines produce bit-identical doubles and even the residual
    // pow-within-an-ulp-of-a-half-quantum risk vanishes; for other τ
    // that residue remains (~ulp/quantum per stratum).
    val exponent = 1.0 / tau
    def flatten(share: Column): Column =
      if (exponent == 0.5) sqrt(share) else pow(share, lit(exponent))
    val byAll = Window.partitionBy().orderBy(col(strata))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val totals = df.withColumn("n_tokens", tokens)
      .groupBy(col(strata)).agg(sum(col("n_tokens")).as("_toks"))
      // stratum-cardinality frame: the 1-task window is fine
      .withColumn("_share",
        col("_toks").cast("double") / sum(col("_toks")).over(byAll).cast("double"))
      .withColumn("_pw",
        round(flatten(col("_share")) * lit(1e12)).cast("long"))
      .withColumn("_w",
        col("_pw").cast("double") / sum(col("_pw")).over(byAll).cast("double"))
      .withColumn("_rate", least(lit(1.0),
        lit(budget.toDouble) * col("_w") / col("_toks").cast("double")))
      // micro-unit rate + exact long compare (h·10^6 < µrate·P): both
      // sides end on identical integers, so the keep decision cannot
      // flip on float noise
      .withColumn("_mrate", round(col("_rate") * lit(1e6)).cast("long"))
      .select(col(strata), col("_mrate"))
    df.withColumn("n_tokens", tokens)
      .join(broadcast(totals), strata)
      .filter(h(id) * lit(1000000L) < col("_mrate") * lit(P))
      .select(col(strata), col(id), col("n_tokens"))
  }

  /** The s09 harness spec: τ = 2 halves the exponent (square-root
    * flattening — tail strata upweighted) under the same 6000-token
    * budget as s07. */
  val Temperature = 2.0
  val TemperatureBudget = 6000L

  /** Exact-fraction stratified sample (s08): per stratum, keep the
    * `ceil(frac·n)` rows smallest under the hash permutation — the
    * exact-count counterpart of [[sampleByRate]] (whose kept count is
    * only binomially close to `frac·n`). Stratum counts come from a
    * one-row-per-stratum aggregation broadcast back onto the rank
    * window, so the only data-sized cost is the per-stratum sort.
    *
    * Scale trade, deliberate: because the cutoff `ceil(frac·n)` is
    * data-dependent, `WindowGroupLimit` cannot pre-prune map-side the
    * way [[sampleFixedPerStratum]]'s constant k does — each stratum
    * pays a full rank window. When strata are few and huge, prefer s01
    * (approximate, zero-shuffle) or s02 (constant-k, map-pruned); s08
    * is the path when the contract is an exact per-stratum count.
    *
    * The stratum size comes from a whole-partition `count(*)` window
    * sharing the rank window's partitioning — both windows evaluate
    * behind ONE exchange (no separate counts aggregation, no join;
    * pinned in PlanAssertionsSpec). Appends `rk` (1-based hash rank). */
  def stratifiedExact(df: DataFrame, id: String, strata: String,
                      frac: Double): DataFrame = {
    val w = Window.partitionBy(col(strata)).orderBy(h(id), col(id))
    df.withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col(strata))))
      .filter(col("rk") <= ceil(col("_n").cast("double") * frac).cast("long"))
      .drop("_n")
  }

  /** Resolution scale of the s10 priority key: adjacent hash values map
    * to distinct keys whenever the (long) weight stays below this. */
  private val ReservoirScale = 1000000L

  /** Deterministic weighted reservoir (s10) — a fixed-size sample where
    * inclusion probability scales with a per-row weight, via PRIORITY
    * sampling (Duffield, Lund & Thorup, JACM 2007): each row draws the
    * deterministic uniform `u = (h(id)+1)/(P+1)` ∈ (0,1] and the k
    * largest priorities `w/u` win — equivalently the k SMALLEST values
    * of `u/w`, which is how the key is computed here:
    * `⌊(h(id)+1)·S / w⌋` in pure int64 arithmetic (S = 10⁶). The hash
    * coin replaces `rand()` for the same reason as s01: re-runs,
    * repartitions, and recovered partitions keep the identical sample.
    *
    * The integer key is the cross-engine-parity fix for the
    * Efraimidis–Spirakis `u^(1/w)` key this operator previously used:
    * pow is NOT required to be correctly rounded by IEEE 754, so JVM
    * Math.pow and DuckDB's libm pow could diverge in the last ulp and
    * flip the k-th boundary row even after quantization. `(h+1)·S div w`
    * is exact integer math — both engines agree by construction, not by
    * corpus luck. Priority sampling's inclusion probabilities are
    * proportional to weight below the threshold, the same contract ES
    * provides (and its subset-sum estimator is unbiased).
    *
    * Scale shape: key computation is map-side ((h+1)·S ≤ (P+1)·10⁶ <
    * 2^60, no overflow for any weight); `orderBy(...).limit(k)` plans as
    * `TakeOrderedAndProject` (per-partition heaps, no global sort).
    * Weights are taken as long (floor); rows with non-positive weight
    * are excluded (priority needs w > 0). Weights above S collapse
    * adjacent hash values into tied keys — ties stay deterministic
    * under the id tiebreak. Output: the kept rows, key column dropped. */
  def weightedReservoir(df: DataFrame, id: String, weight: Column,
                        k: Int): DataFrame =
    df.withColumn("_wl", weight.cast("long"))
      .filter(col("_wl") > 0)
      .withColumn("_wk", expr(
        s"((${hExpr(id)} + 1) * ${ReservoirScale}L) div _wl"))
      .orderBy(col("_wk"), col(id))
      .limit(k)
      .drop("_wk", "_wl")

  /** DSIR hashed-feature space size (s11) and selection depth. */
  val DsirBuckets = 64
  val DsirTopN = 100

  /** Data Selection via Importance Resampling (s11) — score every raw
    * document by how much more likely its tokens are under a TARGET
    * distribution than under the raw corpus itself, and keep the top-n
    * (Xie et al. 2023, DSIR): both distributions are add-one-smoothed
    * unigram models over a HASHED feature space (`polyhash(token) mod
    * B`, the hashing trick — model size is B cells regardless of
    * vocabulary), and a doc's importance weight is the log-likelihood
    * ratio `Σ_tokens [ln p_target(b) − ln p_raw(b)]`. This is the
    * quality-targeting selector: point `target` at a trusted corpus
    * (wiki/books/benchmark-adjacent text) and the raw web corpus
    * re-weights toward it without training a classifier (t15 is the
    * trained-classifier counterpart).
    *
    * Scale shape: both models are one splittable bucket-count
    * aggregation (token explode collapses to ≤ B rows map-side);
    * the scored pass pre-aggregates each doc to its (doc, bucket)
    * counts BEFORE any exchange (≤ B rows per doc, not tokens), joins
    * the broadcast B-row log-ratio table, and sums exactly — the
    * log-ratio is quantized to q6 integer units at the model so the
    * per-doc fold is exact integer math (the one non-correctly-rounded
    * op, ln, sits behind the quantum; same discipline as t10). Top-n
    * plans as TakeOrderedAndProject; the n-row winner set broadcasts
    * back for the lang column. Output: `(id, lang, score_q6)`. */
  def dsirSelect(raw: DataFrame, target: DataFrame, id: String, text: String,
                 buckets: Int = DsirBuckets, n: Int = DsirTopN): DataFrame = {
    def bucketed(df: DataFrame) = df
      .select(col(id).as("_did"),
        explode(expr(s"filter(split($text, ' '), x -> x <> '')")).as("_tok"))
      .withColumn("b", polyHash(col("_tok")) % buckets)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val tCnt = bucketed(target).groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val rCnt = bucketed(raw).groupBy(col("b")).agg(count(lit(1)).as("cr"))
    // ≤ B rows: full-outer merge, smoothed log-ratio, q6 quantization.
    // Totals are window sums over this same tiny frame (≡ the side's
    // token count: every token lands in exactly one bucket).
    val model = tCnt.join(rCnt, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      .withColumn("llr_q6", round((
        log((col("ct") + lit(1)).cast("double")
          / (sum(col("ct")).over(all) + lit(buckets)).cast("double"))
          - log((col("cr") + lit(1)).cast("double")
          / (sum(col("cr")).over(all) + lit(buckets)).cast("double"))
        ) * lit(1e6)).cast("long"))
      .select(col("b"), col("llr_q6"))
    val scored = bucketed(raw).groupBy(col("_did"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(model), Seq("b"))
      .groupBy(col("_did"))
      .agg(sum(col("c") * col("llr_q6")).as("score_q6"))
      .orderBy(col("score_q6").desc, col("_did"))
      .limit(n)
    broadcast(scored)
      .join(raw.select(col(id), col("lang")), scored("_did") === col(id))
      .select(col(id), col("lang"), col("score_q6"))
  }

  /** The harness epoch spec for [[epochMix]] (s12): integer and
    * fractional epoch counts, a down-sampled stratum, and a default. */
  val EpochSpec: Map[String, Double] =
    Map("en" -> 1.0, "zh" -> 2.5, "de" -> 0.5, "es" -> 1.25)
  val EpochDefault = 1.0

  /** Fractional-epoch corpus mixing (s12) — materialize a training mix
    * where stratum `g` is repeated `e_g` times, `e_g` fractional
    * (Muennighoff et al. 2023 repeat-epochs regime; the LLaMA-style
    * "wiki ×2.5, web ×1" mix): every row emits `⌊e⌋` copies plus one
    * more iff `h(id) < frac(e)·P` — the same exact-long-threshold
    * deterministic coin as s01, so the realized epoch count converges
    * to `e_g` per stratum and re-runs/repartitions/recoveries emit the
    * identical multiset. `copy_idx` (0-based) disambiguates copies so
    * downstream shuffles/packing treat them as distinct rows.
    *
    * Scale shape: pure map-side generate — the epoch CASE is a literal,
    * the coin is arithmetic on the id, and the explode fan-out is
    * bounded by `max(⌈e⌉)`; zero shuffles, zero state.
    * Output: `(id, stratum, copy_idx)`. */
  def epochMix(df: DataFrame, id: String, strata: String,
               epochs: Map[String, Double], default: Double): DataFrame = {
    def base(e: Double) = math.floor(e).toLong
    def frThr(e: Double) = ((e - math.floor(e)) * P).toLong
    val baseCol = epochs.foldLeft(lit(base(default))) { case (acc, (k, e)) =>
      when(col(strata) === k, lit(base(e))).otherwise(acc)
    }
    val thrCol = epochs.foldLeft(lit(frThr(default))) { case (acc, (k, e)) =>
      when(col(strata) === k, lit(frThr(e))).otherwise(acc)
    }
    df.withColumn("_nc",
        baseCol + when(h(id) < thrCol, lit(1L)).otherwise(lit(0L)))
      .filter(col("_nc") > 0)
      .select(col(id), col(strata),
        explode(expr("sequence(0L, _nc - 1)")).as("copy_idx"))
  }

  /** Whitespace token count, matching t03's `n_ws_tokens` exactly. */
  private def nTokens(text: String): Column =
    expr(s"size(filter(split($text, ' '), x -> x <> ''))").cast("long")

  /** FAIR ROUND-ROBIN INTERLEAVE (s15) — serialize a multi-source
    * corpus so sources alternate as evenly as possible: item with
    * within-source rank r comes before every item with rank r+1, and
    * sources tie-break in name order. This is the deterministic
    * "deal one from each deck" schedule a mixture pipeline uses to
    * serialize s07/s12-style mixtures without long single-source runs
    * (which would correlate gradients batch-to-batch).
    *
    * The scale story is the point: the global position is computed in
    * CLOSED FORM, not by a global sort. For within-source rank r of
    * source s, with per-source totals c(s'):
    *
    *   pos(r, s) = Σ_{s'} [ min(r−1, c(s')) + 1{s' < s AND c(s') ≥ r} ]
    *
    * — every earlier full round contributes one item per source that
    * still has items, plus the same-round sources ahead of s. The only
    * window is the within-source rank (splittable across sources; the
    * a01 two-pass scan replaces it if one source dominates); the
    * totals table is #sources rows and broadcasts, so the position is
    * a map-side aggregation over a #sources-wide fan-out — no
    * unpartitioned ORDER BY anywhere, at any corpus size. The oracle
    * IS that global sort (`row_number() OVER (ORDER BY r, source)`),
    * which is exactly the equivalence worth proving.
    * Output: `(doc_id, source, r, pos)`, pos 0-based and total. */
  def interleaveBySource(docs: DataFrame, id: String,
                         source: String): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("doc_id"))
    val ranked = docs
      .select(col(id).cast("long").as("doc_id"), col(source).as("src"))
      .withColumn("r", row_number().over(w).cast("long"))
    val counts = docs.groupBy(col(source).as("s2"))
      .agg(count(lit(1)).as("c2"))
    ranked.crossJoin(broadcast(counts))
      .groupBy(col("doc_id"), col("src"), col("r"))
      .agg(sum(
        least(col("r") - 1L, col("c2")) +
          when(col("s2") < col("src") && col("c2") >= col("r"), 1L)
            .otherwise(0L)).as("pos"))
      .select(col("doc_id"), col("src").as("source"), col("r"), col("pos"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // s16: SOFT dedup — instead of dropping near-dup cluster members
    // (c02's hard keep-one), keep each doc with probability
    // 1/cluster_size (c14's weight): the corpus-level duplication mass
    // is removed in EXPECTATION while every cluster member stays
    // eligible — the down-weighting recipe training mixtures apply
    // when duplicates carry signal (popular pages) but must not
    // dominate. A pure composition of two catalog ops: c14's shared
    // weight table gated by s04's deterministic per-row coin — one
    // broadcast-sized join over the weights, the coin map-side.
    "s16_soft_dedup_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val w = Clusters.dedupWeightsFromComponents(docs, "doc_id",
        Clusters.sharedComponents(s, d))
      sampleByWeight(docs.join(w, Seq("doc_id")), "doc_id",
          "cast(weight_q6 as double) / 1000000.0D")
        .select(col("doc_id"), col("lang"), col("weight_q6"))
    }),
    "s15_interleave" -> ((s, d) =>
      interleaveBySource(Tables.documents(s, d), "doc_id", "source")),
    "s01_sample_rate" -> ((s, d) =>
      sampleByRate(Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.25), default = 0.1)
        .select(col("doc_id"), col("lang"), col("source"))),
    "s02_sample_fixed" -> ((s, d) =>
      sampleFixedPerStratum(Tables.documents(s, d), "doc_id", "lang", k = 20)
        .select(col("lang"), col("doc_id"), col("rk"))),
    // s17: the s02 keep rule over the SHARED k04 embedding clusters —
    // a balanced semantic core, not a density mirror
    "s17_diversity_sample" -> ((s, d) =>
      clusterBalancedSample(Similarity.sharedKmeansAssign(s, d), "vec_id",
        "cluster", DiversityCap)
        .select(col("cluster"), col("vec_id"), col("rk"))),
    "s03_split_assign" -> ((s, d) =>
      splitAssign(Tables.documents(s, d), "doc_id", DefaultSplits)
        .select(col("doc_id"), col("split"))),
    // length-proportional curriculum weight: longer docs keep more often
    "s04_sample_weighted" -> ((s, d) =>
      sampleByWeight(Tables.documents(s, d), "doc_id",
        "least(cast(n_chars as double) / 4000.0, 1.0)")
        .select(col("doc_id"), col("lang"), col("n_chars"))),
    "s05_token_budget" -> ((s, d) =>
      tokenBudget(Tables.documents(s, d), "doc_id", "lang",
        nTokens("text"), "n_chars", BudgetTokens)),
    // s05's budget cap re-run in TOKENIZER tokens (t18's hashed-subword
    // count) instead of whitespace words — the unit real pipelines
    // budget in. The tokens argument is a pluggable Column on every
    // budget/packing operator; this entry pins the subword path
    // end-to-end while s05 keeps the word-count baseline.
    "s14_budget_subword" -> ((s, d) =>
      tokenBudget(Tables.documents(s, d), "doc_id", "lang",
        TextOps.subwordTokens("text"), "n_chars", BudgetTokens)),
    "s06_token_budget_2p" -> ((s, d) =>
      tokenBudgetTwoPass(Tables.documents(s, d), "doc_id", "lang",
        nTokens("text"), "n_chars", BudgetTokens)),
    "s07_mixture_sample" -> ((s, d) =>
      mixtureSample(Tables.documents(s, d), "doc_id", "lang",
        nTokens("text"), MixtureWeights, MixtureBudget)),
    "s13_waterfill" -> ((s, d) =>
      waterfillSample(Tables.documents(s, d), "doc_id", "lang",
        nTokens("text"), WaterfillBudget)),
    "s08_stratified_exact" -> ((s, d) =>
      stratifiedExact(Tables.documents(s, d), "doc_id", "lang", frac = 0.15)
        .select(col("lang"), col("doc_id"), col("rk"))),
    "s09_temperature_sample" -> ((s, d) =>
      temperatureSample(Tables.documents(s, d), "doc_id", "lang",
        nTokens("text"), Temperature, TemperatureBudget)),
    "s10_weighted_reservoir" -> ((s, d) =>
      weightedReservoir(Tables.documents(s, d), "doc_id", col("n_chars"),
        k = 20)
        .select(col("doc_id"), col("lang"), col("n_chars"))),
    // DSIR: src0 stands in for the trusted target corpus (the d09/d17
    // convention), the other 19 sources are the raw web corpus
    "s11_dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      dsirSelect(docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "doc_id", "text")
    }),
    "s12_epoch_mix" -> ((s, d) =>
      epochMix(Tables.documents(s, d), "doc_id", "lang",
        EpochSpec, EpochDefault)))

  def oracle: Map[String, String] = Map(
    // s17 — the k04 k-means CTE chain (the k-family's unrolled replay)
    // capped by the s02 smallest-hash rank within each final cluster
    "s17_diversity_sample" -> Similarity.kmeansOracleSql(
      Similarity.KmeansK, Similarity.KmeansIters,
      body = s"""SELECT cluster, vec_id, rk FROM (
                |  SELECT vec_id, cluster,
                |    CAST(row_number() OVER (PARTITION BY cluster
                |      ORDER BY ${hSql("vec_id")}, vec_id) AS BIGINT) AS rk
                |  FROM a${Similarity.KmeansIters}) t
                |WHERE rk <= $DiversityCap""".stripMargin),
    // s16 — c14's recursive-CC weight text gated by the exact s04 coin
    "s16_soft_dedup_sample" ->
      s"""WITH RECURSIVE ${Clusters.componentsCte(Dedup.oracle("d02_ngram_jaccard"))},
         |sizes AS (SELECT cluster, count(*) AS sz FROM lab GROUP BY cluster),
         |w AS (
         |  SELECT d.doc_id, d.lang,
         |    coalesce(1000000 // s.sz, 1000000) AS weight_q6
         |  FROM documents d
         |  LEFT JOIN lab l ON l.id = d.doc_id
         |  LEFT JOIN sizes s ON s.cluster = l.cluster)
         |SELECT doc_id, lang, weight_q6 FROM w
         |WHERE ${weightSql("doc_id", "weight_q6::DOUBLE / 1000000.0")}""".stripMargin,
    // s15 — the oracle IS the global sort the engine avoids:
    // row_number over (round, source); (r, source, doc_id) is unique
    // per row so the order is total and the closed form must agree
    "s15_interleave" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS r
        |  FROM documents)
        |SELECT doc_id, source, r,
        |  CAST(row_number() OVER (ORDER BY r, source, doc_id) - 1 AS BIGINT) AS pos
        |FROM ranked""".stripMargin,
    // s13 — the identical capacity-ascending funding scan: integer
    // cross-multiplied funded flags, first-unfunded water level, q6
    // rate, cross-multiplied keep gate
    "s13_waterfill" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS toks
         |        FROM t GROUP BY lang HAVING sum(n_tokens) > 0),
         |w1 AS (
         |  SELECT lang, toks,
         |    row_number() OVER (ORDER BY toks, lang) AS j,
         |    coalesce(sum(toks) OVER (ORDER BY toks, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre,
         |    CAST(count(*) OVER () AS BIGINT) AS nn
         |  FROM tot),
         |w2 AS (SELECT lang, toks, j, pre, nn - j + 1 AS rem,
         |         toks * (nn - j + 1) <= $WaterfillBudget - pre AS funded
         |       FROM w1),
         |w3 AS (SELECT lang, toks, j, pre, rem, funded,
         |         min(CASE WHEN NOT funded THEN j END) OVER () AS u
         |       FROM w2),
         |w4 AS (SELECT lang, toks, j, u,
         |         max(CASE WHEN j = u THEN ($WaterfillBudget - pre) // rem END) OVER () AS lam
         |       FROM w3),
         |m AS (
         |  SELECT lang,
         |    ((CASE WHEN u IS NULL OR j < u THEN toks ELSE lam END) * 1000000) // toks AS mrate
         |  FROM w4)
         |SELECT t.lang, t.doc_id, t.n_tokens
         |FROM t JOIN m USING (lang)
         |WHERE ${hSql("doc_id")} * 1000000 < m.mrate * $P""".stripMargin,
    "s01_sample_rate" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${hSql("doc_id")} <
         |  ${thrSql("lang", Map("en" -> 0.5, "zh" -> 0.25), 0.1)}""".stripMargin,
    "s02_sample_fixed" ->
      s"""SELECT lang, doc_id, rk FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |                       ORDER BY ${hSql("doc_id")}, doc_id) AS rk
         |  FROM documents) ranked
         |WHERE rk <= 20""".stripMargin,
    "s03_split_assign" ->
      s"""SELECT doc_id, ${splitSql("doc_id", DefaultSplits)} AS split
         |FROM documents""".stripMargin,
    "s04_sample_weighted" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ${weightSql("doc_id", "least(n_chars / 4000.0, 1.0)")}""".stripMargin,
    "s05_token_budget" -> tokenBudgetOracle,
    // s14 — the same running-sum spec in t18 subword tokens
    "s14_budget_subword" ->
      tokenBudgetOracleWith(TextOps.subwordTokensSql("text")),
    // s06 computes the same kept set through the two-pass histogram
    // shape, so it shares s05's oracle text verbatim
    "s06_token_budget_2p" -> tokenBudgetOracle,
    // s07 — the rate formula repeated literally (budget·w first, then
    // the divide, then one floor·P compare — identical IEEE order)
    "s07_mixture_sample" -> {
      val wCase = "CASE " + MixtureWeights.map { case (k, w) =>
        s"WHEN lang = '$k' THEN $w"
      }.mkString(" ") + " ELSE 0.0 END"
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS toks FROM t GROUP BY lang),
         |r AS (SELECT lang,
         |        least(1.0, (${MixtureBudget.toDouble} * $wCase) / toks::DOUBLE) AS rate
         |      FROM tot)
         |SELECT t.lang, t.doc_id, t.n_tokens
         |FROM t JOIN r USING (lang)
         |WHERE ${hSql("doc_id")} < CAST(floor(r.rate * $P) AS BIGINT)""".stripMargin
    },
    // s09 — the staged-CTE mirror of the withColumn chain (share →
    // sqrt (τ=2; correctly rounded on both engines, unlike pow) →
    // quantize to q12 longs → renormalize → rate); after the pw
    // quantization the Σpw fold is exact integer arithmetic, so the
    // frame needs no ordering pin
    "s09_temperature_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS toks FROM t GROUP BY lang),
         |w1 AS (SELECT lang, toks,
         |         toks::DOUBLE / (sum(toks) OVER ())::DOUBLE AS share FROM tot),
         |w2 AS (SELECT lang, toks,
         |         CAST(round(${if (1.0 / Temperature == 0.5) "sqrt(share)"
          else s"pow(share, ${1.0 / Temperature})"} * 1000000000000.0) AS BIGINT) AS pw
         |       FROM w1),
         |w3 AS (SELECT lang, toks,
         |         pw::DOUBLE / (sum(pw) OVER ())::DOUBLE AS w
         |       FROM w2),
         |r AS (SELECT lang,
         |        CAST(round(least(1.0, ${TemperatureBudget.toDouble} * w / toks::DOUBLE)
         |          * 1000000.0) AS BIGINT) AS mrate
         |      FROM w3)
         |SELECT t.lang, t.doc_id, t.n_tokens
         |FROM t JOIN r USING (lang)
         |WHERE ${hSql("doc_id")} * 1000000 < r.mrate * $P""".stripMargin,
    // s10 — the integer priority key repeated literally: ⌊(h+1)·S/w⌋ is
    // exact int64 arithmetic on both engines (// is DuckDB's integer
    // div), so the k-th boundary row cannot flip on libm-vs-JVM pow
    // divergence — there is no pow left to diverge
    "s10_weighted_reservoir" ->
      s"""SELECT doc_id, lang, n_chars FROM (
         |  SELECT doc_id, lang, n_chars,
         |    ((${hSql("doc_id")} + 1) * $ReservoirScale) // n_chars AS wk
         |  FROM documents WHERE n_chars > 0) keyed
         |ORDER BY wk, doc_id LIMIT 20""".stripMargin,
    // s11 — staged-CTE mirror: hashed bucket models, smoothed ln ratio
    // quantized to q6 at the model (the only non-correctly-rounded op
    // behind the quantum), then an exact integer fold per doc; totals
    // are the sides' token counts (every token lands in one bucket)
    "s11_dsir_select" -> {
      val ph = Hashing.polyHashSql("_tok")
      s"""WITH rawd AS (SELECT doc_id, lang, text FROM documents WHERE source <> 'src0'),
         |tgt AS (SELECT text FROM documents WHERE source = 'src0'),
         |rt AS (SELECT $ph % $DsirBuckets AS b FROM (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS _tok FROM tgt) x),
         |rr AS (SELECT doc_id, $ph % $DsirBuckets AS b FROM (
         |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS _tok FROM rawd) x),
         |ct AS (SELECT b, count(*) AS ct FROM rt GROUP BY b),
         |cr AS (SELECT b, count(*) AS cr FROM rr GROUP BY b),
         |model AS (
         |  SELECT coalesce(ct.b, cr.b) AS b,
         |    CAST(round((ln((coalesce(ct.ct, 0) + 1)::DOUBLE
         |        / ((SELECT count(*) FROM rt) + $DsirBuckets)::DOUBLE)
         |      - ln((coalesce(cr.cr, 0) + 1)::DOUBLE
         |        / ((SELECT count(*) FROM rr) + $DsirBuckets)::DOUBLE)) * 1000000.0)
         |      AS BIGINT) AS llr_q6
         |  FROM ct FULL OUTER JOIN cr ON ct.b = cr.b),
         |db AS (SELECT doc_id, b, count(*) AS c FROM rr GROUP BY 1, 2),
         |score AS (SELECT doc_id, CAST(sum(c * llr_q6) AS BIGINT) AS score_q6
         |          FROM db JOIN model USING (b) GROUP BY doc_id
         |          ORDER BY score_q6 DESC, doc_id LIMIT $DsirTopN)
         |SELECT s.doc_id, d.lang, s.score_q6
         |FROM score s JOIN rawd d USING (doc_id)""".stripMargin
    },
    // s12 — the epoch CASE and fractional thresholds are generated from
    // the same Scala values as the Spark plan, so the copy counts are
    // identical exact longs; range(n) ≡ explode(sequence(0, n-1))
    "s12_epoch_mix" -> {
      def base(e: Double) = math.floor(e).toLong
      def frThr(e: Double) = ((e - math.floor(e)) * P).toLong
      val baseCase = "CASE " + EpochSpec.map { case (k, e) =>
        s"WHEN lang = '$k' THEN ${base(e)}"
      }.mkString(" ") + s" ELSE ${base(EpochDefault)} END"
      val thrCase = "CASE " + EpochSpec.map { case (k, e) =>
        s"WHEN lang = '$k' THEN ${frThr(e)}"
      }.mkString(" ") + s" ELSE ${frThr(EpochDefault)} END"
      s"""SELECT doc_id, lang, unnest(range(n_copies)) AS copy_idx
         |FROM (SELECT doc_id, lang,
         |        ($baseCase) + (CASE WHEN ${hSql("doc_id")} < ($thrCase)
         |                       THEN 1 ELSE 0 END) AS n_copies
         |      FROM documents) t
         |WHERE n_copies > 0""".stripMargin
    },
    // ceil over the same IEEE double product on both engines
    "s08_stratified_exact" ->
      s"""SELECT lang, doc_id, rk FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |                       ORDER BY ${hSql("doc_id")}, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents) ranked
         |WHERE rk <= CAST(ceil(n::DOUBLE * 0.15) AS BIGINT)""".stripMargin)

  /** Shared s05/s06 oracle: the windowed running-sum definition is the
    * SPEC of the kept set; s06's bracket decomposition must reproduce it
    * exactly. The unique (n_chars DESC, doc_id) order makes DuckDB's
    * default RANGE frame equal to ROWS, matching Spark. */
  private def tokenBudgetOracle: String = tokenBudgetOracleWith(
    "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)")

  /** The s05/s06 running-sum spec with a pluggable token expression —
    * s14 re-instantiates it over t18's subword fold. */
  private def tokenBudgetOracleWith(tokensSql: String): String =
    s"""SELECT lang, doc_id, n_tokens FROM (
       |  SELECT lang, doc_id, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY lang
       |                        ORDER BY n_chars DESC, doc_id) AS cum
       |  FROM (SELECT lang, doc_id, n_chars,
       |          $tokensSql AS n_tokens
       |        FROM documents) t) c
       |WHERE cum <= $BudgetTokens""".stripMargin
}
