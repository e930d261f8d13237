package graft.ops

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Event-stream-shaped operators over the `events` table, batch side.
  * The same tumbling-window aggregation runs as a genuine Structured
  * Streaming query (watermark + availableNow) in
  * [[graft.streaming.EventStream]] — batch/stream parity is asserted by
  * `EventStreamSpec`.
  *
  * Window starts are emitted as epoch *seconds* (bigint), not timestamps:
  * the source timestamps are nanosecond-precision parquet, which Spark
  * surfaces as nanos-since-epoch longs and DuckDB as TIMESTAMP_NS —
  * an integer bucket key sidesteps the tz-awareness mismatch between the
  * two engines' timestamp outputs while preserving exact semantics.
  */
object Events {
  // exact decimal sum, surfaced as double (see Relational.sumDec note)
  private def decSum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  // shared by e01 (direct) and e18 (incremental refresh ≡ recompute)
  private val E01Sql =
    """SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP))::BIGINT AS hour_epoch,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Batch sessionization: per-key session count with an inactivity-gap
    * rule — lag window + running flag sum. The stateful-streaming
    * counterpart with identical semantics is
    * [[graft.streaming.Sessionize]] (asserted equal in SessionizeSpec).
    * Gap compared in integer microseconds: exact on any engine.
    * Output: `(user_id, n_sessions, n_events)`. */
  def sessionCounts(events: DataFrame, user: String, ts: String, id: String,
                    gapMicros: Long): DataFrame = {
    val byUser = Window.partitionBy(col(user)).orderBy(col(ts), col(id))
    events
      .withColumn("_prev_us", lag(unix_micros(col(ts)), 1).over(byUser))
      .withColumn("_new_sess",
        when(unix_micros(col(ts)) - col("_prev_us") > gapMicros, 1L)
          .otherwise(0L))
      .groupBy(col(user).as("user_id"))
      .agg((sum(col("_new_sess")) + 1L).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** PER-SESSION STATS + CONVERSION (e23) — e02 counts sessions per
    * user; this materializes the SESSIONS themselves, the unit every
    * product-analytics readout (funnel, duration, abandonment) is
    * actually computed over: session number = running sum of e02's
    * gap flags, then one aggregate per (user, session) with length,
    * duration, type diversity, and whether the session CONVERTED
    * (contains a purchase) — plus time-to-convert from session start,
    * the metric a conversion-latency dashboard plots.
    *
    * Scale shape: the same single user-keyed window as e02 (lag +
    * running sum share one exchange+sort), then a splittable
    * (user, session) aggregation; integer microsecond arithmetic
    * end-to-end. Output: `(user_id, sess_no, n_events, n_types,
    * duration_us, converted, convert_us)` — `convert_us` NULL for
    * non-converting sessions. */
  def sessionStats(events: DataFrame, user: String, ts: String, id: String,
                   gapMicros: Long,
                   convertType: String = "purchase"): DataFrame = {
    val byUser = Window.partitionBy(col(user)).orderBy(col(ts), col(id))
    val run = Window.partitionBy(col(user)).orderBy(col(ts), col(id))
      .rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("_us", unix_micros(col(ts)))
      .withColumn("_prev_us", lag(col("_us"), 1).over(byUser))
      .withColumn("_new_sess",
        when(col("_us") - col("_prev_us") > gapMicros, 1L).otherwise(0L))
      .withColumn("sess_no", sum(col("_new_sess")).over(run))
      .groupBy(col(user).as("user_id"), col("sess_no"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("event_type")).as("n_types"),
        (max(col("_us")) - min(col("_us"))).as("duration_us"),
        max(when(col("event_type") === convertType, 1L).otherwise(0L))
          .as("converted"),
        (min(when(col("event_type") === convertType, col("_us")))
          - min(col("_us"))).as("convert_us"))
  }

  /** Mergeable hourly aggregate STATE (e18): per (hour, type) the
    * count and the EXACT decimal value sum — kept as decimal, not yet
    * surfaced as double, so states add associatively with zero drift
    * (decimal addition is exact; summing pre-cast doubles would make
    * the refreshed view diverge from a recompute by float
    * reassociation). */
  def hourlyAggState(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("_n"),
        sum(col("value").cast(DecimalType(18, 2))).as("_sv"))
      .select(col("w.start").cast("long").as("hour_epoch"),
        col("event_type"), col("_n"), col("_sv"))

  /** Merge [[hourlyAggState]] frames into the readout view: union the
    * partials and re-aggregate — the same shape as Spark's own
    * partial-final aggregation, lifted to the job level. Groups
    * touched by only one input pass through; overlapping groups add
    * their exact partials. Readout matches e01's schema. */
  def mergeHourlyStates(states: DataFrame*): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(col("hour_epoch"), col("event_type"))
      .agg(sum(col("_n")).as("n_events"),
        sum(col("_sv")).cast("double").as("total_value"))

  /** Hourly event-volume counts per type — the e14 aggregation stage,
    * shared with [[graft.streaming.AnomalyStream]] so batch and
    * stream-fed monitoring cannot drift. Expects a TIMESTAMP `ts`. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("long").as("hour_epoch"),
        col("event_type"), col("n"))

  /** Trailing z-score read-out over a [[hourlyCounts]] table (both the
    * batch e14 query and the stream snapshot consumer run exactly
    * this): each hour scored against the mean/stddev of its type's
    * trailing 24 OBSERVATIONS (a ROWS frame — gaps don't shrink the
    * baseline); z in milli-units (windowed stddev accumulates central
    * moments in engine-specific order; q3 absorbs the 1e-15 noise). */
  def anomalyReadout(hourly: DataFrame): DataFrame = {
    val trail = Window
      .partitionBy(col("event_type")).orderBy(col("hour_epoch"))
      .rowsBetween(-24, -1)
    hourly
      .withColumn("mu", avg(col("n")).over(trail))
      .withColumn("sd", stddev_samp(col("n")).over(trail))
      // the explicit frame count makes the <2-observations guard
      // independent of spark.sql.legacy.statisticalAggregate (under
      // which a 1-row stddev_samp is NaN, and NaN > 0 holds in
      // Spark's ordering); same frame → same window exchange
      .withColumn("_cnt", count(col("n")).over(trail))
      .filter(col("_cnt") >= 2 && col("sd").isNotNull && col("sd") > 0)
      .withColumn("z_q3",
        round((col("n").cast("double") - col("mu")) / col("sd") * lit(1e3))
          .cast("long"))
      .select(col("hour_epoch"), col("event_type"), col("n"), col("z_q3"))
  }

  /** Grid RESAMPLE + linear gap interpolation (e19) over a
    * [[hourlyCounts]] table — the TSDB operator a downsampled
    * monitoring series needs: densify each type's counts onto the full
    * [min, max] hour grid (sequence-explode of the per-type bounds —
    * grid rows never touch the event table) and fill gaps linearly
    * between the flanking observations. The flanks are the e15 LOCF
    * machinery run in BOTH directions; all four window columns share
    * one partition+order, so ONE exchange+sort evaluates them.
    * Arithmetic is exact integer milli-units with a non-negative
    * numerator, so truncating div agrees across engines. Grid
    * endpoints are observed hours, so flanks exist everywhere.
    * Output: `(event_type, hour_epoch, n nullable, interp_q3)`. */
  def resampleInterpolate(hourly: DataFrame): DataFrame = {
    val grid = hourly.groupBy(col("event_type"))
      .agg(min("hour_epoch").as("lo"), max("hour_epoch").as("hi"))
      .select(col("event_type"),
        explode(expr("sequence(lo, hi, 3600)")).as("hour_epoch"))
    val wPrev = Window.partitionBy(col("event_type")).orderBy(col("hour_epoch"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.partitionBy(col("event_type")).orderBy(col("hour_epoch"))
      .rowsBetween(0, Window.unboundedFollowing)
    grid.join(hourly, Seq("event_type", "hour_epoch"), "left")
      .withColumn("pn", last(col("n"), ignoreNulls = true).over(wPrev))
      .withColumn("ph", last(when(col("n").isNotNull, col("hour_epoch")),
        ignoreNulls = true).over(wPrev))
      .withColumn("nn", first(col("n"), ignoreNulls = true).over(wNext))
      .withColumn("nh", first(when(col("n").isNotNull, col("hour_epoch")),
        ignoreNulls = true).over(wNext))
      .select(col("event_type"), col("hour_epoch"), col("n"),
        when(col("n").isNotNull, col("n") * lit(1000L))
          .otherwise(expr(
            "((pn * (nh - hour_epoch) + nn * (hour_epoch - ph)) * 1000) div (nh - ph)"))
          .as("interp_q3"))
  }

  /** Per-(day, user) decimal spend — the e11 aggregation stage, shared
    * with [[graft.streaming.TrendStream]] so batch and stream-fed
    * trending cannot drift. Expects a TIMESTAMP `ts` column. */
  def dailySpend(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
      .agg(decSum(col("value")).as("total_value"))
      .select(col("w.start").cast("long").as("day_epoch"),
        col("user_id"), col("total_value"))

  /** Top-k rank read-out over a [[dailySpend]] table (both the batch
    * e11 query and the stream snapshot consumer run exactly this). */
  def rankTopK(agg: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day_epoch"))
      .orderBy(col("total_value").desc, col("user_id"))
    agg.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** e20 fixed-point scale: decayed terms carry 2^20 sub-cent units. */
  val DecayScale = 1048576L

  /** Exponentially time-decayed engagement per user (e20): each event
    * contributes `value · 2^−age_days` (one-day half-life) relative to
    * the newest observed event — the recency-weighted activity score
    * behind churn features and trending-user rankings.
    *
    * The decay is ENTIRELY integer: cents · 2^20 fixed-point, divided
    * by a power-of-two shift of the integer age. `exp()`/`pow()` are
    * not required by IEEE 754 to be correctly rounded, so a λ-style
    * `exp(-λ·age)` weight can disagree between engines in the last
    * ulp; a shift cannot. Ages are clamped at 62 so the shift never
    * wraps (terms are 0 long before that). The quotient is taken on
    * `abs(vq2)` with the sign reapplied afterwards (the q46 recipe):
    * truncating `div` (Spark) and flooring `//` (DuckDB) agree only
    * for non-negative numerators, and nothing upstream forbids a
    * negative event value (refunds, corrections).
    *
    * Scale shape: the reference epoch is a one-row `max` broadcast
    * back over the corpus (no window), the decay is map-side, and the
    * only exchange is the final user aggregation with map-side
    * partials. Output: `(user_id, decayed_q2p20, n_events)`. */
  def decayedValue(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"),
      col("ts").cast("long").as("sec"),
      round(col("value") * lit(100)).cast("long").as("vq2"))
    val m = e.agg(max(col("sec")).as("tmax"))
    e.crossJoin(broadcast(m))
      .withColumn("_q", expr(
        s"(abs(vq2) * ${DecayScale}L) div " +
          "shiftleft(cast(1 as bigint), cast(least((tmax - sec) div 86400, 62L) as int))"))
      .withColumn("term",
        when(col("vq2") < 0, -col("_q")).otherwise(col("_q")))
      .groupBy(col("user_id"))
      .agg(sum(col("term")).as("decayed_q2p20"),
        count(lit(1)).as("n_events"))
  }

  /** First-order MARKOV transition matrix over user event timelines
    * (e22): corpus-wide counts of adjacent `(prev → next)` event-type
    * steps plus the row-normalized transition probability — the
    * behavioral model behind next-action prediction, funnel design,
    * and bot detection (bots have degenerate transition rows).
    *
    * Scale shape: one exchange on user_id for the lag window (each
    * user's timeline is modest), then the count aggregation collapses
    * to (types × types) rows — the probability window runs on that
    * tiny square, not on events. Timeline order is total
    * ((ts micros, event_id)), p_q6 is integer `(n·10⁶) div rowtotal`.
    * Output: `(prev, next, n, p_q6)`. */
  def markovTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    events.select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("_rt", sum(col("n")).over(Window.partitionBy(col("prev"))))
      .withColumn("p_q6", expr("(n * 1000000L) div _rt"))
      .drop("_rt")
  }

  /** A/B EXPERIMENT READOUT (e24) — the two-proportion conversion test
    * every product experiment ships: users deterministically split
    * into control/treatment by a hash coin on the user id (the s03
    * assignment move — stable across reruns, uncorrelated with any
    * id-parity structure), conversion = the user emitted at least one
    * `convertType` event, and the readout is one row of per-variant
    * counts, q6 conversion rates, the additive lift, and the pooled
    * two-proportion z-score.
    *
    * Cross-engine exactness: counts are integers; rates and lift are
    * integer q6 (`div`); the z-score needs real division and a sqrt,
    * so both engines evaluate the IDENTICAL op sequence on the same
    * four integers (the t19/q48 doctrine — correctly-rounded IEEE ops
    * on identical inputs agree bit-for-bit) and round once to q6.
    *
    * Scale shape: one exchange on user_id for the per-user conversion
    * fold (map-side partial max), the variant coin map-side after it,
    * then a 2-row aggregate — at any corpus size the statistics stage
    * costs nothing after the per-user collapse. Output: one row
    * `(n0, c0, cr0_q6, n1, c1, cr1_q6, lift_q6, z_q6)`. */
  def abTestReadout(events: DataFrame, userCol: String, typeCol: String,
                    convertIf: Column): DataFrame = {
    val perUser = events
      .withColumn("_cv", when(convertIf, lit(1L)).otherwise(lit(0L)))
      .select(col(userCol).as("user_id"), col("_cv"))
      .groupBy(col("user_id"))
      .agg(max(col("_cv")).as("conv"))
      .withColumn("variant",
        pmod(polyHash(col("user_id").cast("string")), lit(2)))
    // degenerate-experiment guards, mirrored in the oracle: an empty
    // variant nulls its rate (and everything downstream); an all-or-
    // nothing pooled rate nulls the z (its standard error is 0 — no
    // test exists), instead of tripping ANSI divide-by-zero
    perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      .agg(
        max(when(col("variant") === 0, col("n"))).as("n0"),
        max(when(col("variant") === 0, col("c"))).as("c0"),
        max(when(col("variant") === 1, col("n"))).as("n1"),
        max(when(col("variant") === 1, col("c"))).as("c1"))
      .select(col("n0"), col("c0"),
        expr("CASE WHEN n0 > 0 THEN (c0 * 1000000L) div n0 END").as("cr0_q6"),
        col("n1"), col("c1"),
        expr("CASE WHEN n1 > 0 THEN (c1 * 1000000L) div n1 END").as("cr1_q6"),
        expr("CASE WHEN n0 > 0 AND n1 > 0 THEN " +
          "(c1 * 1000000L) div n1 - (c0 * 1000000L) div n0 END")
          .as("lift_q6"),
        expr(
          "CASE WHEN n0 > 0 AND n1 > 0 AND (c0 + c1) > 0 " +
            "AND (c0 + c1) < (n0 + n1) THEN " +
            "cast(round(((cast(c1 as double) / cast(n1 as double)) - " +
            "(cast(c0 as double) / cast(n0 as double))) / " +
            "sqrt((cast(c0 + c1 as double) / cast(n0 + n1 as double)) * " +
            "(1.0D - cast(c0 + c1 as double) / cast(n0 + n1 as double)) * " +
            "(1.0D / cast(n0 as double) + 1.0D / cast(n1 as double))) * " +
            "1000000.0D) as long) END").as("z_q6"))
  }

  /** e24's conversion cutoff: a purchase of value ≥ this converts the
    * user (a bare "any purchase" would convert ~100% of harness users
    * — a degenerate experiment with no variance to test). */
  val ConvertValue = 150.0

  /** e27's interim-analysis count. */
  val SeqLooks = 4

  /** Pocock's two-sided 5% group-sequential boundaries by look count K
    * (Pocock, Biometrika 1977, table 2), micro-unit quantized for the
    * integer compare. K=1 is the no-interim fixed-horizon 1.960.
    * Keyed by K because the constant GROWS with the number of looks —
    * rejecting K=8 data against the K=4 boundary (which an earlier
    * signature quietly did for any non-default `looks`) under-controls
    * the family-wise error rate. */
  val PocockZq6: Map[Int, Long] = Map(
    1 -> 1960000L, 2 -> 2178000L, 3 -> 2289000L, 4 -> 2361000L,
    5 -> 2413000L)

  /** The K=4 boundary (c = 2.361) the shipped e27 entry gates on. */
  val PocockZq6K4: Long = PocockZq6(SeqLooks)

  /** GROUP-SEQUENTIAL A/B MONITORING (e27) — e24's experiment read at
    * K interim looks with a Pocock boundary: the fix for the PEEKING
    * problem every dashboard-watched experiment has (test the same
    * stream repeatedly at z ≥ 1.96 and the realized false-positive
    * rate at 4 looks is ~20%, not 5%; Pocock's constant boundary
    * c = 2.361 holds the family-wise rate at 5%). Completes the causal
    * readout family: e24 fixed-horizon z, e25 CUPED, e26 DiD, e27 the
    * sequential monitor a platform actually runs between them.
    *
    * Look k's data = everything with timestamp ≤ the k-th boundary,
    * where boundaries split [min ts, max ts] into K equal intervals by
    * INTEGER microsecond arithmetic (`mn + ((mx−mn)·k) div K` — the
    * e25 midpoint doctrine; look K's boundary is exactly `mx`, so the
    * final look IS e24's fixed-horizon readout, pinned by spec). A
    * user enters look k's denominator when their FIRST event precedes
    * the boundary, and counts converted when their first CONVERTING
    * event does — both exact integer compares on per-user minima.
    *
    * Scale shape: ONE user-keyed exchange for the per-user minima fold
    * (map-side partial min), the K-row look spine and the 1-row time
    * range broadcast back, then a K·2-row aggregation — the
    * sequential readout costs one pass more than nothing after the
    * per-user collapse, at any corpus size. Cross-engine exactness:
    * counts are integers; each look's z evaluates e24's identical
    * double op sequence on its four integers; the reject flag compares
    * the already-quantized q6 against the q6 boundary constant (NULL z
    * — degenerate look — yields NULL reject on both engines).
    * Output: K rows `(look, n0, c0, n1, c1, z_q6, reject)`. */
  def sequentialAbReadout(events: DataFrame, userCol: String, ts: String,
                          convertIf: Column,
                          looks: Int = SeqLooks): DataFrame = {
    // the boundary must MATCH the look count — Pocock's c varies with
    // K, so an unsupported K fails loudly instead of silently gating
    // against the wrong constant
    require(PocockZq6.contains(looks),
      s"no Pocock boundary tabulated for looks=$looks " +
        s"(supported: ${PocockZq6.keys.toSeq.sorted.mkString(", ")})")
    val boundaryQ6 = PocockZq6(looks)
    val spark = events.sparkSession
    val ev = events.select(col(userCol).as("user_id"),
      unix_micros(col(ts)).as("us"),
      when(convertIf, lit(1L)).otherwise(lit(0L)).as("cv"))
    val rng = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val pu = ev.groupBy(col("user_id"))
      .agg(min(col("us")).as("first_us"),
        min(when(col("cv") === 1L, col("us"))).as("conv_us"))
      .withColumn("variant",
        pmod(polyHash(col("user_id").cast("string")), lit(2)))
    val spine = spark.range(1L, looks + 1L).select(col("id").as("look"))
    val perLook = pu.crossJoin(broadcast(rng))
      .crossJoin(broadcast(spine))
      .withColumn("bound", expr(s"mn + (((mx - mn) * look) div $looks)"))
      .filter(col("first_us") <= col("bound"))
      .groupBy(col("look"), col("variant"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("conv_us").isNotNull && col("conv_us") <= col("bound"),
          lit(1L)).otherwise(lit(0L))).as("c"))
    perLook.groupBy(col("look"))
      .agg(max(when(col("variant") === 0, col("n"))).as("n0"),
        max(when(col("variant") === 0, col("c"))).as("c0"),
        max(when(col("variant") === 1, col("n"))).as("n1"),
        max(when(col("variant") === 1, col("c"))).as("c1"))
      .select(col("look"), col("n0"), col("c0"), col("n1"), col("c1"),
        expr(
          "CASE WHEN n0 > 0 AND n1 > 0 AND (c0 + c1) > 0 " +
            "AND (c0 + c1) < (n0 + n1) THEN " +
            "cast(round(((cast(c1 as double) / cast(n1 as double)) - " +
            "(cast(c0 as double) / cast(n0 as double))) / " +
            "sqrt((cast(c0 + c1 as double) / cast(n0 + n1 as double)) * " +
            "(1.0D - cast(c0 + c1 as double) / cast(n0 + n1 as double)) * " +
            "(1.0D / cast(n0 as double) + 1.0D / cast(n1 as double))) * " +
            "1000000.0D) as long) END").as("z_q6"))
      .withColumn("reject", abs(col("z_q6")) >= lit(boundaryQ6))
  }

  /** CUPED EXPERIMENT READOUT (e25) — variance-reduced lift for a
    * CONTINUOUS metric (Deng et al., WSDM'13, the adjustment every
    * large experimentation platform applies): per user, post-period
    * spend Y and PRE-period spend X (the pre-experiment covariate),
    * θ = cov(X,Y)/var(X) over all users, adjusted metric
    * Y′ = Y − θ·(X − X̄). The readout reports the raw and adjusted
    * lifts plus the variance ratio var(Y′)/var(Y) = 1 − ρ²(X,Y) —
    * how much narrower the confidence interval gets for free.
    *
    * Period split: the time range's midpoint, integer-compared
    * (`us·2 < min+max` — no division). Cross-engine exactness: spend
    * quantizes to q6 longs at the source; all sums are exact integers
    * (second moments as decimal(38,0) ≡ DuckDB HUGEINT — a q6
    * cross-product overflows int64); θ/lifts/ratio are then the
    * IDENTICAL double op sequence on both engines over those exact
    * sums, rounded once to q6 (the e24/t19 doctrine). Degenerate
    * covariates (var(X)=0 or var(Y)=0) null θ/ratio via mirrored CASE
    * guards. Precondition, stated deliberately: per-user q6 period
    * spend must stay ≪ ~1e18 so Σx² fits 38 digits — true for any
    * currency-like metric (a user would need ~1e12 in spend to
    * breach it); at the margin Spark's decimal(38,0) would NULL where
    * DuckDB's HUGEINT still answers, so the parity contract covers
    * realistic magnitudes only.
    *
    * Scale shape: one user-keyed exchange for the per-user fold (the
    * range constants broadcast), then ONE row of global + per-variant
    * exact sums — the statistics cost nothing after the per-user
    * collapse, at any corpus size. Output: one row `(n0, n1,
    * theta_q6, lift_q6, cuped_lift_q6, vr_q6)` (lifts in q6 metric
    * units). */
  def cupedReadout(events: DataFrame, userCol: String, tsCol: String,
                   metricIf: Column, valueCol: String): DataFrame = {
    val ev = events.select(col(userCol).as("user_id"),
        unix_micros(col(tsCol)).as("us"),
        when(metricIf, coalesce(col(valueCol), lit(0.0)))
          .otherwise(lit(0.0)).as("v"))
      .select(col("user_id"), col("us"),
        expr("cast(round(v * 1000000.0D) as long)").as("q"))
    val rng = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val perUser = ev.crossJoin(broadcast(rng))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("us") * 2 < col("mn") + col("mx"), col("q"))
          .otherwise(lit(0L))).as("x"),
        sum(when(col("us") * 2 < col("mn") + col("mx"), lit(0L))
          .otherwise(col("q"))).as("y"))
      .withColumn("variant",
        pmod(polyHash(col("user_id").cast("string")), lit(2)))
    perUser.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("x").cast("decimal(38,0)"))
          .as("sxx"),
        sum(col("x").cast("decimal(38,0)") * col("y").cast("decimal(38,0)"))
          .as("sxy"),
        sum(col("y").cast("decimal(38,0)") * col("y").cast("decimal(38,0)"))
          .as("syy"),
        sum(when(col("variant") === 0, lit(1L)).otherwise(lit(0L))).as("n0"),
        sum(when(col("variant") === 0, col("x")).otherwise(lit(0L))).as("sx0"),
        sum(when(col("variant") === 0, col("y")).otherwise(lit(0L))).as("sy0"),
        sum(when(col("variant") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(col("variant") === 1, col("x")).otherwise(lit(0L))).as("sx1"),
        sum(when(col("variant") === 1, col("y")).otherwise(lit(0L))).as("sy1"))
      .select(col("n0"), col("n1"),
        expr("CASE WHEN cast(n as double) * cast(sxx as double) - " +
          "cast(sx as double) * cast(sx as double) > 0.0D THEN " +
          "cast(round((cast(n as double) * cast(sxy as double) - " +
          "cast(sx as double) * cast(sy as double)) / " +
          "(cast(n as double) * cast(sxx as double) - " +
          "cast(sx as double) * cast(sx as double)) * 1000000.0D) as long) " +
          "END").as("theta_q6"),
        expr("CASE WHEN n0 > 0 AND n1 > 0 THEN " +
          "cast(round(cast(sy1 as double) / cast(n1 as double) - " +
          "cast(sy0 as double) / cast(n0 as double)) as long) END")
          .as("lift_q6"),
        expr("CASE WHEN n0 > 0 AND n1 > 0 AND " +
          "cast(n as double) * cast(sxx as double) - " +
          "cast(sx as double) * cast(sx as double) > 0.0D THEN " +
          "cast(round((cast(sy1 as double) / cast(n1 as double) - " +
          "cast(sy0 as double) / cast(n0 as double)) - " +
          "(cast(n as double) * cast(sxy as double) - " +
          "cast(sx as double) * cast(sy as double)) / " +
          "(cast(n as double) * cast(sxx as double) - " +
          "cast(sx as double) * cast(sx as double)) * " +
          "(cast(sx1 as double) / cast(n1 as double) - " +
          "cast(sx0 as double) / cast(n0 as double))) as long) END")
          .as("cuped_lift_q6"),
        expr("CASE WHEN cast(n as double) * cast(sxx as double) - " +
          "cast(sx as double) * cast(sx as double) > 0.0D AND " +
          "cast(n as double) * cast(syy as double) - " +
          "cast(sy as double) * cast(sy as double) > 0.0D THEN " +
          "cast(round((1.0D - ((cast(n as double) * cast(sxy as double) - " +
          "cast(sx as double) * cast(sy as double)) * " +
          "(cast(n as double) * cast(sxy as double) - " +
          "cast(sx as double) * cast(sy as double))) / " +
          "((cast(n as double) * cast(sxx as double) - " +
          "cast(sx as double) * cast(sx as double)) * " +
          "(cast(n as double) * cast(syy as double) - " +
          "cast(sy as double) * cast(sy as double)))) * 1000000.0D) as long) " +
          "END").as("vr_q6"))
  }

  /** DIFFERENCE-IN-DIFFERENCES READOUT (e26) — the quasi-experimental
    * estimate for when assignment isn't randomized at metric time: the
    * treatment effect is the CHANGE in the treated group's metric
    * minus the CHANGE in the control group's, so any time-invariant
    * group difference and any group-invariant time trend cancel (the
    * parallel-trends workhorse; Card & Krueger 1994 popularized it).
    * With per-user panel data the estimator reduces to a two-sample
    * test on per-user CHANGE SCORES d = post − pre: DiD = d̄₁ − d̄₀,
    * z = DiD / √(s²₀/n₀ + s²₁/n₁) (Welch form on the changes).
    *
    * Periods split at the time range's midpoint (e25's integer
    * `us·2 < mn+mx` — no division), groups by the e24 hash coin.
    * Cross-engine exactness: per-user period spends quantize to q6
    * longs; all moments are exact integers (squares in decimal(38,0)
    * ≡ HUGEINT, the e25 doctrine and its magnitude precondition);
    * means/variances/z are then the identical double op sequence on
    * both engines, rounded once to q6. Degenerate guards mirrored in
    * the oracle: an empty variant nulls its means and everything
    * downstream; n ≤ 1 or zero change-variance nulls the z.
    *
    * Scale shape: e25's exactly — one user-keyed exchange for the
    * per-user fold (range constants broadcast), then a 1-row
    * aggregate; the statistics cost nothing after the per-user
    * collapse, at any corpus size. Output: one row `(n0, n1, pre0_q6,
    * post0_q6, pre1_q6, post1_q6, did_q6, z_q6)`. */
  def didReadout(events: DataFrame, userCol: String, tsCol: String,
                 metricIf: Column, valueCol: String): DataFrame = {
    val ev = events.select(col(userCol).as("user_id"),
        unix_micros(col(tsCol)).as("us"),
        when(metricIf, coalesce(col(valueCol), lit(0.0)))
          .otherwise(lit(0.0)).as("v"))
      .select(col("user_id"), col("us"),
        expr("cast(round(v * 1000000.0D) as long)").as("q"))
    val rng = ev.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
    val perUser = ev.crossJoin(broadcast(rng))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("us") * 2 < col("mn") + col("mx"), col("q"))
          .otherwise(lit(0L))).as("x"),
        sum(when(col("us") * 2 < col("mn") + col("mx"), lit(0L))
          .otherwise(col("q"))).as("y"))
      .withColumn("d", col("y") - col("x"))
      .withColumn("variant",
        pmod(polyHash(col("user_id").cast("string")), lit(2)))
    // the pooled Welch se² on the change scores, shared by the guard
    // and the z numerator (identical text in the oracle)
    val se2 = "((cast(n0 as double) * cast(sdd0 as double) - " +
      "cast(sy0 - sx0 as double) * cast(sy0 - sx0 as double)) / " +
      "(cast(n0 as double) * (cast(n0 as double) - 1.0D)) / " +
      "cast(n0 as double) + " +
      "(cast(n1 as double) * cast(sdd1 as double) - " +
      "cast(sy1 - sx1 as double) * cast(sy1 - sx1 as double)) / " +
      "(cast(n1 as double) * (cast(n1 as double) - 1.0D)) / " +
      "cast(n1 as double))"
    val did = "(cast(sy1 - sx1 as double) / cast(n1 as double) - " +
      "cast(sy0 - sx0 as double) / cast(n0 as double))"
    perUser.agg(
        sum(when(col("variant") === 0, lit(1L)).otherwise(lit(0L))).as("n0"),
        sum(when(col("variant") === 0, col("x")).otherwise(lit(0L))).as("sx0"),
        sum(when(col("variant") === 0, col("y")).otherwise(lit(0L))).as("sy0"),
        sum(when(col("variant") === 0,
          col("d").cast("decimal(38,0)") * col("d").cast("decimal(38,0)"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("sdd0"),
        sum(when(col("variant") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(col("variant") === 1, col("x")).otherwise(lit(0L))).as("sx1"),
        sum(when(col("variant") === 1, col("y")).otherwise(lit(0L))).as("sy1"),
        sum(when(col("variant") === 1,
          col("d").cast("decimal(38,0)") * col("d").cast("decimal(38,0)"))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("sdd1"))
      .select(col("n0"), col("n1"),
        expr("CASE WHEN n0 > 0 THEN cast(round(cast(sx0 as double) / " +
          "cast(n0 as double)) as long) END").as("pre0_q6"),
        expr("CASE WHEN n0 > 0 THEN cast(round(cast(sy0 as double) / " +
          "cast(n0 as double)) as long) END").as("post0_q6"),
        expr("CASE WHEN n1 > 0 THEN cast(round(cast(sx1 as double) / " +
          "cast(n1 as double)) as long) END").as("pre1_q6"),
        expr("CASE WHEN n1 > 0 THEN cast(round(cast(sy1 as double) / " +
          "cast(n1 as double)) as long) END").as("post1_q6"),
        expr("CASE WHEN n0 > 0 AND n1 > 0 THEN " +
          s"cast(round($did) as long) END").as("did_q6"),
        expr("CASE WHEN n0 > 1 AND n1 > 1 AND " +
          s"$se2 > 0.0D THEN " +
          s"cast(round($did / sqrt($se2) * 1000000.0D) as long) END")
          .as("z_q6"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "e24_ab_test" -> ((s, d) =>
      abTestReadout(Tables.events(s, d), "user_id", "event_type",
        col("event_type") === "purchase" && col("value") >= ConvertValue)),
    "e27_sequential_ab" -> ((s, d) =>
      sequentialAbReadout(Tables.events(s, d), "user_id", "ts",
        col("event_type") === "purchase" && col("value") >= ConvertValue)),
    "e25_cuped" -> ((s, d) =>
      cupedReadout(Tables.events(s, d), "user_id", "ts",
        col("event_type") === "purchase", "value")),
    "e26_did" -> ((s, d) =>
      didReadout(Tables.events(s, d), "user_id", "ts",
        col("event_type") === "purchase", "value")),
    "e22_markov_transitions" -> ((s, d) =>
      markovTransitions(Tables.events(s, d))),
    "e20_decayed_value" -> ((s, d) => decayedValue(Tables.events(s, d))),
    // Tumbling 1-hour window per event type (§2.9 extension — the
    // reference has no streaming; SURVEY.md §7.5).
    "e01_tumbling_hourly" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), decSum(col("value")).as("total_value"))
        .select(col("w.start").cast("long").as("hour_epoch"),
          col("event_type"), col("n_events"), col("total_value"))
    }),

    // Incremental materialized-view refresh: e01's hourly view, but
    // computed as merge(state(base), state(delta)) around a fixed
    // ingest cutoff — the maintenance path that never rescans the base
    // corpus when a day of events lands (at 100 TB the base state is a
    // stored table and only the delta is aggregated; here both sides
    // derive from one scan to stay a pure query). The oracle is e01's
    // text VERBATIM: refresh ≡ full recompute is the correctness
    // contract of incremental maintenance, and exact decimal partials
    // make it hold bit-for-bit, not approximately.
    "e18_incremental_refresh" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cutoff = lit("2024-01-24 00:00:00").cast("timestamp")
      mergeHourlyStates(
        hourlyAggState(ev.filter(col("ts") < cutoff)),
        hourlyAggState(ev.filter(!(col("ts") < cutoff))))
    }),

    // TRENDING: top-3 users by spend per daily window — the tumbling
    // window feeding a rank window, the composition every "what's hot
    // today" dashboard runs. The aggregation collapses to one row per
    // (day, user) BEFORE the rank, and row_number's constant k compiles
    // to WindowGroupLimit (map-side prune, the q07/s02 contract), so
    // neither stage carries event-level data. Decimal spend sums keep
    // the rank order exact and engine-portable.
    "e11_trending_topk" -> ((s, d) =>
      rankTopK(dailySpend(Tables.events(s, d)), k = 3)),

    // SLIDING window: 2-hour windows advancing hourly — every event
    // contributes to two buckets (Spark expands via the window
    // generator; the oracle mirrors with a two-way shifted UNION ALL).
    "e06_sliding_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").cast("long").as("window_epoch"),
          col("event_type"), col("n_events"))
    }),

    // Sessionization with a 30-minute inactivity gap, via the generic
    // sessionCounts operator.
    "e02_sessionize" -> ((s, d) =>
      sessionCounts(Tables.events(s, d), "user_id", "ts", "event_id",
        gapMicros = 1800000000L)),
    "e23_session_stats" -> ((s, d) =>
      sessionStats(Tables.events(s, d), "user_id", "ts", "event_id",
        gapMicros = 1800000000L)),

    // AS-OF join (point-in-time) via the generic Joins.asOf operator:
    // for each error event, the user's most recent purchase within the
    // preceding hour.
    "e04_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("us").as("err_us"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          col("us").as("pur_us"), col("value").as("pur_value"))
      Joins.asOf(err, pur, Seq("user_id"),
          leftId = "err_id", leftTs = "err_us", rightTs = "pur_us",
          rightTie = "pur_id", toleranceMicros = 3600000000L)
        .select(col("err_id"), col("user_id"), col("pur_id"), col("pur_value"))
    }),

    // Distinct users per hour, SKETCHED: x03's per-group HLL with the
    // time window as the group — the continuous-monitoring shape
    // (cardinality per window) where exact count(DISTINCT) would
    // shuffle every event; the registers cap the exchange at m rows
    // per hour regardless of traffic.
    "e13_hll_users_hourly" -> ((s, d) =>
      Sketches.hllDistinctBy(
        Tables.events(s, d)
          .withColumn("hour_epoch", date_trunc("HOUR", col("ts")).cast("long")),
        "hour_epoch", "user_id")
        .withColumnRenamed("grp", "hour_epoch")),

    // Hourly anomaly z-scores: each hour's event count scored against
    // the mean/stddev of its type's TRAILING 24 observations (a ROWS
    // frame — observations, not wall hours, so gaps don't shrink the
    // baseline) — the volume-anomaly monitor every ingestion pipeline
    // runs. Bounded frame → O(1) state per row; z is quantized to
    // MILLI-units (not the usual q6) because windowed stddev
    // accumulates central moments in engine-specific order — 1e-15
    // relative noise that q3 absorbs with margin. Hours with fewer
    // than 2 trailing observations (sd undefined or 0) are unscored.
    "e14_hourly_anomaly" -> ((s, d) =>
      anomalyReadout(hourlyCounts(Tables.events(s, d)))),

    // grid densify + linear gap fill over the hourly cube
    "e19_resample_interp" -> ((s, d) =>
      resampleInterpolate(hourlyCounts(Tables.events(s, d)))),

    // Nearest as-of: for each error, the purchase CLOSEST in time
    // within ±1 hour — either side; completes the backward (e04) /
    // forward (e12) as-of family.
    "e21_asof_nearest" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("us").as("err_us"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          col("us").as("pur_us"), col("value").as("pur_value"))
      Joins.asOfNearest(err, pur, Seq("user_id"),
          leftId = "err_id", leftTs = "err_us", rightTs = "pur_us",
          rightTie = "pur_id", toleranceMicros = 3600000000L)
        .select(col("err_id"), col("user_id"), col("pur_id"), col("pur_value"))
    }),

    // Forward as-of: for each error, the FIRST purchase within the next
    // hour — the recovery/conversion direction e04's backward join
    // can't express.
    "e12_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val err = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"), col("us").as("err_us"))
      val pur = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          col("us").as("pur_us"), col("value").as("pur_value"))
      Joins.asOfForward(err, pur, Seq("user_id"),
          leftId = "err_id", leftTs = "err_us", rightTs = "pur_us",
          rightTie = "pur_id", toleranceMicros = 3600000000L)
        .select(col("err_id"), col("user_id"), col("pur_id"), col("pur_value"))
    }),

    // PIVOT: events long→wide, one count column per event type (fixed
    // value list ⇒ single-pass CASE aggregation, no extra shuffle).
    "e05_pivot" -> ((s, d) => {
      val types = Seq("click", "view", "signup", "purchase", "error")
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L, types)
    }),

    // FUNNEL: click → purchase conversion within 1 hour, as a single
    // VALUE-RANGE window frame — no self-join: one exchange on user_id,
    // and each click reads "earliest purchase in (t, t+1h]" straight
    // from its frame. The frame is value-based (RANGE, not ROWS), so
    // equal-timestamp tie order cannot change the result — the partition
    // invariance the oracle comparison needs for free.
    "e07_funnel" -> ((s, d) => {
      val HourMicros = 3600000000L
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(1L, HourMicros)
      ev
        .withColumn("next_pur_us",
          min(when(col("event_type") === "purchase", col("us"))).over(w))
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          count(col("next_pur_us")).as("n_converted"))
    }),

    // COHORT RETENTION: users grouped by signup week, counted distinct
    // per week-offset of later activity — the classic retention matrix.
    // Weeks are INTEGER division of epoch-micros (no calendar/timezone
    // functions), so both engines bucket identically; two aggregations
    // + one equi-join on user_id, every stage key-partitioned.
    "e08_cohort_retention" -> ((s, d) => {
      val WeekUs = 604800000000L // 7 * 24 * 3600 * 1e6
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(expr(s"min(us) div $WeekUs").as("cohort_week"))
      ev.join(cohorts, Seq("user_id"))
        .withColumn("week_n", expr(s"us div $WeekUs") - col("cohort_week"))
        .filter(col("week_n") >= 0)
        .groupBy(col("cohort_week"), col("week_n"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    }),

    // JSON prop extraction (§2.8 X9 family): pull a typed value out of
    // the semi-structured `props` column and aggregate it.
    "e03_json_props" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
          max(col("k")).as("max_k"))
    }),

    // NATIVE SESSION WINDOWS: per-session aggregates via Spark's
    // built-in `session_window` (gap-merged intervals, Tungsten state
    // merging) — the declarative twin of e02's count-oriented
    // sessionize and streaming's custom-state Sessionize. One exchange
    // on user_id; sessions merge when an event lands strictly inside
    // the previous event's gap window ([ts, ts+gap) intervals — an
    // event at exactly ts+gap opens a NEW session, which the oracle's
    // `>= gap` flag mirrors).
    "e10_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), unix_micros(col("w.start")).as("sess_start"),
          col("n_events"))),

    // INTERVAL JOIN: view → purchase attribution — every purchase a
    // user makes within 30 minutes after a view, with the delay. The
    // batch twin of [[graft.streaming.JoinStream]]'s watermarked
    // stream-stream join (JoinStreamSpec pins stream ≡ this). Equi-key
    // on user_id carries the shuffle; the time range is a post-join
    // filter, so the plan is one hash exchange per side, no theta join.
    "e09_interval_join" -> ((s, d) => {
      val HalfHourUs = 1800000000L
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("us").as("v_us"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("pur_id"), col("user_id"),
          col("us").as("p_us"))
      v.join(p, Seq("user_id"))
        .filter(col("p_us") > col("v_us") &&
          col("p_us") <= col("v_us") + HalfHourUs)
        .select(col("view_id"), col("pur_id"), col("user_id"),
          expr("(p_us - v_us) div 1000000").as("delay_s"))
    }),

    // FORWARD-FILL (LOCF): every event annotated with the user's most
    // recent purchase value at that instant — the time-series gap-fill
    // primitive (last-observation-carried-forward) expressed as one
    // ignoreNulls `last` over a running ROWS frame: the sparse column
    // (value only on purchase rows) fills forward per user with O(1)
    // window state, one exchange on user_id, no self-join. The total
    // (us, event_id) order makes the fill deterministic under any
    // partitioning; pass-through doubles stay exact cross-engine.
    "e15_ffill" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_pur_value",
          last(when(col("event_type") === "purchase", col("value")),
            ignoreNulls = true).over(w))
        .select(col("event_id"), col("user_id"), col("us"),
          col("event_type"), col("last_pur_value"))
    }),

    // CDC CHANGELOG COMPACTION: latest-wins MERGE semantics — the
    // upsert/delete log every lakehouse ingestion job applies (Delta/
    // Iceberg MERGE INTO, Kafka compacted-topic materialization).
    // Each event upserts its user's state; 'error' tombstones it. The
    // survivor per key is the max-(us, event_id) row, taken AFTER the
    // tombstone decision so a trailing delete erases the key entirely.
    // One exchange on the key; rn=1 means WindowGroupLimit prunes to a
    // per-partition top-1 before the shuffle — the log itself never
    // re-sorts globally. At 100 TB of changelog this is the canonical
    // compaction shape: shuffle by key, keep one row per key.
    "e17_cdc_merge" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us").desc, col("event_id").desc)
      ev.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("us").as("last_us"), col("value").as("last_value"))
    }),

    // TRANSITION MATRIX: (previous event type → event type) bigram
    // counts per user journey — the first-order Markov readout behind
    // path analysis and next-event prediction features. One lag window
    // (exchange on user_id) feeding a 25-row aggregation whose map-side
    // partials collapse everything before the final tiny shuffle.
    "e16_transitions" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }))

  def oracle: Map[String, String] = Map(
    // e24 — same hash coin, per-user conversion fold, q6 integer rates,
    // and the identical double op sequence for the z-score
    "e24_ab_test" -> {
      val h = Hashing.polyHashSql("user_id::VARCHAR")
      s"""WITH pu AS (
         |  SELECT user_id,
         |    CAST(max(CASE WHEN event_type = 'purchase' AND value >= $ConvertValue
         |             THEN 1 ELSE 0 END) AS BIGINT) AS conv
         |  FROM events GROUP BY user_id),
         |v AS (SELECT ($h) % 2 AS variant, conv FROM pu),
         |agg AS (
         |  SELECT variant, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(conv) AS BIGINT) AS c
         |  FROM v GROUP BY variant),
         |w AS (
         |  SELECT max(CASE WHEN variant = 0 THEN n END) AS n0,
         |         max(CASE WHEN variant = 0 THEN c END) AS c0,
         |         max(CASE WHEN variant = 1 THEN n END) AS n1,
         |         max(CASE WHEN variant = 1 THEN c END) AS c1
         |  FROM agg)
         |SELECT n0, c0,
         |  CASE WHEN n0 > 0 THEN (c0 * 1000000) // n0 END AS cr0_q6,
         |  n1, c1,
         |  CASE WHEN n1 > 0 THEN (c1 * 1000000) // n1 END AS cr1_q6,
         |  CASE WHEN n0 > 0 AND n1 > 0
         |    THEN (c1 * 1000000) // n1 - (c0 * 1000000) // n0 END AS lift_q6,
         |  CASE WHEN n0 > 0 AND n1 > 0 AND (c0 + c1) > 0 AND (c0 + c1) < (n0 + n1) THEN
         |  CAST(round(((c1::DOUBLE / n1::DOUBLE) - (c0::DOUBLE / n0::DOUBLE)) /
         |    sqrt(((c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE) *
         |      (1.0 - (c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE) *
         |      (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE)) * 1000000.0) AS BIGINT)
         |  END AS z_q6
         |FROM w""".stripMargin
    },
    // e27 — e24's per-variant machinery cumulated at the K integer
    // look boundaries; z is e24's double sequence per look; reject
    // compares quantized integers (NULL z ⇒ NULL reject on both sides)
    "e27_sequential_ab" -> {
      val h = Hashing.polyHashSql("user_id::VARCHAR")
      s"""WITH ev AS (
         |  SELECT user_id,
         |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us,
         |    CASE WHEN event_type = 'purchase' AND value >= $ConvertValue
         |      THEN 1 ELSE 0 END AS cv
         |  FROM events),
         |rng AS (SELECT min(us) AS mn, max(us) AS mx FROM ev),
         |pu AS (
         |  SELECT user_id, min(us) AS first_us,
         |    min(CASE WHEN cv = 1 THEN us END) AS conv_us
         |  FROM ev GROUP BY user_id),
         |v AS (SELECT first_us, conv_us, ($h) % 2 AS variant FROM pu),
         |lk AS (SELECT unnest(range(1, ${SeqLooks + 1})) AS look),
         |bnd AS (
         |  SELECT look, rng.mn + ((rng.mx - rng.mn) * look) // $SeqLooks AS bound
         |  FROM lk, rng),
         |pl AS (
         |  SELECT b.look, v.variant, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN conv_us IS NOT NULL AND conv_us <= b.bound
         |             THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM v JOIN bnd b ON v.first_us <= b.bound
         |  GROUP BY 1, 2),
         |w AS (
         |  SELECT look,
         |    max(CASE WHEN variant = 0 THEN n END) AS n0,
         |    max(CASE WHEN variant = 0 THEN c END) AS c0,
         |    max(CASE WHEN variant = 1 THEN n END) AS n1,
         |    max(CASE WHEN variant = 1 THEN c END) AS c1
         |  FROM pl GROUP BY look),
         |zz AS (
         |  SELECT look, n0, c0, n1, c1,
         |    CASE WHEN n0 > 0 AND n1 > 0 AND (c0 + c1) > 0 AND (c0 + c1) < (n0 + n1) THEN
         |    CAST(round(((c1::DOUBLE / n1::DOUBLE) - (c0::DOUBLE / n0::DOUBLE)) /
         |      sqrt(((c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE) *
         |        (1.0 - (c0 + c1)::DOUBLE / (n0 + n1)::DOUBLE) *
         |        (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE)) * 1000000.0) AS BIGINT)
         |    END AS z_q6
         |  FROM w)
         |SELECT look, n0, c0, n1, c1, z_q6,
         |  abs(z_q6) >= $PocockZq6K4 AS reject
         |FROM zz""".stripMargin
    },
    // e25 — same q6 source quantization, midpoint split by integer
    // compare, HUGEINT second moments (≡ Spark decimal(38,0)), and the
    // identical double sequence for θ / lifts / variance ratio
    "e25_cuped" -> {
      val h = Hashing.polyHashSql("user_id::VARCHAR")
      s"""WITH rng AS (
         |  SELECT min(date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP)) AS mn,
         |         max(date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP)) AS mx
         |  FROM events),
         |ev AS (
         |  SELECT user_id,
         |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us,
         |    CAST(round((CASE WHEN event_type = 'purchase'
         |      THEN coalesce(value, 0.0) ELSE 0.0 END) * 1000000.0) AS BIGINT) AS q
         |  FROM events),
         |pu AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN us * 2 < rng.mn + rng.mx THEN q ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN us * 2 < rng.mn + rng.mx THEN 0 ELSE q END) AS BIGINT) AS y
         |  FROM ev, rng GROUP BY user_id),
         |v AS (SELECT ($h) % 2 AS variant, x, y FROM pu),
         |g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    sum(x::HUGEINT * x::HUGEINT) AS sxx,
         |    sum(x::HUGEINT * y::HUGEINT) AS sxy,
         |    sum(y::HUGEINT * y::HUGEINT) AS syy,
         |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
         |    CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
         |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
         |    CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1
         |  FROM v)
         |SELECT n0, n1,
         |  CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0.0 THEN
         |    CAST(round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
         |      (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * 1000000.0) AS BIGINT)
         |  END AS theta_q6,
         |  CASE WHEN n0 > 0 AND n1 > 0 THEN
         |    CAST(round(sy1::DOUBLE / n1::DOUBLE - sy0::DOUBLE / n0::DOUBLE) AS BIGINT)
         |  END AS lift_q6,
         |  CASE WHEN n0 > 0 AND n1 > 0
         |      AND n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0.0 THEN
         |    CAST(round((sy1::DOUBLE / n1::DOUBLE - sy0::DOUBLE / n0::DOUBLE) -
         |      (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
         |      (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
         |      (sx1::DOUBLE / n1::DOUBLE - sx0::DOUBLE / n0::DOUBLE)) AS BIGINT)
         |  END AS cuped_lift_q6,
         |  CASE WHEN n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0.0
         |      AND n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE > 0.0 THEN
         |    CAST(round((1.0 - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) *
         |      (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)) /
         |      ((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
         |       (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))) * 1000000.0) AS BIGINT)
         |  END AS vr_q6
         |FROM g""".stripMargin
    },
    // e26 — e25's per-user fold verbatim, then the change-score DiD:
    // integer d-sums first, the identical double mean/variance/z op
    // sequence, q6 once; HUGEINT squares ≡ Spark decimal(38,0)
    "e26_did" -> {
      val h = Hashing.polyHashSql("user_id::VARCHAR")
      val did = "((sy1 - sx1)::DOUBLE / n1::DOUBLE - " +
        "(sy0 - sx0)::DOUBLE / n0::DOUBLE)"
      val se2 = "((n0::DOUBLE * sdd0::DOUBLE - " +
        "(sy0 - sx0)::DOUBLE * (sy0 - sx0)::DOUBLE) / " +
        "(n0::DOUBLE * (n0::DOUBLE - 1.0)) / n0::DOUBLE + " +
        "(n1::DOUBLE * sdd1::DOUBLE - " +
        "(sy1 - sx1)::DOUBLE * (sy1 - sx1)::DOUBLE) / " +
        "(n1::DOUBLE * (n1::DOUBLE - 1.0)) / n1::DOUBLE)"
      s"""WITH rng AS (
         |  SELECT min(date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP)) AS mn,
         |         max(date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP)) AS mx
         |  FROM events),
         |ev AS (
         |  SELECT user_id,
         |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us,
         |    CAST(round((CASE WHEN event_type = 'purchase'
         |      THEN coalesce(value, 0.0) ELSE 0.0 END) * 1000000.0) AS BIGINT) AS q
         |  FROM events),
         |pu AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN us * 2 < rng.mn + rng.mx THEN q ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN us * 2 < rng.mn + rng.mx THEN 0 ELSE q END) AS BIGINT) AS y
         |  FROM ev, rng GROUP BY user_id),
         |v AS (SELECT ($h) % 2 AS variant, x, y, y - x AS d FROM pu),
         |g AS (
         |  SELECT
         |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
         |    CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
         |    sum(CASE WHEN variant = 0 THEN d::HUGEINT * d::HUGEINT ELSE 0 END) AS sdd0,
         |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
         |    CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
         |    sum(CASE WHEN variant = 1 THEN d::HUGEINT * d::HUGEINT ELSE 0 END) AS sdd1
         |  FROM v)
         |SELECT n0, n1,
         |  CASE WHEN n0 > 0 THEN
         |    CAST(round(sx0::DOUBLE / n0::DOUBLE) AS BIGINT) END AS pre0_q6,
         |  CASE WHEN n0 > 0 THEN
         |    CAST(round(sy0::DOUBLE / n0::DOUBLE) AS BIGINT) END AS post0_q6,
         |  CASE WHEN n1 > 0 THEN
         |    CAST(round(sx1::DOUBLE / n1::DOUBLE) AS BIGINT) END AS pre1_q6,
         |  CASE WHEN n1 > 0 THEN
         |    CAST(round(sy1::DOUBLE / n1::DOUBLE) AS BIGINT) END AS post1_q6,
         |  CASE WHEN n0 > 0 AND n1 > 0 THEN
         |    CAST(round($did) AS BIGINT) END AS did_q6,
         |  CASE WHEN n0 > 1 AND n1 > 1 AND $se2 > 0.0 THEN
         |    CAST(round($did / sqrt($se2) * 1000000.0) AS BIGINT) END AS z_q6
         |FROM g""".stripMargin
    },
    // e22 — identical total-order lag and integer row normalization
    "e22_markov_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events),
        |p AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
        |  FROM e),
        |c AS (
        |  SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, next, n,
        |  (n * 1000000) // CAST(sum(n) OVER (PARTITION BY prev) AS BIGINT) AS p_q6
        |FROM c""".stripMargin,
    // e20 — identical fixed-point shift decay; epoch_us//10^6 mirrors
    // Spark's timestamp→long floor on non-negative epochs
    "e20_decayed_value" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts::TIMESTAMP) // 1000000 AS sec,
         |    CAST(round(value * 100) AS BIGINT) AS vq2
         |  FROM events),
         |m AS (SELECT max(sec) AS tmax FROM e),
         |q AS (
         |  SELECT user_id, vq2,
         |    (abs(vq2) * $DecayScale)
         |      // (1::BIGINT << CAST(least((tmax - sec) // 86400, 62) AS INTEGER)) AS aq
         |  FROM e, m)
         |SELECT user_id,
         |  CAST(sum(CASE WHEN vq2 < 0 THEN -aq ELSE aq END) AS BIGINT)
         |    AS decayed_q2p20,
         |  CAST(count(*) AS BIGINT) AS n_events
         |FROM q GROUP BY user_id""".stripMargin,
    "e01_tumbling_hourly" -> E01Sql,
    // e18 — incremental refresh must equal the full recompute, so the
    // oracle IS e01's text: any drift in the state/merge path (float
    // partials, lost groups, double-counted overlap) breaks the hash
    "e18_incremental_refresh" -> E01Sql,
    "e11_trending_topk" ->
      """WITH agg AS (
        |  SELECT epoch(time_bucket(INTERVAL 1 DAY, ts::TIMESTAMP))::BIGINT AS day_epoch,
        |    user_id,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |  FROM events GROUP BY 1, 2)
        |SELECT day_epoch, user_id, total_value, rk FROM (
        |  SELECT day_epoch, user_id, total_value,
        |    row_number() OVER (PARTITION BY day_epoch
        |                       ORDER BY total_value DESC, user_id) AS rk
        |  FROM agg) ranked
        |WHERE rk <= 3""".stripMargin,
    // e23 — e02's gap flags promoted to a running session number, then
    // one aggregate per (user, session); integer microseconds only
    "e23_session_stats" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(ts::TIMESTAMP) AS us
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_id, event_type, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |s AS (
        |  SELECT user_id, event_type, us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_no
        |  FROM g)
        |SELECT user_id, sess_no, count(*) AS n_events,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  max(us) - min(us) AS duration_us,
        |  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted,
        |  min(CASE WHEN event_type = 'purchase' THEN us END) - min(us) AS convert_us
        |FROM s GROUP BY user_id, sess_no""".stripMargin,
    "e02_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events),
        |g AS (
        |  SELECT user_id,
        |    CASE WHEN date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e)
        |SELECT user_id, CAST(sum(new_sess) + 1 AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM g GROUP BY user_id""".stripMargin,
    "e06_sliding_window" ->
      """SELECT window_epoch, event_type, count(*) AS n_events FROM (
        |  SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP))::BIGINT AS window_epoch,
        |         event_type FROM events
        |  UNION ALL
        |  SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP))::BIGINT - 3600,
        |         event_type FROM events
        |) expanded GROUP BY window_epoch, event_type""".stripMargin,
    "e04_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events),
        |err AS (SELECT event_id AS err_id, user_id, us AS err_us FROM ev WHERE event_type = 'error'),
        |pur AS (SELECT event_id AS pur_id, user_id, us AS pur_us, value AS pur_value FROM ev WHERE event_type = 'purchase'),
        |joined AS (
        |  SELECT err_id, err.user_id AS user_id, pur_id, pur_value,
        |    row_number() OVER (PARTITION BY err_id ORDER BY pur_us DESC, pur_id DESC) AS rn
        |  FROM err JOIN pur ON err.user_id = pur.user_id
        |    AND pur_us <= err_us AND pur_us > err_us - 3600000000)
        |SELECT err_id, user_id, pur_id, pur_value FROM joined WHERE rn = 1""".stripMargin,
    "e14_hourly_anomaly" ->
      """WITH hourly AS (
        |  SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP))::BIGINT AS hour_epoch,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT hour_epoch, event_type, n,
        |  CAST(round((n::DOUBLE - mu) / sd * 1000.0) AS BIGINT) AS z_q3
        |FROM (
        |  SELECT hour_epoch, event_type, n,
        |    avg(n) OVER w AS mu, stddev_samp(n) OVER w AS sd
        |  FROM hourly
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_epoch
        |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) t
        |WHERE sd IS NOT NULL AND sd > 0""".stripMargin,
    "e13_hll_users_hourly" ->
      Sketches.hllByGroupSql("events",
        "epoch(date_trunc('hour', ts::TIMESTAMP))::BIGINT", "hour_epoch",
        "CAST(user_id AS VARCHAR)", Sketches.P2),
    // e21 — e04's CTEs with the symmetric INCLUSIVE band (a purchase
    // exactly ±1 h away qualifies, mirroring asOfNearest's <= filter)
    // and the (|Δ|, pur_us, pur_id) ranking; integer microsecond
    // distances
    "e21_asof_nearest" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events),
        |err AS (SELECT event_id AS err_id, user_id, us AS err_us FROM ev WHERE event_type = 'error'),
        |pur AS (SELECT event_id AS pur_id, user_id, us AS pur_us, value AS pur_value FROM ev WHERE event_type = 'purchase'),
        |joined AS (
        |  SELECT err_id, err.user_id AS user_id, pur_id, pur_value,
        |    row_number() OVER (PARTITION BY err_id
        |      ORDER BY abs(pur_us - err_us) ASC, pur_us ASC, pur_id ASC) AS rn
        |  FROM err JOIN pur ON err.user_id = pur.user_id
        |    AND pur_us >= err_us - 3600000000 AND pur_us <= err_us + 3600000000)
        |SELECT err_id, user_id, pur_id, pur_value FROM joined WHERE rn = 1""".stripMargin,
    "e12_asof_forward" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events),
        |err AS (SELECT event_id AS err_id, user_id, us AS err_us FROM ev WHERE event_type = 'error'),
        |pur AS (SELECT event_id AS pur_id, user_id, us AS pur_us, value AS pur_value FROM ev WHERE event_type = 'purchase'),
        |joined AS (
        |  SELECT err_id, err.user_id AS user_id, pur_id, pur_value,
        |    row_number() OVER (PARTITION BY err_id ORDER BY pur_us ASC, pur_id ASC) AS rn
        |  FROM err JOIN pur ON err.user_id = pur.user_id
        |    AND pur_us >= err_us AND pur_us < err_us + 3600000000)
        |SELECT err_id, user_id, pur_id, pur_value FROM joined WHERE rn = 1""".stripMargin,
    "e05_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS "click",
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view",
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS "signup",
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS "purchase",
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS "error"
        |FROM events GROUP BY user_id""".stripMargin,
    "e07_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_type,
        |    min(CASE WHEN event_type = 'purchase' THEN us END)
        |      OVER (PARTITION BY user_id ORDER BY us
        |            RANGE BETWEEN 1 FOLLOWING AND 3600000000 FOLLOWING) AS npu
        |  FROM e)
        |SELECT user_id, count(*) AS n_clicks, count(npu) AS n_converted
        |FROM w WHERE event_type = 'click' GROUP BY user_id""".stripMargin,
    "e08_cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events),
        |cohorts AS (
        |  SELECT user_id, min(us) // 604800000000 AS cohort_week
        |  FROM e WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT cohort_week, (e.us // 604800000000) - cohort_week AS week_n,
        |  count(DISTINCT e.user_id) AS n_active
        |FROM e JOIN cohorts USING (user_id)
        |WHERE (e.us // 604800000000) - cohort_week >= 0
        |GROUP BY 1, 2""".stripMargin,
    "e03_json_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "e10_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events),
        |g AS (
        |  SELECT user_id, us, event_id,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |s AS (
        |  SELECT user_id, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, min(us) AS sess_start, count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "e09_interval_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events),
        |v AS (SELECT event_id AS view_id, user_id, us AS v_us FROM ev WHERE event_type = 'view'),
        |p AS (SELECT event_id AS pur_id, user_id, us AS p_us FROM ev WHERE event_type = 'purchase')
        |SELECT view_id, pur_id, v.user_id AS user_id,
        |  (p_us - v_us) // 1000000 AS delay_s
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND p_us > v_us AND p_us <= v_us + 1800000000""".stripMargin,
    // e19 — same grid densify + two-direction LOCF flanks; `//` on a
    // non-negative numerator ≡ Spark's truncating div
    "e19_resample_interp" ->
      """WITH hourly AS (
        |  SELECT epoch(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP))::BIGINT AS hour_epoch,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(hour_epoch) AS lo, max(hour_epoch) AS hi
        |      FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type, unnest(range(lo, hi + 1, 3600)) AS hour_epoch FROM b),
        |j AS (SELECT g.event_type, g.hour_epoch, h.n
        |      FROM grid g LEFT JOIN hourly h
        |        ON h.event_type = g.event_type AND h.hour_epoch = g.hour_epoch),
        |w AS (SELECT event_type, hour_epoch, n,
        |    last_value(n IGNORE NULLS) OVER pw AS pn,
        |    last_value(CASE WHEN n IS NOT NULL THEN hour_epoch END IGNORE NULLS) OVER pw AS ph,
        |    first_value(n IGNORE NULLS) OVER nw AS nn,
        |    first_value(CASE WHEN n IS NOT NULL THEN hour_epoch END IGNORE NULLS) OVER nw AS nh
        |  FROM j
        |  WINDOW pw AS (PARTITION BY event_type ORDER BY hour_epoch
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         nw AS (PARTITION BY event_type ORDER BY hour_epoch
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, hour_epoch, n,
        |  CASE WHEN n IS NOT NULL THEN n * 1000
        |       ELSE ((pn * (nh - hour_epoch) + nn * (hour_epoch - ph)) * 1000) // (nh - ph)
        |  END AS interp_q3
        |FROM w""".stripMargin,
    "e15_ffill" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events)
        |SELECT event_id, user_id, us, event_type,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_pur_value
        |FROM ev""".stripMargin,
    "e16_transitions" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events),
        |lagged AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        |  FROM ev)
        |SELECT prev_type, event_type, count(*) AS n
        |FROM lagged WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    // e17 — latest row per key by (us, event_id), tombstones filtered
    // AFTER the rank so a trailing delete erases the key
    "e17_cdc_merge" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, value,
        |    date_diff('microsecond', TIMESTAMP '1970-01-01', ts::TIMESTAMP) AS us
        |  FROM events),
        |ranked AS (
        |  SELECT user_id, event_id, event_type, value, us,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY us DESC, event_id DESC) AS rn
        |  FROM ev)
        |SELECT user_id, event_id AS last_event_id, us AS last_us,
        |  value AS last_value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin)
}
