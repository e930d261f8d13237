package graft
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

import scala.jdk.CollectionConverters._

object Bench {
  /** Force full evaluation of every output column. `count()` is NOT
    * enough: Catalyst prunes columns nothing references, so under a
    * bare count projection-only queries degenerate to row-counting
    * scans and their timings are fiction. Hashing a struct of all
    * columns into one aggregate makes every expression execute while
    * keeping driver traffic to a single row.
    *
    * The combining aggregate is `bit_xor`, NOT `sum`: xxhash64 yields
    * full-range 64-bit longs, and under ANSI mode (Spark 4 default) a
    * long sum over them overflows almost surely, aborting the job
    * mid-scan — which times the query only up to its first overflow.
    * XOR is closed on Long, so every row is evaluated and the job
    * always completes.
    *
    * The rare output type xxhash64 can't take (e.g. maps) fails
    * ANALYSIS, before execution — fall back to count() for those and
    * accept the pruning (never collect the full result: pulling every
    * row to the driver would time serialization, not the query). */
  /** One-line failure summary shared by the catalog and phased loops:
    * exception class + first message line, bounded so a single broken
    * query can't bloat the one-JSON-line contract. */
  private def errSummary(e: Throwable): String =
    e.getClass.getSimpleName + ": " +
      Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)

  private def materialize(df: DataFrame): Unit = {
    val forced =
      try Some(df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)")))
      catch { case _: AnalysisException => None }
    forced match {
      case Some(f) => f.collect()
      case None    => df.count()
    }
    ()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private val mapper = new ObjectMapper()

  private def putOpt(o: ObjectNode, k: String, v: Option[Double]): ObjectNode =
    v.fold(o.putNull(k))(o.put(k, _))

  /** The numeric fields of a JSON object; nulls and strings are skipped. */
  private def numbers(o: JsonNode): Map[String, Double] =
    o.properties().asScala.collect {
      case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble
    }.toMap

  def main(args: Array[String]): Unit = {
    val sfDir = Conf.Env.sfDir
    // default 32 = the driver's local[32] environment; medians over
    // SPARK_GRAFT_REPS runs so one GC pause can't misrank a query
    val cpus = Conf.Env.cpus()
    val reps = Conf.Env.reps
    // optional SPARK_GRAFT_QUERIES subset (scale probe / iteration);
    // default = the full catalog, which is what the driver measures
    val catalog: Map[String, (SparkSession, String) => DataFrame] =
      Conf.Env.queryFilter match {
        case Some(keep) =>
          // fail FAST on unknown names: a silent filterKeys drop would
          // let a typo'd subset report success over a partial (or
          // empty) run — a benchmark that measures nothing but looks
          // healthy
          val unknown = keep.diff(SparkEntry.queries.keySet)
          require(unknown.isEmpty,
            s"SPARK_GRAFT_QUERIES names not in the catalog: " +
              unknown.toSeq.sorted.mkString(", "))
          SparkEntry.queries.view.filterKeys(keep).toMap
        case None => SparkEntry.queries
      }
    // Pinned execution order: the timed loop runs the catalog SORTED BY
    // NAME. Iterating the Map directly made each query's predecessors a
    // function of hash-bucket layout, so ADDING entries re-shuffled the
    // whole schedule and unchanged queries moved ±2-3× between rounds
    // (r13: e22 2.7×, p05 +43% in-loop while same-round isolated probes
    // stayed flat — GC pressure, broadcast cleanup and codegen-cache
    // state all leak from whoever ran before). Sorted order makes
    // neighbor effects stable round-over-round, so a mover in
    // BENCH_r{N} vs BENCH_r{N-1} is attributable to the query itself.
    val ordered: Seq[(String, (SparkSession, String) => DataFrame)] =
      catalog.toSeq.sortBy(_._1)
    val spark = Conf.localSession(cpus)
    // The documented collapsed-frame global windows (months, distinct
    // prices, histogram registers, #strata — the authoritative
    // allowlist is the "global-window inventory" plan contract in
    // PlanAssertionsSpec)
    // would otherwise flood the bench tail with hundreds of benign
    // "No Partition Defined" warnings, masking a real one. The spec
    // pins the exact allowlist at plan level, so a NEW unpartitioned
    // window fails CI instead of relying on this log line; the bench
    // silences only this logger, only in this main.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Untimed warmup: JIT + codegen + parquet-footer caches, so fixed
    // startup cost isn't attributed to whichever query happens to run
    // first (cold-vs-warm skew measured at 3-7s on the heavy queries).
    // Generated-code classes depend on plan shape, not data, so running
    // representative queries at the SMALLEST scale factor compiles the
    // same classes at negligible cost.
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val warm = new java.io.File("/root/testdata/sf0.001")
      val warmDir = if (warm.isDirectory) warm.getPath else sfDir
      ordered.foreach { case (_, fn) =>
        try materialize(fn(spark, warmDir))
        catch { case _: Throwable => () }
      }
    } catch { case _: Throwable => () }
    // Deterministic shared-memo warm-up at the BENCH scale factor: the
    // k/c/er families share one-time trained artifacts (k-means
    // assignment, PQ codes+codebooks, brute-force kNN baseline, IVFPQ
    // cell centroids, pair/component/LPA tables, the canonical map)
    // through session memos keyed by (session, dataDir). The sf0.001
    // warm pass above compiles codegen but builds memos only for the
    // WARM dir — at the bench dir, whichever catalog entry ran first
    // used to pay the training cost, so per-query numbers shifted
    // with execution order (r12: p06 2.6×, k08 3.3× "regressions"
    // with flat phase re-measures). Building every shared memo here,
    // untimed, makes each timed number the query's own serve cost on
    // every rep. Failures fall through to the timed loop, where they
    // are REPORTED per query rather than swallowed.
    locally {
      def warm(df: => org.apache.spark.sql.DataFrame): Unit =
        try { df.count(); () } catch { case _: Throwable => () }
      warm(ops.Clusters.sharedPairs(spark, sfDir))
      warm(ops.Clusters.sharedComponents(spark, sfDir))
      warm(ops.Clusters.sharedCommunities(spark, sfDir))
      warm(ops.Clusters.sharedMinhashPairs(spark, sfDir))
      warm(ops.Clusters.sharedMinhashComponents(spark, sfDir))
      // the CJK family's shared artifacts (r16): the persisted token
      // arrays feed r08-r11 and the d20/p11 pair build — warming them
      // here makes each timed CJK number the entry's own serve cost
      warm(ops.Clusters.sharedCjkTokens(spark, sfDir))
      warm(ops.Clusters.sharedCjkTerms(spark, sfDir))
      warm(ops.Clusters.sharedCjkPairs(spark, sfDir))
      warm(ops.Clusters.sharedCjkComponents(spark, sfDir))
      warm(ops.Similarity.sharedNormalized(spark, sfDir))
      warm(ops.Similarity.sharedKmeansAssign(spark, sfDir))
      warm(ops.Similarity.sharedPqIndex(spark, sfDir)._1)
      warm(ops.Similarity.sharedKnnBrute(spark, sfDir))
      warm(ops.Similarity.sharedCellCentroids(spark, sfDir))
      warm(ops.Entity.sharedCanonicalMap(spark, sfDir))
      // K driver tuples, not a DataFrame — warm the t21 training the
      // t23 encode inlines, for the same attribution reason
      try { ops.TextOps.sharedBpeMerges(spark, sfDir); () }
      catch { case _: Throwable => () }
    }
    // drop warmup leftovers (pipeline caches, broadcasts) so the
    // measured phase doesn't run under their GC pressure
    spark.catalog.clearCache()
    System.gc()
    // BOX-SPEED CANARY: one fixed query (a full lineitem scan-agg —
    // catalog-independent, memo-free, scan+shuffle+agg shaped) timed
    // as a 3-rep median immediately BEFORE and AFTER the measured
    // phase. Round-over-round bench comparisons on a shared box kept
    // needing a separate remeasure artifact to tell real plan
    // regressions from machine-load drift (r15/r16); the canary bakes
    // the adjudication INTO the artifact: canary drift vs last round's
    // canary rescales the round's numbers, and a start/end gap flags a
    // load spike DURING this run.
    // The canary runs OUTSIDE the per-query error isolation, so it is
    // error-guarded itself: a data dir without lineitem (a graft-only
    // layout) must degrade to an ABSENT canary (JSON null), not abort
    // the whole bench before the measured phase produced any artifact.
    // Null, not a -1.0 sentinel (ADVICE r18): a sentinel makes start
    // and end read as a zero drift gap and poisons any cross-round
    // rescale that divides by it — every consumer would need to
    // special-case it, whereas null simply drops out of numeric
    // extraction.
    def canaryOnce(): Option[Double] =
      try {
        val t0 = System.nanoTime()
        materialize(spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(expr("sum(l_quantity) as sum_qty"),
            expr("sum(l_extendedprice * (1 - l_discount)) as sum_disc"),
            expr("avg(l_tax) as avg_tax"), expr("count(*) as n")))
        Some((System.nanoTime() - t0) / 1e9)
      // NonFatal only: the absent value is for a missing/unreadable
      // canary table, not for OOM or interruption — a fatal error
      // must abort the bench, not let the measured phase run on a
      // JVM that just blew up
      } catch { case scala.util.control.NonFatal(_) => None }
    canaryOnce() // untimed: compile the canary's codegen once
    def canaryMedian(): Option[Double] = {
      val xs = (1 to 3).flatMap(_ => canaryOnce())
      if (xs.size == 3) Some(median(xs)) else None
    }
    val canaryStart = canaryMedian()
    // Measured phase: a failure is REPORTED per query, never swallowed —
    // a timing whose query aborted mid-run is fiction, and the err field
    // is what distinguishes it from an honest number.
    //
    // One extra DISCARDED pass runs first at the bench scale factor
    // (rep 0 below, dropped before the median): the sf0.001 warmup
    // compiles codegen and the memo block trains shared artifacts, but
    // first-touch costs keyed to the bench dir itself (OS page cache,
    // parquet footer caches, per-entry scratch-store publishes) land
    // on whichever rep reads the data first — and with reps=3 a single
    // first-rep transient already moves the median. r17's one
    // unexplained in-loop outlier (d18 at 6.6 s vs 1.1 s in both
    // same-code probes) was exactly this class; discarding a warm rep
    // makes every kept rep a steady-state measurement, so the headline
    // artifact no longer needs side probes to adjudicate localized
    // spikes.
    val allSamples: Seq[Map[String, (Double, Option[String])]] =
      (0 to math.max(1, reps)).map { _ =>
        ordered.map { case (name, fn) =>
          val t0 = System.nanoTime()
          val err =
            try { materialize(fn(spark, sfDir)); None }
            catch { case e: Throwable => Some(errSummary(e)) }
          name -> ((System.nanoTime() - t0) / 1e9, err)
        }.toMap
      }
    // the warm rep's TIMINGS are discarded, but its ERRORS are kept
    // (ADVICE r18): a query that fails only on first touch — exactly
    // the first-touch transients the discard targets — would otherwise
    // leave no trace in the artifact while its side effects (torn or
    // partial scratch stores) can shape the kept reps
    val warmErrors: Seq[(String, String)] = allSamples.head.toSeq
      .collect { case (k, (_, Some(e))) => (k, e) }.sortBy(_._1)
    val samples = allSamples.drop(1)
    // Build/serve sub-metrics for the persistence entries: the
    // one-shot catalog timing above includes index-write I/O, so a
    // serve-path regression could hide under build cost. Timed once
    // each (the catalog runs above already warmed both paths); build
    // runs first so serve reads the freshly published artifacts.
    val phased: Seq[(String, Either[String, (Double, Double)])] =
      SparkEntry.phases.toSeq.sortBy(_._1)
        .filter { case (name, _) => catalog.contains(name) }
        .map { case (name, (build, serve)) =>
          // a broken persistence path must read as a FAILURE in the
          // phases object, not as a silently absent sub-metric —
          // mirror the main catalog loop's per-query error reporting
          try {
            val b0 = System.nanoTime()
            build(spark, sfDir)
            val b = (System.nanoTime() - b0) / 1e9
            val s0 = System.nanoTime()
            materialize(serve(spark, sfDir))
            val sv = (System.nanoTime() - s0) / 1e9
            name -> Right((b, sv))
          } catch { case e: Throwable => name -> Left(errSummary(e)) }
        }
    val canaryEnd = canaryMedian()
    val names = catalog.keys.toSeq.sorted
    val results = names.map { name =>
      name -> median(samples.map(_.get(name).map(_._1).getOrElse(-1.0)))
    }
    val errors = names.map { name =>
      name -> samples.flatMap(_.get(name).flatMap(_._2)).headOption
    }
    val total = results.map(_._2).sum
    val nErr = errors.count(_._2.isDefined)
    // Full per-query detail goes to a FILE; stdout gets a line sized to
    // survive the harness, which keeps only the last ~2000 characters of
    // output. A 127-query map is >3000 chars, so printing everything
    // means the one line the driver parses scrolls off and parsing fails
    // (it did, every round up to r6). The stdout line keeps the slowest
    // queries (the ones that matter for perf ranking) under a hard
    // budget and points at the file holding the rest.
    // a FILTERED run must not clobber the tracked full-catalog
    // snapshot — a "bench_full.json" holding 3 probe queries is
    // exactly the healthy-looking-partial-run failure the name-check
    // above guards against, one level up
    val fullPath =
      if (Conf.Env.queryFilter.isEmpty) "bench_full.json"
      else "bench_subset.json"
    // SELF-ADJUDICATION vs the previous round's full artifact (VERDICT
    // r18 item 5): the ratio-distribution-vs-canary-drift analysis
    // that adjudicated every round's movers in BENCH_SCALE prose
    // becomes one JSON object — total rescaled by canary drift, plus
    // the per-entry ratio distribution over the shared queries. The
    // previous file comes from SPARK_GRAFT_PREV_BENCH (default
    // bench_prev.json, the committed copy of last round's
    // bench_full.json); a filtered/subset run still adjudicates over
    // whatever queries it shares.
    val prevPath = sys.env.get("SPARK_GRAFT_PREV_BENCH")
      .filter(_.nonEmpty).getOrElse("bench_prev.json")
    val adj: Option[ObjectNode] = try {
      val f = new java.io.File(prevPath)
      if (!f.isFile) None
      else {
        val prev = mapper.readTree(f)
        // ratios against a different scale factor are fiction — only
        // adjudicate a same-sf pair (the driver's round-over-round
        // comparison is sf0.1 vs sf0.1)
        if (prev.path("sf").asText() != sfDir) None
        else {
        val prevQs = numbers(prev.path("queries"))
        def meanPos(xs: Iterable[Double]): Option[Double] = {
          val p = xs.filter(_ > 0)
          if (p.isEmpty) None else Some(p.sum / p.size)
        }
        // -1.0 sentinels in pre-r19 files and nulls both drop out here
        val prevC = meanPos(numbers(prev.path("canary")).values)
        val thisC = meanPos(Seq(canaryStart, canaryEnd).flatten)
        val scaled = for (p <- prevC; t <- thisC)
          yield total * (p / t)
        val ratios = results.flatMap { case (k, v) =>
          prevQs.get(k).filter(_ > 0).filter(_ => v > 0).map(p => (k, v / p))
        }.sortBy(_._2)
        def pct(q: Double): Option[Double] =
          if (ratios.isEmpty) None
          else Some(ratios(((ratios.size - 1) * q).round.toInt)._2)
        val histEdges = Seq(0.75, 0.9, 1.1, 1.25, 1.5, 2.0)
        val histLabels = ("lt0.75" +: histEdges.zip(histEdges.drop(1))
          .map { case (a, b) => s"$a-$b" }) :+ "ge2.0"
        val maxEntry = ratios.lastOption
        val o = mapper.createObjectNode()
        o.put("prev", prevPath).put("n_shared", ratios.size)
        putOpt(o, "prev_canary", prevC)
        putOpt(o, "this_canary", thisC)
        putOpt(o, "canary_scaled_total", scaled)
        putOpt(o, "ratio_median", pct(0.5))
        putOpt(o, "ratio_p10", pct(0.1))
        putOpt(o, "ratio_p90", pct(0.9))
        putOpt(o, "ratio_max", maxEntry.map(_._2))
        maxEntry.fold(o.putNull("ratio_max_query"))(e => o.put("ratio_max_query", e._1))
        val hist = o.putObject("ratio_hist")
        histLabels.zipWithIndex.foreach { case (lbl, i) =>
          hist.put(lbl, ratios.count { case (_, r) =>
            (i == 0 && r < histEdges.head) ||
              (i == histLabels.size - 1 && r >= histEdges.last) ||
              (i > 0 && i < histLabels.size - 1 &&
                r >= histEdges(i - 1) && r < histEdges(i))
          })
        }
        Some(o)
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    val full = mapper.createObjectNode()
    full.put("metric", "total").put("value", total).put("unit", "sec")
    val fullQs = full.putObject("queries")
    results.foreach { case (k, v) => fullQs.put(k, v) }
    val errJson = full.putObject("errors")
    errors.foreach { case (k, e) => e.foreach(errJson.put(k, _)) }
    full.put("n_err", nErr)
    val warmErrJson = full.putObject("warm_errors")
    warmErrors.foreach { case (k, e) => warmErrJson.put(k, e) }
    val phasesJson = full.putObject("phases")
    phased.foreach {
      case (k, Right((b, sv))) => phasesJson.putObject(k).put("build", b).put("serve", sv)
      case (k, Left(err)) => phasesJson.putObject(k).put("error", err)
    }
    putOpt(putOpt(full.putObject("canary"), "start", canaryStart), "end", canaryEnd)
    adj.fold(full.putNull("adjudication"))(full.set[ObjectNode]("adjudication", _))
    full.put("sf", sfDir).put("reps", math.max(1, reps)).put("cpus", cpus)
    try {
      val w = new java.io.PrintWriter(fullPath, "UTF-8")
      try w.println(mapper.writeValueAsString(full)) finally w.close()
    } catch { case _: Throwable => () }
    def round3(v: Double): Double =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    val line = mapper.createObjectNode()
    line.put("metric", "total").put("value", round3(total)).put("unit", "sec")
    val kept = line.putObject("queries")
    var omitted = 0
    results.sortBy(-_._2).foreach { case (k, v) =>
      kept.put(k, round3(v))
      // budget: 1500 chars inside the queries map; total line stays < ~1800
      if (mapper.writeValueAsString(kept).length > 1502) { kept.remove(k); omitted += 1 }
    }
    line.put("queries_omitted", omitted).put("full", fullPath).put("n_err", nErr)
    putOpt(putOpt(line.putObject("canary"), "start", canaryStart.map(round3)),
      "end", canaryEnd.map(round3))
    line.put("sf", sfDir).put("reps", math.max(1, reps)).put("cpus", cpus)
    println(mapper.writeValueAsString(line))
    spark.stop()
  }
}
