package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Tables}

/** Measures the hyperplane-LSH families at a DEPLOYMENT-SCALED plane
  * count — the configuration the catalog entries' scaladoc prescribes
  * for large corpora but that the fixture-pinned entries (planes = 4,
  * sized so the sf0.01 DuckDB oracles stay cheap) cannot show.
  *
  * Why this probe exists: with the plane count FIXED, per-bucket pair
  * volume is quadratic in corpus size — the r19 sf10 probe measured
  * the within-corpus self-join (d31) crossing from slow to
  * disk-exhausting and the bench×corpus decon family (d25/d26/d28/
  * d32) grinding through ~1e9-candidate distincts. The documented
  * deployment answer is planes ≈ log₂(corpus / target_bucket_size),
  * which holds expected bucket size — and therefore per-bucket pair
  * volume — constant as the corpus grows, with `maxBucketDocs` as the
  * skew backstop for the buckets the plane growth cannot balance.
  * This main MEASURES that configuration instead of asserting it:
  * same operators, same data, scaled planes, cap on and off.
  *
  * Prints one JSON line:
  * `{"metric":"hplsh_probe","sf":…,"planes":P,"cap":C,
  *   "bucket_stats":{…},"results":{name:{"sec":…,"rows":…}}}`
  *
  * Usage: ProbeHplsh SF_DIR [PLANES=12] [CAP=100]
  */
object ProbeHplsh {

  private def timeCount(df: => DataFrame): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = df.count()
    ((System.nanoTime() - t0) / 1e9, n)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProbeHplsh SF_DIR [PLANES] [CAP]")
    val sfDir = args(0)
    val planes = if (args.length > 1) args(1).toInt else 12
    val cap = if (args.length > 2) args(2).toInt else 100
    val spark = graft.Conf.localSession(graft.Conf.Env.cpus())
    try {
      val vecs = Tables.embeddings(spark, sfDir)
      val corpus = vecs.filter(col("vec_id") % 10 =!= 0)
      val probe = vecs.filter(col("vec_id") % 10 === 0)

      // Set-0 bucket-occupancy profile at the scaled plane count: the
      // skew the cap exists to backstop, measured rather than assumed.
      val occ = Dedup
        .multiProbeBuckets(vecs, "vec_id", "embedding", "vec_id",
          planes, sets = 1, dims = 64)
        .groupBy(col("bk0")).agg(count(lit(1)).as("n"))
        .agg(
          count(lit(1)).as("buckets"),
          max(col("n")).as("max"),
          expr("percentile_approx(n, 0.99)").as("p99"),
          avg(col("n")).as("mean"))
        .collect()(0)

      val results = scala.collection.mutable.LinkedHashMap[String, (Double, Long)]()
      results("neardup_scaled_uncapped") = timeCount(
        Dedup.cosineNearDupLshMulti(vecs, "vec_id", "embedding",
          threshold = 0.45, planes = planes))
      results("neardup_scaled_capped") = timeCount(
        Dedup.cosineNearDupLshMulti(vecs, "vec_id", "embedding",
          threshold = 0.45, planes = planes, maxBucketDocs = cap))
      results("decon_scaled") = timeCount(
        Dedup.semanticDecontaminateLshMulti(corpus, probe,
          "vec_id", "embedding", threshold = 0.45, planes = planes))
      results("decon_scaled_capped") = timeCount(
        Dedup.semanticDecontaminateLshMulti(corpus, probe,
          "vec_id", "embedding", threshold = 0.45, planes = planes,
          maxBucketDocs = cap))

      val rs = results.map { case (k, (s, n)) =>
        s""""$k":{"sec":$s,"rows":$n}"""
      }.mkString(",")
      println(
        s"""{"metric":"hplsh_probe","sf":"$sfDir","planes":$planes,""" +
        s""""cap":$cap,"bucket_stats":{"buckets":${occ.getLong(0)},""" +
        s""""max":${occ.getLong(1)},"p99":${occ.get(2)},""" +
        s""""mean":${occ.getDouble(3)}},"results":{$rs}}""")
    } finally spark.stop()
  }
}
