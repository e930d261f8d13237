package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}

/** Scale probe for the vector near-dup family (d07/d31/d37) — the
  * runner behind BENCH_SCALE r19's measured sf10 row. Times ONE
  * configuration of [[graft.ops.Dedup.cosineNearDupLshMulti]] on an
  * sfDir's embeddings table and prints a one-line JSON with the pair
  * count and per-set bucket statistics (buckets over the cap, rows
  * inside them), so the artifact records not just "how long" but HOW
  * MUCH the cap dropped — the recall-side of the trade the knob makes.
  *
  * Exists because the catalog entries pin fixture-scaled knobs (d31:
  * planes=4 so the sf0.01 oracle has non-trivial bucket density; d37:
  * cap=100 so the oracle's drop path binds at sf0.01), while the
  * deployment configuration scales `planes` with log₂(corpus) to keep
  * buckets balanced and uses the cap only as the skew backstop — a
  * configuration that is VACUOUS at oracle scale (500 vectors across
  * 4096 buckets band almost nothing) and therefore has no honest
  * catalog entry. The probe measures it where it is meaningful.
  *
  * Usage: VecProbe SF_DIR PLANES SETS MAX_BUCKET_DOCS [REPS]
  */
object VecProbe {
  def main(args: Array[String]): Unit = {
    require(args.length == 4 || args.length == 5,
      "usage: VecProbe SF_DIR PLANES SETS MAX_BUCKET_DOCS [REPS]")
    val (sfDir, planes, sets, cap) =
      (args(0), args(1).toInt, args(2).toInt, args(3).toInt)
    val reps = if (args.length == 5) args(4).toInt else 2
    val spark = graft.Conf.localSession(graft.Conf.Env.cpus(32))
    try probe(spark, sfDir, planes, sets, cap, reps)
    finally spark.stop()
  }

  private def probe(spark: SparkSession, sfDir: String, planes: Int,
                    sets: Int, cap: Int, reps: Int): Unit = {
    val vecs = graft.ops.Tables.embeddings(spark, sfDir)
    val nVecs = vecs.count()
    // bucket-census pass (untimed): per set, how many buckets exist,
    // how many exceed the cap, and how many rows live inside those —
    // the rows the cap excludes from pair expansion
    val bk = graft.ops.Dedup.multiProbeBuckets(
      vecs, "vec_id", "embedding", "vec_id", planes, sets, 64)
      .localCheckpoint()
    val census = (0 until sets).map { s =>
      val byBucket = bk.groupBy(col(s"bk$s"))
        .agg(count(lit(1)).as("n"))
      val row = byBucket.agg(
        count(lit(1)).as("buckets"),
        count(org.apache.spark.sql.functions.when(col("n") > cap, 1))
          .as("over"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(col("n") > cap, col("n"))
            .otherwise(lit(0L))).as("rows_over"),
        org.apache.spark.sql.functions.max(col("n")).as("densest"))
        .head()
      s"""{"set":$s,"buckets":${row.getLong(0)},"over_cap":${row.getLong(1)},""" +
        s""""rows_in_over":${row.getLong(2)},"densest":${row.getLong(3)}}"""
    }.mkString("[", ",", "]")
    // timed reps: the full operator, pair count as the materializer
    // (count cannot prune the cos filter, so the verify executes)
    var pairs = -1L
    val times = (1 to math.max(1, reps)).map { _ =>
      val t0 = System.nanoTime()
      pairs = graft.ops.Dedup.cosineNearDupLshMulti(
        vecs, "vec_id", "embedding", threshold = 0.45,
        planes = planes, sets = sets, dims = 64,
        maxBucketDocs = cap).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(
      s"""{"metric":"vec_probe","sf":"$sfDir","n_vecs":$nVecs,""" +
        s""""planes":$planes,"sets":$sets,"max_bucket_docs":$cap,""" +
        s""""pairs":$pairs,"census":$census,""" +
        s""""times_sec":[${times.map(t => f"$t%.3f").mkString(",")}]}""")
  }
}
