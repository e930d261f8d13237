package graft.tools

import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._

/** Throwaway probe for the r19 optimization round: how many
  * min-propagation rounds (and jobs) do the catalog's live CC call
  * sites actually run? `runMain graft.tools.CcProbe [sfDir]` */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Conf.localSession(graft.Conf.Env.cpus(default = 32))
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs += 1
      })
    def rounds(pairs: org.apache.spark.sql.DataFrame, a: String,
               b: String): (Int, Long) = {
      val edges = pairs
        .select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
        .union(pairs.select(col(b).cast("long").as("src"),
          col(a).cast("long").as("dst")))
        .distinct().cache()
      var labels = edges.select(col("src").as("id"), col("src").as("label"))
        .distinct().localCheckpoint()
      def labelSum(l: org.apache.spark.sql.DataFrame) =
        l.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")))
          .collect().head.getDecimal(0)
      var prevSum = labelSum(labels)
      var converged = false
      var r = 0
      while (!converged) {
        val next = edges
          .join(labels.withColumnRenamed("id", "src")
            .withColumnRenamed("label", "src_label"), Seq("src"))
          .select(col("dst").as("id"), col("src_label").as("label"))
          .union(labels)
          .groupBy(col("id")).agg(min(col("label")).as("label"))
          .localCheckpoint()
        val nextSum = labelSum(next)
        labels = next
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        r += 1
      }
      val n = edges.count()
      edges.unpersist()
      (r, n)
    }
    def probe(name: String)(pairs: => org.apache.spark.sql.DataFrame,
              a: String = "doc_a", b: String = "doc_b"): Unit = {
      val p = pairs
      jobs = 0
      val t0 = System.nanoTime()
      val (r, n) = rounds(p, a, b)
      println(f"$name%-28s rounds=$r%2d edges=$n%7d jobs=$jobs%3d " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s  [old inline loop]")
      jobs = 0
      val t1 = System.nanoTime()
      val cnt = graft.ops.Clusters.connectedComponents(p, a, b).count()
      println(f"$name%-28s nodes=$cnt%7d           jobs=$jobs%3d " +
        f"${(System.nanoTime() - t1) / 1e9}%.2f s  [library CC]")
    }
    val part = graft.ops.Tables.part(spark, d)
    val jwPairs = graft.ops.Entity
      .jaroWinklerPairsUnion(part, "p_name").localCheckpoint()
    probe("er08 jw-union name pairs")(
      jwPairs.withColumn("ha", polyHash(col("name_a")))
        .withColumn("hb", polyHash(col("name_b"))),
      "ha", "hb")
    val docs = graft.ops.Tables.documents(spark, d)
    probe("d02 word jaccard pairs")(
      graft.ops.Dedup.jaccardPairs(docs, "doc_id", "text", 0.6))
    probe("d08 minhash verified")(
      graft.ops.Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.6))
    spark.stop()
  }
}
