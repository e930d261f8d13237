package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bloom-filter semi-join prefilter — the RUNTIME-FILTER scale
  * technique (SURVEY.md §7.5 extensions): before shuffling the fact
  * side of a selective join, test each fact key against a tiny bitmap
  * of the dim side's keys and drop non-members MAP-SIDE. Only the
  * surviving fraction pays the exchange; the exact join afterwards
  * removes the Bloom's false positives, so the RESULT is identical to
  * the plain semi-join (a Bloom filter has no false negatives) — which
  * is what lets b01 share the exact semi-join's oracle semantics.
  *
  * Spark ships its own runtime bloom (`spark.sql.optimizer.runtime.
  * bloomFilter.enabled`, injected by the optimizer when statistics
  * justify it); this operator is the explicit, engine-portable form:
  * every bit derives from [[graft.functions.GraftFunctions.polyHash]] +
  * affine maps mod P, so any engine — and the DuckDB oracle — can
  * reproduce the exact filter.
  *
  * Build shape: each dim key maps to k (word, mask) pairs, `bit_or`
  * aggregated per word — mergeable partials, a shuffle of at most
  * [[Words]] rows at any dim size — then the [[Words]] longs (a
  * fixed-size sketch, 512 bytes) come to the driver and are inlined as
  * an array LITERAL in the fact-side filter: the probe is pure
  * codegen'd arithmetic (element_at + bit-and), no join, no broadcast
  * table, no UDF.
  */
object BloomJoin {
  /** Default 4096 bits = 64 words: false-positive rate ~
    * (1−e^(−kn/m))^k ≈ 2% at n = 1000 dim keys, k = 3. Size `bits` to
    * ~4·dim-cardinality for a few-percent fp rate — the driver-side
    * cost is bits/64 longs either way. */
  val Bits: Int = 4096
  val K: Int = 3

  private def posSql(key: String, i: Int, bits: Int): String =
    s"((graft_polyhash(cast($key as string)) * ${Hashing.MinHashA(i)}L + " +
    s"${Hashing.MinHashB(i)}L) % ${Hashing.P}L) % $bits"

  /** The i-th bit position of one key, as (word index, mask) columns. */
  private def wordMask(key: String, i: Int, bits: Int): (Column, Column) =
    (expr(s"cast((${posSql(key, i, bits)}) div 64 as int)"),
      expr(s"shiftleft(1L, cast((${posSql(key, i, bits)}) % 64 as int))"))

  /** Build the dim-side bitmap: `bits/64` longs. Runs one small Spark
    * job (the sketch materialization — same class of driver hop as any
    * broadcast build). */
  def buildBitmap(dim: DataFrame, dimKey: String,
                  bits: Int = Bits, k: Int = K): Array[Long] = {
    // NULL dim keys can never match a semi-join, and graft_polyhash(null)
    // would propagate a null word index into getInt below — drop them
    // before hashing (keeps bitmap build ≡ left_semi exactly).
    val rows = dim.filter(col(dimKey).isNotNull)
      .select((0 until k).map { i =>
        val (w, m) = wordMask(dimKey, i, bits)
        struct(w.as("w"), m.as("m")).as(s"p$i")
      }: _*)
      .select(explode(array((0 until k).map(i => col(s"p$i")): _*)).as("p"))
      .groupBy(col("p.w")).agg(bit_or(col("p.m")).as("bits"))
      .collect()
    val words = new Array[Long](bits / 64)
    rows.foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Exact semi-join with a Bloom prefilter: fact rows failing any of
    * the k bit tests drop before the exchange; the left-semi join then
    * removes false positives. Result rows = plain `left_semi` exactly. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    bits: Int = Bits, k: Int = K): DataFrame = {
    val words = buildBitmap(dim, dimKey, bits, k)
    val bitmap = typedLit(words.toSeq)
    val passes = (0 until k).map { i =>
      val (w, m) = wordMask(factKey, i, bits)
      (element_at(bitmap, w + 1).bitwiseAND(m)) =!= 0L
    }.reduce(_ && _)
    // no distinct on the build side: left_semi ignores duplicate
    // matches, so deduping would only add an exchange
    fact.filter(passes)
      .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_semi")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // lineitems of high-value orders: the dim side (filtered orders) is
    // ~2% of orderkeys, so the bloom drops most of lineitem map-side
    "b01_bloom_semi" -> ((s, d) =>
      bloomSemiJoin(
        Tables.lineitem(s, d),
        Tables.orders(s, d).filter(col("o_totalprice") > 490000.0),
        "l_orderkey", "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))))

  def oracle: Map[String, String] = Map(
    // bloom prefilter + exact semi ≡ plain semi-join — the oracle runs
    // the plain form; hash equality proves the bloom never dropped a
    // true member (no false negatives) nor leaked a false positive
    "b01_bloom_semi" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 490000.0)""".stripMargin)
}
