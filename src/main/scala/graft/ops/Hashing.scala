package graft.ops

/** Deterministic, engine-portable hashing used by the dedup / fingerprint
  * operators (SURVEY.md §7.5).
  *
  * The point of rolling our own polynomial hash instead of Spark's
  * `xxhash64`/`hash` is oracle parity: the driver re-computes every query
  * in DuckDB, whose built-in hash functions do not match Spark's. A
  * base-31 polynomial over code points mod a Mersenne-ish prime is exactly
  * expressible in both engines (Spark `aggregate`/`transform` higher-order
  * functions, DuckDB `reduce`/`list_transform`), all in whole-stage
  * codegen on the Spark side — no UDF, no serialization boundary.
  */
object Hashing {
  /** Modulus: largest prime < 2^30 ⇒ `acc*31 + c` stays < 2^35, no int64
    * overflow on either engine. */
  val P: Long = 1000000007L

  /** MinHash family: h_i(x) = (a_i * x + b_i) mod P with odd multipliers.
    * 16 hashes = 4 bands × 4 rows (LSH threshold ≈ (1/4)^(1/4) ≈ 0.71
    * Jaccard at 50% capture; near-dups planted in `documents` sit ≥ 0.9). */
  val MinHashA: Seq[Long] = Seq(
    387420489L, 55212647L, 894572331L, 123456791L,
    777215683L, 43112609L, 600851475L, 22801763L,
    910419823L, 318311607L, 65537159L, 432109877L,
    271828183L, 314159257L, 161803399L, 577215665L)
  val MinHashB: Seq[Long] = Seq(
    12345L, 67891L, 24681L, 13579L,
    98765L, 43211L, 55555L, 31337L,
    77777L, 10007L, 20011L, 30011L,
    40009L, 50021L, 60013L, 70001L)
  val Bands = 4
  val RowsPerBand = 4

  /** DuckDB SQL fragment computing the same hash as
    * [[graft.functions.GraftFunctions.polyHash]] of expression `e`; the
    * equivalent pure-builtin Spark form is
    * `aggregate(transform(split(c, ''), ch -> ascii(ch)), 0L,
    * (acc, x) -> (acc * 31 + x) % P)`. */
  def polyHashSql(e: String): String =
    s"reduce(list_prepend(0::BIGINT, list_transform(string_split($e, ''), " +
    s"ch -> ascii(ch)::BIGINT)), (acc, x) -> (acc * 31 + x) % $P)"
}
