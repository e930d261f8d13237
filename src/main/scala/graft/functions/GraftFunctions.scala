package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}

/** Typed Column constructors for the graft native functions. Each one
  * calls the function by the name [[graft.plans.GraftExtensions]]
  * registers, so it resolves to the same Catalyst expression as the SQL
  * form `graft_…(…)` on any session built with those extensions. */
object GraftFunctions {
  /** `graft_dot(a, b)`: [[DotProduct]] of two numeric arrays. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** `graft_polyhash(s)`: [[PolyHash]], the portable base-31 string
    * hash (DuckDB form: [[graft.ops.Hashing.polyHashSql]]). */
  def polyHash(s: Column): Column = call_function("graft_polyhash", s)

  /** `graft_shingle_hashes(tk, n, combined)`: [[ShingleHashes]], the
    * sorted distinct hashes of a token array's n-word windows. */
  def shingleHashes(tokens: Column, n: Int, combined: Boolean = true): Column =
    call_function("graft_shingle_hashes", tokens, lit(n), lit(if (combined) 1 else 0))

  /** `graft_minhash(tk, n)`: [[MinHashSig]] over the n-word windows. */
  def minHash(tokens: Column, n: Int): Column =
    call_function("graft_minhash", tokens, lit(n))

  /** `graft_simhash(tk)`: [[SimHash]] of a token array. */
  def simHash(tokens: Column): Column = call_function("graft_simhash", tokens)

  /** `graft_jaro_winkler(a, b)`: [[JaroWinkler]] string similarity. */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("graft_jaro_winkler", a, b)

  /** `graft_inter_count(a, b)`: [[SortedInterCount]] of two sorted arrays. */
  def interCount(a: Column, b: Column): Column =
    call_function("graft_inter_count", a, b)

  /** `graft_token_counts(tk)`: [[TokenCounts]], per-token frequencies. */
  def tokenCounts(tokens: Column): Column = call_function("graft_token_counts", tokens)
}
