package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** String hashing for the LLM-data-pipeline operators (dedup, LSH,
  * fingerprinting).
  *
  * Two interchangeable hash functions:
  *
  *  - [[polyHash]] — a Java-style polynomial rolling hash mod a prime,
  *    computed by the codegen'd [[graft.functions.PolyHash]] (its
  *    composable fold form is `polyHashFold` in the test-side
  *    `graft.llm.TextReference`). Deterministic and
  *    expressible in ANSI SQL, so every operator built on it can be
  *    oracle-checked bit-for-bit against DuckDB (see
  *    [[graft.queries.LlmQueries]]).
  *  - [[fastHash]] — xxhash64 folded into the same value domain. This is
  *    the production path for 100 TB runs: one codegen'd native call per
  *    string instead of a per-character fold. All operators take the
  *    hash as a parameter, so swapping is a one-argument change; the
  *    algebra (shuffle keys, band joins, signatures) is identical.
  */
object TextHash {
  /** Common hash domain: [0, Prime). Products `a*h+b` with a,b < 2^10
    * stay far below 2^63, so the permuted-hash arithmetic in
    * [[MinHash]] never overflows. */
  val Prime: Long = 1000000007L

  /** Oracle-deterministic polynomial rolling hash:
    * `h = fold(codePoints, 0, (acc, c) => (acc*31 + c) % Prime)`.
    * Production form: the codegen'd native expression
    * ([[graft.functions.TextExpressions.polyHashNative]]). */
  def polyHash(c: Column): Column =
    graft.functions.TextExpressions.polyHashNative(c)

  /** Production hash: non-negative xxhash64 in the same domain. */
  def fastHash(c: Column): Column = pmod(xxhash64(c), lit(Prime))

  /** DuckDB SQL computing exactly [[polyHash]] of `expr`. */
  def polyHashSql(expr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_filter(string_split($expr, ''), ch -> ch <> ''), " +
      s"ch -> CAST(ascii(ch) AS BIGINT))), (acc, c) -> (acc * 31 + c) % ${Prime})"
}
