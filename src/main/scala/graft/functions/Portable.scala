package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash primitives with bit-identical DuckDB SQL equivalents, used by the
  * LLM-pipeline operators so every probabilistic structure (MinHash,
  * SimHash, LSH band keys, document fingerprints) stays oracle-checkable.
  *
  * h60(x, seed) = first 15 hex digits of md5(seed || x), as a BIGINT:
  *   Spark : CAST(conv(substring(md5(concat(seed, x)), 1, 15), 16, 10) AS BIGINT)
  *   DuckDB: CAST(concat('0x', substring(md5(concat(seed, x)), 1, 15)) AS BIGINT)
  *
  * 15 hex digits = 60 bits, so the value is non-negative and fits a signed
  * 64-bit integer identically in both engines. md5 is deterministic and
  * seedable by prefixing, which gives the k "permutations" MinHash needs.
  * At scale this is a pure per-row projection (codegen'd, no shuffle).
  */
object Portable {
  def h60(c: Column, seed: String): Column =
    conv(substring(md5(concat(lit(seed), c)), 1, 15), 16, 10).cast("long")

  /** The same hash as a Spark SQL fragment (for use inside `expr` lambdas
    * where Column-level composition isn't available). */
  def h60Sql(inner: String, seed: String): String =
    s"CAST(conv(substring(md5(concat('$seed', $inner)), 1, 15), 16, 10) AS BIGINT)"

  /** Matching DuckDB fragment, for oracle SQL construction. */
  def h60Duck(inner: String, seed: String): String =
    s"CAST(concat('0x', substring(md5(concat('$seed', $inner)), 1, 15)) AS BIGINT)"

  /** The same hash computed JVM-side (seed pre-concatenated by the
    * caller) — for code that hashes single rows in a task closure
    * (StreamingJobs.streamingQualityRoute, CmSketch) and for spec
    * replays; bit-identical to [[h60]]/[[h60Duck]] because md5 of the
    * UTF-8 bytes is md5 of the UTF-8 bytes. */
  def h60Jvm(s: String): Long =
    h60Digest(MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)))

  /** [[h60]] read straight off a 16-byte md5 digest: the first 15 hex
    * digits of the digest are its 7 leading bytes plus the high nibble of
    * byte 7, so no hex string is built and parsed back. Per-row callers
    * keep one `MessageDigest` and digest into a reused buffer. */
  def h60Digest(md5: Array[Byte]): Long = {
    var h = 0L
    var j = 0
    while (j < 7) { h = (h << 8) | (md5(j) & 0xffL); j += 1 }
    (h << 4) | ((md5(7) & 0xf0L) >>> 4)
  }
}
