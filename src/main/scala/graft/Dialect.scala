package graft

import graft.functions.Portable

/** The two SQL dialects a relational derivation is spelled in: DuckDB,
  * which runs the oracles, and Spark SQL, which runs the `sql_*` twins.
  * A derivation written once as `def xSql(d: Dialect): String` renders
  * its oracle with [[Dialect.DuckDB]] and its twin with
  * [[Dialect.Spark]], so the twin cannot drift from the oracle it is
  * checked against.
  *
  * Members cover only the spellings the engines differ on. Where Spark
  * plans the DuckDB spelling identically (`CAST(count(*) AS BIGINT)`,
  * `CAST(0.5 AS DOUBLE)`, a bare `0` coerced to BIGINT), the text keeps
  * that one spelling. */
sealed trait Dialect {
  /** Integer division: `//` | `div`. */
  def div: String
  /** The string type: `VARCHAR` | `STRING`. */
  def varchar: String
  /** Split a string into an array: `string_split` | `split` (Spark's
    * separator is a regex, so keep separators regex-literal). */
  def split: String
  /** Array length: `len` | `size`. */
  def len: String
  /** Array filter by a lambda: `list_filter` | `filter`. */
  def listFilter: String
  /** Ascending array sort: `list_sort` | `array_sort`. */
  def listSort: String
  /** Join an array of strings: `array_to_string` | `array_join`. */
  def arrayJoin: String
  /** One row per array element, in a select list: `unnest` |
    * `explode`. */
  def unnest: String
  /** Microseconds since the epoch of a timestamp. */
  def epochUs(ts: String): String
  /** Whole days from date `start` to date `end`. */
  def daysBetween(end: String, start: String): String
  /** Distinct count of a column tuple. */
  def countDistinct(cols: String*): String
  /** Text that follows a FROM item to repeat each of its rows once per
    * value of `vals`, as column `k` of alias `t`. The values are
    * BIGINT on Spark. */
  def crossValues(t: String, k: String, vals: Int*): String
  /** A window value function (`first_value`, `last_value`) of `arg`
    * that skips nulls. */
  def ignoreNulls(fn: String, arg: String): String
  /** [[Portable.h60]] of the string expression `inner`. */
  def h60(inner: String, seed: String): String
  /** `cols` as strings joined by `sep`; the columns are never null. */
  def concatWs(sep: String, cols: String*): String
  /** A Spark planner hint comment before a select list; DuckDB has
    * none. */
  def hint(h: String): String
}

object Dialect {
  case object Spark extends Dialect {
    def div = "div"
    def varchar = "STRING"
    def split = "split"
    def len = "size"
    def listFilter = "filter"
    def listSort = "array_sort"
    def arrayJoin = "array_join"
    def unnest = "explode"
    def epochUs(ts: String) = s"unix_micros($ts)"
    def daysBetween(end: String, start: String) = s"datediff($end, $start)"
    def countDistinct(cols: String*) =
      s"count(DISTINCT ${cols.mkString(", ")})"
    def crossValues(t: String, k: String, vals: Int*) =
      s" LATERAL VIEW explode(array(${vals.map(v => s"${v}L")
        .mkString(", ")})) $t AS $k"
    def ignoreNulls(fn: String, arg: String) = s"$fn($arg) IGNORE NULLS"
    def h60(inner: String, seed: String) = Portable.h60Sql(inner, seed)
    def concatWs(sep: String, cols: String*) =
      s"concat_ws('$sep', ${cols.mkString(", ")})"
    def hint(h: String) = s"/*+ $h */ "
  }

  case object DuckDB extends Dialect {
    def div = "//"
    def varchar = "VARCHAR"
    def split = "string_split"
    def len = "len"
    def listFilter = "list_filter"
    def listSort = "list_sort"
    def arrayJoin = "array_to_string"
    def unnest = "unnest"
    def epochUs(ts: String) = s"epoch_us($ts)"
    def daysBetween(end: String, start: String) = s"$end - $start"
    def countDistinct(cols: String*) =
      s"count(DISTINCT (${cols.mkString(", ")}))"
    def crossValues(t: String, k: String, vals: Int*) =
      s", unnest([${vals.mkString(", ")}]) AS $t($k)"
    def ignoreNulls(fn: String, arg: String) = s"$fn($arg IGNORE NULLS)"
    def h60(inner: String, seed: String) = Portable.h60Duck(inner, seed)
    def concatWs(sep: String, cols: String*) =
      cols.map(c => s"CAST($c AS VARCHAR)").mkString(s" || '$sep' || ")
    def hint(h: String) = ""
  }
}
