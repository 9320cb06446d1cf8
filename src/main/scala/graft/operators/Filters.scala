package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Predicate combinators — the reference's parse-time filters.
  *
  * Reference semantics (`program/src/main/scala/hmushtaq/sparkga1/utils/
  * SamRegionsParser.scala:44-53`): drop unmapped reads `(flags & 4) > 0`,
  * unplaced `rname == "*"`, and ignore-listed chromosomes
  * (`Configuration.java:100-107`).
  *
  * Spark-native: plain `Column` predicates so Catalyst pushes them into the
  * scan (visible as `PushedFilters` in explain). The ignore list is a
  * literal `isin` — an `In` filter, pushable.
  */
object Filters {

  /** Bitmask test: keep rows where `(col & mask) == 0` —
    * SamRegionsParser.scala:46. Bitwise AND is codegen'd.
    */
  def maskClear(c: Column, mask: Int): Column = c.bitwiseAND(mask) === 0

  /** Small literal ignore list → `NOT isin`, pushed to the scan. */
  def notIgnored(c: Column, ignore: Seq[String]): Column =
    if (ignore.isEmpty) lit(true) else !c.isin(ignore: _*)
}
