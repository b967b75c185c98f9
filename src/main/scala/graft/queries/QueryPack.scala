package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.floor

/** A named bundle of driver-contract queries with their DuckDB oracles.
  *
  * Every operator the engine claims (SURVEY.md §2) surfaces here as a
  * `queries` entry; when the semantics are ANSI-SQL-expressible the same
  * key appears in `oracleSql` and the driver cross-checks the two on the
  * shared parquet fixtures. Oracle-parity ground rules used throughout:
  *
  *  - computed doubles (sums/avgs/stddevs of floats) are cast to FLOAT /
  *    REAL at the output edge, mirroring the reference's FloatType
  *    storage (ddl/hive/crypto_mart/crypto_indicator_day.ddl:6-36) and
  *    absorbing aggregation-order drift between engines;
  *  - exact values (raw column passthrough, counts, min/max, sums of
  *    integral doubles) stay in their natural type;
  *  - no TIMESTAMP-typed output columns (parquet tz-annotation differs
  *    between writers) — dates stay DATE, instants become epoch longs or
  *    explicitly formatted strings;
  *  - every ORDER/row_number has a total order (unique tiebreak column);
  *  - money doubles enter exact arithmetic as integer cents
  *    ([[QueryPack.cents]]), and ratios leave at six decimals
  *    ([[QueryPack.r6]]) — one definition of each, so every operator
  *    and its oracle round alike.
  */
trait QueryPack {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracleSql: Map[String, String]

  /** Family label for per-pack bench subtotals (BENCH `families` map). */
  def packName: String = getClass.getSimpleName.stripSuffix("$")

  /** Load a fixture table for a query body. */
  protected def t(name: String)(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, name)
}

object QueryPack {
  /** Exact integer cents of a 2-decimal money double — the engine's
    * exact-moment currency: decimal cast (unambiguous for 2-decimal
    * sources) then ×100, so every downstream sum/product is integer
    * arithmetic rather than order-dependent float accumulation. The
    * oracle's `CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT)`. */
  private[graft] def cents(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("long")

  /** A ratio at the output edge: rounded half up at six decimals, then
    * FLOAT — the oracle's `CAST(FLOOR(x * 1e6 + 0.5) / 1e6 AS REAL)`. */
  private[graft] def r6(c: Column): Column =
    (floor(c * 1e6 + 0.5) / 1e6).cast("float")
}
