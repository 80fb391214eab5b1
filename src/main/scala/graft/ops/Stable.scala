package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Order-independent numeric aggregates for oracle parity.
  *
  * Double summation is order-dependent; Spark's shuffle order differs from
  * any single-threaded oracle, so `sum(double)` can drift in the low bits at
  * scale. Routing the sum through a fixed-scale decimal makes it exact and
  * associative — bit-identical regardless of partitioning — then the final
  * cast back to double is deterministic. This is also the right call at
  * 100 TB: decimal partial aggregates stay in whole-stage codegen and are
  * reproducible across cluster sizes.
  *
  * Where a sum must stay a double (a per-document score over its terms),
  * [[orderedSum]] is the one ordered-sum rule: the terms are collected,
  * sorted by a caller-chosen key and folded left to right, so the sum is
  * sequential and bit-exact across engines and partitionings.
  */
object Stable {
  /** Exact sum via decimal(precision,scale), returned as double. */
  def sumD(c: Column, scale: Int = 6): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double")

  /** Order-independent mean: exact decimal sum / non-null count. */
  def avgD(c: Column, scale: Int = 6): Column =
    sumD(c, scale) / count(c)

  /** Ordered double sum (an aggregate): collects `entries` — structs whose
    * leading fields are the summation order — sorts them and folds
    * `field` left to right from 0.0. Null entries are skipped by the
    * collect, so a `when(…, struct(…))` guard keeps rows out of the sum. */
  def orderedSum(entries: Column, field: String): Column =
    aggregate(array_sort(collect_list(entries)), lit(0.0),
      (acc, x) => acc + x.getField(field))

  /** DuckDB-side SQL for the same expressions (oracle strings).
    *
    * Oracle-authoring convention: DuckDB widens integer aggregates —
    * `SUM(BIGINT)` (plain or windowed) returns HUGEINT, which hash-mismatches
    * Spark's BIGINT even when every cell is equal. Any oracle integer sum, or
    * arithmetic derived from one, must be wrapped in `CAST(... AS BIGINT)`
    * to mirror Spark's type, exactly as this helper casts decimal sums back
    * to DOUBLE. `tools/check_oracle.py` compares result types and fails on
    * HUGEINT drift before comparing values.
    */
  def sumSql(col: String, scale: Int = 6): String =
    s"CAST(SUM(CAST($col AS DECIMAL(28,$scale))) AS DOUBLE)"

  def avgSql(col: String, scale: Int = 6): String =
    s"(${sumSql(col, scale)} / COUNT($col))"
}
