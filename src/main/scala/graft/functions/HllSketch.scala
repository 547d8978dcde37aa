package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared 64-register HyperLogLog derivation — the common core of
  * m35 (batch corpus sketch), m45 (per-segment sketches and their
  * algebra) and st11 (windowed streaming sketch).
  *
  * Register index = first two md5 hex digits mod 64; rank = 1 + number
  * of leading zero BITS of the next 48 bits, derived integer-exactly
  * from hex digits (4 bits per digit, capped at 49). Everything stays
  * in integers/strings that hash identically in Spark and DuckDB; the
  * raw estimate uses exact powers of two and one integer division
  * (deliberately no linear-counting correction), so est values are
  * reproducible bit-for-bit in both engines.
  */
object HllSketch {
  val registers = 64

  /** Adds `idx` (0..63) and `rnk` (1..49) columns for md5("hll|" + key). */
  def withIndexRank(df: DataFrame, key: Column): DataFrame =
    df.withColumn("_h", md5(concat(lit("hll|"), key.cast("string"))))
      .withColumn("idx", expr(
        "((instr('0123456789abcdef', substr(_h, 1, 1)) - 1) * 16 + " +
        "(instr('0123456789abcdef', substr(_h, 2, 1)) - 1)) % 64"))
      .withColumn("_tail", expr("substr(_h, 3, 12)"))
      .withColumn("_lz", expr("length(regexp_extract(_tail, '^0*', 0))"))
      .withColumn("rnk", expr(
        "CASE WHEN _lz >= 12 THEN 49 ELSE _lz * 4 + " +
        "(CASE WHEN instr('0123456789abcdef', substr(_tail, _lz + 1, 1)) - 1 >= 8 THEN 0 " +
        " WHEN instr('0123456789abcdef', substr(_tail, _lz + 1, 1)) - 1 >= 4 THEN 1 " +
        " WHEN instr('0123456789abcdef', substr(_tail, _lz + 1, 1)) - 1 >= 2 THEN 2 " +
        " ELSE 3 END) + 1 END"))
      .drop("_h", "_tail", "_lz")

  /** 64 register agg columns r0..r63 = max rank seen per register —
    * the k-agg-columns shape (st10/LSH precedent): mergeable by max,
    * legal in a streaming windowed agg, 64 longs of state per group.
    * st11 needs this form: a streaming windowed aggregation cannot
    * chain the two aggregations of `registerVectors`. */
  def registerAggs: Seq[Column] =
    (0 until registers).map(i => max(when(col("idx") === i, col("rnk"))).as(s"r$i"))

  /** Harmonic sum Σ 2^(50-r) over the r0..r63 columns; an absent
    * register contributes 2^50 (rank 0). */
  val sTotalExpr: String = (0 until registers)
    .map(i => s"CASE WHEN r$i IS NULL THEN CAST(1125899906842624 AS BIGINT) " +
      s"ELSE shiftleft(CAST(1 AS BIGINT), CAST(50 - r$i AS INT)) END")
    .mkString("(", " + ", ")")

  /** Count of hit registers over the r0..r63 columns. */
  val nHitExpr: String = (0 until registers)
    .map(i => s"CASE WHEN r$i IS NULL THEN 0 ELSE 1 END")
    .mkString("CAST((", " + ", ") AS INT)")

  /** Raw HLL estimate from a harmonic-sum column: alpha·m²·2^50 ÷ s,
    * as the exact integer form 2904064·2^40 div (1000·(s div 1024)) —
    * matches the m35 oracle digit for digit. */
  def estimateOf(sCol: String): String =
    s"2904064 * CAST(1099511627776 AS BIGINT) div (1000 * ($sCol div 1024))"

  val estimateExpr: String = estimateOf("s_total")

  /** One dense register vector per group from `withIndexRank` rows —
    * the tall form: `groupBy(group, idx).max(rnk)` (at most 64 rows per
    * group), then one `collect_list` per group, densified to `regs`
    * (array of 64 ints, an absent register as rank 0), and `est` from
    * the harmonic sum over `regs`. Wins over the 64 wide `registerAggs`
    * columns when groups are few (m45: event types × 64). A null `idx`
    * (null key) is no register; its group still gets a row, all zeros. */
  def registerVectors(hashed: DataFrame, group: String): DataFrame =
    hashed.groupBy(col(group), col("idx")).agg(max(col("rnk")).as("mreg"))
      .groupBy(col(group))
      .agg(map_from_entries(collect_list(
        when(col("idx").isNotNull, struct(col("idx"), col("mreg"))))).as("_m"))
      .withColumn("regs", expr(
        s"transform(sequence(0, ${registers - 1}), i -> coalesce(_m[i], 0))"))
      .withColumn("est", expr(estimateOf(
        "aggregate(regs, CAST(0 AS BIGINT), " +
        "(acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), CAST(50 - r AS INT)))")))
      .select(col(group), col("regs"), col("est"))
}
