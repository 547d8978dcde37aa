package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Reusable relational combinators with explicit scale posture. */
object Relational {

  /** Top-n rows per group via row_number (single hash shuffle). */
  def topNPerGroup(df: DataFrame, n: Int, part: Column, order: Column*): DataFrame =
    df.withColumn("_rn", row_number().over(Window.partitionBy(part).orderBy(order: _*)))
      .filter(col("_rn") <= n).drop("_rn")

  /** Top-n rows per group through the custom TopNPerKey operator:
    * bounded per-key heaps instead of sorting every key group (see
    * graft.plans.TopNPerKey). `order` must be a TOTAL ordering. An empty
    * `part` means global top-n (the final pass gathers to one
    * partition; the partial pass has already reduced each input
    * partition to n rows). `rank`, when set, names an appended non-null
    * int column numbering each group's survivors 1..n in `order` — what
    * a row_number window over the result would give, without the sort. */
  def topNPerGroupFast(df: DataFrame, n: Int, part: Seq[String],
      order: Seq[(String, Boolean)],
      maxPartialKeys: Int = graft.plans.TopNPerKey.DefaultMaxPartialKeys,
      rank: Option[String] = None): DataFrame =
    topNPerKey(df, n, None, part, order, maxPartialKeys, rank)

  /** Top-n per group where n VARIES per group: `limitCol` is an int
    * column constant within each group (typically broadcast-joined from
    * a per-key quota dim; 0 or null keeps nothing). Same bounded-heap
    * physical shape as [[topNPerGroupFast]] — the alternative, a
    * row_number window filtered against the quota, full-sorts every
    * group. */
  def topNPerGroupQuota(df: DataFrame, limitCol: String, part: Seq[String],
      order: Seq[(String, Boolean)],
      maxPartialKeys: Int = graft.plans.TopNPerKey.DefaultMaxPartialKeys): DataFrame =
    topNPerKey(df, 1, Some(limitCol), part, order, maxPartialKeys, None)

  private def topNPerKey(df: DataFrame, n: Int, limitCol: Option[String],
      part: Seq[String], order: Seq[(String, Boolean)], maxPartialKeys: Int,
      rank: Option[String]): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    // the rank rides the child as a placeholder the final pass overwrites
    val plan = GraftSqlBridge.planOf(rank.fold(df)(r => df.withColumn(r, lit(0))))
    def attr(name: String) = plan.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no column $name in ${plan.output}"))
    val sortOrders = order.map { case (name, asc) =>
      SortOrder(attr(name), if (asc) Ascending else Descending)
    }
    GraftSqlBridge.ofRows(df.sparkSession,
      graft.plans.TopNPerKey(n, part.map(attr), sortOrders, plan, maxPartialKeys,
        limitExpr = limitCol.map(attr),
        rank = rank.map(attr)))
  }

  /** Exact 0-based GLOBAL rank of an md5-hex key column within each
    * group, without a group-wide single-partition window (the TeraSort
    * two-level rank): the key's 2-hex-char prefix buckets rows into 256
    * slices that rank in parallel (row_number partitioned by
    * (group, bucket) — legal because the bucket is a PREFIX of the sort
    * key, so order by (bucket, key) == order by key), and a
    * |groups|·256-row bucket-count cumsum lifts local ranks to exact
    * global positions via a broadcast join. Appends `outCol` (long). */
  def bucketedGlobalRank(df: DataFrame, keyCol: String,
      groupCols: Seq[String], outCol: String): DataFrame =
    bucketedGlobalRankBy(df, substring(col(keyCol), 1, 2),
      Seq(col(keyCol)), groupCols, outCol)

  /** The generalized two-level rank core (shared by the md5-prefix form
    * above and Layout.fileIds' numeric high-bit form): `bucket` must be
    * a MONOTONE COARSENING of the sort order's leading key — order by
    * (bucket, sortCols) must equal order by sortCols — or local ranks
    * cannot lift to global positions. `sortCols` must fully determine
    * row order (include a unique tie-breaker) for a deterministic
    * assignment. */
  def bucketedGlobalRankBy(df: DataFrame, bucket: Column,
      sortCols: Seq[Column], groupCols: Seq[String],
      outCol: String): DataFrame = {
    val grp = groupCols.map(col)
    val keyed = df.withColumn("_bkt", bucket)
    val within = keyed.withColumn("_rn", row_number().over(
      Window.partitionBy(grp :+ col("_bkt"): _*)
        .orderBy(sortCols: _*)).cast("long"))
    val offs = keyed.groupBy(grp :+ col("_bkt"): _*)
      .agg(count(lit(1)).as("_c"))
      .withColumn("_off", coalesce(sum(col("_c")).over(
        Window.partitionBy(grp: _*).orderBy(col("_bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(grp :+ col("_bkt") :+ col("_off"): _*)
    // LEFT join, deliberately (r15): every within-row's (group, bucket)
    // has an offs-row by construction, so left ≡ inner on the OUTPUT —
    // but an inner join lets InferFiltersFromConstraints add
    // isnotnull(<bucket expr>) on the streamed side, and that filter
    // pushes below the window to the scan with the bucket expression
    // INLINED (for q85's Morton key the duplicated tree blew the
    // codegen stage past the JVM's 8 KB JIT limit — the stage ran as
    // interpreted bytecode, 3.4 s vs 0.2 s for 600k rows). A left join
    // infers nothing on the preserved side: zorder fileIds 4.2 → 0.7 s.
    within.join(broadcast(offs), groupCols :+ "_bkt", "left")
      .withColumn(outCol, col("_off") + col("_rn") - 1)
      .drop("_bkt", "_rn", "_off")
  }

  /** Hash-spread a frame across the cluster before per-row-heavy map
    * work (guide-§2.5 input-skew posture: a single unsplittable input
    * file otherwise runs the whole map side — parse, explode, partial
    * agg — in ONE task; the r15 testdata parquet is one row group, so
    * every scan stage was single-task at sf0.1). Width comes from
    * spark.sql.shuffle.partitions — the conf this repo already scales
    * with input volume (GraftSession.shufflePartitionsFor), so the
    * spread stays proportional on a cluster. Explicit count (AQE
    * coalesces keyless/unsized repartitions of small inputs back to 1
    * task — the CLAUDE.md trap) and hash on a real key, not
    * round-robin (round-robin pays the sort-before-repartition
    * determinism sort). NOTE: do not guard this with
    * df.rdd.getNumPartitions — the .rdd materialization costs ~0.4 s
    * of planning per invocation (probed r15). */
  def spread(df: DataFrame, key: Column): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, key)

  /** Skew-safe aggregation: salt the hot key into `salts` subkeys,
    * aggregate partially per (key, salt), then combine. Results are
    * identical to a direct groupBy — the salt only splits reducer load
    * for pathological key skew beyond what AQE's skew handling covers.
    * `saltBy` must be a DETERMINISTIC row-level column (an id, not a
    * random or partition-dependent value) so task retries re-produce the
    * same salt assignment. */
  def saltedCount(df: DataFrame, key: Column, saltBy: Column, salts: Int): DataFrame = {
    val salted = df
      .withColumn("_salt", pmod(hash(saltBy), lit(salts)))
      .groupBy(key.as("key"), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
    salted.groupBy(col("key"))
      .agg(sum(col("_partial")).as("n"))
  }
}
