package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.{DerivedLayouts, Tables}
import FeedSql._

/** Core relational coverage (SURVEY §2, q*).
  *
  * Oracle-determinism: every floating aggregate is computed in scaled
  * integer (cents) arithmetic with a single final division, so Spark and
  * DuckDB produce bit-identical doubles regardless of partial-agg order.
  */
object RelationalQueries {

  /** round(x*100) as long — exact cents. */
  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /** DuckDB mirror of md5('jcs|' || key) bucketed by its nibbles 1–3
    * into SketchPlanner.census's width-4096 counts (q50, q56) →
    * `name`(b4096, n) over `from`. */
  private def censusCte(name: String, key: String, from: String): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5('jcs|' || CAST($key AS VARCHAR)), $i, 1)) - 1)"
    s"""$name AS MATERIALIZED (SELECT
       |    CAST(${nib(1)} * 256 + ${nib(2)} * 16
       |      + ${nib(3)} AS INT) AS b4096,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM $from GROUP BY 1)""".stripMargin
  }

  /** TPC-H Q3 analog's oracle: q3 (DataFrame API) and q23 (SQL API)
    * compute the same answer. */
  private val q3Oracle =
    """SELECT l_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
      |  sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS revenue
      |FROM lineitem, orders, customer
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  def keys: Seq[QueryKey] = Seq(
    QueryKey("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  sum(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 AS sum_base_price,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / 10000.0 AS sum_disc_price,
        |  sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) / 1000000.0 AS sum_charge,
        |  sum(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          (sum(cents($"l_quantity")) / 100.0).as("sum_qty"),
          (sum(cents($"l_extendedprice")) / 100.0).as("sum_base_price"),
          (sum(cents($"l_extendedprice") * (lit(100L) - cents($"l_discount"))) / 10000.0)
            .as("sum_disc_price"),
          (sum(cents($"l_extendedprice") * (lit(100L) - cents($"l_discount")) *
               (lit(100L) + cents($"l_tax"))) / 1000000.0).as("sum_charge"),
          (sum(cents($"l_quantity")) / 100.0 / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    },

    // Projection + predicate pushdown: both reach the parquet scan
    // (verified in PlanSpec via PushedFilters / ReadSchema).
    QueryKey("q2_filter_project",
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
        |  AND l_discount >= 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
                $"l_shipdate" <  lit("1997-02-01").cast("timestamp") &&
                $"l_discount" >= 0.05)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"l_discount", $"l_shipdate")
        .orderBy($"l_orderkey", $"l_linenumber")
    },

    // TPC-H Q3 analog: fact-fact shuffle join + broadcast dim + top-k.
    QueryKey("q3_join_agg",
      q3Oracle) { (s, dir) =>
      import s.implicits._
      val cust = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
      val ord  = Tables.orders(s, dir).filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      val li   = Tables.lineitem(s, dir).filter($"l_shipdate" > lit("1998-01-01").cast("timestamp"))
      li.join(ord, $"l_orderkey" === $"o_orderkey")
        .join(broadcast(cust), $"o_custkey" === $"c_custkey")
        .groupBy($"l_orderkey", $"o_orderdate")
        .agg((sum(cents($"l_extendedprice") * (lit(100L) - cents($"l_discount"))) / 10000.0)
          .as("revenue"))
        .orderBy($"revenue".desc, $"l_orderkey")
        .limit(10)
    },

    // Multi-way broadcast dimension join (directory enrichment shape).
    QueryKey("q4_broadcast_join",
      """SELECT r_name, n_name, count(*) AS n_customers,
        |  sum(CAST(round(c_acctbal*100) AS BIGINT)) / 100.0 AS total_acctbal
        |FROM customer, nation, region
        |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_customers"),
             (sum(cents($"c_acctbal")) / 100.0).as("total_acctbal"))
        .orderBy($"r_name", $"n_name")
    },

    // EXISTS via left-semi join.
    QueryKey("q5_semi_join",
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bigOrders = Tables.orders(s, dir).filter($"o_totalprice" > 450000.0)
      Tables.customer(s, dir)
        .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name", $"c_mktsegment")
        .orderBy($"c_custkey")
    },

    // NOT EXISTS via left-anti join.
    QueryKey("q6_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val urgent = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
      Tables.customer(s, dir)
        .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    },

    // Global top-k: orderBy+limit plans as TakeOrderedAndProject —
    // per-partition top-k then a k-row merge, no full sort at scale.
    QueryKey("q7_topk_orders",
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(10)
    },

    // Top-n per group via row_number window.
    QueryKey("q8_window_rank",
      """SELECT l_returnflag, rn, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INT) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_returnflag, rn""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"l_returnflag")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      Tables.lineitem(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"l_returnflag", $"rn", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .orderBy($"l_returnflag", $"rn")
    },

    // Running (prefix) aggregate per partition; cents-exact.
    QueryKey("q9_window_running",
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_spent
        |FROM orders
        |WHERE o_custkey < 30
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .filter($"o_custkey" < 30)
        .withColumn("running_spent", sum(cents($"o_totalprice")).over(w) / 100.0)
        .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"running_spent")
        .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
    },

    // Exact distinct counts per group, two-phase: each distinct is its
    // own pre-aggregated (flag, key) dedup — a multi-countDistinct agg
    // would instead Expand the fact ×3 before the shuffle, tripling
    // shuffle volume at scale. Three column-pruned scans with map-side
    // combine shuffle only the distinct pairs; the per-flag results are
    // tiny and broadcast-joined.
    QueryKey("q10_distinct_agg",
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val parts = li.select($"l_returnflag", $"l_partkey").distinct()
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n_parts"))
      val supps = li.select($"l_returnflag", $"l_suppkey").distinct()
        .groupBy($"l_returnflag").agg(count(lit(1)).as("n_supps"))
      val lines = li.groupBy($"l_returnflag").agg(count(lit(1)).as("n_lines"))
      parts.join(broadcast(supps), Seq("l_returnflag"))
        .join(broadcast(lines), Seq("l_returnflag"))
        .orderBy($"l_returnflag")
    },

    // Exact rank-based percentiles (deterministic discrete convention:
    // value at sorted position ceil(p*n)). Computed from a per-value
    // count histogram — the measure has low cardinality, so this
    // aggregates to ~|distinct| rows per group and windows over THAT,
    // instead of globally sorting the fact table twice. Result is
    // identical to the row_number formulation (the oracle keeps it).
    QueryKey("q11_quantiles",
      """SELECT l_returnflag,
        |  max(CASE WHEN rn = CEIL(n*0.5) THEN l_quantity END) AS p50_qty,
        |  max(CASE WHEN rn = CEIL(n*0.95) THEN l_quantity END) AS p95_qty
        |FROM (
        |  SELECT l_returnflag, l_quantity,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem) t
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import s.implicits._
      val hist = Tables.lineitem(s, dir)
        .groupBy($"l_returnflag", $"l_quantity")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wp = Window.partitionBy($"l_returnflag")
      hist
        .withColumn("cum", sum($"cnt").over(w))
        .withColumn("n", sum($"cnt").over(wp))
        .groupBy($"l_returnflag")
        .agg(min(when($"cum" >= ceil($"n" * 0.5), $"l_quantity")).as("p50_qty"),
             min(when($"cum" >= ceil($"n" * 0.95), $"l_quantity")).as("p95_qty"))
        .orderBy($"l_returnflag")
    },

    // Conditional aggregation (TPC-H Q12 analog).
    QueryKey("q12_case_agg",
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        |  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ord = Tables.orders(s, dir)
      Tables.lineitem(s, dir)
        .filter($"l_shipdate" >= lit("1997-01-01").cast("timestamp") &&
                $"l_shipdate" <  lit("1998-01-01").cast("timestamp"))
        .join(ord, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_linestatus")
        .agg(sum(when($"o_orderpriority" === "1-URGENT" || $"o_orderpriority" === "2-HIGH", 1L)
               .otherwise(0L)).as("high_line_count"),
             sum(when($"o_orderpriority" =!= "1-URGENT" && $"o_orderpriority" =!= "2-HIGH", 1L)
               .otherwise(0L)).as("low_line_count"))
        .orderBy($"l_linestatus")
    },

    // Aggregate-filter (HAVING).
    QueryKey("q13_having",
      """SELECT o_custkey, count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS spent
        |FROM orders GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("n_orders"),
             (sum(cents($"o_totalprice")) / 100.0).as("spent"))
        .filter($"n_orders" >= 15)
        .orderBy($"o_custkey")
    },

    // Union + duplicate elimination.
    QueryKey("q14_union_dedup",
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey AS nationkey FROM supplier) t
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.customer(s, dir).select($"c_nationkey".as("nationkey"))
        .union(Tables.supplier(s, dir).select($"s_nationkey".as("nationkey")))
        .distinct()
        .orderBy($"nationkey")
    },

    // Hierarchical ROLLUP.
    QueryKey("q15_rollup",
      """SELECT r_name, n_name, count(*) AS n_customers
        |FROM customer, nation, region
        |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
    },

    // Pivot to wide aggregation. Absent (flag, status) combos pivot to
    // NULL in Spark but count to 0 under the oracle's FILTER-agg — fill
    // so the two shapes agree on sparse distributions.
    QueryKey("q16_pivot",
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_linestatus = 'F') AS "F",
        |  count(*) FILTER (WHERE l_linestatus = 'O') AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("F", "O"))
        .orderBy($"l_returnflag")
    },

    // Per-group scalar subquery threshold (TPC-H Q17 analog).
    QueryKey("q17_scalar_subquery",
      """SELECT sum(CAST(round(l_extendedprice*100) AS BIGINT)) / 100.0 / 7.0 AS avg_yearly
        |FROM lineitem, part,
        |  (SELECT l_partkey AS a_partkey,
        |     sum(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 / count(*) AS avg_qty
        |   FROM lineitem GROUP BY l_partkey) a
        |WHERE p_partkey = l_partkey AND a_partkey = l_partkey
        |  AND p_brand = 'Brand#2' AND l_quantity < avg_qty * 0.2""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val p  = Tables.part(s, dir).filter($"p_brand" === "Brand#2")
      val avgq = li.groupBy($"l_partkey".as("a_partkey"))
        .agg((sum(cents($"l_quantity")) / 100.0 / count(lit(1))).as("avg_qty"))
      li.join(broadcast(p), $"l_partkey" === $"p_partkey")
        .join(avgq, $"l_partkey" === $"a_partkey")
        .filter($"l_quantity" < $"avg_qty" * 0.2)
        .agg((sum(cents($"l_extendedprice")) / 100.0 / 7.0).as("avg_yearly"))
    },

    // Large-group detection (TPC-H Q18 analog).
    QueryKey("q18_groupby_in",
      """SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_totalprice, sum_qty
        |FROM orders, customer,
        |  (SELECT l_orderkey AS b_orderkey,
        |     sum(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty
        |   FROM lineitem GROUP BY l_orderkey) b
        |WHERE o_orderkey = b_orderkey AND o_custkey = c_custkey AND sum_qty > 250.0
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin) { (s, dir) =>
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val big = li.groupBy($"l_orderkey".as("b_orderkey"))
        .agg((sum(cents($"l_quantity")) / 100.0).as("sum_qty"))
        .filter($"sum_qty" > 250.0)
      Tables.orders(s, dir)
        .join(big, $"o_orderkey" === $"b_orderkey")
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .select($"c_custkey", $"c_name", $"o_orderkey", $"o_orderdate", $"o_totalprice", $"sum_qty")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .limit(100)
    },

    // Multi-key global sort with explicit null ordering.
    QueryKey("q19_multi_sort",
      """SELECT l_returnflag, CAST(l_shipdate AS TIMESTAMP) AS l_shipdate, l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_quantity >= 49.0
        |ORDER BY l_returnflag ASC, l_shipdate DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 500""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .filter($"l_quantity" >= 49.0)
        .select($"l_returnflag", $"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity")
        .orderBy($"l_returnflag".asc, $"l_shipdate".desc, $"l_orderkey".asc, $"l_linenumber".asc)
        .limit(500)
    },

    // Skew-safe two-phase aggregation (salt + combine); identical
    // result to a direct groupBy, reducer load split across salts.
    QueryKey("q21_skew_agg",
      """SELECT event_type AS key, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY key""".stripMargin) { (s, dir) =>
      import s.implicits._
      graft.operators.Relational
        .saltedCount(Tables.events(s, dir), $"event_type", $"event_id", salts = 16)
        .orderBy($"key")
    },

    // Full CUBE aggregation (all grouping-set combinations).
    QueryKey("q22_cube",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  sum(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.lineitem(s, dir)
        .cube($"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"),
             (sum(cents($"l_quantity")) / 100.0).as("qty"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    },

    // The SQL API surface: identical semantics to q3, expressed as ANSI
    // SQL over registered temp views (the engine is equally driveable
    // from spark.sql).
    QueryKey("q23_sql_api",
      q3Oracle) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.customer(s, dir).createOrReplaceTempView("v_customer")
      s.sql("""
        SELECT l_orderkey, o_orderdate,
          sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) / CAST(10000.0 AS DOUBLE) AS revenue
        FROM v_lineitem JOIN v_orders ON l_orderkey = o_orderkey
        JOIN v_customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10""")
    },

    // MATERIALIZED-VIEW rewrite (the custom Rule[LogicalPlan] extension
    // surface — injectOptimizerRule — made to do real work): a rollup
    // layout over (l_returnflag, l_linestatus) is built ONCE
    // (DerivedLayouts); the query a user writes aggregates the FACT at
    // coarser grain (l_returnflag only), and the registered MvRewrite
    // rule substitutes the 6-row MV for the fact scan — the query never
    // reads lineitem (PlanSpec: mv path scanned, no fact file, rewrite
    // counter fired, and flag-off runs match row-for-row). Sums stay
    // exact: the MV stores integer-cents partials, COUNT rewrites to
    // SUM(n_rows) — decomposable aggregation, the same algebra as m27's
    // incremental rollup, now applied BY THE OPTIMIZER. At 100 TB this
    // is the BI-dashboard lever: the repeated coarse aggregate costs
    // |groups| rows instead of a fact scan. Opt-in per session so a
    // registry hit never silently changes another query's plan gates.
    QueryKey("q60_mv_rewrite",
      // the oracle aggregates the FACT directly — identical results prove
      // the MV substitution is semantics-preserving (decomposable sums)
      """SELECT l_returnflag,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s0, dir) =>
      import graft.plans.MvRewrite
      import graft.sources.DerivedLayouts
      // isolated session (the q39 pattern): the opt-in flag lives and
      // dies with THIS query — in a shared session a later bare
      // count(*) by l_returnflag over lineitem (q10's n_lines leg)
      // would silently answer from the MV too: result-identical, but a
      // plan/bench distortion no flag audit would catch
      val s = s0.newSession()
      val base = DerivedLayouts.once(s"mvrollup|$dir") { path =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(cents(col("l_quantity"))).as("qty_c"),
            sum(cents(col("l_extendedprice"))).as("price_c"),
            min(cents(col("l_extendedprice"))).as("price_min_c"),
            max(cents(col("l_extendedprice"))).as("price_max_c"),
            count(lit(1)).as("n_rows"))
          .write.parquet(s"$path/mv")
      }
      // register() resolves the MV plan + fact fingerprint ONCE — the
      // rule never re-lists files per optimization pass
      MvRewrite.register(MvRewrite.MvDef(
        factFragment = s"$dir/lineitem.parquet", mvPath = s"$base/mv",
        groupCols = Set("l_returnflag", "l_linestatus"),
        centsCols = Map("l_quantity" -> "qty_c", "l_extendedprice" -> "price_c"),
        countCol = "n_rows",
        minCols = Map("l_extendedprice" -> "price_min_c"),
        maxCols = Map("l_extendedprice" -> "price_max_c")), s)
      s.conf.set("spark.graft.mv.enabled", "true")
      // the user's query — written against the FACT, answered by the MV
      // (bare integer-cents sums: the rule vetoes any wrapped aggregate,
      // so matched queries are exactly the decomposable-sum shape)
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"),
          sum(cents(col("l_extendedprice"))).as("sum_price_c"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // SQL UDFs (Spark 4's CREATE FUNCTION ... RETURN — the DECLARATIVE
    // function surface that replaces opaque Scala/Python UDFs for
    // business logic): a scalar cents UDF, a scalar net-revenue UDF
    // COMPOSED from it, and a TABLE UDF (RETURNS TABLE) holding the
    // quantity-tier dimension — all three defined in SQL, so Catalyst
    // INLINES the bodies at analysis time and the physical plan carries
    // plain codegen'd arithmetic: zero ScalaUDF/Invoke nodes, pushdown
    // and constant folding see through every call (PlanSpec-gated).
    // This is the governance surface a 100-TB shop wants: the cents
    // convention written ONCE, reused by name, and still free.
    QueryKey("q59_sql_udf",
      // the UDF bodies inlined by hand — byte-identical semantics proves
      // Spark's SQL-UDF inlining preserved the arithmetic exactly
      """WITH t(tier, lo, hi) AS (VALUES (1, 0, 10), (2, 10, 25), (3, 25, 100))
        |SELECT l_returnflag, CAST(t.tier AS INT) AS tier,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS net_c2
        |FROM lineitem l JOIN t ON l.l_quantity >= t.lo AND l.l_quantity < t.hi
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("v59_lineitem")
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(x DOUBLE) " +
        "RETURNS BIGINT RETURN CAST(round(x * 100) AS BIGINT)")
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_net_c2(p DOUBLE, d DOUBLE) " +
        "RETURNS BIGINT RETURN graft_cents(p) * (100 - graft_cents(d))")
      s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_qty_tiers() " +
        "RETURNS TABLE (tier INT, lo INT, hi INT) " +
        "RETURN SELECT * FROM VALUES (1, 0, 10), (2, 10, 25), (3, 25, 100) t(tier, lo, hi)")
      s.sql("""
        SELECT l_returnflag, t.tier,
          CAST(count(*) AS BIGINT) AS n,
          sum(graft_net_c2(l_extendedprice, l_discount)) AS net_c2
        FROM v59_lineitem l JOIN graft_qty_tiers() t
          ON l.l_quantity >= t.lo AND l.l_quantity < t.hi
        GROUP BY l_returnflag, t.tier
        ORDER BY l_returnflag, t.tier""")
    },

    // top-n per group through the custom TopNPerKey physical operator
    // (bounded per-key heaps; no per-group sort — see graft.plans).
    QueryKey("q24_topn_custom",
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      import s.implicits._
      graft.operators.Relational.topNPerGroupFast(
          Tables.lineitem(s, dir)
            .select($"l_returnflag", $"l_orderkey", $"l_linenumber", $"l_extendedprice"),
          n = 3,
          part = Seq("l_returnflag"),
          order = Seq(("l_extendedprice", false), ("l_orderkey", true), ("l_linenumber", true)))
        .orderBy($"l_returnflag", $"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    },

    // window-function breadth: first/last/lag/lead/ntile in one pass.
    QueryKey("q25_window_misc",
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_order,
        |  last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
        |  lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
        |  lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_order,
        |  CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS quartile
        |FROM orders WHERE o_custkey < 50
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .filter($"o_custkey" < 50)
        .select($"o_custkey", $"o_orderkey", $"o_orderdate")
        .withColumn("first_order", first($"o_orderkey").over(wFull))
        .withColumn("last_order", last($"o_orderkey").over(wFull))
        .withColumn("prev_order", lag($"o_orderkey", 1).over(w))
        .withColumn("next_order", lead($"o_orderkey", 1).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .drop("o_orderdate")
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // INTERSECT: nations hosting both customers and suppliers.
    QueryKey("q26_intersect",
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.customer(s, dir).select($"c_nationkey".as("nationkey"))
        .intersect(Tables.supplier(s, dir).select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },

    // EXCEPT: customer nations minus low-nation-id supplier nations.
    QueryKey("q27_except",
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier WHERE s_nationkey < 10
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.customer(s, dir).select($"c_nationkey".as("nationkey"))
        .except(Tables.supplier(s, dir).filter($"s_nationkey" < 10)
          .select($"s_nationkey".as("nationkey")))
        .orderBy($"nationkey")
    },

    // non-equi range join: events against derived maintenance windows
    // (ts ∈ [start, end)); the interval side is tiny and broadcast, so
    // the range predicate never drives a cartesian of two big sides.
    QueryKey("q28_range_join",
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |w AS (SELECT CAST(i AS INT) AS win_id,
        |    (SELECT min(ts_us) FROM e) + i * 259200000000 AS start_us,
        |    (SELECT min(ts_us) FROM e) + i * 259200000000 + 86400000000 AS end_us
        |  FROM generate_series(0, 9) t(i))
        |SELECT win_id, count(*) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM e JOIN w ON ts_us >= start_us AND ts_us < end_us
        |GROUP BY win_id ORDER BY win_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir).withColumn("ts_us", unix_micros($"ts"))
      val base = ev.agg(min($"ts_us").as("base_us"))
      // 10 windows of 1 day, every 3 days from the earliest event
      val windows = base.select($"base_us",
          explode(expr("sequence(0, 9)")).as("win_id"))
        .select($"win_id",
          ($"base_us" + $"win_id" * lit(259200000000L)).as("start_us"),
          ($"base_us" + $"win_id" * lit(259200000000L) + lit(86400000000L)).as("end_us"))
      ev.join(broadcast(windows),
          $"ts_us" >= $"start_us" && $"ts_us" < $"end_us")
        .groupBy($"win_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"))
        .orderBy($"win_id")
    },

    // explicit GROUPING SETS (beyond rollup/cube): the four grouping
    // combinations in one Expand pass, with grouping() flags
    // disambiguating a real NULL from a grouping-set NULL.
    QueryKey("q29_grouping_sets",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n,
        |  sum(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status,
        |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("v_li_gs")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               count(*) AS n,
               sum(CAST(round(l_quantity*100) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_qty
        FROM v_li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus), ())
        ORDER BY g_flag, g_status,
          l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    },

    // FULL OUTER join: reconcile two aggregated sides where either may
    // lack a key (customer-nations vs low-id supplier-nations); the
    // pre-aggregation keeps both sides tiny before the join.
    QueryKey("q30_full_outer",
      """SELECT nationkey,
        |  CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
        |  CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
        |      FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
        |      FROM supplier WHERE s_nationkey < 15 GROUP BY 1) s
        |  USING (nationkey)
        |ORDER BY nationkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      val c = Tables.customer(s, dir)
        .groupBy($"c_nationkey".as("nationkey"))
        .agg(count(lit(1)).as("n_cust"))
      val su = Tables.supplier(s, dir).filter($"s_nationkey" < 15)
        .groupBy($"s_nationkey".as("nationkey"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, Seq("nationkey"), "full_outer")
        .select($"nationkey",
          coalesce($"n_cust", lit(0L)).as("n_cust"),
          coalesce($"n_supp", lit(0L)).as("n_supp"))
        .orderBy($"nationkey")
    },

    // distributed quantile bucketing WITHOUT a global sort: exact
    // quartile boundaries come from a bounded price histogram
    // (floor(price/100) buckets; the cum-sum window runs over the tiny
    // histogram whose size is bounded by the price DOMAIN, not the
    // table), broadcast back, quartile assigned map-side. The ntile()
    // formulation would single-task the whole table at scale.
    QueryKey("q31_quantile_bucket",
      """WITH o AS (SELECT CAST(floor(o_totalprice / 100) AS BIGINT) AS pb FROM orders),
        |hist AS (SELECT pb, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1),
        |c AS (SELECT pb,
        |    sum(cnt) OVER (ORDER BY pb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER () AS n FROM hist),
        |b AS (SELECT min(CASE WHEN cum >= (n + 3) // 4 THEN pb END) AS b25,
        |    min(CASE WHEN cum >= (n + 1) // 2 THEN pb END) AS b50,
        |    min(CASE WHEN cum >= (3*n + 3) // 4 THEN pb END) AS b75 FROM c)
        |SELECT 1 + CAST(pb > b25 AS INT) + CAST(pb > b50 AS INT) + CAST(pb > b75 AS INT) AS quartile,
        |  CAST(count(*) AS BIGINT) AS n_orders, min(pb) AS min_pb, max(pb) AS max_pb
        |FROM o CROSS JOIN b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val o = Tables.orders(s, dir)
        .select(floor($"o_totalprice" / 100).cast("long").as("pb"))
      val hist = o.groupBy($"pb").agg(count(lit(1)).as("cnt"))
      val wc = Window.orderBy($"pb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bounds = hist
        .withColumn("cum", sum($"cnt").over(wc))
        .withColumn("n", sum($"cnt").over(Window.partitionBy()))
        .agg(
          min(when($"cum" >= expr("(n + 3) div 4"), $"pb")).as("b25"),
          min(when($"cum" >= expr("(n + 1) div 2"), $"pb")).as("b50"),
          min(when($"cum" >= expr("(3 * n + 3) div 4"), $"pb")).as("b75"))
      o.crossJoin(broadcast(bounds))
        .withColumn("quartile", lit(1) + ($"pb" > $"b25").cast("int")
          + ($"pb" > $"b50").cast("int") + ($"pb" > $"b75").cast("int"))
        .groupBy($"quartile")
        .agg(count(lit(1)).as("n_orders"),
          min($"pb").as("min_pb"), max($"pb").as("max_pb"))
        .orderBy($"quartile")
    },

    // Correlated subqueries through the SQL surface: a correlated
    // SCALAR aggregate subquery (orders above their customer's average
    // order value, in truncating integer cents so both engines agree
    // bit-for-bit) plus a correlated EXISTS. Catalyst de-correlates
    // both (RewriteCorrelatedScalarSubquery → aggregate + join;
    // EXISTS → left-semi join) — no per-row re-execution, no nested
    // loop; asserted in PlanSpec. Scale shape: one hash shuffle of
    // orders on o_custkey for the per-customer aggregate, one semi
    // join on the order key.
    QueryKey("q32_correlated_subquery",
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) >
        |    (SELECT CAST(sum(CAST(round(o2.o_totalprice * 100) AS BIGINT)) AS BIGINT) // count(*)
        |     FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM v_orders o
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) >
            (SELECT sum(CAST(round(o2.o_totalprice * 100) AS BIGINT)) div count(*)
             FROM v_orders o2 WHERE o2.o_custkey = o.o_custkey)
          AND EXISTS (SELECT 1 FROM v_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        ORDER BY o_orderkey""")
    },

    // Bag-semantics set operations: INTERSECT ALL / EXCEPT ALL keep
    // MULTIPLICITY (min/difference of per-value counts) where q26/q27's
    // set forms collapse duplicates — the right algebra for comparing
    // two shipment half-years where a part shipping 5× then 3× should
    // count 3 common + 2 extra, not 1 + 0. Catalyst rewrites both to
    // count-based aggregates + generate (no sort-based dedup of the
    // fact). Output is the three reconciliation counts.
    QueryKey("q35_bag_setops",
      """SELECT op, count(*) AS n FROM (
        |  SELECT 'intersect_all' AS op, pk FROM (
        |    SELECT l_partkey AS pk FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
        |    INTERSECT ALL
        |    SELECT l_partkey FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1997-07-01' AND l_shipdate < TIMESTAMP '1998-01-01') ia
        |  UNION ALL
        |  SELECT 'except_all' AS op, pk FROM (
        |    SELECT l_partkey AS pk FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
        |    EXCEPT ALL
        |    SELECT l_partkey FROM lineitem
        |    WHERE l_shipdate >= TIMESTAMP '1997-07-01' AND l_shipdate < TIMESTAMP '1998-01-01') ea
        |  UNION ALL
        |  SELECT 'union_all' AS op, l_partkey AS pk FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |) u GROUP BY op ORDER BY op""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT op, count(*) AS n FROM (
          SELECT 'intersect_all' AS op, pk FROM (
            SELECT l_partkey AS pk FROM v_lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
            INTERSECT ALL
            SELECT l_partkey FROM v_lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-07-01' AND l_shipdate < TIMESTAMP '1998-01-01') ia
          UNION ALL
          SELECT 'except_all' AS op, pk FROM (
            SELECT l_partkey AS pk FROM v_lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
            EXCEPT ALL
            SELECT l_partkey FROM v_lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-07-01' AND l_shipdate < TIMESTAMP '1998-01-01') ea
          UNION ALL
          SELECT 'union_all' AS op, l_partkey AS pk FROM v_lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        ) u GROUP BY op ORDER BY op""")
    },

    // NULL-aware anti join: NOT IN (subquery) under three-valued logic —
    // a row whose key is NULL compares NULL to every subquery value, so
    // it NEVER qualifies (unlike NOT EXISTS / left-anti q6, which keeps
    // it). A nullable key fixture (every 97th order) exercises exactly
    // that divergence; both engines share ANSI semantics so the oracle
    // is the same SQL. Catalyst plans the single-column case as a
    // broadcast null-aware anti join, not a per-row subquery — asserted
    // in PlanSpec.
    QueryKey("q34_nullaware_anti",
      """SELECT o_orderkey, o_custkey
        |FROM (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN CAST(NULL AS BIGINT)
        |         ELSE o_custkey END AS o_custkey
        |  FROM orders) o
        |WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.customer(s, dir).createOrReplaceTempView("v_customer")
      s.sql("""
        SELECT o_orderkey, o_custkey
        FROM (SELECT o_orderkey,
            CASE WHEN o_orderkey % 97 = 0 THEN CAST(NULL AS BIGINT)
                 ELSE o_custkey END AS o_custkey
          FROM v_orders) o
        WHERE o_custkey NOT IN
            (SELECT c_custkey FROM v_customer WHERE c_mktsegment = 'BUILDING')
        ORDER BY o_orderkey""")
    },

    // RANGE-frame window: trailing 7-day revenue per customer. RANGE
    // (value-based) frames differ from ROWS frames exactly when the
    // order key has gaps or ties — the frame is "all peers within 6
    // days", not "6 preceding rows" — and same-day orders are peers
    // that see each other's totals. Sums are integer cents inside the
    // frame (order-free), one division to the reported double. Scale
    // shape: the window partitions by o_custkey (high cardinality,
    // parallelizes per customer); one hash exchange + per-key sort.
    QueryKey("q33_range_frame",
      """SELECT o_orderkey, o_custkey, CAST(day AS INT) AS day,
        |  CAST(sum(pc) OVER (PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_7d_cents,
        |  CAST(CAST(sum(pc) OVER (PARTITION BY o_custkey ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE) / 100.0 AS trailing_7d
        |FROM (SELECT o_orderkey, o_custkey,
        |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders) t
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("day")).rangeBetween(-6, 0)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          expr("datediff(CAST(o_orderdate AS DATE), DATE'1992-01-01')").as("day"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("pc"))
        .withColumn("trailing_7d_cents", sum(col("pc")).over(w))
        .select(col("o_orderkey"), col("o_custkey"), col("day"),
          col("trailing_7d_cents"),
          (col("trailing_7d_cents").cast("double") / 100.0).as("trailing_7d"))
        .orderBy(col("o_orderkey"))
    },

    // String predicates + transforms (LIKE, regexp, case/substr/concat).
    QueryKey("q20_string_ops",
      """SELECT p_partkey, upper(p_name) AS uname,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  substring(p_type, 1, 4) AS type_prefix,
        |  concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part
        |WHERE p_name LIKE '%e%' AND regexp_matches(p_name, '^(red|blue|hot)')
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      import s.implicits._
      Tables.part(s, dir)
        .filter($"p_name".like("%e%") && $"p_name".rlike("^(red|blue|hot)"))
        .select($"p_partkey",
          upper($"p_name").as("uname"),
          length($"p_name").as("name_len"),
          substring($"p_type", 1, 4).as("type_prefix"),
          concat_ws("|", $"p_brand", $"p_type").as("brand_type"))
        .orderBy($"p_partkey")
    },

    // bucketed CO-LOCATED join — the storage-layout lever for the
    // 100-TB fact⋈fact join: both sides are WRITTEN bucketed on the
    // join key (8 buckets here; thousands on a cluster), so the
    // sort-merge join reads pre-partitioned buckets and needs NO
    // exchange on either input (gated in PlanSpec; the only shuffles
    // left are the post-join segment agg and the final sort, both on
    // tiny aggregate rows). hint("merge") pins the SMJ so the
    // co-located shape — not a broadcast — is what executes even at
    // small SF. The bucketed write is PART of the measured operator:
    // layout cost is paid once, and every later join on the key is
    // shuffle-free.
    QueryKey("q36_bucketed_join",
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) / 100.0 AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      // the bucketed layout is genuinely paid ONCE (per JVM + source
      // dir, DerivedLayouts) — matching the stated cost model above and
      // avoiding an orphaned table dir per invocation; table names
      // carry the source-dir tag so multiple SFs in one JVM never
      // cross-read
      val tag = java.lang.Integer.toHexString(dir.hashCode)
      graft.sources.DerivedLayouts.once(s"bucketed_oc|$dir") { p =>
        Tables.orders(s, dir).select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$p/orders").saveAsTable(s"graft_q36_orders_$tag")
        Tables.customer(s, dir).select($"c_custkey", $"c_mktsegment")
          .write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$p/customer").saveAsTable(s"graft_q36_customer_$tag")
      }
      s.table(s"graft_q36_orders_$tag").hint("merge")
        .join(s.table(s"graft_q36_customer_$tag"), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          (sum(cents($"o_totalprice")) / 100.0).as("total_price"))
        .orderBy($"c_mktsegment")
    },

    // multi-format source/sink fidelity: the same fact slice written as
    // ORC, CSV, and JSON, read back through each reader (explicit
    // schema — no inference), and aggregated — the three rows MUST
    // carry identical values, so any writer/reader mangling (quoting,
    // date parsing, double round-trip, header handling) breaks the
    // hash against the parquet-derived oracle. This is the ingest
    // reality of a 100-TB pipeline: upstream drops mixed formats, and
    // the engine must read them all without value drift. Each format is
    // scanned independently (three bounded scans of the written slice,
    // one partial agg each — no shuffle beyond the 3-row union).
    // baseline: byte-linear 3-write/3-read roundtrip
    QueryKey("q37_format_roundtrip",
      """WITH a AS (SELECT count(*) AS n,
        |    sum(CAST(round(l_quantity*100) AS BIGINT)) / 100.0 AS qty,
        |    CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_flags,
        |    CAST(min(l_shipdate) AS TIMESTAMP) AS min_ship,
        |    CAST(max(l_shipdate) AS TIMESTAMP) AS max_ship,
        |    CAST(sum(length(cmt)) AS BIGINT) AS cmt_chars,
        |    max(cmt) AS max_cmt
        |  FROM (SELECT *, l_returnflag || ',"' || l_linestatus || '",' ||
        |      CAST(l_orderkey AS VARCHAR) AS cmt FROM lineitem) t)
        |SELECT f.format, a.* FROM a
        |CROSS JOIN (VALUES ('csv'), ('json'), ('orc')) f(format)
        |ORDER BY f.format""".stripMargin, baseline = true) { (s, dir) =>
      import s.implicits._
      // stable dir per (JVM, source dir): the 3 writes + 3 reads ARE
      // the measured op and run on EVERY invocation (mode overwrite) —
      // only the directory is reused, so bench passes stop accumulating
      // format copies in /tmp
      val base = graft.sources.DerivedLayouts.once(s"q37_roundtrip|$dir")(_ => ())
      // cmt embeds commas AND double quotes so the CSV writer must
      // quote-and-escape; any mangling shifts the length/min/max aggs
      // spread before the 3 format writes (r15, guide §2.5): the
      // single-row-group scan made every writer SINGLE-TASK — the whole
      // CSV/JSON/ORC encode ran serially; at real scale the input
      // splits and the writers are parallel anyway
      val li = graft.operators.Relational.spread(
          Tables.lineitem(s, dir), $"l_orderkey")
        .select($"l_orderkey", $"l_quantity", $"l_shipdate", $"l_returnflag",
          concat($"l_returnflag", lit(",\""), $"l_linestatus", lit("\","),
            $"l_orderkey".cast("string")).as("cmt"))
        // r16: pin the spread rows once — each writer otherwise re-ran
        // the scan + spread exchange (3 scans, 3 exchanges for one
        // logical frame)
        .localCheckpoint()
      // overlap the three independent write JOBS from driver threads
      // (guide §2.6): each write's commit/file-open tail otherwise
      // leaves the cluster idle while the next writer waits
      val wErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val writers = Seq[() => Unit](
        () => li.write.mode("overwrite").orc(s"$base/orc"),
        () => li.write.mode("overwrite").option("header", "true").csv(s"$base/csv"),
        () => li.write.mode("overwrite").json(s"$base/json"))
        .map(f => new Thread(() => try f() catch {
          case t: Throwable => wErr.compareAndSet(null, t)
        }))
      writers.foreach(_.start()); writers.foreach(_.join())
      if (wErr.get() != null) throw wErr.get()
      val schema = li.schema
      def aggOf(df: DataFrame, fmt: String): DataFrame =
        df.agg(count(lit(1)).as("n"),
          (sum(cents($"l_quantity")) / 100.0).as("qty"),
          countDistinct($"l_returnflag").as("n_flags"),
          min($"l_shipdate").cast("timestamp_ntz").as("min_ship"),
          max($"l_shipdate").cast("timestamp_ntz").as("max_ship"),
          sum(length($"cmt")).as("cmt_chars"), max($"cmt").as("max_cmt"))
          .select(lit(fmt).as("format"), col("*"))
      aggOf(s.read.option("header", "true").schema(schema).csv(s"$base/csv"), "csv")
        .union(aggOf(s.read.schema(schema).json(s"$base/json"), "json"))
        .union(aggOf(s.read.schema(schema).orc(s"$base/orc"), "orc"))
        .orderBy($"format")
    },

    // schema EVOLUTION read — the 100-TB reality q37 doesn't cover: a
    // corpus written in waves over years, where later shards carry
    // columns earlier ones don't (here wave 2 adds `quality`). One
    // mergeSchema read unions the physical schemas; legacy rows surface
    // the new column as NULL, and the aggregation must treat them
    // first-class (count them, null-safe-sum the rest). No rewrite of
    // the old shards, no per-wave branching in the query — the exact
    // contract a long-lived training corpus needs from its engine.
    QueryKey("q38_schema_evolution",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN doc_id % 100 ELSE 0 END) AS BIGINT)
        |    AS sum_quality
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      import s.implicits._
      // wave layout written once per (JVM, source dir) — repeated bench
      // passes re-measure the mergeSchema READ, not the fixture build
      val base = graft.sources.DerivedLayouts.once(s"doc_waves|$dir") { p =>
        val docs = Tables.documents(s, dir)
        docs.filter($"doc_id" % 2 === 0)
          .select($"doc_id", $"lang", $"n_chars")
          .write.mode("overwrite").parquet(s"$p/wave1")
        docs.filter($"doc_id" % 2 === 1)
          .select($"doc_id", $"lang", $"n_chars", ($"doc_id" % 100).as("quality"))
          .write.mode("overwrite").parquet(s"$p/wave2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$base/wave1", s"$base/wave2")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"),
          sum(when($"quality".isNull, 1L).otherwise(0L)).as("n_legacy"),
          sum(coalesce($"quality", lit(0L))).as("sum_quality"))
        .orderBy($"lang")
    },

    // RUNTIME bloom-filter join pruning — p12's DPP sibling for
    // NON-partition join keys: a selective slice of one fact side
    // becomes a bloom filter evaluated INSIDE the other side's scan
    // stage (might_contain — gated in PlanSpec), so most fact rows die
    // before the join shuffle instead of after it. This is the
    // production shape of a selective fact⋈fact join at 100 TB, where
    // the filtered side is far too big to broadcast: an SMJ whose
    // shuffle carries only probable matches. Demonstrated in an
    // isolated child session with broadcast off + the application-side
    // size threshold floored, because at bench SF the filtered side
    // would broadcast and the fact scan is below the 10 GB default —
    // the mechanism, not the thresholds, is what must scale.
    QueryKey("q39_runtime_filter",
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s0, dir) =>
      val s = s0.newSession()
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      import s.implicits._
      val urgent = Tables.orders(s, dir)
        .filter($"o_orderpriority" === "1-URGENT").select($"o_orderkey")
      Tables.lineitem(s, dir)
        .join(urgent, $"l_orderkey" === $"o_orderkey")
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n"), (sum(cents($"l_quantity")) / 100.0).as("qty"))
        .orderBy($"l_returnflag")
    },

    // native recursive CTE (Spark 4 WITH RECURSIVE → UnionLoopExec,
    // PlanSpec-gated): transitive closure over a parent-link hierarchy —
    // the topology-walk class (shard → node → replica trees, dependency
    // chains, org rollups) that previously needed driver-side iteration
    // (d9/s10's loop shape) or an external engine. The hierarchy is
    // deterministic from the key (parent = id div 4, roots ≤ 3), so the
    // per-(root, depth) census is exactly reproducible in DuckDB's
    // recursive CTE. Each recursion level is one join against the
    // previous frontier — never the closure so far — and levels are
    // bounded by log4(maxkey), so the loop terminates at any corpus
    // size with per-level work proportional to that level's frontier.
    QueryKey("q40_recursive_cte",
      """WITH RECURSIVE h(id, root, depth) AS (
        |  SELECT s_suppkey, s_suppkey, 0 FROM supplier WHERE s_suppkey <= 3
        |  UNION ALL
        |  SELECT s.s_suppkey, h.root, h.depth + 1
        |  FROM supplier s JOIN h ON s.s_suppkey // 4 = h.id
        |  WHERE s.s_suppkey >= 4)
        |SELECT root, depth, count(*) AS n_nodes, CAST(sum(id) AS BIGINT) AS sum_ids
        |FROM h GROUP BY root, depth ORDER BY root, depth""".stripMargin) { (s, dir) =>
      Tables.supplier(s, dir).createOrReplaceTempView("rc_supplier")
      s.sql("""
        WITH RECURSIVE h(id, root, depth) AS (
          SELECT s_suppkey, s_suppkey, 0 FROM rc_supplier WHERE s_suppkey <= 3
          UNION ALL
          SELECT s.s_suppkey, h.root, h.depth + 1
          FROM rc_supplier s JOIN h ON s.s_suppkey div 4 = h.id
          WHERE s.s_suppkey >= 4)
        SELECT root, depth, count(*) AS n_nodes, CAST(sum(id) AS BIGINT) AS sum_ids
        FROM h GROUP BY root, depth ORDER BY root, depth""")
    },

    // native UNPIVOT (melt) — the inverse of q16's pivot, completing
    // the reshape pair: four fact measures unpivot to (measure, cents)
    // LONG rows, then aggregate per (flag, measure). Plans as ONE
    // Expand over ONE scan (q29's grouping-sets shape — ×4 rows
    // map-side, partial agg collapses before the shuffle; PlanSpec-
    // gated), vs m26's hand-rolled struct-explode melt of an already-
    // aggregated row — this is the operator form on the raw fact.
    // Measures pre-scaled to integer cents so sums are exact; the
    // inputs are never NULL, sidestepping unpivot's null-row semantics.
    QueryKey("q41_unpivot",
      """WITH base AS (SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_c,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tax_c
        |  FROM lineitem),
        |u AS (
        |  SELECT l_returnflag, 'qty_c' AS measure, qty_c AS cents FROM base
        |  UNION ALL SELECT l_returnflag, 'price_c', price_c FROM base
        |  UNION ALL SELECT l_returnflag, 'disc_c', disc_c FROM base
        |  UNION ALL SELECT l_returnflag, 'tax_c', tax_c FROM base)
        |SELECT l_returnflag, measure,
        |  CAST(sum(cents) AS BIGINT) / 100.0 AS total,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_c"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc_c"),
        expr("CAST(round(l_tax * 100) AS BIGINT)").as("tax_c"))
      li.unpivot(Array(col("l_returnflag")),
          Array(col("qty_c"), col("price_c"), col("disc_c"), col("tax_c")),
          "measure", "cents")
        .groupBy(col("l_returnflag"), col("measure"))
        .agg((sum(col("cents")) / 100.0).as("total"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("measure"))
    },

    // Correlated LATERAL subquery with per-outer-row ORDER BY + LIMIT —
    // the "top-k related rows for each driving row" surface (q24's
    // TopNPerKey and q8's window-rank express the same need; this is
    // the third, SQL-standard form). Catalyst de-correlates the lateral
    // into a join + per-key limit rather than re-running the subquery
    // per outer row — that rewrite is what makes the surface usable at
    // 100 TB (the naive interpretation is one customer scan per nation).
    QueryKey("q42_lateral",
      """SELECT n.n_name, t.c_name, t.bal_c / 100.0 AS acctbal
        |FROM nation n,
        |LATERAL (
        |  SELECT c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        |  FROM customer c
        |  WHERE c.c_nationkey = n.n_nationkey
        |  ORDER BY bal_c DESC, c_name
        |  LIMIT 2) t
        |ORDER BY n.n_name, t.bal_c DESC, t.c_name""".stripMargin) { (s, dir) =>
      Tables.nation(s, dir).createOrReplaceTempView("lat_nation")
      Tables.customer(s, dir).createOrReplaceTempView("lat_customer")
      s.sql("""
        SELECT n.n_name, t.c_name, t.bal_c / CAST(100.0 AS DOUBLE) AS acctbal
        FROM lat_nation n,
        LATERAL (
          SELECT c_name, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
          FROM lat_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY bal_c DESC, c_name
          LIMIT 2) t
        ORDER BY n.n_name, t.bal_c DESC, t.c_name""")
    },

    // Spark 4 SQL PIPE syntax (|> operators) — the linear query surface
    // (FROM … |> WHERE |> EXTEND |> AGGREGATE |> WHERE-as-HAVING |>
    // SELECT |> ORDER BY): each stage consumes the previous stage's
    // output in reading order, vs ANSI SQL's inside-out nesting. Pure
    // surface — the plan is identical to the ANSI form (one partial-agg
    // shuffle), which the oracle parity proves; post-AGGREGATE WHERE is
    // HAVING, EXTEND before the aggregate is the scalar projection.
    QueryKey("q44_pipe_syntax",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) *
        |           (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT)
        |    / 10000.0 AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |HAVING count(*) > 100
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("pipe_lineitem")
      s.sql("""
        FROM pipe_lineitem
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |> EXTEND CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                  CAST(round(l_discount * 100) AS BIGINT) AS disc_c
        |> AGGREGATE CAST(sum(price_c * (100 - disc_c)) AS BIGINT) AS rev_c4,
                     count(*) AS n
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n > 100
        |> EXTEND rev_c4 / CAST(10000.0 AS DOUBLE) AS revenue
        |> SELECT l_returnflag, l_linestatus, revenue, n
        |> ORDER BY l_returnflag, l_linestatus""")
    },

    // Join STRATEGY hints — the optimizer-override surface for the
    // fact⋈fact joins the size heuristics get wrong at 100 TB (stale
    // stats, post-filter selectivity the planner can't see):
    // SHUFFLE_HASH forces a shuffled hash join — partition-local hash
    // build, NO sort phase on either side — where the default would
    // sort-merge (or broadcast at toy SF). The hint changes the
    // PHYSICAL strategy only; the PlanSpec gate asserts
    // ShuffledHashJoin with zero sorts below the join, and the oracle
    // proves result-identity with the unhinted semantics.
    // functional-dependency audit — the schema-contract half of data
    // profiling (does A determine B?): both audited FDs ride ONE fact
    // scan via a tagged explode (×|FDs| map-side fan-out, never one
    // scan per FD), then (fd, lhs) partial-agg with exact distinct-rhs
    // counts, then a per-fd finish on aggregate rows. On this data the
    // pair gives both verdicts: event_id→event_type HOLDS (unique ids),
    // user_id→event_type is VIOLATED by every user — a real audit must
    // report the clean row too.
    QueryKey("q47_fd_audit",
      """WITH t AS (
        |  SELECT 'event_id->event_type' AS fd, CAST(event_id AS VARCHAR) AS lhs,
        |    event_type AS rhs FROM events
        |  UNION ALL
        |  SELECT 'user_id->event_type', CAST(user_id AS VARCHAR), event_type
        |  FROM events),
        |g AS (SELECT fd, lhs, CAST(count(DISTINCT rhs) AS BIGINT) AS n_variants,
        |    CAST(count(*) AS BIGINT) AS n_rows FROM t GROUP BY 1, 2)
        |SELECT fd, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(CASE WHEN n_variants > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
        |  CAST(max(n_variants) AS BIGINT) AS max_variants,
        |  CAST(sum(n_rows) AS BIGINT) AS n_rows
        |FROM g GROUP BY fd ORDER BY fd""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).select(explode(array(
          struct(lit("event_id->event_type").as("fd"),
            col("event_id").cast("string").as("lhs"), col("event_type").as("rhs")),
          struct(lit("user_id->event_type").as("fd"),
            col("user_id").cast("string").as("lhs"), col("event_type").as("rhs"))
        )).as("x")).select(col("x.fd").as("fd"), col("x.lhs").as("lhs"),
          col("x.rhs").as("rhs"))
        .groupBy(col("fd"), col("lhs"))
        .agg(countDistinct(col("rhs")).as("n_variants"), count(lit(1)).as("n_rows"))
        .groupBy(col("fd"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("n_variants") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
          max(col("n_variants")).as("max_variants"),
          sum(col("n_rows")).as("n_rows"))
        .orderBy(col("fd"))
    },

    // referential-integrity audit — the cross-table half: configured FK
    // contracts checked for orphans. The fact is aggregated ONCE to
    // (key, n_rows) — contract checks then run on that tiny aggregate
    // (anti-join against each parent's distinct keys), so adding a
    // contract never adds a fact scan. Both verdicts on this data:
    // user→customer is CLEAN, user→supplier has orphan keys (the
    // audit's reason to exist).
    QueryKey("q48_ri_audit",
      """WITH kc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_child_rows,
        |    CAST(count(*) AS BIGINT) AS n_child_keys FROM kc),
        |oc AS (SELECT CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS n_orphan_rows,
        |    CAST(count(*) AS BIGINT) AS n_orphan_keys
        |  FROM kc LEFT JOIN customer ON kc.user_id = c_custkey
        |  WHERE c_custkey IS NULL),
        |os AS (SELECT CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS n_orphan_rows,
        |    CAST(count(*) AS BIGINT) AS n_orphan_keys
        |  FROM kc LEFT JOIN supplier ON kc.user_id = s_suppkey
        |  WHERE s_suppkey IS NULL)
        |SELECT fk_contract, n_child_rows, n_child_keys, n_orphan_rows, n_orphan_keys
        |FROM (
        |  SELECT 'user->customer' AS fk_contract, t.n_child_rows, t.n_child_keys,
        |    o.n_orphan_rows, o.n_orphan_keys FROM oc o CROSS JOIN tot t
        |  UNION ALL
        |  SELECT 'user->supplier', t.n_child_rows, t.n_child_keys,
        |    o.n_orphan_rows, o.n_orphan_keys FROM os o CROSS JOIN tot t) u
        |ORDER BY fk_contract""".stripMargin) { (s, dir) =>
      val keyCounts = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_rows"))
        .localCheckpoint()
      def contract(name: String, parent: DataFrame, pk: String): DataFrame =
        keyCounts
          .join(parent.select(col(pk).as("user_id")).distinct(), Seq("user_id"),
            "left_anti")
          .agg(coalesce(sum(col("n_rows")), lit(0L)).as("n_orphan_rows"),
            count(lit(1)).as("n_orphan_keys"))
          .withColumn("fk_contract", lit(name))
      val totals = keyCounts
        .agg(sum(col("n_rows")).as("n_child_rows"), count(lit(1)).as("n_child_keys"))
      contract("user->customer", Tables.customer(s, dir), "c_custkey")
        .unionByName(contract("user->supplier", Tables.supplier(s, dir), "s_suppkey"))
        .crossJoin(broadcast(totals))
        .select(col("fk_contract"), col("n_child_rows"), col("n_child_keys"),
          col("n_orphan_rows"), col("n_orphan_keys"))
        .orderBy(col("fk_contract"))
    },

    // typed Aggregator surface (the one Catalyst extension surface not
    // yet exercised — round-7 verdict #7): a bounded top-k accumulator
    // (functions.TypedAggregators.TopKIds) registered via udaf() and
    // planned as PARTIAL ObjectHashAggregate — O(k) map-side state per
    // group, only finished k-pair buffers cross the shuffle (the
    // contract every built-in agg honors; plan-gated in PlanSpec).
    // k = 1 is exactly max_by with a deterministic tie-break;
    // QueriesSpec proves result-identity with the window top-k form.
    // Total order (cents DESC, partkey ASC) in both engines.
    QueryKey("q49_typed_agg",
      """WITH c AS (SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents, l_partkey
        |  FROM lineitem),
        |r AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey
        |    ORDER BY cents DESC, l_partkey) AS rn FROM c)
        |SELECT l_orderkey,
        |  string_agg(CASE WHEN rn <= 3 THEN CAST(l_partkey AS VARCHAR) END,
        |    ',' ORDER BY rn) AS top_parts,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val topParts = udaf(new graft.functions.TypedAggregators.TopKIds(3))
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
          col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(topParts(col("cents"), col("l_partkey")).as("top_parts"),
          count(lit(1)).as("n_items"))
        .orderBy(col("l_orderkey"))
    },

    // JOIN-CARDINALITY estimation from count sketches (AGMS/CMS inner
    // product — Alon et al. 1999 lineage) — the planning aid that
    // predicts |orders ⋈ lineitem| BEFORE running a 100-TB join: per
    // side, key counts hash into a width-W integer vector (ONE md5 per
    // key; the width-4096 bucket is nibbles 1-3 and width-256 is its
    // div-16 coarsening, so the coarse sketch re-aggregates the fine
    // CENSUS — one corpus pass per side, the shuffle after the partial
    // agg carries ≤W narrow rows, vs the key-cardinality shuffle the
    // exact truth needs). Estimate = Σ_b l[b]·o[b]; collisions only
    // ADD (est ≥ exact, one-sided), and coarsening only adds more
    // (est_256 ≥ est_4096 ≥ exact — asserted in PlanSpec). The exact
    // row is the PRICED truth, same contract as s5/d21: Σ_k n_l·n_o
    // over the key-level join (key-grain aggregates, never the join
    // output itself). err_bp truncates; exact=0 guarded (m39 class).
    QueryKey("q50_join_cardinality", {
      s"""WITH ${censusCte("lc", "l_orderkey", "lineitem")},
         |${censusCte("oc", "o_orderkey", "orders")},
         |lc2 AS (SELECT CAST(b4096 // 16 AS INT) AS b256,
         |    CAST(sum(n) AS BIGINT) AS n FROM lc GROUP BY 1),
         |oc2 AS (SELECT CAST(b4096 // 16 AS INT) AS b256,
         |    CAST(sum(n) AS BIGINT) AS n FROM oc GROUP BY 1),
         |ex AS MATERIALIZED (SELECT CAST(coalesce(sum(a.nl * b.no), 0) AS BIGINT) AS exact
         |  FROM (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nl
         |    FROM lineitem GROUP BY 1) a
         |  JOIN (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS no
         |    FROM orders GROUP BY 1) b USING (k)),
         |e4 AS (SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS est
         |  FROM lc a JOIN oc b USING (b4096)),
         |e2 AS (SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS est
         |  FROM lc2 a JOIN oc2 b USING (b256))
         |SELECT variant, est,
         |  CAST(CASE WHEN exact = 0 THEN NULL
         |    ELSE (est - exact) * 10000 // exact END AS BIGINT) AS err_bp
         |FROM (
         |  SELECT 'exact' AS variant, exact AS est FROM ex
         |  UNION ALL SELECT 'cms_4096', est FROM e4
         |  UNION ALL SELECT 'cms_256', est FROM e2) u, ex
         |ORDER BY variant""".stripMargin
    }) { (s, dir) =>
      import graft.operators.SketchPlanner.census
      def coarse(c: DataFrame) = c
        .groupBy(expr("CAST(b4096 div 16 AS INT)").as("b256"))
        .agg(sum(col("n")).as("n"))
      // the two censuses and the 1-row truth aggregate are INDEPENDENT
      // eager checkpoints (each reused across union branches — the
      // rescan trap) — materialize them from driver threads (guide
      // §2.6, the q37 pattern) so the three jobs overlap instead of
      // running back-to-back
      val ckpt = new Array[DataFrame](3)
      val cErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val builders = Seq[() => DataFrame](
        () => census(Tables.lineitem(s, dir), col("l_orderkey")),
        () => census(Tables.orders(s, dir), col("o_orderkey")),
        // 1-row truth aggregate, crossJoined into all three variant rows
        // AND reused as the exact row's est — checkpoint like lc/oc or
        // it re-evaluates ~4x (the union-branch rescan trap)
        () => Tables.lineitem(s, dir).groupBy(col("l_orderkey").as("k"))
          .agg(count(lit(1)).as("nl"))
          .join(Tables.orders(s, dir).groupBy(col("o_orderkey").as("k"))
            .agg(count(lit(1)).as("no")), Seq("k"))
          .agg(coalesce(sum(col("nl") * col("no")), lit(0L)).as("exact")))
        .zipWithIndex.map { case (f, i) => new Thread(() =>
          try ckpt(i) = f().localCheckpoint()
          catch { case t: Throwable => cErr.compareAndSet(null, t) }) }
      builders.foreach(_.start()); builders.foreach(_.join())
      if (cErr.get() != null) throw cErr.get()
      val Array(lc, oc, exact) = ckpt
      def dot(a: DataFrame, b: DataFrame, key: String) =
        a.join(b.withColumnRenamed("n", "n2"), Seq(key))
          .agg(coalesce(sum(col("n") * col("n2")), lit(0L)).as("est"))
      def row(name: String, est: DataFrame) = est
        .crossJoin(broadcast(exact))
        .select(lit(name).as("variant"), col("est"),
          expr("CASE WHEN exact = 0 THEN NULL " +
            "ELSE (est - exact) * 10000 div exact END").as("err_bp"))
      row("exact", exact.select(col("exact").as("est")))
        .unionByName(row("cms_4096", dot(lc, oc, "b4096")))
        .unionByName(row("cms_256", dot(coarse(lc), coarse(oc), "b256")))
        .orderBy(col("variant"))
    },

    // SKETCH-DRIVEN join strategy (q50 made OPERATIONAL — the round-10
    // verdict's "nothing consumes the estimate" gap): the width-4096
    // census inner product estimates |lineitem ⋈ urgent-orders| from
    // ≤4096-row sketches, and the estimate PICKS the join plan —
    // broadcast under 1e5, shuffle-hash under 1e7, sort-merge above
    // (the tiers flip across our own SFs: sf0.01 ≈ 5.6e4 → broadcast,
    // sf0.1 ≈ 4.5e6 → shuffle_hash, sf1 → merge — scale evidence that
    // the sketch drives real plan changes). The oracle reproduces the
    // SAME estimate and derives the SAME strategy label, so a sketch
    // bug flips the string and breaks the hash; PlanSpec's two-config
    // gate proves the hint is honored (BroadcastHashJoin at the
    // default thresholds, SortMergeJoin/ShuffledHashJoin when forced).
    // See SketchPlanner for the documented 1-row planning probe.
    QueryKey("q56_sketch_join_strategy", {
      // the oracle recomputes the census inner product and derives the
      // strategy with the SAME thresholds — label and estimate both hash
      s"""WITH ${censusCte("lc", "l_orderkey", "lineitem")},
         |${censusCte("oc", "o_orderkey", "orders WHERE o_orderpriority = '1-URGENT'")},
         |e AS (SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS est
         |  FROM lc a JOIN oc b USING (b4096)),
         |j AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         |      AS sum_cents
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |  WHERE o.o_orderpriority = '1-URGENT')
         |SELECT CASE WHEN est < 100000 THEN 'broadcast'
         |            WHEN est < 10000000 THEN 'shuffle_hash'
         |            ELSE 'merge' END AS strategy,
         |  est, n_rows, sum_cents FROM e, j""".stripMargin
    }) { (s, dir) =>
      import graft.operators.SketchPlanner
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val line = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val (joined, strat, est) = SketchPlanner.sketchJoin(
        line, "l_orderkey", urgent, "o_orderkey",
        broadcastMax = 100000L, shuffleHashMax = 10000000L)
      joined.agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(strat).as("strategy"), lit(est).as("est"),
          col("n_rows"), col("sum_cents"))
    },

    // custom DataSourceV2 connector (graft.sources.MetricsFeedSource) —
    // the source-extension surface: a deterministic synthetic feed
    // whose ScanBuilder folds V2 id-range predicates (the filter is
    // answered by PLANNING fewer rows — 2 of 8 fixed-width slices
    // survive here, PlanSpec-gated) and prunes columns (node is never
    // materialized: reader allocates only the pruned schema). Oracle
    // reproduces the feed with DuckDB range() — pure BIGINT row math,
    // no side-channel files. dir unused by design: the source IS the
    // table.
    QueryKey("q51_pushdown_source",
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(sum(id) AS BIGINT) AS sum_id
        |FROM (
        |  ${feedRows(0, 200000)}
        |  WHERE id >= 150000) u
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, _) =>
      val feed = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "200000").option("partitions", "8").load()
      feed.filter(col("id") >= 150000L)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
          sum(col("id")).as("sum_id"))
        .orderBy(col("kind"))
    },

    // DSv2 AGGREGATE pushdown (q51 pushes predicates; this pushes the
    // GROUP BY itself — the JDBC/warehouse-federation surface,
    // SupportsPushDownAggregates): COUNT(*)/SUM/MIN/MAX grouped by kind
    // fold INTO the source, each InputPartition answers its slice's ≤3
    // group rows, and Spark plans only the final merge — at 100 TB the
    // feed rows never cross the connector boundary, |partitions|·|kinds|
    // pre-aggregated rows do (PlanSpec: rowsEmitted ≤ 24 for a 240k-row
    // span, pushed-agg telemetry + description gate). Filters compose:
    // the id range folds first, the aggregation runs on the pruned span.
    QueryKey("q58_agg_pushdown",
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(min(value) AS BIGINT) AS min_value,
        |  CAST(max(value) AS BIGINT) AS max_value
        |FROM (
        |  ${feedRows(0, 300000)}
        |  WHERE id < 240000) u
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, _) =>
      val feed = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "300000").option("partitions", "8").load()
      feed.filter(col("id") < 240000L)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
          min(col("value")).as("min_value"), max(col("value")).as("max_value"))
        .orderBy(col("kind"))
    },

    // FUNCTION-BEARING predicate pushdown (q87 — the feed's one
    // SupportsPushDownV2Filters builder, the face q51's range clamp also
    // rides): a V2 Predicate tree carries predicates the V1 Filter API
    // cannot express — here `id % 3 = 1` arrives as a
    // GeneralScalarExpression("%") leaf and folds into a STRIDE-3
    // lattice scan (each slice walks only ids ≡ 1 mod 3), composing
    // with the plain range clamp (id >= 15000). At 100 TB this is the
    // shard-probe lever: a modulo residue-class scan costs 1/k of the
    // feed over the wire instead of a full scan post-filtered. PlanSpec
    // pins zero Filter above the scan, the stride in the description,
    // and a malformed residue (r >= m) left as a plan Filter.
    QueryKey("q87_v2_predicates",
      // the pushed stride + range: ids ≡ 1 (mod 3) within [15000, 60000)
      s"""SELECT 'node' || CAST(id % 50 AS VARCHAR) AS node,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum($feedValue) AS BIGINT) AS sum_value,
        |  CAST(min(id) AS BIGINT) AS min_id,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM range(15000, 60000) t(id) WHERE id % 3 = 1
        |GROUP BY 1 ORDER BY node""".stripMargin) { (s, _) =>
      val feed = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "60000").option("partitions", "8").load()
      feed.filter(col("id") % 3 === 1 && col("id") >= 15000L)
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("node"))
    },

    // OFFSET + TABLESAMPLE pushdown (q88 — SupportsPushDownOffset /
    // SupportsPushDownTableSample, completing the pushdown matrix after
    // predicates q51/q87 (range and stride, one V2 face), aggregates
    // q58, limit/topN q61, runtime q62, join q83): the feed emits ids
    // ascending across slices, so OFFSET folds to advancing the planned
    // range's low end and TABLESAMPLE [0, f) folds to the contiguous
    // sub-range covering fraction f of the planned span — the JDBC
    // TABLESAMPLE SYSTEM analog (the SOURCE defines the sample as a
    // deterministic range slice; seed ignored, documented). Both assume
    // contiguous ids, so the offset (like limit, topN, aggregate and
    // join) declines once a q87 stride is pushed. OFFSET composes BEHIND the limit push only because
    // the feed's plain LIMIT is COMPLETE (isPartiallyPushed=false for
    // limit, true for topN — a partial limit blocks the engine's
    // OffsetAndLimit rewrite; probed). Engine caveat (probed): the
    // Sample pushes only when it sits DIRECTLY above the scan — a
    // pushed-and-removed Filter in between still blocks the rewrite
    // (rule ordering), so the sampled leg samples the raw feed. Leg 1 =
    // sampled scan [0, 30000), leg 2 = pagination page [30000, 39000);
    // both planned, not filtered (PlanSpec: observables + ranges + the
    // filter-blocks-sample decline pin).
    QueryKey("q88_offset_sample",
      // leg 1: sample [0, 0.3) of the feed = the range slice [0, 30000);
      // leg 2: offset 30000 + limit 9000 = [30000, 39000)
      s"""SELECT 1 AS leg, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum($feedValue) AS BIGINT) AS sum_value,
        |  CAST(min(id) AS BIGINT) AS min_id, CAST(max(id) AS BIGINT) AS max_id
        |FROM range(0, 30000) t(id)
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT),
        |  CAST(sum($feedValue) AS BIGINT),
        |  CAST(min(id) AS BIGINT), CAST(max(id) AS BIGINT)
        |FROM range(30000, 39000) t(id)
        |ORDER BY leg""".stripMargin) { (s, _) =>
      def feed = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "100000").option("partitions", "8").load()
      def acc(df: DataFrame, leg: Int) =
        df.groupBy(lit(leg).as("leg"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
            min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      val sampled = feed.sample(0.3, 42L)
      val page = feed.offset(30000).limit(9000)
      acc(sampled, 1).unionAll(acc(page, 2)).orderBy(col("leg"))
    },

    // DSv2 REPORTED PARTITIONING (the third federation lever after
    // predicate q51 and aggregate q58 pushdown): the source DECLARES
    // its splits clustered by kind (KeyGroupedPartitioning + per-split
    // HasPartitionKey), so the groupBy(kind) aggregate plans BOTH
    // phases with ZERO exchange — the raw rows never shuffle
    // (PlanSpec: no Exchange node above the scan; min/max on `id`
    // deliberately reject the q58 agg-pushdown path so the clustering
    // does the work). The trade is parallelism = |kinds| splits — the
    // honest contract of source-declared clustering, same as a
    // bucketed table. The same key also gates LIMIT/ORDER-BY-id-LIMIT
    // folding INTO the scan (SupportsPushDownLimit/TopN — the feed's
    // ascending-id layout makes top-n a range clamp; PlanSpec asserts
    // the planned range shrank). Session-isolated: v2 bucketing is
    // opt-in per session (the q60 pattern).
    QueryKey("q61_clustered_source",
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(min(id) AS BIGINT) AS min_id,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM (
        |  ${feedRows(0, 240000)}) u
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s0, _) =>
      val s = s0.newSession()
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val feed = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "240000").option("partitions", "8")
        .option("clusterByKind", "true").load()
      feed.groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("kind"))
    },

    // DSv2 RUNTIME filtering (q62 — dynamic pruning generalized to a V2
    // connector, the LAST pushdown face: static predicates q51 →
    // aggregates q58 → limit/top-n + declared partitioning q61 → now
    // the filter that does not EXIST until the join's build side
    // materializes): joining the feed to a selective dim on `id` makes
    // the optimizer plant a DynamicPruningSubquery against the scan's
    // declared filterAttributes; at execution the dim's 300 id values
    // arrive via SupportsRuntimeV2Filtering.filter() and the scan
    // re-plans — slices outside the delivered set's [min, max+1] are
    // never read (PlanSpec: dynamicpruningexpression in-plan, planned
    // range clamped to [120000, 149901), partitions 16 → 2). Pruning is
    // a SUPERSET guarantee — the join still verifies exactly — so the
    // gapped id set is safe. The 100 TB story: the probe side's planned
    // volume is decided by the OTHER side's DATA at runtime, the
    // DPP-on-parquet lever (p12) delivered through the connector API.
    QueryKey("q62_runtime_prune",
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(min(id) AS BIGINT) AS min_id,
        |  CAST(max(id) AS BIGINT) AS max_id
        |FROM (
        |  ${feedRows(0, 300000)}) u
        |JOIN (SELECT k * 100 AS ref_id FROM range(0, 3000) d(k)
        |  WHERE k >= 1200 AND k < 1500) d ON u.id = d.ref_id
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, _) =>
      val feed = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "300000").option("partitions", "16").load()
      val dim = s.range(0, 3000).toDF("k")
        .filter(col("k") >= 1200 && col("k") < 1500)
        .select((col("k") * 100).as("ref_id"))
      feed.join(dim, col("id") === col("ref_id"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("kind"))
    },

    // STORAGE-PARTITIONED JOIN (q69 — the join-side payoff of q61's
    // declared clustering, and Spark's lakehouse answer to q36's
    // bucketed layout delivered through the connector API): BOTH feeds
    // report KeyGroupedPartitioning on kind with per-split
    // HasPartitionKey, so the whole pipeline — baseline aggregate on
    // one feed, join back onto the other feed's RAW rows, final
    // re-aggregate — plans with ZERO exchanges: the fact rows never
    // shuffle ONCE (PlanSpec: no ShuffleExchange anywhere above either
    // scan; broadcast disabled so co-partitioning, not a broadcast,
    // does the work). Semantics: count per kind how many current
    // readings exceed the baseline feed's per-kind mean, compared by
    // integer cross-multiplication (value·base_n > base_sum — exact,
    // no division). The 100 TB story: two co-clustered sources join
    // at fact scale with zero data movement — the SPJ contract
    // (Iceberg's bucket-join) exercised end-to-end through a V2
    // connector. Session-isolated (v2 bucketing is opt-in; the q60
    // pattern).
    QueryKey("q69_spj_join",
      // base feed = range(0,120000), current = range(0,240000); compare by
      // integer cross-multiplication, no division anywhere
      s"""WITH base AS (
        |  SELECT $feedKind AS kind,
        |    CAST(count(*) AS BIGINT) AS base_n,
        |    CAST(sum($feedValue) AS BIGINT) AS base_sum
        |  FROM range(0, 120000) t(id) GROUP BY 1),
        |cur AS (
        |  SELECT $feedKind AS kind,
        |    $feedValue AS value
        |  FROM range(0, 240000) t(id))
        |SELECT cur.kind,
        |  CAST(sum(CASE WHEN cur.value * base.base_n > base.base_sum
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(max(base.base_n) AS BIGINT) AS base_n
        |FROM cur JOIN base ON cur.kind = base.kind
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s0, _) =>
      val s = s0.newSession()
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def feed(n: Long) = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", n.toString).option("partitions", "8")
        .option("clusterByKind", "true").load()
      val base = feed(120000L).groupBy(col("kind"))
        .agg(count(lit(1)).as("base_n"), sum(col("value")).as("base_sum"))
      feed(240000L).join(base, "kind")
        .groupBy(col("kind"))
        .agg(
          sum(when(col("value") * col("base_n") > col("base_sum"), 1L)
            .otherwise(0L)).as("n_above"),
          count(lit(1)).as("n_rows"),
          max(col("base_n")).as("base_n"))
        .orderBy(col("kind"))
    },

    // DSv2 REPORTED ORDERING (q70 — SupportsReportOrdering, the
    // SORT-side twin of q61/q69's partitioning report and the LAST
    // physical-property face of the connector: partitioning says WHERE
    // rows live, ordering says HOW they arrive): each feed split emits
    // [kind ASC, id ASC] (kind constant per clustered split, ids
    // ascending by construction), the scan REPORTS it, and
    // EnsureRequirements drops the per-partition SortExec a sort-merge
    // join would otherwise plant on the FACT scan — composed with
    // q69's co-partitioning the SMJ streams the 180k fact rows with
    // zero exchanges AND zero sorts (PlanSpec gates the fact subtree
    // structurally; the envelope side keeps its 3-row sort because
    // HashAggregate output is inherently unordered).
    // Semantics: per-kind range containment — how many current
    // readings fall inside the baseline feed's [min, max] envelope.
    // The 100 TB story: a source that stores sorted (every LSM/index
    // store) stops paying a redundant cluster-wide sort on every
    // merge join.
    QueryKey("q70_report_ordering",
      s"""WITH env AS (
        |  SELECT $feedKind AS kind,
        |    CAST(min($feedValue) AS BIGINT) AS lo,
        |    CAST(max($feedValue) AS BIGINT) AS hi
        |  FROM range(0, 90000) t(id) GROUP BY 1),
        |cur AS (
        |  SELECT $feedKind AS kind,
        |    $feedValue AS value
        |  FROM range(0, 180000) t(id))
        |SELECT cur.kind,
        |  CAST(sum(CASE WHEN cur.value BETWEEN env.lo AND env.hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(env.lo) AS BIGINT) AS env_lo,
        |  CAST(max(env.hi) AS BIGINT) AS env_hi
        |FROM cur JOIN env ON cur.kind = env.kind
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s0, _) =>
      val s = s0.newSession()
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def feed(n: Long) = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", n.toString).option("partitions", "8")
        .option("clusterByKind", "true").load()
      val envelope = feed(90000L).groupBy(col("kind"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      feed(180000L).join(envelope, "kind")
        .groupBy(col("kind"))
        .agg(
          sum(when(col("value").between(col("lo"), col("hi")), 1L)
            .otherwise(0L)).as("n_inside"),
          count(lit(1)).as("n_rows"),
          min(col("lo")).as("env_lo"), max(col("hi")).as("env_hi"))
        .orderBy(col("kind"))
    },

    // DSv2 REPORTED STATISTICS (q65 — the OPTIMIZER-facing twin of q56's
    // sketch-driven join strategy, delivered through the connector API:
    // q56 probes sketches and HINTS; here the source itself reports
    // filter-aware statistics and Spark's OWN planner flips the join):
    // estimateStatistics() runs AFTER pushdown, so the selective id
    // filter makes the probe feed broadcast-sized (1000 rows × pruned
    // width ≪ 10 MB) and the feed⋈feed join plans BroadcastHashJoin
    // with ZERO hints — remove the filter (or disable the threshold) and
    // the same join plans SMJ (PlanSpec gates both directions, results
    // identical). The 100 TB story: federation sources stop being
    // stats-blind defaultSize walls; the planner sees through them.
    QueryKey("q65_source_stats",
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(2 * value) AS BIGINT) AS sum_vv
        |FROM (
        |  ${feedRows(0, 300000)}
        |  WHERE id >= 299000) u
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, _) =>
      def feed = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "300000").option("partitions", "8").load()
      val probe = feed.filter(col("id") >= 299000L)
        .select(col("id"), col("value"))
      val big = feed.select(col("id").as("bid"), col("kind"),
        col("value").as("bvalue"))
      big.join(probe, col("bid") === col("id"))
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"),
          sum(col("value") + col("bvalue")).as("sum_vv"))
        .orderBy(col("kind"))
    },

    // COLUMNAR (vectorized) DSv2 read path (q66 — the throughput face of
    // the connector matrix; read/write/stream/pushdown/DPP/partitioning/
    // stats are covered, this is the last): with columnar=true the
    // reader fills OnHeapColumnVector batches directly — no per-row
    // InternalRow allocation — and Spark plans ColumnarToRow above the
    // scan exactly as for vectorized parquet (PlanSpec: columnar scan
    // in-plan, row-mode twin byte-identical). Pushdown composes: the id
    // range folds first, the vectors fill only the planned span.
    QueryKey("q66_columnar_scan",
      s"""SELECT kind, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(value) AS BIGINT) AS sum_value,
        |  CAST(sum(id) AS BIGINT) AS sum_id
        |FROM (
        |  ${feedRows(0, 400000)}
        |  WHERE id >= 100000) u
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, _) =>
      val feed = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "400000").option("partitions", "8")
        .option("columnar", "true").load()
      feed.filter(col("id") >= 100000L)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
          sum(col("id")).as("sum_id"))
        .orderBy(col("kind"))
    },

    // DSv2 CUSTOM METRICS (q68 — the engine's own connectors stop being
    // its observability blind spot, the reference's whole ethos):
    // slices planned/pruned are DRIVER metrics (reportDriverMetrics
    // fires after planInputPartitions), rows read is a TASK metric each
    // reader streams via currentMetricsValues — all three land as SQL
    // metrics on the scan node, so q62's prune count is now a
    // first-class metric instead of plan-string parsing. The key
    // executes a pruned scan (16 slices → 2 planned, 14 pruned, 50k
    // rows) and emits the scan node's metric values — closed-form
    // deterministic, so the METRICS themselves are oracle-checked.
    // AQE off in an isolated session so the static plan carries the
    // scan node the probe reads (the q60 isolation pattern).
    QueryKey("q68_scan_metrics",
      // closed form from the q68 plan: 400000 rows / 16 slices = 25000
      // wide; id >= 350000 leaves slices 14,15 → 2 planned, 14 pruned,
      // 50000 rows read
      """SELECT metric, CAST(value AS BIGINT) AS value FROM (VALUES
        |  ('feed_rows_read', 50000),
        |  ('feed_slices_planned', 2),
        |  ('feed_slices_pruned', 14)) t(metric, value)
        |ORDER BY metric""".stripMargin) { (s0, _) =>
      val s = s0.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val feed = s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "400000").option("partitions", "16").load()
      // min(id) deliberately REJECTS the q58 aggregate-pushdown path (an
      // agg-pushed plan scans MetricsFeedAggScan, which has no reader
      // metrics) — the raw scan must do the work the metrics observe
      val inner = feed.filter(col("id") >= 350000L)
        .groupBy(col("kind")).agg(count(lit(1)).as("n"), min(col("id")).as("m"))
      val plan = inner.queryExecution.executedPlan
      // run the physical plan once; task metrics fold into the scan
      // node's SQLMetric accumulators, driver metrics post at planning
      plan.execute().foreachPartition(
        (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
      val scan = plan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head
      import s.implicits._
      Seq("feed_rows_read", "feed_slices_planned", "feed_slices_pruned")
        .map(k => (k, scan.metrics(k).value))
        .toDF("metric", "value").orderBy(col("metric"))
    },

    // SQL SCRIPTING (q75 — Spark 4.1's procedural SQL: BEGIN…END
    // blocks, DECLAREd session variables, WHILE/SET control flow —
    // the SQL:2023 stored-procedure surface; q59 inlined declarative
    // UDFs, this is the IMPERATIVE face a SQL-only analyst uses for
    // iterative calibration without leaving SQL): a quota-calibration
    // loop doubles a char threshold from 64 until ≥90% of the corpus
    // falls below it — the driver composes one bounded count per
    // iteration (the d9/SketchPlanner plan-time decision class; each
    // probe is a single-column pushed-down scan), and the script's
    // final SELECT is the result. Session-isolated (scripting is
    // opt-in conf). Oracle: the closed-form smallest 64·2^k via an
    // octave sweep.
    QueryKey("q75_sql_scripting",
      // smallest thr = 64·2^k with ≥90% of docs below it, swept closed-form
      """WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
        |sweep AS (
        |  SELECT 64 * (1::BIGINT << k) AS thr,
        |    (SELECT CAST(count(*) AS BIGINT) FROM documents
        |     WHERE n_chars < 64 * (1::BIGINT << k)) AS kept
        |  FROM generate_series(0, 30) s(k)),
        |hit AS (SELECT thr, kept FROM sweep, t
        |  WHERE kept * 10 >= total * 9 ORDER BY thr LIMIT 1)
        |SELECT CAST(hit.thr AS BIGINT) AS threshold,
        |  CAST(hit.kept AS BIGINT) AS n_kept,
        |  t.total AS n_total
        |FROM hit, t""".stripMargin) { (s0, dir) =>
      val s = s0.newSession()
      s.conf.set("spark.sql.scripting.enabled", "true")
      graft.sources.Tables.documents(s, dir).createOrReplaceTempView("q75_docs")
      s.sql("""
        BEGIN
          DECLARE thr BIGINT DEFAULT 64;
          DECLARE total BIGINT DEFAULT 0;
          DECLARE kept BIGINT DEFAULT 0;
          SET total = (SELECT count(*) FROM q75_docs);
          SET kept = (SELECT count(*) FROM q75_docs WHERE n_chars < thr);
          WHILE kept * 10 < total * 9 DO
            SET thr = thr * 2;
            SET kept = (SELECT count(*) FROM q75_docs WHERE n_chars < thr);
          END WHILE;
          SELECT thr AS threshold, kept AS n_kept, total AS n_total;
        END""")
    },

    // OBSERVED METRICS / CollectMetrics (q74 — Dataset.observe, the
    // in-flight data-quality instrument: the reference's whole ethos is
    // watching pipelines, and observe() is Spark's native way to meter
    // a DATAFLOW without a second scan — the aggregates ride the SAME
    // pass the query already makes, collected by accumulator, zero
    // extra jobs). An ingest gate observes the corpus (rows, en-rows,
    // char mass, quality-fail count) at the point BEFORE filtering;
    // the gated output flows on declaratively. The key executes the
    // gated plan once (the q68 protocol posture), reads the observation
    // from queryExecution.observedMetrics, and emits BOTH the observed
    // values and the gate's own output counts — reconciled closed-form,
    // so a metric that missed rows or double-counted breaks the hash.
    // PlanSpec additionally proves the plan has exactly ONE scan (the
    // metrics are not a second aggregation pass).
    QueryKey("q74_observed_metrics",
      """SELECT metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT 'chars' AS metric, sum(length(text)) AS value FROM documents
        |  UNION ALL
        |  SELECT 'kept_chars', sum(length(text)) FROM documents WHERE n_chars >= 200
        |  UNION ALL
        |  SELECT 'n_en', count(*) FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT 'n_kept', count(*) FROM documents WHERE n_chars >= 200
        |  UNION ALL
        |  SELECT 'n_rows', count(*) FROM documents
        |  UNION ALL
        |  SELECT 'n_short', count(*) FROM documents WHERE n_chars < 200) t
        |ORDER BY metric""".stripMargin) { (s, dir) =>
      val docs = graft.sources.Tables.documents(s, dir)
      val observed = docs.observe("ingest_gate",
        count(lit(1)).as("n_rows"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(length(col("text"))).as("chars"),
        sum(when(col("n_chars") < 200, 1L).otherwise(0L)).as("n_short"))
      val gated = observed.filter(col("n_chars") >= 200)
        .agg(count(lit(1)).as("n_kept"),
          sum(length(col("text"))).as("kept_chars"))
      val kept = gated.collect()(0)
      val m = gated.queryExecution.observedMetrics("ingest_gate")
      import s.implicits._
      Seq(
        ("chars", m.getAs[Long]("chars")),
        ("kept_chars", kept.getLong(1)),
        ("n_en", m.getAs[Long]("n_en")),
        ("n_kept", kept.getLong(0)),
        ("n_rows", m.getAs[Long]("n_rows")),
        ("n_short", m.getAs[Long]("n_short")))
        .toDF("metric", "value").orderBy(col("metric"))
    },

    // custom DataSourceV2 SINK (graft.sources.AccountingSink —
    // MetricsFeedSource's write-side twin, the reference's uploadEvents
    // emit half as a V2 BatchWrite): per-task writers stream rows and
    // surrender (rows, Σ value) ONLY in their WriterCommitMessage;
    // Spark delivers messages solely from each task's one successful
    // attempt (retries/speculation abort and discard), and the
    // driver-side commit() folds them into the run total — the output
    // row IS the transaction protocol's accounting, no second counting
    // pass over the data. The write is the measured op (q37 contract).
    QueryKey("q52_accounting_sink",
      s"""SELECT CAST(100000 AS BIGINT) AS n_rows,
        |  CAST(sum($feedValue) AS BIGINT) AS sum_value,
        |  CAST(8 AS BIGINT) AS n_writers
        |FROM range(0, 100000) t(id)""".stripMargin) { (s, _) =>
      import graft.sources.AccountingSink
      val runId = "q52_accounting_sink"
      AccountingSink.clear(runId)
      s.read.format("graft.sources.MetricsFeedSource")
        .option("rows", "100000").option("partitions", "8").load()
        .write.format("graft.sources.AccountingSink")
        .option("runId", runId).mode("append").save()
      val (nRows, sumValue, nWriters) = AccountingSink.result(runId).get
      import s.implicits._
      Seq((nRows, sumValue, nWriters.toLong))
        .toDF("n_rows", "sum_value", "n_writers")
    },

    // SNAPSHOT time travel over an append-only versioned layout — the
    // reproducible-training-run primitive (a run pins "corpus as of
    // v1" and must read the SAME bytes after v2 lands): the layout is
    // an immutable delta log (v1 files are never rewritten when the v2
    // delta appends — snapshot isolation by construction; written once
    // via DerivedLayouts). The scale trick: reading ALL snapshots costs
    // ONE scan, not one per snapshot — per-delta aggregates roll up to
    // snapshot aggregates by a cumulative sum over the version order
    // (two rows here), so time travel adds versions without adding
    // corpus scans. v1 = doc_id%10 != 7 (yesterday's crawl), the v2
    // delta backfills the rest.
    QueryKey("q53_snapshot_read",
      """WITH d AS (SELECT CASE WHEN doc_id % 10 <> 7 THEN 1 ELSE 2 END AS version,
        |    n_chars FROM documents),
        |a AS (SELECT CAST(version AS INT) AS version,
        |    CAST(count(*) AS BIGINT) AS delta_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS delta_chars
        |  FROM d GROUP BY 1)
        |SELECT version, delta_docs,
        |  CAST(sum(delta_docs) OVER (ORDER BY version) AS BIGINT) AS n_docs,
        |  CAST(sum(delta_chars) OVER (ORDER BY version) AS BIGINT) AS sum_chars
        |FROM a ORDER BY version""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      // layout shared with the graft catalog's VERSION AS OF face (q63)
      val base = graft.sources.SnapshotLayout.ensure(s, dir)
      s.read.parquet(s"$base/v1", s"$base/v2")
        .withColumn("version",
          when(input_file_name().contains("/v1/"), 1).otherwise(2))
        .groupBy(col("version"))
        .agg(count(lit(1)).as("delta_docs"), sum(col("n_chars")).as("delta_chars"))
        .withColumn("n_docs",
          sum(col("delta_docs")).over(Window.orderBy(col("version"))))
        .withColumn("sum_chars",
          sum(col("delta_chars")).over(Window.orderBy(col("version"))))
        .select(col("version"), col("delta_docs"), col("n_docs"), col("sum_chars"))
        .orderBy(col("version"))
    },

    // CORPUS DIFF / data reconciliation — the regression gate a
    // training team runs between two dataset versions before spending
    // compute (q53 reads snapshots; this answers WHAT changed): v2
    // mutates v1 deterministically (doc_id%10==3 re-cased, %10==7
    // dropped, a +1e9-keyed batch added), and ONE full-outer join on
    // the key with md5 content compare classifies every row into
    // added/removed/changed/same — counts plus changed-chars mass per
    // class. Scale shape: content hashes computed map-side per side
    // (the join carries 32-byte digests, never text), one key shuffle;
    // the layouts are write-once (DerivedLayouts). Closed-form oracle
    // from the mutation formulas.
    QueryKey("q54_corpus_diff",
      """WITH d AS (SELECT doc_id, text FROM documents),
        |cls AS (
        |  SELECT CASE
        |      WHEN doc_id % 10 = 7 THEN 'removed'
        |      WHEN doc_id % 10 = 3 AND upper(text) <> text THEN 'changed'
        |      ELSE 'same' END AS status,
        |    CASE WHEN doc_id % 10 = 7 THEN 0 ELSE length(text) END AS chars_v2
        |  FROM d
        |  UNION ALL
        |  SELECT 'added', length(text) FROM d WHERE doc_id % 10 = 0)
        |SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(chars_v2), 0) AS BIGINT) AS chars_v2
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val base = DerivedLayouts.once(s"diff|$dir") { path =>
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        docs.write.parquet(s"$path/v1")
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(10)) === 3, upper(col("text")))
              .otherwise(col("text")))
          .unionByName(docs.filter(pmod(col("doc_id"), lit(10)) === 0)
            .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
          .write.parquet(s"$path/v2")
      }
      def hashed(v: String) = Tables.parquet(s, s"$base/$v")
        .select(col("doc_id"), md5(col("text")).as(s"h_$v"),
          length(col("text")).as(s"len_$v"))
      hashed("v1").join(hashed("v2"), Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("h_v1").isNull, "added")
            .when(col("h_v2").isNull, "removed")
            .when(col("h_v1") =!= col("h_v2"), "changed")
            .otherwise("same"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("len_v2")), lit(0L)).as("chars_v2"))
        .orderBy(col("status"))
    },

    // MERGE INTO over the versioned layout — the lakehouse upsert op
    // (q53 reads snapshots, q54 diffs them, p21 compacts them; this
    // one WRITES the next version): a change batch carries updates
    // (%10==3 re-cased), deletes (%10==7 tombstones) and inserts
    // (+1e9 keys), and ONE full-outer join on the key classifies every
    // target row into insert/update/delete/unchanged before the merged
    // result lands as v2 — COPY-ON-WRITE, v1's files untouched
    // (append-only isolation, the q53 contract). The output is the
    // transaction's accounting (per-action counts + char mass from the
    // classification) plus both versions re-read from DISK with
    // order-free digests — a merge that drops, duplicates or corrupts
    // a row, or that rewrote v1 in place, breaks the compare. Scale
    // shape: one key shuffle for the merge (change batch is %-bounded
    // but joins as a general fact — no broadcast assumption), digests
    // map-side, layouts write-once.
    QueryKey("q57_merge_into",
      // closed-form from the mutation formulas: changed ⇔ upper-casing
      // actually alters the text (md5 inequality ⇔ string inequality)
      // the digest walks the MERGED corpus the formulas predict: v2 =
      // unchanged rows as-is + %10==3 upper-cased + %10==0 re-keyed
      // +1e9 — a merge that wrote anything else breaks the sum
      s"""WITH d AS (SELECT doc_id, text FROM documents),
        |acc AS (
        |  SELECT 'delete' AS action, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(0 AS BIGINT) AS chars_after
        |  FROM d WHERE doc_id % 10 = 7
        |  UNION ALL
        |  SELECT 'insert', CAST(count(*) AS BIGINT),
        |    CAST(sum(length(text)) AS BIGINT)
        |  FROM d WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT 'update', CAST(count(*) AS BIGINT),
        |    CAST(sum(length(text)) AS BIGINT)
        |  FROM d WHERE doc_id % 10 = 3
        |  UNION ALL
        |  SELECT 'unchanged', CAST(count(*) AS BIGINT),
        |    CAST(sum(length(text)) AS BIGINT)
        |  FROM d WHERE doc_id % 10 NOT IN (3, 7)),
        |v2r AS (
        |  SELECT doc_id, text FROM d WHERE doc_id % 10 NOT IN (3, 7)
        |  UNION ALL SELECT doc_id, upper(text) FROM d WHERE doc_id % 10 = 3
        |  UNION ALL SELECT doc_id + 1000000000, text FROM d WHERE doc_id % 10 = 0),
        |v1f AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    ${SamplingQueries.corpusDigest} AS digest
        |  FROM d),
        |v2f AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    ${SamplingQueries.corpusDigest} AS digest
        |  FROM v2r)
        |SELECT action, n_rows, chars_after, CAST(NULL AS BIGINT) AS digest FROM acc
        |UNION ALL SELECT 'v1', n_rows, CAST(NULL AS BIGINT), digest FROM v1f
        |UNION ALL SELECT 'v2', n_rows, CAST(NULL AS BIGINT), digest FROM v2f
        |ORDER BY action""".stripMargin) { (s, dir) =>
      val base = DerivedLayouts.once(s"merge|$dir") { path =>
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        docs.write.parquet(s"$path/v1")
        docs.filter(pmod(col("doc_id"), lit(10)).isin(3, 7))
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(10)) === 7, lit("delete"))
              .otherwise(lit("update")).as("op"),
            when(pmod(col("doc_id"), lit(10)) === 3, upper(col("text")))
              .otherwise(lit(null)).as("new_text"))
          .unionByName(docs.filter(pmod(col("doc_id"), lit(10)) === 0)
            .select((col("doc_id") + 1000000000L).as("doc_id"),
              lit("insert").as("op"), col("text").as("new_text")))
          .write.parquet(s"$path/changes")
        val merged = Tables.parquet(s, s"$path/v1")
          .join(Tables.parquet(s, s"$path/changes"), Seq("doc_id"), "full_outer")
          .withColumn("action", coalesce(col("op"), lit("unchanged")))
        merged.filter(col("action") =!= "delete")
          .select(col("doc_id"),
            when(col("action") === "unchanged", col("text"))
              .otherwise(col("new_text")).as("text"))
          .write.parquet(s"$path/v2")
        merged.groupBy(col("action"))
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("action") === "delete", lit(0L))
              .when(col("action") === "unchanged", length(col("text")))
              .otherwise(length(col("new_text")))).as("chars_after"))
          .write.parquet(s"$path/accounting")
      }
      def face(v: String) = Tables.parquet(s, s"$base/$v")
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), " +
            "'|', text)), 1, 6), 16, 10) AS BIGINT)")).as("digest"))
        .select(lit(v).as("action"), col("n_rows"),
          lit(null).cast("long").as("chars_after"), col("digest"))
      Tables.parquet(s, s"$base/accounting")
        .withColumn("digest", lit(null).cast("long"))
        .unionByName(face("v1")).unionByName(face("v2"))
        .orderBy(col("action"))
    },

    // COLLATION-aware grouping — Spark 4's engine-level collations (the
    // surface that replaces d2's manual lower()/normalize pipelines):
    // grouping on a UTF8_LCASE-collated key folds case variants AT THE
    // HASH/COMPARE LEVEL — the fold happens inside the partial agg and
    // the exchange partitioning, no projection rewrites the data. Case
    // diversity is planted (doc_id%3 prefixes upper-cased) so the fold
    // does observable work; outputs are plain binary strings
    // (deterministic lower(min) representative — min taken on the
    // UNCOLLATED column so ordering is binary, never collation ties).
    // ASCII corpus ⇒ UTF8_LCASE grouping ≡ DuckDB lower() grouping.
    QueryKey("q55_collated_group",
      """WITH p AS (SELECT CASE WHEN doc_id % 3 = 0
        |      THEN upper(substr(trim(text), 1, 12))
        |      ELSE substr(trim(text), 1, 12) END AS pre
        |  FROM documents)
        |SELECT lower(min(pre)) AS key_folded,
        |  CAST(count(DISTINCT pre) AS BIGINT) AS n_variants,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM p GROUP BY lower(pre) ORDER BY 1""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(
          when(pmod(col("doc_id"), lit(3)) === 0,
            upper(expr("substring(trim(text), 1, 12)")))
            .otherwise(expr("substring(trim(text), 1, 12)")).as("pre"))
        .groupBy(expr("collate(pre, 'UTF8_LCASE')").as("ck"))
        .agg(lower(min(col("pre"))).as("key_folded"),
          countDistinct(col("pre")).as("n_variants"),
          count(lit(1)).as("n_docs"))
        .select(col("key_folded"), col("n_variants"), col("n_docs"))
        .orderBy(col("key_folded"))
    },

    QueryKey("q46_join_hints",
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    / 100.0 AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      import s.implicits._
      val orders = Tables.orders(s, dir).hint("SHUFFLE_HASH")
      Tables.lineitem(s, dir)
        .join(orders, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderpriority")
        .agg((sum(cents($"l_extendedprice")) / 100.0).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    },

    // try_* ANSI-safety semantics — the m39 lesson (data-dependent ANSI
    // failures only firing at larger SF) institutionalized as an
    // operator: a 100-TB ingest ALWAYS contains malformed values, and
    // under ANSI mode one bad row kills the job hours in. try_cast maps
    // malformed → NULL row-locally (vs the CASE-guard idiom, which
    // needs the failure enumerated in advance); aggregation then counts
    // and sums the survivors. The messy column is synthesized
    // deterministically (numeric / garbage-suffixed / empty by
    // user_id%3) so DuckDB's TRY_CAST sees identical inputs.
    QueryKey("q45_try_semantics",
      """WITH e AS (SELECT event_type,
        |    CASE user_id % 3
        |      WHEN 0 THEN CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
        |      WHEN 1 THEN CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) || 'x'
        |      ELSE '' END AS raw
        |  FROM events),
        |p AS (SELECT event_type, TRY_CAST(raw AS BIGINT) AS parsed FROM e)
        |SELECT event_type, count(*) AS n,
        |  CAST(count(parsed) AS BIGINT) AS n_valid,
        |  CAST(sum(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reject,
        |  CAST(sum(parsed) AS BIGINT) AS sum_valid_c
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .withColumn("c", cents(col("value")))
        .withColumn("raw", expr(
          "CASE user_id % 3 WHEN 0 THEN CAST(c AS STRING) " +
          "WHEN 1 THEN concat(CAST(c AS STRING), 'x') ELSE '' END"))
        .withColumn("parsed", expr("try_cast(raw AS BIGINT)"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(col("parsed")).as("n_valid"),
          sum(when(col("parsed").isNull, 1L).otherwise(0L)).as("n_reject"),
          sum(col("parsed")).cast("long").as("sum_valid_c"))
        .orderBy(col("event_type"))
    },

    // Forward-fill via IGNORE NULLS window (last_value over an
    // unbounded-preceding rows frame) — the sensor-reading carry-forward
    // that m36's linear interpolation and m28's grid gap-fill both
    // sidestep: here the fill source is the LAST OBSERVED value in event
    // order, a pure one-pass window with no sequence explode and no
    // self-join. Only purchase events carry a reading; every other event
    // rides the most recent purchase's cents. Scale shape: one shuffle
    // on user_id serves both the window and the final per-user
    // aggregate (same key — no second exchange).
    QueryKey("q43_fill_forward",
      """WITH seq AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    CASE WHEN event_type = 'purchase'
        |         THEN CAST(round(value * 100) AS BIGINT) END AS reading_c
        |  FROM events),
        |f AS (
        |  SELECT user_id, reading_c,
        |    last_value(reading_c IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM seq)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(filled) AS BIGINT) AS n_covered,
        |  CAST(sum(CASE WHEN reading_c IS NULL AND filled IS NOT NULL
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_stale_fill,
        |  CAST(sum(filled) AS BIGINT) AS sum_filled_c
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "purchase", cents(col("value"))).as("reading_c"))
        .withColumn("filled", last(col("reading_c"), ignoreNulls = true).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          count(col("filled")).as("n_covered"),
          sum(when(col("reading_c").isNull && col("filled").isNotNull, 1L)
            .otherwise(0L)).as("n_stale_fill"),
          sum(col("filled")).cast("long").as("sum_filled_c"))
        .orderBy(col("user_id"))
    },

    // Z-ORDER data layout + zone-map FILE SKIPPING (q85 — the
    // write-side lever every 100-TB lakehouse lives on: Delta OPTIMIZE
    // ZORDER / Iceberg sort orders; q36 bucketed the JOIN key, this
    // lays out the SCAN): the same fact rows are "filed" (4096-row
    // files) under two sort orders — linear (x only) and Morton
    // Z-order over (x, y), the bit-interleaved space-filling curve —
    // then a 2-dimensional box predicate is priced against each
    // layout's zone maps (per-file min/max, what parquet footers and
    // manifests store): a file whose zone misses the box is SKIPPED.
    // The output is the whole story in two rows — same n_files, same
    // rows_matched (the layout never changes the answer), different
    // files_scanned/rows_scanned (what it changes is the COST: linear
    // keeps x local but smears y across every file, Z-order keeps both
    // local). File assignment runs the p25 two-level rank (bucket by
    // the sort key's HIGH BITS, rank within buckets in parallel, lift
    // by a broadcast offset cumsum — no single-partition sort of fact
    // rows); keys hash-spread to a fixed 14-bit domain with bounded
    // multipliers (pmod 1e5 first — the sf10 key-shift would overflow
    // a raw product, the x16 lesson applied cross-engine).
    QueryKey("q85_zorder_skipping",
      // both layouts re-derived closed-form; the compare pins n_files and
      // rows_matched EQUAL across layouts and the skip counts exactly
      """WITH base AS (
        |  SELECT ((l_partkey % 100000) * 2654435761) % 16384 AS x,
        |         ((l_suppkey % 100000) * 40503) % 16384 AS y,
        |         l_orderkey, l_linenumber
        |  FROM lineitem),
        |lin AS (
        |  SELECT x, y, (row_number() OVER (
        |    ORDER BY x, y, l_orderkey, l_linenumber) - 1) // 2048 AS f
        |  FROM base),
        |zb AS (
        |  SELECT x, y, l_orderkey, l_linenumber,
        |    CAST(list_sum(list_transform(generate_series(0, 13), i ->
        |      ((x >> i) & 1) * (1::BIGINT << (2 * i)) +
        |      ((y >> i) & 1) * (1::BIGINT << (2 * i + 1)))) AS BIGINT) AS m
        |  FROM base),
        |zo AS (
        |  SELECT x, y, (row_number() OVER (
        |    ORDER BY m, x, y, l_orderkey, l_linenumber) - 1) // 2048 AS f
        |  FROM zb),
        |zones AS (
        |  SELECT 'linear' AS layout, f, min(x) AS xmin, max(x) AS xmax,
        |    min(y) AS ymin, max(y) AS ymax, count(*) AS n,
        |    sum(CASE WHEN x BETWEEN 2000 AND 3000
        |             AND y BETWEEN 3000 AND 4000 THEN 1 ELSE 0 END) AS hits
        |  FROM lin GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'zorder', f, min(x), max(x), min(y), max(y), count(*),
        |    sum(CASE WHEN x BETWEEN 2000 AND 3000
        |             AND y BETWEEN 3000 AND 4000 THEN 1 ELSE 0 END)
        |  FROM zo GROUP BY 1, 2)
        |SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(CASE WHEN xmax >= 2000 AND xmin <= 3000
        |    AND ymax >= 3000 AND ymin <= 4000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS files_scanned,
        |  CAST(sum(CASE WHEN xmax >= 2000 AND xmin <= 3000
        |    AND ymax >= 3000 AND ymin <= 4000 THEN n ELSE 0 END) AS BIGINT)
        |    AS rows_scanned,
        |  CAST(sum(hits) AS BIGINT) AS rows_matched
        |FROM zones GROUP BY layout ORDER BY layout""".stripMargin) { (s, dir) =>
      import graft.operators.Layout
      val base = Tables.lineitem(s, dir).select(
        pmod(pmod(col("l_partkey"), lit(100000L)) * lit(2654435761L),
          lit(16384L)).as("x"),
        pmod(pmod(col("l_suppkey"), lit(100000L)) * lit(40503L),
          lit(16384L)).as("y"),
        col("l_orderkey"), col("l_linenumber"))
      val ties = Seq(col("x"), col("y"), col("l_orderkey"), col("l_linenumber"))
      val linear = Layout.fileIds(base, col("x"), ties,
        bucketShift = 9, rowsPerFile = 2048)
      val zorder = Layout.fileIds(base,
        Layout.morton(col("x"), col("y"), 14), ties,
        bucketShift = 23, rowsPerFile = 2048)
      Layout.zoneMapStats(linear, col("x"), col("y"),
          2000L, 3000L, 3000L, 4000L, "linear")
        .unionByName(Layout.zoneMapStats(zorder, col("x"), col("y"),
          2000L, 3000L, 3000L, 4000L, "zorder"))
        .orderBy(col("layout"))
    }
  )
}
