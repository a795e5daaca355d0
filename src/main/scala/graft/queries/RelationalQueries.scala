package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Relational operator coverage for the DuckDB-oracle correctness gate.
  *
  * Each entry exercises one operator family from SURVEY.md §2 (the
  * reference's operator inventory, re-expressed Spark-first) and has a
  * value-identical ANSI-SQL oracle.
  *
  * Determinism rules used throughout (driver hashes values):
  *  - every query ends in a total-order ORDER BY (unique key tiebreak);
  *  - no raw double SUM/AVG: sums go through DECIMAL (exact, associative)
  *    and are cast back to DOUBLE, so Spark and DuckDB agree bit-for-bit;
  *  - AVG is written as exact-decimal-sum / count (one IEEE division on
  *    identical operands in both engines).
  */
object RelationalQueries {

  private def q(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.t(s, dir, name)

  // Exact money sum: DOUBLE -> DECIMAL(18,2) -> SUM -> DOUBLE.
  private def dsum(c: String, scale: Int = 2) =
    sum(col(c).cast(s"decimal(18,$scale)")).cast("double")
  private def dsumSql(c: String, scale: Int = 2) =
    s"CAST(SUM(CAST($c AS DECIMAL(18,$scale))) AS DOUBLE)"

  val gates: Seq[Gate] = Seq(
    // §2.1 scan + §2.2 projection/filter pushdown (fs_bind with const slots)
    Gate("q01_scan_filter_project",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-09-01' AND l_quantity > 30
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      q(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("1995-09-01").cast("timestamp") &&
                col("l_quantity") > 30)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // §2.4 sort-based aggregation -> groupBy (TPC-H Q1 shape)
    Gate("q02_agg_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  COUNT(*) AS count_order,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         |  ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      q(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("count_order"),
          dsum("l_quantity").as("sum_qty"),
          dsum("l_extendedprice").as("sum_base_price"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          (dsum("l_quantity") / count(lit(1))).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // §2.3 inner equi-join chain (fs_binding_merge / fs_binding_join INNER)
    Gate("q03_join_customer_nation_region",
      s"""SELECT r_name, COUNT(*) AS n_customers,
         |  ${dsumSql("c_acctbal")} AS sum_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
      q(s, d, "customer")
        .join(broadcast(q(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(q(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"),
             dsum("c_acctbal").as("sum_acctbal"))
        .orderBy("r_name")
    },

    // §2.3 left outer join (OPTIONAL = fs_binding_join FS_LEFT)
    Gate("q04_left_join_order_lines",
      s"""SELECT o_orderkey,
         |  COALESCE(n_lines, 0) AS n_lines,
         |  COALESCE(qty, CAST(0.0 AS DOUBLE)) AS qty
         |FROM orders
         |LEFT JOIN (
         |  SELECT l_orderkey, COUNT(*) AS n_lines,
         |    ${dsumSql("l_quantity")} AS qty
         |  FROM lineitem GROUP BY l_orderkey
         |) ON o_orderkey = l_orderkey
         |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val lines = q(s, d, "lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"), dsum("l_quantity").as("qty"))
      q(s, d, "orders")
        .join(lines, col("o_orderkey") === col("l_orderkey"), "left_outer")
        .select(col("o_orderkey"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"),
          coalesce(col("qty"), lit(0.0)).as("qty"))
        .orderBy("o_orderkey")
    },

    // §2.3/§2.7 UNION (fs_binding_union = bag append)
    Gate("q05_union_big_accounts",
      """SELECT * FROM (
        |  SELECT c_name AS name, c_acctbal AS acctbal, 'customer' AS kind
        |  FROM customer WHERE c_acctbal > 9000
        |  UNION ALL
        |  SELECT s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind
        |  FROM supplier WHERE s_acctbal > 9000
        |) ORDER BY name, kind""".stripMargin) { (s, d) =>
      val c = q(s, d, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"),
                lit("customer").as("kind"))
      val su = q(s, d, "supplier").filter(col("s_acctbal") > 9000)
        .select(col("s_name").as("name"), col("s_acctbal").as("acctbal"),
                lit("supplier").as("kind"))
      c.unionByName(su).orderBy("name", "kind")
    },

    // §2.3 MINUS -> left_anti (fs_binding_minus)
    Gate("q06_anti_customers_without_orders",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      q(s, d, "customer")
        .join(q(s, d, "orders").filter(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // §2.6 DISTINCT (sort+uniq on projected columns)
    Gate("q07_distinct_segments",
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
        |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, d) =>
      q(s, d, "customer")
        .select("c_mktsegment", "c_nationkey")
        .distinct()
        .orderBy("c_mktsegment", "c_nationkey")
    },

    // §2.6 ORDER BY + LIMIT/OFFSET (distinct-aware offset path)
    Gate("q08_order_limit_offset",
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20 OFFSET 5""".stripMargin) { (s, d) =>
      q(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(5).limit(20)
    },

    // §2.4 HAVING (post-aggregation constraint mask)
    Gate("q09_having_populous_nations",
      """SELECT c_nationkey, COUNT(*) AS n_customers FROM customer
        |GROUP BY c_nationkey HAVING COUNT(*) >= 5
        |ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      q(s, d, "customer")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
        .filter(col("n_customers") >= 5)
        .orderBy("c_nationkey")
    },

    // §2.4 COUNT(DISTINCT) / SUM(DISTINCT)
    Gate("q10_agg_distinct",
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_distinct_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      q(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          sum_distinct(col("l_quantity").cast("decimal(18,2)"))
            .cast("double").as("sum_distinct_qty"))
        .orderBy("l_returnflag")
    },

    // §2.4 GROUP_CONCAT (deterministic: sorted within group)
    Gate("q11_group_concat_nations",
      """SELECT n_regionkey,
        |  STRING_AGG(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, d) =>
      q(s, d, "nation")
        .groupBy("n_regionkey")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"))
        .orderBy("n_regionkey")
    },

    // §2.4 implicit grouping: aggregate without GROUP BY -> one row
    Gate("q12_global_agg",
      s"""SELECT COUNT(*) AS n_orders,
         |  MIN(o_orderdate) AS first_date,
         |  MAX(o_orderdate) AS last_date,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders""".stripMargin) { (s, d) =>
      q(s, d, "orders")
        .agg(count(lit(1)).as("n_orders"),
             min(col("o_orderdate")).as("first_date"),
             max(col("o_orderdate")).as("last_date"),
             dsum("o_totalprice").as("sum_price"))
    },

    // §2.8 string functions (UCASE/LCASE/SUBSTR/STRLEN/CONCAT/CONTAINS...)
    Gate("q13_string_funcs",
      """SELECT p_partkey,
        |  UPPER(p_brand) AS brand_up,
        |  LOWER(p_type) AS type_lo,
        |  SUBSTRING(p_name, 1, 8) AS name_pfx,
        |  LENGTH(p_name) AS name_len,
        |  p_brand || '/' || p_type AS brand_type,
        |  CONTAINS(p_name, 'green') AS has_green,
        |  STARTS_WITH(p_name, 'bl') AS starts_bl,
        |  ENDS_WITH(p_name, 'd') AS ends_d
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      q(s, d, "part")
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_up"),
          lower(col("p_type")).as("type_lo"),
          substring(col("p_name"), 1, 8).as("name_pfx"),
          length(col("p_name")).as("name_len"),
          concat(col("p_brand"), lit("/"), col("p_type")).as("brand_type"),
          col("p_name").contains("green").as("has_green"),
          col("p_name").startsWith("bl").as("starts_bl"),
          col("p_name").endsWith("d").as("ends_d"))
        .orderBy("p_partkey")
    },

    // §2.8 numeric functions (ABS/CEIL/FLOOR/ROUND, arithmetic, promotion)
    Gate("q14_numeric_funcs",
      """SELECT l_orderkey, l_linenumber,
        |  ABS(l_quantity - 25.0) AS abs_dev,
        |  CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
        |  ROUND(l_quantity / 4, 2) AS qty_quarter,
        |  l_quantity * 2 + 1 AS qty_lin
        |FROM lineitem WHERE l_orderkey % 100 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      q(s, d, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          abs(col("l_quantity") - lit(25.0)).as("abs_dev"),
          ceil(col("l_extendedprice")).as("price_ceil"),   // LongType
          floor(col("l_extendedprice")).as("price_floor"), // LongType
          round(col("l_quantity") / 4, 2).as("qty_quarter"),
          (col("l_quantity") * 2 + 1).as("qty_lin"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // §2.8 date functions (YEAR/MONTH/DAY + grouping by them)
    Gate("q15_date_funcs",
      """SELECT YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY yr, mo ORDER BY yr, mo""".stripMargin) { (s, d) =>
      q(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
                 month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("yr", "mo")
    },

    // §2.8 control flow: IF -> CASE WHEN, COALESCE
    Gate("q16_case_coalesce",
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 200000 THEN 'big'
        |       WHEN o_totalprice > 50000 THEN 'medium'
        |       ELSE 'small' END AS size_class,
        |  COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'URGENT') AS prio
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      q(s, d, "orders")
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 200000, "big")
            .when(col("o_totalprice") > 50000, "medium")
            .otherwise("small").as("size_class"),
          coalesce(nullif(col("o_orderpriority"), lit("1-URGENT")),
                   lit("URGENT")).as("prio"))
        .orderBy("o_orderkey")
    },

    // §2.2 IN-list filter (FILTER-disjunction -> IN rewrite)
    Gate("q17_in_filter",
      """SELECT c_mktsegment, COUNT(*) AS n FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      q(s, d, "customer")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n")).orderBy("c_mktsegment")
    },

    // §2.8 REGEX / LIKE
    Gate("q18_like_regex",
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE p_name LIKE '%ol%'
        |  AND REGEXP_MATCHES(p_type, '^(ECONOMY|PROMO)')
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      q(s, d, "part")
        .filter(col("p_name").like("%ol%") &&
                col("p_type").rlike("^(ECONOMY|PROMO)"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")
    },

    // §2.8 hash functions (MD5/SHA1/SHA256)
    Gate("q19_hash_funcs",
      """SELECT r_regionkey,
        |  MD5(r_name) AS name_md5,
        |  SHA256(r_name) AS name_sha256
        |FROM region ORDER BY r_regionkey""".stripMargin) { (s, d) =>
      q(s, d, "region")
        .select(col("r_regionkey"),
          md5(col("r_name").cast("binary")).as("name_md5"),
          sha2(col("r_name").cast("binary"), 256).as("name_sha256"))
        .orderBy("r_regionkey")
    },

    // §2.8 casts (xsd constructor functions -> CAST)
    Gate("q20_casts",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(l_quantity AS INT) AS qty_int,
        |  CAST(CAST(l_quantity AS INT) AS VARCHAR) || '.0' AS qty_str,
        |  CAST(l_shipdate AS DATE) AS ship_day,
        |  CAST(l_linenumber AS DOUBLE) AS line_dbl
        |FROM lineitem WHERE l_orderkey <= 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      q(s, d, "lineitem")
        .filter(col("l_orderkey") <= 1000)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          col("l_quantity").cast("int").as("qty_int"),
          col("l_quantity").cast("string").as("qty_str"),
          col("l_shipdate").cast("date").as("ship_day"),
          col("l_linenumber").cast("double").as("line_dbl"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // §2.5 window functions (engine extension; reference has none)
    Gate("q21_window_rank",
      """SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER w AS rn,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |QUALIFY rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      q(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"),
          sum(col("o_totalprice").cast("decimal(18,2)")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_total"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },

    // §2.2 EXISTS-style boolean -> left_semi
    Gate("q22_semi_customers_with_orders",
      """SELECT c_nationkey, COUNT(*) AS n_active FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      q(s, d, "customer")
        .join(q(s, d, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_active"))
        .orderBy("c_nationkey")
    },

    // §2.3 cross product (pre-bound var expansion)
    Gate("q23_cross_region_segment",
      """SELECT r_name, c_mktsegment
        |FROM region CROSS JOIN (SELECT DISTINCT c_mktsegment FROM customer)
        |ORDER BY r_name, c_mktsegment""".stripMargin) { (s, d) =>
      q(s, d, "region").select("r_name")
        .crossJoin(q(s, d, "customer").select("c_mktsegment").distinct())
        .orderBy("r_name", "c_mktsegment")
    },

    // §2.9-adjacent: tumbling event-time window as batch groupBy
    Gate("q24_events_hourly",
      """SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY hour, event_type
        |ORDER BY hour, event_type""".stripMargin) { (s, d) =>
      q(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"),
                 col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast("decimal(18,6)")).cast("double")
               .as("sum_value"))
        .orderBy("hour", "event_type")
    },

    // §2.4 SAMPLE -> deterministic representative (min_by canonical order)
    Gate("q25_sample_per_nation",
      """SELECT c_nationkey, MIN_BY(c_name, c_custkey) AS sample_name
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin) { (s, d) =>
      q(s, d, "customer")
        .groupBy("c_nationkey")
        .agg(min_by(col("c_name"), col("c_custkey")).as("sample_name"))
        .orderBy("c_nationkey")
    }
  )
}
