package graft
package gates

import org.apache.spark.sql.functions._

import graft.ops.TextAnalysis
import graft.spec._
import graft.transforms._

import Fixtures._

/** Relational core: filter/map/aggregate/join/sort/window/set ops,
  * SQL surface, temporal joins, sampling, sketches and the `q_*` data
  * planes (sqlite, orc, text, layout). */
object CoreGates {
  val gates: Seq[Gate] = Seq(
    // ---- filter (reference main.py:180-203) ----
    Gate("q_filter_gt", (s, d) =>
      FilterOp(t(s, d, "lineitem"), Config.of("field" -> "l_quantity", "op" -> "gt", "value" -> 24)),
      "SELECT * FROM lineitem WHERE l_quantity > 24"),
    Gate("q_filter_contains", (s, d) =>
      FilterOp(t(s, d, "part"), Config.of("field" -> "p_type", "op" -> "contains", "value" -> "MED")),
      "SELECT * FROM part WHERE p_type LIKE '%MED%'"),
    Gate("q_filter_notnull", (s, d) =>
      FilterOp(t(s, d, "documents"), Config.of("field" -> "text", "op" -> "notnull")),
      "SELECT * FROM documents WHERE text IS NOT NULL AND text <> ''"),
    Gate("q_filter_in", (s, d) =>
      FilterOp(events(s, d), Config.of("field" -> "event_type",
        "op" -> "in", "value" -> Seq("signup", "purchase")))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      "SELECT event_id, user_id, event_type, value FROM events WHERE event_type IN ('signup','purchase')"),

    // ---- map (reference main.py:205-224) ----
    Gate("q_map_upper", (s, d) =>
      MapOp(t(s, d, "part").select(col("p_partkey"), col("p_type")),
        Config.of("field" -> "p_type", "operation" -> "upper", "as" -> "p_type_up")),
      "SELECT p_partkey, p_type, upper(p_type) AS p_type_up FROM part"),
    Gate("q_map_cast", (s, d) =>
      MapOp(t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag")),
        Config.of("field" -> "l_returnflag", "operation" -> "int", "as" -> "rf_num")),
      "SELECT l_orderkey, l_linenumber, l_returnflag, TRY_CAST(l_returnflag AS BIGINT) AS rf_num FROM lineitem"),

    // ---- aggregate (reference main.py:226-249) ----
    Gate("q_agg", (s, d) =>
      AggregateOp(t(s, d, "lineitem"), Config.of(
        "group_by" -> Seq("l_returnflag", "l_linestatus"),
        "aggregations" -> Seq(
          Map("function" -> "count", "as" -> "cnt"),
          Map("field" -> "l_quantity", "function" -> "sum", "exact_decimal" -> 6, "as" -> "sum_qty"),
          Map("field" -> "l_extendedprice", "function" -> "sum", "exact_decimal" -> 6, "as" -> "sum_price"),
          Map("field" -> "l_discount", "function" -> "avg", "exact_decimal" -> 6, "as" -> "avg_disc"),
          Map("field" -> "l_extendedprice", "function" -> "min", "as" -> "min_price"),
          Map("field" -> "l_extendedprice", "function" -> "max", "as" -> "max_price")))),
      """
      SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
             CAST(sum(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / count(l_discount) AS avg_disc,
             min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
      FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    Gate("q_agg_global", (s, d) =>
      AggregateOp(t(s, d, "lineitem"), Config.of(
        "aggregations" -> Seq(
          Map("function" -> "count", "as" -> "cnt"),
          Map("field" -> "l_extendedprice", "function" -> "sum", "exact_decimal" -> 6, "as" -> "total"),
          Map("field" -> "l_partkey", "function" -> "count_distinct", "as" -> "nparts")))),
      """
      SELECT count(*) AS cnt,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total,
             count(DISTINCT l_partkey) AS nparts
      FROM lineitem"""),
    Gate("q_agg_rollup", (s, d) =>
      AggregateOp(t(s, d, "lineitem"), Config.of(
        "group_by" -> Seq("l_returnflag", "l_linestatus"),
        "grouping" -> "rollup",
        "aggregations" -> Seq(
          Map("function" -> "count", "as" -> "cnt"),
          Map("field" -> "l_quantity", "function" -> "sum", "exact_decimal" -> 6, "as" -> "sum_qty")))),
      """
      SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""),

    // ---- aggregation breadth: cube, FILTER-style conditional aggs,
    // ordered string_agg, exact second-moment statistics ----
    Gate("q_agg_cube", (s, d) =>
      AggregateOp(t(s, d, "lineitem"), Config.of(
        "group_by" -> Seq("l_returnflag", "l_linestatus"),
        "grouping" -> "cube",
        "aggregations" -> Seq(
          Map("function" -> "count", "as" -> "cnt"),
          Map("field" -> "l_quantity", "function" -> "sum", "exact_decimal" -> 6, "as" -> "sum_qty")))),
      """
      SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),
    Gate("q_agg_filter", (s, d) =>
      t(s, d, "lineitem").groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("cnt"),
        sum(when(col("l_linestatus") === "F", col("l_quantity")).cast("decimal(18,6)"))
          .cast("double").as("qty_f"),
        count(when(col("l_discount") > 0.05, lit(1))).as("n_hidisc"),
        sum(when(col("l_shipdate") >= to_timestamp(lit("1997-01-01")), col("l_extendedprice"))
          .cast("decimal(18,6)")).cast("double").as("rev_97plus")),
      """
      SELECT l_returnflag, count(*) AS cnt,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
             count(*) FILTER (WHERE l_discount > 0.05) AS n_hidisc,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) FILTER (WHERE l_shipdate >= TIMESTAMP '1997-01-01') AS DOUBLE) AS rev_97plus
      FROM lineitem GROUP BY l_returnflag"""),
    Gate("q_string_agg", (s, d) =>
      t(s, d, "orders").groupBy(col("o_orderpriority")).agg(
        // collect_set is order-nondeterministic; array_sort makes the
        // serialized list canonical on any partitioning
        array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"),
        countDistinct(col("o_custkey")).as("n_cust")),
      """
      SELECT o_orderpriority,
             array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
             count(DISTINCT o_custkey) AS n_cust
      FROM orders GROUP BY o_orderpriority"""),
    // stddev/corr the cross-engine-exact way: all second moments as
    // exact DECIMAL sums, ONE final double expression per statistic
    // (identical op sequence in the oracle ⇒ bit-identical doubles).
    // The built-in stddev/corr stream doubles through Welford-style
    // merges whose result depends on partitioning — fine numerically,
    // impossible to hash-match across engines.
    Gate("q_stats_exact", (s, d) => {
      val dec = "decimal(38,6)"
      // fanOut: the single-file scan yields ~3 splits and this agg's
      // per-row cost is decimal(38)-heavy (profiled 2.8 s of CPU on
      // 3 of 32 cores); round-robin to full width first. Decimal sums
      // and counts are exact ⟹ order/partitioning-independent, so the
      // output is hash-identical. No-op at real scale (fanOut guards
      // on split count ≥ parallelism).
      val g = graft.ops.Partitioning.fanOut(t(s, d, "lineitem"))
        .groupBy(col("l_returnflag")).agg(
        count(col("l_quantity")).as("n"),
        sum(col("l_quantity").cast(dec)).cast("double").as("__sq"),
        sum((col("l_quantity") * col("l_quantity")).cast(dec)).cast("double").as("__sq2"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("__sp"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast(dec)).cast("double").as("__sp2"),
        sum((col("l_quantity") * col("l_extendedprice")).cast(dec)).cast("double").as("__sqp"))
      val nd = col("n").cast("double")
      g.select(col("l_returnflag"), col("n"),
        (col("__sq") / nd).as("mean_qty"),
        sqrt((col("__sq2") - col("__sq") * col("__sq") / nd) / (nd - lit(1.0))).as("sd_qty"),
        ((nd * col("__sqp") - col("__sq") * col("__sp")) /
          (sqrt(nd * col("__sq2") - col("__sq") * col("__sq")) *
            sqrt(nd * col("__sp2") - col("__sp") * col("__sp")))).as("corr_qp"))
    },
      """
      WITH g AS (
        SELECT l_returnflag, count(l_quantity) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sq,
               CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sq2,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sp,
               CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sp2,
               CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sqp
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, n,
             sq / CAST(n AS DOUBLE) AS mean_qty,
             sqrt((sq2 - sq * sq / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)) AS sd_qty,
             (CAST(n AS DOUBLE) * sqp - sq * sp) /
               (sqrt(CAST(n AS DOUBLE) * sq2 - sq * sq) * sqrt(CAST(n AS DOUBLE) * sp2 - sp * sp)) AS corr_qp
      FROM g"""),
    // exact percentiles (interpolated): sort-based, per-group; rounded
    // to 6 dp — interpolation differs from DuckDB's only in the last
    // couple of ulps, far below the rounding grain
    Gate("q_percentile", (s, d) =>
      t(s, d, "orders").groupBy(col("o_orderpriority")).agg(
        round(expr("percentile(o_totalprice, 0.25)"), 6).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(o_totalprice, 0.75)"), 6).as("p75"),
        min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx")),
      """
      SELECT o_orderpriority,
             round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
             round(quantile_cont(o_totalprice, 0.5), 6) AS p50,
             round(quantile_cont(o_totalprice, 0.75), 6) AS p75,
             min(o_totalprice) AS mn, max(o_totalprice) AS mx
      FROM orders GROUP BY o_orderpriority"""),

    // ---- join (reference main.py:251-263 + SURVEY §2.4 absent kinds) ----
    Gate("q_join_inner", (s, d) =>
      JoinOp(t(s, d, "orders"), t(s, d, "customer"), Config.of(
        "left_key" -> "o_custkey", "right_key" -> "c_custkey", "broadcast" -> true)),
      """
      SELECT o.*, c.c_custkey AS r_c_custkey, c.c_name AS r_c_name,
             c.c_nationkey AS r_c_nationkey, c.c_acctbal AS r_c_acctbal,
             c.c_mktsegment AS r_c_mktsegment
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"""),
    Gate("q_join_left", (s, d) =>
      JoinOp(t(s, d, "customer"), t(s, d, "nation"), Config.of(
        "left_key" -> "c_nationkey", "right_key" -> "n_nationkey",
        "how" -> "left", "broadcast" -> true)),
      """
      SELECT c.*, n.n_nationkey AS r_n_nationkey, n.n_name AS r_n_name,
             n.n_regionkey AS r_n_regionkey
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey"""),
    Gate("q_join_semi", (s, d) =>
      JoinOp(t(s, d, "customer"), t(s, d, "orders"), Config.of(
        "left_key" -> "c_custkey", "right_key" -> "o_custkey", "how" -> "left_semi")),
      "SELECT * FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"),
    Gate("q_join_anti", (s, d) =>
      JoinOp(t(s, d, "customer"), t(s, d, "orders"), Config.of(
        "left_key" -> "c_custkey", "right_key" -> "o_custkey", "how" -> "left_anti")),
      "SELECT * FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"),

    // salted variant of q_join_inner: identical result set (same
    // oracle), skew-proof plan — the correctness proof that salting
    // does not change join semantics
    Gate("q_join_salted", (s, d) =>
      JoinOp(t(s, d, "orders"), t(s, d, "customer"), Config.of(
        "left_key" -> "o_custkey", "right_key" -> "c_custkey", "salt" -> 8)),
      """
      SELECT o.*, c.c_custkey AS r_c_custkey, c.c_name AS r_c_name,
             c.c_nationkey AS r_c_nationkey, c.c_acctbal AS r_c_acctbal,
             c.c_mktsegment AS r_c_mktsegment
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"""),

    // ---- outer/cross join breadth (SURVEY §2.4: ABSENT in reference) ----
    Gate("q_join_full", (s, d) => {
      val fc = FilterOp(t(s, d, "orders"),
        Config.of("field" -> "o_orderstatus", "op" -> "eq", "value" -> "F"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_f"))
      val pc = FilterOp(t(s, d, "orders"),
        Config.of("field" -> "o_orderstatus", "op" -> "eq", "value" -> "P"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_p"))
      JoinOp(fc, pc, Config.of(
        "left_key" -> "o_custkey", "right_key" -> "o_custkey", "how" -> "full"))
    },
      """
      SELECT f.o_custkey, f.n_f, p.o_custkey AS r_o_custkey, p.n_p AS r_n_p
      FROM (SELECT o_custkey, count(*) AS n_f FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) f
      FULL JOIN (SELECT o_custkey, count(*) AS n_p FROM orders WHERE o_orderstatus = 'P' GROUP BY 1) p
        ON f.o_custkey = p.o_custkey"""),
    Gate("q_join_right", (s, d) =>
      JoinOp(FilterOp(t(s, d, "orders"),
        Config.of("field" -> "o_orderstatus", "op" -> "eq", "value" -> "P")),
        t(s, d, "customer"),
        Config.of("left_key" -> "o_custkey", "right_key" -> "c_custkey", "how" -> "right")),
      """
      SELECT o.*, c.c_custkey AS r_c_custkey, c.c_name AS r_c_name,
             c.c_nationkey AS r_c_nationkey, c.c_acctbal AS r_c_acctbal,
             c.c_mktsegment AS r_c_mktsegment
      FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
      RIGHT JOIN customer c ON o.o_custkey = c.c_custkey"""),
    Gate("q_join_cross", (s, d) => {
      val n = t(s, d, "nation")
      t(s, d, "region").crossJoin(
        n.select(n.columns.map(cn => col(cn).as("r_" + cn)).toSeq: _*))
    },
      """
      SELECT r.*, n.n_nationkey AS r_n_nationkey, n.n_name AS r_n_name,
             n.n_regionkey AS r_n_regionkey
      FROM region r CROSS JOIN nation n"""),

    // ---- sort / top-k (reference main.py:265-268; limit ABSENT there) ----
    Gate("q_sort_topk", (s, d) =>
      SortOp(t(s, d, "orders"), Config.of(
        "columns" -> Seq(
          Map("field" -> "o_totalprice", "descending" -> true),
          Map("field" -> "o_orderkey", "descending" -> false)),
        "limit" -> 100)),
      "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"),

    // ---- deduplicate (reference main.py:270-279, first-wins) ----
    Gate("q_dedup_first", (s, d) =>
      DedupOp(events(s, d), Config.of(
        "keys" -> Seq("user_id", "event_type"), "keep" -> "first", "order_by" -> Seq("event_id")))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          unix_millis(col("ts")).as("ts_ms"), col("props")),
      """
      SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms, props
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) AS __rn
            FROM events) WHERE __rn = 1"""),

    // ---- select + rename (reference main.py:281-291) ----
    Gate("q_select_rename", (s, d) =>
      RenameOp(
        SelectOp(t(s, d, "customer"),
          Config.of("fields" -> Seq("c_custkey", "c_name", "c_acctbal"))),
        Config.of("mapping" -> Map("c_name" -> "customer_name"))),
      "SELECT c_custkey, c_name AS customer_name, c_acctbal FROM customer"),

    // ---- union by name, null-fill (reference main.py:437-443) ----
    Gate("q_union", (s, d) => {
      val cust = t(s, d, "customer").select(
        col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment"))
      val supp = t(s, d, "supplier").select(
        col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_acctbal").as("acctbal"), col("s_nationkey"))
      Transforms(cust, TransformSpec("u", "union", Config.of("inputs" -> Seq("supp"))),
        Map("supp" -> supp))
    },
      """
      SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal,
             c_mktsegment, CAST(NULL AS INTEGER) AS s_nationkey
      FROM customer
      UNION ALL
      SELECT s_suppkey, s_name, s_acctbal, CAST(NULL AS VARCHAR), s_nationkey
      FROM supplier"""),

    // ---- window functions (ABSENT in reference, SURVEY §2.4) ----
    Gate("q_window_rank", (s, d) =>
      FilterOp(
        WindowOp(t(s, d, "orders"), Config.of(
          "partition_by" -> Seq("o_custkey"),
          "order_by" -> Seq(
            Map("field" -> "o_totalprice", "descending" -> true),
            Map("field" -> "o_orderkey", "descending" -> false)),
          "functions" -> Seq(Map("function" -> "row_number", "as" -> "rn")))),
        Config.of("field" -> "rn", "op" -> "le", "value" -> 3)),
      """
      SELECT * FROM (
        SELECT o.*, row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders o) WHERE rn <= 3"""),
    Gate("q_window_running", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        count(lit(1)).over(w).as("n_so_far"),
        sum(col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double").as("spend_so_far"))
    },
      """
      SELECT o_custkey, o_orderkey, o_orderdate,
             count(*) OVER w AS n_so_far,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE) AS spend_so_far
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""),

    // ---- window breadth: lag/lead/first/ntile/percent_rank/cume_dist
    // + a RANGE frame (time-based running windows) ----
    Gate("q_window_lag", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_orderkey"), 1).over(w).as("next_key"),
        first(col("o_totalprice")).over(w).as("first_price"),
        ntile(4).over(w).cast("long").as("nt"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
    },
      """
      SELECT o_custkey, o_orderkey,
             lag(o_totalprice, 1) OVER w AS prev_price,
             lead(o_orderkey, 1) OVER w AS next_key,
             first_value(o_totalprice) OVER w AS first_price,
             CAST(ntile(4) OVER w AS BIGINT) AS nt,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""),
    Gate("q_window_range", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // RANGE frame over epoch-ms: trailing 30-day window per customer.
      // Tie-insensitive (peers share the frame), so deterministic even
      // though several orders can share a date.
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("ms"))
        .rangeBetween(-2592000000L, 0L)
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          // o_orderdate is TIMESTAMP_NTZ; session TZ is pinned UTC so
          // the cast to TIMESTAMP is the identity epoch mapping
          unix_millis(col("o_orderdate").cast("timestamp")).as("ms"))
        .select(col("o_custkey"), col("o_orderkey"), col("ms"),
          count(lit(1)).over(w).as("n_30d"),
          sum(col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double").as("spend_30d"))
    },
      """
      SELECT o_custkey, o_orderkey, ms,
             count(*) OVER w AS n_30d,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE) AS spend_30d
      FROM (SELECT o_custkey, o_orderkey, o_totalprice, epoch_ms(o_orderdate) AS ms FROM orders)
      WINDOW w AS (PARTITION BY o_custkey ORDER BY ms
                   RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW)"""),

    // ---- scalar function surface (reference: casts/case only, main.py:208-213) ----
    Gate("q_scalar", (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        substring(col("o_orderpriority"), 1, 1).as("pri"),
        length(col("o_orderpriority")).cast("long").as("plen"),
        concat(col("o_orderstatus"), lit("-"), col("o_orderpriority")).as("tag"),
        floor(col("o_totalprice")).as("fl"),
        ceil(col("o_totalprice")).as("ce")),
      """
      SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
             substr(o_orderpriority, 1, 1) AS pri, length(o_orderpriority) AS plen,
             concat(o_orderstatus, '-', o_orderpriority) AS tag,
             CAST(floor(o_totalprice) AS BIGINT) AS fl,
             CAST(ceil(o_totalprice) AS BIGINT) AS ce
      FROM orders"""),
    Gate("q_case", (s, d) =>
      t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_quantity") < 10, lit("low"))
          .when(col("l_quantity") < 30, lit("mid"))
          .otherwise(lit("high")).as("qty_band"),
        coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("rf")),
      """
      SELECT l_orderkey, l_linenumber,
             CASE WHEN l_quantity < 10 THEN 'low'
                  WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS qty_band,
             coalesce(nullif(l_returnflag, 'N'), 'none') AS rf
      FROM lineitem"""),

    // ---- temporal predicate (pushed to parquet as a timestamp filter) ----
    Gate("q_filter_date", (s, d) =>
      t(s, d, "lineitem")
        .where(col("l_shipdate") >= to_timestamp(lit("1997-01-01"))
          && col("l_shipdate") < to_timestamp(lit("1998-01-01")))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate")),
      """
      SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'"""),

    // ---- multi-way analytical queries (TPC-H-shaped): the composed
    // engine at work — join reorder, partial aggs, top-k, all from
    // Catalyst ----
    Gate("q_top_customers", (s, d) => {
      // revenue per customer over F-status orders: customer ⋈ orders ⋈ lineitem
      val cust = t(s, d, "customer")
      val ord = FilterOp(t(s, d, "orders"),
        Config.of("field" -> "o_orderstatus", "op" -> "eq", "value" -> "F"))
      val li = t(s, d, "lineitem")
      val joined = li
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      joined.groupBy(col("c_custkey"), col("c_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast("decimal(18,6)"))
            .cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(50)
    },
      """
      SELECT c_custkey, c_name,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
             count(DISTINCT o_orderkey) AS n_orders
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
      JOIN customer ON o_custkey = c_custkey
      GROUP BY c_custkey, c_name
      ORDER BY revenue DESC, c_custkey ASC LIMIT 50"""),
    Gate("q_region_sales", (s, d) => {
      // sales by region/nation: region ⋈ nation ⋈ customer ⋈ orders
      val joined = t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      joined.groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double").as("total_sales"))
    },
      """
      SELECT r_name, n_name, count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_sales
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name"""),

    // ---- pivot + explode (ABSENT in reference) ----
    Gate("q_pivot", (s, d) =>
      PivotOp(t(s, d, "lineitem"), Config.of(
        "group_by" -> Seq("l_returnflag"), "pivot" -> "l_linestatus",
        "values" -> Seq("F", "O"),
        "aggregations" -> Seq(Map("function" -> "count", "as" -> "cnt")))),
      """
      SELECT l_returnflag,
             count(*) FILTER (WHERE l_linestatus = 'F') AS "F",
             count(*) FILTER (WHERE l_linestatus = 'O') AS "O"
      FROM lineitem GROUP BY l_returnflag"""),
    Gate("q_unpivot", (s, d) =>
      UnpivotOp(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")),
        Config.of("ids" -> Seq("l_orderkey", "l_linenumber"),
          "values" -> Seq("l_quantity", "l_extendedprice"),
          "name_to" -> "metric", "value_to" -> "val")),
      """
      SELECT l_orderkey, l_linenumber, metric, val FROM (
        UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem)
        ON l_quantity, l_extendedprice INTO NAME metric VALUE val)"""),
    Gate("q_explode", (s, d) =>
      ExplodeOp(
        t(s, d, "documents").select(col("doc_id"),
          graft.ops.TextAnalysis.tokens(col("text")).as("toks")),
        Config.of("field" -> "toks", "as" -> "tok", "with_position" -> true)),
      """
      SELECT doc_id, CAST(unnest(range(len(toks))) AS INTEGER) AS tok_pos,
             unnest(toks) AS tok_value
      FROM (SELECT doc_id,
              list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
            FROM documents)"""),

    // ---- set ops + distinct (ABSENT in reference, SURVEY §2.4) ----
    Gate("q_distinct", (s, d) =>
      Transforms(t(s, d, "lineitem").select(col("l_returnflag"), col("l_linestatus")),
        TransformSpec("d", "distinct"), Map.empty),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),
    Gate("q_intersect", (s, d) => {
      val building = FilterOp(t(s, d, "customer"),
        Config.of("field" -> "c_mktsegment", "op" -> "eq", "value" -> "BUILDING"))
        .select(col("c_custkey").as("key"))
      val withOrders = t(s, d, "orders").select(col("o_custkey").as("key"))
      Transforms(building, TransformSpec("i", "intersect", Config.of("other" -> "o")),
        Map("o" -> withOrders))
    },
      """
      SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey FROM orders"""),
    Gate("q_except", (s, d) => {
      val all = t(s, d, "orders").select(col("o_custkey").as("key"))
      val f = FilterOp(t(s, d, "orders"),
        Config.of("field" -> "o_orderstatus", "op" -> "eq", "value" -> "F"))
        .select(col("o_custkey").as("key"))
      Transforms(all, TransformSpec("e", "except", Config.of("other" -> "f")),
        Map("f" -> f))
    },
      """
      SELECT o_custkey AS key FROM orders
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'"""),

    // ---- composite-key join ----
    Gate("q_join_multikey", (s, d) => {
      val li = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val right = t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      JoinOp(li, right, Config.of(
        "left_keys" -> Seq("l_orderkey", "l_linenumber"),
        "right_keys" -> Seq("l_orderkey", "l_linenumber")))
    },
      """
      SELECT a.l_orderkey, a.l_linenumber, a.l_quantity,
             b.l_orderkey AS r_l_orderkey, b.l_linenumber AS r_l_linenumber,
             b.l_extendedprice AS r_l_extendedprice
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber"""),

    // ---- scalar breadth: math/string/date (sqrt is IEEE-exact
    // cross-engine; exp/ln/pow are libm-dependent and excluded) ----
    Gate("q_scalar2", (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        sqrt(col("o_totalprice")).as("sq"),
        abs(col("o_totalprice") - lit(100000.0)).as("ab"),
        lpad(col("o_orderstatus"), 3, "_").as("lp"),
        regexp_replace(col("o_orderpriority"), "-", "_").as("rp"),
        regexp_extract(col("o_orderpriority"), "^(\\d+)", 1).as("pnum"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        unix_millis(date_trunc("month", col("o_orderdate"))).as("month_ms")),
      """
      SELECT o_orderkey, sqrt(o_totalprice) AS sq,
             abs(o_totalprice - 100000.0) AS ab,
             lpad(o_orderstatus, 3, '_') AS lp,
             regexp_replace(o_orderpriority, '-', '_', 'g') AS rp,
             regexp_extract(o_orderpriority, '^(\d+)', 1) AS pnum,
             CAST(day(o_orderdate) AS BIGINT) AS dom,
             CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
             epoch_ms(date_trunc('month', o_orderdate)) AS month_ms
      FROM orders"""),

    // ---- scalar breadth: date / string / json / array function
    // families (every output serialized to a scalar; date results as
    // ISO strings so both engines agree on the wire format) ----
    Gate("q_date_funcs", (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("d30"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
        date_format(add_months(col("o_orderdate"), 2), "yyyy-MM-dd").as("m2"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        weekofyear(col("o_orderdate")).cast("long").as("woy"),
        datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("long").as("dd")),
      """
      SELECT o_orderkey,
             strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS d30,
             strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
             strftime(CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE), '%Y-%m-%d') AS m2,
             CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
             CAST(weekofyear(o_orderdate) AS BIGINT) AS woy,
             CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dd
      FROM orders"""),
    Gate("q_string_funcs", (s, d) =>
      t(s, d, "orders").select(
        col("o_orderkey"),
        reverse(col("o_orderpriority")).as("rev"),
        repeat(col("o_orderstatus"), 3).as("rep"),
        translate(col("o_orderpriority"), "-", "_").as("tr"),
        expr("split_part(o_orderpriority, '-', 2)").as("sp"),
        instr(col("o_orderpriority"), "-").cast("long").as("pos"),
        col("o_orderpriority").startsWith("1").as("sw"),
        expr("left(o_orderpriority, 3)").as("lft"),
        expr("right(o_orderpriority, 3)").as("rgt")),
      """
      SELECT o_orderkey,
             reverse(o_orderpriority) AS rev,
             repeat(o_orderstatus, 3) AS rep,
             translate(o_orderpriority, '-', '_') AS tr,
             split_part(o_orderpriority, '-', 2) AS sp,
             CAST(strpos(o_orderpriority, '-') AS BIGINT) AS pos,
             starts_with(o_orderpriority, '1') AS sw,
             left(o_orderpriority, 3) AS lft,
             right(o_orderpriority, 3) AS rgt
      FROM orders"""),
    Gate("q_json_funcs", (s, d) =>
      events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_num"),
        get_json_object(col("props"), "$.missing").as("m")),
      """
      SELECT event_id,
             json_extract_string(props, '$.k') AS k_str,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
             json_extract_string(props, '$.missing') AS m
      FROM events"""),
    Gate("q_array_funcs", (s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      t(s, d, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("ntok"),
        array_join(slice(toks, 1, 3), " ").as("first3"),
        array_contains(toks, "the").as("has_the"),
        array_min(toks).as("tok_min"),
        array_max(toks).as("tok_max"),
        size(array_distinct(toks)).cast("long").as("nuniq"))
    },
      """
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS ntok,
             array_to_string(toks[1:3], ' ') AS first3,
             list_contains(toks, 'the') AS has_the,
             list_aggregate(toks, 'min') AS tok_min,
             list_aggregate(toks, 'max') AS tok_max,
             CAST(len(list_distinct(toks)) AS BIGINT) AS nuniq
      FROM (SELECT doc_id,
              list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
            FROM documents)"""),

    // ---- SQL surface: the full Catalyst SQL front-end over the same
    // tables (the reference's only SQL is pass-through to SQLite,
    // main.py:133-136; ours is a first-class entry point) ----
    Gate("q_sql_join", (s, d) => {
      t(s, d, "lineitem").createOrReplaceTempView("lineitem")
      t(s, d, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderpriority, count(*) AS n,
                      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE o_orderdate >= TIMESTAMP '1996-01-01'
               GROUP BY o_orderpriority""")
    },
      """
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      GROUP BY o_orderpriority"""),

    // ---- temporal joins (as-of, range): graft.ops.TemporalJoins ----
    Gate("x_asof_join", (s, d) => {
      val ev = events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      graft.ops.TemporalJoins.asOf(purchases, clicks,
        Seq("user_id"), Seq("user_id"), "ts_us", "ts_us",
        rightPayload = Seq("event_id", "ts_us"), rightTieBreak = "event_id",
        strict = false, prefix = "click_")
    },
      """
      -- deterministic asof: DuckDB's ASOF JOIN leaves the pick among
      -- right rows tied on ts unspecified; this window formulation pins
      -- the same (max ts_us, then max event_id) tiebreak the Spark op uses
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
                 FROM events WHERE event_type = 'purchase'),
           c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                 FROM events WHERE event_type = 'click')
      SELECT p.event_id, p.user_id, p.ts_us, p.value,
             c.event_id AS click_event_id, c.ts_us AS click_ts_us
      FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
      QUALIFY row_number() OVER (PARTITION BY p.event_id
        ORDER BY c.ts_us DESC NULLS LAST, c.event_id DESC NULLS LAST) = 1"""),
    Gate("x_range_join", (s, d) => {
      val ev = events(s, d)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      graft.ops.TemporalJoins.rangeJoin(clicks, purchases,
        Seq("user_id"), Seq("user_id"), "ts_us", "ts_us",
        lowerMs = 1L, upperMs = 300000000L, prefix = "p_")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("p_event_id").as("purchase_id"),
          (col("p_ts_us") - col("ts_us")).as("gap_us"))
    },
      """
      SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id,
             p.ts_us - c.ts_us AS gap_us
      FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us
            FROM events WHERE event_type = 'click') c
      JOIN (SELECT event_id, user_id, epoch_us(ts) AS ts_us
            FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND p.ts_us >= c.ts_us + 1 AND p.ts_us <= c.ts_us + 300000000"""),

    // ---- deterministic sampling / splits (content-hash based) ----
    Gate("q_sample", (s, d) =>
      SampleOp(t(s, d, "documents"), Config.of("key" -> "doc_id", "mod" -> 10, "below" -> 3)),
      """
      SELECT * FROM documents
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 3"""),
    // per-class deterministic downsampling (rebalance a skewed corpus):
    // keep 30% of en, all of zh, 10% of everything else — same md5
    // bucket mechanism as q_sample so the oracle replays it exactly
    Gate("x_stratified_sample", (s, d) =>
      StratifiedSampleOp(t(s, d, "documents"), Config.of(
        "key" -> "doc_id", "class_field" -> "lang", "mod" -> 10,
        "default_below" -> 1, "below" -> Map("en" -> 3, "zh" -> 10))),
      """
      SELECT * FROM documents
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 <
            CASE WHEN lang = 'en' THEN 3 WHEN lang = 'zh' THEN 10 ELSE 1 END"""),
    Gate("x_split", (s, d) =>
      SplitOp(t(s, d, "documents"), Config.of(
        "key" -> "doc_id", "mod" -> 100, "train_below" -> 80, "val_below" -> 90))
        .select(col("doc_id"), col("split")),
      """
      SELECT doc_id,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
      FROM (SELECT doc_id,
              CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
            FROM documents)"""),

    // deterministic k-sample: bottom-k by content hash — an exact,
    // reproducible "random" sample that any engine reproduces (plans
    // as TakeOrderedAndProject: per-partition top-k + driver merge,
    // no full sort)
    Gate("q_sample_bottomk", (s, d) =>
      t(s, d, "documents")
        .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
        .limit(100),
      """
      SELECT * FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC LIMIT 100"""),

    // custom typed UDAF (reference UDAF surface: ABSENT): per-group
    // deterministic k-sample of distinct users, bottom-k by md5(id).
    // Output serialized to a csv string: the oracle compare sorts
    // every column in pandas, and array cells are unsortable there.
    Gate("x_group_sample", (s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(graft.ops.BottomKSample.of(col("user_id"), 5).as("__sample"))
        .select(col("event_type"),
          array_join(col("__sample").cast("array<string>"), ",").as("sample_users")),
      """
      SELECT event_type,
             array_to_string(list_slice(list(CAST(user_id AS VARCHAR) ORDER BY h, user_id), 1, 5), ',') AS sample_users
      FROM (SELECT DISTINCT event_type, user_id,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events)
      GROUP BY event_type"""),

    // ---- one-pass dataset profiler (validate_schema on steroids) ----
    Gate("x_profile_stats", (s, d) =>
      graft.ops.Profile.stats(t(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber")),
      """
      SELECT 'l_returnflag' AS col_name, count(*) AS n_rows,
             count(*) - count(l_returnflag) AS n_nulls,
             count(DISTINCT l_returnflag) AS n_distinct,
             CAST(min(l_returnflag) AS VARCHAR) AS min_value,
             CAST(max(l_returnflag) AS VARCHAR) AS max_value FROM lineitem
      UNION ALL
      SELECT 'l_linestatus', count(*), count(*) - count(l_linestatus),
             count(DISTINCT l_linestatus),
             CAST(min(l_linestatus) AS VARCHAR), CAST(max(l_linestatus) AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'l_orderkey', count(*), count(*) - count(l_orderkey),
             count(DISTINCT l_orderkey),
             CAST(min(l_orderkey) AS VARCHAR), CAST(max(l_orderkey) AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'l_linenumber', count(*), count(*) - count(l_linenumber),
             count(DISTINCT l_linenumber),
             CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR) FROM lineitem"""),
    // temperature rebalancing at alpha=0.5 over the lang classes
    // (218/75/73/70/64 at sf0.01): keep rate sqrt(n_min/n_c), accept
    // iff 48-bit md5 prefix < floor(q*2^48) — sqrt/division are IEEE
    // correctly-rounded, so the oracle's thresholds are bit-identical
    Gate("x_temperature_sample", (s, d) =>
      graft.ops.Packing.temperatureSample(
          docs(s, d).select(col("doc_id"), col("lang")),
          "doc_id", "lang", alpha = 0.5, seed = 42L)
        .select(col("doc_id"), col("lang")),
      """
      WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      thr AS (
        SELECT lang,
          CAST(floor(sqrt((SELECT min(n) FROM cnt) / CAST(n AS DOUBLE)) *
                     281474976710656.0) AS BIGINT) AS t
        FROM cnt)
      SELECT d.doc_id, d.lang
      FROM documents d JOIN thr USING (lang)
      WHERE ('0x' || substr(md5('42' || ':' || CAST(d.doc_id AS VARCHAR)), 1, 12))::BIGINT
            < thr.t"""),
    // reproducible training-order shuffle: md5-of-key order into 8
    // shards; the oracle recomputes the 16-bit md5-prefix shard
    // assignment per character and replays the within-shard rank
    Gate("x_shuffle_shards", (s, d) =>
      graft.ops.Packing.shuffleShards(docs(s, d), "doc_id", nShards = 8, seed = 42L)
        .select(col("doc_id"), col("shard"), col("pos")),
      """
      WITH h AS (
        SELECT doc_id, md5(concat('42', ':', CAST(doc_id AS VARCHAR))) AS h
        FROM documents),
      s AS (
        SELECT doc_id, h, CAST((
            (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096 +
            (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 256 +
            (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 +
            (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)) % 8 AS INTEGER) AS shard
        FROM h)
      SELECT doc_id, shard,
             CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
      FROM s"""),

    // Bloom membership: even-id URLs build two filters (2 KiB noisy,
    // 16 KiB clean); every doc probes both. The oracle REBUILDS the
    // identical filters with a bitstring aggregate over the same
    // md5-derived positions and reproduces every verdict — including
    // the small filter's false positives (3 at sf0.01), which makes
    // the determinism contract total, not just "no false negatives".
    Gate("x_bloom_filter", (s, d) => {
      val dd = docs(s, d)
      val members = dd.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(concat(lit("url-"), col("doc_id")).as("key"))
      val fSmall = graft.ops.Bloom.build(members, "key", 2048, 4)
      val fBig = graft.ops.Bloom.build(members, "key", 16384, 4)
      val key = concat(lit("url-"), col("doc_id"))
      dd.select(col("doc_id"),
        (pmod(col("doc_id"), lit(2)) === 0).as("member"),
        graft.ops.Bloom.mightContain(fSmall, 4, key).as("hit_small"),
        graft.ops.Bloom.mightContain(fBig, 4, key).as("hit_big"))
    },
      // bloom filters rebuilt bit for bit: same md5 double-hash
      // positions, bitstring aggregate, min-over-probes verdicts
      """
      WITH mh AS (
        SELECT CAST(('0x' || substr(md5('url-' || doc_id), 1, 8)) AS BIGINT) AS h1,
               CAST(('0x' || substr(md5('url-' || doc_id), 9, 8)) AS BIGINT) AS h2
        FROM documents WHERE doc_id % 2 = 0),
      pos_s AS (SELECT DISTINCT CAST((h1 + t.i * h2) % 2048 AS INT) AS p FROM mh, range(4) t(i)),
      f_s AS (SELECT bitstring_agg(p, 0, 2047) AS bs FROM pos_s),
      pos_b AS (SELECT DISTINCT CAST((h1 + t.i * h2) % 16384 AS INT) AS p FROM mh, range(4) t(i)),
      f_b AS (SELECT bitstring_agg(p, 0, 16383) AS bs FROM pos_b),
      probes AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('url-' || doc_id), 1, 8)) AS BIGINT) AS h1,
               CAST(('0x' || substr(md5('url-' || doc_id), 9, 8)) AS BIGINT) AS h2
        FROM documents),
      hits AS (
        SELECT p.doc_id,
               min(get_bit(f_s.bs, CAST((p.h1 + t.i * p.h2) % 2048 AS INT))) AS s_ok,
               min(get_bit(f_b.bs, CAST((p.h1 + t.i * p.h2) % 16384 AS INT))) AS b_ok
        FROM probes p, range(4) t(i), f_s, f_b
        GROUP BY p.doc_id)
      SELECT doc_id, doc_id % 2 = 0 AS member,
             s_ok = 1 AS hit_small, b_ok = 1 AS hit_big
      FROM hits"""),

    // Count-Min heavy hitters (round 11, the Bloom sibling): every
    // corpus token with >= 200 occurrences, found by building the
    // deterministic d=4 w=1024 sketch in ONE fixed-state aggregation,
    // prefiltering the token stream at the scan against the sketch
    // (CMS never undercounts, so the prefilter is lossless), and
    // exact-counting only the surviving candidates. The oracle
    // rebuilds the full 4×1024 grid from the same md5 double-hash
    // arithmetic and replays counts AND estimates — the determinism
    // contract is total.
    Gate("x_heavy_hitters", (s, d) => {
      val toks = docs(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      graft.ops.CountMin.heavyHitters(toks, "tok", threshold = 200L, d = 4, w = 1024)
    },
      // heavy hitters re-derived: the oracle builds the same 4×1024
      // count-min grid cell by cell (every token occurrence lands at
      // (i, (h1 + i*h2) mod 1024) for i in 0..3), then replays each
      // candidate's min-over-rows estimate and the exact-count filter
      """
      WITH toks AS MATERIALIZED (
        SELECT u.tok FROM (
          SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                        t -> t <> '')) AS tok
          FROM documents) u),
      h AS MATERIALIZED (
        SELECT tok,
               CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h1,
               CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS h2
        FROM toks),
      cells AS (
        SELECT t.i AS ri, CAST((h1 + t.i * h2) % 1024 AS INT) AS cj, count(*) AS c
        FROM h, range(4) t(i)
        GROUP BY 1, 2),
      keys AS (
        SELECT tok, count(*) AS cnt, any_value(h1) AS h1, any_value(h2) AS h2
        FROM h GROUP BY tok),
      est AS (
        SELECT k.tok, k.cnt, min(c.c) AS est
        FROM keys k
        JOIN range(4) t(i) ON true
        JOIN cells c ON c.ri = t.i AND c.cj = CAST((k.h1 + t.i * k.h2) % 1024 AS INT)
        GROUP BY k.tok, k.cnt)
      SELECT tok AS key, CAST(cnt AS BIGINT) AS cnt, CAST(est AS BIGINT) AS est
      FROM est WHERE cnt >= 200"""),

    // Bloom-pruned join (round 11): lineitem pruned AT ITS SCAN with
    // a filter built over a selective orders subset, exact join after
    // — the oracle is the PLAIN SQL join, because the contract is
    // "row-for-row identical to the unpruned join" (no false
    // negatives; the exact join removes the false positives). The
    // plan shape (prune below the exchange) is asserted in OpsSpec.
    Gate("x_bloom_join", (s, d) => {
      val right = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.ops.Bloom.prunedJoin(t(s, d, "lineitem"), right, "l_orderkey", "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("o_totalprice"))
    },
      // bloom-pruned join: the oracle is the PLAIN join — pruning must
      // be invisible in the result set
      """
      SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
      FROM lineitem l
      JOIN (SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000) o
        ON l.l_orderkey = o.o_orderkey"""),

    // ==== extensions: sketches. HLL/quantile internals are
    // engine-specific so the ESTIMATES can't hash-match another
    // engine; the CONTRACT can (same shape as the ANN recall gates):
    // compute the exact answers alongside the sketches in one pass,
    // hash-check the exact values against DuckDB, and assert the
    // estimates land within the declared relative error (HLL++ rsd
    // 0.02 → 5% bound = 2.5σ; quantile sketch at accuracy 10000 →
    // ≤ n/10000 rank error, 1% value bound). Sketches are
    // deterministic for fixed data, so the verdicts are stable. ====
    // two aggregations joined on the 3-row group key, NOT one: mixing
    // countDistinct with the percentile aggregates triggers the
    // distinct-Expand rewrite, which drags the value-buffering
    // ObjectHashAggregate through doubled rows with partial
    // aggregation degraded — measured 29.3 s vs 3.0 s for this split
    // at sf0.1 (each branch alone: ≤1.2 s; the scan is read twice but
    // both passes are partial-agg-friendly)
    Gate("x_approx", (s, d) => {
      val li = t(s, d, "lineitem")
      val counts = li.groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).cast("long").as("exact_parts"),
          approx_count_distinct(col("l_partkey"), rsd = 0.02).as("ad"))
      val pcts = li.groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("ep"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("ap"))
      counts.join(pcts, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("ad") - col("exact_parts")) <= col("exact_parts") * lit(0.05))
            .as("parts_within_5pct"),
          (abs(col("ap") - col("ep")) <= abs(col("ep")) * lit(0.01))
            .as("p50_within_1pct"))
    },
      // sketch-accuracy contract: the exact per-group distinct counts
      // hash-match DuckDB's; the sketch estimates are asserted inside
      // their declared error.
      """
      SELECT l_returnflag,
             CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
             true AS parts_within_5pct, true AS p50_within_1pct
      FROM lineitem GROUP BY l_returnflag"""),

    // ==== sqlite data plane (reference main.py:130-138 source,
    // main.py:326-341 sink) via the pure-Scala file codec — a REAL
    // .db file is written and read back inside the query, so the gate
    // exercises the full encode→decode path with typed storage
    // classes (INTEGER/REAL/TEXT). `table` mode round-trip: ====
    Gate("q_sqlite_roundtrip", (s, d) => {
      val db = java.nio.file.Files.createTempDirectory("graft_sqlite_gate")
        .resolve("roundtrip.db").toString
      val nation = t(s, d, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").cast("long").as("n_regionkey"),
        (col("n_nationkey") * lit(1.5)).as("score"))
      graft.catalog.SqliteData.write(db, "nation_rt", nation, overwrite = true)
      graft.catalog.SqliteData.readTable(s, db, "nation_rt")
    },
      // sqlite data plane: the Spark side writes nation through a real
      // .db file and reads it back, so matching this plain-parquet
      // oracle proves the codec round-trip is lossless for INTEGER/
      // REAL/TEXT storage classes.
      """
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             CAST(n_regionkey AS BIGINT) AS n_regionkey,
             n_nationkey * 1.5 AS score
      FROM nation"""),
    // ORC data plane: typed round-trip through the REAL sink/source
    // dispatch (SinkWriter orc → SourceReader orc), the same gate
    // shape as the sqlite data plane — the oracle compare proves
    // values survive the format, not just that the code compiles.
    // Range-clustered relayout is CORRECTNESS-preserving: cluster
    // lineitem by l_shipdate into 8 disjoint-range sorted files, then
    // answer a date-range aggregate from the clustered copy — the
    // oracle answers it from the original table. ScaleSpec separately
    // asserts the pruning property (disjoint per-file key ranges).
    Gate("q_layout_cluster", (s, d) => {
      val out = java.nio.file.Files.createTempDirectory("q_layout_cluster")
        .resolve("li").toString
      graft.ops.Layout.writeRangeClustered(
        t(s, d, "lineitem"), out, Seq("l_shipdate"), numFiles = 8)
      s.read.parquet(out)
        .where(col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast("decimal(38,6)")).cast("double").as("sum_qty"))
    },
      // orc round-trip must preserve exactly the same typed values
      """
      SELECT l_returnflag, count(*) AS cnt,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_shipdate BETWEEN '1996-01-01' AND '1996-12-31'
      GROUP BY l_returnflag"""),
    // Raw-text roundtrip: documents → one line per doc through the
    // text sink → read back through the text source. The corpus
    // contract (no embedded newlines) is the format's own contract;
    // lines are self-identifying so the unordered read hash-matches.
    Gate("q_text_roundtrip", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_text_gate")
        .resolve("docs_txt").toString
      val lines = docs(s, d)
        .select(concat(col("doc_id"), lit("|"), col("text")).as("value"))
      graft.sinks.SinkWriter.write(lines,
        graft.spec.SinkSpec("text_out", "text", graft.spec.Config.of("path" -> dir)))
      graft.sources.SourceReader.read(s,
        graft.spec.SourceSpec("text_in", "text", graft.spec.Config.of("path" -> dir)))
    },
      """
      SELECT doc_id || '|' || text AS value FROM documents"""),
    Gate("q_orc_roundtrip", (s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_orc_gate")
        .resolve("nation_orc").toString
      val nation = t(s, d, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").cast("long").as("n_regionkey"),
        (col("n_nationkey") * lit(1.5)).as("score"))
      graft.sinks.SinkWriter.write(nation,
        graft.spec.SinkSpec("orc_out", "orc", graft.spec.Config.of("path" -> dir)))
      graft.sources.SourceReader.read(s,
        graft.spec.SourceSpec("orc_in", "orc", graft.spec.Config.of("path" -> dir)))
    },
      """
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
             CAST(n_regionkey AS BIGINT) AS n_regionkey,
             n_nationkey * 1.5 AS score
      FROM nation"""),

    // `query` mode: the reference's arbitrary-SQL source config,
    // re-expressed as Catalyst SQL over the file's tables-as-views
    Gate("q_sqlite_query", (s, d) => {
      val db = java.nio.file.Files.createTempDirectory("graft_sqlite_gate")
        .resolve("query.db").toString
      val nation = t(s, d, "nation").select(
        col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"),
        col("n_regionkey").cast("long").as("n_regionkey"))
      graft.catalog.SqliteData.write(db, "nation_rt", nation, overwrite = true)
      graft.catalog.SqliteData.readQuery(s, db,
        "SELECT n_regionkey, count(*) AS cnt, sum(n_nationkey) AS key_sum " +
          "FROM nation_rt GROUP BY n_regionkey")
    },
      """
      SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(n_nationkey) AS BIGINT) AS key_sum
      FROM nation GROUP BY n_regionkey"""),
  )
}
