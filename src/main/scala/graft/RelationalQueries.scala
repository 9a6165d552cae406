package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The relational operator families of SURVEY.md §2 (counting aggregates
 * A1-A6, candidate joins C1/C2, windows R1-R3/R8, filters F1-F5, set ops
 * R5/R7) exercised over the driver's parquet tables so DuckDB can
 * hash-verify values. Each query has a shape the KG pipeline uses
 * (groupBy sums, top-k per key, softmax windows).
 *
 * Numeric parity rules: exact sums go through DECIMAL casts (then to
 * DOUBLE); float expressions are rounded to 6 places on both sides.
 */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1/A2-family: groupBy counts + exact sums
    "r_agg_counts" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))),

    // A1's skewed-key sum: one groupBy + sum, combined map-side, so a
    // hot key crosses the exchange as one partial row per map task
    "r_salted_agg" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))),

    // C1-family: dim join (broadcast when under the threshold) + aggregation
    "r_join_agg" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val part = t(s, d, "part")
      li.join(part, li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
    }),

    // C2/R1-family: top-k per key window (candidate-pruning shape)
    "r_topk_window" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("rk", row_number().over(
          Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc, col("p_partkey")))
          .cast("long"))
        .filter(col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")),

    // R2-family: percentage-of-second via lead()
    "r_pct_second" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rk", row_number().over(w))
        .withColumn("pct_second",
          coalesce(round(lead(col("o_totalprice"), 1).over(w) / col("o_totalprice"), 6), lit(-1.0)))
        .filter(col("rk") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice", "pct_second")
    }),

    // R3-family: stable softmax over a window (logsumexp shape)
    "r_softmax_window" -> ((s, d) => {
      val w = Window.partitionBy("l_orderkey")
      t(s, d, "lineitem")
        .withColumn("m", max(col("l_discount")).over(w))
        .withColumn("softmax",
          round(exp(col("l_discount") - col("m")) /
            sum(exp(col("l_discount") - col("m"))).over(w), 6))
        .select("l_orderkey", "l_linenumber", "softmax")
    }),

    // R8-family: prior = share of a global total. Computed as a scalar
    // aggregate cross-joined back onto the rows (a global window over ()
    // would funnel every row through one partition at scale).
    "r_prior_share" -> ((s, d) => {
      val sup = t(s, d, "supplier")
      val total = sup.agg(sum(col("s_acctbal")).as("_total"))
      sup.crossJoin(total)
        .withColumn("prior", round(col("s_acctbal") / col("_total"), 9))
        .select("s_suppkey", "prior")
    }),

    // F1-F3-family: filter chain with thresholds
    "r_filter_chain" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_quantity") > 30 &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")),

    // F5-family: semi/anti joins against a key list (filtered subset so
    // the result is non-empty and the anti-join is actually exercised)
    "r_anti_join" -> ((s, d) =>
      t(s, d, "part").join(
        t(s, d, "lineitem").filter(col("l_quantity") > 45)
          .select(col("l_partkey").as("p_partkey")),
        Seq("p_partkey"), "left_anti")
        .select("p_partkey", "p_name")),
    "r_semi_join" -> ((s, d) =>
      t(s, d, "customer").join(
        t(s, d, "orders").select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_semi")
        .select("c_custkey")),

    // R5/R7-family: union + distinct
    "r_union_distinct" -> ((s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("k"))
        .unionByName(t(s, d, "supplier").select(col("s_nationkey").as("k")))
        .distinct()),

    // R-family: running window aggregate (deterministic ROWS frame)
    "r_running_sum" -> ((s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "lineitem")
        .withColumn("running_qty",
          sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double"))
        .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
    }),

    // C1+A2-family: multi-way join (dim ⋈ fact ⋈ fact) + aggregation —
    // the join-reorder / broadcast-planning shape of the candidate path
    "r_multi_join" -> ((s, d) => {
      val cust = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
      val ord = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity"))
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
    }),

    // D5-family: conditional aggregation (the mixture/NIL-gate shape)
    "r_conditional_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag").agg(
        sum(when(col("l_discount") > 0.05, col("l_quantity")).otherwise(lit(0))
          .cast("decimal(18,2)")).cast("double").as("qty_highdisc"),
        count(when(col("l_tax") > 0.04, lit(1))).as("n_hightax"),
        round(avg(col("l_extendedprice").cast("decimal(18,4)")), 4)
          .cast("double").as("avg_price"))),

    // A5-family: explode + dictionary count over JSON-ish props
    "r_props_key_counts" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("k").agg(count(lit(1)).as("n"))),

    // D3-family: scalar-math term per row + exact aggregation (the
    // log-likelihood sum shape; sqrt is IEEE-correctly-rounded on both
    // engines so the per-term DECIMAL cast makes the sum order-free)
    "r_sqrt_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag").agg(
        sum(sqrt(col("l_quantity")).cast("decimal(28,10)"))
          .cast("double").as("sum_sqrt_qty"),
        count(lit(1)).as("n"))),

    // F6/R4-family: earliest-row-per-group propagation via first_value —
    // the coreference "copy from the earliest occurrence" window shape
    "r_first_value" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      t(s, d, "orders")
        .withColumn("first_order", first(col("o_orderkey")).over(w))
        .select("o_custkey", "o_orderkey", "first_order")
    }),

    // R6-family: deterministic key-based split (portable modular
    // arithmetic standing in for the hash split, which is engine-local)
    "r_mod_split" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("bucket", pmod(col("o_orderkey"), lit(5)))
        .groupBy("bucket").agg(count(lit(1)).as("n"))),

    // R2-family: lag/lead deltas (the percentageOfSecondRank shape over
    // event streams — previous-row comparison inside one window sort)
    "r_lag_delta" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, d, "events")
        .withColumn("prev_value",
          lag(col("value").cast("decimal(18,2)"), 1).over(w).cast("double"))
        .withColumn("delta",
          (col("value").cast("decimal(18,2)") -
            coalesce(lag(col("value").cast("decimal(18,2)"), 1).over(w),
              lit(0).cast("decimal(18,2)"))).cast("double"))
        .select("user_id", "event_id", "prev_value", "delta")
    }),

    // A6-family: multi-level totals via rollup (grand + per-group totals
    // in one pass — the totals-table shape)
    "r_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))),

    // C5-family: exact + approximate distinct counts (ambiguity-count
    // shape; the HLL column is rows-only in spirit but deterministic for
    // a fixed input, and the exact column is the oracle anchor)
    "r_distinct_users" -> ((s, d) =>
      t(s, d, "events").groupBy("event_type").agg(
        countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n"))),

    // R1-family: ntile quantile bucketing (the threshold-training shape:
    // rank rows into k equal buckets per partition)
    "r_ntile" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      t(s, d, "events")
        .withColumn("quartile", ntile(4).over(w))
        .groupBy("event_type", "quartile")
        .agg(count(lit(1)).as("n"),
          max(col("value").cast("decimal(18,2)")).cast("double").as("q_max"))
    }))

  def oracleSql: Map[String, String] = Map(
    "r_agg_counts" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type""",
    "r_salted_agg" ->
      """SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_partkey""",
    "r_join_agg" ->
      """SELECT p_brand, count(*) AS n,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY p_brand""",
    "r_topk_window" ->
      """SELECT p_brand, p_partkey, p_retailprice, rk FROM (
           SELECT p_brand, p_partkey, p_retailprice,
                  row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
           FROM part) WHERE rk <= 3""",
    "r_pct_second" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, pct_second FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk,
                  coalesce(round(lead(o_totalprice, 1) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) / o_totalprice, 6), -1.0) AS pct_second
           FROM orders) WHERE rk = 1""",
    "r_softmax_window" ->
      """SELECT l_orderkey, l_linenumber,
                round(exp(l_discount - m) / sum(exp(l_discount - m)) OVER (PARTITION BY l_orderkey), 6) AS softmax
         FROM (SELECT l_orderkey, l_linenumber, l_discount,
                      max(l_discount) OVER (PARTITION BY l_orderkey) AS m
               FROM lineitem)""",
    "r_prior_share" ->
      """SELECT s_suppkey, round(s_acctbal / sum(s_acctbal) OVER (), 9) AS prior FROM supplier""",
    "r_filter_chain" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
         WHERE l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.06 AND l_returnflag = 'R'""",
    "r_anti_join" ->
      """SELECT p_partkey, p_name FROM part
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45)""",
    "r_semi_join" ->
      """SELECT c_custkey FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "r_union_distinct" ->
      """SELECT DISTINCT k FROM (
           SELECT c_nationkey AS k FROM customer
           UNION ALL SELECT s_nationkey AS k FROM supplier)""",
    "r_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
                  PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
         FROM lineitem""",
    "r_props_key_counts" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
         FROM events GROUP BY 1""",
    "r_multi_join" ->
      """SELECT c_nationkey, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                       JOIN customer ON o_custkey = c_custkey
         GROUP BY c_nationkey""",
    "r_sqrt_agg" ->
      """SELECT l_returnflag,
                CAST(sum(CAST(sqrt(l_quantity) AS DECIMAL(28,10))) AS DOUBLE) AS sum_sqrt_qty,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag""",
    "r_first_value" ->
      """SELECT o_custkey, o_orderkey,
                first_value(o_orderkey) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS first_order
         FROM orders""",
    "r_mod_split" ->
      """SELECT o_orderkey % 5 AS bucket, count(*) AS n
         FROM orders GROUP BY 1""",
    "r_conditional_agg" ->
      """SELECT l_returnflag,
                CAST(sum(CAST(CASE WHEN l_discount > 0.05 THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS qty_highdisc,
                count(CASE WHEN l_tax > 0.04 THEN 1 END) AS n_hightax,
                CAST(round(avg(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS avg_price
         FROM lineitem GROUP BY l_returnflag""",
    "r_lag_delta" ->
      """SELECT user_id, event_id,
                CAST(lag(CAST(value AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS prev_value,
                CAST(CAST(value AS DECIMAL(18,2)) -
                     coalesce(lag(CAST(value AS DECIMAL(18,2)), 1) OVER w,
                              CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS delta
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
    "r_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "r_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
         FROM events GROUP BY event_type""",
    "r_ntile" ->
      """SELECT event_type, quartile, count(*) AS n,
                CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS q_max
         FROM (SELECT event_type, event_id, value,
                      ntile(4) OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) AS quartile
               FROM events)
         GROUP BY event_type, quartile""")
}
