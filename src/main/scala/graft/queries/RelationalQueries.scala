package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ops.RelOps

import Support._

/** Relational core: scans, filters, joins, set operations, grouped and
  * windowed aggregation, reshaping, and the dialect-common SQL texts of
  * the string frontend (each runs verbatim in Spark and in DuckDB).
  */
private[graft] object RelationalQueries {

  /** Dialect-common SQL texts: each runs verbatim in Spark AND DuckDB
    * (the oracle), so the string frontend is oracle-checked end to
    * end with zero translation layer.
    */
  private val SqlRevenueByNation =
    """SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))),2) AS DOUBLE) AS revenue,
       count(*) AS n_items
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name
       ORDER BY n_name"""

  private val SqlSearchTopK =
    """SELECT p_partkey, p_name, round(p_retailprice,2) AS price
       FROM part WHERE lower(p_name) LIKE '%blue%'
       ORDER BY p_retailprice DESC, p_partkey LIMIT 5"""

  /** Arbitrary grouping sets — NOT a rollup chain: the middle set
    * skips the leading column, so ROLLUP/CUBE can't express it. The
    * text runs verbatim in Spark AND DuckDB (q127's dialect-common
    * discipline).
    */
  private val SqlGroupingSets =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_price
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
         (o_orderpriority), ())
       ORDER BY o_orderstatus ASC NULLS FIRST,
         o_orderpriority ASC NULLS FIRST"""

  private val SqlWindowTop2 =
    """SELECT o_custkey, o_orderkey, rk FROM (
         SELECT o_custkey, o_orderkey,
           CAST(rank() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
         FROM orders) t
       WHERE rk <= 2
       ORDER BY o_custkey, rk, o_orderkey"""

  /** Consecutive-id neighbor dot products over the (unit-norm)
    * embeddings; `dotExpr` is the engine's dot product over
    * (a.embedding, b.embedding) — the graft native kernel in Spark,
    * DuckDB's list_dot_product CAST to DOUBLE in the oracle (its
    * FLOAT[] form returns float32, whose round carries float32
    * precision into the compare). `+ 0.0` normalizes -0.0 the same
    * way q123 does.
    */
  private def SqlNeighborDot(dotExpr: String) =
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        round($dotExpr, 3) + 0.0 AS dot
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id < 50
        ORDER BY id_a"""

  /** Per-event-type mean of `props.k` — shared by q17
    * (get_json_object) and q42 (typed from_json).
    */
  private val SqlJsonAvgK =
    """SELECT event_type,
         round(avg(CAST(json_extract_string(props,'$.k') AS INT)),4) AS avg_k,
         count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type"""

  val all: Seq[Q] = Seq(
    // ---------------- §2.4 aggregations (A1/A2) ----------------
    Q("q01_pricing_summary", (s, dir) => {
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity),2) AS sum_qty,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_base_price,
         CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_disc_price,
         round(avg(l_quantity),4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),

    // ---------------- P3 threshold filter ----------------
    Q("q02_threshold_filter", (s, dir) => {
      RelOps.thresholdFilter(t(s, dir).lineitem, col("l_quantity"), 45.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          round(col("l_extendedprice"), 2).as("price"))
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity,
         round(l_extendedprice,2) AS price
         FROM lineitem WHERE l_quantity >= 45
         ORDER BY l_orderkey, l_linenumber"""),

    // ---------------- S2 search + relevance rank + O1/O2 ----------------
    Q("q03_search_rank", (s, dir) => {
      RelOps.topK(
        RelOps.search(t(s, dir).part, col("p_name"), "red"),
        10, Seq(col("p_retailprice").desc, col("p_partkey").asc))
        .select(col("p_partkey"), col("p_name"), round(col("p_retailprice"), 2).as("price"))
    },
      """SELECT p_partkey, p_name, round(p_retailprice,2) AS price
         FROM part WHERE lower(p_name) LIKE '%red%'
         ORDER BY p_retailprice DESC, p_partkey LIMIT 10"""),

    // ---------------- S3 point lookup ----------------
    Q("q04_point_lookup", (s, dir) => {
      t(s, dir).customer.filter(col("c_custkey") === 42)
        .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
    },
      """SELECT c_custkey, c_name, round(c_acctbal,2) AS acctbal
         FROM customer WHERE c_custkey = 42"""),

    // ---------------- S4 batch lookup via semi join ----------------
    Q("q05_batch_semi", (s, dir) => {
      val keys = t(s, dir).customer.filter(col("c_acctbal") > 9500)
        .select(col("c_custkey").as("o_custkey"))
      RelOps.semi(t(s, dir).orders, keys, Seq("o_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("total"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS total
         FROM orders WHERE o_custkey IN
           (SELECT c_custkey FROM customer WHERE c_acctbal > 9500)
         ORDER BY o_orderkey"""),

    // ---------------- P4 blocklist anti-filter ----------------
    Q("q06_blocklist", (s, dir) => {
      RelOps.blocklist(t(s, dir).customer, col("c_mktsegment"),
        Seq("AUTOMOBILE", "HOUSEHOLD"))
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_mktsegment NOT IN ('AUTOMOBILE','HOUSEHOLD')
         ORDER BY c_custkey"""),

    // ---------------- SO5 dedup keep-first (deterministic) ----------------
    Q("q07_first_order_per_cust", (s, dir) => {
      RelOps.dedupKeepFirst(t(s, dir).orders,
        Seq(col("o_custkey")), Seq(col("o_orderdate").asc, col("o_orderkey").asc))
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("timestamp").cast("long").as("first_ts"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey, o_orderkey,
         CAST(epoch(o_orderdate) AS BIGINT) AS first_ts
         FROM (SELECT *, row_number() OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
           FROM orders) WHERE rn = 1
         ORDER BY o_custkey"""),

    // ---------------- J1/J3 fan-out joins ----------------
    Q("q08_region_orders", (s, dir) => {
      val tt = t(s, dir)
      val (r, n) = (tt.region, tt.nation)
      val joined = r
        .join(n, n("n_regionkey") === r("r_regionkey"))
        .join(tt.customer, col("c_nationkey") === col("n_nationkey"))
        .join(tt.orders, col("o_custkey") === col("c_custkey"))
      joined.groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o_totalprice")).as("sum_total"))
        .orderBy("r_name")
    },
      """SELECT r_name, count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_total
         FROM region
         JOIN nation ON n_regionkey = r_regionkey
         JOIN customer ON c_nationkey = n_nationkey
         JOIN orders ON o_custkey = c_custkey
         GROUP BY r_name ORDER BY r_name"""),

    // ---------------- J11 join on differently-named keys ----------------
    Q("q09_brand_quantity", (s, dir) => {
      val tt = t(s, dir)
      tt.part.join(tt.lineitem, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n_lines"))
        .orderBy("p_brand")
    },
      """SELECT p_brand, round(sum(l_quantity),2) AS sum_qty,
         count(*) AS n_lines
         FROM part JOIN lineitem ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),

    // ---------------- SO1 set difference ----------------
    Q("q10_part_diff", (s, dir) => {
      val tt = t(s, dir)
      def partsOf(seg: String) = tt.lineitem
        .join(tt.orders, col("o_orderkey") === col("l_orderkey"))
        .join(tt.customer, col("c_custkey") === col("o_custkey"))
        .filter(col("c_mktsegment") === seg)
        .select(col("l_partkey").as("p_key")).distinct()
      partsOf("BUILDING").except(partsOf("MACHINERY")).orderBy("p_key")
    },
      """SELECT DISTINCT l_partkey AS p_key FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE c_mktsegment = 'BUILDING'
         EXCEPT
         SELECT DISTINCT l_partkey AS p_key FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE c_mktsegment = 'MACHINERY'
         ORDER BY p_key"""),

    // ---------------- SO2 set intersection ----------------
    Q("q11_part_intersect", (s, dir) => {
      val tt = t(s, dir)
      def partsOf(seg: String) = tt.lineitem
        .join(tt.orders, col("o_orderkey") === col("l_orderkey"))
        .join(tt.customer, col("c_custkey") === col("o_custkey"))
        .filter(col("c_mktsegment") === seg)
        .select(col("l_partkey").as("p_key")).distinct()
      partsOf("BUILDING").intersect(partsOf("MACHINERY")).orderBy("p_key")
    },
      """SELECT DISTINCT l_partkey AS p_key FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT DISTINCT l_partkey AS p_key FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         WHERE c_mktsegment = 'MACHINERY'
         ORDER BY p_key"""),

    // ---------------- A1/A2 count + count distinct ----------------
    Q("q12_distinct_counts", (s, dir) => {
      t(s, dir).lineitem.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(*) AS n,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---------------- A3 collect per group (sorted for determinism) ----------------
    Q("q13_collect_nations", (s, dir) => {
      val tt = t(s, dir)
      val joined = tt.customer.join(tt.nation, col("n_nationkey") === col("c_nationkey"))
      RelOps.collectPerGroup(joined, Seq(col("c_mktsegment")), col("n_name"), "nations_arr")
        .select(col("c_mktsegment"), array_join(col("nations_arr"), ",").as("nations"))
        .orderBy("c_mktsegment")
    },
      """SELECT c_mktsegment,
         string_agg(DISTINCT n_name, ',' ORDER BY n_name) AS nations
         FROM customer JOIN nation ON n_nationkey = c_nationkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    // ---------------- O2 top-1 global ----------------
    Q("q14_top_order", (s, dir) => {
      RelOps.topK(t(s, dir).orders, 1,
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("total"))
    },
      """SELECT o_orderkey, o_custkey, round(o_totalprice,2) AS total
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 1"""),

    // ---------------- O3 top-1 per group ----------------
    Q("q15_top_order_per_cust", (s, dir) => {
      RelOps.firstPerGroup(t(s, dir).orders, Seq(col("o_custkey")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("total"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS total
         FROM (SELECT *, row_number() OVER
             (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn = 1
         ORDER BY o_custkey"""),

    // ---------------- P10 coalesce fallback (null-producing left join) ----------------
    Q("q16_revenue_fallback", (s, dir) => {
      val tt = t(s, dir)
      val rev = tt.lineitem.filter(col("l_returnflag") === "R")
        .groupBy(col("l_partkey"))
        .agg(moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("r"))
      tt.part.join(rev, col("l_partkey") === col("p_partkey"), "left")
        .select(col("p_partkey"), coalesce(col("r"), lit(0.0)).as("returned_rev"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
         coalesce(r, 0.0) AS returned_rev
         FROM part LEFT JOIN
           (SELECT l_partkey,
              CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))),2) AS DOUBLE) AS r
            FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey) s
         ON s.l_partkey = p_partkey
         ORDER BY p_partkey"""),

    // ---------------- F4 JSON navigation ----------------
    Q("q17_json_extract", (s, dir) => {
      t(s, dir).events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(round(avg(col("k")), 4).as("avg_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }, SqlJsonAvgK),

    // ---------------- SO4 union-all accumulate ----------------
    Q("q18_union_status", (s, dir) => {
      val o = t(s, dir).orders
      val a = o.filter(col("o_totalprice") > 40000).select(col("o_orderstatus").as("status"))
      val b = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderstatus").as("status"))
      a.unionByName(b).groupBy(col("status")).agg(count(lit(1)).as("n")).orderBy("status")
    },
      """SELECT status, count(*) AS n FROM (
           SELECT o_orderstatus AS status FROM orders WHERE o_totalprice > 40000
           UNION ALL
           SELECT o_orderstatus AS status FROM orders WHERE o_orderpriority = '1-URGENT'
         ) GROUP BY status ORDER BY status"""),

    // ---------------- §2.8 window analytics (rank/lag/running sum) ----------------
    Q("q19_order_rank", (s, dir) => {
      val byPrice = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val byDate = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      t(s, dir).orders
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(byPrice).cast("long").as("price_rank"),
          lag(col("o_orderkey"), 1).over(byDate).as("prev_orderkey"),
          round(sum(col("o_totalprice")).over(
            byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
         rank() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
         lag(o_orderkey) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey"""),

    // ---------------- conditional agg / error rates ----------------
    Q("q38_error_rates", (s, dir) => {
      t(s, dir).events.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"),
          round(sum(when(col("event_type") === "error", 1).otherwise(0)).cast("double") /
            count(lit(1)).cast("double"), 4).as("error_rate"))
        .orderBy("user_id")
    },
      """SELECT user_id, count(*) AS n_events,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
         round(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*), 4) AS error_rate
         FROM events GROUP BY user_id ORDER BY user_id"""),

    // ---------------- SO5 on events: first event per (user, type) ----------------
    Q("q39_first_event", (s, dir) => {
      RelOps.dedupKeepFirst(t(s, dir).events,
        Seq(col("user_id"), col("event_type")),
        Seq(col("ts").asc, col("event_id").asc))
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy("user_id", "event_type")
    },
      """SELECT user_id, event_type, event_id
         FROM (SELECT *, row_number() OVER
             (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id, event_type"""),

    // ---------------- P1 nested struct/array round-trip ----------------
    // build array<struct> per customer, explode it back, re-aggregate:
    // must equal the direct aggregation (proves collect_list/struct/
    // explode navigation without needing nested source data)
    Q("q41_nested_roundtrip", (s, dir) => {
      val nested = t(s, dir).orders
        .groupBy(col("o_custkey"))
        .agg(collect_list(struct(col("o_orderkey"), col("o_totalprice"))).as("os"))
      nested.select(col("o_custkey"), explode(col("os")).as("o"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          moneySum(col("o.o_totalprice")).as("sum_total"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey, count(*) AS n_orders,
         CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_total
         FROM orders GROUP BY o_custkey ORDER BY o_custkey"""),

    // ---------------- S8 JSON decode via from_json (typed) ----------------
    Q("q42_from_json", (s, dir) => {
      t(s, dir).events
        .withColumn("j", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .groupBy(col("event_type"))
        .agg(round(avg(col("j.k")), 4).as("avg_k"), count(lit(1)).as("n"))
        .orderBy("event_type")
    }, SqlJsonAvgK),

    // ---------------- O4 pagination: page 2 by relevance ----------------
    // offset+limit (not a global row_number window): Spark plans this
    // as per-partition top-(offset+limit) + a driver-side merge of
    // offset+limit rows per partition — no single-partition sort of
    // the whole relation, so the page cost is O(page), not O(table).
    Q("q43_page2", (s, dir) => {
      t(s, dir).part
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        .offset(10).limit(10)
        .select(col("p_partkey"), col("p_name"), round(col("p_retailprice"), 2).as("price"))
    },
      """SELECT p_partkey, p_name, round(p_retailprice,2) AS price
         FROM part ORDER BY p_retailprice DESC, p_partkey
         LIMIT 10 OFFSET 10"""),

    // ---------------- F3 formatted output ----------------
    Q("q48_format", (s, dir) => {
      t(s, dir).supplier
        .select(col("s_suppkey"),
          format_string("%s | bal %.2f", col("s_name"), col("s_acctbal")).as("label"))
        .orderBy("s_suppkey")
    },
      """SELECT s_suppkey, printf('%s | bal %.2f', s_name, s_acctbal) AS label
         FROM supplier ORDER BY s_suppkey"""),

    // ---------------- rollup subtotals (north-star analytics) ----------------
    Q("q52_rollup", (s, dir) => {
      t(s, dir).lineitem
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))),2) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),

    // ---------------- min/max aggregates over numbers and timestamps ----------------
    Q("q53_minmax", (s, dir) => {
      val tt = t(s, dir)
      tt.part.join(tt.lineitem, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(min(col("p_retailprice")), 2).as("min_price"),
          round(max(col("p_retailprice")), 2).as("max_price"),
          min(col("l_shipdate").cast("timestamp").cast("long")).as("first_ship"),
          max(col("l_shipdate").cast("timestamp").cast("long")).as("last_ship"))
        .orderBy("p_brand")
    },
      """SELECT p_brand,
         round(min(p_retailprice),2) AS min_price,
         round(max(p_retailprice),2) AS max_price,
         CAST(epoch(min(l_shipdate)) AS BIGINT) AS first_ship,
         CAST(epoch(max(l_shipdate)) AS BIGINT) AS last_ship
         FROM part JOIN lineitem ON l_partkey = p_partkey
         GROUP BY p_brand ORDER BY p_brand"""),

    // ---------------- MapType navigation (KeyValue shape) ----------------
    Q("q54_map_props", (s, dir) => {
      t(s, dir).events
        .withColumn("m", from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,int>")))
        .select(col("event_id"), map_keys(col("m")).getItem(0).as("first_key"),
          element_at(col("m"), "k").as("k_value"))
        .orderBy("event_id")
    },
      """SELECT event_id, json_keys(props)[1] AS first_key,
         CAST(json_extract_string(props,'$.k') AS INT) AS k_value
         FROM events ORDER BY event_id"""),

    // ---------------- exact percentiles (linear interpolation) ----------------
    Q("q76_percentiles", (s, dir) => {
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(round(percentile(col("l_quantity"), lit(0.5)), 6).as("p50"),
          round(percentile(col("l_quantity"), lit(0.95)), 6).as("p95"),
          round(percentile(col("l_extendedprice"), lit(0.99)), 6).as("p99_price"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 6) AS p50,
         round(quantile_cont(l_quantity, 0.95), 6) AS p95,
         round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),

    // ---------------- CUBE subtotals (all grouping-set combinations) ----------------
    Q("q77_cube", (s, dir) => {
      t(s, dir).lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),

    // ---------------- pivot: long → wide reshape ----------------
    Q("q78_pivot", (s, dir) => {
      t(s, dir).events
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase"))
        .agg(count(lit(1)))
        .select(col("user_id"),
          coalesce(col("click"), lit(0L)).as("click"),
          coalesce(col("error"), lit(0L)).as("error"),
          coalesce(col("purchase"), lit(0L)).as("purchase"))
        .orderBy("user_id")
    },
      """SELECT user_id,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
         CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase
         FROM events GROUP BY user_id ORDER BY user_id"""),

    // ---------------- window frames: moving average + running total ----------------
    // Cents-exact: `value` is 2-decimal by construction, so summing
    // integer cents over the frames makes both window results
    // bit-identical on every engine (double accumulation would hash-
    // drift); the average divides the exact cents sum once at the end.
    Q("q81_moving_stats", (s, dir) => {
      val ev = t(s, dir).events
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      val order = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val w3 = order.rowsBetween(-2, 0)
      val run = order.rowsBetween(Window.unboundedPreceding, 0)
      ev.select(col("event_id"), col("user_id"),
          (floor(sum(col("cents")).over(w3) * lit(1e6) /
            (lit(100.0) * count(lit(1)).over(w3)) + lit(0.5)) / lit(1e6)).as("mavg3"),
          sum(col("cents")).over(run).as("run_cents"))
        .orderBy("event_id")
    },
      """WITH ev AS (
           SELECT event_id, user_id, ts,
             CAST(floor(value*100 + 0.5) AS BIGINT) AS cents FROM events)
         SELECT event_id, user_id,
           floor((sum(cents) OVER w) * 1e6
             / (100.0 * (count(*) OVER w)) + 0.5)/1e6 AS mavg3,
           CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS run_cents
         FROM ev
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY event_id"""),

    // ---------------- statistical aggregates: correlation / regression ----------------
    Q("q123_correlation", (s, dir) => {
      // price-vs-quantity association per return flag — corr, the OLS
      // slope, and stddev. Floating-point co-moment aggregates are NOT
      // order-independent (Spark merges partials in parallel, DuckDB
      // accumulates sequentially), so instead of corr()/regr_slope()
      // we aggregate EXACT second moments: quantity is integral and
      // extendedprice has exactly two decimals in this schema, so
      // unit/cent-scaled integers summed as DECIMAL(38,0) are exact and
      // order-independent in both engines. corr/slope/stddev are then a
      // single scalar expression over identical exact sums, rounded
      // once at output — the q84/q103 fixed-point convention applied to
      // second moments. (corr is scale-invariant; the cent scaling only
      // shows up as the /100 in the slope.)
      val d = DecimalType(28, 0)
      val m = t(s, dir).lineitem
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(d)).as("sx"),
          sum(col("y").cast(d)).as("sy"),
          sum((col("x") * col("y")).cast(d)).as("sxy"),
          sum((col("x") * col("x")).cast(d)).as("sxx"),
          sum((col("y") * col("y")).cast(d)).as("syy"))
      val nD  = col("n").cast(DecimalType(20, 0))
      val num = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
      val dxx = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
      val dyy = (nD * col("syy") - col("sy") * col("sy")).cast("double")
      // `+ 0` normalizes IEEE signed zero (-0.0 + 0 = +0.0): Spark's
      // Round (BigDecimal HALF_UP) drops the sign of a rounded-to-zero
      // negative, DuckDB's multiply-divide round keeps it — same `+ 0`
      // applied in the oracle SQL so both engines emit +0.0.
      m.select(col("l_returnflag"),
          (round(num / sqrt(dxx * dyy), 3) + lit(0d)).as("corr_qp"),
          (round(num / dxx / lit(100d), 3) + lit(0d)).as("slope"),
          (round(sqrt(dxx / (nD * (nD - 1)).cast("double")), 3) + lit(0d)).as("sd_qty"),
          col("n"))
        .orderBy("l_returnflag")
    },
      """WITH m AS (
           SELECT l_returnflag, count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS sx,
             sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS sy,
             sum(CAST(l_quantity AS BIGINT)
                 * CAST(round(l_extendedprice*100) AS BIGINT)) AS sxy,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
             sum(CAST(round(l_extendedprice*100) AS BIGINT)
                 * CAST(round(l_extendedprice*100) AS BIGINT)) AS syy
           FROM lineitem GROUP BY l_returnflag),
         d AS (
           SELECT l_returnflag, n,
             CAST(n*sxy - sx*sy AS DOUBLE) AS num,
             CAST(n*sxx - sx*sx AS DOUBLE) AS dxx,
             CAST(n*syy - sy*sy AS DOUBLE) AS dyy
           FROM m)
         SELECT l_returnflag,
           round(num / sqrt(dxx * dyy), 3) + 0 AS corr_qp,
           round(num / dxx / 100, 3) + 0 AS slope,
           round(sqrt(dxx / (CAST(n AS DOUBLE) * (n-1))), 3) + 0 AS sd_qty,
           n
         FROM d ORDER BY l_returnflag"""),

    // ---------------- string frontend: Graft.sql ----------------
    // The reference's entire user interface is a query STRING handed
    // to an engine (query_opentargets.py:4-16); these queries run
    // through `Graft.sql` — text in, DataFrame out, full Catalyst in
    // between. q127-q129 are written in the Spark∩DuckDB dialect so
    // the SAME text is its own oracle; q130 exercises a registered
    // native function (dot_product — VecExprs codegen kernel) whose
    // oracle twin is DuckDB's list_dot_product.
    Q("q127_sql_revenue", (s, dir) => Graft.sql(s, dir, SqlRevenueByNation),
      // string frontend: the SAME text Graft.sql runs (q130 swaps the
      // native dot_product for DuckDB's list_dot_product)
      SqlRevenueByNation),
    Q("q128_sql_search_topk", (s, dir) => Graft.sql(s, dir, SqlSearchTopK), SqlSearchTopK),
    Q("q129_sql_window", (s, dir) => Graft.sql(s, dir, SqlWindowTop2), SqlWindowTop2),
    Q("q130_sql_native_fn", (s, dir) => Graft.sql(s, dir,
      SqlNeighborDot("dot_product(a.embedding, b.embedding)")), SqlNeighborDot(
      "CAST(list_dot_product(a.embedding, b.embedding) AS DOUBLE)")),

    // ---------------- unpivot (wide → long reshaping) ----------------
    // the inverse of q78_pivot: stack() runs in-task inside the scan
    // stage (one generator, no shuffle, no N-scans-for-N-attributes
    // like the naive UNION ALL the oracle is written as)
    Q("q133_unpivot_part", (s, dir) =>
      t(s, dir).part
        .select(col("p_partkey"), expr(
          "stack(2, 'retailprice', p_retailprice, " +
            "'size', CAST(p_size AS DOUBLE)) AS (attr, val)"))
        .orderBy("p_partkey", "attr"),
      """SELECT p_partkey, attr, val FROM (
           SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part
           UNION ALL
           SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part)
         ORDER BY p_partkey, attr"""),

    // ---------------- percentile-rank feature normalization ----------------
    // Curriculum features: a doc's length percentile WITHIN its
    // language (percent_rank + cume_dist — exact rational arithmetic,
    // ties share values, no float-parity risk).
    Q("q143_percentile_norm", (s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      t(s, dir).documents
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, n_chars,
           round(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars), 6) AS pr,
           round(cume_dist() OVER (PARTITION BY lang ORDER BY n_chars), 6) AS cd
         FROM documents ORDER BY doc_id"""),

    // ---------------- join-skew diagnosis ----------------
    // "Which users would dominate an events⋈events self-join?" — the
    // planning query behind the AQE-vs-saltedJoin decision.
    Q("q147_join_skew", (s, dir) => {
      val ev = t(s, dir).events
      RelOps.joinSkewReport(
        ev.filter(col("event_type") === "click").select(col("user_id")),
        ev.filter(col("event_type") === "purchase").select(col("user_id")),
        "user_id", topN = 20)
    },
      """WITH lc AS (SELECT user_id, count(*) AS n_left FROM events
           WHERE event_type = 'click' GROUP BY 1),
         rc AS (SELECT user_id, count(*) AS n_right FROM events
           WHERE event_type = 'purchase' GROUP BY 1)
         SELECT coalesce(lc.user_id, rc.user_id) AS user_id,
           coalesce(n_left, 0) AS n_left, coalesce(n_right, 0) AS n_right,
           coalesce(n_left, 0) * coalesce(n_right, 0) AS n_out
         FROM lc FULL JOIN rc ON lc.user_id = rc.user_id
         ORDER BY n_out DESC, user_id LIMIT 20"""),

    // ---------------- arbitrary GROUPING SETS ----------------
    // q52/q77 cover ROLLUP and CUBE; this is the general form —
    // one dialect-common text both engines execute verbatim.
    Q("q175_grouping_sets", (s, dir) => Graft.sql(s, dir, SqlGroupingSets), SqlGroupingSets),
  )
}
