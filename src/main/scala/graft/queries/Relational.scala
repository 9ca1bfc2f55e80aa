package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** The relational query surface (SURVEY.md §2.2, §2.3, §2.6): core
  * transforms (filter/map/flat_map), key_by grouping, joins of every
  * flavor, analytic window functions, sorts/limits, set operations,
  * grouping sets, and the scalar-function library.
  *
  * The reference (cda-group/arcon) reaches these only through hand-written
  * stateful operators (`/root/reference/arcon/src/stream/operator/mod.rs:21-54`);
  * here they are declarative Catalyst plans: filters and projections push
  * into the parquet scan, aggregations run partial+final (map-side
  * combine), small dimension tables broadcast, and everything stays inside
  * whole-stage codegen — the properties that carry to a 1000-executor
  * 100 TB run.
  */
object Relational {

  lazy val queries: Seq[Query] = Seq(
    // T1 filter (arcon/src/dataflow/stream/filter.rs) — predicate pushed to
    // the parquet scan, row-group pruning at scale.
    Query("t1_filter", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") < 5 && col("l_discount") >= 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")),
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity < 5 AND l_discount >= 0.05""".stripMargin),

    // T2 map (arcon/src/dataflow/stream/map.rs) — 1→1 projection with
    // computed columns; column pruning keeps the scan at 6 columns.
    Query("t2_map", (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"),
        col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax"))).as("charge"),
        concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("flag_status"),
        year(col("l_shipdate")).cast("long").as("ship_year")),
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge,
        |  l_returnflag || '-' || l_linestatus AS flag_status,
        |  CAST(year(l_shipdate) AS BIGINT) AS ship_year
        |FROM lineitem""".stripMargin),

    // T3 map_in_place (arcon/src/dataflow/stream/map.rs:38) — the
    // type-preserving mutation variant, run through the actual Stream DSL
    // (typed Dataset map; exact double doubling so the oracle is
    // bit-identical).
    Query("t3_map_in_place", (s, d) => {
      val ds = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .as[(Long, Long, Double)](org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble))
      new graft.api.Stream(ds, graft.api.SourceConf[(Long, Long, Double)]())
        .mapInPlace(t => (t._1, t._2, t._3 * 2.0))
        .toDF.toDF("l_orderkey", "l_linenumber", "price2x")
    },
      """SELECT l_orderkey, l_linenumber, l_extendedprice * 2.0 AS price2x
        |FROM lineitem""".stripMargin),

    // T6 custom Operator (arcon/src/stream/operator/mod.rs:21-54), run
    // through the actual StatefulOperator DSL on the bounded replay path:
    // per-customer running sums in o_orderkey order (integer state so the
    // fold is order-exact vs the SQL window oracle).
    Query("t6_custom_operator", (s, d) => {
      import org.apache.spark.sql.Encoders
      val ds = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"))
        .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      val op = new graft.operators.StatefulOperator[Long, (Long, Long), (Long, Long), (Long, Long, Long, Long)] {
        def initialState: (Long, Long) = (0L, 0L)
        def handleElement(key: Long, e: (Long, Long), ts: Option[Long],
            state: (Long, Long), ctx: graft.operators.OperatorContext):
            ((Long, Long), Iterator[(Long, Long, Long, Long)]) = {
          val s2 = (state._1 + e._2, state._2 + 1L)
          (s2, Iterator((key, e._2, s2._1, s2._2)))
        }
      }
      new graft.api.Stream(ds, graft.api.SourceConf[(Long, Long)]())
        .withTimestampExtractor(_._2) // replay order = o_orderkey
        .keyBy(_._1)(Encoders.scalaLong)
        .operator(op)(
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
            Encoders.scalaLong, Encoders.scalaLong))
        .toDF.toDF("o_custkey", "o_orderkey", "running_keysum", "n_seen")
    },
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(o_orderkey) OVER w AS BIGINT) AS running_keysum,
        |  CAST(count(*) OVER w AS BIGINT) AS n_seen
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    // T6/W6 modern path: the same custom-operator contract but through
    // [[graft.api.KeyedStream.indexOperator]] — DECLARED state indexes
    // (arcon's ArconState layer) executed by transformWithState when
    // streaming and by per-key ordered replay here (bounded): a running
    // max + count per customer in o_orderkey order. Gives the
    // index/TWS path its own driver-checked correctness row, not just
    // unit tests.
    Query("t7_index_operator", (s, d) => {
      import org.apache.spark.sql.Encoders
      val ds = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .as[(Long, Long, Double)](Encoders.tuple(
          Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
      val op = new graft.operators.IndexOperator[Long, (Long, Long, Double), (Long, Long, Double, Long)] {
        @transient private var mx: graft.api.ValueIndex[Double] = _
        @transient private var n: graft.api.ValueIndex[Long] = _
        def open(state: graft.api.IndexState): Unit = {
          mx = state.value[Double]("mx")(Encoders.scalaDouble)
          n = state.value[Long]("n")(Encoders.scalaLong)
        }
        def handleElement(key: Long, e: (Long, Long, Double), ts: Option[Long],
            ctx: graft.operators.TimerContext): Iterator[(Long, Long, Double, Long)] = {
          val m2 = mx.rmw(e._3)(prev => math.max(prev, e._3))
          val n2 = n.rmw(0L)(_ + 1L)
          Iterator((key, e._2, m2, n2))
        }
      }
      new graft.api.Stream(ds, graft.api.SourceConf[(Long, Long, Double)]())
        .withTimestampExtractor(_._2) // replay order = o_orderkey
        .keyBy(_._1)(Encoders.scalaLong)
        .indexOperator(op)(Encoders.tuple(Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaLong))
        .toDF.toDF("o_custkey", "o_orderkey", "running_max", "n_seen")
    },
      """SELECT o_custkey, o_orderkey,
        |  max(o_totalprice) OVER w AS running_max,
        |  CAST(count(*) OVER w AS BIGINT) AS n_seen
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    // T4 flat_map (arcon/src/dataflow/stream/map.rs:50-55) — 1→N via
    // explode (a Generator: pipelined, no shuffle).
    Query("t4_flatmap", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token")),
      "SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents"),

    // P1 key_by + W7 ReducerState analog
    // (arcon/src/dataflow/stream/partition.rs:22-53): hash-partitioned
    // grouped aggregation with map-side partial aggregation.
    Query("p1_keyby_agg", (s, d) =>
      Tables.events(s, d).groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value")),
      """SELECT user_id, count(*) AS n_events, sum(value) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY user_id""".stripMargin),

    // W4/W7 IncrementalWindow/AggregatorState analog
    // (arcon/src/index/window/incremental.rs): TPC-H Q1 shape.
    Query("q1_agg", (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order")),
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // Joins (SURVEY §2.6 — absent in the reference, Spark built-ins).
    // Shuffled hash/sort-merge on the fact side; AQE picks at runtime.
    Query("j1_join_inner", (s, d) =>
      Tables.lineitem(s, d).join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items")),
      """SELECT o_orderpriority,
        |  sum(l_extendedprice * (1.0 - l_discount)) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),

    // Dimension join: part is small → explicit broadcast, no shuffle of
    // the fact table.
    Query("j2_join_broadcast", (s, d) =>
      Tables.lineitem(s, d).join(broadcast(Tables.part(s, d)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_items")),
      """SELECT p_brand, sum(l_quantity) AS sum_qty, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin),

    Query("j3_join_semi", (s, d) => {
      val big = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
        .select(col("l_orderkey"))
      Tables.orders(s, d).join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n_orders"))
    },
      """SELECT o_orderstatus, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderstatus""".stripMargin),

    Query("j4_join_anti", (s, d) =>
      Tables.customer(s, d).join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    Query("j5_join_left", (s, d) =>
      Tables.customer(s, d).join(Tables.orders(s, d),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice")), lit(0.0)).as("total_spent")),
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  coalesce(sum(o_totalprice), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin),

    Query("j6_join_full", (s, d) => {
      val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("nk_c"))
        .agg(count(lit(1)).as("n_cust"))
      val p = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nk_s"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(p, col("nk_c") === col("nk_s"), "full_outer")
        .select(coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
    },
      """SELECT coalesce(nk_c, nk_s) AS nationkey,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk_c, count(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk_s, count(*) AS n_supp FROM supplier GROUP BY 1) p
        |ON nk_c = nk_s""".stripMargin),

    // Analytic window functions (SURVEY §2.6).
    Query("a1_rank_topn", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),

    Query("a2_lag_lead", (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
    },
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin),

    // T5 stateful-map analog (arcon Map::stateful running aggregate,
    // examples/stateful.rs): deterministic running sum per key — a single
    // shuffle+sort, streams through the window operator at any scale.
    // One task per key: if a key goes hot at 100×, switch to the
    // bucketed two-phase form (graft.operators.ScalableWindows
    // .runningSum — equivalence-tested).
    Query("t5_stateful_running", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        sum(col("value")).over(w).as("running_value"),
        count(lit(1)).over(w).as("n_seen"))
    },
      """SELECT event_id, user_id,
        |  sum(value) OVER w AS running_value,
        |  count(*) OVER w AS n_seen
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),

    // Sort / limit / top-k (tie-broken for determinism).
    Query("o1_topk", (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // Set operations.
    Query("s1_union", (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct(),
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    Query("s2_intersect", (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))),
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    Query("s3_except", (s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))),
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey AS nationkey FROM supplier""".stripMargin),

    Query("d1_distinct", (s, d) =>
      Tables.customer(s, d).select(col("c_mktsegment"), col("c_nationkey")).distinct(),
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"),

    // Grouping sets.
    Query("g1_rollup", (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")),
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    Query("g2_cube", (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total")),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  sum(o_totalprice) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),

    // Explicit GROUPING SETS (the general form rollup/cube specialize).
    Query("g4_grouping_sets", (s, d) =>
      Tables.customer(s, d)
        .groupingSets(
          Seq(Seq(col("c_nationkey")), Seq(col("c_mktsegment"))),
          col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("c_acctbal")).as("total_bal")),
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |  sum(c_acctbal) AS total_bal
        |FROM customer
        |GROUP BY GROUPING SETS ((c_nationkey), (c_mktsegment))""".stripMargin),

    // Exact median WITHOUT interpolation arithmetic: the two middle
    // elements by (value, id) order, combined as (lo+hi)/2 — one add and
    // one divide, bit-identical cross-engine (odd groups give lo = hi).
    // One window sort per event_type (few, large groups — the two-phase
    // bucketed form is the hot-key escape hatch as everywhere).
    Query("o2_median", (s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      val n = Window.partitionBy(col("event_type"))
      Tables.events(s, d)
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(n))
        .filter(col("rn") === expr("(cnt + 1) div 2") ||
          col("rn") === expr("(cnt + 2) div 2")) // div: integer division
        .groupBy(col("event_type"))
        .agg(((min(col("value")) + max(col("value"))) / 2.0).as("median"),
          min(col("cnt")).as("n_events"))
    },
      """WITH t AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM events)
        |SELECT event_type, (min(value) + max(value)) / 2.0 AS median,
        |  CAST(min(cnt) AS BIGINT) AS n_events
        |FROM t WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        |GROUP BY event_type""".stripMargin),

    // Pivot (wide aggregation).
    Query("g3_pivot", (s, d) =>
      Tables.events(s, d).groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L),
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'view') AS view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id""".stripMargin),

    // Scalar function library (SURVEY §2.6): strings.
    Query("f1_string", (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_type"), 1, 5).as("type_prefix"),
        regexp_replace(col("p_brand"), "Brand", "B").as("brand_short"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        instr(col("p_name"), "a").cast("long").as("first_a")),
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  substring(p_type, 1, 5) AS type_prefix,
        |  regexp_replace(p_brand, 'Brand', 'B') AS brand_short,
        |  concat_ws('/', p_brand, p_type) AS brand_type,
        |  CAST(strpos(p_name, 'a') AS BIGINT) AS first_a
        |FROM part""".stripMargin),

    // Scalar: dates.
    Query("f2_date", (s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"),
        dayofmonth(col("o_orderdate")).cast("long").as("o_day"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
          .cast("long").as("days_since_95")),
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  CAST(day(o_orderdate) AS BIGINT) AS o_day,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since_95
        |FROM orders""".stripMargin),

    // Scalar: math.
    Query("f3_math", (s, d) =>
      Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("disc_dev"),
        ceil(col("l_extendedprice")).as("price_ceil"),
        floor(col("l_extendedprice")).as("price_floor"),
        sqrt(col("l_quantity")).as("qty_sqrt"),
        log(col("l_extendedprice")).as("price_ln"),
        pow(col("l_tax"), 2).as("tax_sq"),
        (col("l_orderkey") % 7).as("key_mod")),
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  sqrt(l_quantity) AS qty_sqrt,
        |  ln(l_extendedprice) AS price_ln,
        |  pow(l_tax, 2) AS tax_sq,
        |  l_orderkey % 7 AS key_mod
        |FROM lineitem""".stripMargin),

    // JSON extraction over the events props column.
    Query("f4_json", (s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k")),
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin),

    // Approximate distinct with a BOUNDED-ERROR contract instead of a
    // raw sketch count: HLL estimates are not cross-engine comparable
    // (Spark and DuckDB run different sketches), so the query emits the
    // exact count plus the boolean "the approx landed within 5% of it".
    // Both engines' sketches hold a ~2% standard error at this
    // cardinality, so the boolean is deterministically true on BOTH
    // sides and every column hash-matches — the approx path stays the
    // thing under test (it must actually land inside the bound), and
    // the oracle gap that stood since round 4 closes.
    Query("h1_approx_distinct", (s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"),
          approx_count_distinct(col("l_partkey")).as("approx"))
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("approx") - col("n_exact")).cast("double") /
            col("n_exact").cast("double") <= 0.05).as("within_5pct")),
      // DuckDB's own approx_count_distinct (a different HLL than Spark's)
      // satisfies the same 5% bound, so rows/schema/hash all match while
      // each engine's sketch is genuinely exercised.
      """SELECT l_returnflag, n_exact,
        |  abs(CAST(approx AS DOUBLE) - CAST(n_exact AS DOUBLE))
        |    / CAST(n_exact AS DOUBLE) <= 0.05 AS within_5pct
        |FROM (SELECT l_returnflag,
        |    count(DISTINCT l_partkey) AS n_exact,
        |    approx_count_distinct(l_partkey) AS approx
        |  FROM lineitem GROUP BY l_returnflag)""".stripMargin),

    Query("h2_count_distinct", (s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps")),
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Fixed-width histogram: bucket index by floor division (identical
    // IEEE op cross-engine), counts per (type, bucket) — one grouped
    // aggregation with map-side partials, the shape that survives 100×.
    Query("h3_histogram", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"),
          floor(col("value") / 10.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value")),
      """SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
        |  count(*) AS n, sum(value) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),

    // Sketch quantiles with a BOUNDED-RANK-ERROR contract (the h1
    // discipline): each engine runs its OWN single-pass mergeable
    // sketch (Spark: Greenwald-Khanna at accuracy 10⁴ → rank error
    // ≤ n/10⁴; DuckDB: t-digest), then certifies its estimate by the
    // estimate's EXACT rank — `count(x ≤ q̂)/n` must land within 1% of
    // the target percentile. Raw sketch outputs are not cross-engine
    // comparable (and GK's partial-merge order isn't even run-to-run
    // stable), but the certification boolean is deterministically true
    // on both sides, so every column hash-matches while the sketch
    // path stays the thing under test.
    //
    // This is the 100 TB quantile path: ONE pass, map-side sketch
    // partials merged at ~KB sizes — against which x14's exact banded
    // two-phase rank is the exact-answer alternative. The certify pass
    // joins 3 broadcast rows and re-aggregates; at scale you'd skip it
    // (the sketch bound is a theorem for GK) — it exists to make the
    // sketch's claim *checkable* by an engine-independent oracle.
    Query("h4_approx_quantile", (s, d) => {
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice"))
      val sk = li.groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"),
          array(ps.map(lit): _*), lit(10000)).as("qs"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          posexplode(col("qs")).as(Seq("pi", "qhat")))
      li.join(broadcast(sk), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"), col("pi"))
        .agg(first(col("n")).as("n"),
          sum(when(col("l_extendedprice") <= col("qhat"), 1L)
            .otherwise(0L)).as("n_le"))
        .select(col("l_returnflag"),
          element_at(array(ps.map(lit): _*), col("pi") + 1).as("p"),
          col("n"),
          (abs(col("n_le").cast("double") / col("n").cast("double") -
            element_at(array(ps.map(lit): _*), col("pi") + 1)) <= 0.01)
            .as("within_1pct_rank"))
    },
      // DuckDB's own t-digest sketch (approx_quantile), certified by the
      // same exact-rank band — both engines' estimates land within 1% of
      // target rank at this cardinality, so the booleans (and the exact
      // counts) hash-match while each engine genuinely runs its sketch.
      """WITH sk AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    [approx_quantile(l_extendedprice, 0.25),
        |     approx_quantile(l_extendedprice, 0.5),
        |     approx_quantile(l_extendedprice, 0.75),
        |     approx_quantile(l_extendedprice, 0.95)] AS qs
        |  FROM lineitem GROUP BY l_returnflag),
        |e AS (
        |  SELECT l_returnflag, n, t.pi AS pi, qs[t.pi + 1] AS qhat,
        |    [0.25, 0.5, 0.75, 0.95][t.pi + 1] AS p
        |  FROM sk CROSS JOIN range(4) AS t(pi))
        |SELECT li.l_returnflag, e.p, e.n,
        |  abs(CAST(count(CASE WHEN li.l_extendedprice <= e.qhat THEN 1 END)
        |      AS DOUBLE) / CAST(e.n AS DOUBLE) - e.p) <= 0.01
        |    AS within_1pct_rank
        |FROM lineitem li JOIN e ON li.l_returnflag = e.l_returnflag
        |GROUP BY li.l_returnflag, e.p, e.n, e.qhat""".stripMargin)
  )

}
